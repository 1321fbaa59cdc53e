"""Text-analysis operators: tokenization, quality scoring, language-ID,
fingerprinting.

Pure Column expressions — at 100 TB these run inside whole-stage codegen
over the parquet scan with no Python hop and no shuffle (all per-row).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(text: Column | str) -> Column:
    """Whitespace tokens (single-space split; use :func:`normalize_text`
    first for arbitrary whitespace)."""
    return F.split(_c(text), " ")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text)).cast("int")


#: Subword-ish lexer classes: word / number / single non-space symbol.
#: Deliberately lookahead-free and \s-free so java.util.regex (Spark) and
#: RE2 (DuckDB) tokenize identically.
BPE_ISH_PATTERN = "[A-Za-z]+|[0-9]+|[^ A-Za-z0-9]"


def bpe_ish_tokens(text: Column | str) -> Column:
    """BPE-style pre-tokenization (the word/number/punct split every BPE
    tokenizer applies before merges): one element per lexer match."""
    return F.regexp_extract_all(_c(text), F.lit(BPE_ISH_PATTERN), 0)


def bpe_ish_token_count(text: Column | str) -> Column:
    return F.size(bpe_ish_tokens(text)).cast("int")


def md5_hash32(col: Column | str) -> Column:
    """Portable 32-bit hash: first 8 hex chars of md5 as a BIGINT (the
    engine-wide hashing rule — a DuckDB oracle reproduces it exactly)."""
    return F.conv(F.substring(F.md5(_c(col)), 1, 8), 16, 10).cast("bigint")


def gram_strings(text: Column | str, k: int) -> Column:
    """Ordered, duplicate-preserving k-token grams as ARRAY<STRING> —
    element i IS the gram starting at token position i, so
    ``posexplode`` recovers positions for interval math.

    Lookahead-capture regex (`(?:^| )(?=(tok tok ...))`), the same
    codegen-resident construction as :func:`~...dedup.shingles` and
    :func:`winnow_fingerprints_df`.  On the single-space-normalized text
    the ``tokens()`` contract assumes, each gram string equals
    ``concat_ws(' ', tokens[i..i+k-1])`` exactly — the round-10 rewrite
    of the gram family swapped the per-position interpreted
    ``transform(sequence(...), element_at...)`` lambdas (measured
    ~35 µs/gram of pure HOF/eval overhead at sf0.1) for this form with
    hashing moved AFTER the explode into the codegen projection.
    Documents shorter than k tokens yield an empty array (no match has k
    tokens of lookahead), exactly like the former ``n >= k`` guard.
    """
    pat = "(?:^| )(?=(" + " ".join(["[^ ]+"] * k) + "))"
    return F.regexp_extract_all(_c(text), F.lit(pat), 1)


def md5_hash60(col: Column | str) -> Column:
    """Portable 60-bit hash (first 15 md5 hex chars): for operators where
    32-bit collision mass would corrupt the SIGNAL at corpus scale (e.g.
    duplicate-gram detection over ~2^40 distinct grams).  15 hex digits
    stay positive in a signed BIGINT in both engines."""
    return F.conv(F.substring(F.md5(_c(col)), 1, 15), 16, 10).cast("bigint")


#: Tiny English stopword core used by quality scoring / language-ID.
STOPWORDS_EN = ["the", "a", "an", "and", "of", "to", "in", "is", "it", "for"]
MARKERS_DE = ["der", "die", "das", "und", "ist", "ein", "mit", "nicht"]
MARKERS_ES = ["el", "la", "los", "las", "y", "es", "un", "con", "por"]


def _hits(toks: Column, words: list[str]) -> Column:
    wordset = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(wordset, t))).cast("int")


def quality_metrics(text: Column | str) -> Column:
    """STRUCT of cheap quality signals for corpus filtering:

    n_tokens, n_chars, avg_token_len, stopword_ratio, distinct_ratio
    (type-token ratio).  All doubles are derived with identical operand
    order in the oracle, so they hash-match.
    """
    t = _c(text)
    toks = tokens(t)
    n = F.size(toks)
    total_len = F.aggregate(
        toks, F.lit(0), lambda acc, x: acc + F.length(x)
    )
    return F.struct(
        n.cast("int").alias("n_tokens"),
        F.length(t).cast("int").alias("n_chars"),
        (total_len.cast("double") / n).alias("avg_token_len"),
        (_hits(toks, STOPWORDS_EN).cast("double") / n).alias("stopword_ratio"),
        (F.size(F.array_distinct(toks)).cast("double") / n).alias("distinct_ratio"),
    )


def lang_scores(text: Column | str) -> Column:
    """STRUCT of marker-word hit counts + predicted language.

    N-gram/marker heuristic language-ID: counts hits from small per-language
    marker sets and predicts the argmax (ties → 'en' > 'de' > 'es', then
    'unknown' when all zero).
    """
    toks = tokens(_c(text))
    en, de, es = (
        _hits(toks, STOPWORDS_EN),
        _hits(toks, MARKERS_DE),
        _hits(toks, MARKERS_ES),
    )
    predicted = (
        F.when((en >= de) & (en >= es) & (en > 0), F.lit("en"))
        .when((de >= es) & (de > 0), F.lit("de"))
        .when(es > 0, F.lit("es"))
        .otherwise(F.lit("unknown"))
    )
    return F.struct(
        en.alias("en_hits"),
        de.alias("de_hits"),
        es.alias("es_hits"),
        predicted.alias("predicted_lang"),
    )


#: PII patterns — deliberately lookahead-free and POSIX-class-free so
#: java.util.regex (Spark) and RE2 (DuckDB oracle) match identically.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\+[0-9][0-9 ()-]{6,}[0-9]"
PII_IPV4 = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"


def pii_counts(text: Column | str) -> Column:
    """STRUCT of per-document PII occurrence counts (emails, phones,
    IPv4s).  Counted BEFORE redaction; IPs are counted on the
    email-redacted form so dotted hostnames inside an address aren't
    double-counted."""
    t = _c(text)
    no_email = F.regexp_replace(t, PII_EMAIL, "<EMAIL>")
    return F.struct(
        F.regexp_count(t, F.lit(PII_EMAIL)).cast("int").alias("n_emails"),
        F.regexp_count(t, F.lit(PII_PHONE)).cast("int").alias("n_phones"),
        F.regexp_count(no_email, F.lit(PII_IPV4)).cast("int").alias("n_ips"),
    )


def redact_pii(text: Column | str) -> Column:
    """Replace emails / phone numbers / IPv4 addresses with typed
    placeholder tokens (the standard pre-training scrub).  Pure codegen
    regexp_replace chain — no Python hop, order matters (emails first so
    their dotted domains can't be half-eaten by the IP rule)."""
    t = _c(text)
    t = F.regexp_replace(t, PII_EMAIL, "<EMAIL>")
    t = F.regexp_replace(t, PII_PHONE, "<PHONE>")
    t = F.regexp_replace(t, PII_IPV4, "<IP>")
    return t


def normalize_text(text: Column | str) -> Column:
    """Lowercase, collapse all whitespace runs to single spaces, trim."""
    return F.lower(F.trim(F.regexp_replace(_c(text), r"\s+", " ")))


def fingerprint(text: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.

    Same role as a rolling-hash content fingerprint; md5 keeps it portable
    across engines (oracle reproduces it exactly).
    """
    return F.md5(normalize_text(text))


def repetition_metrics_df(
    docs,
    text_col: str = "text",
    id_col: str = "doc_id",
    doc_bi=None,
):
    """Gopher-style repetition signals per document (Rae et al. 2021 §A1.1
    uses duplicate-n-gram fractions as corpus-quality filters):

    - ``top_word_fraction``  — count of the most frequent token / n_tokens
      (high → boilerplate / keyword stuffing)
    - ``dup_bigram_fraction`` — 1 − distinct_bigrams / total_bigrams
      (high → repeated phrasing)

    Plan shape for 100 TB: bigram generation happens in the row-local
    expression (no shuffle), both token and bigram frequencies are plain
    two-level hash aggregations with map-side partials, and the two
    per-doc summaries meet in a single join keyed by doc id.  Shuffle
    volume is one row per *distinct* (doc, token) / (doc, bigram) — far
    below the exploded size on repetitive (i.e. interesting) documents.
    Docs with fewer than two tokens report zero bigrams and a 0.0
    duplicate fraction.

    ``doc_bi``: a caller holding the session-shared
    :func:`doc_bigram_counts_df` table passes it here and the bigram half
    collapses to one per-doc rollup of the already-counted distinct
    (doc, w1, w2, cnt) rows — the corpus bigram explode runs ONCE for
    every bigram consumer in the session instead of once per query.  On
    single-space-normalized text (the `tokens()` contract, pinned by
    test_gram_strings_tokens_contract_on_messy_whitespace) the split
    pairs are exactly the lookahead-regex grams, and tokens contain no
    spaces, so (w1, w2) ↔ "w1 w2" is a bijection and the per-doc
    sum/count are identical to the inline regex build.
    """
    from lab_flink_repository_analytics_spark.session import rebalance

    t = F.col(text_col)
    toks = tokens(t)
    # ordered bigrams WITH duplicates via lookahead-capture regex — each
    # space anchors one overlapping window; stays in codegen (the
    # interpreted transform(sequence(...)) lambda form is ~3× slower)
    bigrams = F.regexp_extract_all(t, F.lit("(?:^| )(?=([^ ]+ [^ ]+))"), 1)

    base = rebalance(docs)
    words = base.select(F.col(id_col).alias("id"), F.explode(toks).alias("word"))
    ws = (
        words.groupBy("id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("id")
        .agg(
            F.max("c").alias("top_word_cnt"),
            F.sum("c").alias("n_tokens"),
        )
    )
    if doc_bi is not None:
        bs = (
            doc_bi.filter(F.col("w1").isNotNull())
            .groupBy(F.col("doc_id").alias("id"))
            .agg(
                F.sum("cnt").alias("n_bigrams"),
                F.count(F.lit(1)).alias("n_distinct_bigrams"),
            )
        )
    else:
        bs = (
            base.select(F.col(id_col).alias("id"), F.explode(bigrams).alias("bg"))
            .groupBy("id", "bg")
            .agg(F.count(F.lit(1)).alias("c"))
            .groupBy("id")
            .agg(
                F.sum("c").alias("n_bigrams"),
                F.count(F.lit(1)).alias("n_distinct_bigrams"),
            )
        )
    joined = ws.join(bs, "id", "left")
    n_bigrams = F.coalesce(F.col("n_bigrams"), F.lit(0))
    n_dist = F.coalesce(F.col("n_distinct_bigrams"), F.lit(0))
    return joined.select(
        F.col("id").alias(id_col),
        F.col("n_tokens"),
        F.col("top_word_cnt"),
        (F.col("top_word_cnt").cast("double") / F.col("n_tokens")).alias(
            "top_word_fraction"
        ),
        n_bigrams.alias("n_bigrams"),
        n_dist.alias("n_distinct_bigrams"),
        F.when(n_bigrams > 0, F.lit(1.0) - n_dist.cast("double") / n_bigrams)
        .otherwise(F.lit(0.0))
        .alias("dup_bigram_fraction"),
    )


def winnow_fingerprints_df(
    docs,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
):
    """Winnowing fingerprint set (Schleimer/Wilkerson/Aiken), one row per
    doc with ``fps ARRAY<BIGINT>``: every window of ``w`` consecutive
    k-shingle hashes keeps its minimum, so two docs sharing a run of
    ``w+k-1`` tokens share a fingerprint.

    Plan: posexplode ordered shingles (tiny docs contribute the whole text
    as their one shingle) → hash each once in codegen → per-doc sliding
    ``min`` via a window function over one hash-partition-by-doc shuffle →
    collect the distinct minima (the groupBy reuses the window's
    partitioning, so no second exchange).  Shuffle volume is one long per
    shingle — no quadratic re-hashing anywhere.
    """
    from lab_flink_repository_analytics_spark.session import rebalance
    from pyspark.sql import Window

    t = F.col(text_col)
    # ordered, duplicate-preserving k-shingles via lookahead-capture regex
    # (codegen; see dedup.shingles) — winnowing needs positional order, so
    # no array_distinct here; tiny docs contribute the whole text
    pat = "(?:^| )(?=(" + " ".join(["[^ ]+"] * k) + "))"
    grams = F.regexp_extract_all(t, F.lit(pat), 1)
    g = F.when(F.size(grams) > 0, grams).otherwise(F.array(t))
    ex = (
        rebalance(docs)
        .select(F.col(id_col).alias("id"), F.posexplode(g).alias("pos", "gram"))
        .select("id", "pos", md5_hash32(F.col("gram")).alias("h"))
    )
    sliding = Window.partitionBy("id").orderBy("pos").rowsBetween(0, w - 1)
    per_doc = Window.partitionBy("id")
    wins = ex.select(
        "id",
        "pos",
        F.min("h").over(sliding).alias("m"),
        F.count(F.lit(1)).over(per_doc).alias("nh"),
    ).filter(F.col("pos") <= F.greatest(F.col("nh") - w, F.lit(0)))
    return wins.groupBy("id").agg(
        F.array_sort(F.collect_set("m")).alias("fps")
    ).select(F.col("id").alias(id_col), "fps")


def chunk_documents(
    docs,
    chunk_tokens: int = 64,
    overlap: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Fixed-window document chunking with overlap (the context-window
    prep step of every LLM training pipeline): token windows of
    ``chunk_tokens`` starting every ``chunk_tokens - overlap`` tokens,
    tail chunks clipped.

    Row-local plan: the start grid is a generated sequence over token
    count, the chunk text a slice+join per start — work is proportional
    to output chunks, no shuffle at all (chunking pipelines straight over
    the scan at 100 TB).
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    step = chunk_tokens - overlap
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(step))
    ex = docs.select(
        F.col(id_col),
        toks.alias("_toks"),
        n.alias("_n"),
        F.explode(starts).alias("_start"),
    )
    return ex.select(
        id_col,
        (F.col("_start") / step).cast("int").alias("chunk_index"),
        F.least(F.lit(chunk_tokens), F.col("_n") - F.col("_start")).alias(
            "n_chunk_tokens"
        ),
        F.array_join(
            F.slice(F.col("_toks"), F.col("_start") + 1, chunk_tokens), " "
        ).alias("chunk"),
    )


# ---------------------------------------------------------------------------
# Corpus-level boilerplate detection and self-LM scoring


def boilerplate_gram_stats_df(
    docs,
    k: int = 5,
    min_docs: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Per-document boilerplate exposure: the fraction of a doc's k-gram
    positions covered by grams that occur in ≥ ``min_docs`` DISTINCT
    documents (C4/CCNet-style boilerplate removal signal — navigation
    chrome, license blurbs, templated text).

    Scale shape: gram POSITIONS are pre-aggregated to (doc, gram,
    multiplicity) in the first shuffle; the document-frequency rollup
    (count per gram over the already-distinct pairs), the frequent-gram
    join, and the per-doc rollup all move distinct doc-grams, never raw
    positions.  At 100 TB the frequent-gram table is tiny (boilerplate is
    by definition heavy-tailed) and AQE broadcasts the join back, while
    the per-doc side never collects.  Output: (doc_id, n_grams,
    boiler_grams, boiler_frac).
    """
    from lab_flink_repository_analytics_spark.session import rebalance

    from pyspark import StorageLevel

    from lab_flink_repository_analytics_spark.session import persist_bounded

    # consumed twice (document-frequency rollup + the per-doc join) —
    # persist so the gram explode+hash pass runs once.  Grams come from
    # the codegen regex builder and are hashed AFTER the explode (one
    # md5 per gram occurrence, same as before, but in whole-stage
    # codegen instead of an interpreted per-position lambda — see
    # gram_strings).  explode_outer keeps gram-less docs as one NULL
    # row, exactly like the former empty-array branch.
    pairs = persist_bounded(
        rebalance(docs)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode_outer(gram_strings(text_col, k)).alias("s"),
        )
        .select("doc_id", md5_hash32(F.col("s")).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.when(F.col("g").isNotNull(), 1)).alias("cnt")),
        "text.boiler.pairs",
        StorageLevel.MEMORY_AND_DISK,
    )
    # corpus document-frequency per gram: pairs are already distinct per
    # doc, so one count per gram is "docs containing", not occurrences
    freq = (
        pairs.filter(F.col("g").isNotNull())
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_docs)
        .select("g", F.lit(True).alias("boiler"))
    )
    return (
        pairs.join(freq, "g", "left")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_grams"),
            F.sum(F.when(F.col("boiler"), F.col("cnt")).otherwise(0))
            .cast("bigint")
            .alias("boiler_grams"),
        )
        .withColumn(
            "boiler_frac",
            F.when(
                F.col("n_grams") > 0,
                F.round(F.col("boiler_grams") / F.col("n_grams"), 6),
            ).otherwise(F.lit(0.0)),
        )
    )


def doc_bigram_counts_df(docs, text_col: str = "text", id_col: str = "doc_id"):
    """Distinct doc-bigram multiplicities ``(doc_id, w1, w2, cnt)`` —
    the shared upstream of every bigram consumer (the bigram LM scorer,
    the repetition metrics).  Docs with < 2 tokens contribute ONE row
    with ``w1 = w2 = NULL`` (``explode_outer``) so scorers can left-join
    back without a separate doc scan.

    The counted table is hash-repartitioned by ``(w1, w2)`` before the
    caller persists it (round-11, guide §2.4): the LM's corpus bigram
    rollup (``groupBy(w1, w2)``), the model build on top of it, and the
    (w1, w2)-keyed scoring join all REUSE this one exchange instead of
    re-shuffling the distinct-bigram table once each — and inside one
    query execution the repeated consumers collapse to ReusedExchange.
    (w1, w2) rather than the w1 the verdict sketched: a single hot head
    TOKEN ("the") would own one partition at corpus scale, while the
    hottest bigram key is bounded by document frequency — the same key
    distribution the old per-consumer exchanges already had.  Positions
    are still pre-aggregated BEFORE this shuffle (map-side partials on
    (doc, w1, w2)), so the repartition moves distinct rows, not
    positions.
    """
    from lab_flink_repository_analytics_spark.session import rebalance

    # Tokens are STAGED into a column before the higher-order transform:
    # interpreted HOF lambdas get no CSE, so capturing the raw split()
    # expression would re-split the document once per element (twice —
    # both element_at calls).  With a bound column reference the split
    # runs once per row (executor CPU 12.7 → 9.7 s at sf0.1).
    toks = F.col("_toks")
    n = F.size(toks)
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(0), n - 2),
            lambda i: F.struct(
                F.element_at(toks, (i + 1).cast("int")).alias("w1"),
                F.element_at(toks, (i + 2).cast("int")).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    # Round-10 note: this site keeps the struct-transform form
    # DELIBERATELY — the gram_strings regex rewrite that won 2-9× for
    # k>=3 (where md5 consumes the concatenated gram anyway) measured
    # 1.23× SLOWER here at the sf1 replica, because for k=2 the regex
    # capture allocates a concatenated "w1 w2" string per position that
    # substring_index must then re-parse twice, while the struct form
    # reuses the token strings untouched.
    return (
        rebalance(docs)
        .select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("_toks"))
        .select(
            "doc_id",
            F.explode_outer(bigrams).alias("b"),
        )
        .select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        # positions → multiplicities: the ONLY stage that touches every
        # bigram occurrence; everything downstream moves distinct pairs
        .groupBy("doc_id", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .repartition("w1", "w2")
    )


def bigram_logprob_scores_df(
    docs,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: int = 1,
    head_k: int = 65536,
    doc_bi=None,
    doc_bi_count: int | None = None,
):
    """Self-perplexity proxy: score every document under a word-bigram LM
    fitted on the corpus itself (the KenLM-style quality signal of
    CCNet/DSIR, with the corpus as its own reference model).

    ``score = avg over bigrams of -ln P(w2 | w1)`` with add-``alpha``
    smoothing over the corpus vocabulary; lower = more typical text.

    Scale shape: exploded bigram POSITIONS are immediately pre-aggregated
    to (doc, w1, w2, multiplicity) — natural text repeats bigrams heavily,
    so every later stage (the corpus bigram counts derived by a second
    rollup of the same table, the model join keyed on the gram, the
    per-doc sum weighted by multiplicity) moves distinct doc-bigrams, not
    positions.  The count tables are NEVER collected or broadcast (at
    100 TB the bigram table is data-scale).  Per-log terms are summed in
    DECIMAL (nll × multiplicity is exact decimal×int) so the per-doc
    average is order-independent across partitions.  Output:
    (doc_id, n_bigrams, avg_neg_logprob).

    ``doc_bi``: a caller that already materialized
    :func:`doc_bigram_counts_df` (e.g. session-shared state also feeding
    the repetition metrics) passes it here to skip the build;
    ``doc_bi_count`` is its row count if the caller has it (skips the
    Zipf-gate count job).  The frame must be persisted (NOT
    localCheckpoint-ed — a checkpointed LogicalRDD reports
    UnknownPartitioning and the (w1, w2) co-partitioning is lost).
    """
    if doc_bi is None:
        from pyspark import StorageLevel

        from lab_flink_repository_analytics_spark.session import persist_bounded

        # consumed three times (corpus bigram counts, vocab size, per-doc
        # scoring join) — persist so the bigram explode pass runs once.
        doc_bi = persist_bounded(
            doc_bigram_counts_df(docs, text_col=text_col, id_col=id_col),
            "text.bigram.docbi",
            StorageLevel.MEMORY_AND_DISK,
        )

    bi_counts = (
        doc_bi.filter(F.col("w1").isNotNull())
        .groupBy("w1", "w2")
        .agg(F.sum("cnt").alias("c12"))
    )
    uni_counts = bi_counts.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = doc_bi.filter(F.col("w2").isNotNull()).agg(
        F.countDistinct("w2").alias("v")
    )
    model = bi_counts.join(uni_counts, "w1").crossJoin(F.broadcast(vocab)).select(
        "w1",
        "w2",
        "c12",
        (
            -F.log(
                (F.col("c12") + F.lit(alpha))
                / (F.col("c1") + F.lit(alpha) * F.col("v"))
            )
        ).alias("nll"),
    )
    # Zipf-skew hardening for the scoring join, gated on the materialized
    # doc-bigram cardinality (one count over the cache): when the distinct
    # doc-bigram table dwarfs ``head_k``, the hottest bigrams carry most
    # of the corpus mass, so the head of the model (top ``head_k`` by
    # corpus count — a BOUNDED set, broadcastable at any corpus size)
    # joins map-side and only head-misses go through the shuffled
    # (w1, w2)-keyed join, whose key distribution is now the tail — AQE's
    # skew splitting never has to chase the head keys at 100×.  Below the
    # gate the whole model fits a single healthy shuffle join and the
    # two-branch union would cost more than it saves.
    n_doc_bi = doc_bi_count if doc_bi_count is not None else doc_bi.count()
    if n_doc_bi > 32 * head_k:
        head = F.broadcast(
            model.orderBy(F.desc("c12"), "w1", "w2")
            .limit(head_k)
            .select("w1", "w2", F.col("nll").alias("nll_h"))
        )
        hit = doc_bi.join(head, ["w1", "w2"], "left")
        scored = hit.filter(F.col("nll_h").isNotNull()).select(
            "doc_id", "w1", "w2", "cnt", F.col("nll_h").alias("nll")
        ).unionByName(
            hit.filter(F.col("nll_h").isNull())
            .select("doc_id", "w1", "w2", "cnt")
            .join(model.select("w1", "w2", "nll"), ["w1", "w2"], "left")
            .select("doc_id", "w1", "w2", "cnt", "nll")
        )
    else:
        scored = doc_bi.join(model.select("w1", "w2", "nll"), ["w1", "w2"], "left")
    return (
        scored
        .groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("w1").isNotNull(), F.col("cnt")).otherwise(0))
            .cast("bigint")
            .alias("n_bigrams"),
            # nll < ~50 fits decimal(20,15); cnt as decimal(10,0) keeps the
            # product at precision 31 ≤ 38 — NO silent scale truncation, so
            # sum(nll_dec × cnt) exactly equals the oracle's per-position sum
            F.sum(
                F.col("nll").cast("decimal(20,15)")
                * F.col("cnt").cast("decimal(10,0)")
            ).alias("_s"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.when(
                F.col("n_bigrams") > 0,
                # cast the exact DECIMAL sum to double BEFORE dividing —
                # decimal/long division scale rules differ across engines,
                # double division does not
                F.round(F.col("_s").cast("double") / F.col("n_bigrams"), 6),
            )
            .otherwise(F.lit(None).cast("double"))
            .alias("avg_neg_logprob"),
        )
    )


# ---------------------------------------------------------------------------
# Exact duplicate-substring exposure (Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better": corpus substrings repeated
# verbatim are memorization fuel; the per-doc signal is the fraction of
# tokens covered by corpus-duplicated k-token grams)


def duplicate_span_stats_df(
    docs,
    k: int = 8,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Per-document duplicate-substring coverage: the fraction of a doc's
    tokens covered by k-token grams occurring ≥ ``min_count`` times in the
    whole corpus (self-counts included — a span pasted twice into one doc
    is exactly as memorizable as one shared across docs).

    The suffix-array span-merge of the paper collapses here to closed-form
    interval math: every duplicated gram covers ``[pos, pos+k)`` and all
    intervals share length k, so the merged union length is simply
    ``Σ min(k, next_pos − pos)`` over the per-doc sorted duplicated
    positions (+k for the last one) — one ``lead`` window, no interval
    sweep state.

    Duplicate detection keys on a 60-bit portable md5 hash of the gram
    (``md5_hash60``): at ~2^40 distinct grams (100 TB of text) a 32-bit
    key would mark nearly every gram as "duplicated" through collisions
    alone; 60 bits keeps expected collision mass negligible relative to
    the real duplicate signal (add a verify-stage string comparison on
    the surviving pairs if exactness to the last gram is required).

    Scale shape: gram positions are pre-aggregated to (doc, gram,
    positions[]) in the first shuffle, so the corpus-frequency rollup and
    the duplicated-gram join move one row per DISTINCT doc-gram, never raw
    positions; the ``lead`` window runs only over DUPLICATED positions
    (a small fraction of the corpus by construction — ``min_count`` prunes
    the unique long tail).  Output: (doc_id, n_tokens, dup_positions,
    dup_token_cov, dup_frac) for EVERY document (zeros when clean).
    """
    from pyspark.sql import Window

    from lab_flink_repository_analytics_spark.session import rebalance

    from pyspark import StorageLevel

    from lab_flink_repository_analytics_spark.session import persist_bounded

    # consumed twice (corpus-frequency rollup + the duplicated-position
    # join) — persist so the gram explode+hash pass runs once; data-scale
    # at 100 TB, so MEMORY_AND_DISK (spills, never recomputes).  Grams
    # come from the codegen regex builder — posexplode recovers the token
    # position (element i IS the gram at position i), and the 60-bit hash
    # runs AFTER the explode in whole-stage codegen instead of inside an
    # interpreted per-position lambda (see gram_strings).
    pairs = persist_bounded(
        rebalance(docs)
        .select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(gram_strings(text_col, k)).alias("pos", "s"),
        )
        .select(
            "doc_id",
            F.col("pos").cast("int").alias("pos"),
            md5_hash60(F.col("s")).alias("g"),
        )
        .groupBy("doc_id", "g")
        .agg(F.sort_array(F.collect_list("pos")).alias("poss")),
        "text.dupspan.pairs",
        StorageLevel.MEMORY_AND_DISK,
    )
    dupg = (
        pairs.groupBy("g")
        .agg(F.sum(F.size("poss")).alias("tot"))
        .filter(F.col("tot") >= min_count)
        .select("g")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    per = (
        pairs.join(dupg, "g")
        .select("doc_id", F.explode("poss").alias("pos"))
        .withColumn("nxt", F.lead("pos").over(w))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("dup_positions"),
            F.sum(
                F.coalesce(F.least(F.lit(k), F.col("nxt") - F.col("pos")), F.lit(k))
            )
            .cast("bigint")
            .alias("dup_token_cov"),
        )
    )
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.size(tokens(text_col)).cast("bigint").alias("n_tokens"),
        )
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("dup_positions"), F.lit(0)).cast("bigint").alias(
                "dup_positions"
            ),
            F.coalesce(F.col("dup_token_cov"), F.lit(0)).cast("bigint").alias(
                "dup_token_cov"
            ),
            F.when(
                F.coalesce(F.col("dup_token_cov"), F.lit(0)) > 0,
                F.round(
                    F.col("dup_token_cov") * F.lit(1.0) / F.col("n_tokens"), 6
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_frac"),
        )
    )
