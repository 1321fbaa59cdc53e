"""Deduplication operators: exact, MinHash(+LSH), SimHash, n-gram Jaccard.

Scale design (the point of these at 100 TB):

* **exact** — one hash-groupBy shuffle on the 32-hex fingerprint; map-side
  partial aggregation keeps shuffle volume ∝ distinct docs.
* **MinHash + LSH** — signatures are one shingle explode and one
  doc-keyed hash aggregation (N_PERMS longs shuffled per doc);
  candidate generation explodes each doc into ``n_bands`` band keys and
  self-joins on the band key, so the join is hash-partitioned by band
  bucket and never all-pairs.  Verification (exact Jaccard) runs only on
  candidates.
* **SimHash** — 32-bit signature from the same explode-and-aggregate
  plan; near-dup = same signature (or banded by signature prefix).
* **n-gram Jaccard** — exact verification metric; only ever applied to a
  blocked/candidate pair set, never the full cross product.

All hashing is md5-derived (``conv(substr(md5(x),1,8),16,10)``) so the
DuckDB oracle reproduces every signature bit-for-bit — no engine-private
hash functions in results.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lab_flink_repository_analytics_spark.datapipe.text import md5_hash32, tokens

# Fixed MinHash permutation parameters (a*h + b) mod P.  Literals, not
# runtime-random: signatures must be stable across runs and engines.
# P is the smallest prime > 2^32; a < 2^20 keeps a*h < 2^52 (no overflow).
MINHASH_A = [387143, 204881, 944207, 550057, 109297, 731611, 86293, 655379]
MINHASH_B = [95789, 41999, 779377, 317963, 212869, 127807, 509389, 683843]
MINHASH_P = 4294967311
N_PERMS = len(MINHASH_A)
LSH_BANDS = 4  # 4 bands x 2 rows over the 8-perm signature
SHINGLE_K = 3  # MinHash shingle words; the DuckDB oracles hard-code 3


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def exact_fingerprint(text: Column | str) -> Column:
    """Full md5 — the exact-dedup key."""
    return F.md5(_c(text))


def exact_dedup_summary(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group by content hash: keeper id (min) + copy count per fingerprint."""
    return (
        docs.groupBy(exact_fingerprint(text_col).alias("fp"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("copies"),
        )
    )


def shingles(text: Column | str, k: int = SHINGLE_K) -> Column:
    """Distinct k-word shingles; whole text when shorter than k tokens.

    Implementation: a lookahead-capture regex (`(?:^| )(?=(tok tok ...))`)
    matched with ``regexp_extract_all`` — each space anchors one
    overlapping window.  This stays inside whole-stage codegen and is ~3×
    faster than the equivalent interpreted ``transform(sequence(...))``
    higher-order lambda at corpus scale.  Identical to split-based
    shingling on the single-space-normalized text the ``tokens()``
    contract assumes (run ``normalize_text`` first for raw whitespace);
    the DuckDB oracles generate shingles by list-slicing and hash-match.
    """
    t = _c(text)
    pat = "(?:^| )(?=(" + " ".join(["[^ ]+"] * k) + "))"
    grams = F.array_distinct(F.regexp_extract_all(t, F.lit(pat), 1))
    return F.when(F.size(grams) > 0, grams).otherwise(F.array(t))


def minhash_signatures_df(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Table-scale MinHash: one row per doc with ``sig ARRAY<BIGINT>``.

    Plan shape for 100 TB: explode shingles (pipelined, no shuffle), hash
    them as flat codegen'd expressions, then a single hash-aggregation
    computes all N_PERMS mins with map-side partials — shuffle volume is
    N_PERMS longs per doc regardless of document size.
    """
    from lab_flink_repository_analytics_spark.session import rebalance

    sh = rebalance(docs).select(
        F.col(id_col).alias("id"), F.explode(shingles(text_col)).alias("s")
    )
    h = sh.select("id", md5_hash32(F.col("s")).alias("h"))
    mins = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"m{i}")
        for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    ]
    agg = h.groupBy("id").agg(*mins)
    return agg.select(
        F.col("id").alias(id_col),
        F.array(*[F.col(f"m{i}") for i in range(N_PERMS)]).alias("sig"),
    )


def minhash_band_keys(sig: Column) -> Column:
    """ARRAY<STRING> of LSH band keys: band index + its signature slice."""
    rows_per_band = N_PERMS // LSH_BANDS
    keys = []
    for b in range(LSH_BANDS):
        parts = [F.lit(str(b))] + [
            F.element_at(sig, b * rows_per_band + r + 1).cast("string")
            for r in range(rows_per_band)
        ]
        keys.append(F.concat_ws(":", *parts))
    return F.array(*keys)


def near_dup_candidates(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Candidate near-duplicate pairs via MinHash-LSH banding.

    Plan: per-row signature → explode band keys → self-join on band key
    (shuffle hash-partitioned by bucket) → distinct pairs.  Never computes
    the full cross product; skew-prone giant buckets are handled by AQE
    skew-join at runtime.
    """
    sigs = minhash_signatures_df(docs, text_col, id_col).select(
        F.col(id_col).alias("id"), "sig"
    )
    banded = sigs.select(
        "id", F.explode(minhash_band_keys(F.col("sig"))).alias("band_key")
    )
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(right, on="band_key")
        .filter(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )


def simhash_signatures_df(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Table-scale SimHash: explode tokens → codegen'd hash → one
    hash-aggregation with 32 per-bit sums (same plan family as
    :func:`minhash_signatures_df`).

    bit_i(simhash) = majority of ±1 votes over the distinct tokens'
    hashes (bit i set → +1), set when the vote sum is > 0, so ties
    give 0."""
    from lab_flink_repository_analytics_spark.session import rebalance

    toks = rebalance(docs).select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(tokens(text_col))).alias("tok"),
    )
    h = toks.select("id", md5_hash32(F.col("tok")).alias("h"))
    # set-bit counts, not ±1 votes: sum(h>>i & 1) is a branch-free bitwise
    # expression, and "majority of +1/-1 votes > 0" ⇔ "2·set_count > n".
    # Both 32-term chains build as single expr strings (round-10): the
    # former per-bit Column loops cost ~300 py4j round-trips of pure
    # driver chatter per query build; the parsed trees are identical.
    sums = [
        F.expr(f"sum(shiftright(h, {i}) & 1)").alias(f"b{i}") for i in range(32)
    ]
    agg = h.groupBy("id").agg(F.count(F.lit(1)).alias("n"), *sums)
    sim_text = " + ".join(
        f"(CASE WHEN b{i} * 2 > n THEN CAST({1 << i} AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END)"
        for i in range(32)
    )
    return agg.select(
        F.col("id").alias(id_col),
        F.expr(f"CAST(0 AS BIGINT) + {sim_text}").alias("simhash"),
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    block_cols: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    min_jaccard: float = 0.0,
) -> DataFrame:
    """Exact token-Jaccard for every doc pair within a blocking key.

    Blocking keeps this quadratic only inside each block — callers choose
    block columns so blocks stay small (or feed LSH candidates instead).
    """
    from lab_flink_repository_analytics_spark.session import rebalance

    # tokenize once per doc BEFORE the self-join — token arrays are computed
    # O(docs) times instead of O(pairs) times; the set size is staged
    # alongside so the union size is per-pair ARITHMETIC, not a second
    # per-pair array materialization: |A∪B| = |A| + |B| − |A∩B| exactly
    # (both sides are distinct arrays), so the jaccard double is
    # bit-identical to the array_union form
    sel = rebalance(docs).select(
        F.col(id_col).alias("id"),
        F.array_distinct(tokens(text_col)).alias("toks"),
        *block_cols,
    )
    sel = sel.select("*", F.size("toks").alias("nt"))
    left, right = sel.alias("l"), sel.alias("r")
    cond = [F.col(f"l.{c}") == F.col(f"r.{c}") for c in block_cols] + [
        F.col("l.id") < F.col("r.id")
    ]
    joined = left.join(right, on=cond)
    inter = F.size(F.array_intersect(F.col("l.toks"), F.col("r.toks")))
    union = F.col("l.nt") + F.col("r.nt") - inter
    jaccard = inter.cast("double") / union
    if min_jaccard > 0.0:
        # size-ratio precondition: J = |∩|/|∪| ≤ min(n)/max(n), so a pair
        # whose set sizes differ by more than the threshold ratio can
        # never qualify.  Wrapping the jaccard in the guard (instead of
        # appending a separate conjunct) makes the O(tokens) intersect
        # CONDITIONAL on the cheap size check — as a separate join
        # conjunct Catalyst ordered it after the pushed-down jaccard
        # predicate, which defeated the short-circuit.  Guarded-NULL rows
        # are exactly the rows the ≥ τ filter drops, so the surviving
        # pair set and values are unchanged.  The 1e-9 slack keeps the
        # guard strictly conservative under double rounding (a pair it
        # NULLs satisfies min/max < τ − 1e-9, hence jaccard < τ in both
        # real and double arithmetic).
        jaccard = F.when(
            F.least(F.col("l.nt"), F.col("r.nt")).cast("double")
            >= F.lit(min_jaccard - 1e-9)
            * F.greatest(F.col("l.nt"), F.col("r.nt")),
            jaccard,
        )
    return (
        joined.select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            jaccard.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


def embedding_near_dup_pairs(
    emb: DataFrame,
    block_cols: list[str],
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    dim: int,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within a blocking key.

    The semantic-dedup counterpart of :func:`ngram_jaccard_pairs`: pairs
    whose embedding cosine ≥ ``threshold``, quadratic only inside each
    block (a cluster id, LSH bucket — see ``similarity.lsh_bucket`` — or
    any partition column).  The join is hash-partitioned on the block key,
    never all-pairs; norms are computed once per row before the join.

    ``dim`` is the (constant) embedding width of the caller's table
    contract, so building the call is a LAZY plan with no width probe.
    The contract is enforced by a cheap PRE-join row filter
    (``size(v) == dim``, pushed toward the scan): a mismatched-width row
    drops with all its pairs, and every surviving row is exactly ``dim``
    wide, so the unrolled ``flat_dot`` (GetArrayItem, which throws on
    out-of-bounds under ANSI) can never see a short array.  On
    contract-conforming data the filter is a no-op: values and hashes
    unchanged.

    Plan notes, measured at the /tmp/scale replicas (round 9):

    * The pair cosine is the codegen-unrolled ``similarity.flat_dot``
      with ``parts=similarity.COSINE_SPLIT_PARTS`` (8): the
      split-partials order — 8 left-associated partial sums combined
      left-associatively.  This
      is a deterministic but DIFFERENT IEEE order from the fold, so the
      oracle mirrors it with explicit per-term SQL
      (``suite._dot_split_sql``).  Round-10 cold fresh-JVM measurements
      (BENCH_EMB_FORMS_r10.json): parity with the flat chain under
      broadcast, ~4% faster under sort-merge at sf1, ~14% faster at
      sf0.1, never slower — and the Add spine drops from dim-deep to
      ~dim/8-deep, which keeps driver planning flat if dim grows.  The
      zip_with/aggregate fold evaluated through the interpreted
      HigherOrderFunction path (ZipWith.eval) wherever it landed in a
      join condition and never finished a rep at the 100× replica
      (round 8).
    * The threshold filter must NOT reach the join: under the
      sort-merge regime (build side above the broadcast threshold —
      the 100-TB regime) a pushed predicate becomes ONE generated
      method that cannot split the unrolled chain, degrading to
      interpreted eval.  The pin is an ADDITIVE nondeterministic zero —
      ``cos + (CASE WHEN monotonically_increasing_id() >= 0 THEN 0.0
      END)`` — which blocks predicate pushdown through the projection
      (any nondeterministic project expression does) while leaving the
      heavy chain a PLAIN top-level expression that whole-stage codegen
      can split across methods.  Wrapping the chain in the CASE WHEN
      branch instead (the round-8 form) makes it unsplittable there
      too: measured 14.3–65.7s vs 2.4s at the 10× replica for the same
      query.  ``x + 0.0 == x`` for every IEEE double except ``-0.0``
      (which becomes ``+0.0``) — unreachable here because a ``-0.0``
      cosine cannot pass a positive threshold, and both engines would
      round-trip ``0.0`` identically anyway.
    """
    from lab_flink_repository_analytics_spark.datapipe import similarity as SIM
    from lab_flink_repository_analytics_spark.session import rebalance

    p = SIM.COSINE_SPLIT_PARTS
    emb = emb.filter(F.size(vec_col) == F.lit(dim))  # width contract
    nrm = F.sqrt(SIM.flat_dot(vec_col, vec_col, dim, parts=p))
    sel = rebalance(emb).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        nrm.alias("nrm"),
        *block_cols,
    )
    left, right = sel.alias("l"), sel.alias("r")
    cond = [F.col(f"l.{c}") == F.col(f"r.{c}") for c in block_cols] + [
        F.col("l.id") < F.col("r.id")
    ]
    # string names → flat_dot's one-parse expr construction path
    dot_lr = SIM.flat_dot("l.v", "r.v", dim, parts=p)
    cos = dot_lr / (F.col("l.nrm") * F.col("r.nrm"))
    # additive nondeterministic-zero pin — see the docstring's plan notes
    pin = F.when(F.monotonically_increasing_id() >= 0, F.lit(0.0))
    return (
        left.join(right, on=cond)
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.round(cos + pin, 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def windowed_dedup(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    window: str = "1 hour",
    order_col: str | None = None,
) -> DataFrame:
    """Batch windowed deduplication: keep the FIRST row per key per
    tumbling time window (the batch twin of streaming
    ``dropDuplicatesWithinWatermark`` / Flink's first-row dedup).

    "First" = smallest (``ts_col``, ``order_col``) in the window — pass an
    id as ``order_col`` to break timestamp ties deterministically.  Plan:
    one hash exchange on (window, keys) + a partial ``WindowGroupLimit``
    below it (Catalyst prunes each map side to 1 row per group before the
    shuffle), so shuffle volume is one row per (key, window) per map
    partition, not the raw stream.
    """
    from pyspark.sql import Window as W

    win = F.window(F.col(ts_col), window)
    order = [F.col(ts_col)] + ([F.col(order_col)] if order_col else [])
    w = W.partitionBy(win, *[F.col(c) for c in key_cols]).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
