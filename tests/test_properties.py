"""Property-based tests (hypothesis) for the function library.

The reference has none (SURVEY.md §5 "not present"); these go beyond its
golden vectors to pin invariants of our Column-expression implementations.
To keep Spark round-trips cheap, each property batches all hypothesis
examples into ONE DataFrame per test via a collecting strategy run.
"""

from __future__ import annotations

import hashlib
import re

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from lab_flink_repository_analytics_spark import patterns
from lab_flink_repository_analytics_spark.datapipe import text as TX
from lab_flink_repository_analytics_spark.functions import scalar as SC

# pure-Python mirrors of the expression semantics (java.util.regex and
# python re agree on these constructs)

_SUBJECTS = st.text(
    alphabet=st.characters(codec="ascii", exclude_characters="\x00"),
    max_size=60,
)


@settings(max_examples=200, deadline=None)
@given(_SUBJECTS)
def test_normalize_email_thread_idempotent_py(subject):
    """Stripping reply prefixes is idempotent (pure-regex property)."""
    # \z is Java-regex absolute-end; Python's spelling is \Z
    pat = re.compile(patterns.EMAIL_SUBJECT_THREAD_PATTERN.replace(r"\z", r"\Z"))

    def norm(s):
        m = pat.match(s)
        return m.group(1) if m else None

    once = norm(subject)
    if once is not None:
        twice = norm(once)
        # a normalized subject that still starts with Re:/AW: was quoted
        # content, not a prefix — stripping again must still converge
        assert twice is not None
        assert norm(twice) == twice


@settings(max_examples=200, deadline=None)
@given(
    st.text(alphabet=st.characters(codec="ascii", exclude_characters="\x00@"), min_size=1, max_size=20),
    st.text(alphabet=st.sampled_from("abcdef.xyz"), min_size=1, max_size=15),
)
def test_obfuscate_email_properties_py(local, domain):
    """Obfuscate keeps the domain, hides the local part behind 6 hex chars
    (pure mirror of the expression: concat(substr(md5(local),1,6),@,dom))."""
    email = f"{local}@{domain}"
    expect = hashlib.md5(local.encode()).hexdigest()[:6] + "@" + domain
    # mirrored expression semantics (split('@', 2))
    parts = email.split("@", 1)
    got = hashlib.md5(parts[0].encode()).hexdigest()[:6] + "@" + parts[1]
    assert got == expect
    assert got.endswith("@" + domain)


def test_obfuscate_spark_matches_python_mirror(spark):
    """The Spark expression agrees with the pure-Python mirror on a corpus
    of tricky emails (multi-@, unicode local, empty local)."""
    cases = [
        "john@test.com",
        "a@b@c.org",  # reference splits on the FIRST @ (split limit 2)
        "üñicode@dom.io",
        "@nodomain",
        "noat",
        "x@",
    ]
    df = spark.createDataFrame([(c,) for c in cases], "email: string")
    got = {
        r["email"]: r["ob"]
        for r in df.select("email", SC.obfuscate("email").alias("ob")).collect()
    }
    for c in cases:
        if "@" in c:
            local, _, rest = c.partition("@")
            expect = hashlib.md5(local.encode()).hexdigest()[:6] + "@" + rest
        else:
            # md5Short for plain strings too (ref Obfuscate.java:33-36)
            expect = hashlib.md5(c.encode()).hexdigest()[:6]
        assert got[c] == expect, c


@settings(max_examples=100, deadline=None)
@given(st.lists(st.sampled_from(["alpha", "beta", "gamma", "Re:", "the"]), max_size=12))
def test_token_count_matches_split_py(words):
    """token_count semantics: whitespace-split non-empty count (pure)."""
    s = " ".join(words)
    expect = len([w for w in s.split(" ") if w]) if s else 0
    assert len([t for t in s.split(" ") if t]) == expect


def test_jaccard_bounds_and_self_similarity(spark):
    """0 ≤ jaccard ≤ 1, self-similarity = 1 for non-empty docs."""
    texts = ["a b c", "c b a", "a a a", "x", "a b c d e f g"]
    n = len(texts)
    # every text twice: doc i and its copy i + n
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts + texts)], "id: int, text: string"
    )
    from lab_flink_repository_analytics_spark.datapipe import dedup as DD

    pairs = DD.ngram_jaccard_pairs(
        df.withColumn("blk", F.lit(1)), ["blk"], id_col="id"
    ).collect()
    assert all(0.0 <= r["jaccard"] <= 1.0 for r in pairs)
    m = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert all(m[(i, i + n)] == 1.0 for i in range(n))
    # order-insensitivity: "a b c" vs "c b a" are token-identical
    assert m[(0, 1)] == 1.0


def test_minhash_containment(spark):
    """Signature entries of a doc are a subset relation: identical docs →
    identical signatures; disjoint docs → (overwhelmingly) different."""
    from lab_flink_repository_analytics_spark.datapipe import dedup as DD

    df = spark.createDataFrame(
        [
            (1, "w1 w2 w3 w4 w5 w6"),
            (2, "w1 w2 w3 w4 w5 w6"),
            (3, "z1 z2 z3 z4 z5 z6"),
        ],
        "doc_id: int, text: string",
    )
    sigs = {r["doc_id"]: r["sig"] for r in DD.minhash_signatures_df(df).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]


def test_component_pattern_prefix_free(spark):
    """get_source_component on a matched path returns a prefix of the path
    or a known special-case directory — never something longer."""
    paths = [
        "flink-core/src/main/java/X.java",
        "flink-table/flink-sql-client/src/A.java",
        "docs/content/x.md",
        "tools/ci/run.sh",
        "flink-python/pyflink/a.py",
        "LICENSE",
        "flink-end-to-end-tests/run-nightly.sh",
    ]
    df = spark.createDataFrame([(p,) for p in paths], "filename: string")
    got = {
        r["filename"]: r["c"]
        for r in df.select(
            "filename", SC.get_source_component("filename").alias("c")
        ).collect()
    }
    for p, c in got.items():
        if c is not None:
            assert p.startswith(c) or c in ("docs",), (p, c)


def test_asof_join_matches_pandas_merge_asof_on_random_data(spark):
    """Adversarial temporal-join check: asof_join (union + carry-forward
    window) must reproduce pandas merge_asof exactly on randomized keyed
    series — one Spark round-trip over a batch of seeded cases."""
    import random

    import pandas as pd

    from lab_flink_repository_analytics_spark.datapipe.joins import asof_join

    rng = random.Random(42)
    base = pd.Timestamp("2024-01-01")
    lefts, rights = [], []
    for case in range(20):
        k = case  # one key per case keeps pandas/groupwise semantics simple
        for _ in range(rng.randrange(1, 10)):
            lefts.append((k, base + pd.Timedelta(seconds=rng.randrange(0, 3600)), float(rng.randrange(100))))
        for _ in range(rng.randrange(0, 10)):
            rights.append((k, base + pd.Timedelta(seconds=rng.randrange(0, 3600)), float(rng.randrange(100))))
    lp = pd.DataFrame(lefts, columns=["k", "ts", "lv"]).drop_duplicates(["k", "ts"])
    rp = pd.DataFrame(rights, columns=["k", "ts", "rv"]).drop_duplicates(["k", "ts"])

    want = pd.merge_asof(
        lp.sort_values("ts"), rp.sort_values("ts"), on="ts", by="k",
        direction="backward",
    )
    want_map = {
        (int(r.k), r.ts.to_pydatetime()): (None if pd.isna(r.rv) else r.rv)
        for r in want.itertuples()
    }

    ldf = spark.createDataFrame(lp, "k long, ts timestamp, lv double")
    rdf = spark.createDataFrame(rp, "k long, ts timestamp, rv double")
    got = {
        (r["k"], r["ts"]): r["r_rv"]
        for r in asof_join(ldf, rdf, on="k", payload=["rv"]).collect()
    }
    assert got == want_map


def test_chunking_reconstructs_document(spark):
    """Every chunk with its overlap trimmed concatenates back to the
    original document — no token lost or duplicated — on randomized docs."""
    import random

    rng = random.Random(7)
    rows = [
        (i, " ".join(f"t{rng.randrange(50)}" for _ in range(rng.randrange(1, 40))))
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "doc_id: int, text: string")
    chunk_tokens, overlap = 10, 3
    step = chunk_tokens - overlap
    out = TX.chunk_documents(df, chunk_tokens=chunk_tokens, overlap=overlap).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append((r["chunk_index"], r["chunk"]))
    for doc_id, text in rows:
        rebuilt: list[str] = []
        for idx, chunk in sorted(by_doc[doc_id]):
            start = idx * step
            toks = chunk.split(" ")
            shared = len(rebuilt) - start  # tokens this chunk re-covers
            assert shared >= 0
            assert toks[:shared] == rebuilt[start:]  # overlap region agrees
            rebuilt.extend(toks[shared:])
        assert " ".join(rebuilt) == text


def test_shingles_regex_equals_split_semantics(spark):
    """The lookahead-regex shingle implementation equals the split-based
    definition on single-space-normalized random token streams."""
    import random

    from lab_flink_repository_analytics_spark.datapipe import dedup as DD

    rng = random.Random(13)
    rows = [
        (i, " ".join(f"w{rng.randrange(9)}" for _ in range(rng.randrange(1, 15))))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id: int, text: string")
    for k in (2, 3, 5):
        got = {
            r["doc_id"]: sorted(r["g"])
            for r in df.select("doc_id", DD.shingles("text", k).alias("g")).collect()
        }
        for doc_id, text in rows:
            toks = text.split(" ")
            if len(toks) >= k:
                want = sorted({" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)})
            else:
                want = [text]
            assert got[doc_id] == want, (doc_id, k)


def _brute_skyline(points):
    """O(n²) dominance filter: (a, r) survives iff no q strictly beats both."""
    return sorted(
        (a, r)
        for (a, r) in points
        if not any(qa > a and qr > r for (qa, qr) in points)
    )


def test_skyline_matches_bruteforce_random(spark):
    """The sort-scan skyline equals the quadratic definition on random data
    with deliberate ties on both axes (small value domains)."""
    import random

    from lab_flink_repository_analytics_spark.queries import analytics_extra as AX
    import lab_flink_repository_analytics_spark.session as S

    rng = random.Random(42)
    for trial in range(4):
        pts = [(rng.randint(0, 12), rng.randint(0, 12)) for _ in range(40)]
        cust = spark.createDataFrame(
            [(i, float(a)) for i, (a, _) in enumerate(pts)],
            "c_custkey long, c_acctbal double",
        )
        orders = spark.createDataFrame(
            [(i, float(r)) for i, (_, r) in enumerate(pts)],
            "o_custkey long, o_totalprice double",
        )
        orig = S.load_tables
        try:
            AX.load_tables = lambda sp, sf: {"customer": cust, "orders": orders}
            got = sorted(
                (int(r["c_acctbal"]), int(r["revenue"]))
                for r in AX.customer_skyline(spark, "x").collect()
            )
        finally:
            AX.load_tables = orig
        assert got == _brute_skyline(pts), (trial, pts)


def _optimal_bins(sizes, cap):
    """Exact minimal bin count via bitmask DP (n ≤ 12)."""
    n = len(sizes)
    fits = []
    for mask in range(1 << n):
        tot = sum(sizes[i] for i in range(n) if mask >> i & 1)
        fits.append(tot <= cap)
    best = {0: 0}
    import heapq

    dist = [None] * (1 << n)
    dist[0] = 0
    q = [(0, 0)]
    while q:
        d, mask = heapq.heappop(q)
        if dist[mask] is not None and d > dist[mask]:
            continue
        if mask == (1 << n) - 1:
            return d
        free = [i for i in range(n) if not mask >> i & 1]
        first = free[0]
        # enumerate subsets of free items containing `first` that fit
        rest = free[1:]
        for sub_mask in range(1 << len(rest)):
            m = 1 << first
            for j, i in enumerate(rest):
                if sub_mask >> j & 1:
                    m |= 1 << i
            if fits[m]:
                nm = mask | m
                if dist[nm] is None or d + 1 < dist[nm]:
                    dist[nm] = d + 1
                    heapq.heappush(q, (d + 1, nm))
    raise AssertionError("unreachable")


def test_ffd_within_proved_bound_of_optimal(spark):
    """FFD uses at most 11/9·OPT + 1 bins — checked against the EXACT
    optimum (bitmask DP) on seeded random shards."""
    import math
    import random

    from lab_flink_repository_analytics_spark.datapipe import packing as P

    rng = random.Random(7)
    cap = 100
    rows = []
    shards = {}
    for s in range(6):
        sizes = [rng.randint(1, cap) for _ in range(rng.randint(4, 9))]
        shards[f"s{s}"] = sizes
        rows += [(f"s{s}", i, sz) for i, sz in enumerate(sizes)]
    df = spark.createDataFrame(rows, "lang string, doc_id long, n_tokens long")
    packed = P.first_fit_pack(df, cap)
    got = {}
    for r in packed.collect():
        got.setdefault(r["shard"], set()).add(r["bin"])
    for shard, sizes in shards.items():
        opt = _optimal_bins(sizes, cap)
        assert len(got[shard]) <= math.floor(11 / 9 * opt) + 1, (shard, sizes, opt)


def test_fuzzy_deletion_blocking_lossless_on_random_strings(spark):
    """Deletion-neighborhood blocking finds EXACTLY the same-length
    Levenshtein ≤ 1 pairs as the naive all-pairs scan, on adversarial
    random data (shared prefixes, duplicates, near-misses)."""
    import itertools
    import random

    from lab_flink_repository_analytics_spark.queries import analytics_extra as AX

    rng = random.Random(7)
    alphabet = "ab1"
    names = []
    for _ in range(80):
        base = "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 6)))
        names.append(base)
        if rng.random() < 0.5:  # planted near-dup: one substitution
            i = rng.randrange(len(base))
            names.append(base[:i] + rng.choice(alphabet) + base[i + 1 :])
    rows = [(i, n) for i, n in enumerate(names)]

    def lev1_same_len(a, b):
        return len(a) == len(b) and sum(x != y for x, y in zip(a, b)) <= 1

    expect = sorted(
        (i, j)
        for (i, a), (j, b) in itertools.combinations(rows, 2)
        if lev1_same_len(a, b)
    )
    df = spark.createDataFrame(rows, "k bigint, name string")
    keyed = df.select("k", "name", F.explode(AX._fuzzy_masked_keys("name")).alias("bk"))
    a = keyed.select(F.col("k").alias("k1"), F.col("name").alias("n1"), "bk")
    b = keyed.select(F.col("k").alias("k2"), F.col("name").alias("n2"), "bk")
    got = sorted(
        (r["k1"], r["k2"])
        for r in (
            a.join(b, "bk")
            .filter(F.col("k1") < F.col("k2"))
            .select("k1", "k2", "n1", "n2")
            .distinct()
            .filter(
                (F.levenshtein("n1", "n2") <= 1)
                & (F.length("n1") == F.length("n2"))
            )
            .collect()
        )
    )
    assert got == expect


def test_bigram_lm_multiplicity_form_matches_per_position(spark):
    """The (doc, w1, w2, cnt) pre-aggregated scoring must equal the naive
    per-position average on random repetitive docs."""
    import math
    import random

    rng = random.Random(11)
    vocab = ["a", "b", "c", "d"]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 30))))
        for i in range(25)
    ]
    # pure-python mirror: add-1 bigram LM over the same corpus
    bi, uni, vset = {}, {}, set()
    seqs = {}
    for i, t in docs:
        toks = t.split(" ")
        seqs[i] = toks
        for w1, w2 in zip(toks, toks[1:]):
            bi[(w1, w2)] = bi.get((w1, w2), 0) + 1
            uni[w1] = uni.get(w1, 0) + 1
            vset.add(w2)
    V = len(vset)
    expect = {}
    for i, toks in seqs.items():
        nlls = [
            -math.log((bi[(w1, w2)] + 1) / (uni[w1] + V))
            for w1, w2 in zip(toks, toks[1:])
        ]
        expect[i] = round(sum(nlls) / len(nlls), 6)
    got = {
        r["doc_id"]: r["avg_neg_logprob"]
        for r in TX.bigram_logprob_scores_df(
            spark.createDataFrame(docs, "doc_id bigint, text string")
        ).collect()
    }
    for i in expect:
        assert abs(got[i] - expect[i]) < 2e-6, (i, got[i], expect[i])


def test_semdedup_keep_rule_invariant(spark):
    """keep=False ⇔ some lower-id same-cluster vector has cosine ≥ τ —
    checked against a brute-force mirror on random vectors."""
    import math
    import random

    from lab_flink_repository_analytics_spark.datapipe import similarity as SIM

    rng = random.Random(3)
    rows = []
    for i in range(60):
        v = [rng.uniform(-1, 1) for _ in range(8)]
        rows.append((i, v, 0))
        if rng.random() < 0.3:  # planted near-dup (same direction, scaled)
            rows.append((len(rows) + 1000, [x * 2.0 for x in v], 0))
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>, label int")
    cents = SIM.sampled_centroids(emb, 4)
    got = {r["vec_id"]: (r["cluster_id"], r["keep"]) for r in SIM.semdedup(emb, cents, 0.8, dim=8).collect()}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb)

    by_id = {i: v for i, v, _ in rows}
    for i, (ci, keep) in got.items():
        mates = [j for j, (cj, _) in got.items() if cj == ci and j < i]
        expect_drop = any(round(cos(by_id[i], by_id[j]), 6) >= 0.8 for j in mates)
        assert keep == (not expect_drop), (i, keep, expect_drop)


@given(
    st.lists(
        st.tuples(st.integers(0, 600), st.sampled_from(["en", "fr"])),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=40, deadline=None)
def test_ffd_duckdb_fold_matches_python_first_fit(items):
    """The FFD_PACKING_SQL list_reduce fold must replay the exact greedy
    first-fit of datapipe/packing.py on ANY input — ties, capacity-exact
    fits, zero-length and oversize docs included.  Pure Python vs DuckDB
    (no Spark round-trip), capacity 256 like the suite query."""
    import duckdb

    cap = 256
    rows = [(i + 1, shard, size) for i, (size, shard) in enumerate(items)]

    # reference: the same algorithm first_fit_pack's pandas fold runs
    def py_bins(sizes_ids):
        remaining = []
        for size, _id in sorted(sizes_ids, key=lambda t: (-t[0], t[1])):
            if size > cap:
                remaining.append(0)
                continue
            for k, room in enumerate(remaining):
                if room >= size:
                    remaining[k] = room - size
                    break
            else:
                remaining.append(cap - size)
        return len(remaining)

    expect = {}
    for _id, shard, size in rows:
        expect.setdefault(shard, []).append((size, _id))
    expect = {s: py_bins(v) for s, v in expect.items()}

    con = duckdb.connect()
    con.sql("CREATE TABLE d (doc_id BIGINT, shard VARCHAR, n_tokens BIGINT)")
    con.executemany("INSERT INTO d VALUES (?, ?, ?)", rows)
    sql = f"""
    SELECT shard,
           CAST(len(list_reduce(
             list_prepend(CAST([] AS BIGINT[]),
               list_transform(list(n_tokens ORDER BY n_tokens DESC, doc_id ASC),
                              s -> [s])),
             (acc, x) -> CASE
               WHEN x[1] > {cap} THEN list_append(acc, CAST(0 AS BIGINT))
               WHEN coalesce(list_position(
                      list_transform(acc, r -> r >= x[1]), true), 0) = 0
                 THEN list_append(acc, CAST({cap} - x[1] AS BIGINT))
               ELSE list_transform(acc, (r, i) ->
                      CASE WHEN i = list_position(
                             list_transform(acc, rr -> rr >= x[1]), true)
                           THEN CAST(r - x[1] AS BIGINT) ELSE r END)
             END)) AS BIGINT) AS n_bins
    FROM d GROUP BY shard
    """
    got = {r[0]: r[1] for r in con.sql(sql).fetchall()}
    assert got == expect
