"""Data-pipeline operator tests (dedup / similarity / text analysis)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from lab_flink_repository_analytics_spark.datapipe import dedup as DD
from lab_flink_repository_analytics_spark.datapipe import similarity as SIM
from lab_flink_repository_analytics_spark.datapipe import text as TX


_DOCS = [
    (1, "the quick brown fox jumps over the lazy dog", "en", "a"),
    (2, "the quick brown fox jumps over the lazy cat", "en", "a"),  # near-dup of 1
    (3, "completely different content about spark engines", "en", "a"),
    (4, "the quick brown fox jumps over the lazy dog", "en", "b"),  # exact dup of 1
    (5, "ab", "en", "b"),  # shorter than shingle size
]


def _docs(spark):
    return spark.createDataFrame(_DOCS, "doc_id: int, text: string, lang: string, source: string")


def test_exact_dedup(spark):
    out = DD.exact_dedup_summary(_docs(spark)).collect()
    by_copies = {r["copies"]: r for r in out}
    assert by_copies[2]["keep_id"] == 1  # docs 1 and 4 share a fingerprint
    assert len(out) == 4


def test_minhash_df_matches_oracle(spark):
    from lab_flink_repository_analytics_spark.queries import suite

    got = {r["doc_id"]: r["sig"] for r in DD.minhash_signatures_df(_docs(spark)).collect()}
    assert got == dict(_duckdb_docs(suite._MINHASH_RAW_SQL, _DOCS))
    assert len(got) == len(_DOCS)  # doc 5, shorter than a shingle, too
    assert all(len(s) == DD.N_PERMS for s in got.values())


def test_minhash_identical_docs_identical_sigs(spark):
    sigs = {r["doc_id"]: r["sig"] for r in DD.minhash_signatures_df(_docs(spark)).collect()}
    assert sigs[1] == sigs[4]
    assert sigs[1] != sigs[3]


def test_near_dup_candidates_find_exact_dups(spark):
    pairs = {(r["id_a"], r["id_b"]) for r in DD.near_dup_candidates(_docs(spark)).collect()}
    assert (1, 4) in pairs  # identical docs always collide in every band


def test_simhash_close_for_near_dups(spark):
    out = {r["doc_id"]: r["simhash"] for r in DD.simhash_signatures_df(_docs(spark)).collect()}
    assert out[1] == out[4]
    hamming = bin(out[1] ^ out[2]).count("1")
    assert hamming <= 12  # 8/9 shared tokens → close signatures
    assert 0 <= out[1] < 2**32


def test_jaccard_pairs(spark):
    out = DD.ngram_jaccard_pairs(_docs(spark), ["source"])
    vals = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
    assert math.isclose(vals[(1, 2)], 7 / 9)  # 8-token sets sharing 7
    assert vals[(4, 5)] == 0.0


def test_jaccard_arithmetic_union_matches_array_union(spark):
    # the arithmetic union (|A|+|B|−|A∩B|) must be BIT-identical to the
    # array_union form, and the τ>0 size-ratio prejoin filter must not
    # change the surviving pair set (it only prunes pairs that cannot
    # reach τ)
    from pyspark.sql import functions as F

    df = _docs(spark)
    for tau in (0.0, 0.5, 7 / 9):
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in DD.ngram_jaccard_pairs(df, ["source"], min_jaccard=tau).collect()
        }
        sel = df.select(
            F.col("doc_id").alias("id"),
            F.array_distinct(DD.tokens("text")).alias("toks"),
            "source",
        )
        ref = (
            sel.alias("l")
            .join(
                sel.alias("r"),
                on=[
                    F.col("l.source") == F.col("r.source"),
                    F.col("l.id") < F.col("r.id"),
                ],
            )
            .select(
                F.col("l.id").alias("id_a"),
                F.col("r.id").alias("id_b"),
                (
                    F.size(F.array_intersect("l.toks", "r.toks")).cast("double")
                    / F.size(F.array_union("l.toks", "r.toks"))
                ).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= tau)
        )
        want = {(r["id_a"], r["id_b"]): r["jaccard"] for r in ref.collect()}
        assert got == want


def test_cosine_and_topk(spark):
    rows = [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.7, 0.7])]
    emb = spark.createDataFrame(rows, "vec_id: int, embedding: array<float>")
    out = SIM.brute_force_topk(emb.filter(F.col("vec_id") == 0), emb, k=3, dim=2)
    got = [(r["rank"], r["neighbor_id"], r["cos_sim"]) for r in out.collect()]
    assert got[0][:2] == (1, 1) and math.isclose(got[0][2], 1.0)
    assert got[1][1] == 3  # 45° before orthogonal
    assert got[2][1] == 2 and math.isclose(got[2][2], 0.0)


def test_lsh_bucket_deterministic_and_bounded(spark):
    from lab_flink_repository_analytics_spark.queries import suite

    rows = [(i, [float((i * 7 + j) % 5 - 2) for j in range(8)]) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id: int, embedding: array<float>")

    def buckets():
        b = SIM.lsh_bucket("embedding", dim=8).alias("b")
        return {r["vec_id"]: r["b"] for r in emb.select("vec_id", b).collect()}

    a = buckets()
    assert a == buckets()
    assert all(0 <= v < 2**SIM.LSH_NBITS for v in a.values())
    # the codegen bucket must equal the oracles' DuckDB bucket expression
    bucket = suite._lsh_bucket_sql("v", SIM.LSH_NBITS)
    sql = f"SELECT vec_id, {bucket} FROM embeddings"
    assert a == dict(_duckdb_embeddings(sql, rows, ["vec_id", "v"]))


def _join_path_rows(topk, q):
    """``topk(queries)``'s rows for the queries of ``q`` on the
    broadcast-join path: padding the query side past ANN_INLINE_MAX with
    copies of its first row under new ids keeps it from being collected
    for the bounded Arrow scorer."""
    first = q.first().asDict()
    string_ids = q.schema["vec_id"].dataType.simpleString() == "string"
    pad = [
        {**first, "vec_id": f"pad{i}" if string_ids else 10**6 + i}
        for i in range(SIM.ANN_INLINE_MAX)
    ]
    df = topk(q.unionByName(q.sparkSession.createDataFrame(pad, q.schema)))
    assert "Join" in df._jdf.queryExecution().executedPlan().toString()
    qids = {r["vec_id"] for r in q.collect()}
    return sorted(tuple(r) for r in df.collect() if r["query_id"] in qids)


def _bounded_rows(df):
    assert "Join" not in df._jdf.queryExecution().executedPlan().toString()
    return _topk_rows(df)


def test_topk_dim_pinned_matches_fold_form(spark):
    # the bounded Arrow scorer must reproduce the broadcast-join path's
    # staged-cosine rows exactly for every topk variant
    rows = [
        (i, [((i * 13 + j * 5) % 9) / 4.0 - 1.0 for j in range(6)], f"l{i % 3}")
        for i in range(30)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id: int, embedding: array<float>, label: string"
    )
    q = emb.filter(F.col("vec_id") < 4)
    cents = SIM.sampled_centroids(emb, 4)
    for topk in (
        lambda qs: SIM.brute_force_topk(qs, emb, k=5, dim=6),
        lambda qs: SIM.lsh_topk(qs, emb, k=5, dim=6),
        lambda qs: SIM.ivf_topk(qs, emb, cents, k=5, dim=6),
        lambda qs: SIM.hard_negatives(qs, emb, k=5, dim=6),
    ):
        bounded = _bounded_rows(topk(q))
        assert bounded and bounded == _join_path_rows(topk, q)


def test_text_metrics(spark):
    df = spark.createDataFrame([(1, "the cat and the hat")], "doc_id: int, text: string")
    q = df.select(TX.quality_metrics("text").alias("q")).select("q.*").collect()[0]
    assert q["n_tokens"] == 5
    assert q["n_chars"] == 19
    assert math.isclose(q["stopword_ratio"], 3 / 5)  # the, and, the
    assert math.isclose(q["distinct_ratio"], 4 / 5)
    s = df.select(TX.lang_scores("text").alias("s")).select("s.*").collect()[0]
    assert s["predicted_lang"] == "en"


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "  hello world "), (3, "hello worlds")],
        "doc_id: int, text: string",
    )
    fp = {r["doc_id"]: r["fp"] for r in df.select("doc_id", TX.fingerprint("text").alias("fp")).collect()}
    assert fp[1] == fp[2]
    assert fp[1] != fp[3]


def test_simhash_df_matches_oracle(spark):
    from lab_flink_repository_analytics_spark.queries import suite

    got = {r["doc_id"]: r["simhash"] for r in DD.simhash_signatures_df(_docs(spark)).collect()}
    assert got == dict(_duckdb_docs(suite.SIMHASH_SQL, _DOCS))
    assert len(got) == len(_DOCS)


def _emb(spark, n=40, dim=8):
    import math
    rows = []
    for i in range(n):
        # deterministic ring + radial mix: clusterable, no ties
        a = 2 * math.pi * (i % 10) / 10
        r = 1.0 + (i // 10) * 0.1
        rows.append((i, [r * math.cos(a), r * math.sin(a)] + [0.01 * ((i * j) % 7) for j in range(dim - 2)]))
    return spark.createDataFrame(rows, "vec_id: int, embedding: array<double>")


def test_ivf_topk_recall_vs_brute(spark):
    emb = _emb(spark)
    q = emb.filter(F.col("vec_id") < 3)
    cents = SIM.sampled_centroids(emb, 8)
    ivf = SIM.ivf_topk(q, emb, cents, k=5, nprobe=3, dim=8)
    brute = SIM.brute_force_topk(q, emb, k=5, dim=8)
    top1_ivf = {r["query_id"]: r["neighbor_id"] for r in ivf.filter("rank = 1").collect()}
    top1_brute = {r["query_id"]: r["neighbor_id"] for r in brute.filter("rank = 1").collect()}
    # each query's true nearest neighbor sits in a probed list here
    assert top1_ivf == top1_brute
    # every IVF result scores correctly (subset of brute's scored universe)
    bs = {(r["query_id"], r["neighbor_id"]): r["cos_sim"] for r in brute.collect()}
    for r in ivf.collect():
        key = (r["query_id"], r["neighbor_id"])
        if key in bs:
            assert abs(bs[key] - r["cos_sim"]) < 1e-9


def _ivf_probe_join(queries, candidates, centroids, k, nprobe, dim):
    """Reference copy of the probes ⋈ candidates plan the bounded
    ivf_topk replaced: both sides assigned by the Arrow kernel, the
    probe set broadcast-joined onto the inverted lists on cid, scored
    by the staged cosine and ranked per query."""
    from pyspark.sql import Window

    rows = SIM._bounded_quantizer(centroids)
    cand = SIM._arrow_assignments(candidates, rows, 1, "vec_id", "embedding").select(
        F.col("id").alias("neighbor_id"), F.col("v").alias("cv2"), "cid"
    )
    probes = SIM._arrow_assignments(queries, rows, nprobe, "vec_id", "embedding").select(
        F.col("id").alias("query_id"), F.col("v").alias("qv"), "cid"
    )
    probes, cand, score = SIM._staged_cosine(probes, cand, "qv", "cv2", dim)
    scored = (
        F.broadcast(probes)
        .join(cand, on="cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", score.alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("int").alias("rank"),
            F.round("score", 6).alias("cos_sim"),
        )
    )


def test_ivf_topk_bounded_matches_probe_join(spark):
    # the bounded ivf_topk scores inverted lists through the Arrow
    # scorer's key mask; its rows must equal the probe join's
    dim = 4
    cents = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [0.0, 1.0, 0.0, 0.0]),
            (2, [1.0, 0.0, 0.0, 0.0]),  # = cid 0: every cosine ties; list stays empty
            (3, [0.0, 0.0, 1.0, 0.0]),
            (4, [0.0, 0.0, 0.0, -1.0]),  # no query probes it below nprobe 3
        ],
        "cid int, cv array<double>",
    )
    vecs = [
        [1.0, 0.1, 0.0, 0.0],
        [1.0, 0.2, 0.05, 0.0],
        [0.9, 0.0, 0.3, 0.0],
        [0.0, 1.0, 1.0, 0.0],  # ties across cids 1 and 3
        [0.0, 2.0, 2.0, 0.0],  # same cosines as the row above
        [0.1, 1.0, 0.0, 0.2],
        [0.0, 0.3, 1.0, 0.1],
        [0.2, 0.0, 0.9, 0.0],
        [0.0, 0.0, 0.1, -1.0],
        [0.1, 0.1, 0.0, -0.8],
        [1.0, 0.1, 0.0, 0.0],  # duplicate of row 0: score ties on id
        [0.5, 0.5, 0.5, 0.5],
    ]
    rows = [(f"v{i:02d}", v) for i, v in enumerate(vecs)]
    rows += [("v90", None), ("v91", [1.0, None, 0.0, 0.0])]  # NULL scores, list 0
    emb = spark.createDataFrame(
        rows, "vec_id string, embedding array<double>"
    ).repartition(2)
    # v00 and v03 are candidates too: each query sits inside its own list
    q = emb.filter(F.col("vec_id").isin("v00", "v03", "v07"))
    for nprobe in (1, 2, 5, 7):
        for k in (3, 20):
            got = SIM.ivf_topk(q, emb, cents, k=k, nprobe=nprobe, dim=dim)
            assert "Join" not in got._jdf.queryExecution().executedPlan().toString()
            want = _ivf_probe_join(q, emb, cents, k, nprobe, dim)
            assert _topk_rows(got) == _topk_rows(want), (nprobe, k)


def test_bpe_ish_tokens(spark):
    df = spark.createDataFrame([("Hello, world42! x",)], "text: string")
    out = df.select(TX.bpe_ish_tokens("text").alias("t")).collect()[0]["t"]
    assert out == ["Hello", ",", "world", "42", "!", "x"]


def test_winnow_df_matches_oracle(spark):
    import json

    from lab_flink_repository_analytics_spark.queries import suite

    # plus one long doc, whose many windows pin the window width
    rows = _DOCS + [(6, " ".join(f"w{i}" for i in range(40)), "en", "b")]
    docs = spark.createDataFrame(rows, _docs(spark).schema)
    df = TX.winnow_fingerprints_df(docs, k=suite.WINNOW_K, w=suite.WINNOW_W)
    got = {r["doc_id"]: r["fps"] for r in df.collect()}
    want = {i: json.loads(fps) for i, fps in _duckdb_docs(suite.WINNOWING_SQL, rows)}
    assert got == want
    assert len(got) == len(rows)  # tiny docs fingerprint too


def test_winnow_shared_run_guarantee(spark):
    # winnowing guarantee: two docs sharing a run of >= w+k-1 tokens share
    # at least one fingerprint; disjoint docs share none
    k, w = 3, 4
    shared = "s1 s2 s3 s4 s5 s6"  # 6 tokens = w+k-1
    rows = [
        (1, "a1 a2 " + shared + " a3"),
        (2, "b1 " + shared + " b2 b3 b4"),
        (3, "c1 c2 c3 c4 c5 c6 c7 c8"),
    ]
    df = spark.createDataFrame(rows, "doc_id: int, text: string")
    fps = {
        r["doc_id"]: set(r["fps"])
        for r in TX.winnow_fingerprints_df(df, k=k, w=w).collect()
    }
    assert fps[1] & fps[2]
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])


def test_embedding_near_dup_pairs(spark):
    rows = [
        (1, [1.0, 0.0, 0.0], "a"),
        (2, [0.9, 0.1, 0.0], "a"),   # near-dup of 1 (same block)
        (3, [0.0, 1.0, 0.0], "a"),   # orthogonal to 1
        (4, [1.0, 0.0, 0.0], "b"),   # identical to 1 but different block
    ]
    emb = spark.createDataFrame(
        rows, "vec_id: int, embedding: array<double>, label: string"
    )
    out = DD.embedding_near_dup_pairs(emb, ["label"], threshold=0.8, dim=3).collect()
    pairs = {(r["id_a"], r["id_b"]): r["cos_sim"] for r in out}
    assert set(pairs) == {(1, 2)}  # blocking excludes (1,4); threshold drops (1,3)
    assert pairs[(1, 2)] > 0.99


def test_embedding_near_dup_pairs_caller_dim(spark):
    # caller-supplied dim (lazy path, no eager width probe): identical
    # pairs on conforming data, and a RAGGED row must DROP its pairs —
    # not throw through ANSI GetArrayItem, not silently truncate the dot
    rows = [
        (1, [1.0, 0.0, 0.0], "a"),
        (2, [0.9, 0.1, 0.0], "a"),
        (3, [1.0, 0.0], "a"),        # width 2 ≠ dim 3: all its pairs drop
        (4, [0.0, 1.0, 0.0], "a"),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id: int, embedding: array<double>, label: string"
    )
    out = DD.embedding_near_dup_pairs(emb, ["label"], threshold=0.8, dim=3).collect()
    pairs = {(r["id_a"], r["id_b"]): r["cos_sim"] for r in out}
    assert set(pairs) == {(1, 2)}
    # with dim=2 the only conforming row is 3 (no partner): zero pairs —
    # the width-3 rows drop symmetrically instead of truncating to 2 dims
    out2 = DD.embedding_near_dup_pairs(emb, ["label"], threshold=0.0, dim=2).collect()
    assert out2 == []


def test_flat_dot_split_partials_order(spark):
    # parts=8 is the landed split-partials order: 8 left-associated
    # partial sums combined left-associatively.  Pin it bit-for-bit
    # against an explicit Python float recomputation (Python float IS
    # IEEE double and + is left-assoc), for an even and an uneven split.
    import random

    rng = random.Random(7)
    a = [rng.uniform(-1, 1) for _ in range(64)]
    b = [rng.uniform(-1, 1) for _ in range(64)]
    df = spark.createDataFrame(
        [(a, b)], "a: array<double>, b: array<double>"
    )

    def py_split(x, y, dim, parts):
        chunk = -(-dim // parts)
        total = None
        for s in range(0, dim, chunk):
            acc = None
            for i in range(s, min(s + chunk, dim)):
                t = x[i] * y[i]
                acc = t if acc is None else acc + t
            total = acc if total is None else total + acc
        return total

    for dim, parts in [(64, 8), (64, 1), (10, 3), (3, 8)]:
        got = df.select(
            SIM.flat_dot("a", "b", dim, parts=parts).alias("d")
        ).first()["d"]
        assert got == py_split(a, b, dim, parts), (dim, parts)
    # parts=1 stays bit-identical to the fold (the documented contract)
    flat = df.select(SIM.flat_dot("a", "b", 64, parts=1).alias("d")).first()["d"]
    fold = df.select(SIM.dot("a", "b").alias("d")).first()["d"]
    assert flat == fold


def test_embedding_near_dup_build_is_lazy(spark):
    # round-10 verdict task 2: building the registry query must be pure
    # plan construction — no probe job.  The only job Spark itself runs
    # is the one-time parquet footer-schema read on FIRST table access
    # (memoized per (session, sf_dir)); after warming that, building the
    # query twice must add zero jobs.
    from lab_flink_repository_analytics_spark.queries import suite
    from lab_flink_repository_analytics_spark.session import load_tables

    sf = "/root/testdata/sf0.001"
    load_tables(spark, sf)["embeddings"]  # warm the footer-schema job
    store = spark._jsc.sc().statusStore()
    n0 = store.jobsList(None).size()
    suite.embedding_near_dup(spark, sf)
    suite.embedding_near_dup(spark, sf)
    assert store.jobsList(None).size() == n0


def test_repetition_metrics(spark):
    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "x y z w"), (3, "solo")],
        "doc_id: int, text: string",
    )
    out = {r["doc_id"]: r for r in TX.repetition_metrics_df(df).collect()}
    # doc 1: 4 tokens, top word 'a'×3; bigrams "a a","a a","a b" → 2 distinct of 3
    assert out[1]["n_tokens"] == 4 and out[1]["top_word_cnt"] == 3
    assert out[1]["top_word_fraction"] == 0.75
    assert out[1]["n_bigrams"] == 3 and out[1]["n_distinct_bigrams"] == 2
    assert abs(out[1]["dup_bigram_fraction"] - (1.0 - 2.0 / 3.0)) < 1e-12
    # doc 2: all unique → zero repetition
    assert out[2]["top_word_fraction"] == 0.25
    assert out[2]["dup_bigram_fraction"] == 0.0
    # doc 3: single token → no bigrams, fraction pinned to 0.0
    assert out[3]["n_bigrams"] == 0 and out[3]["dup_bigram_fraction"] == 0.0


def test_ngram_overlap_counts_shared_eval_grams(spark):
    from lab_flink_repository_analytics_spark.datapipe import decontaminate

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),  # contains eval text
            (2, "completely unrelated words about spark engines here"),
            (3, "short"),
        ],
        "doc_id: int, text: string",
    )
    eval_set = spark.createDataFrame(
        [(100, "quick brown fox jumps over")], "doc_id: int, text: string"
    )
    out = {
        r["doc_id"]: r
        for r in decontaminate.ngram_overlap(train, eval_set, n=5).collect()
    }
    # doc 1 shares exactly the eval 5-gram "quick brown fox jumps over"
    assert out[1]["n_contaminated"] == 1 and out[1]["n_grams"] == 5
    assert abs(out[1]["contamination_ratio"] - 0.2) < 1e-12
    assert out[2]["n_contaminated"] == 0
    assert out[3]["n_contaminated"] == 0  # whole-text gram, no match


def test_group_centroids_mean_pool(spark):
    rows = [
        (1, [1.0, 0.0, 3.0], "a"),
        (2, [3.0, 2.0, 1.0], "a"),
        (3, [5.0, 5.0, 5.0], "b"),
    ]
    emb = spark.createDataFrame(rows, "vec_id: int, embedding: array<float>, label: string")
    out = {r["label"]: r for r in SIM.group_centroids(emb, ["label"], dim=3).collect()}
    assert out["a"]["centroid"] == [2.0, 1.0, 2.0]
    assert out["a"]["n_vectors"] == 2
    assert out["b"]["centroid"] == [5.0, 5.0, 5.0] and out["b"]["n_vectors"] == 1


def test_curation_outcomes_rule_order(spark):
    from lab_flink_repository_analytics_spark.datapipe import curation

    rows = [
        (1, "one two three four five six seven eight nine ten", "en"),   # kept
        (2, "x x x x x x x x x x", "en"),                                # quality (distinct ratio)
        (3, "one two three four five six seven eight nine ten", "en"),   # duplicate of 1
        (4, "ten nine eight seven six five four three two one", "en"),   # kept (no shared 5-gram run)
        (100, "alpha beta gamma delta epsilon zeta eta theta", "en"),    # eval doc → kept
        (5, "alpha beta gamma delta epsilon zeta eta theta iota", "en"), # contaminated vs 100
    ]
    docs = spark.createDataFrame(rows, "doc_id: int, text: string, lang: string")
    eval_set = docs.filter(F.col("doc_id") == 100)
    out = {
        r["doc_id"]: r["outcome"]
        for r in curation.curation_outcomes(docs, eval_set).collect()
    }
    assert out[1] == "kept"
    assert out[2] == "quality"
    assert out[3] == "duplicate"
    assert out[4] == "kept"
    assert out[100] == "kept"
    assert out[5] == "contaminated"
    total = curation.curation_summary(docs, eval_set, "lang")
    assert sum(r["n"] for r in total.collect()) == len(rows)


def test_pii_redaction_and_counts(spark):
    rows = [
        (1, "mail a.b+c@x-y.example.org or b@c.io now"),
        (2, "call +1 (555) 123-4567 from 192.168.0.1"),
        (3, "nothing sensitive here"),
    ]
    df = spark.createDataFrame(rows, "id: int, text: string")
    out = {
        r["id"]: r
        for r in df.select(
            "id", TX.redact_pii("text").alias("clean"), TX.pii_counts("text").alias("c")
        ).select("id", "clean", "c.*").collect()
    }
    assert out[1]["clean"] == "mail <EMAIL> or <EMAIL> now"
    assert out[1]["n_emails"] == 2 and out[1]["n_phones"] == 0 and out[1]["n_ips"] == 0
    assert out[2]["clean"] == "call <PHONE> from <IP>"
    assert out[2]["n_phones"] == 1 and out[2]["n_ips"] == 1
    assert out[3]["clean"] == rows[2][1]
    # dotted email domains are not double-counted as IPs
    four = spark.createDataFrame([(4, "x 1.2.3.4@a.bc y")], "id: int, text: string")
    c = four.select(TX.pii_counts("text").alias("c")).select("c.*").collect()[0]
    assert c["n_emails"] == 1 and c["n_ips"] == 0


def test_chunk_documents_windows_and_overlap(spark):
    text = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame([(1, text), (2, "a b")], "doc_id: int, text: string")
    out = sorted(
        (r["doc_id"], r["chunk_index"], r["n_chunk_tokens"], r["chunk"])
        for r in TX.chunk_documents(df, chunk_tokens=4, overlap=1).collect()
    )
    # doc 1: starts 0,3,6,9 → windows of 4 tokens, 1-token overlap, tail clipped
    assert out == [
        (1, 0, 4, "w0 w1 w2 w3"),
        (1, 1, 4, "w3 w4 w5 w6"),
        (1, 2, 4, "w6 w7 w8 w9"),
        (1, 3, 1, "w9"),
        (2, 0, 2, "a b"),
    ]
    # consecutive chunks share exactly `overlap` tokens
    assert out[0][3].split()[-1:] == out[1][3].split()[:1]


def test_int8_quantize_roundtrip_and_zero(spark):
    from pyspark.sql import functions as F

    from lab_flink_repository_analytics_spark.datapipe import similarity as S

    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25, 127.0]), (2, [0.0, 0.0, 0.0, 0.0])],
        "id int, v array<float>",
    )
    out = df.select(
        "id",
        S.int8_quantize("v").alias("qz"),
        S.quantization_error("v", S.int8_quantize("v")).alias("mae"),
    ).collect()
    by_id = {r["id"]: r for r in out}
    q1 = by_id[1]["qz"]["q"]
    # int8 domain, max element hits exactly ±127
    assert max(map(abs, q1)) == 127
    assert all(-128 <= x <= 127 for x in q1)
    # reconstruction error bounded by scale/2 per element
    assert by_id[1]["mae"] <= by_id[1]["qz"]["scale"] / 2 + 1e-12
    # all-zero vector: zero quants, zero scale, zero error
    assert by_id[2]["qz"]["q"] == [0, 0, 0, 0]
    assert by_id[2]["qz"]["scale"] == 0.0
    assert by_id[2]["mae"] == 0.0


# ---------------------------------------------------------------------------
# SemDeDup, hard negatives, boilerplate grams, bigram self-LM


def test_semdedup_keeps_lowest_id_per_near_dup_group(spark):
    # two orthogonal directions; ids 1,2,3 colinear (cos=1), 4 orthogonal
    rows = [
        (1, [1.0, 0.0], 0),
        (2, [2.0, 0.0], 0),
        (3, [0.5, 0.0], 0),
        (4, [0.0, 1.0], 0),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>, label int")
    cents = SIM.sampled_centroids(emb, 2)
    got = {r["vec_id"]: r["keep"] for r in SIM.semdedup(emb, cents, 0.9, dim=2).collect()}
    assert got == {1: True, 2: False, 3: False, 4: True}


def test_semdedup_below_threshold_keeps_all(spark):
    rows = [(1, [1.0, 0.0], 0), (2, [0.0, 1.0], 0)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>, label int")
    cents = SIM.sampled_centroids(emb, 1)
    got = SIM.semdedup(emb, cents, 0.9, dim=2).collect()
    assert all(r["keep"] for r in got)


def test_mean_pairwise_cosine_matches_bruteforce(spark):
    # moments identity vs an O(N²) brute-force cross-check on small N
    import itertools
    import math

    import pytest

    rows = [
        (1, [1.0, 0.0, 0.0], 0),
        (2, [1.0, 1.0, 0.0], 0),
        (3, [0.0, 1.0, 1.0], 0),
        (4, [0.3, -0.7, 0.2], 0),
        (5, [1.0, 0.0, 0.0], 1),
        (6, [-1.0, 0.0, 0.0], 1),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label int"
    )
    got = {
        r["label"]: (r["n_vectors"], r["mean_cos"])
        for r in SIM.mean_pairwise_cosine(emb, dim=3).collect()
    }

    def brute(vs):
        def cos(a, b):
            d = sum(x * y for x, y in zip(a, b))
            na = math.sqrt(sum(x * x for x in a))
            nb = math.sqrt(sum(x * x for x in b))
            return d / (na * nb)

        pairs = [cos(a, b) for a, b in itertools.combinations(vs, 2)]
        return sum(pairs) * 2 / (len(vs) * (len(vs) - 1))

    for label in (0, 1):
        vs = [v for _, v, lb in rows if lb == label]
        n, mc = got[label]
        assert n == len(vs)
        assert mc == pytest.approx(brute(vs), abs=2e-6)


def _duckdb_embeddings(sql, rows, names):
    """Rows of the DuckDB oracle ``sql`` over an ``embeddings`` table."""
    import duckdb
    import pyarrow as pa

    con = duckdb.connect()
    con.register(
        "embeddings", pa.table({n: [r[i] for r in rows] for i, n in enumerate(names)})
    )
    return con.sql(sql).fetchall()


def _duckdb_docs(sql, rows):
    """Rows of the DuckDB oracle ``sql`` over a ``documents`` table of
    (doc_id, text, ...) rows."""
    import duckdb
    import pyarrow as pa

    con = duckdb.connect()
    con.register(
        "documents",
        pa.table({"doc_id": [r[0] for r in rows], "text": [r[1] for r in rows]}),
    )
    return con.sql(sql).fetchall()


def test_mean_pairwise_cosine_fixed_width_path_matches_generic(spark):
    """The single-aggregation plan must land the label_redundancy
    oracle's rows — including narrow rows (F.get's NULL past a row's
    width ≡ the oracle's unnest generating no row) and singleton/bad-row
    handling."""
    from lab_flink_repository_analytics_spark.queries import suite

    rows = [
        (1, [1.0, 0.0, 0.0], 0),
        (2, [1.0, 1.0, 0.0], 0),
        (3, [0.0, 1.0], 0),  # narrower than dim: same contribution
        (4, [0.3, -0.7, 0.2], 1),
        (5, [1.0], 1),
        (6, [-1.0], 1),
        (7, None, 1),  # NULL embedding: not a contributor
        (8, [2.0, 0.0, 0.0], 2),  # singleton group → NULL mean
    ]
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label int"
    )
    got = sorted(tuple(r) for r in SIM.mean_pairwise_cosine(emb, dim=3).collect())
    want = _duckdb_embeddings(
        suite.LABEL_REDUNDANCY_SQL, rows, ["vec_id", "embedding", "label"]
    )
    assert got == sorted(want)


def test_mean_pairwise_cosine_singleton_and_bad_rows(spark):
    # singleton group → NULL mean; NULL / zero-norm embeddings and NULL
    # labels are excluded from n_vectors, not silently averaged as zeros
    rows = [
        (1, [1.0, 0.0], 0),
        (2, None, 0),  # NULL embedding: not a contributor
        (3, [0.0, 0.0], 0),  # zero norm: not a contributor
        (4, [0.0, 1.0], None),  # NULL label: dropped
    ]
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label int"
    )
    out = SIM.mean_pairwise_cosine(emb, dim=2).collect()
    assert len(out) == 1
    assert out[0]["label"] == 0
    assert out[0]["n_vectors"] == 1
    assert out[0]["mean_cos"] is None


def test_hard_negatives_excludes_same_label_and_ranks(spark):
    rows = [
        (0, [1.0, 0.0], 0),   # query
        (1, [1.0, 0.01], 0),  # same label: must never appear
        (2, [1.0, 0.1], 1),   # closest different-label
        (3, [0.5, 0.5], 1),
        (4, [0.0, 1.0], 2),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>, label int")
    got = SIM.hard_negatives(emb.filter(F.col("vec_id") == 0), emb, k=2, dim=2).collect()
    assert [(r["neg_id"], r["rank"]) for r in sorted(got, key=lambda r: r["rank"])] == [
        (2, 1),
        (3, 2),
    ]


def _expression_scores(qdf, c, dim):
    # the staged-cosine join the inline Arrow scorer replaced
    q = qdf.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    qs, cs, score = SIM._staged_cosine(q, c, "qv", "cv", dim)
    return {
        (r["query_id"], r["neighbor_id"]): r["score"]
        for r in F.broadcast(qs).crossJoin(cs)
        .select("query_id", "neighbor_id", score.alias("score")).collect()
    }


def test_inline_arrow_scorer_bit_identical_to_expression_path(spark):
    # round-11: the bounded-query ANN scorer moved from the staged-cosine
    # expression join to a vectorized Arrow pass (SIM._inline_scored).
    # Pin BIT-identical scores against the expression form on adversarial
    # candidates: normal rows, a short vector, a NULL vector, a NULL
    # element and a zero vector (all four a NULL score on both paths),
    # and an over-wide vector (extra elements ignored).
    dim = 8
    cands = [
        (10, [0.125, -3.0, 2.5, 0.1, 7.0, -0.25, 1.0, 0.5]),
        (11, [1e-150] * 8),
        (12, [0.3, 0.7, 0.9, 1.1, 1.3, 1.5, 1.7, 1.9]),
        (13, [1.0, 2.0, 3.0]),                      # short
        (14, None),                                 # NULL vector
        (15, [1.0, None, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0]),  # NULL element
        (16, [0.0] * 8),                            # zero norm: 0/0
        (17, [0.5] * 10),                           # over-wide: first 8
    ]
    c = spark.createDataFrame(cands, "neighbor_id bigint, cv array<double>")
    queries = [(1, [0.25, 0.5, -0.75, 1.0, -1.25, 1.5, 2.0, -0.125]),
               (2, [3.0, -1.0, 0.5, 0.25, 4.0, -2.0, 1.0, 0.75])]
    qdf = spark.createDataFrame(queries, "vec_id bigint, embedding array<double>")
    rows = SIM._collect_inline_queries(qdf, ["vec_id", "embedding"], "embedding", dim)
    assert rows is not None and len(rows) == 2
    got = {
        (r["query_id"], r["neighbor_id"]): r["score"]
        for r in SIM._inline_scored(c, rows, dim).collect()
    }
    ref = _expression_scores(qdf, c, dim)
    assert set(got) == set(ref)
    for key in ref:
        a, b = got[key], ref[key]
        if b is None or (isinstance(b, float) and math.isnan(b)):
            assert a is None or math.isnan(a), (key, a, b)
            assert (a is None) == (b is None), (key, a, b)
        else:
            assert a == b, (key, a, b)  # bit-identical doubles
    assert {k for k, v in got.items() if v is None} == {
        (q, n) for q in (1, 2) for n in (13, 14, 15, 16)
    }

    # LSH bucket: the NumPy path == the expression on every row, including
    # non-finite and -0.0 ones (Spark's comparison has NaN > 0)
    import numpy as np

    finite = [v[:dim] for _, v in cands if v is not None
              and len(v) >= dim and all(x is not None for x in v[:dim])]
    inf, nan = float("inf"), float("nan")
    lsh_rows = finite + [
        [nan] + [1.0] * (dim - 1),
        [inf] * dim,
        [-inf] + [0.5] * (dim - 1),
        [inf, -inf] + [0.0] * (dim - 2),
        [-0.0] * dim,
    ]
    ldf = spark.createDataFrame(
        list(enumerate(lsh_rows)), "i int, v array<double>"
    )
    expr_buckets = [
        r["b"]
        for r in ldf.orderBy("i")
        .select(SIM.lsh_bucket("v", 8, dim=dim).alias("b"))
        .collect()
    ]
    got_buckets = SIM._lsh_bucket_np(np.asarray(lsh_rows), 8, dim).tolist()
    assert got_buckets == expr_buckets

    # batch-local pruning never changes the final top-k
    full = SIM.brute_force_topk(qdf, c.withColumnRenamed("cv", "embedding")
                                .withColumnRenamed("neighbor_id", "vec_id"),
                                k=3, dim=dim)
    assert len(full.collect()) > 0


def test_inline_arrow_scorer_float32_vectors_bit_identical(spark):
    # array<float> (the embeddings table type) arrives in Arrow as float32;
    # the expression path casts every element to DOUBLE, so the NumPy
    # norms must too
    import random

    rng = random.Random(3)
    dim = 16
    cands = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(40)]
    c = spark.createDataFrame(cands, "neighbor_id bigint, cv array<float>")
    qdf = spark.createDataFrame(cands[:2], "vec_id bigint, embedding array<float>")
    rows = SIM._collect_inline_queries(qdf, ["vec_id", "embedding"], "embedding", dim)
    got = {
        (r["query_id"], r["neighbor_id"]): r["score"]
        for r in SIM._inline_scored(c, rows, dim).collect()
    }
    assert got == _expression_scores(qdf, c, dim)


def test_inline_arrow_scorer_ragged_batch_not_reshaped(spark):
    # one batch whose list lengths (dim-1, dim+1) sum to n*dim: the
    # zero-copy reshape must not be taken — the short row scores NULL and
    # the wide row scores on its first dim elements
    dim = 4
    c = spark.createDataFrame(
        [(1, [6.0, 7.0, 8.0]), (2, [1.0, 2.0, 3.0, 4.0, 5.0])],
        "neighbor_id bigint, cv array<double>",
    ).coalesce(1)
    qdf = spark.createDataFrame(
        [(100, [1.0, 0.5, -0.25, 2.0])], "vec_id bigint, embedding array<double>"
    )
    rows = SIM._collect_inline_queries(qdf, ["vec_id", "embedding"], "embedding", dim)
    got = {
        r["neighbor_id"]: r["score"]
        for r in SIM._inline_scored(c, rows, dim).collect()
    }
    truncated = spark.createDataFrame(
        [(2, [1.0, 2.0, 3.0, 4.0])], "neighbor_id bigint, cv array<double>"
    )
    assert got[1] is None
    assert got[2] == _expression_scores(qdf, truncated, dim)[(100, 2)]


def _literal_chain_assignments(vectors, cent_rows, n_best, id_col, vec_col):
    """Reference copy of the retired literal-chain assignment projection:
    one staged fold-order ``v[i]·c_i`` literal cosine column per centroid,
    ranked by ``array_sort`` over (class, -cs, cid) structs — the oracles'
    ``ORDER BY cs DESC, cid``, with NaN (class 0) first and NULL (class 2)
    last."""
    import numpy as np

    cents = sorted(cent_rows, key=lambda r: r["cid"])
    C = np.asarray([r["cv"] for r in cents], dtype=np.float64)
    dim = C.shape[1]
    ncs = np.sqrt(SIM._np_flat_dot(C, C, dim, 1))
    cs_cols, entries = [], []
    for j, (r, ncv) in enumerate(zip(cents, ncs)):
        dot_txt = SIM._flat_dot_text("v", r["cv"], dim)
        cs_cols.append(
            F.expr(f"({dot_txt} / (`_nv` * {SIM._lit_d(float(ncv))}))").alias(f"_cs{j}")
        )
        cs = f"`_cs{j}`"
        cls = f"CASE WHEN isnan({cs}) THEN 0 WHEN {cs} IS NULL THEN 2 ELSE 1 END"
        entries.append(
            f"named_struct('cls', {cls}, 'negcs', -{cs}, 'cid', {int(r['cid'])})"
        )
    ranked = F.expr(f"slice(array_sort(array({', '.join(entries)})), 1, {int(n_best)})")
    return (
        vectors.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .withColumn("_nv", F.sqrt(SIM.flat_dot("v", "v", dim)))
        .select("id", "v", *cs_cols)
        .select("id", "v", F.posexplode(ranked).alias("pos", "e"))
        .select(
            "id",
            "v",
            F.col("e.cid").alias("cid"),
            (F.col("pos") + 1).cast("int").alias("rn"),
        )
    )


def test_arrow_assignments_match_literal_chain_projection(spark):
    # the Arrow assignment kernel against the projection it replaced, on
    # rows outside the width contract and on non-finite values.  The
    # reference runs with ANSI off: rows it RAISED on under ANSI (short
    # vectors, zero divisors) take the expression's NULL value there,
    # which is what the kernel emits
    import random
    from functools import reduce

    from lab_flink_repository_analytics_spark.session import local_relation

    nan, inf = float("nan"), float("inf")
    adversarial = [
        [1.0, 2.0, 3.0, 4.0],
        None,                                   # NULL vector
        [1.0, None, 2.0, 3.0],                  # NULL element
        [1.0, 2.0],                             # short
        [1.0, 2.0, 3.0, 4.0, 5.0, 6.0],         # over-wide: first 4
        [nan, 1.0, 0.0, 0.0],
        [inf, 1.0, 0.0, 0.0],
        [-inf, 0.0, 0.0, 1.0],
        [0.0, -0.0, 0.0, -0.0],                 # zero norm
        [5e-324, 0.0, 0.0, 0.0],                # subnormal: norm underflows
        [1e-160, 1e-160, 0.0, 0.0],
        [2.2250738585072014e-308, 1.0, -1.0, 0.0],
        [1.0, -0.0, -0.0, -0.0],                # cosines -0.0 and +0.0
        [1e300, 1e300, 0.0, 0.0],               # overflow: inf / inf
        [-1.0, 0.5, 0.25, -2.0],
        [3.0, -1.0, 2.0, 0.5],
        [1.0, 1.0, 1.0, 1.0],                   # cid 8 by fold order only
    ]
    rng = random.Random(11)
    clean = [[rng.choice([-1.0, 0.5, 1.0, 2.0]) for _ in range(4)] for _ in range(40)]
    # JVM VALUES relations: no Python-worker scan under every case
    string_ids = local_relation(
        spark,
        [(f"s{i:02d}", v) for i, v in enumerate(adversarial)],
        "vec_id string, embedding array<double>",
    )
    # contract rows only: the zero-copy batch path, float32 elements
    long_ids = local_relation(
        spark, list(enumerate(clean)), "vec_id bigint, embedding array<float>"
    )
    frames = [string_ids, long_ids, long_ids.filter(F.col("vec_id") < 0)]
    # duplicate centroids (cids 2/5) tie on every row; cids 1/3 differ
    # only in the sign of a zero; against [1, 1, 1, 1] cid 8's left-to-right
    # dot is 1.0 (any other summation order gives 0.0, a tie with cid 6)
    base = [
        {"cid": 3, "cv": [-0.0, 1.0, 1.0, 1.0]},
        {"cid": 1, "cv": [0.0, 1.0, 1.0, 1.0]},
        {"cid": 2, "cv": [1.0, 2.0, 3.0, 4.0]},
        {"cid": 5, "cv": [1.0, 2.0, 3.0, 4.0]},
        {"cid": 4, "cv": [-1.0, 0.0, 0.0, 0.0]},
        {"cid": 0, "cv": [1.0, 0.0, 0.0, 0.0]},
        {"cid": 8, "cv": [1e16, 1.0, -1e16, 1.0]},
        {"cid": 6, "cv": [1.0, -1.0, 0.0, 0.0]},
    ]
    quantizers = [
        base,
        base + [{"cid": 9, "cv": [0.0] * 4}, {"cid": 7, "cv": [5e-324, 1.0, 0.0, 0.0]}],
    ]

    def cases(build):
        # every (frame, quantizer, n_best) case in ONE job
        parts = [
            build(frame, cents, nb, "vec_id", "embedding").select(
                F.lit(f"{fi}/{qi}/{nb}").alias("case"),
                F.col("id").cast("string").alias("id"),
                F.col("v").cast("array<double>").alias("v"),
                "cid",
                "rn",
            )
            for fi, frame in enumerate(frames)
            for qi, cents in enumerate(quantizers)
            for nb in (1, 2, len(cents) + 1)
        ]
        out = reduce(lambda a, b: a.unionByName(b), parts).collect()
        return sorted((r["case"], r["id"], r["rn"], r["cid"], repr(r["v"])) for r in out)

    got = cases(SIM._arrow_assignments)
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        want = cases(_literal_chain_assignments)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert got == want
    # every row keeps min(n_best, k) entries, NULL vectors included
    assert SIM._arrow_assignments(string_ids, base, 2, "vec_id", "embedding").count() == 34
    # a centroid whose norm overflows (the literal form could not inline
    # it): a NULL vector's cosines stay NULL, not 0·inf = NaN
    big = [{"cid": 0, "cv": [1e200, 1e200, 0.0, 0.0]}, {"cid": 1, "cv": [1.0, 0.0, 0.0, 0.0]}]
    null_row = string_ids.filter(F.col("embedding").isNull())
    got = SIM._arrow_assignments(null_row, big, 2, "vec_id", "embedding")
    assert [r["cid"] for r in got.orderBy("rn").collect()] == [0, 1]
    # an empty quantizer (no width for the literal form to build from)
    # assigns nothing
    empty = SIM._arrow_assignments(long_ids, [], 1, "vec_id", "embedding")
    assert empty.columns == ["id", "v", "cid", "rn"]
    assert empty.collect() == []


def test_assignments_rank_nan_first_and_null_last_like_the_oracles(spark):
    # the oracles rank centroids by ORDER BY cs DESC, cid: a zero-norm
    # centroid's x/0 cosine is NULL and last, a NaN cosine first.  The
    # Arrow kernel and the broadcast-join path above MAX_INLINE_CENTROIDS
    # must agree on it
    nan = float("nan")
    vectors = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.0, 1.0]),
            (2, [0.6, 0.8]),
            (3, [0.0, 0.0]),
            (4, None),
            (5, [nan, 1.0]),
        ],
        "vec_id bigint, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0])], "cid int, cv array<double>"
    )

    def rows(df):
        return sorted((r["id"], r["rn"], r["cid"]) for r in df.collect())

    cent_rows = SIM._bounded_quantizer(cents)
    for n_best in (1, 2, 3):
        arrow = rows(SIM._arrow_assignments(vectors, cent_rows, n_best, "vec_id", "embedding"))
        df = SIM._join_assignments(vectors, cents, n_best, "vec_id", "embedding")
        assert "Join" in df._jdf.queryExecution().executedPlan().toString()
        assert arrow == rows(df), n_best
    best = {i: cid for i, rn, cid in arrow if rn == 1}
    assert best == {0: 1, 1: 2, 2: 2, 3: 0, 4: 0, 5: 0}
    assert [cid for i, rn, cid in arrow if i == 0] == [1, 2, 0]


def _flat_assignments(vectors, centroids):
    """Each vector's best centroid in one Arrow pass over a driver-held
    quantizer."""
    return SIM._arrow_assignments(
        vectors, SIM._bounded_quantizer(centroids), 1, "vec_id", "embedding"
    )


def test_kmeans_null_initial_centroid_matches_oracle(spark, monkeypatch):
    # a NULL vector among the k lowest ids is a NULL initial centroid: a
    # column of NULL cosines, ranked last, like KMEANS_SQL
    from lab_flink_repository_analytics_spark.queries import suite

    rows = [(0, None), (1, [1.0, 0.0]), (2, [0.0, 1.0])]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    got = {
        r["vec_id"]: r["cluster_id"]
        for r in SIM.kmeans_lloyd_df(emb, k=2, iters=suite.KMEANS_ITERS).collect()
    }
    monkeypatch.setattr(suite, "KMEANS_K", 2)
    want = dict(_duckdb_embeddings(suite._kmeans_sql(), rows, ["vec_id", "embedding"]))
    assert got == want == {0: 0, 1: 1, 2: 1}
    # k=1: an all-NULL quantizer (width 0) assigns every row its one cid
    got = {r["vec_id"]: r["cluster_id"] for r in SIM.kmeans_lloyd_df(emb, k=1).collect()}
    monkeypatch.setattr(suite, "KMEANS_K", 1)
    want = dict(_duckdb_embeddings(suite._kmeans_sql(), rows, ["vec_id", "embedding"]))
    assert got == want == {0: 0, 1: 0, 2: 0}


def test_hierarchical_routed_level_ranks_null_cosines_last(spark):
    # n_super = 2: centroid 2 is NULL and routes into super 0's bucket;
    # its NULL cosines rank last in the bucket, and a zero vector (NULL
    # cosines everywhere) takes the lowest cid instead of raising
    vectors = spark.createDataFrame(
        [(10, [1.0, 0.05]), (11, [0.05, 1.0]), (12, [0.0, 0.0])],
        "vec_id bigint, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, None), (3, [1.0, 0.1])],
        "cid int, cv array<double>",
    )
    routed = SIM.hierarchical_assignments(vectors, cents, n_super=2)
    got = {r["id"]: r["cid"] for r in routed.collect()}
    flat = {r["id"]: r["cid"] for r in _flat_assignments(vectors, cents).collect()}
    assert got == flat == {10: 3, 11: 1, 12: 0}


def test_ann_zero_norm_and_narrow_rows_score_null_on_both_paths(spark):
    # a zero-norm candidate (0/0) and one narrower than dim score NULL
    # and rank last on the bounded Arrow path and on the broadcast-join
    # path alike; a query narrower than dim (join path only) scores NULL
    # against every candidate instead of raising
    rows = [
        (1, [1.0, 0.0], "q"),
        (2, [1.0], "n"),
        (10, [0.0, 0.0], "n"),
        (11, [1.0, 0.0], "n"),
        (12, [0.6, 0.8], "n"),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label string"
    ).repartition(1)
    q = emb.filter(F.col("vec_id") == 1)
    narrow = emb.filter(F.col("vec_id").isin(1, 2))
    cents = SIM.sampled_centroids(emb, 2)
    for topk in (
        lambda qs: SIM.brute_force_topk(qs, emb, k=10, dim=2),
        lambda qs: SIM.lsh_topk(qs, emb, k=10, dim=2),
        lambda qs: SIM.ivf_topk(qs, emb, cents, k=10, dim=2),
        lambda qs: SIM.hard_negatives(qs, emb, k=10, dim=2),
    ):
        bounded = _bounded_rows(topk(q))
        assert bounded == _join_path_rows(topk, q)
        both = _join_path_rows(topk, narrow)
        assert [r for r in both if r[0] == 1] == bounded
        assert all(r[3] is None for r in both if r[0] == 2)
    assert _bounded_rows(SIM.brute_force_topk(q, emb, k=10, dim=2)) == [
        (1, 2, 3, None),
        (1, 10, 4, None),
        (1, 11, 1, 1.0),
        (1, 12, 2, 0.6),
    ]


def _semdedup_vs_oracle(spark, rows):
    """(Spark, oracle) {vec_id: (cluster_id, keep)} of ``semantic_dedup``'s
    plan over an embeddings table of ``rows``."""
    from lab_flink_repository_analytics_spark.queries import suite

    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    n_lists = max(suite.IVF_NLISTS, len(rows) // suite.SEMDEDUP_TARGET_CLUSTER)
    got = SIM.semdedup(
        emb,
        SIM.sampled_centroids(emb, n_lists),
        suite.SEMDEDUP_TAU,
        dim=suite.EMBEDDING_DIM,
    ).collect()
    want = _duckdb_embeddings(suite.SEMDEDUP_SQL, rows, ["vec_id", "embedding"])
    return (
        {r["vec_id"]: (r["cluster_id"], r["keep"]) for r in got},
        {i: (c, k) for i, c, k in want},
    )


def test_semdedup_pair_scan_matches_oracle(spark):
    # the Arrow pair scan against SEMDEDUP_SQL on 64-wide vectors with
    # planted near-dups, and above the 16 lowest ids (the quantizer) the
    # rows outside the width contract plus zero-norm rows
    import random

    rng = random.Random(5)
    rows = [(i, [rng.uniform(-1.0, 1.0) for _ in range(64)]) for i in range(48)]
    for j, src in enumerate((3, 7, 20, 33, 33)):
        rows.append((100 + j, [x * 1.5 + 0.01 * j for x in rows[src][1]]))
    null_elem = list(rows[3][1])
    null_elem[5] = None
    off_contract = {
        200: None,
        201: null_elem,            # row 3's near-dup but for one NULL element
        202: rows[7][1][:10],      # short: row 7's first 10 elements
    }
    zero = {203: [0.0] * 64, 204: [-0.0] * 64}
    rows += list(off_contract.items()) + list(zero.items())
    got, want = _semdedup_vs_oracle(spark, rows)
    assert got.keys() == want.keys()
    # the assignment oracle _cos_sql folds a short or NULL-element row
    # over its own length, so their cluster_id is out of scope: keep only
    for i in off_contract:
        assert got.pop(i)[1] is want.pop(i)[1] is True, i
    assert got == want
    assert not all(k for _, k in got.values())  # the planted dups drop
    assert got[203] == got[204] == (0, True)


def test_semdedup_zero_vector_does_not_capture_assignments(spark):
    # every vector is a centroid; the zero vector's NULL cosines rank
    # last, so e1 and e2 keep their own clusters and nothing drops
    e = [[0.0] * 64 for _ in range(3)]
    e[1][0] = e[2][1] = 1.0
    got, want = _semdedup_vs_oracle(spark, [(i + 1, v) for i, v in enumerate(e)])
    assert got == want == {1: (1, True), 2: (2, True), 3: (3, True)}


def _topk_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_brute_force_topk_null_candidate_id_keeps_k_rows(spark):
    # the NULL-id candidate scores best; the batch-local top-k must drop
    # it like the consumer's query_id != neighbor_id does, not spend a
    # slot on it
    rows = [
        (None, [1.0, 0.0, 0.0]),
        (0, [1.0, 0.01, 0.0]),
        (1, [1.0, 0.2, 0.0]),
        (2, [1.0, 0.5, 0.1]),
        (3, [0.2, 1.0, 0.0]),
        (4, [0.0, 0.3, 1.0]),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    ).repartition(1)
    q = emb.filter(F.col("vec_id") == 0)

    def topk(qs):
        return SIM.brute_force_topk(qs, emb, k=2, dim=3)

    fast = _bounded_rows(topk(q))
    assert fast == _join_path_rows(topk, q)
    assert [r[1] for r in fast] == [1, 2]


def test_brute_force_topk_string_ids(spark):
    rows = [
        (f"v{i}", [((i * 13 + j * 5) % 9) / 4.0 - 1.0 for j in range(5)])
        for i in range(12)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id string, embedding array<double>"
    ).repartition(1)
    q = emb.filter(F.col("vec_id").isin("v0", "v1"))

    def topk(qs):
        return SIM.brute_force_topk(qs, emb, k=3, dim=5)

    fast = _bounded_rows(topk(q))
    assert fast == _join_path_rows(topk, q)
    assert len(fast) == 6


def test_gram_strings_matches_split_construction(spark):
    # round-10: the regex gram builder replaced the per-position
    # transform(sequence(...), element_at...) lambdas in the gram family
    # (boilerplate, duplicate spans, bigram LM, source overlap).  Pin it
    # element-for-element against the split-based construction on
    # normalized text — same grams, same order, and position i of the
    # array IS the gram at token position i (what posexplode relies on).
    rows = [
        (1, "a b c d e"),
        (2, "one two three"),
        (3, "exactly three toks"),
        (4, "two toks"),
        (5, "solo"),
        (6, "rep rep rep rep"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    for k in (2, 3, 8):
        got = {
            r["doc_id"]: r["g"]
            for r in df.select(
                "doc_id", TX.gram_strings("text", k).alias("g")
            ).collect()
        }
        for doc_id, text in rows:
            toks = text.split(" ")
            want = [
                " ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)
            ]
            assert got[doc_id] == want, (doc_id, k)


def test_gram_strings_tokens_contract_on_messy_whitespace(spark):
    # round-11 guard-rail (VERDICT r10 "what's wrong" 3): the regex gram
    # builder `[^ ]+` SKIPS empty tokens where `split(text, ' ')` yields
    # them, so on non-normalized text (consecutive/leading/trailing
    # spaces) the two constructions DIVERGE — the single-space `tokens()`
    # contract is load-bearing at the gram/shingle call sites.  Pin both
    # halves: (a) the divergence is real on messy text, so nobody can
    # silently assume equality; (b) after `normalize_text` (the
    # documented normalize-first requirement) they agree exactly.
    messy = [
        (1, "a  b c"),          # double space → split() has an empty token
        (2, " lead space"),     # leading space
        (3, "trail space "),    # trailing space
        (4, "a   b"),           # triple space
        (5, "ok single space"), # contract-clean control row
    ]
    df = spark.createDataFrame(messy, "doc_id bigint, text string")
    k = 2

    def split_grams(text: str) -> list[str]:
        toks = text.split(" ")  # mirrors tokens() = F.split(text, ' ')
        return [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]

    got_raw = {
        r["doc_id"]: r["g"]
        for r in df.select(
            "doc_id", TX.gram_strings("text", k).alias("g")
        ).collect()
    }
    # (a) divergence on messy rows, equality on the clean control row.
    # The lookahead pattern requires EXACTLY one space between the k
    # tokens, so a double space doesn't just skip an empty token — it
    # breaks every gram that would span it: "a  b c" yields only ['b c']
    # (no 'a b' gram at all), while split() sees tokens ['a','','b','c'].
    assert got_raw[1] != split_grams("a  b c")
    assert got_raw[1] == ["b c"]
    assert got_raw[2] != split_grams(" lead space")
    assert got_raw[5] == split_grams("ok single space")

    # (b) normalize-first restores the contract: regex grams over the
    # normalized text == split construction over the same normalized text
    got_norm = {
        r["doc_id"]: (r["nt"], r["g"])
        for r in df.select(
            "doc_id",
            TX.normalize_text("text").alias("nt"),
            TX.gram_strings(TX.normalize_text("text"), k).alias("g"),
        ).collect()
    }
    for doc_id, (nt, g) in got_norm.items():
        assert g == split_grams(nt), (doc_id, nt)


def test_repetition_metrics_shared_doc_bi_equivalent(spark):
    # round-11: ngram_repetition's bigram half can read the session-shared
    # doc-bigram multiplicity table (doc_bigram_counts_df) instead of
    # re-exploding the corpus.  Pin element-for-element equivalence of the
    # two paths on contract text, including short docs (0 bigrams) and
    # heavy repetition.
    docs = spark.createDataFrame(
        [
            (1, "a b a b a b"),      # repeated bigrams
            (2, "x"),                # < 2 tokens: n_bigrams 0
            (3, ""),                 # empty text: split -> [''], 1 token
            (4, "p q r s p q"),      # mixed
            (5, "t t t t t t t t"),  # single repeated token
        ],
        "doc_id bigint, text string",
    )
    inline = {
        r["doc_id"]: r.asDict() for r in TX.repetition_metrics_df(docs).collect()
    }
    doc_bi = TX.doc_bigram_counts_df(docs)
    shared = {
        r["doc_id"]: r.asDict()
        for r in TX.repetition_metrics_df(docs, doc_bi=doc_bi).collect()
    }
    assert inline == shared
    # and the shared table itself: one NULL row per short doc, exact
    # multiplicities elsewhere
    rows = {(r["doc_id"], r["w1"], r["w2"]): r["cnt"] for r in doc_bi.collect()}
    assert rows[(1, "a", "b")] == 3 and rows[(1, "b", "a")] == 2
    assert rows[(2, None, None)] == 1 and rows[(3, None, None)] == 1
    assert rows[(5, "t", "t")] == 7


def test_boilerplate_gram_stats(spark):
    # "a b c" occurs in 3 docs (min_docs=3 → boilerplate); doc 4 is clean
    docs = spark.createDataFrame(
        [
            (1, "a b c x y"),
            (2, "q a b c z"),
            (3, "a b c"),
            (4, "p q r s"),
            (5, "xy"),  # < k tokens: 0 grams
        ],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: (r["n_grams"], r["boiler_grams"], r["boiler_frac"])
        for r in TX.boilerplate_gram_stats_df(docs, k=3, min_docs=3).collect()
    }
    assert got[1] == (3, 1, 0.333333)  # grams: "a b c","b c x","c x y"
    assert got[2] == (3, 1, 0.333333)
    assert got[3] == (1, 1, 1.0)
    assert got[4] == (2, 0, 0.0)
    assert got[5] == (0, 0, 0.0)


def test_bigram_lm_scores_rare_bigrams_score_higher(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b a b a b"),  # only common bigrams
            (2, "a b a b z q"),  # contains two singleton bigrams
            (3, "x"),            # <2 tokens: no score
        ],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r for r in TX.bigram_logprob_scores_df(docs).collect()}
    assert got[3]["n_bigrams"] == 0 and got[3]["avg_neg_logprob"] is None
    assert got[1]["n_bigrams"] == 5 and got[2]["n_bigrams"] == 5
    # doc 2's rare bigrams must make it less probable than doc 1
    assert got[2]["avg_neg_logprob"] > got[1]["avg_neg_logprob"]


def test_kmeans_lloyd_separates_directions_and_is_deterministic(spark):
    # ids 0/1 seed the two clusters (lowest-id init) in orthogonal
    # directions; every other point lands with its direction
    rows = [(0, [1.0, 0.0]), (1, [0.0, 1.0])] + [
        (i, [1.0, 0.05 * (i % 3)]) for i in range(10, 20)
    ] + [(i, [0.04 * (i % 4), 1.0]) for i in range(20, 30)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    got = {r["vec_id"]: r["cluster_id"] for r in SIM.kmeans_lloyd_df(emb, k=2, iters=2).collect()}
    assert all(got[i] == got[0] for i in range(10, 20))
    assert all(got[i] == got[1] for i in range(20, 30))
    assert got[0] != got[1]
    # reshard determinism: same assignment under a different partitioning
    again = {
        r["vec_id"]: r["cluster_id"]
        for r in SIM.kmeans_lloyd_df(emb.repartition(7), k=2, iters=2).collect()
    }
    assert again == got


def test_group_centroids_fixed_dim_matches_explode_form(spark):
    # the flat per-dimension sums must land the label_centroids oracle's
    # (posexplode-form) centroids; a NULL vector counts in neither
    from lab_flink_repository_analytics_spark.queries import suite

    rows = [
        (i, f"l{i % 3}", [((i * 11 + d * 7) % 13) / 6.0 - 1.0 for d in range(5)])
        for i in range(30)
    ] + [(30, "l0", None)]
    emb = spark.createDataFrame(
        rows, "vec_id bigint, label string, embedding array<double>"
    )
    pinned = {
        r["label"]: (list(r["centroid"]), r["n_vectors"])
        for r in SIM.group_centroids(emb, ["label"], dim=5).collect()
    }
    want = {
        label: ([float(x) for x in centroid.split(",")], n)
        for label, centroid, n in _duckdb_embeddings(
            suite.LABEL_CENTROIDS_SQL, rows, ["vec_id", "label", "embedding"]
        )
    }
    assert pinned == want


def test_windowed_dedup_keeps_first_per_window(spark):
    from datetime import datetime as dt

    rows = [
        (1, "u", "click", dt(2021, 1, 1, 10, 5)),
        (2, "u", "click", dt(2021, 1, 1, 10, 40)),  # same 10:00 window → dropped
        (3, "u", "click", dt(2021, 1, 1, 11, 1)),   # next window → kept
        (4, "u", "view", dt(2021, 1, 1, 10, 50)),   # other key → kept
        (5, "v", "click", dt(2021, 1, 1, 10, 5)),   # tie ts with id 6
        (6, "v", "click", dt(2021, 1, 1, 10, 5)),   # id tie-break → dropped
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id string, event_type string, ts timestamp")
    kept = sorted(
        r["event_id"]
        for r in DD.windowed_dedup(
            df, ["user_id", "event_type"], "ts", "1 hour", order_col="event_id"
        ).collect()
    )
    assert kept == [1, 3, 4, 5]


def _decimal_moment_cov(vectors):
    # the DECIMAL(30,15)-per-product formulation covariance_matrix used
    # before its fixed-point moments; kept here only as the reference
    v = F.col("v")
    a = vectors.select(F.col("embedding").alias("v")).select(
        F.posexplode(v).alias("i0", "xi"), v.alias("v2")
    )
    b = a.select(
        "i0",
        "xi",
        F.posexplode(F.expr("slice(v2, i0 + 1, size(v2) - i0)")).alias("jrel", "xj"),
    ).select("i0", "xi", (F.col("i0") + F.col("jrel")).alias("j0"), "xj")
    mom = b.groupBy("i0", "j0").agg(
        F.sum(
            (F.col("xi").cast("double") * F.col("xj").cast("double")).cast(
                "decimal(30,15)"
            )
        ).alias("sxy"),
        F.count(F.lit(1)).alias("n"),
    )
    dims = (
        vectors.select(F.posexplode("embedding").alias("i0", "x"))
        .groupBy("i0")
        .agg(F.sum(F.col("x").cast("double").cast("decimal(30,15)")).alias("sx"))
    )
    d1 = dims.select("i0", F.col("sx").alias("si"))
    d2 = dims.select(F.col("i0").alias("j0"), F.col("sx").alias("sj"))
    return (
        mom.join(F.broadcast(d1), "i0")
        .join(F.broadcast(d2), "j0")
        .select(
            (F.col("i0") + 1).cast("int").alias("i"),
            (F.col("j0") + 1).cast("int").alias("j"),
            F.round(
                (
                    F.col("sxy").cast("double")
                    - F.col("si").cast("double") * F.col("sj").cast("double") / F.col("n")
                )
                / (F.col("n") - 1),
                6,
            ).alias("cov"),
        )
    )


def _cov_cells(df):
    # repr keeps NaN cells comparable and tells -0.0 from 0.0
    return sorted((r["i"], r["j"], repr(r["cov"])) for r in df.collect())


def test_covariance_matrix_equals_decimal_moments_on_unit_vectors(spark):
    import numpy as np

    for dim in (3, 16, 64):
        for seed in (1, 2, 3):
            rng = np.random.default_rng(seed)
            X = rng.normal(size=(150, dim))
            X = (X / np.linalg.norm(X, axis=1, keepdims=True)).astype("float32")
            emb = spark.createDataFrame(
                [(i, [float(x) for x in X[i]]) for i in range(len(X))],
                "vec_id bigint, embedding array<float>",
            )
            got = _cov_cells(SIM.covariance_matrix(emb))
            assert len(got) == dim * (dim + 1) // 2
            assert got == _cov_cells(_decimal_moment_cov(emb)), (dim, seed)


def test_covariance_matrix_equals_decimal_moments_on_adversarial_batches(spark):
    nan, inf = float("nan"), float("inf")
    batches = {
        "signed_zero_subnormal": [
            (1, [-0.0, 5e-324, 0.5]),
            (2, [0.0, -2.2e-308, -0.25]),
            (3, [-0.0, 1e-310, 0.125]),
        ],
        # |x| >= 64 makes |xi·xj| >= 2^12: the DECIMAL branch, alone in
        # some cells and mixed with fixed-point products in others
        "decimal_branch": [
            (1, [100.0, 0.5, 1e5]),
            (2, [-70.0, 0.25, 3.0]),
            (3, [64.0, -0.125, 2.0]),
            (4, [0.3, 0.7, -0.1]),
        ],
        "nan": [(1, [nan, 0.5]), (2, [1.0, 0.25]), (3, [2.0, 1.0])],
        "inf": [(1, [inf, 0.5]), (2, [-inf, 0.25]), (3, [2.0, 1.0])],
        "null_element": [(1, [None, 0.5]), (2, [1.0, 0.25]), (3, [2.0, 1.0])],
        "null_vector": [(1, None), (2, [1.0, 0.25]), (3, [2.0, 1.0]), (4, [0.1, 0.2])],
    }
    for name, rows in batches.items():
        emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
        got = _cov_cells(SIM.covariance_matrix(emb))
        assert got == _cov_cells(_decimal_moment_cov(emb)), name


def test_covariance_matrix_equals_decimal_moments_across_arrow_batches(spark):
    # two rows per Arrow batch: every cell sums partials of several
    # batches, and single batches mix widths, NULL and empty vectors, NULL
    # elements, NaN, ±inf and |x| >= 64 (the DECIMAL branch); every cell
    # is covered by at least two rows
    nan, inf = float("nan"), float("inf")
    rows = [
        (1, [0.5, -0.25, 0.125]),
        (2, None),
        (3, [1.0, 2.0]),
        (4, []),
        (5, [None, 0.75, 3.0]),
        (6, [nan, 1.0, 0.5]),
        (7, [inf, -0.5, 2.0]),
        (8, [-inf, 0.25]),
        (9, [100.0, -70.0, 0.3]),
        (10, [64.0, 0.1, -0.2]),
        (11, [0.3, None]),
        (12, [-0.0, 5e-324, 1e5]),
        (13, [0.7, -0.7, 0.9]),
        (14, [-3.5]),
    ]
    # no fixed-point product in any cell, and none but NULL, NaN and inf
    # in cell (1, 2): a NULL Σxy there, as in the DECIMAL form
    wide_only = [(1, [1e3, None]), (2, [None, 2e3]), (3, [nan, 3e3]), (4, [2e3, inf])]
    schema = "vec_id bigint, embedding array<double>"
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        for fixture in (rows, wide_only):
            emb = spark.createDataFrame(fixture, schema)
            want = _cov_cells(_decimal_moment_cov(emb))
            assert len(want) == (6 if fixture is rows else 3)
            for df in (emb.coalesce(1), emb.repartition(3)):
                assert _cov_cells(SIM.covariance_matrix(df)) == want
        nulls = spark.createDataFrame([(1, None), (2, None), (3, [])], schema)
        assert SIM.covariance_matrix(nulls).collect() == []
    finally:
        spark.conf.set(key, old)


def test_fixed_point_limbs_are_exact(monkeypatch):
    # Python's round() is the same half-even rint, and p·2^50 is exact in
    # double
    import math

    import numpy as np
    import pyarrow as pa

    top = math.nextafter(2.0**12, 0.0)
    ps = [
        top,
        -top,
        -1.0,
        -0.3,
        -(2.0**-60),
        0.0,
        -0.0,
        5e-324,
        -5e-324,
        0.1,
        1234.5678,
        # half-way ties on the 2^-50 grid round to even
        0.5 * 2.0**-50,
        1.5 * 2.0**-50,
        -0.5 * 2.0**-50,
        -1.5 * 2.0**-50,
        3.0 + 2.5 * 2.0**-50,
        -(3.0 + 2.5 * 2.0**-50),
    ]
    hi, lo = SIM._np_limbs(np.array(ps))
    for p, h, low in zip(ps, hi.tolist(), lo.tolist()):
        assert h * 2**25 + low == round(p * 2.0**50), p
        assert 0 <= low <= 2**25, p

    def cell01(values):
        # the kernel's partials of cell (0, 1) over the rows [1.0, p]
        # (product exactly p), summed as Python ints: (Σ limbs, #partials)
        cv = pa.array([[1.0, p] for p in values], pa.list_(pa.float64()))
        total, parts, n = 0, 0, 0
        for b in SIM._np_moment_partials(cv):
            for r in b.to_pylist():
                if (r["i0"], r["j0"]) == (0, 1) and r["p"] is None:
                    total += r["hi"] * 2**25 + r["lo"]
                    parts += 1
                    n += r["n"]
        assert n == len(values)
        return total, parts

    assert cell01(ps) == (sum(round(p * 2.0**50) for p in ps), 1)
    # more rows than a partial may cover, near 2^12: each partial spans
    # several NumPy blocks (3 cells × 2 rows) and the cell sums 7 partials
    monkeypatch.setattr(SIM, "_LIMB_ROWS", 5)
    monkeypatch.setattr(SIM, "_MOMENT_BLOCK", 6)
    near = [top * (1 - k * 2.0**-45) for k in range(33)]
    total, parts = cell01(near)
    assert parts == 7
    assert total == sum(round(p * 2.0**50) for p in near)


def test_covariance_matrix_ragged_cells_null_like_oracle(spark):
    # widths 2, 3 and 4: pairs (1,4), (2,4), (3,4) and (4,4) are covered
    # by one row only, so (n - 1) is zero — the DuckDB oracle returns NULL
    # there; covariance_matrix raised DIVIDE_BY_ZERO under ANSI
    import duckdb
    import pyarrow as pa

    from lab_flink_repository_analytics_spark.queries import suite

    rows = [(1, [1.0, 2.0]), (2, [1.0, 2.0, 3.0]), (3, [4.0, 5.0, 6.0, 7.0])]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    got = sorted(tuple(r) for r in SIM.covariance_matrix(emb).collect())
    con = duckdb.connect()
    con.register(
        "embeddings",
        pa.table({"vec_id": [r[0] for r in rows], "embedding": [r[1] for r in rows]}),
    )
    want = sorted(con.sql(suite.EMBEDDING_COVARIANCE_SQL).fetchall())
    assert got == want
    assert [(i, j) for i, j, c in got if c is None] == [(1, 4), (2, 4), (3, 4), (4, 4)]


def test_duplicate_span_stats_merges_overlapping_intervals(spark):
    # doc 1 and 2 share the 5-token run "a b c d e": with k=3 that is
    # three duplicated gram positions (0,1,2) per doc, whose length-3
    # intervals overlap — merged coverage must be 5 tokens, not 9
    docs = spark.createDataFrame(
        [
            (1, "a b c d e x y z"),
            (2, "q a b c d e r s"),
            (3, "u v w u2 v2 w2"),  # clean doc, no duplicated grams
            (4, "t1 t2"),  # shorter than k
        ],
        "doc_id bigint, text string",
    )
    out = {
        r["doc_id"]: r
        for r in TX.duplicate_span_stats_df(docs, k=3, min_count=2).collect()
    }
    assert out[1]["dup_positions"] == 3 and out[1]["dup_token_cov"] == 5
    assert out[1]["dup_frac"] == round(5 / 8, 6)
    assert out[2]["dup_positions"] == 3 and out[2]["dup_token_cov"] == 5
    assert out[3]["dup_token_cov"] == 0 and out[3]["dup_frac"] == 0.0
    assert out[4]["n_tokens"] == 2 and out[4]["dup_frac"] == 0.0


def test_duplicate_span_stats_counts_within_doc_repeats(spark):
    # the duplicated span lives TWICE in one doc — self-counts qualify
    docs = spark.createDataFrame(
        [(1, "p q r z z p q r"), (2, "m n o m2 n2 o2")],
        "doc_id bigint, text string",
    )
    out = {
        r["doc_id"]: r
        for r in TX.duplicate_span_stats_df(docs, k=3, min_count=2).collect()
    }
    # positions 0 and 5 both hold "p q r": disjoint intervals, 6 tokens
    assert out[1]["dup_positions"] == 2 and out[1]["dup_token_cov"] == 6
    assert out[2]["dup_token_cov"] == 0


def test_bpe_train_merges_greedy_and_tiebreak(spark):
    from lab_flink_repository_analytics_spark.datapipe import bpe as BPE

    # classic corpus: "low" x2, "lower" x1 -> 'l o' and 'o w' both occur 3
    # times; tie breaks to the lexicographically smaller pair 'l o'
    docs = spark.createDataFrame(
        [(1, "low low lower")], "doc_id bigint, text string"
    )
    merges, _ = BPE.train_state(docs, n_merges=2)
    assert merges == [(1, "l", "o", "lo", 3), (2, "lo", "w", "low", 3)]


def test_bigram_lm_hybrid_head_join_matches_plain(spark, sf_dir):
    from lab_flink_repository_analytics_spark.datapipe import text as TX
    from lab_flink_repository_analytics_spark.session import load_tables

    docs = load_tables(spark, sf_dir)["documents"]
    plain = {
        r["doc_id"]: r.asDict()
        for r in TX.bigram_logprob_scores_df(docs).collect()
    }
    # head_k=1 drops the hybrid gate below the corpus size, forcing the
    # broadcast-head + shuffled-tail split — results must be identical
    hybrid = {
        r["doc_id"]: r.asDict()
        for r in TX.bigram_logprob_scores_df(docs, head_k=1).collect()
    }
    assert plain == hybrid and len(plain) > 0


def test_bpe_pair_counts_regex_matches_reference(spark):
    """The lookahead-capture pair builder must land the exact (pair, freq)
    cells of a straightforward split-and-zip reference over the same
    reps — including multi-char symbols (post-merge), single-symbol and
    empty-word reps which must contribute no pairs."""
    from pyspark.sql import functions as F

    from lab_flink_repository_analytics_spark.datapipe import bpe as BPE

    S = BPE.SEP
    reps = [
        # (wc, rep): multi-char symbols as after two merges
        (3, S + "lo" + S + S + "w" + S + S + "er" + S),
        (2, S + "a" + S + S + "a" + S + S + "a" + S),  # aaa: 2 pairs
        (5, S + "xyz" + S),  # single symbol: no pair
        (1, S + S),  # empty word: no pair
    ]
    df = spark.createDataFrame(reps, "wc bigint, rep string")
    got = {
        (r["pair"], r["freq"]) for r in BPE._pair_counts(df).collect()
    }
    expect = {}
    for wc, rep in reps:
        syms = [s for s in rep[1:-1].split(S + S)] if len(rep) > 2 else []
        for a, b in zip(syms, syms[1:]):
            expect[a + " " + b] = expect.get(a + " " + b, 0) + wc
    assert got == set(expect.items())


def test_bpe_periodic_recheckpoint_preserves_model(spark):
    from lab_flink_repository_analytics_spark.datapipe import bpe as BPE

    # a merge count crossing several re-checkpoint boundaries must learn
    # the identical model (the lineage cut is a physical-only change)
    docs = spark.createDataFrame(
        [(1, "banana bandana band and an anna")], "doc_id bigint, text string"
    )
    uncut, w1 = BPE.train_state(docs, n_merges=9, repersist_every=100)
    cut, w2 = BPE.train_state(docs, n_merges=9, repersist_every=2)
    assert uncut == cut and len(cut) > 4
    s1 = {r["w"]: r["s"] for r in w1.select("w", BPE.subwords().alias("s")).collect()}
    s2 = {r["w"]: r["s"] for r in w2.select("w", BPE.subwords().alias("s")).collect()}
    assert s1 == s2


def test_bpe_merge_application_is_greedy_left_to_right(spark):
    from lab_flink_repository_analytics_spark.datapipe import bpe as BPE

    # 'aaaa' -> pairs (a,a) x3; merging (a,a) greedily left-to-right
    # yields [aa, aa]; 'aaa' yields [aa, a] — the overlap trap
    docs = spark.createDataFrame([(1, "aaaa aaa")], "doc_id bigint, text string")
    words = BPE.word_frequencies(docs).select(
        "w", "wc", BPE._initial_rep(F.col("w")).alias("rep")
    )
    merged = BPE.apply_merge(words, "a", "a")
    segs = {r["w"]: r["s"] for r in merged.select("w", BPE.subwords().alias("s")).collect()}
    assert segs["aaaa"] == ["aa", "aa"]
    assert segs["aaa"] == ["aa", "a"]


def test_bpe_subwords_after_one_merge(spark):
    from lab_flink_repository_analytics_spark.datapipe import bpe as BPE

    # one merge: words ab x3, b, abb -> top pair (a,b) freq 4 -> 'ab' is
    # one symbol; 'b' stays one symbol, 'abb' splits after the merged pair
    docs = spark.createDataFrame(
        [(1, "ab ab b"), (2, "ab abb")], "doc_id bigint, text string"
    )
    merges, words = BPE.train_state(docs, n_merges=1)
    assert merges == [(1, "a", "b", "ab", 4)]
    segs = {r["w"]: r["s"] for r in words.select("w", BPE.subwords().alias("s")).collect()}
    assert segs == {"ab": ["ab"], "b": ["b"], "abb": ["ab", "b"]}


def test_training_order_contiguous_and_reshard_stable(spark, sf_dir):
    from lab_flink_repository_analytics_spark.queries import analytics_extra as AX

    out = AX.training_order(spark, sf_dir)
    rows = out.collect()
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard
    # deterministic under a different input partitioning
    again = {(r["doc_id"], r["shard"], r["pos"]) for r in out.repartition(7).collect()}
    assert again == {(r["doc_id"], r["shard"], r["pos"]) for r in rows}


def test_source_mixture_weights_flatten_toward_tail(spark, sf_dir):
    from lab_flink_repository_analytics_spark.queries import analytics_extra as AX

    rows = AX.source_mixture_weights(spark, sf_dir).collect()
    assert abs(sum(r["sample_weight"] for r in rows) - 1.0) < 1e-4
    # sqrt temperature flattens: the crossover share is t = (1/Σ√s)², so
    # anything above t loses weight and anything below gains; the heaviest
    # source is always ≥ t and the lightest ≤ t
    heaviest = max(rows, key=lambda r: r["token_share"])
    lightest = min(rows, key=lambda r: r["token_share"])
    assert heaviest["sample_weight"] < heaviest["token_share"] + 1e-9
    assert lightest["sample_weight"] > lightest["token_share"] - 1e-9
    # and the ordering by weight matches the ordering by share (monotone)
    by_share = sorted(rows, key=lambda r: r["token_share"])
    weights = [r["sample_weight"] for r in by_share]
    assert weights == sorted(weights)


def test_ann_recall_eval_bounds(spark, sf_dir):
    from lab_flink_repository_analytics_spark.queries import suite

    rows = suite.ann_recall_eval(spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["n_true"] == 10
        assert 0 <= r["n_hits"] <= r["n_true"]
        assert abs(r["recall"] - round(r["n_hits"] / r["n_true"], 6)) < 1e-9


def test_leakage_safe_split_never_straddles_near_dups(spark, sf_dir):
    from lab_flink_repository_analytics_spark.datapipe import graph, sampling
    from lab_flink_repository_analytics_spark.queries import suite
    from lab_flink_repository_analytics_spark.session import load_tables

    docs = load_tables(spark, sf_dir)["documents"]
    pairs = DD.near_dup_candidates(docs).select("id_a", "id_b")
    labels = graph.connected_components(
        pairs, src="id_a", dst="id_b",
        nodes=docs.select("doc_id"), node_col="doc_id",
    ).select(F.col("node").alias("doc_id"), F.col("component").alias("cluster_id"))
    assign = {
        r["doc_id"]: r["split"]
        for r in sampling.deterministic_split(labels, "cluster_id").collect()
    }
    # every LSH near-dup candidate pair lands in ONE split
    for p in pairs.collect():
        assert assign[p["id_a"]] == assign[p["id_b"]], p
    # and the graded rollup partitions the whole corpus
    counts = suite.leakage_safe_split_counts(spark, sf_dir).collect()
    assert sum(r["n_docs"] for r in counts) == docs.count()
    assert {r["split"] for r in counts} <= {"train", "valid", "test"}


def test_dedup_family_builds_lsh_candidates_once(spark, sf_dir, monkeypatch):
    # every registry consumer of LSH candidate pairs reads the one
    # session-shared build
    from lab_flink_repository_analytics_spark.queries import suite
    from lab_flink_repository_analytics_spark.session import reset_derived_state

    calls, real = [], DD.near_dup_candidates
    monkeypatch.setattr(
        DD, "near_dup_candidates", lambda *a, **k: calls.append(1) or real(*a, **k)
    )
    reset_derived_state()
    for name in ("near_dup_pairs", "near_dup_source_matrix", "lsh_dedup_eval",
                 "dedup_clusters"):
        suite.queries()[name](spark, sf_dir).collect()
    assert len(calls) == 1


def test_duplicate_span_stats_matches_bruteforce_on_random_corpus(spark):
    # seeded random corpus with injected shared spans; the operator's
    # closed-form interval math must equal a brute-force union of
    # [pos, pos+k) intervals computed in plain Python
    import random

    rng = random.Random(20240814)
    k = 4
    vocab = [f"w{i}" for i in range(30)]
    shared = ["s1", "s2", "s3", "s4", "s5", "s6"]
    docs_py = {}
    for d in range(40):
        n = rng.randint(2, 30)
        toks = [rng.choice(vocab) for _ in range(n)]
        if rng.random() < 0.5:  # splice a shared run at a random offset
            at = rng.randint(0, len(toks))
            toks = toks[:at] + shared + toks[at:]
        docs_py[d] = toks
    # brute force: gram multiset over the whole corpus
    from collections import Counter

    grams = Counter()
    for toks in docs_py.values():
        for i in range(len(toks) - k + 1):
            grams[tuple(toks[i : i + k])] += 1
    expected = {}
    for d, toks in docs_py.items():
        dup_pos = [
            i
            for i in range(len(toks) - k + 1)
            if grams[tuple(toks[i : i + k])] >= 2
        ]
        covered = set()
        for i in dup_pos:
            covered.update(range(i, i + k))
        expected[d] = (len(toks), len(dup_pos), len(covered))

    df = spark.createDataFrame(
        [(d, " ".join(t)) for d, t in docs_py.items()], "doc_id bigint, text string"
    )
    out = {
        r["doc_id"]: (r["n_tokens"], r["dup_positions"], r["dup_token_cov"])
        for r in TX.duplicate_span_stats_df(df, k=k, min_count=2).collect()
    }
    assert out == expected


def test_source_gram_overlap_detects_copying(spark, sf_dir):
    from lab_flink_repository_analytics_spark.queries import analytics_extra as AX

    rows = AX.source_gram_overlap(spark, sf_dir).collect()
    # fixture has 20 sources sharing a small vocab: every pair overlaps,
    # canonical ordering holds, and jaccard stays in (0, 1]
    assert len(rows) == 190
    for r in rows:
        assert r["source_a"] < r["source_b"]
        assert 0.0 < r["jaccard"] <= 1.0
        assert r["shared_grams"] > 0


def test_cluster_representatives_keeps_best_per_cluster(spark, sf_dir):
    # brute-force argmax over the same shared labels + quality metrics
    from lab_flink_repository_analytics_spark.queries import suite
    from lab_flink_repository_analytics_spark.session import load_tables

    labels = {
        r["doc_id"]: r["cluster_id"]
        for r in suite.dedup_clusters(spark, sf_dir).collect()
    }
    docs = load_tables(spark, sf_dir)["documents"]
    quality = {
        r["doc_id"]: (r["q"]["distinct_ratio"], r["q"]["n_tokens"])
        for r in docs.select("doc_id", TX.quality_metrics("text").alias("q")).collect()
    }
    expected = {}
    for doc_id, cl in labels.items():
        dr, nt = quality[doc_id]
        n, tot, best = expected.get(cl, (0, 0, None))
        cand = (dr, nt, -doc_id)
        expected[cl] = (n + 1, tot + nt, max(best, cand) if best else cand)

    got = suite.cluster_representatives(spark, sf_dir).collect()
    assert len(got) == len(expected)
    multi = 0
    for r in got:
        n, tot, best = expected[r["cluster_id"]]
        assert r["keep_id"] == -best[2], r
        assert r["n_docs"] == n, r
        assert r["tokens_dropped"] == tot - quality[r["keep_id"]][1], r
        multi += n > 1
    # the fixture corpus has real duplicate clusters, so the query is
    # exercised beyond the singleton fast path
    assert multi > 0


def test_hierarchical_assignments_match_two_level_bruteforce(spark):
    # 200 deterministic vectors, 81-centroid quantizer -> n_super = 9:
    # the routed argmax must equal a Python replay of the documented rule
    import math

    def vec(i):
        return [float((i * 7 + d * 13) % 19 - 9) + 0.5 for d in range(4)]

    rows = [(i, vec(i)) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cents = [(i, vec(i)) for i in range(81)]
    cdf = spark.createDataFrame(cents, "cid bigint, cv array<double>")

    asg = SIM.hierarchical_assignments(df, cdf)
    got = {r["id"]: r["cid"] for r in asg.collect()}
    # the routed bucket arrives via a broadcast join on sid
    assert "BroadcastHashJoin" in asg._jdf.queryExecution().executedPlan().toString()

    def pydot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    def cos(a, b):
        return pydot(a, b) / (math.sqrt(pydot(a, a)) * math.sqrt(pydot(b, b)))

    n_super = math.isqrt(81)
    supers = cents[:n_super]
    buckets = {sid: [] for sid, _ in supers}
    for cid, cv in cents:
        if cid < n_super:
            buckets[cid].append((cid, cv))
            continue
        best = min((((-cos(cv, sv)), sid) for sid, sv in supers))
        buckets[best[1]].append((cid, cv))
    for i, v in rows:
        bsid = min((((-cos(v, sv)), sid) for sid, sv in supers))[1]
        bcid = min((((-cos(v, cv)), cid) for cid, cv in buckets[bsid]))[1]
        assert got[i] == bcid, (i, got[i], bcid)


def test_hierarchical_degenerates_to_flat_below_gate(spark):
    # a 16-list quantizer must reproduce the flat argmax
    def vec(i):
        return [float((i * 11 + d * 5) % 23 - 11) + 0.25 for d in range(4)]

    rows = [(i, vec(i)) for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cdf = spark.createDataFrame(
        [(i, vec(i)) for i in range(16)], "cid bigint, cv array<double>"
    )
    flat = {r["id"]: r["cid"] for r in _flat_assignments(df, cdf).collect()}
    hier = {
        r["id"]: r["cid"]
        for r in SIM.hierarchical_assignments(df, cdf).collect()
    }
    assert hier == flat


def test_hierarchical_routed_vs_flat_divergence_quantified(spark):
    # For quantizers > HIERARCHICAL_MIN_LISTS the routed assignment is an
    # IVF-style APPROXIMATION of the flat argmax: a vector's true nearest
    # centroid can live under a different super.  This test keeps the
    # divergence MEASURED instead of defined away by the oracle: on a
    # deterministic 400-vector / 81-centroid corpus the routed assignment
    # must agree with the flat argmax on a large majority of vectors, and
    # must disagree on at least one (otherwise the cross-check is vacuous
    # and the approximation claim untested).
    def vec(i):
        return [float((i * 7 + d * 13) % 19 - 9) + 0.5 for d in range(4)]

    rows = [(i, vec(i)) for i in range(400)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cdf = spark.createDataFrame(
        [(i, vec(i)) for i in range(81)], "cid bigint, cv array<double>"
    )
    flat = {
        r["id"]: r["cid"]
        for r in SIM.hierarchical_assignments(df, cdf, n_super=1).collect()
    }
    routed = {
        r["id"]: r["cid"]
        for r in SIM.hierarchical_assignments(df, cdf).collect()
    }
    agree = sum(1 for i in flat if flat[i] == routed[i])
    frac = agree / len(flat)
    assert frac >= 0.7, f"routed assignment degraded too far: {frac:.3f}"
    # NOTE: this corpus happens to agree everywhere (measured frac = 1.0);
    # the actual disagreement half of the approximation claim is pinned by
    # test_hierarchical_routing_actually_diverges below on a corpus
    # CONSTRUCTED to cross super boundaries.


def test_hierarchical_routing_actually_diverges(spark):
    # constructed divergence (advisor r7: the old `frac < 1.0 or True`
    # clause was vacuous): 2-D unit vectors by angle — centroids at 0°
    # (super), 90° (super) and 40°; the 40° centroid routes to the 0°
    # super (cos 40° > cos 50°), so a VECTOR at 50° routes to the 90°
    # super whose bucket holds only the 90° centroid, while its flat
    # nearest centroid is the 40° one.  The routed result MUST differ
    # from the flat argmax on that vector — the approximation is real,
    # measured, and not defined away by the oracle.
    import math

    def ang(deg):
        return [math.cos(math.radians(deg)), math.sin(math.radians(deg))]

    cdf = spark.createDataFrame(
        [(0, ang(0)), (1, ang(90)), (2, ang(40))],
        "cid bigint, cv array<double>",
    )
    df = spark.createDataFrame(
        [(0, ang(50)), (1, ang(5)), (2, ang(85))],
        "vec_id bigint, embedding array<double>",
    )
    flat = {
        r["id"]: r["cid"]
        for r in SIM.hierarchical_assignments(df, cdf, n_super=1).collect()
    }
    routed = {
        r["id"]: r["cid"]
        for r in SIM.hierarchical_assignments(df, cdf, n_super=2).collect()
    }
    assert flat[0] == 2 and routed[0] == 1  # the constructed divergence
    assert flat[1] == routed[1] == 0  # vectors near a super still agree
    assert flat[2] == routed[2] == 1


def test_dedup_eval_cap_is_noop_at_graded_scales():
    # the DEDUP_EVAL_MAX_BLOCK truth-universe cap (queries/suite.py) was
    # mirrored into the DuckDB oracle in the same change, so the oracle
    # cannot detect a semantic shift — this pins the claim the artifacts
    # rely on instead: at BOTH graded scale factors every (source, lang)
    # block is smaller than the cap, so the bounded universe is the FULL
    # universe and all graded hashes are unchanged by the cap.  No Spark
    # needed — one aggregate over the driver parquet.
    import duckdb

    from lab_flink_repository_analytics_spark.queries import suite

    for sf in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        mx = duckdb.sql(
            f"SELECT max(n) FROM (SELECT count(*) AS n FROM "
            f"'{sf}/documents.parquet' GROUP BY source, lang)"
        ).fetchone()[0]
        assert mx < suite.DEDUP_EVAL_MAX_BLOCK, (sf, mx)


def test_dedup_eval_sampled_estimate_tracks_exact_when_cap_binds(
    spark, tmp_path, monkeypatch
):
    # where the cap BINDS, lsh_dedup_eval is a sampled estimate of the
    # uncapped precision/recall — quantify that estimate instead of
    # defining it away (the oracle mirrors the cap, so only a test can
    # see the divergence; mirrors what test_hierarchical_* does for
    # semdedup routing).  Corpus: one 90-doc (source, lang) block, 9
    # duplicate groups assigned round-robin by doc_id so the lowest-50
    # prefix keeps proportional group membership; odd docs drift below
    # the Jaccard threshold so precision is NON-trivial (< 1) in both
    # runs and the estimator has something to get wrong.
    import os

    from lab_flink_repository_analytics_spark.queries import suite

    words = [f"tok{j}" for j in range(200)]
    rows = []
    for i in range(90):
        g = i % 9
        toks = list(words[g * 14 : g * 14 + 12]) + [f"uniq{i}"]
        if i % 2 == 1:
            toks = toks[:7] + [f"drift{g}_{k}" for k in range(5)] + [f"uniq{i}"]
        rows.append((i, " ".join(toks), "en", "src0", len(" ".join(toks))))
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    sf = str(tmp_path / "sfdiv")
    df.write.mode("overwrite").parquet(os.path.join(sf, "documents.parquet"))

    def run(cap):
        monkeypatch.setattr(suite, "DEDUP_EVAL_MAX_BLOCK", cap)
        return suite.lsh_dedup_eval(spark, sf).collect()[0]

    full = run(10_000)
    capped = run(50)
    # the old candidate side, an LSH pass over the universe alone (the
    # block's 50 lowest doc_ids) plus the same-block filter, counts the same
    uni = df.filter(F.col("doc_id") < 50)
    blk = uni.select("doc_id", "source", "lang")
    old = (
        DD.near_dup_candidates(uni)
        .join(blk.toDF("id_a", "sa", "la"), "id_a")
        .join(blk.toDF("id_b", "sb", "lb"), "id_b")
        .filter("sa = sb AND la = lb")
    )
    truth = DD.ngram_jaccard_pairs(
        uni, ["source", "lang"], min_jaccard=suite.DEDUP_EVAL_TAU
    )
    assert capped["n_candidates"] == old.count()
    assert capped["n_hits"] == old.join(truth, ["id_a", "id_b"]).count()
    # the cap must actually bind: the sampled universe is a strict subset
    assert capped["n_true"] < full["n_true"]
    assert capped["n_candidates"] < full["n_candidates"]
    # precision is non-trivial in the full run (drift pairs produce LSH
    # false positives) and the sampled estimate tracks it closely
    assert full["prec"] < 1.0
    assert abs(capped["prec"] - full["prec"]) <= 0.15, (capped, full)
    assert abs(capped["rec"] - full["rec"]) <= 0.15, (capped, full)


def test_semdedup_rows_narrower_than_dim_are_kept(spark):
    # mixed embedding widths: against dim=3 the two 2-wide rows are
    # outside the width contract — their cosine against every row is
    # NULL, so they are kept and drop nothing, whichever row comes first
    rows = [
        (1, [1.0, 0.0]),
        (2, [1.0, 0.0, 0.0]),
        (3, [0.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cents = spark.createDataFrame([(0, [1.0, 0.0])], "cid int, cv array<double>")
    got = {r["vec_id"]: r["keep"] for r in SIM.semdedup(emb, cents, 0.9, dim=3).collect()}
    assert got == {1: True, 2: True, 3: True}
    # against dim=2 every row is in contract and the 3-wide row's third
    # element is never read (the oracle's fixed-width chain reads no
    # further either): it is row 1's near-dup
    got = {r["vec_id"]: r["keep"] for r in SIM.semdedup(emb, cents, 0.9, dim=2).collect()}
    assert got == {1: True, 2: False, 3: True}


def test_semdedup_null_vector_is_kept(spark):
    # a NULL vector's pair cosines are NULL: it is kept, and the
    # near-dup pair beside it still resolves
    rows = [
        (1, [1.0, 0.0]),
        (2, [0.99, 0.01]),
        (3, None),
        (4, [0.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cents = spark.createDataFrame([(0, [1.0, 0.0])], "cid int, cv array<double>")
    got = {r["vec_id"]: r["keep"] for r in SIM.semdedup(emb, cents, 0.9, dim=2).collect()}
    assert got == {1: True, 2: False, 3: True, 4: True}


def test_semdedup_zero_vector_is_kept_and_drops_nothing(spark):
    # a zero vector's cosines are 0/0: NULL, as DuckDB's x/0 in the
    # oracle, not a NaN hit that drops its whole cluster
    import pytest

    rows = [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cents = spark.createDataFrame([(0, [1.0, 1.0])], "cid int, cv array<double>")
    got = {r["vec_id"]: r["keep"] for r in SIM.semdedup(emb, cents, 0.9, dim=2).collect()}
    assert got == {1: True, 2: True, 3: True}
    with pytest.raises(ValueError):
        SIM.semdedup(emb, cents, 0.0, dim=2)


def test_round6_ge_cut_matches_spark_round_at_tau_boundaries(spark):
    # thresholds and cosines one ulp either side of k·1e-6 and k·1e-6 ±
    # 5e-7: the raw compare against _round6_ge_cut must agree with
    # Spark's F.round(cs, 6) >= t on every pair
    import math
    import random

    rng = random.Random(11)
    ks = [1, 2, 5, 500_000, 899_999, 900_000, 950_000, 999_999, 1_000_000]
    ks += [rng.randrange(1, 1_000_001) for _ in range(40)]

    def ulps(x):
        return (math.nextafter(x, -math.inf), x, math.nextafter(x, math.inf))

    pairs = []
    for k in ks:
        for t in (u for c in (0.0, -5e-7, 5e-7) for u in ulps(k * 1e-6 + c)):
            if t <= 0:
                continue
            cut = SIM._round6_ge_cut(t)
            for kk in (k - 1, k, k + 1):
                for c in (-5e-7, 0.0, 5e-7):
                    pairs += [(t, cs, cs >= cut) for cs in ulps(kk * 1e-6 + c)]
    df = spark.createDataFrame(pairs, "t double, cs double, fast boolean")
    bad = df.where((F.round("cs", 6) >= F.col("t")) != F.col("fast")).collect()
    assert bad == [], bad[:5]
