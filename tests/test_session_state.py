"""Session-shared state plumbing: derived_state memo lifecycle (bounded
FIFO eviction, reset hook), the JVM local relation, the driver-memory
clamp and the sweep of dead checkpoints."""

from __future__ import annotations

from lab_flink_repository_analytics_spark import session as S


def test_derived_state_evicts_oldest_not_all(spark, monkeypatch):
    S.reset_derived_state()
    monkeypatch.setattr(S, "_DERIVED_MEMO_CAP", 3)
    builds = []

    def mk(i):
        return lambda: builds.append(i) or i

    for i in range(4):
        assert S.derived_state(spark, f"evict_k{i}", "/tmp", mk(i)) == i
    # cap 3: k0 (oldest) was evicted when k3 arrived; k1..k3 still memoized
    n = len(builds)
    assert S.derived_state(spark, "evict_k3", "/tmp", mk(99)) == 3
    assert S.derived_state(spark, "evict_k1", "/tmp", mk(98)) == 1
    assert len(builds) == n  # memo hits, no rebuild
    assert S.derived_state(spark, "evict_k0", "/tmp", mk(0)) == 0
    assert len(builds) == n + 1  # evicted entry rebuilds
    S.reset_derived_state()


def test_reset_derived_state_unpersists_and_forces_rebuild(spark):
    S.reset_derived_state()
    built = []
    df = spark.range(10).persist()
    df.count()
    assert S.derived_state(spark, "rst", "/tmp", lambda: built.append(1) or df) is df
    assert S.derived_state(spark, "rst", "/tmp", lambda: built.append(2) or df) is df
    assert built == [1]  # second call is a memo hit
    S.reset_derived_state()
    # best-effort cleanup dropped the cached value...
    assert not df.storageLevel.useMemory and not df.storageLevel.useDisk
    # ...and the next call rebuilds
    S.derived_state(spark, "rst", "/tmp", lambda: built.append(3) or df)
    assert built == [1, 3]
    S.reset_derived_state()


def test_derived_state_eviction_releases_containers(spark, monkeypatch):
    S.reset_derived_state()
    monkeypatch.setattr(S, "_DERIVED_MEMO_CAP", 1)
    df = spark.range(5).persist()
    df.count()
    S.derived_state(spark, "cont_a", "/tmp", lambda: {"frame": df, "n": 5})
    S.derived_state(spark, "cont_b", "/tmp", lambda: 1)  # evicts cont_a
    assert not df.storageLevel.useMemory and not df.storageLevel.useDisk
    S.reset_derived_state()


def test_local_relation_matches_createdataframe_and_stays_jvm(spark):
    """session.local_relation must (a) return the same rows as
    createDataFrame for model-shaped data — including strings needing SQL
    escaping (quotes, backslashes, newlines, the reserved BPE separator),
    doubles that only round-trip via repr, arrays and NULLs — and (b)
    plan as a pure-JVM LocalRelation with no Python-backed ExistingRDD
    scan (the whole point: a createDataFrame scan pays defaultParallelism
    Python worker spin-ups per materialization)."""
    from lab_flink_repository_analytics_spark.session import local_relation

    rows = [
        (1, "it's a \\ backslash\nline", 0.1 + 0.2, [1.5, float("1e-300")]),
        (2, "sep", -0.0, []),
        (None, None, None, None),
    ]
    schema = "k int, s string, x double, v array<double>"
    lr = local_relation(spark, rows, schema)
    cdf = spark.createDataFrame(rows, schema)
    assert sorted(map(tuple, lr.collect()), key=repr) == sorted(
        map(tuple, cdf.collect()), key=repr
    )
    plan = lr._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan or "LocalRelation" in plan
    assert "ExistingRDD" not in plan
    # empty input keeps the column set
    assert local_relation(spark, [], schema).columns == ["k", "s", "x", "v"]


def test_default_driver_memory_is_clamped():
    gb = S._default_driver_memory_gb()
    assert isinstance(gb, int)
    assert 1 <= gb <= 16


def test_sweep_persistent_rdds_frees_dead_checkpoints(spark):
    # dead localCheckpoint blocks are invisible to the slot/memo teardown
    # (only GC + ContextCleaner frees them, which loses the race at big
    # scale factors); the sweep must unpersist them, and a fresh build of
    # the same query must recompute correctly afterwards
    S.release_persist_slots()
    S.reset_derived_state()
    S.sweep_persistent_rdds(spark)  # start from a clean block manager
    ck = spark.range(100).localCheckpoint(eager=True)
    assert ck.count() == 100
    assert S.sweep_persistent_rdds(spark) >= 1
    assert S.sweep_persistent_rdds(spark) == 0  # nothing left resident
    # fresh plan (not the severed one) recomputes fine
    assert spark.range(100).localCheckpoint(eager=True).count() == 100
