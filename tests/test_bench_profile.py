"""bench.py's per-query profile record: each query runs under its own Spark
job group, so two queries run concurrently keep their own jobs, count what
they count when run alone, and list only the shared builds they triggered."""

from __future__ import annotations

import concurrent.futures as cf

import bench
from lab_flink_repository_analytics_spark import session as S
from lab_flink_repository_analytics_spark.queries import suite
from perfbench.tracing import StageReader

#: triggers the session-shared (source, word, count) build, whose eager
#: checkpoint runs a job while the DataFrame is built
SHARING = "source_mixture_weights"
#: uses no shared build
PLAIN = "q1_pricing_summary"


def _fresh_state(spark, sf_dir):
    S.reset_derived_state()
    S.release_persist_slots()
    # the table map is a shared build too: load it here, outside both groups
    S.load_tables(spark, sf_dir)


def test_concurrent_queries_keep_their_own_profile(spark, sf_dir):
    reader = StageReader(spark)
    qs = suite.queries()

    def run(group, name):
        return bench.run_profiled(spark, reader, group, qs[name], sf_dir)[1]

    _fresh_state(spark, sf_dir)
    with cf.ThreadPoolExecutor(max_workers=2) as ex:
        futures = {n: ex.submit(run, f"pair:{n}", n) for n in (SHARING, PLAIN)}
        pair = {n: f.result(timeout=600) for n, f in futures.items()}
    alone = {}
    for n in (SHARING, PLAIN):
        _fresh_state(spark, sf_dir)
        alone[n] = run(f"alone:{n}", n)

    tracker = spark.sparkContext.statusTracker()
    sharing_jobs = set(tracker.getJobIdsForGroup(f"pair:{SHARING}"))
    plain_jobs = set(tracker.getJobIdsForGroup(f"pair:{PLAIN}"))
    assert sharing_jobs and plain_jobs
    assert not sharing_jobs & plain_jobs
    for n in (SHARING, PLAIN):
        for k in bench.COUNTS:
            assert pair[n][k] == alone[n][k] >= 1, (n, k, pair[n], alone[n])
    assert "source_word_counts" in pair[SHARING]["shared_builds"]
    assert "source_word_counts" in alone[SHARING]["shared_builds"]
    assert pair[PLAIN]["shared_builds"] == {}
    S.reset_derived_state()
    S.release_persist_slots()
