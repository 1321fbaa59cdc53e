"""Streaming jobs + sink tests: watermark windowed aggs end-to-end over a
file-drop source with availableNow, and idempotent upsert convergence."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from lab_flink_repository_analytics_spark import schemas
from lab_flink_repository_analytics_spark.io import sinks
from lab_flink_repository_analytics_spark.streaming import jobs


def _commit(date, files):
    return (None, None, None, date, None, None, files, None, None)


def _write_commits(spark, path, rows):
    spark.createDataFrame(rows, schemas.COMMIT).write.mode("append").parquet(path)


def test_streaming_commit_activity_end_to_end(spark, tmp_path):
    src = str(tmp_path / "commits")
    out = str(tmp_path / "summaries")
    ckpt = str(tmp_path / "ckpt")
    rows = [
        _commit(datetime(2021, 1, 1, 10, 5), [("flink-core/src/A.java", 0, 10, 0)]),
        _commit(datetime(2021, 1, 1, 10, 45), [("flink-core/src/B.java", 0, 5, 0)]),
        _commit(datetime(2021, 1, 1, 11, 30), [("docs/x.md", 0, 7, 0)]),
    ]
    _write_commits(spark, src, rows)

    q = jobs.run_commit_activity_job(spark, src, out, ckpt, available_now=True)
    q.awaitTermination(120)

    got = {
        (r["componentName"], r["windowStart"]): r["linesChanged"]
        for r in spark.read.parquet(out).collect()
    }
    assert got[("flink-core", datetime(2021, 1, 1, 10, 0))] == 15
    assert got[("docs", datetime(2021, 1, 1, 11, 0))] == 7

    # second batch arrives: late-ish update to an existing window plus a new
    # one — the upsert must converge (ES doc-id semantics), not duplicate
    _write_commits(
        spark,
        src,
        [_commit(datetime(2021, 1, 1, 10, 50), [("flink-core/src/C.java", 0, 100, 0)])],
    )
    q2 = jobs.run_commit_activity_job(spark, src, out, ckpt, available_now=True)
    q2.awaitTermination(120)
    got2 = {
        (r["componentName"], r["windowStart"]): r["linesChanged"]
        for r in spark.read.parquet(out).collect()
    }
    assert got2[("flink-core", datetime(2021, 1, 1, 10, 0))] == 115
    assert len(got2) == len(got)  # no duplicate keys


def test_streaming_users_per_window(spark, tmp_path):
    src = str(tmp_path / "mails")
    rows = [
        (datetime(2021, 1, 1), "a@x.com", None, None, None, None),
        (datetime(2021, 1, 2), "b@x.com", None, None, None, None),
        (datetime(2021, 1, 3), "a@x.com", None, None, None, None),
    ]
    spark.createDataFrame(rows, schemas.EMAIL).write.parquet(src)
    emails = jobs.stream_source(spark, src, schemas.EMAIL, "date", "1 day")
    agg = jobs.users_per_window_stream(emails, "365 days")
    q = (
        agg.writeStream.format("memory")
        .queryName("upw")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM upw").collect()
    assert len(out) == 1 and out[0]["cnt"] == 2


def test_watermark_drops_late_rows_append_mode(spark, tmp_path):
    # reference watermark semantics (DDL delays, README.md:88/120/145):
    # rows older than the watermark are dropped, finalized windows emit once
    from datetime import datetime as dt

    src = str(tmp_path / "ev")
    out = str(tmp_path / "agg")
    ckpt = str(tmp_path / "ckpt")
    schema = "k string, ts timestamp"

    def run():
        stream = (
            spark.readStream.schema(schema)
            .parquet(src)
            .withWatermark("ts", "1 day")
        )
        agg = (
            stream.groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(F.col("w.start").alias("ws"), "cnt")
        )
        q = (
            agg.writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .foreachBatch(
                lambda b, _: None
                if b.isEmpty()
                else b.write.mode("append").parquet(out)
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    spark.createDataFrame(
        [("a", dt(2021, 1, 10, 10, 0)), ("b", dt(2021, 1, 20, 9, 30))], schema
    ).write.mode("append").parquet(src)
    run()
    # watermark = Jan 19 09:30 → the Jan 10 window is finalized with cnt=1
    got = {r["ws"]: r["cnt"] for r in spark.read.parquet(out).collect()}
    assert got == {dt(2021, 1, 10, 10, 0): 1}

    # batch 2: a row 9 days behind the watermark (dropped) + a fresh row
    # that advances the watermark past the Jan 20 window
    spark.createDataFrame(
        [("late", dt(2021, 1, 10, 10, 30)), ("c", dt(2021, 1, 22, 0, 0))],
        schema,
    ).write.mode("append").parquet(src)
    run()
    got2 = {r["ws"]: r["cnt"] for r in spark.read.parquet(out).collect()}
    # Jan 10 window NOT re-emitted/incremented by the late row; Jan 20
    # window finalized at cnt=1
    assert got2 == {
        dt(2021, 1, 10, 10, 0): 1,
        dt(2021, 1, 20, 9, 0): 1,
    }


def test_streaming_session_windows_merge_and_finalize(spark, tmp_path):
    # session_threads_stream end-to-end: rows within the gap merge into
    # one session; the session only emits once the watermark passes
    # session_end + gap, and singleton sessions (cnt < 2) survive the
    # HAVING filter (ref README.md:227-236 unanswered-threads query)
    src = str(tmp_path / "mails")
    out = str(tmp_path / "sessions")
    ckpt = str(tmp_path / "ckpt")
    schema = "subject string, date timestamp"

    def run():
        emails = (
            spark.readStream.schema(schema)
            .parquet(src)
            .withWatermark("date", "1 day")
        )
        sess = jobs.session_threads_stream(emails, gap="2 days")
        q = (
            sess.writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .foreachBatch(
                lambda b, _: None
                if b.isEmpty()
                else b.write.mode("append").parquet(out)
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # thread A: two messages 1 day apart (merge into ONE session, cnt=2 →
    # filtered); thread B: singleton (cnt=1 → kept); plus a late-horizon
    # row far in the future so the watermark finalizes both sessions
    rows = [
        ("Re: [DISCUSS] thing", datetime(2021, 1, 1)),
        ("[DISCUSS] thing", datetime(2021, 1, 2)),
        ("[VOTE] lonely", datetime(2021, 1, 3)),
        ("closer", datetime(2021, 3, 1)),
    ]
    spark.createDataFrame(rows, schema).write.mode("append").parquet(src)
    run()
    got = {r["thread"]: r["cnt"] for r in spark.read.parquet(out).collect()}
    assert got.get("[VOTE] lonely") == 1
    assert "[DISCUSS] thing" not in got  # merged session has 2 msgs → filtered


def test_streaming_session_multi_batch_watermark_finalization_order(spark, tmp_path):
    """Multi-batch watermark advance (ref README.md:227-236 semantics):
    sessions finalize in event-time order as the watermark passes each
    session's end across RESTARTED runs sharing one checkpoint, and a
    message arriving in a later batch within the gap MERGES into the
    open session from state instead of opening a new one."""
    src = str(tmp_path / "mails")
    out = str(tmp_path / "sessions")
    ckpt = str(tmp_path / "ckpt")
    schema = "subject string, date timestamp"

    def run():
        emails = (
            spark.readStream.schema(schema)
            .parquet(src)
            .withWatermark("date", "1 day")
        )
        sess = jobs.session_threads_stream(emails, gap="2 days")
        q = (
            sess.writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .foreachBatch(
                lambda b, _: None
                if b.isEmpty()
                else b.write.mode("append").parquet(out)
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    def emitted():
        try:
            return {r["thread"]: r["cnt"] for r in spark.read.parquet(out).collect()}
        except Exception:
            return {}

    # run 1: X's session [Jan 1, Jan 3) closes under wm Jan 4; Y's
    # [Jan 5, Jan 7) is still open
    spark.createDataFrame(
        [("[X] one", datetime(2021, 1, 1)), ("[Y] two", datetime(2021, 1, 5))],
        schema,
    ).write.mode("append").parquet(src)
    run()
    assert emitted() == {"[X] one": 1}

    # run 2: a second Y message INSIDE the gap merges with the open
    # session from checkpointed state (cnt -> 2, filtered by HAVING);
    # Z opens and stays open under wm Jan 19
    spark.createDataFrame(
        [("Re: [Y] two", datetime(2021, 1, 6)), ("[Z] three", datetime(2021, 1, 20))],
        schema,
    ).write.mode("append").parquet(src)
    run()
    assert emitted() == {"[X] one": 1}  # Y merged->filtered, Z still open

    # run 3: a far-future row advances the watermark past Z's end — Z
    # finalizes LAST, in event-time order
    spark.createDataFrame(
        [("closer", datetime(2021, 3, 1))], schema
    ).write.mode("append").parquet(src)
    run()
    assert emitted() == {"[X] one": 1, "[Z] three": 1}


def test_stateful_commit_activity_on_rocksdb_state_store(spark, tmp_path):
    # the reference runs RocksDB state backends in every ITCase
    # (SURVEY.md §4); prove the windowed commit job keeps its window state
    # in Spark's RocksDB provider across a restart (the conf applies per
    # started query and is pinned in the checkpoint's offset log)
    import glob

    from lab_flink_repository_analytics_spark.session import ROCKSDB_PROVIDER

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, ROCKSDB_PROVIDER)
    try:
        src = str(tmp_path / "commits")
        out = str(tmp_path / "summaries")
        ckpt = str(tmp_path / "ckpt")
        for minute, name, lines in ((10, "A", 4), (40, "B", 6)):
            files = [(f"flink-core/src/{name}.java", 0, lines, 0)]
            _write_commits(spark, src, [_commit(datetime(2022, 3, 1, 9, minute), files)])
            q = jobs.run_commit_activity_job(spark, src, out, ckpt, available_now=True)
            q.awaitTermination(120)
        got = {
            (r["componentName"], r["windowStart"]): r["linesChanged"]
            for r in spark.read.parquet(out).collect()
        }
        # 4 + 6: the restart added onto the window sum restored from state
        assert got == {("flink-core", datetime(2022, 3, 1, 9, 0)): 10}
        offsets = glob.glob(ckpt + "/offsets/*")
        assert offsets and all(ROCKSDB_PROVIDER in open(f).read() for f in offsets)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_upsert_by_key_converges(spark, tmp_path):
    path = str(tmp_path / "ds")
    df1 = spark.createDataFrame([("a", 1, 10), ("b", 1, 20)], "k: string, w: int, v: int")
    sinks.upsert_by_key(spark, df1, path, ["k", "w"])
    df2 = spark.createDataFrame([("a", 1, 99), ("c", 2, 30)], "k: string, w: int, v: int")
    sinks.upsert_by_key(spark, df2, path, ["k", "w"])
    sinks.upsert_by_key(spark, df2, path, ["k", "w"])  # idempotent re-run
    got = {(r["k"], r["w"]): r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {("a", 1): 99, ("b", 1): 20, ("c", 2): 30}


def test_upsert_by_key_recovers_from_crash_between_renames(spark, tmp_path):
    # simulate _swap_in dying BETWEEN its two renames (the only window
    # where `path` is absent): dataset displaced to ._old, the committed
    # merge sitting complete in ._tmp.  The next upsert must first finish
    # the interrupted swap (the ._tmp copy wins — the merge had fully
    # committed), then apply its own updates on top.
    import shutil

    path = str(tmp_path / "ds")
    df1 = spark.createDataFrame([("a", 10), ("b", 20)], "k: string, v: int")
    sinks.upsert_by_key(spark, df1, path, ["k"])
    df2 = spark.createDataFrame([("a", 99)], "k: string, v: int")
    sinks.upsert_by_key(spark, df2, path, ["k"])
    # reconstruct the mid-swap crash state: `path` was renamed to ._old
    # (holding the PRE-merge state df1) and the merged result is in ._tmp
    shutil.move(path, path + "._old")
    shutil.copytree(path + "._old", path + "._tmp")
    # make ._tmp the POST-merge state so the two copies are distinguishable
    spark.createDataFrame(
        [("a", 99), ("b", 20)], "k: string, v: int"
    ).write.mode("overwrite").parquet(path + "._tmp")
    df3 = spark.createDataFrame([("c", 30)], "k: string, v: int")
    sinks.upsert_by_key(spark, df3, path, ["k"])
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {"a": 99, "b": 20, "c": 30}  # ._tmp (committed merge) won
    import os

    assert not os.path.exists(path + "._tmp") and not os.path.exists(path + "._old")


def test_upsert_by_key_ignores_aborted_tmp_write(spark, tmp_path):
    # crash DURING the tmp write: `path` still intact, ._tmp exists but has
    # no _SUCCESS marker — recovery must leave `path` alone and the next
    # merge must not read the aborted garbage
    import os

    path = str(tmp_path / "ds")
    df1 = spark.createDataFrame([("a", 10)], "k: string, v: int")
    sinks.upsert_by_key(spark, df1, path, ["k"])
    os.makedirs(path + "._tmp")
    with open(path + "._tmp/part-garbage.parquet", "wb") as f:
        f.write(b"not parquet")
    df2 = spark.createDataFrame([("b", 20)], "k: string, v: int")
    sinks.upsert_by_key(spark, df2, path, ["k"])
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {"a": 10, "b": 20}
    assert not os.path.exists(path + "._tmp")


def test_upsert_by_key_rolls_back_when_tmp_incomplete(spark, tmp_path):
    # crash mid-swap with an INCOMPLETE ._tmp (no _SUCCESS): path is gone,
    # ._old holds the only intact copy — recovery must restore it
    import os
    import shutil

    path = str(tmp_path / "ds")
    df1 = spark.createDataFrame([("a", 10), ("b", 20)], "k: string, v: int")
    sinks.upsert_by_key(spark, df1, path, ["k"])
    shutil.move(path, path + "._old")
    os.makedirs(path + "._tmp")  # aborted write: empty, no _SUCCESS
    df2 = spark.createDataFrame([("c", 30)], "k: string, v: int")
    sinks.upsert_by_key(spark, df2, path, ["k"])
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {"a": 10, "b": 20, "c": 30}  # rolled back to ._old, then merged
    assert not os.path.exists(path + "._tmp") and not os.path.exists(path + "._old")


def test_kafka_json_shape(spark):
    df = spark.createDataFrame([(1, "x")], "id: int, name: string")
    out = sinks.to_kafka_json(df, key_cols=["id"]).collect()[0]
    assert out["key"] == '{"id":1}'
    assert out["value"] == '{"id":1,"name":"x"}'


def test_fan_out(spark, tmp_path):
    df = spark.createDataFrame([(1,), (2,)], "x: int")
    p1, p2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    sinks.fan_out(
        df,
        [
            lambda d: d.write.mode("overwrite").parquet(p1),
            lambda d: d.selectExpr("x * 2 AS x").write.mode("overwrite").parquet(p2),
        ],
    )
    assert sorted(r["x"] for r in spark.read.parquet(p1).collect()) == [1, 2]
    assert sorted(r["x"] for r in spark.read.parquet(p2).collect()) == [2, 4]


class _RenameIntoFs:
    """A real Hadoop FileSystem whose rename onto a path named ``live``
    returns ``result``, or raises it when it is an exception; every other
    call goes through."""

    def __init__(self, fs, live, result):
        self._fs, self._live, self._result = fs, live, result

    def rename(self, src, dst):
        if dst.getName() == self._live:
            if isinstance(self._result, Exception):
                raise self._result
            return self._result
        return self._fs.rename(src, dst)

    def __getattr__(self, name):
        return getattr(self._fs, name)


def _fragmented_100(spark, path):
    for i in range(4):
        spark.range(i * 25, (i + 1) * 25).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        ).coalesce(1).write.mode("append").parquet(path)


def _fail_renames_into(monkeypatch, path, result):
    """Route every FileSystem the sinks open through :class:`_RenameIntoFs`."""
    real = sinks._hadoop_fs

    def wrapped(spark, p):
        fs, hpath = real(spark, p)
        return _RenameIntoFs(fs, path.rstrip("/").rsplit("/", 1)[-1], result), hpath

    monkeypatch.setattr(sinks, "_hadoop_fs", wrapped)


def _repartitioned(existing):
    """A rewrite's merge that keeps every row: the live copy in 2 files."""
    return existing.repartition(2)


def test_rewrite_crash_before_swap_keeps_data_for_next_upsert(
    spark, tmp_path, monkeypatch
):
    # a rewrite dies after the live copy is moved aside and before the
    # new copy is renamed into place; the next upsert must find a
    # complete copy to merge into, not start over from its own rows
    import pytest

    path = str(tmp_path / "ds")
    _fragmented_100(spark, path)

    class _Crash(Exception):
        pass

    with monkeypatch.context() as m:
        _fail_renames_into(m, path, _Crash())
        with pytest.raises(_Crash):
            sinks.rewrite(spark, path, _repartitioned)
    upd = spark.createDataFrame([(100, 1000)], "k: long, v: long")
    sinks.upsert_by_key(spark, upd, path, ["k"])
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {k: k * 10 for k in range(101)}


def test_rewrite_raises_on_false_rename(spark, tmp_path, monkeypatch):
    # Hadoop reports a failed rename by returning false; a rewrite must
    # raise, not report success with the live path gone, and the next
    # rewrite must recover every row
    import pytest

    path = str(tmp_path / "ds")
    _fragmented_100(spark, path)
    with monkeypatch.context() as m:
        _fail_renames_into(m, path, False)
        with pytest.raises(RuntimeError, match="rename failed"):
            sinks.rewrite(spark, path, _repartitioned)
    sinks.rewrite(spark, path, _repartitioned)
    import glob

    assert len(glob.glob(f"{path}/*.parquet")) == 2  # the new copy is live
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {k: k * 10 for k in range(100)}


def test_streaming_sliding_windows_emit_on_watermark(spark, tmp_path):
    # sliding (HOP) windows in streaming append mode: an event at 03:00
    # lands in the four 1-day/6h windows covering it; all four emit once
    # the watermark (driven by a far-future row) passes their ends
    src = str(tmp_path / "events")
    out = str(tmp_path / "rates")
    ckpt = str(tmp_path / "ckpt_slide")
    schema = "ts timestamp, event_type string"
    rows = [
        (datetime(2021, 1, 2, 3), "click"),
        (datetime(2021, 3, 1), "horizon"),  # advances the watermark
    ]
    spark.createDataFrame(rows, schema).write.mode("append").parquet(src)
    events = (
        spark.readStream.schema(schema).parquet(src).withWatermark("ts", "1 hour")
    )
    q = (
        jobs.sliding_activity_stream(events)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch(
            lambda b, _: None
            if b.isEmpty()
            else b.write.mode("append").parquet(out)
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["window_start"], r["window_end"])
        for r in spark.read.parquet(out).filter("event_type = 'click'").collect()
    )
    assert len(got) == 4  # duration/slide = 4 overlapping windows
    assert got[0] == (datetime(2021, 1, 1, 6), datetime(2021, 1, 2, 6))
    assert got[-1] == (datetime(2021, 1, 2, 0), datetime(2021, 1, 3, 0))
    # every window covers the event instant
    assert all(s <= datetime(2021, 1, 2, 3) < e for s, e in got)


def test_drop_duplicates_within_watermark_builtin(spark, tmp_path):
    # Spark 3.5+ built-in bounded-state dedup (first row per key while the
    # watermark holds it, engine-managed state eviction): the
    # zero-custom-code path for streaming dedup at scale.
    src = str(tmp_path / "docs")
    rows = [
        (1, "aaa", datetime(2021, 1, 1, 10)),
        (2, "aaa", datetime(2021, 1, 1, 10, 30)),  # dup inside the 1h window
        (3, "bbb", datetime(2021, 1, 1, 12)),
    ]
    spark.createDataFrame(rows, "doc_id int, fp string, ts timestamp").write.parquet(src)
    stream = spark.readStream.schema("doc_id int, fp string, ts timestamp").parquet(src)
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(["fp"])
    q = (
        deduped.writeStream.format("memory")
        .queryName("ddww_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r["fp"] for r in spark.sql("SELECT * FROM ddww_stream").collect())
    assert got == ["aaa", "bbb"]


def test_streaming_commit_activity_restart_resume_sf001(spark, tmp_path):
    # the FLAGSHIP pipeline under real micro-batching at sf0.01: commits
    # synthesized from orders exactly like the graded `commit_activity`
    # query, split at the median commitDate into two drops, two
    # availableNow runs of run_commit_activity_job sharing one checkpoint
    # (the second is a restart resuming from source offsets + window
    # state), final upserted state == the same aggregation run in batch.
    # Mirrors GithubCommitSource.java:148-166 (resume) +
    # FlinkCommitProgram.java:96-141 (idempotent ES upsert).
    orders = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
    k = F.col("o_orderkey")

    def fc(prefix_expr, mult):
        return F.struct(
            prefix_expr.alias("filename"),
            F.lit(0).alias("linesAdded"),
            ((k * mult) % 100).cast("int").alias("linesChanged"),
            F.lit(0).alias("linesRemoved"),
        )

    ns = F.lit(None).cast("string")
    nt = F.lit(None).cast("timestamp")
    commits = orders.select(
        ns.alias("author"),
        nt.alias("authorDate"),
        ns.alias("authorEmail"),
        F.col("o_orderdate").cast("timestamp").alias("commitDate"),
        ns.alias("committer"),
        ns.alias("committerEmail"),
        F.array(
            fc(F.concat(F.lit("flink-"), (k % 7).cast("string"), F.lit("/src/main/java/A.java")), 7),
            fc(F.concat(F.lit("docs/content/p"), (k % 5).cast("string"), F.lit(".md")), 11),
            fc(F.when(k % 4 == 0, F.lit("LICENSE")).otherwise(F.lit("tools/ci/t.sh")), 13),
        ).alias("filesChanged"),
        ns.alias("sha1"),
        ns.alias("shortInfo"),
    )
    split = commits.selectExpr(
        "percentile_approx(commitDate, 0.5) AS m"
    ).first()["m"]
    src = str(tmp_path / "commits")
    out = str(tmp_path / "summaries")
    ckpt = str(tmp_path / "ckpt")
    # one file per drop: within a micro-batch the watermark only advances
    # AFTER the batch, so unordered rows inside one drop can't be dropped
    # as late; across drops the median split keeps drop2 >= drop1's max
    # minus the 1-day watermark delay
    commits.filter(F.col("commitDate") < F.lit(split)).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q = jobs.run_commit_activity_job(spark, src, out, ckpt, available_now=True)
    q.awaitTermination(180)
    mid = {
        (r["componentName"], r["windowStart"]): r["linesChanged"]
        for r in spark.read.parquet(out).collect()
    }
    commits.filter(F.col("commitDate") >= F.lit(split)).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q2 = jobs.run_commit_activity_job(spark, src, out, ckpt, available_now=True)
    q2.awaitTermination(180)

    got = {
        (r["componentName"], r["windowStart"]): r["linesChanged"]
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r["componentName"], r["windowStart"]): r["linesChanged"]
        for r in jobs.commit_activity_stream(commits).collect()  # batch mode
    }
    assert got == want and len(want) > 0
    # the restart did real work: the second run added/updated windows
    assert mid != got and len(mid) > 0


def test_streaming_quiet_sessions_restart_resume_sf001(spark, tmp_path):
    # the graded quiet_sessions (12h session windows per user, HAVING
    # cnt < 2) under real micro-batching at sf0.01: events split at the
    # median ts so sessions STRADDLE the restart — batch-2 rows within
    # the gap must merge into open sessions from the checkpointed state,
    # not open new ones.  A far-future closer row (user -1) pushes the
    # watermark past every real session so the append-mode emitted set is
    # complete, then must equal the graded batch query exactly.
    from datetime import timedelta

    from lab_flink_repository_analytics_spark.queries import community as CQ
    from lab_flink_repository_analytics_spark.queries import suite
    from lab_flink_repository_analytics_spark.session import load_tables

    ev = load_tables(spark, "/root/testdata/sf0.01")["events"].select(
        "user_id", "ts"
    )
    rows = ev.orderBy("ts", "user_id").collect()
    half = len(rows) // 2
    closer = (-1, rows[-1]["ts"] + timedelta(days=100))
    src = str(tmp_path / "ev")
    out = str(tmp_path / "sessions")
    ckpt = str(tmp_path / "ckpt")
    schema = "user_id bigint, ts timestamp"

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .parquet(src)
            .withWatermark("ts", "1 hour")
        )

        def _sink(batch_df, _):
            if not batch_df.isEmpty():
                batch_df.write.mode("append").parquet(out)

        q = (
            CQ.quiet_sessions(stream)
            .writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .foreachBatch(_sink)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    spark.createDataFrame(rows[:half], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run_once()
    spark.createDataFrame(rows[half:] + [closer], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run_once()

    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["cnt"])
        for r in spark.read.parquet(out).collect()
        if r["user_id"] != -1
    }
    want = {
        (r["user_id"], r["session_start"], r["session_end"], r["cnt"])
        for r in suite.quiet_sessions(spark, "/root/testdata/sf0.01").collect()
    }
    assert got == want and len(want) > 0
    # the split actually straddled sessions: some user has rows on both
    # sides of the boundary within the gap, exercising state restore
    boundary = rows[half]["ts"]
    left_last = {}
    for r in rows[:half]:
        left_last[r["user_id"]] = r["ts"]
    straddled = sum(
        1
        for r in rows[half:]
        if r["user_id"] in left_last
        and (r["ts"] - left_last[r["user_id"]]) < timedelta(hours=12)
    )
    assert straddled > 0, boundary


def test_rename_or_raise_rejects_false_return():
    # Hadoop FileSystem.rename reports many failures by RETURNING FALSE
    # (dest exists, src missing, permission on some object stores) instead
    # of throwing.  A swallowed false in _swap_in means: path->._old fails
    # silently, ._tmp->path then also fails (dest still exists), the call
    # reports success with the merge unapplied, and the NEXT call's step-1
    # cleanup deletes the committed ._tmp — a silently dropped upsert.
    class _FakeFs:
        def __init__(self, ok):
            self._ok = ok
            self.calls = []

        def rename(self, src, dst):
            self.calls.append((src, dst))
            return self._ok

    sinks._rename_or_raise(_FakeFs(True), "a", "b")  # true passes through
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="rename failed"):
        sinks._rename_or_raise(_FakeFs(False), "a", "b")


def test_recover_swap_warns_when_nothing_salvageable(spark, tmp_path, caplog):
    # exists-but-empty `path` (crash before any complete copy existed) with
    # neither a _SUCCESS-marked ._tmp nor ._old: recovery finds nothing.
    # It must WARN so an operator can tell "crash left no complete copy"
    # apart from "never written" when the subsequent read fails.
    import logging
    import os

    path = str(tmp_path / "ds")
    os.makedirs(path)  # unhealthy: exists, zero entries
    with caplog.at_level(logging.WARNING, logger="lab_flink_repository_analytics_spark.io.sinks"):
        sinks._recover_swap(spark, path)
    assert any("no salvageable copy" in r.message for r in caplog.records)

    # healthy path or plain-missing path must NOT warn (first-call case)
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="lab_flink_repository_analytics_spark.io.sinks"):
        sinks._recover_swap(spark, str(tmp_path / "never_written"))
    assert not caplog.records


def test_streaming_sliding_activity_restart_resume_sf001(spark, tmp_path):
    # the HOP-window twin under real micro-batching at sf0.01: events
    # split at the median ts into two drops, two availableNow runs
    # sharing one checkpoint (run 2 is a restart that must merge batch-2
    # rows into OPEN hop windows from the checkpointed state), final
    # append-mode emitted set == the same aggregation in batch mode.
    from datetime import timedelta

    from lab_flink_repository_analytics_spark.session import load_tables

    ev = load_tables(spark, "/root/testdata/sf0.01")["events"].select(
        "event_type", "ts"
    )
    rows = ev.collect()
    split = sorted(r["ts"] for r in rows)[len(rows) // 2]
    closer = ("___closer___", max(r["ts"] for r in rows) + timedelta(days=100))
    src = str(tmp_path / "ev")
    out = str(tmp_path / "win")
    ckpt = str(tmp_path / "ckpt")
    schema = "event_type string, ts timestamp"

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .parquet(src)
            .withWatermark("ts", "1 hour")
        )
        q = (
            jobs.sliding_activity_stream(stream)
            .writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .foreachBatch(
                lambda b, _: None
                if b.isEmpty()
                else b.write.mode("append").parquet(out)
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    first = [r for r in rows if r["ts"] < split]
    second = [tuple(r) for r in rows if r["ts"] >= split] + [closer]
    spark.createDataFrame(first, schema).coalesce(1).write.mode("append").parquet(src)
    run_once()
    mid_rows = spark.read.parquet(out).count()
    spark.createDataFrame(second, schema).coalesce(1).write.mode("append").parquet(src)
    run_once()

    key = lambda r: (r["window_start"], r["window_end"], r["event_type"], r["events"])  # noqa: E731
    got = {
        key(r)
        for r in spark.read.parquet(out).collect()
        if r["event_type"] != "___closer___"
    }
    batch_in = spark.createDataFrame([tuple(r) for r in rows] + [closer], schema)
    want = {
        key(r)
        for r in jobs.sliding_activity_stream(batch_in).collect()
        if r["event_type"] != "___closer___"
    }
    assert got == want and len(want) > 0
    # restart did real work: run 2 closed windows run 1 could not, and at
    # least one emitted window STRADDLES the split (state restored, both
    # drops contributed to it)
    assert 0 < mid_rows < len(got)
    assert any(ws < split < we for ws, we, _, _ in got)


def test_streaming_session_threads_restart_resume_sf001(spark, tmp_path):
    # the unanswered-threads session twin (README session query) at
    # sf0.01 scale: emails synthesized from orders (thread key from
    # custkey, Re:-prefix variety so NormalizeEmailThread matters), split
    # at the median date, two runs sharing one checkpoint; sessions
    # straddling the split must merge from restored state; final emitted
    # set == the same session aggregation in batch mode.
    from datetime import timedelta

    orders = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
    emails_df = orders.select(
        F.concat(
            F.when(F.col("o_orderkey") % 3 == 0, F.lit("Re: ")).otherwise(F.lit("")),
            F.lit("[DISCUSS] topic-"),
            (F.col("o_custkey") % 200).cast("string"),
        ).alias("subject"),
        F.col("o_orderdate").cast("timestamp").alias("date"),
    )
    rows = [tuple(r) for r in emails_df.collect()]
    split = sorted(d for _, d in rows)[len(rows) // 2]
    closer = ("___closer___", max(d for _, d in rows) + timedelta(days=400))
    src = str(tmp_path / "mails")
    out = str(tmp_path / "sessions")
    ckpt = str(tmp_path / "ckpt")
    schema = "subject string, date timestamp"

    def run_once():
        emails = (
            spark.readStream.schema(schema)
            .parquet(src)
            .withWatermark("date", "1 day")
        )
        q = (
            jobs.session_threads_stream(emails)
            .writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .foreachBatch(
                lambda b, _: None
                if b.isEmpty()
                else b.write.mode("append").parquet(out)
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    spark.createDataFrame(
        [r for r in rows if r[1] < split], schema
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()
    spark.createDataFrame(
        [r for r in rows if r[1] >= split] + [closer], schema
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()

    key = lambda r: (r["thread"], r["session_end"], r["cnt"])  # noqa: E731
    got = {
        key(r)
        for r in spark.read.parquet(out).collect()
        if r["thread"] != "___closer___"
    }
    batch_in = spark.createDataFrame(rows + [closer], schema)
    want = {
        key(r)
        for r in jobs.session_threads_stream(batch_in).collect()
        if r["thread"] != "___closer___"
    }
    assert got == want and len(want) > 0
    # some thread has messages within the 30d gap on BOTH sides of the
    # split — those sessions merged from checkpointed state on restart
    from collections import defaultdict

    last_left = {}
    for s, d in rows:
        if d < split:
            last_left[s] = max(last_left.get(s, d), d)
    straddled = sum(
        1
        for s, d in rows
        if d >= split
        and s in last_left
        and (d - last_left[s]) < timedelta(days=30)
    )
    assert straddled > 0
