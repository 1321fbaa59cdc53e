"""The benchmark's workloads: what one pass does and how it is checked.

``community_stream`` - the paper's SQL analytics and its flagship streaming
job: 4 community registry queries, then one commit-stream rep (drops
through ``streaming.jobs.run_commit_activity_job`` and its upsert sink).
Driver-side bound: DataFrame construction, planning, regex ``functions``,
micro-batch planning and the whole-output sink rewrite.

``kernels_mbox`` - the executor-bound side: vector and graph kernels of
``datapipe`` (shared builds, iterative loops, shuffles, Arrow workers),
then the mailing-list source (``format("mbox")`` parsed in Python
workers, written month-partitioned, then queried).
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
from statistics import median

import numpy as np
import pyarrow.parquet as pq

import gen
from metrics import StealClock, check_record
from tracing import (
    GROUP_FIELDS,
    RETENTION_CONF,
    CallTimer,
    StageReader,
    add_into,
    stream_stats,
)

from lab_flink_repository_analytics_spark import schemas
from lab_flink_repository_analytics_spark import session as S
from lab_flink_repository_analytics_spark.datapipe import graph, similarity
from lab_flink_repository_analytics_spark.functions import aggregate, scalar
from lab_flink_repository_analytics_spark.ingest import mbox, mbox_source
from lab_flink_repository_analytics_spark.io import sinks
from lab_flink_repository_analytics_spark.queries import community, suite
from lab_flink_repository_analytics_spark.streaming import jobs

#: registry tables are fixed (the seed orders the queries instead)
TABLE_SEED = 42

COMMUNITY = ("commit_activity", "jira_tickets", "aliases_company", "quiet_sessions")
#: kernel query -> the datapipe module it exercises
KERNELS = {
    "embedding_covariance": "datapipe.similarity",
    "copurchase_pagerank": "datapipe.graph",
}
GROUPS = ("queries.community", "datapipe.similarity", "datapipe.graph")

#: modules whose public functions the traced run times
TIMED_MODULES = {
    "queries.community": community,
    "datapipe.similarity": similarity,
    "datapipe.graph": graph,
    "functions.scalar": scalar,
    "functions.aggregate": aggregate,
    "streaming.jobs": jobs,
    "io.sinks": sinks,
    "ingest.mbox": mbox,
}

#: the --trace 1 metrics, all present on every workload (a layer that a
#: workload bypasses reports zero counts)
PER_LAYER = [
    ("session.start_s", "s"),
    ("session.load_tables_s", "s"),
    ("session.shared_build_s", "s"),
    ("session.shared_builds", "count"),
    ("queries.build_s", "s"),
    ("queries.plan_s", "s"),
    ("queries.exec_s", "s"),
    ("queries.jobs", "count"),
    ("queries.stages", "count"),
    ("queries.tasks", "count"),
    ("queries.executor_cpu_s", "s"),
    ("queries.executor_run_s", "s"),
    ("queries.busy_share", "share"),
    ("queries.shuffle_mb", "MB"),
    ("queries.spill_mb", "MB"),
    *[(f"{g}.{f}", "count") for g in GROUPS for f in ("jobs", "stages", "tasks")],
    ("streaming.batches", "count"),
    ("streaming.state_rows", "count"),
    ("streaming.late_rows_dropped", "count"),
    ("io.sinks.output_rows", "count"),
    ("io.sinks.output_files", "count"),
    ("io.sinks.output_mb", "MB"),
    ("ingest.mbox.rows", "count"),
    ("ingest.mbox.tasks", "count"),
    ("bench.trace_overhead_s", "s"),
]


def _micros(ts) -> int:
    """Epoch microseconds of a datetime (naive = UTC) or pandas Timestamp."""
    if getattr(ts, "tzinfo", None) is not None:
        ts = ts.replace(tzinfo=None) - ts.utcoffset()
    return int((ts - gen.datetime(1970, 1, 1)) // gen.timedelta(microseconds=1))


def _parquet_stats(path: str) -> dict[str, float]:
    """Rows, part files and MB of a Spark-written parquet directory."""
    rows = files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet") and not n.startswith((".", "_")):
                p = os.path.join(dirpath, n)
                rows += pq.ParquetFile(p).metadata.num_rows
                files += 1
                size += os.path.getsize(p)
    return {"rows": rows, "files": files, "mb": size / 2**20}


class Workload:
    """Shared machinery: the session, registry ops, resets and checks."""

    name = ""
    table_scale = 0.0
    #: the tables the workload's queries read (set-up reads each once)
    tables: tuple[str, ...] = ()
    queries: tuple[str, ...] = ()
    groups: dict[str, str] = {}

    def __init__(self, tmp: str, seed: int):
        self.tmp = tmp
        self.seed = seed
        self.tables_dir = os.path.join(tmp, "tables")
        self.spark = None
        self.reader = None
        self.table_rows: dict[str, int] = {}
        #: per traced pass, what the workload's source layers recorded
        self.source_log: list[dict] = []

    # -- inputs and set-up -------------------------------------------------
    def prepare(self) -> None:
        self.table_rows = gen.write_tables(self.tables_dir, self.table_scale, TABLE_SEED)
        self.oracle = self._oracle_answers()

    def _oracle_answers(self) -> dict:
        """Each registry query's DuckDB ``oracle_sql()`` twin, run on the
        generated parquet files."""
        import duckdb

        oracles = suite.oracle_sql()
        con = duckdb.connect()
        try:
            for t in self.table_rows:
                path = os.path.join(self.tables_dir, f"{t}.parquet")
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            return {name: con.sql(oracles[name]).df() for name in self.queries}
        finally:
            con.close()

    def input_counts(self) -> dict:
        return {"tables": self.table_rows}

    def setup(self) -> tuple[float, float]:
        """Start the session, register tables and sources, read each once."""
        t0 = time.perf_counter()
        self.spark = S.get_spark(
            app_name=f"perfbench-{self.name}",
            extra_conf={
                **RETENTION_CONF,
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
                # one micro-batch per drop: no extra watermark-only batches,
                # whose timing would race processAllAvailable()
                "spark.sql.streaming.noDataMicroBatches.enabled": "false",
            },
        )
        t1 = time.perf_counter()
        self.register()
        return t1 - t0, time.perf_counter() - t1

    def register(self) -> None:
        loaded = S.load_tables(self.spark, self.tables_dir)
        for t in self.tables:
            loaded[t].limit(1).collect()

    def stop(self) -> None:
        self._reset()
        self.spark.stop()
        self.spark = None

    def _reset(self) -> None:
        S.reset_derived_state()
        S.release_persist_slots()
        S.sweep_persistent_rdds(self.spark)

    # -- passes ------------------------------------------------------------
    def run_pass(self, pass_no: int, traced: bool = False, check: bool = False) -> dict:
        """One pass: every op of the workload, after a full state reset.
        With ``check``, only the registry queries run, and each collects its
        rows and compares them with its oracle twin instead of writing to
        ``noop``."""
        self._reset()
        shared0 = S.derived_build_seconds()
        # the reset also drops the table map (a shared build); registering
        # the tables again is set-up work, done before the pass clock starts
        loaded = S.load_tables(self.spark, self.tables_dir)
        for t in self.tables:
            loaded[t]
        if traced and self.reader is None:
            self.reader = StageReader(self.spark)
        rng = np.random.default_rng([self.seed, pass_no])
        order = [self.queries[i] for i in rng.permutation(len(self.queries))]
        timer = CallTimer(TIMED_MODULES) if traced else contextlib.nullcontext()
        clock = StealClock()
        with timer:
            ops = [self._registry_op(q, pass_no, traced, check) for q in order]
            if not check:
                ops += self.source_ops(pass_no, traced)
        out = {"wall_s": clock.wall_s(), "s": clock.steal_free_s(), "ops": ops}
        if traced:
            shared = {
                k: v - shared0.get(k, 0.0)
                for k, v in S.derived_build_seconds().items()
                if v - shared0.get(k, 0.0) > 0
            }
            out["shared_builds"] = shared
            out["module_calls"] = dict(timer.calls)
            out["module_call_s"] = dict(timer.seconds)
        return out

    def _group_stats(self, group: str, wall_s: float) -> dict:
        st = self.reader.group(group)
        cores = self.spark.sparkContext.defaultParallelism
        st["busy_share"] = st["executor_run_s"] / (wall_s * cores) if wall_s else 0.0
        return st

    def _op(self, name: str, group: str, pass_no: int, traced: bool, body) -> dict:
        """Run ``body(rec)`` as one op under its own Spark job group.
        ``body`` returns ``None`` or why its output is wrong, and may set
        ``rec["s"]`` itself when part of its work is not op time.  The
        record's ``wall_s`` is that time as it passed, and ``s`` the same
        with the stolen share taken out (``metrics.steal_free``)."""
        sc = self.spark.sparkContext
        jg = f"perfbench:{pass_no}:{name}"
        rec = {"op": name, "group": group, "ok": True}
        sc.setJobGroup(jg, name)
        clock = StealClock()
        try:
            why = body(rec)
            rec["wall_s"] = rec.get("s", clock.wall_s())
            rec["s"] = rec["wall_s"] * clock.run_share()
            if why:
                rec.update(ok=False, error=why)
            if traced:
                rec["stats"] = self._group_stats(jg, rec["wall_s"])
        except Exception as e:
            rec.update(ok=False, error=repr(e)[:500])
        finally:
            sc.setJobGroup(None, None)
        return rec

    def _registry_op(self, name: str, pass_no: int, traced: bool, check: bool) -> dict:
        def body(rec):
            t0 = time.perf_counter()
            df = suite.queries()[name](self.spark, self.tables_dir)
            if check:
                return check_record(name, df.toPandas(), self.oracle[name]).get("error")
            rec["build_s"] = time.perf_counter() - t0
            if traced:
                # an estimate of planning: the noop write below plans again
                t1 = time.perf_counter()
                df._jdf.queryExecution().executedPlan()
                rec["plan_s"] = time.perf_counter() - t1
            t2 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            rec["exec_s"] = time.perf_counter() - t2
            rec["s"] = rec["build_s"] + rec["exec_s"]

        return self._op(name, self.groups[name], pass_no, traced, body)

    def source_ops(self, pass_no: int, traced: bool) -> list[dict]:
        return []

    # -- traced-run summary --------------------------------------------------
    def layer_metrics(self, traced: list[dict], setups: list[dict]):
        """Per-pass averages over the traced passes: the PER_LAYER values and
        a fuller per-module breakdown for the detail record."""
        n = len(traced)
        layers = dict.fromkeys(
            (name for name, _ in PER_LAYER if name != "bench.trace_overhead_s"), 0.0
        )
        # the session restarts, as setup_s; the JVM launch is in the detail
        layers["session.start_s"] = median([c["start_s"] for c in setups[1:]])
        layers["session.load_tables_s"] = median([c["load_tables_s"] for c in setups[1:]])
        detail: dict[str, float] = {}
        q_total: dict[str, float] = {}
        q_wall = 0.0
        per_group: dict[str, dict] = {g: {} for g in GROUPS}
        per_group_wall = dict.fromkeys(GROUPS, 0.0)
        for p in traced:
            layers["session.shared_build_s"] += sum(p["shared_builds"].values()) / n
            layers["session.shared_builds"] += len(p["shared_builds"]) / n
            for k, v in p["module_call_s"].items():
                detail[f"{k}.call_s"] = detail.get(f"{k}.call_s", 0.0) + v / n
            for k, v in p["module_calls"].items():
                detail[f"{k}.calls"] = detail.get(f"{k}.calls", 0.0) + v / n
            for op in p["ops"]:
                if "stats" not in op or op["group"] not in per_group:
                    continue
                for f in ("build_s", "plan_s", "exec_s"):
                    layers[f"queries.{f}"] += op[f] / n
                    key = f"{op['group']}.{f}"
                    detail[key] = detail.get(key, 0.0) + op[f] / n
                add_into(q_total, {f: op["stats"][f] / n for f in GROUP_FIELDS})
                add_into(per_group[op["group"]], {f: op["stats"][f] / n for f in GROUP_FIELDS})
                q_wall += op["wall_s"] / n
                per_group_wall[op["group"]] += op["wall_s"] / n
        cores = self.spark.sparkContext.defaultParallelism
        for f, v in q_total.items():
            layers[f"queries.{f}"] = v
        layers["queries.busy_share"] = (
            q_total.get("executor_run_s", 0.0) / (q_wall * cores) if q_wall else 0.0
        )
        for g, st in per_group.items():
            for f in GROUP_FIELDS:
                target = layers if f"{g}.{f}" in layers else detail
                target[f"{g}.{f}"] = st.get(f, 0.0)
            w = per_group_wall[g]
            detail[f"{g}.busy_share"] = (
                st.get("executor_run_s", 0.0) / (w * cores) if w else 0.0
            )
        self.source_layers(layers, detail)
        return layers, detail

    def source_layers(self, layers: dict, detail: dict) -> None:
        pass


class CommunityStream(Workload):
    name = "community_stream"
    table_scale = 0.01
    tables = ("documents", "events", "orders")
    queries = COMMUNITY
    groups = dict.fromkeys(COMMUNITY, "queries.community")
    n_commits = 6_000
    n_drops = 2

    def prepare(self) -> None:
        super().prepare()
        self.drops = gen.write_commit_drops(
            os.path.join(self.tmp, "drops"), self.n_commits, self.n_drops, self.seed
        )
        self.expected = None

    @property
    def ops_per_pass(self) -> int:
        return len(self.queries) + self.n_drops

    def input_counts(self) -> dict:
        return {**super().input_counts(), "commits": self.n_commits, "drops": self.n_drops}

    def _expected(self) -> dict:
        """The batch answer over all commits: commit_activity_stream run as a
        batch query, keyed (component, window start in epoch µs)."""
        if self.expected is None:
            from pyspark.sql import functions as F

            commits = self.spark.read.schema(schemas.COMMIT).parquet(*self.drops)
            rows = jobs.commit_activity_stream(commits).select(
                "componentName", F.unix_micros("windowStart").alias("ws"), "linesChanged"
            ).collect()
            self.expected = {(r[0], r[1]): r[2] for r in rows}
        return self.expected

    def source_ops(self, pass_no: int, traced: bool) -> list[dict]:
        rep = os.path.join(self.tmp, "stream", f"rep-{pass_no}")
        src, out, ckpt = (os.path.join(rep, d) for d in ("src", "out", "ckpt"))
        os.makedirs(src)
        for i, drop in enumerate(self.drops):
            # hidden names are invisible to the file source until renamed
            shutil.copyfile(drop, os.path.join(src, f".drop-{i:02d}.parquet"))
        ops = []
        q = jobs.run_commit_activity_job(self.spark, src, out, ckpt)
        try:
            for i in range(len(self.drops)):
                rec = {"op": f"drop-{i:02d}", "group": "streaming", "ok": True}
                clock = StealClock()
                os.rename(
                    os.path.join(src, f".drop-{i:02d}.parquet"),
                    os.path.join(src, f"drop-{i:02d}.parquet"),
                )
                try:
                    q.processAllAvailable()
                    rec["wall_s"] = clock.wall_s()
                    rec["s"] = rec["wall_s"] * clock.run_share()
                except Exception as e:
                    rec.update(ok=False, error=repr(e)[:500])
                ops.append(rec)
                if not rec["ok"]:
                    break
            progress = q.recentProgress
            run_id = str(q.runId)
        finally:
            q.stop()
        check = {"op": "check:stream", "ok": True}
        sink = _parquet_stats(out)
        got = {}
        if sink["rows"]:
            t = pq.read_table(out, columns=["componentName", "windowStart", "linesChanged"])
            for c, w, n in zip(*(t.column(i).to_pylist() for i in range(3))):
                got[(c, _micros(w))] = n
        want = self._expected()
        if got != want:
            diff = len(set(got.items()) ^ set(want.items()))
            check.update(ok=False, error=f"upserted table differs from batch: {diff} rows")
        ops.append(check)
        if traced:
            self.source_log.append({
                "progress": stream_stats(progress),
                "sink": sink,
                "stats": self._group_stats(run_id, sum(o.get("wall_s", 0) for o in ops)),
            })
        shutil.rmtree(rep, ignore_errors=True)
        return ops

    def source_layers(self, layers: dict, detail: dict) -> None:
        n = len(self.source_log)
        for log in self.source_log:
            for k, v in log["progress"].items():
                key = f"streaming.{k}"
                target = layers if key in layers else detail
                target[key] = target.get(key, 0.0) + v / n
            for k, v in log["sink"].items():
                layers[f"io.sinks.output_{k}"] += v / n
            for k, v in log["stats"].items():
                key = f"streaming.query.{k}"
                detail[key] = detail.get(key, 0.0) + v / n


class KernelsMbox(Workload):
    name = "kernels_mbox"
    table_scale = 0.002
    tables = ("embeddings", "lineitem")
    queries = tuple(KERNELS)
    groups = KERNELS
    n_months = 4
    per_month = 200

    def prepare(self) -> None:
        super().prepare()
        self.archive = os.path.join(self.tmp, "mbox")
        self.expected = gen.write_mbox_archive(
            self.archive, self.n_months, self.per_month, self.seed
        )

    @property
    def ops_per_pass(self) -> int:
        return len(self.queries) + 2

    def input_counts(self) -> dict:
        return {**super().input_counts(), "messages": self.expected["rows"]}

    def register(self) -> None:
        super().register()
        mbox_source.register(self.spark)

    def source_ops(self, pass_no: int, traced: bool) -> list[dict]:
        from pyspark.sql import functions as F

        out = os.path.join(self.tmp, "mbox-out", f"pass-{pass_no}")

        def ingest(rec):
            (
                self.spark.read.format("mbox").option("dir", self.archive).load()
                .withColumn("month", F.date_format("date", "yyyy-MM"))
                .write.partitionBy("month").parquet(out)
            )

        def users(rec):
            emails = self.spark.read.parquet(out)
            rows = community.distinct_users_per_window(emails).select(
                F.unix_micros("window_end").alias("e"), "cnt"
            ).collect()
            got = {r["e"]: r["cnt"] for r in rows}
            want = {_micros(k): v for k, v in self.expected["users_per_window"].items()}
            return None if got == want else f"users per window {got} != {want}"

        ops = [self._op("mbox_ingest", "ingest.mbox", pass_no, traced, ingest)]
        written = _parquet_stats(out)
        check = {"op": "check:mbox_rows", "ok": written["rows"] == self.expected["rows"]}
        if not check["ok"]:
            check["error"] = f"{written['rows']} rows != {self.expected['rows']}"
        ops.append(check)
        ops.append(self._op("distinct_users_per_window", "ingest.mbox", pass_no, traced, users))
        if traced:
            self.source_log.append(
                {"rows": written["rows"], "write_s": ops[0].get("wall_s", 0.0),
                 "stats": ops[0].get("stats", {})}
            )
        shutil.rmtree(out, ignore_errors=True)
        return ops

    def source_layers(self, layers: dict, detail: dict) -> None:
        n = len(self.source_log)
        for log in self.source_log:
            layers["ingest.mbox.rows"] += log["rows"] / n
            layers["ingest.mbox.tasks"] += log["stats"].get("tasks", 0) / n
            detail["ingest.mbox.write_s"] = detail.get("ingest.mbox.write_s", 0.0) + log["write_s"] / n
            detail["ingest.mbox.executor_cpu_s"] = (
                detail.get("ingest.mbox.executor_cpu_s", 0.0)
                + log["stats"].get("executor_cpu_s", 0.0) / n
            )


WORKLOADS = {w.name: w for w in (CommunityStream, KernelsMbox)}
