"""SparkSession factory.

Pins the semantics the whole engine assumes:

* UTC session timezone — the reference evaluates everything in UTC
  (ref: common/src/main/java/com/ververica/platform/Utils.java:19,
  ``EVALUATION_ZONE = ZoneId.of("UTC")``) and the DuckDB oracle compares
  naive-UTC timestamps.
* AQE on — runtime coalescing / skew-join handling stands in for the
  hand-tuned parallelism of the reference's Flink jobs.
* Arrow on — every Python-side operator in this package that cannot be a
  built-in expression uses Arrow-vectorized pandas UDFs.

At 100 TB scale the same builder works unchanged on a real cluster: the
only local-mode-specific knobs (master, shuffle partitions) come from the
environment and default to cluster-appropriate behavior when unset.
"""

from __future__ import annotations

import gc
import os
import threading
import time
from collections.abc import Mapping

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


#: Spark's disk-spilling streaming state backend — the engine analog of the
#: reference's RocksDB state backend (ObfuscateITCase.java:36 and every
#: ITCase set it; SURVEY.md §4).  Enabled per-session via
#: ``get_spark(rocksdb_state=True)`` or SPARK_GRAFT_ROCKSDB=1; the default
#: (HDFS-backed in-memory provider) is fine for tests, RocksDB is the
#: at-scale choice for large keyed state.
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def _default_driver_memory_gb(cap_gb: int = 16, floor_gb: int = 1) -> int:
    """Local-mode driver-memory default in GiB: 1/8 of the machine's
    effective memory (min of physical RAM and any cgroup v1/v2 limit),
    clamped to [floor, cap].  1/8 leaves room for Python workers, the
    OS page cache parquet reads live off, and concurrent processes; on
    a 128 GiB bench host this lands on the 16 GiB cap, on a 4 GiB
    container it degrades to 1g instead of failing JVM startup."""
    limits = []
    try:
        limits.append(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"))
    except (ValueError, OSError, AttributeError):
        pass
    for p in ("/sys/fs/cgroup/memory.max",
              "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(p) as f:
                raw = f.read().strip()
            if raw.isdigit():
                limits.append(int(raw))
        except OSError:
            pass
    if not limits:
        return floor_gb
    eff_gb = min(limits) // (1 << 30)
    return max(floor_gb, min(cap_gb, eff_gb // 8))


def get_spark(
    app_name: str = "lab-flink-repository-analytics-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    rocksdb_state: bool | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster leave it unset and submit with ``--master``.
    ``shuffle_partitions`` should be ~2-3x total cores on a cluster; for
    local mode it defaults to the core count.
    """
    # Python workers spawned by the JVM must be able to import this
    # package; locally that means the repo root on PYTHONPATH before the
    # JVM starts.
    # On a real cluster the equivalent is shipping the wheel (--py-files).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + pp if pp else "")
        )

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # allow Python DataSources (ingest/github_source.py) to prune
        # their input partitions from pushed filters
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if rocksdb_state is None:
        rocksdb_state = os.environ.get("SPARK_GRAFT_ROCKSDB", "") == "1"
    if rocksdb_state:
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    if master.startswith("local"):
        builder = builder.master(master)
        # Wide codegen expressions (unrolled dot products, inlined
        # quantizer literals) compile into single generated methods that
        # exceed HotSpot's 8 KB "huge method" bytecode bound — which the
        # JIT then refuses to compile, leaving the hottest projection
        # INTERPRETED (measured 16×: SemDeDup's pair scan 41.2s → 2.5s
        # warm at the 10× replica).  Flip the refusal and give the
        # compiled blobs room.  On a real cluster set the same flags in
        # spark.executor.extraJavaOptions (DEPLOY.md).
        if "spark.driver.extraJavaOptions" not in (extra_conf or {}):
            builder = builder.config(
                "spark.driver.extraJavaOptions",
                os.environ.get(
                    "SPARK_GRAFT_JAVA_OPTS",
                    "-XX:-DontCompileHugeMethods"
                    " -XX:ReservedCodeCacheSize=512m",
                ),
            )
        # local mode: one JVM; driver memory is the only memory knob and
        # Spark's 1g default starves broadcast builds + cached graph state
        # on a many-core local run — default higher, env-overridable.
        # The default is derived from the machine's EFFECTIVE memory
        # (min of total RAM and any cgroup limit, so containers don't
        # over-commit), capped at 16g — the ceiling the x8 concurrent
        # bench needs to hold several queries' slot-persisted
        # intermediates at once.  SPARK_DRIVER_MEMORY always wins.
        mem = os.environ.get(
            "SPARK_DRIVER_MEMORY", f"{_default_driver_memory_gb()}g"
        )
        builder = builder.config("spark.driver.memory", mem)
    if master.startswith("local-cluster"):
        # Real multi-executor shuffle without a cluster (the round-7 wedge
        # rehearsal's master: separate worker JVMs, network shuffle,
        # per-executor memory).  local-cluster[n,cores,memMB] sets the
        # WORKER's memory only — spark.executor.memory still defaults to
        # 1g and must be raised to use it; the executor JVMs also need the
        # huge-method JIT flags (codegen compiles executor-side here, not
        # in the driver) and the repo on PYTHONPATH for Arrow workers.
        exec_conf = extra_conf or {}
        if "spark.executor.memory" not in exec_conf:
            builder = builder.config(
                "spark.executor.memory",
                os.environ.get("SPARK_EXECUTOR_MEMORY", "6g"),
            )
        if "spark.executor.extraJavaOptions" not in exec_conf:
            builder = builder.config(
                "spark.executor.extraJavaOptions",
                os.environ.get(
                    "SPARK_GRAFT_JAVA_OPTS",
                    "-XX:-DontCompileHugeMethods"
                    " -XX:ReservedCodeCacheSize=512m",
                ),
            )
        if "spark.executorEnv.PYTHONPATH" not in exec_conf:
            builder = builder.config("spark.executorEnv.PYTHONPATH", pkg_root)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: rebalance() probe memo: analyzed-plan semanticHash → decision
#: (True = plan already shuffles / is wide enough, skip; False = narrow,
#: repartition).  Bounded: cleared at 4096 entries (a driver builds at most
#: a few thousand distinct query shapes per session).
_REBALANCE_MEMO: dict[tuple[int, int], bool] = {}

#: persist_bounded() slots: one outstanding cached DataFrame per call site
_PERSIST_SLOTS: dict[str, "object"] = {}


def persist_bounded(df, slot: str, storage_level=None):
    """Persist ``df``, releasing whatever the previous call with this
    ``slot`` cached.

    Multi-consumer intermediates (edge lists, range-shuffle outputs) need
    a persist, but query functions return lazy DataFrames so they cannot
    unpersist before the caller materializes.  This bounds a long-lived
    session (bench loops, the driver's two-phase run) to ONE cached
    intermediate per call site instead of accumulating them until
    executor storage evicts — and an eviction-forced recompute of a
    deterministic plan reproduces the same data, so correctness never
    depends on the cache.  ``release_persist_slots()`` drops everything.
    """
    prev = _PERSIST_SLOTS.pop(slot, None)
    if prev is not None:
        prev.unpersist(blocking=False)
    df = df.persist(storage_level) if storage_level is not None else df.persist()
    _PERSIST_SLOTS[slot] = df
    return df


#: session-scoped derived-state memo (see derived_state)
_DERIVED_MEMO: dict[tuple[str, str, str], "object"] = {}
#: wall-clock seconds spent INSIDE each derived-state build(), keyed by
#: (Spark job group the build ran under, state name) — read by bench.py to
#: charge shared builds to explicit ``_shared:<name>`` pseudo-entries (the
#: triggering query's latency already contains this time; the pseudo-entry
#: makes it attributable) and to list them in the triggering query's profile
_DERIVED_BUILD_SECONDS: dict[tuple[str | None, str], float] = {}
_DERIVED_KEY_LOCKS: dict[tuple[str, str, str], "object"] = {}
#: initialized at import — a lazily-created guard is itself a race
_DERIVED_GUARD = threading.Lock()
_DERIVED_MEMO_CAP = 32


def _maybe_release(value) -> None:
    """Best-effort release of an evicted memo value: unpersist cached /
    locally-checkpointed DataFrames (including dict/tuple containers of
    them).  Failures are swallowed — eviction must never fail a query,
    and an un-releasable value is just garbage-collected later."""
    if isinstance(value, dict):
        for v in value.values():
            _maybe_release(v)
        return
    if isinstance(value, (list, tuple)):
        for v in value:
            _maybe_release(v)
        return
    unpersist = getattr(value, "unpersist", None)
    if callable(unpersist):
        try:
            unpersist(blocking=False)
        except Exception:
            pass


def derived_state(spark: SparkSession, name: str, sf_dir: str, build):
    """Memoize deterministic derived state shared across suite queries —
    a trained BPE model, duplicate-cluster labels, the loaded-table dict.

    Keyed by (applicationId, name, absolute sf_dir); ``build()`` runs at
    most once per key even under a concurrent query pool.  Locks are
    PER-KEY so an expensive build (BPE training) never blocks unrelated
    keys' lookups, and re-entrant builds (cluster labels → load_tables)
    take distinct keys' locks rather than deadlocking.  Only cache state
    that is a pure function of the read-only input tables.  Bounded:
    oldest entries are EVICTED (insertion order, with best-effort
    unpersist of cached state) once the memo exceeds its cap — never a
    wholesale clear, so concurrent builds keep their entries and a key's
    lock stays stable while its build is in flight (key locks are only
    dropped by :func:`reset_derived_state`; the lock table is bounded by
    the distinct (app, name, sf_dir) triples a process ever touches).
    """
    key = (spark.sparkContext.applicationId, name, os.path.abspath(sf_dir))
    with _DERIVED_GUARD:
        if key in _DERIVED_MEMO:
            return _DERIVED_MEMO[key]
        lock = _DERIVED_KEY_LOCKS.setdefault(key, threading.RLock())
    with lock:
        with _DERIVED_GUARD:
            if key in _DERIVED_MEMO:
                return _DERIVED_MEMO[key]
        group = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
        _t0 = time.time()
        out = build()
        _dt = time.time() - _t0
        evicted = []
        with _DERIVED_GUARD:
            _DERIVED_BUILD_SECONDS[group, name] = (
                _DERIVED_BUILD_SECONDS.get((group, name), 0.0) + _dt
            )
            while len(_DERIVED_MEMO) >= _DERIVED_MEMO_CAP:
                oldest = next(iter(_DERIVED_MEMO))
                evicted.append(_DERIVED_MEMO.pop(oldest))
            _DERIVED_MEMO[key] = out
        for v in evicted:
            _maybe_release(v)
        return out


def reset_derived_state() -> None:
    """Drop ALL session-shared derived state (bench cold-runs, teardown),
    with best-effort unpersist of cached/checkpointed values.  Safe under
    concurrency: a build in flight re-inserts its own entry when done.

    Ends with a cyclic garbage collection, so the py4j proxies of the
    dropped state release their JVM objects now rather than whenever
    Python's collector next runs, possibly inside the next query.
    Without it, ``source_mixture_weights`` run after a reset planned an
    extra AQE stage job more often (its job count varies from run to
    run either way)."""
    with _DERIVED_GUARD:
        values = list(_DERIVED_MEMO.values())
        _DERIVED_MEMO.clear()
        # key locks are kept: an in-flight build must keep holding the
        # same lock object, and the table is bounded (distinct
        # (app, name, sf_dir) triples) so there is nothing to reclaim
    for v in values:
        _maybe_release(v)
    gc.collect()


def derived_build_seconds() -> dict[str, float]:
    """Snapshot of wall-clock seconds spent inside each derived-state
    build() so far this process, keyed by state name.  bench.py diffs two
    snapshots around the timed suite and reports ``_shared:<name>``
    pseudo-entries — the per-query latencies of the queries that SHARE a
    build regain standalone meaning (whichever query runs first pays the
    build inside its own latency; the pseudo-entry says how much)."""
    out: dict[str, float] = {}
    with _DERIVED_GUARD:
        for (_, name), dt in _DERIVED_BUILD_SECONDS.items():
            out[name] = out.get(name, 0.0) + dt
    return out


def derived_builds_in_group(group: str) -> dict[str, float]:
    """Seconds spent in each derived-state build() that ran under the Spark
    job group ``group``, keyed by state name: the shared builds a query
    triggered, as opposed to the ones it found already built."""
    with _DERIVED_GUARD:
        return {
            name: dt
            for (g, name), dt in _DERIVED_BUILD_SECONDS.items()
            if g == group
        }


def release_persist_slots() -> None:
    """Drop every slot-cached intermediate (teardown / between bench runs)."""
    for df in _PERSIST_SLOTS.values():
        df.unpersist(blocking=False)
    _PERSIST_SLOTS.clear()


def sweep_persistent_rdds(spark) -> int:
    """Unpersist EVERY block-manager-resident RDD — the teardown sweep a
    sequential harness (bench cold reset, correctness loop) runs between
    queries.

    ``localCheckpoint``-ed intermediates (graph loops, oriented edge
    lists) are not in the SQL cache and not in a persist slot: their
    blocks are freed only when the JVM garbage-collects the RDD object
    and the async ContextCleaner processes it.  Under a rapid
    query-after-query loop at a big scale factor, allocation outruns that
    race and dead checkpoint blocks from query N OOM query N+1 (observed:
    a 10×-replica sequential run died in pagerank's shuffle while holding
    the previous queries' dead blocks).  Safe ONLY between queries: it
    also severs live local checkpoints, so never call it mid-query or
    while memos/persist slots still reference checkpointed frames — drop
    those first (reset_derived_state / release_persist_slots).

    Returns the number of RDDs unpersisted.
    """
    jsc = spark.sparkContext._jsc.sc()
    rdds = jsc.getPersistentRDDs()
    it = rdds.iterator()
    n = 0
    while it.hasNext():
        # blocking: the sweep runs off-the-clock between queries, and an
        # async removal would still occupy memory (forcing spills) while
        # the next query's measured rep starts
        it.next()._2().unpersist(True)
        n += 1
    return n


def release_persist_slot(slot: str) -> None:
    """Drop ONE slot-cached intermediate as soon as its last consumer has
    materialized — iterative/staged operators (triangle orientation,
    PageRank prep) use this to keep at most one heavyweight cached
    artifact alive at a time instead of stacking caches for the whole
    query, which under a shared executor pool evicts someone else's."""
    prev = _PERSIST_SLOTS.pop(slot, None)
    if prev is not None:
        prev.unpersist(blocking=False)


def _sql_literal(v, typ: str) -> str:
    """One VALUES-cell literal of SQL type ``typ`` (see local_relation)."""
    t = typ.strip().lower()
    if v is None:
        return f"CAST(NULL AS {typ})"
    if t.startswith("array<") and t.endswith(">"):
        inner = typ.strip()[6:-1]
        return "array(" + ", ".join(_sql_literal(x, inner) for x in v) + ")"
    if t in ("double", "float"):
        # repr round-trips bit-exactly through the correctly-rounded
        # string→double cast (same rule as the expr-string vector builders)
        return f"CAST('{float(v)!r}' AS {typ})"
    if t in ("int", "integer", "bigint", "long", "smallint", "tinyint"):
        return f"CAST({int(v)} AS {typ})"
    if t == "boolean":
        return "true" if v else "false"
    if t == "string":
        s = (
            str(v)
            .replace("\\", "\\\\")
            .replace("'", "\\'")
            .replace("\n", "\\n")
            .replace("\r", "\\r")
            .replace("\x00", "\\0")
        )
        return f"'{s}'"
    raise ValueError(f"local_relation: unsupported type {typ!r}")


def local_relation(spark, rows, schema: str):
    """DataFrame from driver-held MODEL-sized rows (trained BPE merges,
    k-means centroids) as a pure-JVM ``LocalRelation``.

    ``createDataFrame`` over Python rows plans as a Python-worker-backed
    ``Scan ExistingRDD`` with ``defaultParallelism`` partitions — every
    scan of the result pays a fleet of Python worker spin-ups (measured:
    40 s of executor time for a THREE-row table at local[32], and the
    optimizer may scan such a relation several times).  A ``VALUES`` list
    of foldable cast literals collapses to ``LocalRelation`` during
    analysis instead: zero executor tasks, participates in
    constant-folding and broadcast like any literal table.

    ``schema`` is the same DDL string ``createDataFrame`` takes
    (``"cid int, cv array<double>"``); supported cell types: integral,
    double/float, boolean, string, arrays thereof.  Empty ``rows`` yields
    the empty relation with the same columns."""
    cols = []
    depth, start = 0, 0
    s = schema.strip()
    for i, ch in enumerate(s + ","):
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        elif ch == "," and depth == 0:
            cols.append(s[start:i].strip())
            start = i + 1
    names = [c.split(None, 1)[0] for c in cols]
    types = [c.split(None, 1)[1] for c in cols]
    if not rows:
        empty = ", ".join(
            f"CAST(NULL AS {t}) AS {n}" for n, t in zip(names, types)
        )
        return spark.sql(f"SELECT {empty} WHERE 1=0")
    tuples = ", ".join(
        "(" + ", ".join(_sql_literal(v, t) for v, t in zip(r, types)) + ")"
        for r in rows
    )
    return spark.sql(
        f"SELECT * FROM VALUES {tuples} AS t({', '.join(names)})"
    )


def rebalance(df):
    """Ensure at least ``defaultParallelism`` partitions before a
    data-amplifying stage (explode of shingles/files, quadratic block join).

    Narrow sources (one small parquet file, a single kafka partition) would
    otherwise run the whole amplification on one core — AQE only re-plans
    *shuffle* boundaries, not map stages.  On a real cluster reading 100 TB
    the scan already has thousands of splits, so this is a no-op there and
    the extra shuffle is never paid; it only fires when the source is
    narrower than the cluster.

    Only the plan-SHAPE probe (physical planning → "does the input contain
    a shuffle exchange") is memoized on the analyzed plan's
    ``semanticHash`` — that part is a pure function of the query.  The
    partition-count probe is runtime state of the source (a table can
    gain/lose files mid-session after a sink write), so it is re-taken on
    every call rather than cached with the plan.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    key = (df._jdf.queryExecution().analyzed().semanticHash(), target)
    has_exchange = _REBALANCE_MEMO.get(key)
    if has_exchange is None:
        # if the input already contains a SHUFFLE exchange, that spreads it
        # across spark.sql.shuffle.partitions anyway — and touching .rdd on
        # an AQE plan with exchanges would execute those stages eagerly.
        # BroadcastExchange does NOT count: a broadcast join keeps the probe
        # side's partitioning, so a 1-split scan stays on one core.
        plan = df._jdf.queryExecution().executedPlan().toString()
        has_exchange = "Exchange" in plan.replace("BroadcastExchange", "")
        if len(_REBALANCE_MEMO) > 4096:
            _REBALANCE_MEMO.clear()
        _REBALANCE_MEMO[key] = has_exchange
    if has_exchange:
        return df
    # runtime probe, never memoized: split count follows the files on disk
    return df if df.rdd.getNumPartitions() >= target else df.repartition(target)


#: the driver's table universe (TESTDATA.md)
_TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


class _LazyTableMap(Mapping):
    """Per-table lazy loader behind :func:`load_tables`.

    A single-table query used to pay 10 parquet-footer listings because
    loading was all-or-nothing; now each table's scan plan is built (and
    its temp view registered/re-pointed) on FIRST ``[]`` access only.
    ``values()``/iteration force-load everything — bench.py's warm-up
    relies on exactly that.  On a 100 TB catalog this is the difference
    between listing one table's footers and listing the whole universe
    per query.  The view is re-pointed on EVERY access because one session
    can interleave sf dirs and the spark.sql-surface queries resolve
    through the views.
    """

    def __init__(self, spark: SparkSession, sf_dir: str):
        self._spark = spark
        self._sf_dir = sf_dir
        self._loaded: dict[str, "object"] = {}
        self._lock = threading.RLock()
        # needed when the caller's session (e.g. the driver's) wasn't built
        # by get_spark — the DuckDB oracle compares naive-UTC timestamps
        spark.conf.set("spark.sql.session.timeZone", "UTC")

    def __getitem__(self, name: str):
        if name not in _TABLE_NAMES:
            raise KeyError(name)
        with self._lock:
            df = self._loaded.get(name)
            if df is None:
                df = _load_one_table(self._spark, self._sf_dir, name)
                self._loaded[name] = df
            df.createOrReplaceTempView(name)
            return df

    def __iter__(self):
        return iter(_TABLE_NAMES)

    def __len__(self) -> int:
        return len(_TABLE_NAMES)


def load_tables(spark: SparkSession, sf_dir: str) -> Mapping:
    """Lazily expose the driver's parquet tables as DataFrames + temp views.

    Tables: region nation customer supplier part orders lineitem events
    documents embeddings (TESTDATA.md).  Reading is lazy twice over:
    Catalyst pushes filters/column pruning into the scans, and the footer
    listing itself only happens for tables a query actually touches
    (:class:`_LazyTableMap`).  Memoized via :func:`derived_state`: the
    DataFrames are immutable lazy plans over read-only driver data, so
    reuse is safe; without the memo every suite query re-reads its
    footers, which summed over a 128-query bench is tens of seconds of
    pure listing overhead.
    """
    return derived_state(
        spark, "loaded_tables", sf_dir, lambda: _LazyTableMap(spark, sf_dir)
    )


def _load_one_table(spark: SparkSession, sf_dir: str, name: str):
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for field in df.schema.fields:
        # events.ts is parquet TIMESTAMP(NANOS).  How it surfaces depends
        # on the runtime: Spark 4.x reads it natively as TIMESTAMP_NTZ;
        # older runtimes (or sessions with nanosAsLong) surface BIGINT ns.
        # Normalize both to session-TZ TIMESTAMP (ns → µs truncation,
        # matching DuckDB's ns → µs truncation of the same files).
        if field.name in _NANOS_TS_COLS.get(name, ()):
            if isinstance(field.dataType, T.LongType):
                df = df.withColumn(
                    field.name,
                    F.timestamp_micros(F.expr(f"{field.name} div 1000")),
                )
            elif isinstance(field.dataType, T.TimestampNTZType):
                # values are naive UTC; session TZ is UTC, so the cast
                # is a pure type change, no wall-clock shift
                df = df.withColumn(
                    field.name, F.col(field.name).cast("timestamp")
                )
            # already TimestampType: nothing to do
    return df


#: columns stored as TIMESTAMP(NANOS) in the driver's parquet
_NANOS_TS_COLS = {"events": ("ts",)}


def run_canary(spark: SparkSession, reps: int = 3) -> dict:
    """Fixed synthetic workload for HOST-SPEED normalization of bench runs.

    Reads no input data: ``spark.range`` → codegen arithmetic → a 32→32
    hash-partitioned shuffle → final agg, all JVM-side with a constant
    row count — so its runtime depends only on the machine (CPU clock,
    contention, page-cache pressure), never on this repo's query code.
    Bench artifacts record it at the START and END of every run; if two
    rounds' canaries differ by the same factor as their suites, the drift
    is the host, not a regression (round-8's unattributed one-sided ~1.16×
    suite-wide shift is exactly the case this disambiguates).

    First execution is warm-up (codegen compile + JIT), unmeasured.
    Returns ``{"runs": [...], "median": s}``.
    """
    import statistics as _stats
    import time as _time

    def _work():
        (
            spark.range(0, 16_000_000, 1, 32)
            .select(
                ((F.col("id") * 2654435761) % 1000003).alias("k"),
                F.col("id"),
            )
            .groupBy((F.col("k") % 4096).alias("b"))
            .agg(
                F.sum("id").alias("s"),
                F.count(F.lit(1)).alias("c"),
                F.avg("k").alias("a"),
            )
            .write.format("noop")
            .mode("overwrite")
            .save()
        )

    _work()  # unmeasured: codegen compile + worker JIT
    runs = []
    for _ in range(reps):
        t0 = _time.time()
        _work()
        runs.append(round(_time.time() - t0, 3))
    return {"runs": runs, "median": round(_stats.median(runs), 3)}
