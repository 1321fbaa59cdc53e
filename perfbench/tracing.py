"""Per-layer tracing from outside the program.

Two sources, both read by the benchmark's own code only:

* :class:`StageReader` - Spark's in-process status store, queried per job
  group (the benchmark sets one group around every operation it times).
* :class:`CallTimer` - wall time of calls into the public functions of
  the engine's modules, by swapping each function for a timing wrapper for
  the length of the traced passes.
"""

from __future__ import annotations

import functools
import threading
import time
import types

#: status-store retention for the traced run; Spark keeps 1,000 stages by
#: default and one kernel pass alone schedules hundreds
RETENTION_CONF = {
    "spark.ui.retainedStages": "200000",
    "spark.ui.retainedJobs": "200000",
}

GROUP_FIELDS = (
    "jobs", "stages", "tasks", "executor_cpu_s", "executor_run_s",
    "shuffle_mb", "spill_mb",
)


class StageReader:
    """Sums the status store's stage data over the jobs of a job group."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._tracker = sc.statusTracker()
        self._bus = sc._jsc.sc().listenerBus()
        self._store = sc._jsc.sc().statusStore()
        self._empty = sc._jvm.java.util.ArrayList()
        self._quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def group(self, group: str) -> dict[str, float]:
        """Counts and costs of every job run under ``group``.  Raises
        ``LookupError`` when a stage of the group is missing from the store,
        so that a truncated count can never pass as a real one."""
        # the store is fed by the asynchronous listener bus: drain it, or the
        # last job's end (which marks its unrun stages SKIPPED) may be missing
        self._bus.waitUntilEmpty()
        out = dict.fromkeys(GROUP_FIELDS, 0.0)
        seen: set[int] = set()
        for jid in self._tracker.getJobIdsForGroup(group):
            info = self._tracker.getJobInfo(jid)
            if info is None:
                raise LookupError(f"job {jid} of group {group!r} not in the store")
            out["jobs"] += 1
            for sid in list(info.stageIds):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    attempts = self._store.stageData(
                        sid, False, self._empty, False, self._quantiles
                    )
                except Exception as e:  # py4j wraps NoSuchElementException
                    raise LookupError(
                        f"stage {sid} of group {group!r} not in the store"
                    ) from e
                for i in range(attempts.size()):
                    s = attempts.apply(i)
                    if s.status().toString() == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += s.numCompleteTasks()
                    out["executor_cpu_s"] += s.executorCpuTime() / 1e9
                    out["executor_run_s"] += s.executorRunTime() / 1e3
                    out["shuffle_mb"] += (
                        s.shuffleReadBytes() + s.shuffleWriteBytes()
                    ) / 2**20
                    out["spill_mb"] += s.diskBytesSpilled() / 2**20
        return out


def add_into(total: dict, part: dict) -> None:
    for k, v in part.items():
        total[k] = total.get(k, 0.0) + v


class CallTimer:
    """Inclusive wall time and call count per module, for calls into the
    module's public functions.  A call made while another call into the
    same module is open on the same thread is not counted again."""

    def __init__(self, modules: dict[str, types.ModuleType]):
        self._modules = modules
        self._saved: list[tuple[types.ModuleType, str, object]] = []
        self._open: dict[tuple[int, str], int] = {}
        self.seconds: dict[str, float] = dict.fromkeys(modules, 0.0)
        self.calls: dict[str, int] = dict.fromkeys(modules, 0)
        self._lock = threading.Lock()

    def _wrap(self, layer: str, fn):
        timer = self

        # functools.wraps keeps the module and qualified name, so a wrapper
        # that a UDF closure captures pickles by reference to the original
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            key = (threading.get_ident(), layer)
            depth = timer._open.get(key, 0)
            timer._open[key] = depth + 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                timer._open[key] = depth
                if depth == 0:
                    dt = time.perf_counter() - t0
                    with timer._lock:
                        timer.seconds[layer] += dt
                        timer.calls[layer] += 1

        return timed

    def __enter__(self):
        for layer, mod in self._modules.items():
            for name, fn in list(vars(mod).items()):
                if (
                    name.startswith("_")
                    or not isinstance(fn, types.FunctionType)
                    or fn.__module__ != mod.__name__
                ):
                    continue
                self._saved.append((mod, name, fn))
                setattr(mod, name, self._wrap(layer, fn))
        return self

    def __exit__(self, *exc):
        for mod, name, fn in self._saved:
            setattr(mod, name, fn)
        self._saved.clear()


def progress_field(p, name: str):
    """A field of a streaming progress record (dict or object form)."""
    return p[name] if isinstance(p, dict) else getattr(p, name)


def stream_stats(progress: list) -> dict[str, float]:
    """Sums over the micro-batches of one streaming query's progress log."""
    out = {
        "batches": 0, "add_batch_ms": 0.0, "query_planning_ms": 0.0,
        "get_batch_ms": 0.0, "wal_commit_ms": 0.0, "state_rows": 0,
        "late_rows_dropped": 0,
    }
    last_state = 0
    for p in progress:
        if progress_field(p, "numInputRows") == 0:
            continue
        out["batches"] += 1
        d = progress_field(p, "durationMs") or {}
        out["add_batch_ms"] += d.get("addBatch", 0)
        out["query_planning_ms"] += d.get("queryPlanning", 0)
        out["get_batch_ms"] += d.get("getBatch", 0)
        out["wal_commit_ms"] += d.get("walCommit", 0)
        for op in progress_field(p, "stateOperators") or []:
            last_state = progress_field(op, "numRowsTotal")
            out["late_rows_dropped"] += progress_field(op, "numRowsDroppedByWatermark")
    out["state_rows"] = last_state
    return out
