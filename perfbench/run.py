#!/usr/bin/env python3
"""The engine's benchmark: one client, closed loop, on ``local[nproc]``.

    python3 perfbench/run.py --workload community_stream --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout.  A run has four phases:

1. set-up, done ``SETUP_CYCLES`` times: start the Spark session, register
   the tables and sources, read each once; the first cycle launches the
   JVM, the others restart the session in it (``setup_s`` is their median);
2. one untimed warm-up pass;
3. an untimed check pass of the registry queries alone: each collects its
   rows and compares them with its DuckDB oracle twin (the stream and mbox
   outputs are checked in every pass);
4. timed passes, at least ``TIMED_MIN`` and for at least ``--seconds``,
   tracing off; with ``--trace 1`` instead four passes, untraced, traced,
   traced, untraced.

Between passes all shared state is dropped, so every pass pays the whole
cost again.  Inputs come from ``perfbench/gen.py`` and live, with all other
scratch output, under one temp root inside the checkout that is removed at
exit.  The last line of stdout is the result object; the line before it is
the detail record (every pass time, warm-up included, and the full
per-module breakdown).  See ``perfbench/README.md`` for the design.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback
from statistics import median

T_PROCESS = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "lab_flink_repository_analytics_spark"

#: set-up repetitions per run: one JVM launch, then session restarts in
#: that JVM; setup_s is the restarts' median
SETUP_CYCLES = 4
#: timed passes run at least this many times and at least --seconds
TIMED_MIN = 3


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _isolate(tmp: str) -> None:
    """Point every scratch location of Python, the JVM and Spark at ``tmp``."""
    for sub in ("py", "jvm", "spark-local"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(tmp, "py")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["SPARK_GRAFT_JAVA_OPTS"] = (
        "-XX:-DontCompileHugeMethods -XX:ReservedCodeCacheSize=512m"
        # C1 only: with C2 the JIT still compiles at the eighth pass and
        # takes a third of a pass's CPU, so pass times drift through a run;
        # with C1 they are flat from the second pass on (README.md)
        " -XX:TieredStopAtLevel=1"
        # G1 grows the heap when its collections take long, which they do
        # when the host is busy, so the peak RSS followed the host's load;
        # the serial collector sizes the heap by free space alone
        " -XX:+UseSerialGC"
        " -XX:-UsePerfData"  # no hsperfdata file under /tmp
        f" -Djava.io.tmpdir={os.path.join(tmp, 'jvm')}"
        f" -Dderby.system.home={os.path.join(tmp, 'jvm')}"
    )
    # the engine and its oracle compare naive UTC; Python workers inherit TZ
    os.environ["TZ"] = "UTC"
    time.tzset()
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    os.makedirs(tmp)
    try:
        _isolate(tmp)
        result, detail = _run(workloads, args, tmp)
    finally:
        _stop_spark()
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass  # another run still owns a directory there
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(result))
    return 0


def _stop_spark() -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # spark-submit exits when stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def _run(workloads, args, tmp):
    from metrics import (
        TreeRssSampler,
        StealClock,
        host_steal_s,
        op_medians,
        percentile,
        tail_percentile_for,
        tally,
        tree_cpu_s,
    )

    def run_pass(n: int, **kw) -> dict:
        cpu0, steal0 = tree_cpu_s(os.getpid()), host_steal_s()
        p = wl.run_pass(n, **kw)
        p["cpu_s"] = tree_cpu_s(os.getpid()) - cpu0
        p["steal_s"] = host_steal_s() - steal0
        return p

    wl = workloads.WORKLOADS[args.workload](tmp, args.seed)
    t = time.time()
    wl.prepare()
    gen_s = time.time() - t

    with TreeRssSampler() as rss:
        setups = []
        for cycle in range(SETUP_CYCLES):
            if cycle:
                wl.stop()  # tearing down is not set-up
            clock = StealClock()
            start_s, load_s = wl.setup()
            setups.append({
                "setup_s": clock.steal_free_s(),
                "wall_s": time.time() - T_PROCESS - gen_s if cycle == 0 else clock.wall_s(),
                "start_s": start_s,
                "load_tables_s": load_s,
            })

        # the first pass is ~3x the plateau and the second still ~7 % above
        # it (README.md); the check pass, the registry queries collecting
        # their rows for the oracle comparison, is the second warm-up
        warmup = [run_pass(0), run_pass(1, check=True)]

        timed, traced = [], []
        t0 = time.time()
        to_timed_s = t0 - T_PROCESS - gen_s
        if args.trace:
            # untraced, traced, traced, untraced: the warm-up drift that is
            # left cancels out of the tracing overhead
            for i, on in enumerate((False, True, True, False)):
                (traced if on else timed).append(
                    run_pass(len(warmup) + i, traced=on)
                )
        else:
            while len(timed) < TIMED_MIN or time.time() - t0 < args.seconds:
                timed.append(run_pass(len(warmup) + len(timed)))

    attempted, failed = tally([o for p in warmup + timed + traced for o in p["ops"]])
    op_times = [o["s"] for p in timed for o in p["ops"] if o["ok"] and "s" in o]
    # the tail rule on the pooled samples, for the record: the percentile is
    # fixed by the fewest samples a run can have
    tail_p = tail_percentile_for(TIMED_MIN * wl.ops_per_pass)
    # the metrics take each op's median over the timed passes first, so a
    # burst of host contention moves one sample of one op, not the result
    per_op = op_medians(timed)
    pass_s = median([p["s"] for p in timed])
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": os.cpu_count(),
        "input_gen_s": gen_s,
        "inputs": wl.input_counts(),
        "setup_cycles": setups,
        "to_first_timed_pass_s": to_timed_s,
        "warmup_pass_wall_s": [p["wall_s"] for p in warmup],
        "timed_pass_wall_s": [p["wall_s"] for p in timed],
        "timed_pass_s": [p["s"] for p in timed],
        "traced_pass_s": [p["s"] for p in traced],
        "timed_pass_cpu_s": [p["cpu_s"] for p in timed],
        "timed_pass_steal_s": [p["steal_s"] for p in timed],
        "op_s": _op_times(timed),
        "op_median_s": per_op,
        "op_samples": len(op_times),
        "op_tail_rule": {"percentile": tail_p, "s": percentile(op_times, tail_p)},
        "ops_attempted": attempted,
        "failures": [{k: o.get(k) for k in ("op", "error")} for o in failed],
        "peak_rss_mb": rss.peak_mb,
        "rss_sampling_s": rss.busy_s,
    }
    if args.trace:
        layers, per_module = wl.layer_metrics(traced, setups)
        layers["bench.trace_overhead_s"] = (
            median([p["s"] for p in traced]) - pass_s
        )
        detail["layers"] = {**layers, **per_module}
        metrics = {
            name: {"value": layers[name], "unit": unit}
            for name, unit in workloads.PER_LAYER
        }
    else:
        metrics = {
            "setup_s": {"value": median([c["setup_s"] for c in setups[1:]]), "unit": "s"},
            "pass_s": {"value": pass_s, "unit": "s"},
            "op_p50_s": {"value": median(per_op.values()), "unit": "s"},
            "op_tail_s": {"value": max(per_op.values()), "unit": "s"},
            "peak_rss_mb": {"value": rss.peak_mb, "unit": "MB"},
        }
    result = {
        "correct": not failed,
        "attempted": attempted,
        "failed": len(failed),
        "metrics": metrics,
    }
    return result, detail


def _op_times(passes: list[dict]) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for p in passes:
        for o in p["ops"]:
            if "s" in o:
                out.setdefault(o["op"], []).append(round(o["s"], 4))
    return out


if __name__ == "__main__":
    # a kill still runs the cleanup: stop the JVM, remove the temp root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
