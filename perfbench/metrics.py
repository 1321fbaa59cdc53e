"""Statistics, output checks and memory sampling for the benchmark.

Nothing here imports Spark, so the tests of these helpers run without a
session.
"""

from __future__ import annotations

import math
import os
import threading
import time
from statistics import median

from tools.check_correctness import _approx_equal, _normalize

def tail_percentile_for(n: int) -> float:
    """The highest percentile of ``n`` samples that still has at least ten
    samples strictly beyond its nearest rank, ``100 * (n - 10) / n``, when
    that is a tail (p90 or above).  With fewer than 100 samples it is not,
    and the maximum is reported instead, as percentile 100."""
    if n < 100:
        return 100.0
    return 100.0 * (n - 10) / n


def op_medians(passes: list[dict]) -> dict[str, float]:
    """Each op's median latency over ``passes``, from the op records that
    succeeded and carry a time (checks carry none)."""
    times: dict[str, list[float]] = {}
    for p in passes:
        for o in p["ops"]:
            if o["ok"] and "s" in o:
                times.setdefault(o["op"], []).append(o["s"])
    return {op: median(ts) for op, ts in times.items()}


def percentile(samples: list[float], p: float) -> float:
    """Nearest-rank percentile; ``p`` = 100 is the maximum."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("no samples")
    # the epsilon keeps a rank that is whole in exact arithmetic from being
    # rounded up by float error (p = 100 * (n - 10) / n gives rank n - 10)
    return xs[max(0, math.ceil(p / 100.0 * len(xs) - 1e-9) - 1)]


def same_result(got, want) -> str | None:
    """Compare two canonicalised results (``tools/check_correctness.py``'s
    ``_normalize``: columns sorted, rows order-independent, NaN as a token,
    -0.0 folded into 0.0); ``None`` when they match exactly or within its
    1e-9 relative float tolerance, else the reason."""
    gcols, grows = got
    wcols, wrows = want
    if gcols != wcols:
        return f"columns {gcols} != {wcols}"
    if len(grows) != len(wrows):
        return f"{len(grows)} rows != {len(wrows)}"
    if grows == wrows or all(_approx_equal(a, b) for a, b in zip(grows, wrows)):
        return None
    bad = next(i for i, (a, b) in enumerate(zip(grows, wrows)) if not _approx_equal(a, b))
    return f"row {bad}: {grows[bad]!r} != {wrows[bad]!r}"


def check_record(op: str, got_frame, want_frame) -> dict:
    """One output check as an op record: ``ok`` is false, with the reason,
    when the two frames do not hold the same rows."""
    why = same_result(_normalize(got_frame), _normalize(want_frame))
    return {"op": op, "ok": why is None, **({"error": why} if why else {})}


def tally(ops: list[dict]) -> tuple[int, list[dict]]:
    """``(attempted, failed ops)``: every op record counts as attempted,
    and every one that raised or produced a wrong output as failed."""
    return len(ops), [o for o in ops if not o["ok"]]


def _tree(root: int) -> dict[int, list[str]]:
    """``{pid: stat fields after the command}`` for ``root`` and every
    descendant, from /proc."""
    children: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # the process ended while we listed it
        fields = stat[stat.rindex(")") + 2 :].split()
        children.setdefault(int(fields[1]), []).append(int(name))
        stats[int(name)] = fields
    out, stack = {}, [root]
    while stack:
        pid = stack.pop()
        if pid in stats:
            out[pid] = stats[pid]
        stack.extend(children.get(pid, ()))
    return out


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def tree_rss_kb(root: int) -> int:
    """Resident KiB of ``root`` and its descendants.

    A JVM thread that runs a shell command forks first: until the child
    calls exec it is a copy-on-write image of the whole JVM and reports the
    JVM's resident size again.  Such children (same executable as a JVM
    parent) are skipped, so a short-lived fork does not double the sum.
    """
    tree = _tree(root)
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    total = 0
    for pid, f in tree.items():
        ppid = int(f[1])
        if ppid in tree:
            parent_exe = _exe(ppid)
            if parent_exe.endswith("/java") and _exe(pid) == parent_exe:
                continue
        total += int(f[21]) * page_kb
    return total


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root``, its live
    descendants and the children they have reaped."""
    # fields after the command start at stat field 3: utime is field 14
    return sum(
        sum(int(f[i]) for i in (11, 12, 13, 14)) for f in _tree(root).values()
    ) / _TICK


def host_steal_s() -> float:
    """Seconds the hypervisor ran something else on this machine's CPUs."""
    return vm_ticks()[1] / _TICK


def vm_ticks() -> tuple[int, int]:
    """``(busy, steal)`` clock ticks of all this machine's CPUs so far: the
    time they ran code, and the time they were ready to but the hypervisor
    ran another guest."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9]
        )
    return user + nice + system + irq + softirq, steal


def steal_free(wall_s: float, busy: int, steal: int) -> float:
    """``wall_s`` less the share of it the CPUs spent stolen: the time the
    interval would have taken had the hypervisor never run another guest
    on them.  With no ticks in the interval it is ``wall_s``."""
    return wall_s * busy / (busy + steal) if busy + steal else wall_s


class StealClock:
    """Times an interval both ways: ``wall_s()`` as it passed, and
    ``steal_free_s()`` with the stolen share taken out (``steal_free``)."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.ticks0 = vm_ticks()

    def wall_s(self) -> float:
        return time.perf_counter() - self.t0

    def run_share(self) -> float:
        """The share of the ready CPU time that the CPUs ran, so far."""
        busy, steal = (b - a for a, b in zip(self.ticks0, vm_ticks()))
        return steal_free(1.0, busy, steal)

    def steal_free_s(self) -> float:
        return self.wall_s() * self.run_share()


class TreeRssSampler:
    """Samples the resident memory of this process and every descendant
    (the JVM and its Python workers) on a background thread; ``peak_mb`` is
    the largest sum seen.  Use as a context manager."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_kb = 0
        self.busy_s = 0.0  # time spent sampling, to show its overhead
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.sample()
            if self._stop.wait(self.interval_s):
                return

    def sample(self) -> None:
        t0 = time.perf_counter()
        self.peak_kb = max(self.peak_kb, tree_rss_kb(os.getpid()))
        self.busy_s += time.perf_counter() - t0

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()
