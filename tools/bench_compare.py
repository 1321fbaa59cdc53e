#!/usr/bin/env python
"""Per-query bench regression report: BENCH_r(N) vs BENCH_r(N-1).

Reads the two most recent ``BENCH_r*.json`` artifacts at the repo root
(or two paths given on the command line) and prints a per-query delta
table, flagging queries slower by more than ``THRESHOLD``× (default
1.5).  Non-fatal by design — ci.sh runs it as a report; exit code 2
signals "regressions flagged" for callers that want to gate on it.

Usage: python tools/bench_compare.py [old.json new.json] [--threshold 1.5]
           [--gate]

``--gate`` (round-10 verdict task 5): same comparison, but regressions
become a HARD failure (exit 2) instead of a report — ci.sh runs this
after the bench step so a real canary-normalized per-query slowdown
fails the gate instead of scrolling by.  Without canaries in both
artifacts the gate still applies to the raw ratio (host drift then
indistinguishable from regression — the message says so).
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
THRESHOLD = 1.5
# below this absolute time, ratios are noise (session warmup, JIT)
MIN_SECONDS = 0.5


def _canary_median(d: dict) -> float | None:
    """Pooled canary median from an artifact that carries the round-9
    host-speed canary (``canary_start``/``canary_end`` from bench.py,
    possibly nested under ``parsed``).  The mean
    of the two medians estimates host speed across the run."""
    for src in (d, d.get("parsed") or {}):
        cs, ce = src.get("canary_start"), src.get("canary_end")
        if isinstance(cs, dict) and isinstance(ce, dict):
            try:
                return (float(cs["median"]) + float(ce["median"])) / 2.0
            except (KeyError, TypeError, ValueError):
                pass
    return None


def _extract_queries(d: dict) -> dict[str, float]:
    """Per-query seconds from either bench.py's own JSON line
    (``{"queries": {...}}``) or the driver's wrapper artifact, whose
    ``tail`` holds the (possibly front-truncated) stdout."""
    def _norm(q: dict) -> dict[str, float]:
        # tolerate the BENCH_SEQ_* per-query stat dicts: use the median
        return {
            k: (float(v["median"]) if isinstance(v, dict) else float(v))
            for k, v in q.items()
        }

    if isinstance(d.get("queries"), dict):
        return _norm(d["queries"])
    parsed = d.get("parsed")
    if isinstance(parsed, dict) and isinstance(parsed.get("queries"), dict):
        # same normalization as the direct form — a wrapper artifact
        # carrying stat dicts used to flow raw into the ratio math and
        # raise TypeError (round-10 advisor fix)
        return _norm(parsed["queries"])
    tail = d.get("tail", "")
    # tolerate truncation: scrape every  "name": 1.234  pair in the tail
    pairs = re.findall(r'"([A-Za-z0-9_]+)":\s*([0-9]+(?:\.[0-9]+)?)\b', tail)
    skip = {"metric", "value", "sf", "cpus", "n", "rc"}
    return {k: float(v) for k, v in pairs if k not in skip}


def _latest_two() -> tuple[str, str] | None:
    paths = glob.glob(os.path.join(ROOT, "BENCH_r*.json"))

    def rnum(p: str) -> int:
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        return int(m.group(1)) if m else -1

    usable = []
    for p in sorted(paths, key=rnum):
        try:
            d = json.load(open(p))
            if isinstance(d, dict) and _extract_queries(d):
                usable.append(p)
        except Exception:
            continue
    if len(usable) < 2:
        return None
    return usable[-2], usable[-1]


def main() -> int:
    args = [a for a in sys.argv[1:]]
    threshold = THRESHOLD
    gate = "--gate" in args
    args = [a for a in args if a != "--gate"]
    if "--threshold" in args:
        i = args.index("--threshold")
        threshold = float(args[i + 1])
        del args[i : i + 2]
    if len(args) == 2:
        old_p, new_p = args
    else:
        pair = _latest_two()
        if pair is None:
            print("bench_compare: fewer than two usable BENCH_r*.json artifacts; nothing to compare")
            return 0
        old_p, new_p = pair

    old = json.load(open(old_p))
    new = json.load(open(new_p))
    oq, nq = _extract_queries(old), _extract_queries(new)
    common = sorted(set(oq) & set(nq))
    added = sorted(set(nq) - set(oq))
    removed = sorted(set(oq) - set(nq))

    print(f"bench_compare: {os.path.basename(old_p)} -> {os.path.basename(new_p)}")
    print(f"  total: {sum(oq.values()):.1f}s -> {sum(nq.values()):.1f}s  "
          f"({len(oq)} -> {len(nq)} queries)")
    # HOST-SPEED NORMALIZATION (round 9): when both artifacts carry the
    # canary, per-query ratios are divided by the canary ratio first —
    # ambient host drift (measured swinging 1.43× within a single run,
    # BENCH_COMPARE_r09.md) otherwise reads as a uniform fake regression.
    co, cn = _canary_median(old), _canary_median(new)
    host = None
    if co and cn:
        host = cn / co
        print(f"  canary: {co:.3f}s -> {cn:.3f}s (host ratio {host:.2f}x; "
              f"per-query ratios normalized by it)")
    else:
        print("  canary: absent in one/both artifacts — ratios UNNORMALIZED "
              "(host drift indistinguishable from regression)")
    regressions = []
    improvements = []
    for name in common:
        a, b = oq[name], nq[name]
        if a <= 0:
            continue
        ratio = (b / a) / host if host else b / a
        if b >= MIN_SECONDS and ratio > threshold:
            regressions.append((ratio, name, a, b))
        elif a >= MIN_SECONDS and ratio < 1 / threshold:
            improvements.append((ratio, name, a, b))
    for ratio, name, a, b in sorted(regressions, reverse=True):
        print(f"  REGRESSION {name}: {a:.2f}s -> {b:.2f}s ({ratio:.2f}x)")
    for ratio, name, a, b in sorted(improvements):
        print(f"  improved   {name}: {a:.2f}s -> {b:.2f}s ({ratio:.2f}x)")
    if added:
        print(f"  added: {', '.join(added)}")
    if removed:
        print(f"  removed: {', '.join(removed)}")
    if not regressions:
        print(f"  no per-query regressions > {threshold}x")
        return 0
    if gate:
        print(f"  GATE FAILED: {len(regressions)} canary-normalized "
              f"per-query regression(s) > {threshold}x")
    return 2


if __name__ == "__main__":
    sys.exit(main())
