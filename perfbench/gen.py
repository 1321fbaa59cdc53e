"""Seeded input generators for the benchmark.

Everything here is NumPy + PyArrow, written straight to parquet or text,
so generation never touches Spark and is never part of a timed number.
The same ``seed`` always yields byte-identical inputs.

* :func:`write_tables` - the registry's table universe (region ... embeddings)
  in the driver's schemas, at ``scale`` times the sf1 row counts.
* :func:`commit_drops` / :func:`write_commit_drops` - a commit stream split
  into event-time-ordered drops, rows shuffled within each drop.
* :func:`mbox_archive` / :func:`write_mbox_archive` - a monthly mbox archive
  plus the counts a correct reader must reproduce.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: sf1 row counts of the driver's tables; documents/embeddings are capped
ROWS_SF1 = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
MIN_ROWS = {"supplier": 10, "documents": 500, "embeddings": 500}

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_COLORS = ["red", "blue", "small", "large", "hot", "old", "green", "shiny"]
_NOUNS = ["ring", "widget", "bolt", "plate", "rod", "gear", "pipe", "nut"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]

_US = np.int64(1_000_000)
_DAY_US = 86_400 * _US


def _ts(us: np.ndarray) -> pa.Array:
    """Naive timestamp[us] column, stored like the driver's parquet."""
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _epoch_us(y: int, m: int, d: int) -> int:
    return int(datetime(y, m, d, tzinfo=timezone.utc).timestamp()) * 1_000_000


def _rows(name: str, scale: float) -> int:
    return max(MIN_ROWS.get(name, 1), int(round(ROWS_SF1[name] * scale)))


def make_tables(scale: float, seed: int) -> dict[str, pa.Table]:
    """The ten registry tables at ``scale`` (sf fraction), from ``seed``."""
    rng = np.random.default_rng(seed)
    n = {k: _rows(k, scale) for k in ROWS_SF1}
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    k = np.arange(n["customer"], dtype="int64")
    out["customer"] = pa.table(
        {
            "c_custkey": k,
            "c_name": [f"Customer#{i:09d}" for i in k],
            "c_nationkey": rng.integers(0, 25, k.size).astype("int32"),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, k.size), 2),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, k.size)],
        }
    )
    k = np.arange(n["supplier"], dtype="int64")
    out["supplier"] = pa.table(
        {
            "s_suppkey": k,
            "s_name": [f"Supplier#{i:09d}" for i in k],
            "s_nationkey": rng.integers(0, 25, k.size).astype("int32"),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, k.size), 2),
        }
    )
    k = np.arange(n["part"], dtype="int64")
    out["part"] = pa.table(
        {
            "p_partkey": k,
            "p_name": [
                f"{_COLORS[a]} {_NOUNS[b]}"
                for a, b in zip(rng.integers(0, 8, k.size), rng.integers(0, 8, k.size))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, k.size)],
            "p_type": np.array(_TYPES)[rng.integers(0, 6, k.size)],
            "p_size": rng.integers(1, 51, k.size).astype("int32"),
            "p_retailprice": np.round(900.0 + (k % 1000) / 10.0, 2),
        }
    )
    k = np.arange(n["orders"], dtype="int64")
    d0, d1 = _epoch_us(1995, 1, 1) // _DAY_US, _epoch_us(2001, 8, 1) // _DAY_US
    order_day = rng.integers(d0, d1 + 1, k.size)
    out["orders"] = pa.table(
        {
            "o_orderkey": k,
            "o_custkey": rng.integers(0, n["customer"], k.size),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, k.size)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, k.size), 2),
            "o_orderdate": _ts(order_day * _DAY_US),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, k.size)],
        }
    )
    m = n["lineitem"]
    lk = rng.integers(0, n["orders"], m)
    qty = rng.integers(1, 51, m).astype("float64")
    out["lineitem"] = pa.table(
        {
            "l_orderkey": lk,
            "l_partkey": rng.integers(0, n["part"], m),
            "l_suppkey": rng.integers(0, n["supplier"], m),
            "l_linenumber": rng.integers(1, 8, m).astype("int32"),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, m), 2),
            "l_discount": rng.integers(0, 11, m) / 100.0,
            "l_tax": rng.integers(0, 9, m) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, m)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, m)],
            "l_shipdate": _ts((order_day[lk] + rng.integers(1, 122, m)) * _DAY_US),
        }
    )
    m = n["events"]
    t0 = _epoch_us(2024, 1, 1)
    ts = np.sort(t0 + rng.integers(0, 30 * _DAY_US, m))
    out["events"] = pa.table(
        {
            "event_id": np.arange(m, dtype="int64"),
            "ts": _ts(ts),
            "user_id": rng.integers(0, max(10, m // 66), m),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, m)],
            "value": np.maximum(np.round(rng.exponential(50.0, m), 2), 0.01),
            "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, m)],
        }
    )
    m = n["documents"]
    texts = []
    for i in range(m):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document (what the dedup kernels find)
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            idx = rng.integers(0, len(_WORDS), int(rng.integers(10, 100)))
            texts.append(" ".join(_WORDS[j] for j in idx))
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(m, dtype="int64"),
            "text": texts,
            "lang": np.array(_LANGS)[rng.integers(0, 5, m)],
            "source": [f"src{i}" for i in rng.integers(0, 20, m)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )
    m = n["embeddings"]
    label = rng.integers(0, 10, m).astype("int32")
    centers = rng.normal(0.0, 1.0, (10, 64))
    vec = centers[label] * 0.3 + rng.normal(0.0, 1.0, (m, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype("float32")
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(m, dtype="int64"),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": label,
        }
    )
    return out


def write_tables(dst: str, scale: float, seed: int) -> dict[str, int]:
    """Write :func:`make_tables` as ``<dst>/<name>.parquet``; row counts."""
    os.makedirs(dst, exist_ok=True)
    counts = {}
    for name, table in make_tables(scale, seed).items():
        pq.write_table(table, os.path.join(dst, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


_FILE = pa.struct(
    [
        ("filename", pa.string()),
        ("linesAdded", pa.int32()),
        ("linesChanged", pa.int32()),
        ("linesRemoved", pa.int32()),
    ]
)


def commit_drops(n_commits: int, n_drops: int, seed: int) -> list[pa.Table]:
    """Commits in ``schemas.COMMIT`` shape, split into ``n_drops``
    event-time-ordered drops; rows are shuffled within each drop.

    The files follow the flagship ``commit_activity`` synthesis: three
    changed files per commit (a ``flink-<m>`` module source, a docs page and
    LICENSE or a CI script), so the component regex sees matches and misses.
    """
    rng = np.random.default_rng(seed)
    t0 = _epoch_us(2019, 1, 1)
    ts = np.sort(t0 + rng.integers(0, 365 * _DAY_US, n_commits))
    ts -= ts % 1000  # ms precision, as the reference's TIMESTAMP(3)
    k = rng.integers(0, 1 << 40, n_commits)
    files = [
        [
            {"filename": f"flink-{a % 7}/src/main/java/A.java", "linesAdded": 0,
             "linesChanged": int(a * 7 % 100), "linesRemoved": 0},
            {"filename": f"docs/content/p{a % 5}.md", "linesAdded": 0,
             "linesChanged": int(a * 11 % 100), "linesRemoved": 0},
            {"filename": "LICENSE" if a % 4 == 0 else "tools/ci/t.sh",
             "linesAdded": 0, "linesChanged": int(a * 13 % 100),
             "linesRemoved": 0},
        ]
        for a in k
    ]
    none_s = pa.nulls(n_commits, pa.string())
    none_t = pa.nulls(n_commits, pa.timestamp("us", tz="UTC"))
    table = pa.table(
        {
            "author": none_s,
            "authorDate": none_t,
            "authorEmail": none_s,
            "commitDate": pa.array(ts, pa.int64()).cast(pa.timestamp("us", tz="UTC")),
            "committer": none_s,
            "committerEmail": none_s,
            "filesChanged": pa.array(files, pa.list_(_FILE)),
            "sha1": pa.array([f"{x:010x}" for x in k]),
            "shortInfo": none_s,
        }
    )
    bounds = np.linspace(0, n_commits, n_drops + 1).astype(int)
    drops = []
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        perm = lo + rng.permutation(hi - lo)
        drops.append(table.take(pa.array(perm)))
    return drops


def write_commit_drops(dst: str, n_commits: int, n_drops: int, seed: int) -> list[str]:
    """Write each drop as ``<dst>/drop-NN.parquet``; the file paths."""
    os.makedirs(dst, exist_ok=True)
    paths = []
    for i, drop in enumerate(commit_drops(n_commits, n_drops, seed)):
        p = os.path.join(dst, f"drop-{i:02d}.parquet")
        pq.write_table(drop, p)
        paths.append(p)
    return paths


#: tumbling window of ``distinct_users_per_window`` (epoch-aligned)
USERS_WINDOW = timedelta(days=365)


def mbox_archive(n_months: int, per_month: int, seed: int):
    """A monthly mailing-list archive: ``{file name: mbox text}`` plus the
    counts a correct reader reproduces - ``rows`` and the distinct senders
    per 365-day window, keyed by window end (naive UTC)."""
    rng = np.random.default_rng(seed)
    users = [f"user{i}@example{i % 7}.org" for i in range(max(20, per_month // 4))]
    threads = [f"Topic {i}: {_WORDS[i % len(_WORDS)]} question" for i in range(per_month // 3 + 1)]
    files: dict[str, str] = {}
    senders: dict[datetime, set] = {}
    epoch = datetime(1970, 1, 1)
    rows = 0
    for mi in range(n_months):
        y, m = 2020 + mi // 12, mi % 12 + 1
        start = datetime(y, m, 1)
        secs = np.sort(rng.integers(0, 28 * 86_400, per_month))
        who = rng.integers(0, len(users), per_month)
        topic = rng.integers(0, len(threads), per_month)
        reply = rng.random(per_month) < 0.5
        parts = []
        for s, u, t, r in zip(secs, who, topic, reply):
            date = start + timedelta(seconds=int(s))
            addr = users[u]
            subject = ("Re: " if r else "") + threads[t]
            parts.append(
                f"From {addr} {date:%a %b %d %H:%M:%S %Y}\n"
                f"From: User {u} <{addr}>\n"
                f"To: dev@flink.apache.org\n"
                f"Subject: {subject}\n"
                f"Date: {date:%a, %d %b %Y %H:%M:%S} +0000\n"
                f"Content-Type: text/plain; charset=utf-8\n\n"
                f"Message body {rows} about {threads[t]}.\n\n"
            )
            end = epoch + ((date - epoch) // USERS_WINDOW + 1) * USERS_WINDOW
            senders.setdefault(end, set()).add(addr)
            rows += 1
        files[f"dev-{y:04d}-{m:02d}.mbox"] = "".join(parts)
    return files, {"rows": rows, "users_per_window": {e: len(s) for e, s in senders.items()}}


def write_mbox_archive(dst: str, n_months: int, per_month: int, seed: int) -> dict:
    """Write :func:`mbox_archive` under ``dst``; the expected counts."""
    os.makedirs(dst, exist_ok=True)
    files, expect = mbox_archive(n_months, per_month, seed)
    for name, text in files.items():
        with open(os.path.join(dst, name), "w") as f:
            f.write(text)
    return expect
