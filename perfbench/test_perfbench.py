"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
from metrics import (  # noqa: E402
    check_record,
    op_medians,
    percentile,
    steal_free,
    tail_percentile_for,
    tally,
)


@pytest.mark.parametrize("n", range(1, 400))
def test_tail_percentile_keeps_ten_samples_beyond(n):
    p = tail_percentile_for(n)
    xs = list(range(n))
    v = percentile(xs, p)
    beyond = sum(1 for x in xs if x > v)
    if n < 100:
        # no percentile at p90 or above has ten samples beyond it
        assert p == 100.0 and v == n - 1
    else:
        # exactly ten beyond: any higher percentile would leave fewer
        assert beyond == 10 and p >= 90.0


def test_tail_percentile_named_points():
    assert tail_percentile_for(12) == 100.0
    assert tail_percentile_for(99) == 100.0
    assert tail_percentile_for(100) == 90.0
    assert tail_percentile_for(200) == 95.0
    assert tail_percentile_for(1000) == 99.0


def test_percentile_fixed_by_fewest_samples_still_has_ten_beyond():
    # a run with more passes than the minimum keeps the same percentile,
    # and that percentile still has at least ten samples beyond it
    p = tail_percentile_for(120)
    for n in (120, 180, 240):
        xs = list(range(n))
        assert sum(1 for x in xs if x > percentile(xs, p)) >= 10


def test_percentile_nearest_rank():
    assert percentile([5.0, 1.0, 3.0], 50.0) == 3.0
    assert percentile([5.0, 1.0, 3.0], 100.0) == 5.0
    with pytest.raises(ValueError):
        percentile([], 50.0)


def test_steal_free_takes_out_the_stolen_share():
    # 30 ticks run, 10 stolen: a quarter of the ready time was stolen
    assert steal_free(8.0, 30, 10) == pytest.approx(6.0)
    assert steal_free(8.0, 30, 0) == 8.0
    assert steal_free(0.004, 0, 0) == 0.004  # no tick in the interval


def test_op_medians_per_op_and_skips_failures_and_checks():
    passes = [
        {"ops": [{"op": "a", "ok": True, "s": s}, {"op": "b", "ok": True, "s": 10 * s},
                 {"op": "check", "ok": True}]}
        for s in (1.0, 3.0, 2.0)
    ]
    passes[1]["ops"].append({"op": "c", "ok": False, "s": 99.0})
    assert op_medians(passes) == {"a": 2.0, "b": 20.0}


def _frame():
    return pd.DataFrame(
        {"k": ["a", "b", "c"], "v": [1.5, -0.0, float("nan")], "n": [1, 2, 3]}
    )


def test_check_record_accepts_reordered_and_signed_zero():
    got = _frame().iloc[::-1].reset_index(drop=True)
    want = _frame()
    want.loc[1, "v"] = 0.0
    rec = check_record("check:q", got, want[["n", "v", "k"]])
    assert rec == {"op": "check:q", "ok": True}


def test_corrupted_result_counts_as_failure():
    got = _frame()
    got.loc[2, "n"] = 4  # one corrupted cell
    rec = check_record("check:q", got, _frame())
    assert not rec["ok"] and "row" in rec["error"]
    ok = {"op": "q", "ok": True, "s": 0.1}
    attempted, failed = tally([ok, rec, ok])
    assert attempted == 3 and failed == [rec]


def test_check_record_float_tolerance():
    got = _frame()
    got.loc[0, "v"] = 1.5 * (1 + 1e-12)
    assert check_record("q", got, _frame())["ok"]
    got.loc[0, "v"] = 1.5 * (1 + 1e-6)
    assert not check_record("q", got, _frame())["ok"]


def test_missing_row_counts_as_failure():
    rec = check_record("q", _frame().iloc[:2], _frame())
    assert not rec["ok"] and "rows" in rec["error"]


def test_tables_deterministic_per_seed():
    a = gen.make_tables(0.001, 7)
    b = gen.make_tables(0.001, 7)
    c = gen.make_tables(0.001, 8)
    assert set(a) == {
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    }
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["orders"].num_rows == 1500 and a["documents"].num_rows == 500


def test_commit_drops_deterministic_and_event_time_ordered():
    a = gen.commit_drops(1200, 4, seed=3)
    b = gen.commit_drops(1200, 4, seed=3)
    c = gen.commit_drops(1200, 4, seed=4)
    assert [x.equals(y) for x, y in zip(a, b)] == [True] * 4
    assert not a[0].equals(c[0])
    assert sum(d.num_rows for d in a) == 1200
    spans = [
        (min(d.column("commitDate").to_pylist()), max(d.column("commitDate").to_pylist()))
        for d in a
    ]
    assert all(hi <= nxt_lo for (_, hi), (nxt_lo, _) in zip(spans, spans[1:]))
    # rows are shuffled within a drop, not sorted
    dates = a[0].column("commitDate").to_pylist()
    assert dates != sorted(dates)


def test_mbox_archive_deterministic_with_counts():
    files, expect = gen.mbox_archive(3, 20, seed=5)
    again, expect2 = gen.mbox_archive(3, 20, seed=5)
    other, _ = gen.mbox_archive(3, 20, seed=6)
    assert files == again and expect == expect2 and files != other
    assert expect["rows"] == 60
    assert sum(text.count("\nFrom: ") for text in files.values()) == 60
    assert sorted(files) == ["dev-2020-01.mbox", "dev-2020-02.mbox", "dev-2020-03.mbox"]
    assert sum(expect["users_per_window"].values()) >= 1


def test_mbox_archive_parses_to_the_expected_counts(tmp_path):
    # the engine's own parser reads back exactly what the generator counted
    from lab_flink_repository_analytics_spark.ingest import mbox

    expect = gen.write_mbox_archive(str(tmp_path), 2, 15, seed=9)
    rows = [r for f in sorted(os.listdir(tmp_path)) for r in mbox.read_emails(str(tmp_path / f))]
    assert len(rows) == expect["rows"]
    users: dict = {}
    for r in rows:
        end = gen.datetime(1970, 1, 1) + (
            (r["date"] - gen.datetime(1970, 1, 1)) // gen.USERS_WINDOW + 1
        ) * gen.USERS_WINDOW
        users.setdefault(end, set()).add(r["fromEmail"])
    assert {k: len(v) for k, v in users.items()} == expect["users_per_window"]
