import datetime
import sys
from decimal import Decimal

from perfbench.checks import canon_rows, leaderboard_problems, row_problems, rows_digest
from perfbench.run import ROOT


def test_canonicalization_matches_the_correctness_tool():
    sys.path.insert(0, str(ROOT / "tools"))
    try:
        import check_correctness
    finally:
        sys.path.remove(str(ROOT / "tools"))
    cols = ["b", "a", "c"]
    rows = [
        (0.1 + 0.2, None, datetime.date(2024, 1, 2)),
        (1.0, "x", Decimal("1.50")),
        (True, 3, datetime.datetime(2024, 1, 2, 3, 4, 5)),
    ]
    assert canon_rows(cols, rows) == check_correctness._canon_rows(cols, rows)


def test_row_problems():
    cols, rows = ["k", "v"], [(1, 2.5), (2, None)]
    good = {"cols": ["v", "k"], "n": 2, "digest": rows_digest(["v", "k"], [(2.5, 1), (None, 2)])}
    assert row_problems(cols, rows, good) == []
    assert row_problems(cols, list(reversed(rows)), good) == []
    assert row_problems(cols, rows[:1], good) == ["row count 1 != 2"]
    assert row_problems(["k", "w"], rows, good)[0].startswith("columns")
    assert row_problems(cols, [(1, 2.5), (2, 0.0)], good) == ["value multiset differs"]


def _board(*prices):
    return [(f"D{i}", {"price": p, "carbon": p / 2, "time": p * 10}) for i, p in enumerate(prices, 1)]


def test_leaderboard_checks():
    variants = ["D1", "D2", "D3", "D4"]
    counts = {"B1": {v: 5 for v in variants}}
    per_brand, board = leaderboard_problems(counts, {"B1": 5}, _board(1, 2, 3, 4), variants)
    assert per_brand == {"B1": []} and board == []

    counts["B1"]["D3"] = 4
    per_brand, _ = leaderboard_problems(counts, {"B1": 5}, _board(1, 2, 3, 4), variants)
    assert per_brand["B1"] == ["D3 returned 4 rows, DuckDB 5"]

    _, board = leaderboard_problems({}, {}, _board(2, 1, 3, 4), variants)
    assert board == ["leaderboard not sorted by (price, carbon, time)"]
    _, board = leaderboard_problems({}, {}, _board(1, 2, 3), variants)
    assert board == ["leaderboard has 3 entries, not 4"]
