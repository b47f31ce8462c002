"""Output checks: registry rows against their DuckDB oracles, and the
leaderboard's invariants.

Rows are canonicalized exactly as ``tools/check_correctness.py`` does
(cells stringified, floats by ``repr``, columns in name order, rows
sorted), and compared by row count, column names and a digest of the
sorted canonical rows, i.e. the value multiset.  Only the oracle side is
cached, on disk, keyed by the oracle SQL and the fixture fingerprint."""

from __future__ import annotations

import hashlib
import json
import os
from pathlib import Path


def _canon_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def canon_rows(cols, rows) -> list[str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_canon_cell(r[i]) for i in order) for r in rows)


def rows_digest(cols, rows) -> str:
    h = hashlib.sha256()
    for line in canon_rows(cols, rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def verify_fixtures(fixture_dir: str) -> str:
    """Check every fixture file against ``SHA256SUMS`` and return the
    fixture fingerprint (the digest of that manifest).  Raises if a file
    is missing or altered."""
    manifest = Path(fixture_dir).parent / "SHA256SUMS"
    text = manifest.read_text()
    for line in text.splitlines():
        digest, name = line.split()
        with open(os.path.join(fixture_dir, name), "rb") as fh:
            if hashlib.sha256(fh.read()).hexdigest() != digest:
                raise RuntimeError(f"fixture {name} does not match SHA256SUMS")
    return hashlib.sha256(text.encode()).hexdigest()[:16]


class Oracle:
    """DuckDB answers over the fixtures, cached on disk per
    (oracle SQL, fixture fingerprint)."""

    def __init__(self, fixture_dir: str, fingerprint: str, cache_dir: str):
        self.fixture_dir = fixture_dir
        self.fingerprint = fingerprint
        self.cache_dir = Path(cache_dir)
        self._con = None

    def _connect(self):
        if self._con is None:
            import duckdb

            con = duckdb.connect()
            for p in sorted(Path(self.fixture_dir).glob("*.parquet")):
                con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
            self._con = con
        return self._con

    def answer(self, sql: str) -> dict:
        """-> {"cols": [...], "n": rows, "digest": multiset digest,
        "first": first row's cells (for scalar answers)}."""
        key = hashlib.sha256(f"{self.fingerprint}\x00{sql}".encode()).hexdigest()[:32]
        path = self.cache_dir / f"{key}.json"
        if path.exists():
            return json.loads(path.read_text())
        rel = self._connect().sql(sql)
        cols = list(rel.columns)
        rows = rel.fetchall()
        ans = {
            "cols": cols,
            "n": len(rows),
            "digest": rows_digest(cols, rows),
            "first": [_canon_cell(v) for v in rows[0]] if rows else [],
        }
        self.cache_dir.mkdir(parents=True, exist_ok=True)
        tmp = path.with_suffix(f".tmp{os.getpid()}")
        tmp.write_text(json.dumps(ans))
        tmp.replace(path)
        return ans

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


def row_problems(cols, rows, expected: dict) -> list[str]:
    """Differences between Spark's output and the oracle's answer."""
    problems = []
    if sorted(cols) != sorted(expected["cols"]):
        problems.append(f"columns {sorted(cols)} != {sorted(expected['cols'])}")
    if len(rows) != expected["n"]:
        problems.append(f"row count {len(rows)} != {expected['n']}")
    if not problems and rows_digest(cols, rows) != expected["digest"]:
        problems.append("value multiset differs")
    return problems


def leaderboard_problems(
    join_counts: dict[str, dict[str, int]],
    oracle_counts: dict[str, int],
    board: list[tuple[str, dict[str, float]]],
    variants: list[str],
) -> tuple[dict[str, list[str]], list[str]]:
    """Check one leaderboard pass.

    ``join_counts[brand][variant]`` is the filtered-join row count each
    layout returned, ``oracle_counts[brand]`` DuckDB's count, ``board``
    the pipeline's leaderboard.  Returns (problems per brand, problems of
    the board itself)."""
    per_brand: dict[str, list[str]] = {}
    for brand, by_variant in join_counts.items():
        probs = []
        if sorted(by_variant) != sorted(variants):
            probs.append(f"layouts {sorted(by_variant)} != {sorted(variants)}")
        for v, n in sorted(by_variant.items()):
            if n != oracle_counts[brand]:
                probs.append(f"{v} returned {n} rows, DuckDB {oracle_counts[brand]}")
        per_brand[brand] = probs
    board_probs = []
    if len(board) != len(variants):
        board_probs.append(f"leaderboard has {len(board)} entries, not {len(variants)}")
    keys = [(t["price"], t["carbon"], t["time"]) for _, t in board]
    if keys != sorted(keys):
        board_probs.append("leaderboard not sorted by (price, carbon, time)")
    return per_brand, board_probs
