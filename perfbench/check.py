"""Output checks: DuckDB oracles over the generated inputs, and the accounting
that turns op results into ``attempted`` / ``failed``.

Value comparison is the repository's own (``tools/check_oracle.compare``):
row count, column names, and order-insensitive, bit-exact values.
"""

from __future__ import annotations

import os
import sys
import time
from dataclasses import dataclass, field

import pandas as pd

_TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


def _compare():
    if _TOOLS not in sys.path:
        sys.path.insert(0, _TOOLS)
    from check_oracle import compare

    return compare


class Oracle:
    """DuckDB over the same parquet the engine read; oracle results cached per query."""

    def __init__(self, sf_dir: str, tables: tuple[str, ...]):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in tables:
            p = os.path.join(sf_dir, f"{t}.parquet")
            src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
        self._frames: dict[str, pd.DataFrame] = {}
        self._cmp = _compare()

    def sql(self, q: str) -> pd.DataFrame:
        return self.con.execute(q).df()

    def read_parquet(self, path: str, hive: bool = False) -> pd.DataFrame:
        src = os.path.join(path, "**", "*.parquet") if hive else os.path.join(path, "*.parquet")
        return self.sql(f"SELECT * FROM read_parquet('{src}', hive_partitioning = {hive})")

    def oracle_frame(self, name: str) -> pd.DataFrame:
        if name not in self._frames:
            from airdatapipeline_spark.registry import ORACLES

            self._frames[name] = self.sql(ORACLES[name])
        return self._frames[name]

    def compare_frames(self, label: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
        return [f"{label}: {p}" for p in self._cmp(label, got, want)]

    def compare(self, name: str, got: pd.DataFrame) -> list[str]:
        return self.compare_frames(name, got, self.oracle_frame(name))

    def compare_sql(self, label: str, got: pd.DataFrame, sql: str) -> list[str]:
        return self.compare_frames(label, got, self.sql(sql))


@dataclass
class Outcome:
    """One attempted op: its result, or the exception it raised."""

    op: str
    span: int = -1
    result: object = None
    error: str | None = None
    problems: list[str] = field(default_factory=list)


def account(
    outcomes: list[Outcome], checks: dict, on_checked=None
) -> tuple[int, int, dict[str, list[str]]]:
    """Run every outcome through its op's check. An op that raised, whose
    check raised, or whose check reported a problem counts as failed; none is
    skipped. ``on_checked(outcome, start, end)`` sees each check's timing.
    Returns (attempted, failed, first problems per failing op)."""
    failed = 0
    why: dict[str, list[str]] = {}
    for o in outcomes:
        t = time.time()
        if o.error is None:
            try:
                o.problems = list(checks[o.op](o.result))
            except Exception as e:  # a check that cannot run is a failed check
                o.problems = [f"check raised {type(e).__name__}: {e}"]
        else:
            o.problems = [o.error]
        if on_checked is not None:
            on_checked(o, t, time.time())
        if o.problems:
            failed += 1
            why.setdefault(o.op, o.problems[:3])
    return len(outcomes), failed, why


def self_test() -> None:
    """The check path must be able to fail: a wrong result and an op that
    raised both count as failed, and a right result does not."""
    good = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    bad = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.25]})
    cmp = _compare()
    checks = {"q": lambda pdf: cmp("q", pdf, good)}
    outcomes = [
        Outcome("q", result=good),
        Outcome("q", result=bad),
        Outcome("q", error="RuntimeError: injected"),
    ]
    attempted, failed, why = account(outcomes, checks)
    if (attempted, failed) != (3, 2) or not why.get("q") or outcomes[0].problems:
        raise RuntimeError(
            f"check self-test: expected 3 attempted / 2 failed, got {attempted} / {failed}"
        )
