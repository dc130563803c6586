"""Debug-mode runtime checks for broadcast/fan-out budget contracts.

COVERAGE.md's "Broadcast budgets" table documents a bound for every
broadcast-dependent operator. Most are fail-fast (counted before the
collect) or structural (exactly-k rows by construction); the structural
ones are normally parameter arithmetic that no run ever re-verifies.
Setting ``SPARK_GRAFT_CHECK_BROADCASTS=1`` turns them into checked-at-run
contracts: the (by-contract tiny) bounded side is counted with one extra
job and a ``ValueError`` names the violated contract. The corpus side is
never counted — debug mode stays cheap at any scale.

Off by default: the flag is for soak tests, staging runs, and debugging
"why did the driver OOM" reports, not the hot path.

``collect_at_most`` is the one bounded driver finish: every operator that
pulls a by-contract small frame onto the driver (to finish it in exact
Python integers, or to broadcast it as an index) gets its rows there, and
routes or raises when it returns None.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F

DEBUG_ENV = "SPARK_GRAFT_CHECK_BROADCASTS"


def checks_enabled() -> bool:
    return os.environ.get(DEBUG_ENV, "") not in ("", "0")


def collect_at_most(
    df: DataFrame, cap: int, what: str, to_pandas: bool = False
) -> list[Row] | pd.DataFrame | None:
    """All rows of ``df`` if it has at most ``cap`` of them, else None.

    Exactly one action, ``df.limit(cap + 1).collect()`` (``.toPandas()``,
    i.e. Arrow, with ``to_pandas``), whose Spark jobs are described as
    ``what`` (so event logs show every bounded finish); the caller's job
    description, e.g. a ``batch.JobHandle`` group's, is restored afterwards.

    Past the cap, cap + 1 rows still reach the driver, so this is only for
    frames whose cap + 1 rows fit there. A frame of wide rows (a vector
    corpus) is sized first with a column-free ``count()`` and collected
    only within its cap."""
    sc = df.sparkSession.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(f"collect_at_most[{what}] cap={cap}")
    try:
        head = df.limit(cap + 1)
        rows = head.toPandas() if to_pandas else head.collect()
    finally:
        sc.setJobDescription(prev)
    return rows if len(rows) <= cap else None


def assert_rows_at_most(df: DataFrame, bound: int, what: str) -> DataFrame:
    """Identity unless debug checks are on; then count-and-raise."""
    if checks_enabled():
        n = df.count()
        if n > bound:
            raise ValueError(
                f"broadcast budget violated [{what}]: {n} rows > documented "
                f"bound {bound} (COVERAGE.md 'Broadcast budgets')"
            )
    return df


def checked_broadcast(df: DataFrame, bound: int, what: str) -> DataFrame:
    """``F.broadcast`` with the optional runtime row-count assert."""
    return F.broadcast(assert_rows_at_most(df, bound, what))


def assert_group_size_at_most(
    df: DataFrame, key: str | Column, bound: int, what: str
) -> DataFrame:
    """Identity unless debug checks are on; then assert no ``key`` group
    exceeds ``bound`` rows — the join-fanout analog of the broadcast bound
    (a hot key past the cap makes an equi self-join quadratic)."""
    if checks_enabled():
        row = (
            df.groupBy(key)
            .agg(F.count(F.lit(1)).alias("_n"))
            .agg(F.max("_n").alias("_mx"))
            .first()
        )
        mx = row["_mx"] or 0
        if mx > bound:
            raise ValueError(
                f"fan-out budget violated [{what}]: hottest key has {mx} "
                f"rows > documented cap {bound} (COVERAGE.md 'Broadcast "
                "budgets')"
            )
    return df
