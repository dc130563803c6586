"""Stable ordering — the engine's determinism backbone.

The reference is deterministic because it processes one ordered stream per
instrument-day on one thread (reference: src/pipeline.rs:606-736; BTreeMap
iteration at src/features/mbo_features/order_tracker.rs:121-126). In Spark,
determinism instead comes from every window spec using the same *total*
order: partitionBy(conv_id).orderBy(turn_idx, ts). ``turn_idx`` is unique
within a conversation so ties cannot occur; per-turn text must survive
identically under this ordering (BASELINE input_hint invariant).

Authoring every window over the identical partition/order spec also lets
Spark collapse them into a single Window exec over one sort+shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from ..config import PipelineConfig


def stable_window(cfg: PipelineConfig) -> WindowSpec:
    """The canonical per-conversation ordered window."""
    return Window.partitionBy(cfg.key_col).orderBy(*cfg.order_cols)


def cumulative(cfg: PipelineConfig) -> WindowSpec:
    """Point-in-time accumulating frame: everything up to and including the
    current turn — never a row with ts greater than the anchor (the zero
    temporal-leakage guarantee for the feature side)."""
    return stable_window(cfg).rowsBetween(Window.unboundedPreceding, Window.currentRow)


def trailing(cfg: PipelineConfig, n: int) -> WindowSpec:
    """Count-based trailing frame of the last ``n`` turns (inclusive) —
    reference's ring-buffer event window (src/features/mbo_features/window.rs)."""
    return stable_window(cfg).rowsBetween(-(n - 1), Window.currentRow)


def forward(cfg: PipelineConfig, lo: int, hi: int) -> WindowSpec:
    """Forward-looking frame — labels only. Kept in a separate namespace so
    the leakage test can prove no *feature* uses it."""
    return stable_window(cfg).rowsBetween(lo, hi)


def super_group(df: DataFrame, key: str, name: str) -> DataFrame:
    """Adds int column ``name`` = pmod(xxhash64(key), max(4 x shuffle
    partitions, 64)), the Arrow super-group bucket of ``key``. Grouping an
    applyInPandas stage by it pays the per-group Spark/pandas machinery once
    per bucket of many conversations, not once per conversation (there can
    be 10^8 conversations; there are only ~thousands of buckets)."""
    sp = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    return df.withColumn(
        name, F.pmod(F.xxhash64(key), F.lit(max(sp * 4, 64))).cast("int")
    )


def assert_monotone_ts(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Audit column flagging timestamp regressions under the stable order
    (reference: validate_timestamps, src/lib.rs:132-134)."""
    prev = F.lag(cfg.ts_col).over(stable_window(cfg))
    return df.withColumn(
        "_ts_monotone",
        F.when(prev.isNull() | (prev <= F.col(cfg.ts_col)), F.lit(True)).otherwise(F.lit(False)),
    )


def epoch_us(col: str | Column) -> Column:
    """Microseconds since epoch as long — the engine's internal time unit.

    The reference carries i64 nanoseconds (src/preprocessing/sampling.rs:92-104);
    Spark timestamps are µs-resolution, so µs is the exact unit here and
    matches DuckDB's epoch_us for oracle parity.
    """
    c = F.col(col) if isinstance(col, str) else col
    # parquet files often carry TIMESTAMP_NTZ; with the session pinned to UTC
    # this cast is exact and deterministic (unix_micros rejects NTZ directly)
    return F.unix_micros(c.cast("timestamp"))


def with_lags(df: DataFrame, cfg: PipelineConfig, cols: list[str],
              offsets: tuple[int, ...] = (1, 2, 4)) -> DataFrame:
    """Lagged copies of ``cols`` under the stable order: ``{col}_lag{k}`` is
    the value k turns earlier in the conversation (NULL inside the warmup).

    The north rule's "lag/lead ... features computed with
    Window.partitionBy(conv_id).orderBy(turn_idx, ts)" as a first-class
    bundle. Every lag shares the one stable window spec, so all of them
    collapse into the engine-wide single exchange + sort.
    """
    w = stable_window(cfg)
    sel = [df["*"]]
    for c in cols:
        for k in offsets:
            sel.append(F.lag(c, k).over(w).alias(f"{c}_lag{k}"))
    return df.select(*sel)


def with_leads(df: DataFrame, cfg: PipelineConfig, cols: list[str],
               offsets: tuple[int, ...] = (1,)) -> DataFrame:
    """Forward copies ``{col}_lead{k}`` — label-side ONLY (reads future
    rows; the temporal-leakage test forbids these in any feature frame,
    same contract as `forward`)."""
    w = stable_window(cfg)
    sel = [df["*"]]
    for c in cols:
        for k in offsets:
            sel.append(F.lead(c, k).over(w).alias(f"{c}_lead{k}"))
    return df.select(*sel)
