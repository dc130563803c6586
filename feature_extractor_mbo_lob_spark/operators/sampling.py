"""Samplers + interval ("since last sample") assignment.

Reference: src/preprocessing/sampling.rs — the sampler decides which events
become feature rows, and everything accumulated "since the last sample"
(OFI, invalidity deltas, dt) drains into the fired row
(src/pipeline.rs:671-705).

Spark restatement (SURVEY §2.5):
* event-based: row_number % N == 0 — pure window algebra;
* volume-based: the reference resets an accumulator on fire, which is
  sequential. The engine's CONTRACT form is the cumsum-bucket approximation:
  fire when floor(cumsum(size)/target) increases. Exact only without the
  min-interval clause — the deviation is frozen here and covered by an exact
  applyInPandas replay for parity testing;
* interval assignment: label every row with the id of the sample row that
  will drain it, then aggregate per (key, sample_id) and join onto fired
  rows — the as-of bucket assignment.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import PipelineConfig
from . import ordering


def event_sample_flag(df: DataFrame, cfg: PipelineConfig, n: int | None = None,
                      flag: str = "is_sample") -> DataFrame:
    """Fire every n-th turn per conversation (reference: EventBasedSampler,
    sampling.rs:253-330)."""
    n = cfg.sample_every_n if n is None else n
    rn = F.row_number().over(ordering.stable_window(cfg))
    return df.withColumn(flag, (F.pmod(rn, F.lit(n)) == 0).cast("int"))


def volume_sample_flag(df: DataFrame, cfg: PipelineConfig, size_col: str = "char_len",
                       target: float | None = None, flag: str = "is_sample") -> DataFrame:
    """Cumsum-bucket volume sampler: fire on rows where
    floor(cumsum(size)/target) increases vs the previous row (contract form
    of reference's should_sample, sampling.rs:154-184)."""
    target = cfg.volume_target if target is None else target
    cum = ordering.cumulative(cfg)
    w = ordering.stable_window(cfg)
    bucket = F.floor(F.sum(size_col).over(cum) / F.lit(target))
    prev = F.lag(bucket).over(w)  # lag of a window expr is fine: same spec
    df = df.withColumn("_bucket", bucket)
    # a row fires when the bucket index increases; the virtual bucket before
    # the first row is 0 (the accumulator starts empty — a first row fires
    # only if it alone reaches the target, matching the reference)
    df = df.withColumn(
        flag,
        (F.coalesce(F.lag("_bucket").over(w), F.lit(0)) < F.col("_bucket")).cast("int"),
    )
    return df.drop("_bucket")


def volume_sample_flag_exact(
    df: DataFrame,
    cfg: PipelineConfig,
    size_col: str = "char_len",
    target: float | None = None,
    min_interval_s: float = 0.0,
    flag: str = "is_sample",
) -> DataFrame:
    """Exact replay of the reference sampler (accumulate; fire when
    acc >= target AND ts - last_fire >= min_interval; reset acc on fire) —
    sequential per key, so a vectorized-batch applyInPandas (one Arrow batch
    per conversation; the loop is per-group numpy, not per-row Spark Python).
    Used for parity tests; the cumsum form is the scale path.
    """
    target = cfg.volume_target if target is None else target
    order_cols = list(cfg.order_cols)
    key, ts = cfg.key_col, cfg.ts_col
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    schema += f", {flag} int"

    def _replay(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_cols, kind="mergesort").reset_index(drop=True)
        sizes = pdf[size_col].to_numpy()
        tss = pdf[ts].astype("int64").to_numpy() / 1e9  # ns -> s
        acc = 0.0
        last_fire = None
        out = []
        for i in range(len(pdf)):
            acc += float(sizes[i])
            fire = acc >= target and (
                last_fire is None or (tss[i] - last_fire) >= min_interval_s
            )
            if fire:
                acc = 0.0
                last_fire = tss[i]
            out.append(1 if fire else 0)
        pdf[flag] = out
        return pdf

    # super-grouping: one Arrow batch per conversation bucket (not per key)
    bucketed = ordering.super_group(df, key, "_vsb")

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.drop(columns=["_vsb"])
        return pd.concat(
            [_replay(g) for _, g in pdf.groupby(key, sort=False)], ignore_index=True
        )

    return bucketed.groupBy("_vsb").applyInPandas(fn, schema=schema)


def assign_sample_intervals(df: DataFrame, cfg: PipelineConfig,
                            flag: str = "is_sample",
                            out: str = "sample_id") -> DataFrame:
    """Assign each row the id of the sample row that drains it: cumulative
    count of PRIOR fires (so rows after fire k belong to sample k+1,
    inclusive of the firing row itself). The classic as-of bucket assignment
    (reference: src/pipeline.rs:671-705)."""
    w = ordering.stable_window(cfg)
    prior = F.coalesce(
        F.sum(flag).over(
            ordering.stable_window(cfg).rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    return df.withColumn(out, prior.cast("long"))


def interval_aggregate(
    df: DataFrame,
    cfg: PipelineConfig,
    aggs: list,
    flag: str = "is_sample",
) -> DataFrame:
    """Aggregate per (key, sample interval) and attach to the fired rows —
    the 'sample_and_reset' drain (reference: ofi.rs:214-244). ``aggs`` is a
    list of already-aliased aggregate Columns over the interval's rows."""
    with_ids = assign_sample_intervals(df, cfg, flag=flag)
    per_interval = with_ids.groupBy(cfg.key_col, "sample_id").agg(*aggs)
    fired = with_ids.filter(F.col(flag) == 1)
    return fired.join(per_interval, on=[cfg.key_col, "sample_id"], how="left")


def time_sample_flag(df: DataFrame, cfg: PipelineConfig, interval_s: float = 60.0,
                     flag: str = "is_sample") -> DataFrame:
    """Time-based sampler: fire on the first turn of each per-conversation
    time bucket of ``interval_s`` seconds since conversation start.

    The reference declares this sampler but leaves it unimplemented
    (src/pipeline.rs:862-869 hard-errors); trivial in window algebra, so the
    engine implements it.
    """
    w = ordering.stable_window(cfg)
    cum = ordering.cumulative(cfg)
    us = ordering.epoch_us(cfg.ts_col)
    first_us = F.first(us).over(cum)
    bucket = F.floor((us - first_us) / F.lit(interval_s * 1e6))
    df = df.withColumn("_tbucket", bucket)
    prev = F.lag("_tbucket").over(w)
    return df.withColumn(
        flag, (prev.isNull() | (prev < F.col("_tbucket"))).cast("int")
    ).drop("_tbucket")
