"""Triple-barrier labeling (reference: src/labeling/triple_barrier.rs:629-735,
config 229-267, timeout strategies 274-296).

First-touch scanning is genuinely sequential-ish per key, so this is one of
the engine's few sanctioned vectorized pandas UDAFs (SURVEY §2.10): an
``applyInPandas`` per conversation using a numpy sliding-window matrix — one
Arrow batch per group, O(T·H) vectorized, never per-row Python. Memory stays
bounded because the horizon is bounded (the forward matrix is T×H doubles).

Semantics (frozen for the contract / oracle):
* entry at t with price p_t; upper = p_t*(1+profit_take), lower = p_t*(1-stop_loss)
* only rows with a COMPLETE horizon (t + H <= T-1) are labeled; others NULL
* first touch at offset d in (min_hold, H]: label +1 (upper) / -1 (lower),
  exit_offset = d, exit_return = p_{t+d}/p_t - 1
* no touch: exit_offset = H, exit_return = p_{t+H}/p_t - 1, label by timeout
  strategy: label_as_timeout -> 0 | use_return_sign -> sign(exit_return) |
  use_fractional_threshold -> sign if |exit_return| > frac*profit_take else 0
* upper checked before lower at the same row (cannot both trigger when
  profit_take + stop_loss > 0).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..operators import ordering


def _label_group(
    pdf: pd.DataFrame,
    price_col: str,
    order_cols: list[str],
    pt: float,
    sl: float,
    horizon: int,
    min_hold: int,
    timeout: str,
    frac: float,
) -> pd.DataFrame:
    pdf = pdf.sort_values(order_cols, kind="mergesort").reset_index(drop=True)
    p = pdf[price_col].to_numpy(dtype=np.float64)
    n = len(p)
    label = np.full(n, np.nan)
    exit_off = np.full(n, np.nan)
    exit_ret = np.full(n, np.nan)

    m = n - horizon  # rows with a complete horizon
    if m > 0:
        fwd = np.lib.stride_tricks.sliding_window_view(p, horizon + 1)[:m, 1:]  # (m, H)
        entry = p[:m]
        # Zero/negative entry prices make the return undefined (div-by-zero)
        # and the barriers degenerate (0*(1±x) = 0 touches immediately), so
        # those anchors are masked to NULL — mirrored by the `p > 0` guard in
        # the oracle SQL (ANSI zero-guard convention).
        valid = entry > 0
        safe_entry = np.where(valid, entry, 1.0)
        upper = entry * (1.0 + pt)
        lower = entry * (1.0 - sl)
        up_t = fwd >= upper[:, None]
        dn_t = fwd <= lower[:, None]
        touch = up_t | dn_t
        if min_hold > 0:
            touch[:, :min_hold] = False
            up_t = up_t & touch
        first = touch.argmax(axis=1)
        has = touch.any(axis=1)
        rows = np.arange(m)

        d = np.where(has, first + 1, horizon).astype(np.float64)
        exit_price = fwd[rows, np.where(has, first, horizon - 1)]
        ret = exit_price / safe_entry - 1.0

        touched_label = np.where(up_t[rows, first], 1.0, -1.0)
        if timeout == "label_as_timeout":
            to_label = np.zeros(m)
        elif timeout == "use_return_sign":
            to_label = np.sign(ret)
        elif timeout == "use_fractional_threshold":
            to_label = np.where(np.abs(ret) > frac * pt, np.sign(ret), 0.0)
        else:
            raise ValueError(f"unknown timeout strategy {timeout}")

        label[:m] = np.where(valid, np.where(has, touched_label, to_label), np.nan)
        exit_off[:m] = np.where(valid, d, np.nan)
        exit_ret[:m] = np.where(valid, ret, np.nan)

    pdf["tb_label"] = _nullable_int(label, np.int8)
    pdf["tb_exit_offset"] = _nullable_int(exit_off, np.int32)
    pdf["tb_exit_return"] = exit_ret
    return pdf


def _nullable_int(vals: np.ndarray, dtype) -> pd.arrays.IntegerArray:
    """float array with NaNs -> pandas nullable integer array, vectorized
    (the per-element Python list comprehension was the UDAF's hot loop)."""
    mask = np.isnan(vals)
    return pd.arrays.IntegerArray(
        np.where(mask, 0, vals).astype(dtype), mask
    )


def triple_barrier_labels(
    df: DataFrame,
    cfg: PipelineConfig,
    price_col: str = "p",
    profit_take: float | None = None,
    stop_loss: float | None = None,
    horizon: int | None = None,
    min_hold: int | None = None,
    timeout: str = "label_as_timeout",
    frac: float = 0.5,
) -> DataFrame:
    """Returns df plus tb_label (tinyint), tb_exit_offset (int),
    tb_exit_return (double). Runs one Arrow batch per conversation."""
    pt = cfg.labels.profit_take if profit_take is None else profit_take
    sl = cfg.labels.stop_loss if stop_loss is None else stop_loss
    h = cfg.labels.max_holding if horizon is None else horizon
    mh = cfg.labels.min_hold if min_hold is None else min_hold
    order_cols = list(cfg.order_cols)
    key = cfg.key_col

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", tb_label tinyint, tb_exit_offset int, tb_exit_return double"

    # super-grouping: one Arrow batch per hash bucket of conversations, not
    # per conversation — cuts the Python/Arrow round-trips by ~100x on many
    # small keys (same trick as order_stats/vectorized_flagship); the kernel
    # is applied per key segment inside the batch
    bucketed = ordering.super_group(df, key, "_tbb")

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.drop(columns=["_tbb"])
        parts = [
            _label_group(g, price_col, order_cols, pt, sl, h, mh, timeout, frac)
            for _, g in pdf.groupby(key, sort=False)
        ]
        return pd.concat(parts, ignore_index=True)

    return bucketed.groupBy("_tbb").applyInPandas(fn, schema=out_schema)


def volatility_scaled_barriers(
    df: "DataFrame",
    cfg: "PipelineConfig",
    price_col: str = "p",
    vol_ref: float | None = None,
    scale_floor: float = 0.5,
    scale_cap: float = 2.0,
):
    """Per-conversation volatility scaling for barrier percentages
    (reference: with_volatility_scaling, src/export_aligned/mod.rs:312-328:
    scale = clamp(vol_key / vol_ref, floor, cap) applied to profit/stop).

    Returns (df + barrier_scale column, per-key vol table). vol_ref defaults
    to the global median of per-key vols (two tiny aggregates)."""
    from pyspark.sql import functions as F

    w = ordering.stable_window(cfg)
    prev = F.lag(price_col).over(w)
    ret = F.when(
        prev.isNotNull() & (prev > 0) & (F.col(price_col) > 0),
        F.log(F.col(price_col) / prev),
    )
    per_key = (
        df.withColumn("_lr", ret)
        .groupBy(cfg.key_col)
        .agg(F.stddev_samp("_lr").alias("_vol"))
    )
    if vol_ref is None:
        # lazy 1-row broadcast instead of a construction-time collect: the
        # returned plan stays a pure function of the input DataFrame
        ref = per_key.agg(F.percentile("_vol", F.lit(0.5)).alias("_vref"))
        scaled = per_key.crossJoin(F.broadcast(ref))
        ref_col = F.col("_vref")
    else:
        scaled = per_key
        ref_col = F.lit(float(vol_ref))
    scaled = scaled.withColumn(
        "barrier_scale",
        F.least(F.greatest(F.col("_vol") / ref_col, F.lit(scale_floor)), F.lit(scale_cap)),
    ).drop("_vol", "_vref")
    return df.join(F.broadcast(scaled), on=cfg.key_col, how="left"), vol_ref


def triple_barrier_labels_vol_scaled(
    df: "DataFrame",
    cfg: "PipelineConfig",
    price_col: str = "p",
    **kwargs,
):
    """Triple-barrier with per-conversation volatility-scaled barriers:
    pt_key = profit_take * scale_key, sl_key = stop_loss * scale_key.
    Implemented by pre-scaling the price ratio per key is NOT equivalent, so
    the kernel takes the scale as a column — here via one applyInPandas per
    key with its own scale (the scale is constant within a group)."""
    import pandas as pd

    from ..config import PipelineConfig as _PC  # noqa: F401

    scaled_df, _ = volatility_scaled_barriers(df, cfg, price_col=price_col)
    pt = kwargs.pop("profit_take", cfg.labels.profit_take)
    sl = kwargs.pop("stop_loss", cfg.labels.stop_loss)
    h = kwargs.pop("horizon", cfg.labels.max_holding)
    mh = kwargs.pop("min_hold", cfg.labels.min_hold)
    timeout = kwargs.pop("timeout", "label_as_timeout")
    frac = kwargs.pop("frac", 0.5)
    order_cols = list(cfg.order_cols)

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in scaled_df.schema.fields
    ) + ", tb_label tinyint, tb_exit_offset int, tb_exit_return double"

    key = cfg.key_col
    bucketed = ordering.super_group(scaled_df, key, "_tbb")

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.drop(columns=["_tbb"])
        parts = []
        for _, g in pdf.groupby(key, sort=False):
            s = float(g["barrier_scale"].iloc[0]) if g["barrier_scale"].notna().any() else 1.0
            parts.append(
                _label_group(g, price_col, order_cols, pt * s, sl * s, h, mh, timeout, frac)
            )
        return pd.concat(parts, ignore_index=True)

    return bucketed.groupBy("_tbb").applyInPandas(fn, schema=out_schema)
