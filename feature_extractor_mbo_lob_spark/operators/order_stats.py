"""Rolling order statistics (percentiles + large-turn ratio) and feature 58
flow volatility: the frame-bound features, the engine's hottest computation.

Each has ONE numpy implementation, shared by every plan:

* _bucket_order_stats: exact interpolated percentiles (linear at q*(n-1),
  Spark `percentile` == DuckDB `quantile_cont`) and the strictly-greater-
  than-p90 count over every trailing frame of a bucket of concatenated
  conversations: one +inf-padded sliding_window_view + one sort, no Python
  loop per conversation or per row;
* flow_vol_from_sig: feature 58 from prefix-sum diffs.

The vectorized kernel (plans/vectorized.py) calls them directly;
with_order_stats_pandas runs them as a bucketed Arrow stage for the
declarative plan, the skew route and the registry queries. The rolling
Window cascade (operators/rolling.py) computes only the prefix-sum features.

Reference analog: the ring buffer's lazily-sorted percentile cache
(src/features/mbo_features/window.rs:170-187).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..config import PipelineConfig
from . import ordering

QS = (0.25, 0.50, 0.75, 0.90)


def _stat_cols(window_sizes) -> list[str]:
    cols = []
    for w in window_sizes:
        cols += [f"char_p25_w{w}", f"char_p50_w{w}", f"char_p75_w{w}",
                 f"char_p90_w{w}", f"large_turn_ratio_w{w}",
                 f"flow_volatility_w{w}"]
    return cols


def flow_vol_from_sig(sig: np.ndarray, gstart: np.ndarray, w: int) -> np.ndarray:
    """Feature 58 numpy kernel (reference: order_flow_volatility,
    src/features/mbo_features/flow_features.rs:86-146): split the trailing
    frame's signed role stream into FLOW_VOL_SUBWINDOWS equal sub-windows
    (the last one takes the remainder), per-sub flow = sum(s)/sum(|s|) when
    any participant else 0, result = population std of the sub flows; 0
    unless the frame holds >= SUBWINDOWS * MIN_PER_SUB events. Sub-window
    sums are prefix-sum diffs; the flows are accumulated in sub-window
    order, as the DuckDB oracle does. SHARED by the vectorized flagship
    kernel and the pandas order-stats stage.

    sig: +1 user / -1 assistant / 0 other per row (bucket-concatenated);
    gstart: per-row absolute index of the row's conversation start."""
    from ..contract import FLOW_VOL_MIN_PER_SUB, FLOW_VOL_SUBWINDOWS

    nsub = FLOW_VOL_SUBWINDOWS
    n = len(sig)
    rows = np.arange(n)
    cs_s = np.concatenate([[0.0], np.cumsum(sig)])
    cs_a = np.concatenate([[0.0], np.cumsum(np.abs(sig))])
    cnt = np.minimum(rows - gstart + 1, w).astype(np.float64)
    lo = np.maximum(rows - w + 1, gstart)
    n_t = cnt.astype(np.int64)
    ssz = n_t // nsub
    flows = []
    for i in range(nsub):
        st = lo + i * ssz
        en = rows + 1 if i == nsub - 1 else lo + (i + 1) * ssz
        su = cs_s[en] - cs_s[st]
        tot = cs_a[en] - cs_a[st]
        flows.append(np.divide(su, tot, out=np.zeros(n), where=tot > 0))
    fmean = flows[0].copy()
    for i in range(1, nsub):
        fmean = fmean + flows[i]
    fmean = fmean / float(nsub)
    fvar = (flows[0] - fmean) * (flows[0] - fmean)
    for i in range(1, nsub):
        fvar = fvar + (flows[i] - fmean) * (flows[i] - fmean)
    fvar = fvar / float(nsub)
    return np.where(cnt >= float(nsub * FLOW_VOL_MIN_PER_SUB), np.sqrt(fvar), 0.0)


def role_sig(roles: np.ndarray) -> np.ndarray:
    return np.where(roles == "user", 1.0, np.where(roles == "assistant", -1.0, 0.0))


def _bucket_order_stats(x_all: np.ndarray, starts: np.ndarray, ends: np.ndarray,
                        w: int) -> dict[str, np.ndarray]:
    """Exact rolling percentiles + strictly-greater-than-p90 ratio for EVERY
    conversation in a bucket in one shot, trailing frames of size w (partial
    at each conversation's start).

    starts/ends delimit conversations in the (sorted) bucket arrays. Each
    conversation is left-padded with w-1 +inf values in one concatenated
    array, so one sliding_window_view + one sort gives every row its frame
    with the real values first (infs sort to the tail); per-row quantile
    gathers use the effective frame length m = min(pos+1, w).
    """
    n = len(x_all)
    n_convs = len(starts)
    sizes = ends - starts
    conv_idx = np.repeat(np.arange(n_convs), sizes)
    pos_in_conv = np.arange(n) - starts[conv_idx]

    padded = np.full(n + n_convs * (w - 1), np.inf)
    padded[np.arange(n) + (w - 1) * (conv_idx + 1)] = x_all
    sw = np.lib.stride_tricks.sliding_window_view(padded, w)[
        np.arange(n) + (w - 1) * conv_idx
    ]
    sw = np.sort(sw, axis=1)

    rows = np.arange(n)
    m = np.minimum(pos_in_conv + 1, w).astype(np.float64)
    out = {}
    for q in QS:
        idx = (m - 1) * q
        lo = np.floor(idx).astype(np.int64)
        frac = idx - lo
        hi = np.minimum(lo + 1, (m - 1).astype(np.int64))
        vlo = sw[rows, lo]
        vhi = sw[rows, hi]
        # explicit vlo + frac*(vhi-vlo) — bit-identical to the DuckDB
        # formulation (np.quantile's symmetric lerp differs by 1 ulp)
        out[q] = vlo + frac * (vhi - vlo)
    # strictly-greater count among real values: inf pads always exceed p90,
    # so subtract the pad count (w - m)
    gt = (sw > out[0.90][:, None]).sum(axis=1) - (w - m)
    res = {f"char_p{int(q * 100)}": out[q] for q in QS}
    res["large_turn_ratio"] = gt / m
    return res


def with_order_stats_pandas(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Adds the 5 order-stat columns of ``char_len`` and feature 58
    flow_volatility (from ``role``) per configured window, in one bucket
    pass: flow volatility costs one prefix-sum sweep there.

    Super-grouped (ordering.super_group): one Arrow batch per conversation
    bucket, with every conversation of the bucket processed at once inside.
    Mega-conversations are bounded by the skew route's chunk key
    (operators/skew.py), which this stage is keyed on there.
    """
    order_cols = list(cfg.order_cols)
    windows = tuple(cfg.window_sizes)
    sort_cols = [cfg.key_col] + order_cols
    if "role" not in df.columns:
        raise ValueError("with_order_stats_pandas requires the role column")
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    schema += ", " + ", ".join(f"{c} double" for c in _stat_cols(windows))

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(sort_cols, kind="mergesort").reset_index(drop=True)
        x_all = pdf["char_len"].to_numpy(dtype=np.float64)
        keys = pdf[cfg.key_col].to_numpy()
        # conversation boundaries within the sorted bucket
        change = np.empty(len(keys), dtype=bool)
        if len(keys):
            change[0] = True
            change[1:] = keys[1:] != keys[:-1]
        starts = np.flatnonzero(change)
        ends = np.append(starts[1:], len(keys))
        gstart = np.repeat(starts, ends - starts)
        sig = role_sig(pdf["role"].to_numpy())
        for w in windows:
            stats = _bucket_order_stats(x_all, starts, ends, w)
            for name, arr in stats.items():
                pdf[f"{name}_w{w}"] = arr
            pdf[f"flow_volatility_w{w}"] = flow_vol_from_sig(sig, gstart, w)
        return pdf

    bucketed = ordering.super_group(df, cfg.key_col, "_osb")
    out_schema = "_osb int, " + schema
    return bucketed.groupBy("_osb").applyInPandas(fn, schema=out_schema).drop("_osb")


def trailing_rank_kernel(x: np.ndarray, w: int) -> np.ndarray:
    """Vectorized twin of rolling.with_trailing_rank for one ordered series:
    rank_ppm = (cnt_le − 1) * 1e6 div (m − 1) over the trailing w-frame
    (m = effective frame size; 0 when m == 1). Same +inf left-pad trick as
    _bucket_order_stats — pads are never <= a finite current value, so the
    count needs no pad correction. Bit-identical to the JVM formulation
    (pure integer comparisons and floor division; the float64 round-trip
    is exact for |x| < 2^53). One sliding_window_view + one comparison —
    no sort, no Python loop."""
    n = len(x)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    xf = x.astype(np.float64)
    padded = np.concatenate([np.full(w - 1, np.inf), xf])
    sw = np.lib.stride_tricks.sliding_window_view(padded, w)  # (n, w)
    cnt_le = (sw <= xf[:, None]).sum(axis=1).astype(np.int64)
    m = np.minimum(np.arange(n) + 1, w).astype(np.int64)
    return np.where(m > 1, (cnt_le - 1) * 1_000_000 // np.maximum(m - 1, 1), 0)
