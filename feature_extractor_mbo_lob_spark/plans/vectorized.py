"""Single-pass vectorized pipeline — the reference's fused loop, distributed.

The reference computes all features in ONE pass over the ordered stream with
zero allocations (src/pipeline.rs:606-736, extract_into buffer reuse). This
module is the engine that runs it on Spark: one shuffle to conversation
buckets, one Arrow batch per bucket, and a numpy kernel that computes EVERY
contract feature + TLOB labels with segment-aware prefix sums — all
conversations in a bucket processed in single vectorized operations, no
Python loop at any granularity. The shipped job (jobs/run_pipeline.py)
builds its export frame here (job_features); the declarative Window cascade
(plans/pipeline.py) stays as the readable specification the kernel is
tested against.

The kernel keeps every input row: conversation tails, whose forward label
frame is incomplete, carry null labels. vectorized_flagship drops them, and
its rows are bit-identical to flagship_pipeline (tested in
tests/test_vectorized.py and tests/test_skew.py): sums are exact integer
arithmetic, all float expressions use the same formulas in the same order.

Scale: each executor core processes buckets independently in an Arrow-fed
numpy kernel — no shared-JVM sort-buffer bandwidth contention, which is what
caps Window-cascade scaling on many-core nodes. Conversations longer than
cfg.skew_max_turns_per_task are cut into chunks of that many turns
(operators/skew.add_chunks) that the same kernel computes, so no bucket
holds an unsplittable straggler: context rows copied from the neighbouring
chunks feed the sliding frames, lags and label frames, and the cumulative
lanes add a per-chunk carry taken from a first kernel pass (kernel_routed).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..contract import (
    DIVISION_GUARD_EPS,
    MIN_DURATION_S,
    MIN_STD,
    SCHEMA_VERSION,
    feature_columns,
)
from ..export import bucket_of
from ..guards import collect_at_most
from ..operators import ordering
from ..operators.order_stats import _bucket_order_stats, flow_vol_from_sig
from ..operators.skew import CHUNK_KEY, add_chunks
from .pipeline import clean_input, max_conv_turns

# the cumulative lanes, summed from the conversation start: turns, role
# counts, chars and session starts
LANES = ("turns", "user", "assistant", "tool", "chars", "starts")
# the most mega conversations, and chunks of them, one route may hold: both
# lists are collected to the driver and the carries ride the kernel closure
MAX_CHUNKS = 100_000


def _segments(*keys: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    n = len(keys[0])
    change = np.zeros(n, dtype=bool)
    change[0] = True
    for k in keys:
        change[1:] |= k[1:] != k[:-1]
    starts = np.flatnonzero(change)
    sizes = np.diff(np.append(starts, n))
    conv_idx = np.repeat(np.arange(len(starts)), sizes)
    pos = np.arange(n) - starts[conv_idx]
    return starts, sizes, conv_idx, pos


def _seg_sliding_sum(vals: np.ndarray, gstart: np.ndarray, w: int) -> np.ndarray:
    """Trailing-w sum per row, clipped at the conversation start — exact
    prefix-sum algebra (CS[i+1] - CS[max(i-w+1, gstart)])."""
    n = len(vals)
    cs = np.concatenate([[0.0], np.cumsum(vals)])
    lo = np.maximum(np.arange(n) - w + 1, gstart)
    return cs[np.arange(n) + 1] - cs[lo]


def _kernel(pdf: pd.DataFrame, cfg: PipelineConfig, price_from_char_len: bool,
            carries: pd.DataFrame | None = None, partials: bool = False) -> pd.DataFrame:
    """Features and labels of one bucket. Its segments are conversations,
    or, when pdf has the _chunk/_ctx columns of skew.add_chunks, the
    (conversation, chunk) pairs: context rows (_ctx = 1) feed the sliding
    frames, lags and label frames, add nothing to the cumulative lanes and
    are left out of the output.

    carries: per (key, _chunk), each lane's sum over the conversation's
    earlier chunks and the conversation's first-row timestamp (built by
    kernel_routed); a segment without an entry starts from zero.
    partials=True returns instead one row per segment with its lane totals
    and first timestamp: the first pass the carries are computed from."""
    k, h, theta = cfg.labels.smoothing_k, cfg.labels.horizon, cfg.labels.threshold
    seg_cols = [cfg.key_col] + (["_chunk"] if "_chunk" in pdf.columns else [])
    pdf = pdf.sort_values(seg_cols + list(cfg.order_cols), kind="mergesort").reset_index(drop=True)
    n = len(pdf)
    # robust to pandas datetime64[ns] vs [us] backing
    us = pdf[cfg.ts_col].to_numpy(dtype="datetime64[us]").astype(np.int64)
    x = pdf["char_len"].to_numpy(dtype=np.float64)
    role = pdf["role"].to_numpy()
    real = pdf["_ctx"].to_numpy() == 0 if "_ctx" in pdf.columns else np.ones(n, dtype=bool)

    starts, sizes, conv_idx, pos = _segments(*(pdf[c].to_numpy() for c in seg_cols))
    gstart = starts[conv_idx]
    gend = (starts + sizes)[conv_idx]  # exclusive
    rows = np.arange(n)

    out: dict[str, np.ndarray] = {}

    is_user = (role == "user").astype(np.float64)
    is_assistant = (role == "assistant").astype(np.float64)
    is_tool = (role == "tool").astype(np.float64)

    prev_us = np.empty(n, dtype=np.int64)
    prev_us[1:] = us[:-1]
    prev_us[0] = us[0]
    first_row = pos == 0
    out["dt_seconds"] = np.where(first_row, 0.0, (us - prev_us) / 1e6)
    gap_us = int(cfg.session_gap_s * 1e6)
    is_start = (first_row | ((us - prev_us) > gap_us)).astype(np.float64)
    out["is_session_start"] = is_start

    # --- cumulative state (matches operators/state.py expressions) ----------
    inc = np.stack([np.ones(n), is_user, is_assistant, is_tool, x, is_start]) * real
    first_us = us[np.minimum.reduceat(np.where(real, rows, n), starts)]
    seg_keys = [pdf[c].to_numpy()[starts] for c in seg_cols]
    if partials:
        part = pd.DataFrame(np.add.reduceat(inc, starts, axis=1).T, columns=list(LANES))
        for col, v in zip(seg_cols, seg_keys):
            part[col] = v
        part["first_us"] = first_us
        return part
    carry = np.zeros((len(LANES), len(starts)))
    if carries is not None:
        c = carries.reindex(pd.MultiIndex.from_arrays(seg_keys))
        carry = c[list(LANES)].fillna(0.0).to_numpy().T
        hit = c["first_us"].notna().to_numpy()
        first_us[hit] = c["first_us"].to_numpy()[hit]
    cs = np.cumsum(inc, axis=1)
    base = np.where(gstart > 0, cs[:, gstart - 1], 0.0)
    turns, u, a, t_, chars, n_starts = cs - base + carry[:, conv_idx]
    out["turn_pos"] = turns - 1.0
    out["turns_so_far"] = turns
    out["user_turns_so_far"] = u
    out["assistant_turns_so_far"] = a
    out["tool_turns_so_far"] = t_
    out["chars_so_far"] = chars
    out["secs_since_start"] = (us - first_us[conv_idx]) / 1e6
    out["net_role_flow"] = (u - a) / (u + a + DIVISION_GUARD_EPS)
    out["net_tool_flow"] = (t_ - (u + a)) / (turns + DIVISION_GUARD_EPS)
    out["session_ready"] = (turns >= float(cfg.warmup_turns)).astype(np.float64)
    out["schema_version"] = np.full(n, float(SCHEMA_VERSION))
    out["session_id"] = n_starts - 1.0

    hr = (us // 3_600_000_000) % 24  # UTC hour (session tz pinned to UTC)
    out["time_regime"] = np.select(
        [hr < 6, hr < 12, hr < 17, hr < 21], [0.0, 1.0, 2.0, 3.0], 4.0
    )

    # --- per-row role flip (lag within conversation) -------------------------
    flip = np.zeros(n)
    same = np.empty(n, dtype=bool)
    same[0] = False
    same[1:] = role[1:] != role[:-1]
    flip[~first_row & same] = 1.0
    out["role_flip"] = flip

    # signed role stream for feature 58 (shared kernel with the pandas
    # order-stats stage — operators/order_stats.flow_vol_from_sig)
    s_sig = is_user - is_assistant

    # --- rolling frames (matches operators/rolling.py prefix-sum algebra) ---
    for w in cfg.window_sizes:
        cnt = np.minimum(rows - gstart + 1, w).astype(np.float64)
        lo = np.maximum(rows - w + 1, gstart)
        dur = np.maximum((us - us[lo]) / 1e6, MIN_DURATION_S)
        sum_x = _seg_sliding_sum(x, gstart, w)
        sum_x2 = _seg_sliding_sum(x * x, gstart, w)
        sum_x3 = _seg_sliding_sum(x * x * x, gstart, w)
        n_user = _seg_sliding_sum(is_user, gstart, w)
        n_assistant = _seg_sliding_sum(is_assistant, gstart, w)
        n_tool = _seg_sliding_sum(is_tool, gstart, w)
        n_flip = _seg_sliding_sum(flip, gstart, w)

        mean = sum_x / cnt
        var = np.maximum(sum_x2 / cnt - mean * mean, 0.0)
        std = np.sqrt(var)
        m3 = sum_x3 / cnt - 3 * mean * (sum_x2 / cnt) + 2 * mean * mean * mean
        # the guarded branch divides by a zero std; its quotient is discarded
        with np.errstate(divide="ignore", invalid="ignore"):
            skew = np.where((cnt < 3) | (std < MIN_STD), 0.0, m3 / (std * std * std))
        ssum_sq = sum_x * sum_x
        hhi = np.divide(sum_x2, ssum_sq, out=np.zeros(n), where=sum_x > 0)

        sfx = f"_w{w}"
        out["turn_rate" + sfx] = cnt / dur
        out["user_frac" + sfx] = n_user / cnt
        out["assistant_frac" + sfx] = n_assistant / cnt
        out["tool_rate" + sfx] = n_tool / dur
        out["role_flip_rate" + sfx] = n_flip / cnt
        out["char_mean" + sfx] = mean
        out["char_std" + sfx] = std
        out["char_zscore" + sfx] = (x - mean) / (std + DIVISION_GUARD_EPS)
        out["char_skew" + sfx] = skew
        out["char_hhi" + sfx] = hhi

        stats = _bucket_order_stats(x, starts, starts + sizes, w)
        for name, arr in stats.items():
            out[f"{name}_w{w}"] = arr

        # feature 58 (flow_features.rs:86-146) via the shared kernel
        out["flow_volatility" + sfx] = flow_vol_from_sig(s_sig, gstart, w)

    # --- TLOB labels (matches labeling/tlob.py) ------------------------------
    p = x if price_from_char_len else pdf["_p"].to_numpy(dtype=np.float64)
    csp = np.concatenate([[0.0], np.cumsum(p)])
    # trailing smoother avg(p[t-k..t]) with completeness n_minus == k+1
    lo_m = rows - k
    ok_minus = lo_m >= gstart
    w_minus = np.where(ok_minus, (csp[rows + 1] - csp[np.maximum(lo_m, 0)]) / (k + 1), np.nan)
    # leading smoother avg(p[t+h-k..t+h]) complete iff t+h <= end-1 and t+h-k >= start
    hi_p = rows + h
    lo_p = rows + h - k
    ok_plus = (hi_p <= gend - 1) & (lo_p >= gstart)
    hi_c = np.minimum(hi_p, n - 1)
    lo_c = np.clip(lo_p, 0, n - 1)
    w_plus = np.where(ok_plus, (csp[hi_c + 1] - csp[lo_c]) / (k + 1), np.nan)
    complete = ok_minus & ok_plus & (w_minus != 0)
    with np.errstate(divide="ignore", invalid="ignore"):
        l = (w_plus - w_minus) / w_minus
    label = np.where(l > theta, 1, np.where(l < -theta, -1, 0)).astype(np.float64)
    label[~complete] = np.nan
    l[~complete] = np.nan

    def r6_np(v):
        # same float algebra as plans/pipeline.r6 — bit-identical rounding
        return np.where(v >= 0, np.floor(v * 1e6 + 0.5) / 1e6,
                        -(np.floor(-v * 1e6 + 0.5) / 1e6))

    res = pd.DataFrame({cfg.key_col: pdf[cfg.key_col], "turn_idx": pdf["turn_idx"],
                        cfg.ts_col: pdf[cfg.ts_col]})
    fcols = feature_columns(cfg.window_sizes)
    for c in fcols:
        res[c] = r6_np(out[c])
    _mask = np.isnan(label)
    res["label"] = pd.arrays.IntegerArray(
        np.where(_mask, 0, label).astype(np.int8), _mask
    )
    res["label_pct_change"] = r6_np(l)
    return res if real.all() else res[real]


def vectorized_flagship(df: DataFrame, cfg: PipelineConfig | None = None,
                        price_col: str = "char_len") -> DataFrame:
    """Single-pass engine of flagship_pipeline. Returns identical rows
    (tested): the labelled ones, routed as kernel_routed routes them."""
    cfg = cfg or PipelineConfig()
    out, _ = kernel_routed(df, cfg, price_col)
    return out.filter(F.col("label").isNotNull())


def kernel_routed(df: DataFrame, cfg: PipelineConfig,
                  price_col: str = "char_len") -> tuple[DataFrame, int]:
    """Every row of df with the contract features and TLOB labels (null at
    conversation tails), r6-rounded; returns (frame, number of mega
    conversations).

    Skew route: max_conv_turns probes the longest conversation. The
    conversations longer than chunk = cfg.skew_max_turns_per_task (their
    ids: one bounded collect) are cut by skew.add_chunks into chunks of
    chunk turns, each with the max(window, smoothing_k) rows before it and
    the horizon rows after it as context. A first kernel pass over the
    chunks gives each chunk's lane totals (a second bounded collect); their
    exclusive prefix sums over the conversation's chunks, taken in numpy on
    the driver, are the carries the kernel adds. The chunks and every other
    conversation then share one grouped-map stage. A mega conversation would
    otherwise land whole in one Arrow bucket — an unsplittable straggler +
    memory spike.
    """
    key, chunk = cfg.key_col, cfg.skew_max_turns_per_task
    cols = [key, *cfg.order_cols, "role",
            F.coalesce(F.length("text"), F.lit(0)).cast("double").alias("char_len")]
    if price_col != "char_len":
        cols.append(F.col(price_col).alias("_p"))
    narrow = df.select(*cols)
    mega = []
    if max_conv_turns(df) > chunk:
        mega = _collect_capped(
            df.groupBy(key).agg(F.max("turn_idx").alias("_m"))
            .filter(F.col("_m") >= chunk).select(key), "mega conversations", chunk)
    if not mega:  # none, or footer stats over-estimated a filtered df
        return _bucketed_kernel(narrow, cfg, key), 0
    back = max(max(cfg.window_sizes), cfg.labels.smoothing_k)
    if chunk <= max(back, cfg.labels.horizon):
        raise ValueError(
            f"chunk_turns = skew_max_turns_per_task = {chunk} must exceed the "
            "largest rolling window, smoothing_k and the label horizon"
        )
    is_mega = F.col(key).isin([r[0] for r in mega])
    chunks = add_chunks(narrow.filter(is_mega), cfg, chunk, back, cfg.labels.horizon)
    parts = _collect_capped(
        ordering.super_group(chunks, CHUNK_KEY, "_vb").groupBy("_vb").applyInPandas(
            lambda pdf: _kernel(pdf, cfg, True, partials=True),
            schema=f"{key} string, _chunk long, "
            + "".join(f"{c} double, " for c in LANES) + "first_us long"),
        "carry table", chunk, to_pandas=True,
    ).sort_values([key, "_chunk"]).set_index([key, "_chunk"])
    # exclusive prefix sums over the conversation's chunks, and chunk 0's
    # first-row timestamp
    by_conv = parts.groupby(level=0, sort=False)
    carries = by_conv[list(LANES)].cumsum() - parts[list(LANES)]
    carries["first_us"] = by_conv["first_us"].transform("first")
    rest = narrow.filter(~is_mega).select(
        "*", F.lit(0).cast("long").alias("_chunk"), F.lit(0).alias("_ctx"),
        F.col(key).alias(CHUNK_KEY),
    )
    return _bucketed_kernel(rest.unionByName(chunks), cfg, CHUNK_KEY, carries), len(mega)


def _collect_capped(df: DataFrame, what: str, chunk: int, to_pandas: bool = False):
    """guards.collect_at_most at MAX_CHUNKS, or a ValueError naming the
    skew threshold past it."""
    rows = collect_at_most(df, MAX_CHUNKS, what, to_pandas)
    if rows is None:
        raise ValueError(
            f"{what}: more than MAX_CHUNKS={MAX_CHUNKS} rows at "
            f"skew_max_turns_per_task={chunk}; raise the threshold"
        )
    return rows


def job_features(df: DataFrame, cfg: PipelineConfig, n_buckets: int,
                 skip_buckets: set[int] | frozenset[int] = frozenset()
                 ) -> tuple[DataFrame, dict]:
    """The export frame of jobs/run_pipeline.py: the cleaned input through
    kernel_routed, one row per input turn. Returns (frame, route record).

    skip_buckets are export buckets (export.bucket_of) left out of the
    frame. Their filter applies to the INPUT, below the kernel's
    super-group shuffle: every feature and label is a function of one
    conversation, and the bucket is a function of its key, so a resumed run
    computes only the conversations it writes.
    """
    df = clean_input(df, cfg)
    if skip_buckets:
        df = df.filter(~bucket_of(cfg, n_buckets).isin(sorted(skip_buckets)))
    frame, n_mega = kernel_routed(df, cfg)
    route = "kernel+chunked" if n_mega else "kernel"
    return frame, {"route": route, "mega_convs": n_mega}


def _bucketed_kernel(narrow: DataFrame, cfg: PipelineConfig, group_key: str,
                     carries: pd.DataFrame | None = None) -> DataFrame:
    """_kernel over every segment of narrow (keys, order, role, char_len and
    _p for another price column): one shuffle to super-group buckets of
    group_key, one Arrow batch per bucket, every real row out."""
    fcols = feature_columns(cfg.window_sizes)
    ts_type = narrow.schema[cfg.ts_col].dataType.simpleString()
    out_schema = (
        f"{cfg.key_col} string, turn_idx int, {cfg.ts_col} {ts_type}, "
        + ", ".join(f"{c} double" for c in fcols)
        + ", label tinyint, label_pct_change double"
    )
    price_from_char_len = "_p" not in narrow.columns

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return _kernel(pdf, cfg, price_from_char_len, carries)

    bucketed = ordering.super_group(narrow, group_key, "_vb")
    return bucketed.groupBy("_vb").applyInPandas(fn, schema=out_schema)
