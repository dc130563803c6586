"""Rolling count-based window features (fast / medium / slow).

Transcript analog of the reference's three parallel ring-buffer windows with
O(1) incremental counters (reference: src/features/mbo_features/window.rs:18-213,
multi-timescale wiring src/features/mbo_features/mod.rs:115-125).

Scale design: Spark's WindowExec recomputes sliding-frame aggregates per row
(O(n*w) per aggregate — w=128 means 128x work). The reference's O(1)
incremental counters translate here to *prefix-sum algebra*:

    sum over rows (-(w-1), 0)  ==  cumsum(x) - lag(cumsum(x), w, 0)
    count over the frame        ==  least(row_number, w)
    min(ts) over the frame      ==  lag(ts, w-1)  (ts monotone per key)

which is O(n) regardless of w, and EXACT for integer-valued inputs
(char counts, role indicators, epoch-us — all < 2^53), so parity with a
frame-based oracle is bit-stable. The frame-bound features (percentiles,
large-turn ratio, feature-58 flow volatility) are not window expressions:
operators/order_stats.py computes them in one numpy pass per bucket.

Float-parity choices (frozen in the contract):
* std is population std (reference: window.rs:190-213),
* skewness is the population moment form sum(((x-mu)/sigma)^3)/n, 0 if n<3
  or sigma<1e-10 (reference: src/features/mbo_features/size_features.rs:60-81),
* percentiles are exact interpolated (Spark `percentile` == DuckDB
  `quantile_cont`); the reference uses nearest-rank indexing — documented
  deviation, covered by golden fixtures.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..contract import DIVISION_GUARD_EPS, MIN_DURATION_S, MIN_STD
from . import ordering


def _sliding_sum(cum_col: Column, w, n: int) -> Column:
    """Trailing-n sum from a cumulative sum column: cum - cum[n rows back]."""
    return cum_col - F.coalesce(F.lag(cum_col, n).over(w), F.lit(0.0))


def with_rolling_features(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Adds the prefix-sum ROLLING_FEATURES with suffix _w{n} for every
    configured window: rates, role fractions, char mean/std/zscore/skew/hhi.
    The frame-bound ones (char_p25..p90, large_turn_ratio, flow_volatility)
    come from order_stats.with_order_stats_pandas, which plans.build_features
    runs first.

    Requires ``char_len`` (added by state.with_state_features) and the raw
    role column. Adds a per-row ``role_flip`` helper (1.0 when role differs
    from the previous turn) — the OFI-style signed-transition analog.
    """
    w = ordering.stable_window(cfg)
    cum = ordering.cumulative(cfg)
    us = ordering.epoch_us(cfg.ts_col)

    prev_role = F.lag("role").over(w)
    df = df.withColumn(
        "role_flip",
        F.when(prev_role.isNull(), F.lit(0.0))
        .when(prev_role != F.col("role"), F.lit(1.0))
        .otherwise(F.lit(0.0)),
    )

    x = F.col("char_len")

    # one cumulative pass feeds every window size (single Window exec —
    # all aggregates share the identical spec); bulk select keeps the
    # logical plan small (serial driver analysis is an Amdahl term)
    df = df.select(
        "*",
        F.row_number().over(w).alias("_rn"),
        us.alias("_us"),
        F.first(us).over(cum).alias("_first_us"),
        F.sum(x).over(cum).alias("_cx"),
        F.sum(x * x).over(cum).alias("_cx2"),
        F.sum(x * x * x).over(cum).alias("_cx3"),
        F.sum((F.col("role") == "user").cast("double")).over(cum).alias("_cu"),
        F.sum((F.col("role") == "assistant").cast("double")).over(cum).alias("_ca"),
        F.sum((F.col("role") == "tool").cast("double")).over(cum).alias("_ct"),
        F.sum("role_flip").over(cum).alias("_cf"),
    )

    helper = ["_rn", "_us", "_first_us", "_cx", "_cx2", "_cx3", "_cu", "_ca", "_ct", "_cf"]

    for n in cfg.window_sizes:
        cnt = F.least(F.col("_rn"), F.lit(n)).cast("double")

        # frame duration: ts is monotone under the stable order (asserted by
        # validation.assert_monotone_ts) so max=current, min=ts w-1 rows back
        start_us = F.coalesce(F.lag("_us", n - 1).over(w), F.col("_first_us"))
        dur = F.greatest((F.col("_us") - start_us) / F.lit(1e6), F.lit(MIN_DURATION_S))

        sum_x = _sliding_sum(F.col("_cx"), w, n)
        sum_x2 = _sliding_sum(F.col("_cx2"), w, n)
        sum_x3 = _sliding_sum(F.col("_cx3"), w, n)
        n_user = _sliding_sum(F.col("_cu"), w, n)
        n_assistant = _sliding_sum(F.col("_ca"), w, n)
        n_tool = _sliding_sum(F.col("_ct"), w, n)
        n_flip = _sliding_sum(F.col("_cf"), w, n)

        mean = sum_x / cnt
        var = F.greatest(sum_x2 / cnt - mean * mean, F.lit(0.0))
        std = F.sqrt(var)
        # population 3rd central moment from raw moments
        m3 = sum_x3 / cnt - 3 * mean * (sum_x2 / cnt) + 2 * mean * mean * mean
        skew = F.when((cnt < 3) | (std < F.lit(MIN_STD)), F.lit(0.0)).otherwise(
            m3 / (std * std * std)
        )
        hhi = F.when(sum_x > 0, sum_x2 / (sum_x * sum_x)).otherwise(F.lit(0.0))

        sfx = f"_w{n}"
        df = df.select(
            "*",
            (cnt / dur).cast("double").alias("turn_rate" + sfx),
            (n_user / cnt).cast("double").alias("user_frac" + sfx),
            (n_assistant / cnt).cast("double").alias("assistant_frac" + sfx),
            (n_tool / dur).cast("double").alias("tool_rate" + sfx),
            (n_flip / cnt).cast("double").alias("role_flip_rate" + sfx),
            mean.cast("double").alias("char_mean" + sfx),
            std.cast("double").alias("char_std" + sfx),
            ((x - mean) / (std + F.lit(DIVISION_GUARD_EPS))).cast("double").alias("char_zscore" + sfx),
            skew.cast("double").alias("char_skew" + sfx),
            hhi.cast("double").alias("char_hhi" + sfx),
        )
    return df.drop(*helper)


def with_time_windows(df: DataFrame, cfg: PipelineConfig,
                      horizons_s: tuple[int, ...] = (86400, 604800)) -> DataFrame:
    """Trailing wall-clock window features: turns / chars / tool share /
    arrival rate over the last ``H`` seconds ending at the current turn's ts.

    The count-based frames (`ordering.trailing`) answer "the last n turns";
    these answer "the last H seconds" — the calendar-anchored burstiness and
    inter-turn-latency statistics of the north rule's rolling-feature family
    (reference analog: the time-sensitive FI-2010 block,
    src/features/time_sensitive_features.rs via SURVEY §2.2, which derives
    per-interval rates from wall-clock deltas rather than event counts).

    Leakage: every frame is rangeBetween(-H*1e6, 0) over unix_micros(ts), so
    no row with ts greater than the anchor can enter the frame; rows tying
    the anchor's ts are RANGE peers and are included — the same peer rule
    DuckDB applies, so the oracle matches bit-for-bit.

    Scale: partitioning stays hash(cfg.key_col) — the same exchange every
    other feature window uses — with one extra sort on the numeric ts key.
    WindowExec advances both range bounds monotonically through a partition
    (each row enters/leaves each frame once), so cost is O(n) per aggregate
    and independent of H; no UDF, no extra shuffle, safe under AQE.
    """
    df = df.withColumn("_us", ordering.epoch_us(cfg.ts_col))
    out = df
    tool_flag = F.when(F.col("role") == "tool", 1).otherwise(0)
    chars = F.length(F.col("text")).cast("double")
    for h in horizons_s:
        fr = (
            Window.partitionBy(cfg.key_col)
            .orderBy(F.col("_us"))
            .rangeBetween(-int(h) * 1_000_000, 0)
        )
        sfx = f"_{h}s"
        n = F.count(F.lit(1)).over(fr)
        out = out.select(
            "*",
            n.cast("long").alias("turns" + sfx),
            F.sum(chars).over(fr).cast("double").alias("chars" + sfx),
            (F.sum(tool_flag).over(fr).cast("double") / n).alias("tool_frac" + sfx),
            (n.cast("double") / F.lit(float(h))).alias("turn_rate" + sfx),
        )
    return out.drop("_us")


def with_rolling_corr(df: DataFrame, cfg: PipelineConfig, x: Column, y: Column,
                      window: int, out_col: str = "roll_corr") -> DataFrame:
    """Pearson correlation of two INTEGER-VALUED series over the trailing
    count frame, from five exact integer frame sums (n, Sx, Sy, Sxx, Syy,
    Sxy) — order-independent bigint arithmetic, so the float work is one
    closed-form expression on identical operands in any engine.

    NULL when the frame has <2 rows or either variance is 0. Callers must
    integerize their inputs first (char counts are already integers; money
    goes through the cent trick) — that is what makes the oracle exact.
    Per-conversation frames keep every sum far below 2^63.
    """
    fr = ordering.trailing(cfg, window)
    xi = x.cast("long")
    yi = y.cast("long")
    n = F.count(F.lit(1)).over(fr)
    sx = F.sum(xi).over(fr)
    sy = F.sum(yi).over(fr)
    sxx = F.sum(xi * xi).over(fr)
    syy = F.sum(yi * yi).over(fr)
    sxy = F.sum(xi * yi).over(fr)
    cov_n = (n * sxy - sx * sy).cast("double")
    vx_n = (n * sxx - sx * sx).cast("double")
    vy_n = (n * syy - sy * sy).cast("double")
    corr = F.when(
        (n >= 2) & (vx_n > 0) & (vy_n > 0),
        cov_n / F.sqrt(vx_n * vy_n),
    )
    return df.withColumn(out_col, corr)


def with_ewma(df: DataFrame, cfg: PipelineConfig, col: str,
              alpha: float = 0.125, out_col: str | None = None) -> DataFrame:
    """Exponentially-weighted moving average per conversation:
    e_0 = x_0; e_i = alpha*x_i + (1-alpha)*e_{i-1}.

    A true sequential recurrence — the honest mapping is the sanctioned
    pandas UDAF (SURVEY §2.11), with the same hash-bucket super-grouping as
    triple_barrier so many conversations ride one Arrow batch. The step is
    literally `alpha*x + (1-alpha)*e` in float64, which a recursive-CTE
    oracle reproduces bit-for-bit (same IEEE ops per step; the default
    alpha=0.125 is a power of two, so the literals are exact). The
    vectorized "(1-a)^i prefix" closed form is NOT used: it reassociates
    the float math and breaks cross-engine parity.

    Also emits ``{out}_var``, the RiskMetrics EWM variance
    v_i = (1-a) * (v_{i-1} + a * (x_i - e_{i-1})^2), v_0 = 0 — the
    streaming volatility estimator companion (reference analog: the
    experimental vol family).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    out = out_col or f"{col}_ewma"
    key = cfg.key_col
    order_cols = list(cfg.order_cols)
    a, b = float(alpha), 1.0 - float(alpha)

    schema = StructType(
        df.schema.fields
        + [StructField(out, DoubleType()), StructField(out + "_var", DoubleType())]
    )
    bucketed = ordering.super_group(df, key, "_ewb")

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.drop(columns=["_ewb"])
        parts = []
        for _, g in pdf.groupby(key, sort=False):
            g = g.sort_values(order_cols, kind="mergesort").copy()
            x = g[col].to_numpy(dtype=np.float64)
            e = np.empty_like(x)
            v = np.empty_like(x)
            if len(x):
                e[0] = x[0]
                v[0] = 0.0
                for i in range(1, len(x)):
                    # RiskMetrics EWM variance: the innovation is measured
                    # against the PREVIOUS mean, then both decay by (1-a)
                    d = x[i] - e[i - 1]
                    v[i] = b * (v[i - 1] + a * d * d)
                    e[i] = a * x[i] + b * e[i - 1]
            g[out] = e
            g[out + "_var"] = v
            parts.append(g)
        return pd.concat(parts, ignore_index=True)

    return bucketed.groupBy("_ewb").applyInPandas(fn, schema=schema)


def with_holt(df: DataFrame, cfg: PipelineConfig, col: str,
              alpha: float = 0.25, beta: float = 0.125,
              out_prefix: str | None = None) -> DataFrame:
    """Holt double-exponential smoothing (level + linear trend) per
    conversation:

        l_0 = x_0,                b_0 = 0
        l_i = a*x_i + (1-a)*(l_{i-1} + b_{i-1})
        b_i = g*(l_i - l_{i-1}) + (1-g)*b_{i-1}

    The trend-aware sibling of with_ewma, and like it a true sequential
    recurrence: the sanctioned mapping is the hash-bucket-super-grouped
    pandas UDAF (many conversations per Arrow batch; one shuffle on the
    bucket key). The per-step float expressions are written in ONE fixed
    operand order that the recursive-CTE oracle repeats verbatim, and the
    default alpha/beta are powers of two, so every step is bit-identical
    cross-engine. The closed-form matrix-power unrolling is deliberately
    NOT used — it reassociates the float math (same reasoning as
    with_ewma above).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    pre = out_prefix or f"{col}_holt"
    key = cfg.key_col
    order_cols = list(cfg.order_cols)
    a, g_ = float(alpha), float(beta)
    ca, cg = 1.0 - a, 1.0 - g_

    schema = StructType(
        df.schema.fields
        + [StructField(pre + "_level", DoubleType()),
           StructField(pre + "_trend", DoubleType())]
    )
    bucketed = ordering.super_group(df, key, "_hwb")

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.drop(columns=["_hwb"])
        parts = []
        for _, grp in pdf.groupby(key, sort=False):
            grp = grp.sort_values(order_cols, kind="mergesort").copy()
            x = grp[col].to_numpy(dtype=np.float64)
            lvl = np.empty_like(x)
            trd = np.empty_like(x)
            if len(x):
                l, b = x[0], 0.0
                lvl[0], trd[0] = l, b
                for i in range(1, len(x)):
                    l_new = a * x[i] + ca * (l + b)
                    b = g_ * (l_new - l) + cg * b
                    l = l_new
                    lvl[i], trd[i] = l, b
            grp[pre + "_level"] = lvl
            grp[pre + "_trend"] = trd
            parts.append(grp)
        return pd.concat(parts, ignore_index=True)

    return bucketed.groupBy("_hwb").applyInPandas(fn, schema=schema)


def with_trailing_rank(
    df: DataFrame,
    cfg: PipelineConfig,
    col=None,
    window_sizes: tuple[int, ...] = (8, 32, 128),
) -> DataFrame:
    """Trailing percentile-rank of the CURRENT turn's value within its own
    last-w history — the leakage-safe "how unusual is this turn vs its
    recent past" feature (rank features are scale-free and drift-robust;
    computing them against the TRAILING window is what keeps them
    point-in-time correct — a global or centered rank reads the future).

    Exact integer semantics (no interpolation, engine-identical):
        n        = rows in the trailing window (w-1 preceding .. current)
        cnt_le   = window values <= current value (the current row counts
                   itself, so cnt_le >= 1; ties all count — the weak rank)
        rank_ppm = (cnt_le - 1) * 1e6 div (n - 1)    [0 when n = 1]
    0 ppm = strict window minimum, 1e6 ppm = weak window maximum.

    Plan shape: every window size shares ONE partition-sort (same spec as
    the rolling family); each rank is a collect_list frame plus a JVM
    higher-order filter/size and an integer div — no Python stage. Per-row
    cost is O(w); order_stats.trailing_rank_kernel is the numpy form of the
    identical sliding comparison.
    """
    if col is None:
        col = F.length("text")
    x = (F.col(col) if isinstance(col, str) else col).cast("long")
    w = Window.partitionBy(cfg.key_col).orderBy(*cfg.order_cols)
    d = df.withColumn("_rrv", x)
    wv_cols = [
        F.collect_list("_rrv").over(w.rowsBetween(-(ws - 1), 0)).alias(f"_wv{ws}")
        for ws in window_sizes
    ]
    d = d.select("*", *wv_cols)
    # collect_list drops NULLs, so the frame is the NON-NULL trailing
    # history; a NULL current value has no defined rank -> NULL out
    # (ranks of non-null rows are unaffected).
    rank_exprs = [
        F.expr(
            f"case when _rrv is null then null "
            f"when size(_wv{ws}) > 1 then "
            f"(size(filter(_wv{ws}, v -> v <= _rrv)) - 1) * 1000000 "
            f"div (size(_wv{ws}) - 1) else 0 end"
        ).cast("long").alias(f"rank_ppm_w{ws}")
        for ws in window_sizes
    ]
    return d.select(
        *[c for c in df.columns], *rank_exprs
    )
