"""Normalization families (reference: src/preprocessing/normalization.rs and
the export engine src/export_aligned/normalization.rs:29-330).

Two shapes:
* STREAMING (point-in-time, leakage-safe): statistics over the cumulative or
  trailing frame — usable as features;
* EXPORT (two-pass): statistics over the whole export, broadcast back and
  applied — the reference's normalize_sequences. Categorical columns are
  never normalized (contract.CATEGORICAL_FEATURES; reference
  src/contract.rs:43).

Strategy names mirror FeatureNormStrategy (reference:
src/export/config/normalization.rs:47-100): none | zscore | minmax |
pct_change | global_zscore (row-wise over the feature vector).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .config import PipelineConfig
from .contract import CATEGORICAL_FEATURES, DIVISION_GUARD_EPS, MIN_STD
from .operators import ordering


# --- streaming (leakage-safe) ------------------------------------------------

def zscore_cumulative(df: DataFrame, cfg: PipelineConfig, cols: list[str],
                      suffix: str = "_zn") -> DataFrame:
    """Welford-equivalent running z-score (reference: ZScoreNormalizer,
    normalization.rs:242-382): population stats over everything seen so far."""
    cum = ordering.cumulative(cfg)
    out = []
    for c in cols:
        mean = F.avg(c).over(cum)
        var = F.greatest(F.avg(F.col(c) * F.col(c)).over(cum) - mean * mean, F.lit(0.0))
        out.append(((F.col(c) - mean) / (F.sqrt(var) + F.lit(DIVISION_GUARD_EPS))).alias(c + suffix))
    return df.select("*", *out)


def zscore_rolling_sessions(
    df: DataFrame,
    cfg: PipelineConfig,
    cols: list[str],
    n_sessions: int = 5,
    session_col: str = "session_id",
    suffix: str = "_rzn",
) -> DataFrame:
    """Rolling per-session z-score: normalize each row by statistics of the
    PREVIOUS ``n_sessions`` sessions (never the current one — strictly
    point-in-time). Reference: RollingZScoreNormalizer day-stats deque,
    normalization.rs:564-700.

    Two-level: per-session (n, sum, sum_sq) aggregates — tiny table — then a
    window over sessions and a broadcast join back. One extra shuffle on the
    small side only.
    """
    stats = df.groupBy(cfg.key_col, session_col).agg(
        *[F.count(c).alias(f"_n_{c}") for c in cols],
        *[F.sum(c).alias(f"_s_{c}") for c in cols],
        *[F.sum(F.col(c) * F.col(c)).alias(f"_s2_{c}") for c in cols],
    )
    wprev = (
        Window.partitionBy(cfg.key_col)
        .orderBy(session_col)
        .rowsBetween(-n_sessions, -1)
    )
    rolled = stats.select(
        cfg.key_col,
        session_col,
        *[F.sum(f"_n_{c}").over(wprev).alias(f"_rn_{c}") for c in cols],
        *[F.sum(f"_s_{c}").over(wprev).alias(f"_rs_{c}") for c in cols],
        *[F.sum(f"_s2_{c}").over(wprev).alias(f"_rs2_{c}") for c in cols],
    )
    joined = df.join(F.broadcast(rolled), on=[cfg.key_col, session_col], how="left")
    out = []
    for c in cols:
        n = F.col(f"_rn_{c}")
        mean = F.col(f"_rs_{c}") / n
        var = F.greatest(F.col(f"_rs2_{c}") / n - mean * mean, F.lit(0.0))
        z = (F.col(c) - mean) / (F.sqrt(var) + F.lit(DIVISION_GUARD_EPS))
        out.append(F.when(n > 0, z).otherwise(F.lit(0.0)).alias(c + suffix))
    drop = [f"_{p}_{c}" for c in cols for p in ("rn", "rs", "rs2")]
    return joined.select("*", *out).drop(*drop)


# --- export (two-pass) --------------------------------------------------------

def compute_export_stats(df: DataFrame, cols: list[str]) -> DataFrame:
    """Pass 1: one tiny row of per-column stats (count/mean/std/min/max) —
    reference: compute_normalization_stats, export_aligned/normalization.rs:217-330."""
    aggs = []
    for c in cols:
        aggs += [
            F.avg(c).alias(f"mean_{c}"),
            F.stddev_pop(c).alias(f"std_{c}"),
            F.min(c).alias(f"min_{c}"),
            F.max(c).alias(f"max_{c}"),
        ]
    return df.agg(*aggs)


def apply_export_normalization(
    df: DataFrame,
    stats: DataFrame,
    strategies: dict[str, str],
    suffix: str = "",
) -> DataFrame:
    """Pass 2: broadcast the stats row and apply per-column strategies.
    Categorical contract columns are forced to 'none' regardless of the
    strategy table (reference: categorical indices skipped,
    export_aligned/normalization.rs:29-213)."""
    out = df.crossJoin(F.broadcast(stats))
    exprs = []
    for c, strat in strategies.items():
        if c in CATEGORICAL_FEATURES:
            strat = "none"
        x = F.col(c)
        if strat == "none":
            e = x
        elif strat == "zscore":
            e = (x - F.col(f"mean_{c}")) / (
                F.greatest(F.col(f"std_{c}"), F.lit(MIN_STD))
            )
        elif strat == "minmax":
            rng = F.col(f"max_{c}") - F.col(f"min_{c}")
            e = F.when(rng > 0, (x - F.col(f"min_{c}")) / rng).otherwise(F.lit(0.0))
        elif strat == "pct_change":
            ref = F.col(f"mean_{c}")
            e = F.when(F.abs(ref) > 0, (x - ref) / F.abs(ref)).otherwise(F.lit(0.0))
        else:
            raise ValueError(f"unknown normalization strategy {strat} for {c}")
        exprs.append(e.cast("double").alias(c + suffix if suffix else c))
    keep = [c for c in df.columns if c not in strategies or suffix]
    stat_cols = [f"{p}_{c}" for c in strategies for p in ("mean", "std", "min", "max")]
    result = out.select(*[k for k in keep if k not in stat_cols], *exprs)
    return result


def normalize_export(df: DataFrame, cols: list[str],
                     strategy: str = "zscore") -> DataFrame:
    """Convenience: same strategy for every column, two-pass."""
    stats = compute_export_stats(df, cols)
    return apply_export_normalization(df, stats, {c: strategy for c in cols})


def global_zscore_rowwise(df: DataFrame, vec_col: str = "features",
                          out_col: str = "features_gz") -> DataFrame:
    """LOBench global z-score: mean/std across all features of ONE row's
    vector (reference: normalize_snapshot, normalization.rs:983-1021) —
    a pure array expression, no shuffle."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    n = F.size(v).cast("double")
    # capture-free formulation: HOF lambdas reference only their own
    # arguments. Capturing `mean` inside the variance/transform lambdas
    # re-evaluates the whole O(n) fold per element (HOFs are interpreted,
    # no CSE across iterations) — O(n^3) per row at embedding widths. The
    # sum/sum-of-squares form plus zip_with against an array_repeat'ed
    # stats struct (argument position = evaluated once) is O(n).
    s1 = F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x)
    s2 = F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
    mean = s1 / n
    std = F.sqrt(F.greatest(s2 / n - mean * mean, F.lit(0.0)))
    ms = F.array_repeat(F.struct(mean.alias("m"), std.alias("s")), F.size(v))
    return df.withColumn(
        out_col,
        F.zip_with(v, ms, lambda x, st: (x - st["m"]) / (st["s"] + F.lit(DIVISION_GUARD_EPS))),
    )


def pct_change(col, ref):
    """(x - ref)/ref (reference: normalization.rs:166-215)."""
    return (F.col(col) - F.col(ref)) / F.col(ref)


def bilinear(col, mid, k: float, tick: float):
    """TLOB bilinear (p - mid)/(k*tick) (reference: normalization.rs:405-452)."""
    return (F.col(col) - F.col(mid)) / F.lit(k * tick)


def _pctl(c, q, exact: bool, accuracy: int = 10_000):
    """Percentile with an explicit scale/oracle switch.

    exact=True -> F.percentile: exact interpolated percentile, bit-matching
    DuckDB's quantile_cont — but its aggregation buffer materializes EVERY
    value on one reducer, i.e. O(n) memory on a single task. That is the
    oracle/test-SF twin, NOT the 100-TB path. exact=False ->
    F.percentile_approx (GK sketch): bounded memory (~accuracy buckets),
    mergeable map-side partials, rank error <= 1/accuracy — the scale path.
    """
    if exact:
        return F.percentile(c, q)
    return F.percentile_approx(c, q, F.lit(accuracy))


def quantile_bin(df: DataFrame, col: str, k: int = 10,
                 bin_col: str | None = None, exact: bool = True) -> DataFrame:
    """Equal-frequency discretization into ``k`` bins (0..k-1).

    Two-pass, like the export normalizer above: pass 1 computes the k-1
    percentile cutpoints as ONE tiny aggregate row; pass 2 broadcasts that
    row and assigns bin = #cutpoints strictly below the value, a pure JVM
    fold. Ties at a cutpoint all land in the lower bin, which is the
    deterministic choice both engines agree on.

    ``exact=True`` is the DuckDB-matching oracle twin (single-reducer O(n)
    percentile buffer — test SFs only); pass ``exact=False`` for the
    bounded-memory GK-sketch cutpoints at scale (see ``_pctl``).
    """
    out = bin_col or f"{col}_bin"
    qs = [i / k for i in range(1, k)]
    cuts = df.agg(
        _pctl(col, F.array(*[F.lit(q) for q in qs]), exact).alias("_cuts")
    )
    assigned = df.join(F.broadcast(cuts))
    b = F.aggregate(
        F.col("_cuts"),
        F.lit(0),
        lambda acc, c: acc + F.when(F.col(col) > c, 1).otherwise(0),
    )
    return assigned.withColumn(
        out, F.when(F.col(col).isNotNull(), b).cast("int")
    ).drop("_cuts")


def winsorize(df: DataFrame, cols: list[str], p_lo: float = 0.01,
              p_hi: float = 0.99, out_suffix: str = "_w",
              exact: bool = True) -> DataFrame:
    """Percentile clipping (winsorization): values below the p_lo / above
    the p_hi percentile are clamped to it.

    Same two-pass shape as `quantile_bin`: the cutpoints are one tiny
    aggregate row broadcast back onto the table; the clamp itself is
    greatest/least, pure JVM. ``exact=False`` switches the cutpoint pass to
    the bounded-memory GK sketch for the 100-TB path (see ``_pctl``).
    """
    aggs = []
    for c in cols:
        aggs += [
            _pctl(c, F.lit(p_lo), exact).alias(f"_lo_{c}"),
            _pctl(c, F.lit(p_hi), exact).alias(f"_hi_{c}"),
        ]
    cuts = df.agg(*aggs)
    out = df.join(F.broadcast(cuts))
    for c in cols:
        out = out.withColumn(
            c + out_suffix,
            F.least(F.greatest(F.col(c), F.col(f"_lo_{c}")), F.col(f"_hi_{c}")),
        )
    return out.drop(*[f"_lo_{c}" for c in cols], *[f"_hi_{c}" for c in cols])


def robust_zscore(df: DataFrame, col: str, out_col: str | None = None,
                  eps: float = 1e-9, exact: bool = True) -> DataFrame:
    """Median/MAD scaling: (x - median) / (MAD + eps), the outlier-robust
    z-score. Two sequential tiny aggregates (median, then the median of
    |x - median|), each broadcast back — the big table is scanned twice but
    never shuffled or sorted. ``exact=True`` is the oracle twin (exact
    interpolated percentile, single-reducer buffer); ``exact=False`` uses
    the GK sketch for bounded memory at scale (see ``_pctl``).
    """
    out = out_col or f"{col}_rz"
    med = df.agg(_pctl(col, F.lit(0.5), exact).alias("_med"))
    d = df.join(F.broadcast(med))
    mad = d.agg(
        _pctl(F.abs(F.col(col) - F.col("_med")), F.lit(0.5), exact).alias("_mad")
    )
    d = d.join(F.broadcast(mad))
    return d.withColumn(
        out, (F.col(col) - F.col("_med")) / (F.col("_mad") + F.lit(float(eps)))
    ).drop("_med", "_mad")


def mad_outliers_by_group(
    df: DataFrame,
    col: str,
    group_col: str,
    k: float = 3.0,
    scale: int = 100,
) -> DataFrame:
    """Per-GROUP robust outlier flags: |x - median_g| > k * MAD_g, the
    entity-level anomaly screen (robust_zscore above is the global/table
    variant; this one gives every conversation its own location/scale, so
    a uniformly chatty conversation does not drown out a quiet one's
    spikes).

    Exactness: x quantizes to integers once (floor(x*scale + 0.5), same
    doubles both engines); per-group medians interpolate between two
    integers — every op is exact in float64, so Spark's percentile and
    DuckDB's quantile_cont agree bit-for-bit. Two grouped aggregates
    (median, then MAD on the residuals), each joined back on the group
    key — co-partitioned after the first shuffle, no global sort.

    Returns df columns (group, x_int, med, mad, is_outlier). mad = 0
    groups flag nothing (degenerate scale).
    """
    xi = F.floor(F.col(col) * F.lit(float(scale)) + F.lit(0.5)).cast("long")
    base = df.withColumn("_xi", xi)
    med = base.groupBy(group_col).agg(
        F.percentile(F.col("_xi"), F.lit(0.5)).alias("_med")
    )
    d = base.join(med, group_col)
    mad = d.groupBy(group_col).agg(
        F.percentile(F.abs(F.col("_xi") - F.col("_med")), F.lit(0.5)).alias("_mad")
    )
    d = d.join(mad, group_col)
    flag = (F.col("_mad") > 0) & (
        F.abs(F.col("_xi") - F.col("_med")) > F.lit(float(k)) * F.col("_mad")
    )
    return d.select(
        F.col(group_col),
        F.col("_xi").alias("x_int"),
        F.col("_med").alias("med"),
        F.col("_mad").alias("mad"),
        flag.alias("is_outlier"),
        *[c for c in df.columns if c not in (group_col, col)],
    )


def isotonic_fit(
    df: DataFrame,
    cfg: PipelineConfig,
    y_expr,
    max_turns: int | None = None,
) -> DataFrame:
    """Per-conversation isotonic (monotone non-decreasing) regression of a
    0/1 indicator on turn order — pool-adjacent-violators, the standard
    monotone trend extractor / probability calibrator. Applied to e.g.
    y = is-tool-turn it answers "does tool usage monotonically ramp within
    a conversation, and at what fitted rate per turn".

    Output is the EXACT fitted value as a reduced fraction
    (iso_num/iso_den): PAV block means are rationals (block sum / block
    length), so reducing by gcd makes the answer engine-unique — the
    minimax characterization iso_i = max_{j<=i} min_{k>=i} mean(y[j..k])
    yields the identical reduced fraction in any engine, which is the
    oracle twin (an O(T^3) check per conversation; PAV itself is O(T)).

    Shape: one Arrow batch per hash bucket of conversations (the
    triple_barrier super-grouping trick), an O(T) numpy stack per
    conversation inside the batch.
    """
    import math

    import numpy as np
    import pandas as pd

    key = cfg.key_col
    order_cols = list(cfg.order_cols)
    base = df.select(
        F.col(key), *[F.col(c) for c in order_cols if c != key],
        F.col("turn_idx").cast("long").alias("_ti"),
        y_expr.cast("long").alias("_y"),
    )
    if max_turns is not None:
        base = base.where(F.col("_ti") < max_turns)
    bucketed = ordering.super_group(base, key, "_ib")

    def _pav(y: np.ndarray):
        # blocks of (sum, len); merge while decreasing
        sums, lens = [], []
        for v in y:
            s, l = int(v), 1
            while sums and sums[-1] * l >= s * lens[-1]:
                # previous mean >= current mean (cross-multiplied) -> pool
                ps, pl = sums.pop(), lens.pop()
                # strict violation OR equality: pooling equal means is a
                # no-op for values but normalizes the block structure
                s, l = ps + s, pl + l
            sums.append(s)
            lens.append(l)
        num = np.empty(len(y), dtype=np.int64)
        den = np.empty(len(y), dtype=np.int64)
        i = 0
        for s, l in zip(sums, lens):
            g = math.gcd(s, l) or 1
            num[i:i + l] = s // g
            den[i:i + l] = l // g
            i += l
        return num, den

    sort_cols = ["_ti"] + [c for c in order_cols if c != key and c != "turn_idx"]

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        outs = []
        for _, g in pdf.groupby(key, sort=False):
            g = g.sort_values(sort_cols, kind="mergesort")
            num, den = _pav(g["_y"].to_numpy())
            outs.append(pd.DataFrame({
                "conv_id": g[key].to_numpy(),
                "turn_idx": g["_ti"].to_numpy(),
                "iso_num": num,
                "iso_den": den,
            }))
        return pd.concat(outs, ignore_index=True)

    schema = "conv_id string, turn_idx long, iso_num long, iso_den long"
    return bucketed.groupBy("_ib").applyInPandas(fn, schema=schema)


def quantile_normalize(
    df: DataFrame,
    value_col: str,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-group quantile normalization (the bioinformatics batch-effect
    harmonizer, applied to corpus features): map each group's k-th order
    statistic onto the POOLED distribution's same-quantile value, so every
    group's feature distribution becomes the pooled one — the principled
    way to mix per-crawl/per-source features whose scales drift.

    Exact rank arithmetic, no interpolation, engine-identical:
        rank_i  = row_number within (group, order by value, id)  [ties pinned]
        n_g     = group size,  N = total rows
        rt_i    = ceil(rank_i * N / n_g) = (rank_i*N + n_g − 1) div n_g
        mapped  = the rt_i-th smallest value of the POOLED multiset
    The pooled order statistic is looked up against per-distinct-value
    cumulative counts — a groupBy(value) + a distinct-value-sized window
    (the embedding_audit pattern: the only global sort is over DISTINCT
    values, whose cardinality is feature-bounded, never a row-level sort)
    — then a broadcast range join [prev_cum+1, cum] resolves each rt.

    int64 bound: rank*N needs N² < 9e18 → fine to ~3e9 rows; shard or
    switch the multiply to decimal(38) beyond.

    Returns (id, group, value, value_qnorm).
    """
    # NO cast: ranks only need an orderable type and the output value is a
    # passthrough of pooled values — casting floats to long would silently
    # truncate the feature being normalized.
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(group_col).alias("grp"),
        F.col(value_col).alias("val"),
    )
    n_total = base.count()

    wg = Window.partitionBy("grp").orderBy("val", "id")
    ranked = base.select(
        "id", "grp", "val",
        F.row_number().over(wg).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("grp")).alias("ng"),
    ).withColumn(
        "rt",
        F.expr(f"(rk * {n_total}L + ng - 1) div ng").cast("long"),
    )

    wv = Window.orderBy("tval")
    vals = (
        base.groupBy(F.col("val").alias("tval"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "tval",
            F.sum("cnt").over(wv).alias("cum"),
            (F.sum("cnt").over(wv) - F.col("cnt")).alias("cum_prev"),
        )
    )
    mapped = ranked.join(
        F.broadcast(vals),
        (F.col("rt") > F.col("cum_prev")) & (F.col("rt") <= F.col("cum")),
    )
    return mapped.select(
        F.col("id").alias(id_col),
        F.col("grp").alias(group_col),
        F.col("val").alias(value_col),
        F.col("tval").alias(f"{value_col}_qnorm"),
    )
