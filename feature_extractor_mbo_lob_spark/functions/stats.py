"""Distributed statistical inference primitives: deterministic Poisson
bootstrap and two-proportion A/B z-test.

Poisson bootstrap (Chamandy et al., "Estimating Uncertainty for Massive
Data Streams", Google 2012): the classical n-out-of-n bootstrap cannot
be computed distributed (sampling WITH replacement needs global row
indexing), but for large n the multinomial resample weights converge to
iid Poisson(1), which are embarrassingly parallel — each row draws its
own weight per replicate with no coordination. Here the draw is
DETERMINISTIC: u = md5(id:replicate) mod 1e6 (an exact integer ppm
uniform any engine reproduces bit-identically) pushed through the exact
integer inverse CDF of Poisson(1), so replicate aggregates are pure
int64 sums — the whole bootstrap is engine-exact, and a re-run of a
100-TB job yields byte-identical confidence intervals.

Shape at scale: rows explode x R (replicates), but the per-replicate
aggregates are map-side combined — the shuffle carries R rows per
partition, and the final frame is R rows total. R=32-128 replicates is
the published sweet spot for percentile CIs.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..guards import collect_at_most

# Exact-integer ppm inverse CDF of Poisson(1): cumulative thresholds
# floor(P(X <= k) * 1e6). Weight = first k whose threshold exceeds the
# uniform ppm draw; capped at 6 (P(X > 6) < 1e-4).
_POIS1_CUM_PPM = []
_c = 0.0
for _k in range(6):
    _c += math.exp(-1.0) / math.factorial(_k)
    _POIS1_CUM_PPM.append(int(math.floor(_c * 1_000_000)))
# [367879, 735758, 919698, 981011, 996340, 999405]


def _u_ppm(id_col, rep_col):
    """Uniform integer in [0, 1e6) from md5(id:replicate) — the same first-7-
    hex-chars construction as functions/corpus.md5_bucket (DuckDB twin:
    driver_queries._HEX7 % 1000000)."""
    h = F.md5(F.concat_ws(":", F.col(id_col).cast("string"), rep_col.cast("string")))
    return F.conv(F.substring(h, 1, 7), 16, 10).cast("long") % 1_000_000


def poisson_weight(id_col: str, rep_col) -> F.Column:
    """Deterministic Poisson(1) weight for (row id, replicate index)."""
    u = _u_ppm(id_col, rep_col)
    w = F.lit(6)
    for k in range(len(_POIS1_CUM_PPM) - 1, -1, -1):
        w = F.when(u < F.lit(_POIS1_CUM_PPM[k]), F.lit(k)).otherwise(w)
    return w


def poisson_bootstrap_mean(
    df: DataFrame,
    id_col: str,
    value_col: str,
    n_replicates: int = 32,
) -> DataFrame:
    """R bootstrap-replicate means of an integer value column, all exact:
    output (replicate, w_sum, wy_sum) int64 plus mean = wy_sum/w_sum as a
    double. Percentile CIs come from ordering the R means. Requires
    integer-valued value_col (cast internally)."""
    rep = F.explode(F.sequence(F.lit(0), F.lit(int(n_replicates) - 1))).alias(
        "replicate"
    )
    y = F.col(value_col).cast("long")
    e = df.select(F.col(id_col), y.alias("_y")).select(
        "*", rep
    ).withColumn("_w", poisson_weight(id_col, F.col("replicate")))
    return (
        e.groupBy("replicate")
        .agg(
            F.sum("_w").cast("long").alias("w_sum"),
            F.sum(F.col("_w") * F.col("_y")).cast("long").alias("wy_sum"),
        )
    )


def ab_proportions_ztest(
    df: DataFrame,
    unit_col: str,
    success_col,
    n_arms: int = 2,
) -> DataFrame:
    """Two-proportion z-test over md5-randomized arms.

    Units are assigned to arms by md5 bucket of the unit id (the exact
    deterministic randomization a real experiment framework uses — no
    rand() anywhere), a unit converts if ANY of its rows satisfies
    success_col. The contingency cells are exact integers; the z
    statistic is a fixed-order float expression over those four ints, so
    it is bit-identical across engines. One groupBy(unit) + one 2-row
    aggregate — a full-scan-plus-tiny-state shape at any scale.

    Returns one row: n_a, conv_a, n_b, conv_b (bigint) and z (double,
    caller canonicalizes).
    """
    from .corpus import md5_bucket

    per_unit = (
        df.select(
            F.col(unit_col).alias("_u"),
            F.when(success_col, 1).otherwise(0).alias("_s"),
        )
        .groupBy("_u")
        .agg(F.max("_s").alias("_conv"))
        .withColumn("_arm", md5_bucket("_u", n_arms))
    )
    cells = per_unit.agg(
        F.sum(F.when(F.col("_arm") == 0, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("_arm") == 0, F.col("_conv")).otherwise(0))
        .cast("long").alias("conv_a"),
        F.sum(F.when(F.col("_arm") == 1, 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(F.col("_arm") == 1, F.col("_conv")).otherwise(0))
        .cast("long").alias("conv_b"),
    )
    p_a = F.col("conv_a") / F.col("n_a")
    p_b = F.col("conv_b") / F.col("n_b")
    total = F.col("n_a") + F.col("n_b")
    convs = F.col("conv_a") + F.col("conv_b")
    p = convs / total
    se = F.sqrt(
        p * (F.lit(1.0) - p)
        * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    # degenerate designs (all-convert / none-convert / an empty arm) have
    # zero pooled variance: z is undefined -> NULL, not an ANSI divide error.
    # The guard condition implies se > 0, so every division is conditional.
    ok = (
        (F.col("n_a") > 0) & (F.col("n_b") > 0)
        & (convs > 0) & (convs < total)
    )
    z = F.when(ok, (p_a - p_b) / se)
    return cells.withColumn("z", z)


def wilson_interval(n_col, k_col, z: float = 1.96):
    """Wilson score interval (lo, hi) for a binomial rate k/n — the
    small-sample-honest CI a leaderboard should show instead of the naive
    rate (a 2/2 tool should NOT outrank a 98/100 one).

    Fixed-order float expression over two exact integer aggregates: both
    engines evaluate the identical IEEE op sequence on identical operands
    (divide, multiply, sqrt), so results are bit-identical —
    the same canonicalization argument as ab_proportions_ztest.
    """
    n = (F.col(n_col) if isinstance(n_col, str) else n_col).cast("double")
    k = (F.col(k_col) if isinstance(k_col, str) else k_col).cast("double")
    p = k / n
    z2 = F.lit(z * z)
    denom = F.lit(1.0) + z2 / n
    center = p + z2 / (F.lit(2.0) * n)
    rad = F.lit(z) * F.sqrt(p * (F.lit(1.0) - p) / n + z2 / (F.lit(4.0) * n * n))
    return (center - rad) / denom, (center + rad) / denom


def sprt_constants(
    p0_ppm: int = 300_000,
    p1_ppm: int = 400_000,
    alpha_ppm: int = 50_000,
    beta_ppm: int = 50_000,
) -> dict[str, int]:
    """Wald SPRT integer-nano constants, computed ONCE in driver Python and
    injected as literals into BOTH engines (the literal IS the
    canonicalization — no engine libm ever runs):

        succ  = round(ln(p1/p0) * 1e9)          per-conversion LLR step
        fail  = round(ln((1-p1)/(1-p0)) * 1e9)  per-non-conversion step
        upper = round(ln((1-beta)/alpha) * 1e9) accept-H1 boundary
        lower = round(ln(beta/(1-alpha)) * 1e9) accept-H0 boundary
    """
    p0, p1 = p0_ppm / 1e6, p1_ppm / 1e6
    a, b = alpha_ppm / 1e6, beta_ppm / 1e6
    return {
        "succ": round(math.log(p1 / p0) * 1e9),
        "fail": round(math.log((1 - p1) / (1 - p0)) * 1e9),
        "upper": round(math.log((1 - b) / a) * 1e9),
        "lower": round(math.log(b / (1 - a)) * 1e9),
    }


def ab_sprt(
    ev: DataFrame,
    user_col: str,
    conv_predicate,
    p0_ppm: int = 300_000,
    p1_ppm: int = 400_000,
    alpha_ppm: int = 50_000,
    beta_ppm: int = 50_000,
) -> DataFrame:
    """Wald's Sequential Probability Ratio Test per experiment arm — the
    decision rule an experimentation framework runs ONLINE so it can stop
    an A/B test the moment the evidence is sufficient (vs ab_ztest's
    fixed-horizon analysis of the same md5-randomized arms).

    Units are md5-arm-assigned users ordered by their deterministic stream
    order (first event ts, tie user id). The cumulative log-likelihood
    ratio of H1: p = p1 vs H0: p = p0 after n users with k conversions is
    k·succ + (n−k)·fail in exact int64 nano units (the constants are
    driver-Python literals — sprt_constants — identical in any engine);
    the first crossing of [lower, upper] decides.

    Returns one row per arm: (arm, n_users, n_conv, llr_final_nano,
    decision 'h1'/'h0'/'continue', n_at_decision, llr_at_decision_nano —
    the last two NULL while the test is still running).

    Scale shape: one groupBy(user) + one arm-keyed window cumsum + one
    struct-argmin aggregate — the same two shuffles at any corpus size.
    """
    from .corpus import md5_bucket

    C = sprt_constants(p0_ppm, p1_ppm, alpha_ppm, beta_ppm)
    pu = (
        ev.groupBy(F.col(user_col).alias("uid"))
        .agg(
            F.max(F.when(conv_predicate, 1).otherwise(0)).alias("conv"),
            F.min("ts").alias("ts0"),
        )
        .withColumn("arm", md5_bucket("uid", 2).cast("int"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("arm").orderBy("ts0", "uid")
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    d = pu.select(
        "arm", "conv",
        F.row_number().over(w).alias("n"),
        F.sum("conv").over(cum).alias("k"),
    ).withColumn(
        "llr",
        (F.col("k") * F.lit(C["succ"])
         + (F.col("n") - F.col("k")) * F.lit(C["fail"])).cast("long"),
    )
    crossed = F.when(
        (F.col("llr") >= C["upper"]) | (F.col("llr") <= C["lower"]),
        F.struct("n", "llr"),
    )
    agg = d.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("conv").alias("n_conv"),
        F.min(crossed).alias("_dec"),
        F.max(F.struct("n", "llr")).alias("_last"),
    )
    return agg.select(
        "arm",
        F.col("n_users").cast("long").alias("n_users"),
        F.col("n_conv").cast("long").alias("n_conv"),
        F.col("_last.llr").cast("long").alias("llr_final_nano"),
        F.when(F.col("_dec").isNull(), F.lit("continue"))
        .when(F.col("_dec.llr") >= C["upper"], F.lit("h1"))
        .otherwise(F.lit("h0"))
        .alias("decision"),
        F.col("_dec.n").cast("long").alias("n_at_decision"),
        F.col("_dec.llr").cast("long").alias("llr_at_decision_nano"),
    )


def cuped_adjusted_effect(
    ev: DataFrame,
    user_col: str,
    value_col: str = "value",
    ts_col: str = "ts",
) -> DataFrame:
    """CUPED variance reduction (Deng et al., WSDM'13 — public method) for
    the md5-randomized A/B arms: the post-period per-user metric Y is
    adjusted by the PRE-period covariate X (same metric before the
    experiment midpoint), theta = cov(X,Y)/var(X) pooled across arms, and
    the treatment effect is re-estimated on Y − theta·X. Pre-period
    behavior is unaffected by treatment, so the adjustment removes
    between-user variance without biasing the effect.

    Determinism: the pre/post cutoff is the integer midpoint of the
    observed time range ((min_us + max_us) div 2 — no literal, no clock);
    per-user sums are exact integer cents; theta and the effects are
    fixed-order float expressions over those exact ints with _r6x-style
    boundary canonicalization left to the caller. One row out:
    (n_a, n_b, sx_a, sx_b, sy_a, sy_b, theta, effect_raw_cents,
    effect_cuped_cents).

    Scale shape: one groupBy(user) + one global 1-row aggregate — two
    shuffles at any size (the min/max cutoff rides the same first pass
    via a window-free twin aggregate and a crossJoin of two 1-row frames).
    """
    from ..operators.ordering import epoch_us

    from .corpus import md5_bucket

    us = epoch_us(ts_col)
    cents = F.floor(F.col(value_col) * F.lit(100.0) + F.lit(0.5)).cast("long")
    base = ev.select(
        F.col(user_col).alias("uid"), us.alias("_us"), cents.alias("_c")
    )
    rng = base.agg(
        F.min("_us").alias("lo"), F.max("_us").alias("hi")
    ).select(F.expr("(lo + hi) div 2").alias("cut"))

    pu = (
        base.crossJoin(F.broadcast(rng))
        .groupBy("uid")
        .agg(
            F.sum(F.when(F.col("_us") < F.col("cut"), F.col("_c")).otherwise(0))
            .alias("x"),
            F.sum(F.when(F.col("_us") >= F.col("cut"), F.col("_c")).otherwise(0))
            .alias("y"),
        )
        .withColumn("arm", md5_bucket("uid", 2).cast("int"))
    )
    g = pu.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("arm") == 0, F.col("x")).otherwise(0)).alias("sx_a"),
        F.sum(F.when(F.col("arm") == 0, F.col("y")).otherwise(0)).alias("sy_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("arm") == 1, F.col("x")).otherwise(0)).alias("sx_b"),
        F.sum(F.when(F.col("arm") == 1, F.col("y")).otherwise(0)).alias("sy_b"),
    )
    # fixed-order float algebra over exact int64 aggregates (the ab_ztest
    # precedent): identical operand sequence on both engines
    D = lambda c: F.col(c).cast("double")
    theta = (
        (D("n") * D("sxy") - D("sx") * D("sy"))
        / (D("n") * D("sxx") - D("sx") * D("sx"))
    )
    mean = lambda s, n: D(s) / D(n)
    eff_raw = mean("sy_b", "n_b") - mean("sy_a", "n_a")
    eff_cuped = (
        (mean("sy_b", "n_b") - theta * mean("sx_b", "n_b"))
        - (mean("sy_a", "n_a") - theta * mean("sx_a", "n_a"))
    )
    longs = ["n_a", "n_b", "sx_a", "sx_b", "sy_a", "sy_b"]
    return g.select(
        *[F.col(c).cast("long").alias(c) for c in longs],
        theta.alias("theta"),
        eff_raw.alias("effect_raw_cents"),
        eff_cuped.alias("effect_cuped_cents"),
    )


def mann_whitney_u(
    ev: DataFrame,
    unit_col: str,
    value_col: str = "value",
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) between the two md5-randomized
    arms on the per-user integer-cent metric — the NONPARAMETRIC leg of
    the experimentation family (ab_ztest assumes normal proportions,
    cuped assumes linear covariates; MW-U assumes nothing about the
    metric's shape, which heavy-tailed spend metrics violate).

    Everything stays in exact int64: midranks with ties are half-integers,
    so the engine carries DOUBLED rank sums (2x midrank = min_rank +
    max_rank is always integer). Outputs one row of exact integers —
    n_a, n_b, r2_sum_a (2x arm-A rank sum), u2_a (2x U_A), and the
    tie-correction term sum(t^3 - t) — from which any caller derives the
    z statistic; no float ever crosses an engine boundary.

    Scale shape: groupBy(user) -> groupBy(DISTINCT metric value) -> a
    window over the distinct-value frame only (bounded by metric
    cardinality, not corpus size — the same distinct-value cumulative
    order-statistics trick as the SLA rollup) -> 1-row aggregate.
    """
    from pyspark.sql import Window

    from .corpus import md5_bucket

    cents = F.floor(F.col(value_col) * F.lit(100.0) + F.lit(0.5)).cast("long")
    pu = (
        ev.select(F.col(unit_col).alias("uid"), cents.alias("_c"))
        .groupBy("uid")
        .agg(F.sum("_c").alias("c"))
        .withColumn("arm", md5_bucket("uid", 2).cast("int"))
    )
    g = pu.groupBy("c").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("cnt_a"),
    )
    w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    r = g.select(
        "cnt", "cnt_a",
        (F.lit(2) * (F.sum("cnt").over(w) - F.col("cnt"))
         + F.col("cnt") + F.lit(1)).alias("two_midrank"),
    )
    out = r.agg(
        F.sum("cnt_a").cast("long").alias("n_a"),
        F.sum(F.col("cnt") - F.col("cnt_a")).cast("long").alias("n_b"),
        F.sum(F.col("cnt_a") * F.col("two_midrank")).cast("long")
        .alias("r2_sum_a"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("long").alias("tie_term"),
    )
    return out.withColumn(
        "u2_a",
        (F.col("r2_sum_a") - F.col("n_a") * (F.col("n_a") + F.lit(1)))
        .cast("long"),
    )


def mann_kendall_trend(ev: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Mann-Kendall trend test over the daily event-count series — the
    standard nonparametric monotone-trend detector for data-quality
    monitoring (is ingest volume drifting?). S = sum over day pairs i<j
    of sign(c_j - c_i), plus the exact tie-correction sum t(t-1)(2t+5)
    over days sharing a count — all int64, variance/z left to the caller.

    Scale shape: one groupBy(day) collapses the corpus to <= a few
    thousand rows; the pair join runs on that tiny frame (days^2 pairs of
    a bounded series, NOT corpus^2) — the classic reduce-then-quadratic
    pattern that is flat at any corpus size.
    """
    d = (
        ev.select(F.to_date(F.col(ts_col)).alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    a, b = d.alias("a"), d.alias("b")
    pairs = a.join(b, F.col("a.day") < F.col("b.day"))
    sgn = (
        F.when(F.col("b.cnt") > F.col("a.cnt"), 1)
        .when(F.col("b.cnt") < F.col("a.cnt"), -1)
        .otherwise(0)
    )
    s = pairs.agg(
        F.sum(sgn).cast("long").alias("s_stat"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
    )
    ties = (
        d.groupBy("cnt").agg(F.count(F.lit(1)).alias("t"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_distinct_counts"),
            F.sum(
                F.col("t") * (F.col("t") - F.lit(1))
                * (F.lit(2) * F.col("t") + F.lit(5))
            ).cast("long").alias("tie_term"),
        )
    )
    n = d.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    return s.crossJoin(ties).crossJoin(n)


def stratified_ab_audit(
    ev: DataFrame,
    unit_col: str,
    stratum_col: str,
    conv_predicate,
) -> DataFrame:
    """Per-stratum 2x2 contingency audit of the md5-randomized arms —
    the Cochran-Mantel-Haenszel table builder plus an integer-exact
    Simpson's-paradox detector. Within each stratum a unit converts if
    ANY of its rows satisfies the predicate; arm-B-vs-A direction is
    decided by the int64 cross-product sign(conv_b*n_a - conv_a*n_b)
    (rate comparison without division), the overall direction by the same
    sign on the summed cells, and simpson_flag marks strata whose
    direction OPPOSES a non-null overall direction — the aggregation
    reversal audit every experiment review needs. All columns are exact
    integers/booleans; the CMH statistic is fixed float algebra over the
    emitted cells, left to the caller.

    Scale shape: one groupBy(stratum, unit) then one groupBy(stratum);
    the cross join broadcasts a single summary row.
    """
    from .corpus import md5_bucket

    per = (
        ev.select(
            F.col(stratum_col).alias("stratum"),
            F.col(unit_col).alias("_u"),
            F.when(conv_predicate, 1).otherwise(0).alias("_s"),
        )
        .groupBy("stratum", "_u")
        .agg(F.max("_s").alias("conv"))
        .withColumn("arm", md5_bucket("_u", 2).cast("int"))
    )
    cells = per.groupBy("stratum").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0))
        .cast("long").alias("conv_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0))
        .cast("long").alias("conv_b"),
    )
    xp = F.col("conv_b") * F.col("n_a") - F.col("conv_a") * F.col("n_b")
    sgn = (
        F.when(xp > 0, 1).when(xp < 0, -1).otherwise(0)
    ).cast("int")
    cells = cells.withColumn("stratum_sign", sgn)
    tot = cells.agg(
        F.sum("n_a").alias("n_a"), F.sum("conv_a").alias("conv_a"),
        F.sum("n_b").alias("n_b"), F.sum("conv_b").alias("conv_b"),
    ).select(sgn.alias("overall_sign"))
    out = cells.crossJoin(F.broadcast(tot))
    return out.withColumn(
        "simpson_flag",
        (F.col("overall_sign") != 0) & (F.col("stratum_sign") != 0)
        & (F.col("stratum_sign") != F.col("overall_sign")),
    )


def quantile_treatment_effects(
    ev: DataFrame,
    unit_col: str,
    value_col: str = "value",
    qs: tuple = (25, 50, 75),
) -> DataFrame:
    """Quantile treatment effects between the md5 arms: the per-arm exact
    order statistics of the per-user integer-cent metric and their B-A
    differences — where in the distribution an experiment moved spend,
    which a mean (ab_ztest/cuped) cannot show. Type-1 (lower) quantiles:
    k = (n-1)*q div 100 + 1, value = smallest c whose per-arm cumulative
    count reaches k — all exact int64, no interpolation ambiguity.

    Scale shape: groupBy(user) -> groupBy(arm, DISTINCT value) -> window
    over the per-arm distinct-value frame (metric-cardinality-bounded) ->
    one pivot row. Same distinct-value rank arithmetic as mann_whitney_u.
    """
    from pyspark.sql import Window

    from .corpus import md5_bucket

    cents = F.floor(F.col(value_col) * F.lit(100.0) + F.lit(0.5)).cast("long")
    pu = (
        ev.select(F.col(unit_col).alias("uid"), cents.alias("_c"))
        .groupBy("uid")
        .agg(F.sum("_c").alias("c"))
        .withColumn("arm", md5_bucket("uid", 2).cast("int"))
    )
    g = pu.groupBy("arm", "c").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("arm").orderBy("c").rowsBetween(
        Window.unboundedPreceding, 0
    )
    r = g.select(
        "arm", "c", "cnt",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(
            Window.partitionBy("arm").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    aggs = [
        F.max(F.when(F.col("arm") == a, F.col("n"))).cast("long").alias(f"n_{t}")
        for a, t in ((0, "a"), (1, "b"))
    ]
    for q in qs:
        k = F.expr(f"((n - 1) * {int(q)}) div 100").cast("long") + 1
        hit = (F.col("cum") >= k) & (F.col("cum") - F.col("cnt") < k)
        for a, t in ((0, "a"), (1, "b")):
            aggs.append(
                F.min(F.when((F.col("arm") == a) & hit, F.col("c")))
                .cast("long").alias(f"p{q}_{t}")
            )
    out = r.agg(*aggs)
    for q in qs:
        out = out.withColumn(
            f"qte{q}", (F.col(f"p{q}_b") - F.col(f"p{q}_a")).cast("long")
        )
    return out


def post_stratified_effect(
    ev: DataFrame,
    unit_col: str,
    stratum_col: str,
    conv_predicate,
) -> DataFrame:
    """Post-stratified (direct-standardization / IPW-equivalent) treatment
    effect over the md5 arms: each stratum's B-A conversion-rate gap is
    weighted by the stratum's share of units — the bias-corrected overall
    effect when arm balance differs by stratum (the fix for the Simpson
    reversals stratified_ab_audit detects).

    Determinism: each stratum's term enters as EXACT int64 micro-units via
    matched floor division ((n_s * 1e6 * conv) div n_arm) BEFORE the
    cross-stratum sum, so no float is ever summed in engine-dependent
    order. One row out: n_units, n_strata, effect_num_micro (int64; the
    effect rate is effect_num_micro / (1e6 * n_units), left to the caller).

    Scale shape: groupBy(stratum, unit) -> groupBy(stratum) -> 1-row sum.
    """
    from .corpus import md5_bucket

    per = (
        ev.select(
            F.col(stratum_col).alias("stratum"),
            F.col(unit_col).alias("_u"),
            F.when(conv_predicate, 1).otherwise(0).alias("_s"),
        )
        .groupBy("stratum", "_u")
        .agg(F.max("_s").alias("conv"))
        .withColumn("arm", md5_bucket("_u", 2).cast("int"))
    )
    cells = per.groupBy("stratum").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0)).alias("conv_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0)).alias("conv_b"),
    )
    n_s = F.col("n_a") + F.col("n_b")
    term = (
        F.expr("(( (n_a + n_b) * 1000000 * conv_b ) div n_b)")
        - F.expr("(( (n_a + n_b) * 1000000 * conv_a ) div n_a)")
    )
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    t = cells.select(
        n_s.alias("n_s"),
        F.when(ok, term).otherwise(F.lit(0)).cast("long").alias("term_micro"),
        F.when(ok, n_s).otherwise(F.lit(0)).cast("long").alias("n_used"),
    )
    return t.agg(
        F.sum("n_s").cast("long").alias("n_units"),
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        F.sum("n_used").cast("long").alias("n_units_used"),
        F.sum("term_micro").cast("long").alias("effect_num_micro"),
    )


def mcnemar_paired(
    ev: DataFrame,
    unit_col: str,
    conv_predicate,
    ts_col: str = "ts",
) -> DataFrame:
    """McNemar's paired test on within-user pre/post conversion flips
    across the integer-midpoint time split (the cuped cutoff): did the
    SAME users convert after but not before (n01) more than the reverse
    (n10)? The right test when each unit is its own control. Exact int64
    cells n00/n01/n10/n11 plus the chi-square pieces as integers
    (num = (n01-n10)^2, den = n01+n10) — the statistic num/den is left to
    the caller, nothing float crosses engines.

    Scale shape: one groupBy(user) + one 1-row aggregate (the midpoint
    rides a broadcast 1-row frame) — two shuffles at any size.
    """
    from ..operators.ordering import epoch_us

    us = epoch_us(ts_col)
    base = ev.select(
        F.col(unit_col).alias("uid"), us.alias("_us"),
        F.when(conv_predicate, 1).otherwise(0).alias("_s"),
    )
    rng = base.agg(F.min("_us").alias("lo"), F.max("_us").alias("hi")).select(
        F.expr("(lo + hi) div 2").alias("cut")
    )
    pu = (
        base.crossJoin(F.broadcast(rng))
        .groupBy("uid")
        .agg(
            F.max(F.when(F.col("_us") < F.col("cut"), F.col("_s")).otherwise(0))
            .alias("pre"),
            F.max(F.when(F.col("_us") >= F.col("cut"), F.col("_s")).otherwise(0))
            .alias("post"),
        )
    )
    cell = lambda p, q, name: (
        F.sum(F.when((F.col("pre") == p) & (F.col("post") == q), 1).otherwise(0))
        .cast("long").alias(name)
    )
    out = pu.agg(
        cell(0, 0, "n00"), cell(0, 1, "n01"), cell(1, 0, "n10"), cell(1, 1, "n11")
    )
    return out.select(
        "*",
        ((F.col("n01") - F.col("n10")) * (F.col("n01") - F.col("n10")))
        .cast("long").alias("chi2_num"),
        (F.col("n01") + F.col("n10")).cast("long").alias("chi2_den"),
    )


def srm_check(ev: DataFrame, unit_col: str, n_arms: int = 2) -> DataFrame:
    """Sample-ratio-mismatch check — the first gate every experiment
    platform runs: do the md5 arms actually split units evenly? One row
    per arm with the exact unit count, plus the integer chi-square pieces
    against the uniform expectation folded in (chi2 = sum over arms of
    (n_arms*n_i - N)^2 / (n_arms*N), left to the caller as exact int64
    numerator terms). A broken randomizer or a filter applied after arm
    assignment shows up here before any effect estimate is trusted.

    Scale shape: one groupBy(unit) + one n_arms-row aggregate.
    """
    from .corpus import md5_bucket

    per = (
        ev.select(F.col(unit_col).alias("_u"))
        .distinct()
        .withColumn("arm", md5_bucket("_u", n_arms).cast("int"))
    )
    cells = per.groupBy("arm").agg(F.count(F.lit(1)).cast("long").alias("n_units"))
    tot = cells.agg(F.sum("n_units").cast("long").alias("n_total"))
    out = cells.crossJoin(F.broadcast(tot))
    dev = F.lit(int(n_arms)) * F.col("n_units") - F.col("n_total")
    return out.select(
        "arm", "n_units", "n_total",
        (dev * dev).cast("long").alias("chi2_num_term"),
        (F.lit(int(n_arms)) * F.col("n_total")).cast("long").alias("chi2_den"),
    )


def spearman_rho(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_col: str | None = None,
    scale: int = 1_000_000,
) -> DataFrame:
    """Spearman rank correlation with tie-averaged ranks kept EXACT in
    integers. Doubled midranks rx2 = 2*avg_rank = 2*rank_min + ties - 1
    are int64, so 4*d^2 = (rx2 - ry2)^2 is exact, and with
    D = n(n^2 - 1):   rho = 1 - 6*sum(d^2)/D = (2D - 3*S4/2)/D
    where S4 = sum((rx2 - ry2)^2). The released score is the SHIFTED
    nonneg quotient  rho_plus1_micro = (4D - 3*S4)*scale div (2D)
    (= scale*(rho + 1), in [0, 2*scale]) — shifting before the floor
    division keeps the operand nonnegative, where Spark's truncating
    `div` and DuckDB's flooring `//` agree; the quotient runs in
    decimal(38,0)/hugeint because scale*4D ~ 4e6*n^3 passes int64 at
    n ~ 1300.

    Scale shape: two rank windows per group + one partial-aggregable
    groupBy. Rank a GROUPED or already-aggregated frame (e.g. one row
    per conversation); an ungrouped call ranks in a single task — for
    corpus-sized frames pass group_col or pre-quantize x/y to integer
    buckets.

    Returns ``DataFrame[group?, n: long, sum_d2x4: long,
    rho_plus1_micro: long]`` (rho_plus1_micro null when n < 2).
    """
    from pyspark.sql import Window

    keys = [group_col] if group_col else []
    wx = (Window.partitionBy(*keys) if keys else Window.partitionBy()).orderBy(x_col)
    wy = (Window.partitionBy(*keys) if keys else Window.partitionBy()).orderBy(y_col)
    cx = Window.partitionBy(*(keys + [x_col]))
    cy = Window.partitionBy(*(keys + [y_col]))
    t = (
        df.select(*keys, x_col, y_col)
        .withColumn(
            "_rx2",
            (2 * F.rank().over(wx) + F.count(F.lit(1)).over(cx) - 1).cast("long"),
        )
        .withColumn(
            "_ry2",
            (2 * F.rank().over(wy) + F.count(F.lit(1)).over(cy) - 1).cast("long"),
        )
    )
    d = F.col("_rx2") - F.col("_ry2")
    agg = (t.groupBy(*keys) if keys else t.groupBy()).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(d * d).cast("long").alias("sum_d2x4"),
    )
    big_d = "(cast(n as decimal(38,0)) * n * n - n)"
    rho = F.expr(
        f"case when n >= 2 then cast((({big_d} * 4 -"
        f" cast(sum_d2x4 as decimal(38,0)) * 3) * {scale})"
        f" div ({big_d} * 2) as bigint) end"
    )
    return agg.select(*keys, "n", "sum_d2x4", rho.alias("rho_plus1_micro"))


def diff_in_differences(
    ev: DataFrame,
    user_col: str,
    ts_col: str = "ts",
    value_col: str = "value",
    cutover_day: int = 16,
    scale: int = 1_000_000,
    cutover_ts: str | None = None,
) -> DataFrame:
    """Difference-in-differences over a deterministic md5 A/B split and a
    calendar cutover: the panel-data effect estimate
        DiD = (mean_B_post - mean_B_pre) - (mean_A_post - mean_A_pre)
    on per-user-period spend kept as exact integer cents. Cell means are
    released as micro-cents by matched floor division (s * 1e6 div n),
    and the DiD is the signed sum of those four integers — no float
    crosses engines; the raw (n, sum) per cell ride along so any CI
    convention can be folded client-side.

    Units are (user, period): a user's pre and post spends are separate
    panel observations aggregated once — one groupBy(user, period) then
    one 4-cell aggregate; two partial-aggregable shuffles at any scale.

    Returns one row: ``[n_{a,b}x{pre,post}, sum_*_cents,
    mean_*_micro, did_micro]`` (all long).
    """
    from .corpus import md5_bucket

    cents = F.floor(F.col(value_col) * F.lit(100.0) + F.lit(0.5)).cast("long")
    # cutover_ts (a full timestamp literal) is the general panel split;
    # cutover_day compares day-of-month only and is therefore valid ONLY
    # for single-calendar-month panels (every month's days >= cutover_day
    # would land in 'post' on multi-month inputs).
    if cutover_ts is not None:
        post = F.col(ts_col).cast("timestamp") >= F.lit(cutover_ts).cast("timestamp")
    else:
        post = F.dayofmonth(F.col(ts_col).cast("timestamp")) >= cutover_day
    base = ev.select(
        F.col(user_col).alias("uid"),
        post.cast("int").alias("post"),
        cents.alias("_c"),
    )
    per = base.groupBy("uid", "post").agg(F.sum("_c").alias("c"))
    per = per.withColumn("arm", md5_bucket(F.col("uid"), 2))
    cell = per.groupBy("arm", "post").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("s"),
    )
    wide = cell.groupBy().agg(
        *[
            F.coalesce(
                F.sum(F.when((F.col("arm") == a) & (F.col("post") == p),
                             F.col(m))), F.lit(0)
            ).cast("long").alias(f"{m_name}_{'b' if a else 'a'}_{'post' if p else 'pre'}")
            for m, m_name in (("n", "n"), ("s", "sum"))
            for a in (0, 1)
            for p in (0, 1)
        ]
    )
    def mean(tag):
        return F.expr(
            f"sum_{tag} * {scale} div greatest(n_{tag}, 1)"
        ).cast("long").alias(f"mean_{tag}_micro")

    means = wide.select(
        "*",
        mean("a_pre"), mean("a_post"), mean("b_pre"), mean("b_post"),
    )
    did = (
        (F.col("mean_b_post_micro") - F.col("mean_b_pre_micro"))
        - (F.col("mean_a_post_micro") - F.col("mean_a_pre_micro"))
    ).cast("long").alias("did_micro")
    return means.select("*", did)


def krippendorff_alpha_binary(
    df: DataFrame,
    unit_col: str,
    bit_col: str,
    scale: int = 1_000_000,
) -> DataFrame:
    """Krippendorff's alpha (binary/nominal, Krippendorff 2004) — the
    reliability gate for repeated binary measurements of the same unit
    (annotator agreement on labels, response consistency of a user):
        alpha = 1 - Do/De,
        Do = (1/n) * sum_u 2*x_u*(m_u - x_u)/(m_u - 1),
        De = 2*P0*P1 / (n*(n - 1)),
    with m_u ratings (x_u ones) per unit, n = sum m_u over units with
    m_u >= 2, P1 = sum x_u, P0 = n - P1.

    Integer spec: the only per-unit division is quantized ONCE as
        o_num = sum_u (x_u*(m_u - x_u) * scale div (m_u - 1))
    (floor per unit — deterministic, engine-exact), then
        alpha_ppm = scale - ((n - 1) * o_num div (P0 * P1))
    in decimal(38,0)/hugeint. The subtraction is exact, and the single
    floor division runs on NONNEGATIVE operands where Spark's truncating
    `div` and DuckDB's flooring `//` agree — alpha_ppm may be negative
    (worse than chance) but is never produced by a negative division.
    Degenerate margins (P0*P1 = 0: everyone agrees on one value) release
    alpha_ppm = scale.

    Scale shape: one partial-aggregable groupBy(unit) + one 1-row
    aggregate — two shuffles at any size.

    Returns one row:
    ``[n_units: long, n: long, p1: long, o_num: long, alpha_ppm: long]``.
    """
    per = (
        df.select(F.col(unit_col).alias("u"), F.col(bit_col).cast("int").alias("b"))
        .groupBy("u")
        .agg(
            F.count(F.lit(1)).cast("long").alias("m"),
            F.sum("b").cast("long").alias("x"),
        )
        .filter(F.col("m") >= 2)
    )
    agg = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_units"),
        F.sum("m").cast("long").alias("n"),
        F.sum("x").cast("long").alias("p1"),
        F.sum(F.expr(f"(x * (m - x) * {scale}) div (m - 1)"))
        .cast("long").alias("o_num"),
    )
    alpha = F.expr(
        f"case when (n - p1) * p1 = 0 then cast({scale} as bigint) else "
        f"cast({scale} - cast((n - 1) as decimal(38,0)) * o_num"
        f" div (cast((n - p1) as decimal(38,0)) * p1) as bigint) end"
    )
    return agg.select("n_units", "n", "p1", "o_num", alpha.alias("alpha_ppm"))


def seasonal_decompose_int(
    counts: DataFrame,
    idx_col: str = "hr",
    y_col: str = "y",
    period: int = 24,
) -> DataFrame:
    """Classical additive seasonal decomposition (the moving-average
    method behind statsmodels ``seasonal_decompose``) in EXACT integer
    arithmetic, for an even ``period``.

    Input: one row per observed index (``idx_col`` integer, e.g. hours
    since epoch) with an integer measure ``y_col``. The series is
    densified first — missing indices between the global min and max
    participate as zeros, so the centered windows see the true calendar
    spacing, not the observation gaps.

    The standard 2x`period` centered MA at index t is
        ( y[t-p/2]/2 + sum(y[t-p/2+1 .. t+p/2-1]) + y[t+p/2]/2 ) / period.
    Multiplying by 2*period clears both denominators:
        trend_2p = 2 * sum(y[t-p/2 .. t+p/2]) - y[t-p/2] - y[t+p/2]
    which is an exact int64. The detrended value scales the observation
    by the same factor, detr_2p = 2*period*y - trend_2p, and the seasonal
    index per phase is reported as its exact integer sufficient
    statistics (sum + count) — the round-2 lesson: never ship a float
    division across engines when the integers suffice.

    Scale shape: ONE groupBy collapses the raw table to at most
    (max-min+1) index rows — a decade of hours is <90K rows — and every
    window here runs over that collapsed aggregate (the km_risk_table
    precedent), so the unpartitioned orderBy window is bounded by the
    calendar, not the data volume. Final output: ``period`` rows.
    """
    half = period // 2
    agg = counts.groupBy(F.col(idx_col).cast("long").alias("_i")).agg(
        F.sum(F.col(y_col).cast("long")).alias("_y")
    )
    rng = agg.agg(
        F.min("_i").alias("_lo"), F.max("_i").alias("_hi")
    )
    dense = (
        rng.select(F.explode(F.sequence("_lo", "_hi")).alias("_i"))
        .join(agg, "_i", "left")
        .select("_i", F.coalesce("_y", F.lit(0)).alias("_y"))
    )
    from pyspark.sql.window import Window

    w_sum = Window.orderBy("_i").rowsBetween(-half, half)
    w = Window.orderBy("_i")
    trend = (
        F.lit(2) * F.sum("_y").over(w_sum)
        - F.lag("_y", half).over(w)
        - F.lead("_y", half).over(w)
    )
    d = dense.select(
        "_i",
        "_y",
        trend.alias("_trend_2p"),
    ).where(F.col("_trend_2p").isNotNull())
    detr = F.lit(2 * period) * F.col("_y") - F.col("_trend_2p")
    return (
        d.select(F.pmod(F.col("_i"), F.lit(period)).alias("phase"), detr.alias("_d"))
        .groupBy("phase")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_obs"),
            F.sum("_d").cast("long").alias("seasonal_sum_2p"),
        )
    )


def propensity_match(
    units: DataFrame,
    id_col: str,
    score_col: str,
    treat_col: str,
    outcome_col: str,
    stratum_col: str | None = None,
) -> DataFrame:
    """1-nearest-neighbor propensity-score matching WITH replacement
    (Rosenbaum & Rubin 1983; the ATT workhorse): each treated unit is
    matched to the control whose integer score is closest, within its
    stratum. Returns one row per treated unit with the matched control's
    id/score/outcome and the ATT term (y_t - y_c).

    Determinism contract: controls collapse to ONE representative per
    distinct (stratum, score) — the minimum id, carrying that unit's
    outcome via min_by — so the nearest-match is a total function of the
    data (a raw multi-control tie would be pick-order dependent; the
    reference's FIFO pairing rule is the same move,
    src/features/lifecycle_features.rs:29-80). Equal-distance ties prefer
    the control at the LOWER score (asof 'nearest' backward-wins).

    Distributed shape: one groupBy collapses controls, then the match
    reuses operators.asof.asof_join(direction='nearest') — a single
    union + per-stratum sort, NO pairwise score join. Strata bound the
    sort width at scale; omit ``stratum_col`` only when the unit table is
    already aggregate-sized.
    """
    from ..operators.asof import asof_join

    s = stratum_col or "_stratum"
    base = units if stratum_col else units.withColumn(s, F.lit(0))
    treated = base.where(F.col(treat_col).cast("int") == 1).select(
        F.col(id_col).alias("unit_id"),
        F.col(s).alias("stratum"),
        F.col(score_col).cast("long").alias("score"),
        F.col(outcome_col).cast("long").alias("y_t"),
    )
    controls = (
        base.where(F.col(treat_col).cast("int") == 0)
        .groupBy(F.col(s).alias("stratum"), F.col(score_col).cast("long").alias("score"))
        .agg(
            F.min(id_col).alias("control_id"),
            F.expr(f"min_by(cast({outcome_col} as long), {id_col})").alias("y_c"),
            F.count(F.lit(1)).cast("long").alias("n_ctl_at_score"),
        )
        .withColumn("control_score", F.col("score"))
    )
    out = asof_join(
        treated,
        controls,
        key="stratum",
        ts="score",
        value_cols=["control_id", "y_c", "n_ctl_at_score", "control_score"],
        direction="nearest",
    )
    return out.select(
        "unit_id",
        "stratum",
        "score",
        F.col("control_id_asof").alias("control_id"),
        F.col("control_score_asof").alias("control_score"),
        F.col("n_ctl_at_score_asof").alias("n_ctl_at_score"),
        "y_t",
        F.col("y_c_asof").alias("y_c"),
        (F.col("y_t") - F.col("y_c_asof")).alias("att_term"),
    )


# Aggregated (winner, loser) rows bradley_terry collects to the driver;
# every caller passes a players² win table.
MAX_BT_PAIRS = 100_000


def bradley_terry(
    pair_wins: DataFrame,
    winner_col: str = "winner",
    loser_col: str = "loser",
    w_col: str = "w",
    iterations: int = 3,
    scale: int = 10**6,
) -> DataFrame:
    """Bradley-Terry preference-strength fit (Bradley & Terry 1952) via
    the MM algorithm (Hunter, Annals of Statistics 2004) — the standard
    model behind pairwise-preference leaderboards and RLHF reward-data
    audits: P(i beats j) = p_i / (p_i + p_j), with the minorize-maximize
    update  p_i' = W_i / sum_j n_ij / (p_i + p_j).

    Input is the AGGREGATED pairwise win-count table (winner, loser, w) —
    O(players^2) rows regardless of how many raw comparisons produced it;
    building that table is the distributed heavy lifting and belongs to
    the caller (one groupBy).

    Engine-exactness: the update runs in scaled integers — every player
    starts at ``scale``; each round computes per-pair terms
    ``(n_ij * scale) div max(p_i + p_j, 1)`` and then
    ``p_i' = (W_i * scale^2) div max(denom_i, 1)`` with floor division
    throughout, so a DuckDB hugeint twin reproduces every bit. No
    normalization (BT is scale-invariant; the floor spec above IS the
    contract).

    Scale shape: the pair table finishes on the driver in Python
    arbitrary-precision ints (``guards.collect_at_most``, cap
    ``MAX_BT_PAIRS``, ValueError past it). Rows with a null winner or
    loser are dropped first.
    """
    pw = (
        pair_wins.filter(F.col(winner_col).isNotNull() & F.col(loser_col).isNotNull())
        .groupBy(F.col(winner_col).alias("pl_w"), F.col(loser_col).alias("pl_l"))
        .agg(F.sum(F.col(w_col)).cast("long").alias("w"))
    )
    s = int(scale)

    rows = collect_at_most(pw, MAX_BT_PAIRS, "bradley_terry")
    if rows is None:
        raise ValueError(
            f"bradley_terry: more than MAX_BT_PAIRS={MAX_BT_PAIRS} "
            "(winner, loser) pairs; the fit finishes on the driver, so "
            "coarsen the players before calling."
        )
    wins: dict = {}
    npair: dict = {}
    for a, b, w in rows:
        w = int(w)
        wins[a] = wins.get(a, 0) + w
        wins.setdefault(b, 0)
        key = (a, b) if a < b else (b, a)
        npair[key] = npair.get(key, 0) + w
    players = sorted(wins)
    p = {v: s for v in players}
    for _ in range(iterations):
        denom = {v: 0 for v in players}
        for (i, j), n in npair.items():
            t = (n * s) // max(p[i] + p[j], 1)
            denom[i] += t
            denom[j] += t
        p = {v: (wins[v] * s * s) // max(denom[v], 1) for v in players}
    nm = {v: 0 for v in players}
    for (i, j), n in npair.items():
        nm[i] += n
        nm[j] += n
    return pw.sparkSession.createDataFrame(
        [(v, wins[v], nm[v], p[v]) for v in players],
        schema=f"pl {dict(pw.dtypes)['pl_w']}, wins long, n_matches long, "
        "p_micro long",
    )


def cochran_armitage_trend(
    df: DataFrame,
    score_col: str,
    flag_col: str,
) -> DataFrame:
    """Cochran-Armitage trend test (Cochran 1954; Armitage 1955): is a
    binary outcome rate monotonically associated with an ORDERED integer
    score (dose, decile, position bucket)? The missing piece between the
    two-sample z-test (ab_ztest) and the rank correlations (spearman,
    mann_kendall): it tests proportions across ordered groups with one
    degree of freedom.

    With per-score cells (n_i trials, r_i successes), score w_i, totals
    N, X and moments T = sum w_i r_i, S1 = sum w_i n_i, S2 = sum w_i^2 n_i:

        z^2 = (T*N - X*S1)^2 * (N - 1)
              / ( X * (N - X) * (N*S2 - S1^2) )

    Everything up to the final quotient is EXACT integer arithmetic in
    decimal(38,0) (hugeint twin); the quotient is one identical IEEE
    division of two already-exact big integers on both engines.

    Scale shape: one partial-aggregable groupBy(score) collapses the
    corpus to the cell frame, then a 1-row moment aggregate — the same
    two-shuffle shape as kanonymity; no sort, no join.
    """
    s = F.col("_g")
    cells = df.select(
        F.col(score_col).cast("long").alias("_g"),
        F.col(flag_col).cast("long").alias("_x"),
    ).groupBy("_g").agg(
        F.count(F.lit(1)).alias("n_i"),
        F.sum("_x").alias("r_i"),
    )
    tot = cells.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("n_i").cast("long").alias("n_total"),
        F.sum("r_i").cast("long").alias("x_total"),
        F.sum(s * F.col("r_i")).cast("long").alias("t_stat"),
        F.sum(s * F.col("n_i")).cast("long").alias("s1"),
        F.sum(s * s * F.col("n_i")).cast("long").alias("s2"),
    )
    num = F.expr(
        "cast(t_stat as decimal(38,0)) * n_total"
        " - cast(x_total as decimal(38,0)) * s1"
    )
    den = F.expr(
        "cast(x_total as decimal(38,0)) * (n_total - x_total)"
        " * (cast(n_total as decimal(38,0)) * s2"
        "    - cast(s1 as decimal(38,0)) * s1)"
    )
    out = tot.withColumn("_num", num).withColumn("_den", den)
    z2 = F.when(
        F.col("_den") > 0,
        (F.col("_num") * F.col("_num") * (F.col("n_total") - 1)).cast("double")
        / F.col("_den").cast("double"),
    ).otherwise(F.lit(0.0))
    return out.select(
        "n_groups", "n_total", "x_total", "t_stat", "s1", "s2",
        z2.alias("z2_raw"),
    )


def wilcoxon_signed_rank(
    pairs: DataFrame,
    d_col: str = "d",
) -> DataFrame:
    """Wilcoxon signed-rank test (Wilcoxon 1945) over per-unit integer
    paired differences — the PAIRED leg of the experimentation family
    (mcnemar handles paired binaries; mann_whitney_u handles unpaired
    metrics; this handles paired continuous metrics, e.g. pre/post spend
    of the same user).

    Convention: zero differences drop (the classic Wilcoxon reduction);
    |d| ranks carry ties as DOUBLED midranks (2x midrank = min_rank +
    max_rank, always integer — the mann_whitney_u trick). Outputs one
    row of exact integers: n_pairs, w2_pos (2x positive-rank sum),
    e2 = n(n+1)/2 (2x its null expectation), tie_term = sum(t^3 - t),
    and the z^2 statistic

        z^2 = (w2_pos - e2)^2 * 12 / (2n(n+1)(2n+1) - tie_term)

    as ONE IEEE division of two exact decimal(38,0) integers (Var(2W+) =
    n(n+1)(2n+1)/6 - tie_term/12, multiplied through).

    Scale shape: groupBy(DISTINCT |d|) -> a window over the distinct-
    value frame only -> 1-row aggregate; bounded by metric cardinality,
    never corpus size.
    """
    from pyspark.sql import Window

    dd = pairs.select(F.col(d_col).cast("long").alias("d")).filter(
        F.col("d") != 0
    )
    g = dd.groupBy(F.abs(F.col("d")).alias("ad")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0)).alias("cnt_pos"),
    )
    w = Window.orderBy("ad").rowsBetween(Window.unboundedPreceding, 0)
    r = g.select(
        "cnt", "cnt_pos",
        (F.lit(2) * (F.sum("cnt").over(w) - F.col("cnt"))
         + F.col("cnt") + F.lit(1)).alias("two_midrank"),
    )
    f = r.agg(
        F.sum("cnt").cast("long").alias("n_pairs"),
        F.sum(F.col("cnt_pos") * F.col("two_midrank")).cast("long")
        .alias("w2_pos"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("long").alias("tie_term"),
    ).withColumn(
        "e2", F.expr("n_pairs * (n_pairs + 1) div 2").cast("long")
    )
    num = F.expr(
        "cast(w2_pos - e2 as decimal(38,0))"
        " * (w2_pos - e2) * 12"
    )
    den = F.expr(
        "cast(2 as decimal(38,0)) * n_pairs * (n_pairs + 1)"
        " * (2 * n_pairs + 1) - tie_term"
    )
    z2 = F.when(
        den > 0, num.cast("double") / den.cast("double")
    ).otherwise(F.lit(0.0))
    return f.select(
        "n_pairs", "w2_pos", "e2", "tie_term", z2.alias("z2_raw")
    )


def kruskal_wallis(
    obs: DataFrame,
    group_col: str,
    metric_col: str,
) -> DataFrame:
    """Kruskal-Wallis rank test sufficient statistics (Kruskal & Wallis
    1952) — the k-group extension of mann_whitney_u: pooled doubled
    midranks over the distinct metric values, per-group counts and
    doubled rank sums, plus the global tie term. Output is one exact-
    integer row per group (grp, n_g, r2_sum, n_total, tie_term); the H
    statistic H = [12/(N(N+1)) * sum R_g^2/n_g - 3(N+1)] / (1 -
    tie_term/(N^3-N)) is derivable by any consumer — the house rule:
    never ship a cross-engine float when the integers suffice.

    Scale shape: groupBy(value, group) -> groupBy(DISTINCT value) for
    the rank window (bounded by metric cardinality) -> per-group
    aggregate + a broadcast 1-row total.
    """
    from pyspark.sql import Window

    o = obs.select(
        F.col(group_col).alias("grp"),
        F.col(metric_col).cast("long").alias("c"),
    )
    gc = o.groupBy("c", "grp").agg(F.count(F.lit(1)).alias("cnt_g"))
    tot = o.groupBy("c").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    ranks = tot.select(
        "c",
        (F.lit(2) * (F.sum("cnt").over(w) - F.col("cnt"))
         + F.col("cnt") + F.lit(1)).alias("two_midrank"),
    )
    per_group = (
        gc.join(ranks, "c")
        .groupBy("grp")
        .agg(
            F.sum("cnt_g").cast("long").alias("n_g"),
            F.sum(F.col("cnt_g") * F.col("two_midrank")).cast("long")
            .alias("r2_sum"),
        )
    )
    totals = tot.agg(
        F.sum("cnt").cast("long").alias("n_total"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("long").alias("tie_term"),
    )
    return per_group.crossJoin(F.broadcast(totals)).select(
        "grp", "n_g", "r2_sum", "n_total", "tie_term"
    )


def cross_correlation(
    series: DataFrame,
    t_col: str,
    x_col: str,
    y_col: str,
    max_lag: int = 7,
) -> DataFrame:
    """Lagged cross-correlation sufficient statistics between two integer
    series on a shared integer time grid: for every lag L in [0, max_lag]
    pair x(t) with y(t + L) and emit the exact integer moments (n, sx,
    sy, sxy, sxx, syy) plus the signed squared correlation

        r2_signed = sign(num) * num^2 / (varx_n * vary_n),
        num = n*sxy - sx*sy,  varx_n = n*sxx - sx^2,  vary_n = n*syy - sy^2

    — the lead/lag detector (does x lead y?) completing acf_features
    (autocorrelation) with the cross-series form. sqrt never crosses an
    engine: r^2 is ONE IEEE division of exact decimal(38,0) integers,
    and |r| = sqrt(|r2_signed|) is recoverable by any consumer.

    Scale shape: the caller's series frame is already calendar-bounded
    (days/hours, never events); each lag is one equi-join on the shifted
    key via a (max_lag+1)-row explode, then one partial-aggregable
    groupBy(lag).
    """
    base = series.select(
        F.col(t_col).cast("long").alias("t"),
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("long").alias("y"),
    )
    lags = base.select(
        "t", "x",
        F.explode(F.sequence(F.lit(0), F.lit(int(max_lag)))).alias("lag"),
    ).select("lag", (F.col("t") + F.col("lag")).alias("t2"), "x")
    ys = base.select(F.col("t").alias("t2"), "y")
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    m = (
        lags.join(ys, "t2")
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(dec("x") * dec("y")).cast("decimal(38,0)").alias("sxy"),
            F.sum(dec("x") * dec("x")).cast("decimal(38,0)").alias("sxx"),
            F.sum(dec("y") * dec("y")).cast("decimal(38,0)").alias("syy"),
        )
    )
    num = F.expr("cast(n as decimal(38,0)) * sxy - cast(sx as decimal(38,0)) * sy")
    vx = F.expr("cast(n as decimal(38,0)) * sxx - cast(sx as decimal(38,0)) * sx")
    vy = F.expr("cast(n as decimal(38,0)) * syy - cast(sy as decimal(38,0)) * sy")
    withm = m.withColumn("_num", num).withColumn("_vx", vx).withColumn("_vy", vy)
    r2 = F.when(
        (F.col("_vx") > 0) & (F.col("_vy") > 0),
        F.signum(F.col("_num").cast("double"))
        * (F.col("_num") * F.col("_num")).cast("double")
        / (F.col("_vx") * F.col("_vy")).cast("double"),
    ).otherwise(F.lit(0.0))
    return withm.select(
        F.col("lag").cast("int").alias("lag"),
        "n", "sx", "sy",
        F.col("sxy").cast("long").alias("sxy"),
        F.col("sxx").cast("long").alias("sxx"),
        F.col("syy").cast("long").alias("syy"),
        r2.alias("r2_signed_raw"),
    )


def effect_size_d2(
    ev: DataFrame,
    unit_col: str,
    value_col: str = "value",
) -> DataFrame:
    """Signed squared Cohen's d between the two md5-randomized arms on
    the per-unit integer-cent metric — the PRACTICAL-significance
    companion to ab_ztest/mann_whitney_u (a tiny p-value on 10^9 units
    can mean a trivial effect; d tells you if anyone should care).

        d = (mean_a - mean_b) / s_pooled
        d2_signed = sign(md) * md^2 / s2_pooled,
        md = mean_a - mean_b,
        s2_pooled = ((n_a-1) s2_a + (n_b-1) s2_b) / (n_a + n_b - 2)

    sqrt never crosses an engine: with exact integer moments (n, s, ss)
    per arm, both md^2 and s2_pooled are ratios of exact decimal(38,0)
    integers — multiplied through, d2_signed is ONE IEEE division:

        d2 = sign * (n_a + n_b - 2) * (s_a*n_b - s_b*n_a)^2
             / ( n_a * n_b * (n_b * (n_a*ss_a - s_a^2)
                              + n_a * (n_b*ss_b - s_b^2)) )

    (per-arm sample variances (n*ss - s^2)/(n(n-1)) share the n(n-1)
    factors that cancel into the expression above). |d| = sqrt(|d2|)
    downstream. Scale shape: groupBy(unit) then one 2-cell conditional
    aggregate — two partial-aggregable shuffles at any corpus size.
    """
    from .corpus import md5_bucket

    cents = F.floor(F.col(value_col) * F.lit(100.0) + F.lit(0.5)).cast("long")
    pu = (
        ev.select(F.col(unit_col).alias("uid"), cents.alias("_c"))
        .groupBy("uid")
        .agg(F.sum("_c").alias("c"))
        .withColumn("arm", md5_bucket("uid", 2).cast("int"))
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    a = F.col("arm") == 0
    m = pu.agg(
        F.sum(F.when(a, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(~a, 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(a, F.col("c")).otherwise(0)).cast("long").alias("s_a"),
        F.sum(F.when(~a, F.col("c")).otherwise(0)).cast("long").alias("s_b"),
        F.sum(F.when(a, dec("c") * dec("c")).otherwise(F.lit(0).cast("decimal(38,0)")))
        .cast("decimal(38,0)").alias("ss_a"),
        F.sum(F.when(~a, dec("c") * dec("c")).otherwise(F.lit(0).cast("decimal(38,0)")))
        .cast("decimal(38,0)").alias("ss_b"),
    )
    md = F.expr(
        "cast(s_a as decimal(38,0)) * n_b - cast(s_b as decimal(38,0)) * n_a"
    )
    pooled = F.expr(
        "cast(n_b as decimal(38,0)) * (cast(n_a as decimal(38,0)) * ss_a"
        "   - cast(s_a as decimal(38,0)) * s_a)"
        " + cast(n_a as decimal(38,0)) * (cast(n_b as decimal(38,0)) * ss_b"
        "   - cast(s_b as decimal(38,0)) * s_b)"
    )
    w = m.withColumn("_md", md).withColumn("_pool", pooled)
    den = F.expr("cast(n_a as decimal(38,0)) * n_b * _pool")
    num = F.expr(
        "cast(_md as decimal(38,0)) * _md * (n_a + n_b - 2)"
    )
    d2 = F.when(
        (F.col("_pool") > 0) & (F.col("n_a") + F.col("n_b") > 2),
        F.signum(F.col("_md").cast("double"))
        * num.cast("double") / den.cast("double"),
    ).otherwise(F.lit(0.0))
    return w.select(
        "n_a", "n_b", "s_a", "s_b",
        F.col("ss_a").cast("string").alias("ss_a"),
        F.col("ss_b").cast("string").alias("ss_b"),
        d2.alias("d2_signed_raw"),
    )


def cramers_v2(
    df: DataFrame,
    a_col: str,
    b_col: str,
    scale: int = 10**6,
) -> DataFrame:
    """Squared Cramér's V (Cramér 1946) — the normalized strength of
    association between two categoricals, the effect-size companion to
    the chi-square machinery:  V^2 = chi2 / (N * min(r-1, c-1)).

    Engine-exactness: with exact integer cell/margin counts, each cell's
    chi-square contribution (o - e)^2/e multiplies through to
    (o*N - rt*ct)^2 / (N*rt*ct) — a ratio of exact integers, emitted as
    the fixed-point ``(...)^2 * scale div (N*rt*ct)`` in decimal(38,0)
    (hugeint twin) and SUMMED AS INTEGERS over cells; V^2 is then an
    identical two-step IEEE expression over the summed int64.

    Scale shape: one groupBy(a, b) collapses the corpus to the cell
    frame; margins are two aggregates of that tiny frame joined back;
    one 1-row final aggregate. Never a corpus-sized join.
    """
    cells = df.groupBy(
        F.col(a_col).alias("_a"), F.col(b_col).alias("_b")
    ).agg(F.count(F.lit(1)).cast("long").alias("o"))
    rt = cells.groupBy("_a").agg(F.sum("o").cast("long").alias("rt"))
    ct = cells.groupBy("_b").agg(F.sum("o").cast("long").alias("ct"))
    tot = cells.agg(
        F.sum("o").cast("long").alias("n_total"),
        F.countDistinct("_a").cast("long").alias("n_rows"),
        F.countDistinct("_b").cast("long").alias("n_cols"),
    )
    s = int(scale)
    term = F.expr(
        f"(cast(o as decimal(38,0)) * n_total - cast(rt as decimal(38,0)) * ct)"
        f" * (cast(o as decimal(38,0)) * n_total - cast(rt as decimal(38,0)) * ct)"
        f" * {s}"
        " div (cast(n_total as decimal(38,0)) * rt * ct)"
    )
    # zero cells contribute (0-e)^2/e = e each; over ALL (a,b) pairs
    # sum(rt*ct) = N^2, so the missing mass is (N^2 - sum_observed rt*ct)/N
    # — closed form, no need to materialize the empty cells.
    agg = (
        cells.join(rt, "_a")
        .join(ct, "_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "n_total", "n_rows", "n_cols",
            term.cast("long").alias("t_fp"),
            F.expr("cast(rt as decimal(38,0)) * ct").alias("rc"),
        )
        .groupBy("n_total", "n_rows", "n_cols")
        .agg(
            F.sum("t_fp").cast("long").alias("obs_fp"),
            F.sum("rc").cast("decimal(38,0)").alias("rc_sum"),
        )
        .withColumn(
            "chi2_fp",
            (F.col("obs_fp")
             + F.expr(
                 f"(cast(n_total as decimal(38,0)) * n_total - rc_sum)"
                 f" * {s} div n_total"
             ).cast("long")).cast("long"),
        )
    )
    k = F.least(F.col("n_rows") - 1, F.col("n_cols") - 1)
    v2 = F.when(
        (k > 0) & (F.col("n_total") > 0),
        F.col("chi2_fp").cast("double") / F.lit(float(s))
        / (F.col("n_total") * k).cast("double"),
    ).otherwise(F.lit(0.0))
    return agg.select(
        "n_rows", "n_cols", "n_total", "chi2_fp", v2.alias("v2_raw")
    )


def dispersion_index(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Per-group index of dispersion (variance-to-mean ratio, the
    overdispersion meter for count data): D = s^2 / x-bar, D ~ 1 for a
    Poisson process, D >> 1 for bursty / clumped arrivals — the one-line
    screen that decides between Poisson and negative-binomial modeling
    of per-day event counts, tool invocations, or token arrivals.

    Exactness: sufficient statistics (n, S = Σx, Q = Σx²) are exact
    integer/decimal(38,0) sums; the released value is the single IEEE
    division (n·Q − S²)/((n−1)·S) of two exact integers — the same
    op on both engines — then boundary-exact 6-decimal canonicalization.
    Mean x-bar = S/n is released the same way. Groups with n < 2 or
    S <= 0 release NULL (dispersion undefined).

    Scale shape: ONE partial-aggregable groupBy carrying three integer
    moments — fully map-side combinable, no sort, no join, no Python.

    Returns ``DataFrame[<group_col>, n: long, mean_x, dispersion]``.
    """
    x = F.col(value_col).cast("decimal(38,0)")
    g = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).alias("s"),
        F.sum(x * x).alias("q"),
    )
    x6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    num = F.col("n").cast("decimal(38,0)") * F.col("q") - F.col("s") * F.col("s")
    den = (F.col("n") - 1).cast("decimal(38,0)") * F.col("s")
    return g.select(
        group_col,
        "n",
        x6(F.col("s").cast("double") / F.col("n").cast("double")).alias("mean_x"),
        F.when(
            (F.col("n") >= 2) & (F.col("s") > 0),
            x6(num.cast("double") / den.cast("double")),
        ).alias("dispersion"),
    )


def cliffs_delta(
    ev: DataFrame,
    unit_col: str,
    value_col: str = "value",
) -> DataFrame:
    """Cliff's delta between the two md5 arms — the nonparametric effect
    size (P[a > b] - P[a < b]) that reports HOW MUCH the arms differ
    where mann_whitney_u reports WHETHER: the robust companion to the
    parametric effect_size_d2, immune to the heavy tails that inflate
    Cohen's d. Derived exactly from the doubled-U machinery (u2_a is the
    DOUBLED U_A, so the 2s cancel):

        delta = 2*U_A / (n_a*n_b) - 1 = (u2_a - n_a*n_b) / (n_a*n_b)

    one IEEE division of exact integers (u2_a, n_a, n_b from
    mann_whitney_u's exact midrank path), then 6-decimal boundary-exact
    canonicalization. |delta| <= 1; ~0.147/0.33/0.474 are the standard
    small/medium/large thresholds.

    Scale shape: identical to mann_whitney_u (groupBy(unit) ->
    distinct-value window -> 1-row aggregate); this adds only a 1-row
    projection.

    Returns one row: (n_a, n_b, u2_a, delta).
    """
    u = mann_whitney_u(ev, unit_col, value_col)
    x6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    prod = F.col("n_a").cast("decimal(38,0)") * F.col("n_b").cast("decimal(38,0)")
    return u.select(
        "n_a", "n_b", "u2_a",
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            x6(
                (F.col("u2_a").cast("decimal(38,0)") - prod).cast("double")
                / prod.cast("double")
            ),
        ).alias("delta"),
    )


def hill_tail_index(
    df: DataFrame,
    value_col: str,
    k: int = 100,
) -> DataFrame:
    """Hill (1975) tail-index estimator over the top-``k`` order
    statistics of a positive integer metric: H = (1/k) Σ_{i<=k}
    ln(x_(i) / x_(k+1)), alpha = 1/H — the heavy-tail screen that says
    whether conversation lengths / spend / burst sizes have finite
    variance (alpha > 2) or Pareto-like tails (alpha < 2) before any
    mean-based statistic is trusted.

    Determinism: each distinct value's ln is quantized to integer nanos
    (floor(ln(v)*1e9 + 0.5), the zipf_fit convention) BEFORE
    multiplication by its multiplicity and summation, so the sum is an
    exact integer in any order; H and alpha release as integer trunc
    divisions (h_nanos, alpha_micro) — bit-identical on both engines.

    Scale shape: one partial-aggregable groupBy collapses the corpus to
    the distinct-value frame; the descending cumulative window, top-k
    clamp, and threshold pick all run on that frame only (bounded by
    metric cardinality); one 1-row final aggregate. Returns an empty
    frame when fewer than k+1 observations exist (tail undefined).

    Returns one row: (k, n_total, x_threshold, h_nanos, alpha_micro).
    """
    from pyspark.sql import Window

    g = df.select(F.col(value_col).cast("long").alias("x")).filter(
        F.col("x") > 0
    ).groupBy("x").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    w = Window.orderBy(F.col("x").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = g.select(
        "x", "cnt",
        (F.sum("cnt").over(w) - F.col("cnt")).alias("cum_before"),
        F.sum("cnt").over(w).alias("cum_incl"),
        F.floor(F.log(F.col("x").cast("double")) * F.lit(1e9) + F.lit(0.5))
        .cast("long").alias("lnx_nanos"),
    )
    kk = F.lit(int(k)).cast("long")
    take = F.greatest(
        F.least(F.col("cnt"), kk - F.col("cum_before")), F.lit(0)
    )
    agg = c.agg(
        F.sum(take.cast("decimal(38,0)") * F.col("lnx_nanos").cast("decimal(38,0)"))
        .alias("top_ln_sum"),
        F.max(F.when(F.col("cum_incl") >= kk + 1, F.col("x"))).alias("x_threshold"),
        F.max(
            F.when(F.col("cum_incl") >= kk + 1, F.col("lnx_nanos"))
        ).alias("thr_ln"),
        F.sum("cnt").cast("long").alias("n_total"),
    )
    return agg.filter(F.col("n_total") >= int(k) + 1).select(
        F.lit(int(k)).cast("long").alias("k"),
        "n_total",
        F.col("x_threshold").cast("long").alias("x_threshold"),
        F.expr(
            f"cast((top_ln_sum - {int(k)} * cast(thr_ln as decimal(38,0)))"
            f" div {int(k)} as bigint)"
        ).alias("h_nanos"),
    ).select(
        "k", "n_total", "x_threshold", "h_nanos",
        F.expr(
            "case when h_nanos > 0 then"
            " cast((cast(1000000000 as decimal(38,0)) * 1000000)"
            " div cast(h_nanos as decimal(38,0)) as bigint) end"
        ).alias("alpha_micro"),
    )


def eb_shrunk_rates(
    df: DataFrame,
    group_col: str,
    n_col: str,
    k_col: str,
) -> DataFrame:
    """Empirical-Bayes (beta-binomial, method-of-moments) shrinkage of
    per-group success rates — the estimator that fixes the two failure
    modes of raw rates on a leaderboard: tiny-n groups swing to 0%/100%,
    and picking the max is winner's-cursed. Each group's rate shrinks
    toward the global prior in proportion to its evidence:

        mu_ppm    = (Σk · 1e6) div Σn                  (exact trunc div)
        var_ppm2  = Σ n_i (r_i − mu)² div Σn, r_i = (k_i·1e6) div n_i
        M         = mu(1e6 − mu)/var − 1  (prior pseudo-count, float)
        shrunk_i  = (k_i·1e6 + mu·M) / ((n_i + M)·1e6)

    Exactness contract: every moment is an exact integer (ppm / ppm²
    trunc divisions identical on both engines); M and the released
    shrunk rate are ONE fixed-operand-order float expression over those
    exact integers — the same IEEE ops on both engines (the
    wilson_interval convention). Degenerate var <= 0 (all groups at the
    prior) or M <= 0 (between-group variance exceeds the binomial bound)
    releases the raw rate unshrunk.

    Scale shape: ONE group aggregate (assumed pre-aggregated input:
    group, n, k), one 1-row global moment pass broadcast back (BNLJ
    allowlist), one projection. No sort, no Python.

    Returns ``DataFrame[<group>, n, k, rate_ppm: long, shrunk_rate]``.
    """
    g = df.select(
        F.col(group_col).alias("g"),
        F.col(n_col).cast("long").alias("n"),
        F.col(k_col).cast("long").alias("k"),
    ).withColumn("rate_ppm", F.expr("(k * 1000000) div n").cast("long"))
    tot = g.agg(
        F.sum("n").cast("long").alias("tn"),
        F.sum("k").cast("long").alias("tk"),
    ).withColumn("mu_ppm", F.expr("(tk * 1000000) div tn").cast("long"))
    withmu = g.crossJoin(F.broadcast(tot))
    var = withmu.groupBy("tn", "mu_ppm").agg(
        F.expr(
            "cast(sum(n * cast(rate_ppm - mu_ppm as decimal(38,0))"
            " * (rate_ppm - mu_ppm)) div max(tn) as long)"
        ).alias("var_ppm2")
    )
    full = withmu.join(F.broadcast(var.select("mu_ppm", "var_ppm2")), "mu_ppm")
    mu = F.col("mu_ppm").cast("double")
    v = F.col("var_ppm2").cast("double")
    m_prior = mu * (F.lit(1e6) - mu) / v - F.lit(1.0)
    shrunk = (
        F.col("k").cast("double") * F.lit(1e6) + mu * m_prior
    ) / ((F.col("n").cast("double") + m_prior) * F.lit(1e6))
    out = F.when(
        (F.col("var_ppm2") > 0) & (m_prior > 0), shrunk
    ).otherwise(F.col("rate_ppm").cast("double") / F.lit(1e6))
    return full.select(
        F.col("g").alias(group_col), "n", "k", "rate_ppm",
        out.alias("shrunk_rate_raw"),
    )


def wasserstein_1d(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Exact 1-D Wasserstein-1 (earth-mover) distance between two groups'
    value distributions — the drift metric that, unlike KS (max gap) or
    PSI (binned), weighs HOW FAR mass moved: W1 = ∫|F_a − F_b| dx over
    the merged support. The modern two-sample distance for "did my
    length/latency/score distribution shift, and by how much in value
    units".

    ENTIRELY exact integer arithmetic: on the merged distinct-value grid,
    W1 = Σ_i |cumA_i·n_b − cumB_i·n_a| · (x_{i+1} − x_i) released as
    w1_micro = (Σ · 1e6) div (n_a·n_b) — one trunc division of exact
    decimal(38,0) integers, bit-identical on any engine (value units:
    micro-units of the metric).

    Scale shape: one partial-aggregable groupBy collapses both corpora to
    the merged distinct-value frame; one ordered cumulative window over
    that frame (bounded by value cardinality, never rows); one 1-row
    aggregate. No joins, no Python.

    Returns one row: (n_a, n_b, w1_micro: long).
    """
    g = (
        df.filter(F.col(group_col).isin([group_a, group_b]))
        .groupBy(F.col(value_col).cast("long").alias("x"))
        .agg(
            F.sum((F.col(group_col) == group_a).cast("long")).alias("ca"),
            F.sum((F.col(group_col) == group_b).cast("long")).alias("cb"),
        )
    )
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.orderBy("x").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    lead_x = F.lead("x").over(Window.orderBy("x"))
    c = g.select(
        "x",
        F.sum("ca").over(w).alias("cum_a"),
        F.sum("cb").over(w).alias("cum_b"),
        F.sum("ca").over(wall).alias("n_a"),
        F.sum("cb").over(wall).alias("n_b"),
        (lead_x - F.col("x")).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    dec = lambda c_: F.col(c_).cast("decimal(38,0)")
    term = (
        F.abs(dec("cum_a") * dec("n_b") - dec("cum_b") * dec("n_a")) * dec("gap")
    )
    return c.agg(
        F.max("n_a").cast("long").alias("n_a"),
        F.max("n_b").cast("long").alias("n_b"),
        F.expr(
            "cast((sum(abs(cast(cum_a as decimal(38,0)) * n_b"
            " - cast(cum_b as decimal(38,0)) * n_a) * gap) * 1000000)"
            " div (max(n_a) * max(n_b)) as bigint)"
        ).alias("w1_micro"),
    )


def conformal_calibration(
    df: DataFrame,
    score_col: str,
    alpha_num: int = 1,
    alpha_den: int = 10,
    cal_mod: int = 2,
    id_col: str = "id",
) -> DataFrame:
    """Split-conformal calibration of a nonconformity score: the
    calibration half (md5 split, deterministic) yields the conformal
    quantile q_hat = the ceil((n_cal+1)·(1−alpha))-th smallest score —
    the distribution-free threshold whose prediction sets are guaranteed
    >= 1−alpha coverage; the held-out half then reports the achieved
    empirical coverage. This is the modern ML-ops gate for "how wide
    must the interval be so 90% of eval scores fall inside".

    Exactness: the split is the repo-standard md5 bucket; the rank is
    k = ceil((n_cal+1)·(1−alpha)) computed with integer ceiling division
    (alpha passed as the rational alpha_num/alpha_den, so the ceiling is
    exact — no float rank); q_hat is a TYPE-1 order statistic
    picked by cumulative counts over the distinct-score frame (exact
    integers); coverage_ppm = (hits·1e6) div n_eval. All integer — no
    floats anywhere.

    Scale shape: one groupBy per split collapsing to distinct scores,
    one cumulative window over that bounded frame, broadcast 1-row
    q_hat, one eval aggregate.

    Returns one row: (n_cal, q_hat: long, n_eval, coverage_ppm: long).
    """
    from .corpus import md5_bucket

    marked = df.select(
        F.col(score_col).cast("long").alias("s"),
        (md5_bucket(id_col, cal_mod) == 0).cast("int").alias("is_cal"),
    )
    cal = marked.filter(F.col("is_cal") == 1)
    n_cal_row = cal.agg(F.count(F.lit(1)).cast("long").alias("n_cal"))
    g = cal.groupBy("s").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = g.select("s", F.sum("cnt").over(w).alias("cum"))
    # k = ceil((n_cal + 1) * (den - num) / den), integer ceiling division
    ranked = cum.crossJoin(F.broadcast(n_cal_row)).withColumn(
        "k",
        F.expr(
            f"((n_cal + 1) * {alpha_den - alpha_num} + {alpha_den - 1})"
            f" div {alpha_den}"
        ),
    )
    qhat = ranked.filter(F.col("cum") >= F.least(F.col("k"), F.col("n_cal"))).agg(
        F.min("s").cast("long").alias("q_hat"),
        F.max("n_cal").cast("long").alias("n_cal"),
    )
    ev = marked.filter(F.col("is_cal") == 0).crossJoin(F.broadcast(qhat))
    return ev.agg(
        F.max("n_cal").alias("n_cal"),
        F.max("q_hat").alias("q_hat"),
        F.count(F.lit(1)).cast("long").alias("n_eval"),
        F.expr(
            "cast((sum(cast(s <= q_hat as int)) * 1000000) div count(*) as bigint)"
        ).alias("coverage_ppm"),
    )


def permutation_test(
    ev: DataFrame,
    unit_col: str,
    value_col: str = "value",
    n_perms: int = 64,
) -> DataFrame:
    """Deterministic permutation test for the md5-arm mean difference —
    the assumption-free significance check behind ab_ztest (which needs
    normality) and mann_whitney (which tests stochastic dominance, not
    the mean): re-randomize units into pseudo-arms ``n_perms`` times with
    md5(uid || '#' || b) and ask how often a pseudo difference-of-sums is
    at least as extreme as the observed one.

    Everything exact: per-unit integer cents; per-replicate arm sums are
    exact int64; the statistic compares |S_a·n_b − S_b·n_a| (the
    difference of means cleared of denominators — exact decimal
    products); p_ppm = ((1 + #extreme) · 1e6) div (B + 1), the standard
    add-one permutation p-value, an exact trunc division. Fully
    engine-reproducible — the "permutations" are md5 re-hashes, so the
    oracle replays them bit-for-bit.

    Scale shape: ONE groupBy(unit) reduction, then a bounded B-way
    explode OF THE UNIT FRAME (never raw rows) into one partial-
    aggregable groupBy(b) and a 1-row aggregate. B = 64 replicates give
    p-value resolution ~ 1.5% — the screening regime; raise n_perms for
    confirmatory runs.

    Returns one row: (n_units, b, n_extreme, p_ppm).
    """
    from .corpus import md5_bucket

    cents = F.floor(F.col(value_col) * F.lit(100.0) + F.lit(0.5)).cast("long")
    pu = (
        ev.select(F.col(unit_col).alias("uid"), cents.alias("_c"))
        .groupBy("uid")
        .agg(F.sum("_c").alias("c"))
        .withColumn("arm", md5_bucket("uid", 2).cast("int"))
    )
    dec = lambda c_: F.col(c_).cast("decimal(38,0)")
    obs = pu.agg(
        F.sum(F.when(F.col("arm") == 0, F.col("c"))).alias("s_a"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, F.col("c"))).alias("s_b"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n_b"),
    ).select(
        F.abs(
            dec("s_a") * dec("n_b") - dec("s_b") * dec("n_a")
        ).alias("t_obs"),
        (F.col("n_a") + F.col("n_b")).cast("long").alias("n_units"),
    )
    reps = pu.select(
        "uid", "c",
        F.explode(F.sequence(F.lit(1), F.lit(int(n_perms)))).alias("b"),
    ).withColumn(
        "parm",
        md5_bucket(F.concat(F.col("uid").cast("string"), F.lit("#"),
                            F.col("b").cast("string")), 2).cast("int"),
    )
    per_b = reps.groupBy("b").agg(
        F.sum(F.when(F.col("parm") == 0, F.col("c"))).alias("s_a"),
        F.sum(F.when(F.col("parm") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("parm") == 1, F.col("c"))).alias("s_b"),
        F.sum(F.when(F.col("parm") == 1, 1).otherwise(0)).alias("n_b"),
    ).select(
        "b",
        F.abs(dec("s_a") * dec("n_b") - dec("s_b") * dec("n_a")).alias("t"),
    )
    joined = per_b.crossJoin(F.broadcast(obs))
    return joined.agg(
        F.max("n_units").alias("n_units"),
        F.count(F.lit(1)).cast("long").alias("b"),
        F.sum((F.col("t") >= F.col("t_obs")).cast("int")).cast("long")
        .alias("n_extreme"),
        F.expr(
            f"cast(((1 + sum(cast(t >= t_obs as int))) * 1000000)"
            f" div ({int(n_perms)} + 1) as bigint)"
        ).alias("p_ppm"),
    )


def cmh_pooled_odds(
    df: DataFrame,
    stratum_col: str,
    arm_col: str,
    outcome_col: str,
) -> DataFrame:
    """Cochran–Mantel–Haenszel pooled odds ratio across strata — the
    confounder-adjusted effect estimate that avoids Simpson's paradox:
    pooling per-stratum 2x2 tables (a,b,c,d; n = a+b+c+d) as
    OR_cmh = Σ(a_i·d_i/n_i) / Σ(b_i·c_i/n_i), each stratum weighted by
    its own size, never mixing strata marginals.

    Exactness: per-stratum terms (a·d·1e6) div n and (b·c·1e6) div n are
    exact trunc divisions of integer counts summed exactly; the release
    is ONE IEEE division of the two exact micro sums (plus both sums
    released raw). Strata where n = 0 cannot occur (they'd have no
    rows); zero-cell strata contribute their exact zero terms, the
    standard CMH behavior.

    Scale shape: ONE groupBy(stratum) building the 2x2 cells with
    conditional sums, one projection, one 1-row aggregate — fully
    map-side combinable.

    Returns one row: (n_strata, num_micro, den_micro, or_cmh_raw).
    """
    arm = F.col(arm_col).cast("int")
    y = F.col(outcome_col).cast("int")
    g = df.groupBy(stratum_col).agg(
        F.sum(((arm == 0) & (y == 1)).cast("long")).alias("a"),
        F.sum(((arm == 0) & (y == 0)).cast("long")).alias("b"),
        F.sum(((arm == 1) & (y == 1)).cast("long")).alias("c"),
        F.sum(((arm == 1) & (y == 0)).cast("long")).alias("d"),
    ).withColumn("n", F.expr("a + b + c + d"))
    terms = g.select(
        F.expr("(cast(a as decimal(38,0)) * d * 1000000) div n").alias("t_num"),
        F.expr("(cast(b as decimal(38,0)) * c * 1000000) div n").alias("t_den"),
    )
    agg = terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        F.sum("t_num").alias("num_micro"),
        F.sum("t_den").alias("den_micro"),
    )
    orr = F.when(
        F.col("den_micro") > 0,
        F.col("num_micro").cast("double") / F.col("den_micro").cast("double"),
    )
    return agg.select(
        "n_strata",
        F.col("num_micro").cast("long").alias("num_micro"),
        F.col("den_micro").cast("long").alias("den_micro"),
        orr.alias("or_cmh_raw"),
    )


def gini_best_split(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    scale: int = 1_000_000,
) -> DataFrame:
    """Exact 1-D decision stump per feature: the CART-style best split
    threshold maximizing Gini purity of a binary label — the
    feature-selection screen that complements mi_features / chi2_features
    (which rank association) with the actionable "where would a tree cut
    this feature" answer, e.g. for quality-filter threshold tuning.

    Entirely engine-exact: candidate thresholds are the distinct feature
    values; with binary classes the class-count squares collapse to
    sum_cL^2 = posL^2 + (nL-posL)^2 (and mirrored on the right), so the
    split criterion

        purity(v) = sum_cL^2/nL + sum_cR^2/nR      (maximize)
                  = n - weighted_gini_mass

    is the exact rational (sL2*nR + sR2*nL) / (nL*nR). Both the release
    purity_micro = trunc(scale * (sL2*nR + sR2*nL) / (nL*nR*n)) and the
    per-feature argmax (purity_micro DESC, v ASC) are pure integer /
    decimal(38,0) operations — bit-identical on any engine. Bound: the
    decimal product sL2*nR*scale stays inside 38 digits for n up to
    ~3e12 rows per feature at scale=1e6.

    Scale shape: ONE map-side-combinable (feature, value) cell aggregate
    over the unpivoted frame, window cumsums over the DISTINCT-VALUE
    frame only (bounded by feature cardinality, never rows), one top-1
    window per feature. No joins, no Python stages.

    Returns one row per feature: ``(feature, threshold, n_left, n_right,
    pos_left, pos_right, purity_micro)`` where the split is
    ``value <= threshold``.
    """
    longs = [F.col(c).cast("long").alias(c) for c in feature_cols]
    base = df.select(*longs, F.col(label_col).cast("long").alias("_y"))
    stack = ", ".join(f"'{c}', {c}" for c in feature_cols)
    fv = base.selectExpr(
        f"stack({len(feature_cols)}, {stack}) as (feature, v)", "_y"
    )
    cells = fv.groupBy("feature", "v").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("_y").cast("long").alias("pos"),
    )
    w = Window.partitionBy("feature").orderBy("v")
    tot = Window.partitionBy("feature")
    cum = cells.select(
        "feature",
        "v",
        F.sum("cnt").over(w).cast("long").alias("nl"),
        F.sum("pos").over(w).cast("long").alias("posl"),
        F.sum("cnt").over(tot).cast("long").alias("n"),
        F.sum("pos").over(tot).cast("long").alias("npos"),
    ).filter(F.col("nl") < F.col("n"))
    d = "cast({} as decimal(38,0))"
    sl2 = f"({d.format('posl')} * posl + {d.format('nl - posl')} * (nl - posl))"
    sr2 = (
        f"({d.format('npos - posl')} * (npos - posl)"
        f" + {d.format('(n - nl) - (npos - posl)')} * ((n - nl) - (npos - posl)))"
    )
    scored = cum.withColumn(
        "purity_micro",
        F.expr(
            f"cast((({sl2} * (n - nl) + {sr2} * nl) * {int(scale)})"
            f" div ({d.format('nl')} * (n - nl) * n) as bigint)"
        ),
    )
    top = Window.partitionBy("feature").orderBy(
        F.col("purity_micro").desc(), F.col("v").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(top))
        .filter(F.col("_rn") == 1)
        .select(
            "feature",
            F.col("v").alias("threshold"),
            F.col("nl").alias("n_left"),
            (F.col("n") - F.col("nl")).cast("long").alias("n_right"),
            F.col("posl").alias("pos_left"),
            (F.col("npos") - F.col("posl")).cast("long").alias("pos_right"),
            "purity_micro",
        )
    )


def jackknife_ratio_var(
    ev: DataFrame,
    cluster_col: str,
    value_col: str = "value",
    scale: int = 1_000_000,
) -> DataFrame:
    """Leave-one-cluster-out (delete-1 jackknife) variance of a ratio
    metric R = S/N (total value / total events) with CLUSTERED units —
    the variance that naive per-row SE understates when rows within a
    user are correlated (the ratio-metric / cluster-randomization
    standard, Deng 2017-style): pseudo-values r_g = (S - s_g)/(N - n_g),
    var_jk = (G-1)/G * sum_g (r_g - rbar)^2.

    Everything engine-exact: per-cluster value sums are integer cents
    (floor(v*100 + 0.5)); each pseudo-ratio is ONE matched trunc
    division ((S - s_g) * scale) div (N - n_g) — identical on both
    engines — and the spread uses the cleared-denominator form
    sum_g (G*r_g - Sr)^2 in decimal(38,0), released as
    var_jk = ((G-1) * T) div G^3 in (scaled ratio unit)^2. sqrt never
    crosses an engine boundary (consumers take it driver-side).

    Scale shape: ONE groupBy(cluster) reduction, a 1-row totals
    broadcast into the cluster frame (bounded BNLJ), a second 1-row
    broadcast of the pseudo-value sum, ONE final aggregate. Bounded by
    cluster count, never raw rows. No Python stages.

    Returns one row: ``(g_clusters, n_events, sum_cents,
    ratio_micro, jk_var_micro2)``.
    """
    cents = F.floor(F.col(value_col) * F.lit(100.0) + F.lit(0.5)).cast("long")
    per_g = (
        ev.select(F.col(cluster_col).alias("g"), cents.alias("_c"))
        .groupBy("g")
        .agg(F.sum("_c").cast("long").alias("s_g"),
             F.count(F.lit(1)).cast("long").alias("n_g"))
    )
    tot = per_g.agg(
        F.sum("s_g").cast("long").alias("s"),
        F.sum("n_g").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("gc"),
    )
    pseudo = per_g.crossJoin(F.broadcast(tot)).select(
        "s_g", "n_g", "s", "n", "gc",
        F.expr(
            f"cast(((cast(s as decimal(38,0)) - s_g) * {int(scale)})"
            " div (n - n_g) as decimal(38,0))"
        ).alias("r_g"),
    )
    sr = pseudo.agg(F.sum("r_g").cast("decimal(38,0)").alias("sr"))
    return (
        pseudo.crossJoin(F.broadcast(sr))
        .agg(
            F.max("gc").alias("gc"),
            F.max("n").alias("n"),
            F.max("s").alias("s"),
            F.sum(
                (F.col("gc") * F.col("r_g") - F.col("sr"))
                * (F.col("gc") * F.col("r_g") - F.col("sr"))
            ).cast("decimal(38,0)").alias("t"),
        )
        .select(
            F.col("gc").alias("g_clusters"),
            F.col("n").alias("n_events"),
            F.col("s").alias("sum_cents"),
            F.expr(f"cast((cast(s as decimal(38,0)) * {int(scale)}) div n as bigint)")
            .alias("ratio_micro"),
            F.expr(
                "cast(((gc - 1) * t) div (cast(gc as decimal(38,0)) * gc * gc)"
                " as bigint)"
            ).alias("jk_var_micro2"),
        )
    )


def bh_fdr_permutation(
    ev: DataFrame,
    group_col: str,
    unit_col: str,
    value_col: str = "value",
    n_perms: int = 64,
    q_ppm: int = 100_000,
) -> DataFrame:
    """Benjamini-Hochberg FDR control over a FAMILY of per-group exact
    permutation tests — the multiple-testing step every per-segment A/B
    readout needs (m segments screened at q=10% FDR instead of m
    uncorrected p<0.05 looks): one permutation_test per ``group_col``
    stratum, then the BH step-up rule on the exact ppm p-values.

    Everything engine-exact: per-(group, unit) integer cents; the md5
    pseudo-arms replay bit-for-bit (permutation_test's construction);
    each stratum's add-one p is an exact trunc division in ppm; and the
    BH comparison p_(k) <= k*q/m clears denominators to the pure-integer
    test p_ppm * m <= rank * q_ppm — no float ever crosses an engine.
    Ties in p_ppm are harmless: rejection uses the MAX satisfying rank
    (step-up), so all tied rows share a fate regardless of rank order
    within the tie.

    Scale shape: ONE groupBy(group, unit) reduction; the bounded B-way
    explode runs over the UNIT frame; per-(group, b) sums are
    partial-aggregable; the observed row joins back broadcast (bounded
    by group cardinality); the BH ranking windows run on the m-row
    p-value frame (single bounded task by construction). No Python.

    Returns one row per group: ``(group_col, n_units, n_extreme, p_ppm,
    bh_rank, m_tests, k_star, reject)``.
    """
    from .corpus import md5_bucket

    cents = F.floor(F.col(value_col) * F.lit(100.0) + F.lit(0.5)).cast("long")
    dec = lambda c_: F.col(c_).cast("decimal(38,0)")
    pu = (
        ev.select(
            F.col(group_col).alias("grp"),
            F.col(unit_col).alias("uid"),
            cents.alias("_c"),
        )
        .groupBy("grp", "uid")
        .agg(F.sum("_c").alias("c"))
        .withColumn("arm", md5_bucket("uid", 2).cast("int"))
    )
    def _arm_sums(frame, keys, armc):
        return frame.groupBy(*keys).agg(
            F.sum(F.when(F.col(armc) == 0, F.col("c"))).alias("s_a"),
            F.sum(F.when(F.col(armc) == 0, 1).otherwise(0)).alias("n_a"),
            F.sum(F.when(F.col(armc) == 1, F.col("c"))).alias("s_b"),
            F.sum(F.when(F.col(armc) == 1, 1).otherwise(0)).alias("n_b"),
        )
    obs = _arm_sums(pu, ["grp"], "arm").select(
        "grp",
        F.abs(dec("s_a") * dec("n_b") - dec("s_b") * dec("n_a")).alias("t_obs"),
        (F.col("n_a") + F.col("n_b")).cast("long").alias("n_units"),
    )
    reps = pu.select(
        "grp", "uid", "c",
        F.explode(F.sequence(F.lit(1), F.lit(int(n_perms)))).alias("b"),
    ).withColumn(
        "parm",
        md5_bucket(
            F.concat(F.col("uid").cast("string"), F.lit("#"),
                     F.col("b").cast("string")), 2
        ).cast("int"),
    )
    per_b = _arm_sums(reps, ["grp", "b"], "parm").select(
        "grp", "b",
        F.abs(dec("s_a") * dec("n_b") - dec("s_b") * dec("n_a")).alias("t"),
    )
    p = (
        per_b.join(F.broadcast(obs), "grp")
        .groupBy("grp")
        .agg(
            F.max("n_units").alias("n_units"),
            F.sum((F.col("t") >= F.col("t_obs")).cast("int")).cast("long")
            .alias("n_extreme"),
        )
        .withColumn(
            "p_ppm",
            F.expr(
                f"cast(((1 + n_extreme) * 1000000) div ({int(n_perms)} + 1)"
                " as bigint)"
            ),
        )
    )
    w_rank = Window.orderBy(F.col("p_ppm").asc(), F.col("grp").asc())
    w_all = Window.partitionBy(F.lit(1))
    ranked = (
        p.withColumn("bh_rank", F.row_number().over(w_rank).cast("long"))
        .withColumn("m_tests", F.count(F.lit(1)).over(w_all).cast("long"))
        .withColumn(
            "_ok",
            (F.col("p_ppm") * F.col("m_tests")
             <= F.col("bh_rank") * F.lit(int(q_ppm))).cast("int"),
        )
        .withColumn(
            "k_star",
            F.max(F.when(F.col("_ok") == 1, F.col("bh_rank")).otherwise(0))
            .over(w_all).cast("long"),
        )
    )
    return ranked.select(
        F.col("grp").alias(group_col),
        "n_units", "n_extreme", "p_ppm", "bh_rank", "m_tests", "k_star",
        (F.col("bh_rank") <= F.col("k_star")).cast("int").alias("reject"),
    )


def replay_policy_eval(
    ev: DataFrame,
    context_col: str,
    arm_col: str,
    value_col: str = "value",
    unit_col: str = "event_id",
    scale: int = 1_000_000,
) -> DataFrame:
    """Off-policy evaluation by REPLAY (Li et al. 2011): fit a greedy
    per-context policy on a deterministic md5 half of the log, then
    score it on the held-out half by keeping exactly the events whose
    LOGGED arm equals the policy's choice and averaging their rewards —
    the unbiased offline estimate of "what would this policy have
    earned" under uniform logging, and the evaluation loop behind every
    bandit / routing experiment readout.

    Engine-exact end to end: the train/eval split is md5(unit) % 2
    (hash_sample's construction — the oracle replays it bit-for-bit);
    per-(context, arm) training means are ONE trunc division in scaled
    integer cents; the policy argmax is (mean DESC, arm ASC); and the
    replay estimate is again one trunc division. No float crosses an
    engine boundary.

    Scale shape: one groupBy(context, arm) training reduction; the
    policy frame (bounded by context cardinality) broadcasts back onto
    the eval half; ONE final per-context aggregate. Never shuffles raw
    rows twice, no Python stages.

    Returns one row per context: ``(context_col, arm_star,
    train_mean_micro, n_eval, n_matched, replay_mean_micro)``
    (replay_mean_micro = 0 when the policy arm never appears in the
    eval half).
    """
    from .corpus import md5_bucket

    cents = F.floor(F.col(value_col) * F.lit(100.0) + F.lit(0.5)).cast("long")
    base = ev.select(
        F.col(context_col).alias("ctx"),
        F.col(arm_col).alias("arm"),
        cents.alias("_c"),
        md5_bucket(unit_col, 2).cast("int").alias("_split"),
    )
    est = (
        base.filter(F.col("_split") == 0)
        .groupBy("ctx", "arm")
        .agg(F.sum("_c").cast("long").alias("s"),
             F.count(F.lit(1)).cast("long").alias("n"))
        .withColumn(
            "mean_micro",
            F.expr(f"cast((cast(s as decimal(38,0)) * {int(scale)}) div n"
                   " as bigint)"),
        )
    )
    w = Window.partitionBy("ctx").orderBy(
        F.col("mean_micro").desc(), F.col("arm").asc()
    )
    pol = (
        est.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("ctx", F.col("arm").alias("arm_star"),
                F.col("mean_micro").alias("train_mean_micro"))
    )
    evh = base.filter(F.col("_split") == 1).join(F.broadcast(pol), "ctx")
    out = evh.groupBy("ctx").agg(
        F.max("arm_star").alias("arm_star"),
        F.max("train_mean_micro").alias("train_mean_micro"),
        F.count(F.lit(1)).cast("long").alias("n_eval"),
        F.sum((F.col("arm") == F.col("arm_star")).cast("int")).cast("long")
        .alias("n_matched"),
        F.sum(F.when(F.col("arm") == F.col("arm_star"), F.col("_c"))
              .otherwise(0)).cast("long").alias("_sm"),
    )
    return out.select(
        F.col("ctx").alias(context_col),
        "arm_star", "train_mean_micro", "n_eval", "n_matched",
        F.expr(
            f"cast(case when n_matched = 0 then 0 else"
            f" (cast(_sm as decimal(38,0)) * {int(scale)}) div n_matched end"
            " as bigint)"
        ).alias("replay_mean_micro"),
    )


def ljung_box(
    series: DataFrame,
    idx_col: str,
    y_col: str,
    lags: int = 7,
) -> DataFrame:
    """Ljung-Box portmanteau autocorrelation test (Ljung & Box 1978) of
    an integer-valued calendar series — the whiteness gate a forecasting
    or drift-monitoring pipeline runs BEFORE trusting iid-based CIs on
    daily metrics (the reference's regime/seasonality checks,
    `time_regime.rs`, answer "which regime"; this answers "is the
    residual series even exchangeable").

    Q = n(n+2) * sum_k r_k^2 / (n-k), r_k the lag-k autocorrelation of
    the densified series (missing calendar indices participate as
    zeros, so lags measure true elapsed time, not observation gaps —
    same contract as seasonal_decompose_int).

    Engine-exact spec: with S = sum(y) and u_t = n*y_t - S (exact
    integers; u is n times the centered value, and the n^2 factors
    cancel in r_k), C_k = sum_t u_t*u_{t+k} and C_0 = sum_t u_t^2
    accumulate in decimal(38,0)/hugeint. Each released float is ONE
    fixed-order IEEE expression on identical exact operands:
    r_k = C_k/C_0, term_k = r_k*r_k*(n*(n+2))/(n-k), then
    nano-quantized floor(term_k*1e9) so the Q sum is an order-free
    integer sum. Output: ``lags`` rows (lag, n, n_pairs, acf,
    lb_term_nano, q_nano) — the last row's q_nano/1e9 is the statistic,
    chi-square with ``lags`` df under the null.

    Scale shape: one groupBy collapses raw rows to the calendar frame
    (bounded by elapsed days/hours, NOT data volume — the
    seasonal_decompose_int / km_risk_table precedent for the
    unpartitioned window), one 1-row total broadcast, `lags` lead
    columns from one shared sort. Integer bound: |u| <= n*max(y), so
    C_k <= n^2*max(y)^2*n — at 1000 days x 1e9 events/day that is
    1e3^3 * 1e18 = 1e27 << 1e38.
    """
    if lags < 1:
        raise ValueError("lags must be >= 1")
    agg = series.groupBy(F.col(idx_col).cast("long").alias("_i")).agg(
        F.sum(F.col(y_col).cast("long")).alias("_y")
    )
    rng = agg.agg(F.min("_i").alias("_lo"), F.max("_i").alias("_hi"))
    dense = (
        rng.select(F.explode(F.sequence("_lo", "_hi")).alias("_i"))
        .join(agg, "_i", "left")
        .select("_i", F.coalesce("_y", F.lit(0)).alias("_y"))
    )
    tot = dense.agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum("_y").cast("long").alias("_s"),
    )
    w = Window.orderBy("_i")
    u = (F.col("_n") * F.col("_y") - F.col("_s")).cast("decimal(38,0)")
    cols = [u.alias("_u0")] + [
        (
            F.col("_n") * F.lead("_y", k).over(w) - F.col("_s")
        ).cast("decimal(38,0)").alias(f"_u{k}")
        for k in range(1, lags + 1)
    ]
    d = dense.crossJoin(F.broadcast(tot)).select("_n", *cols)
    aggs = [F.max("_n").alias("n"), F.sum(F.col("_u0") * F.col("_u0")).alias("_c0")] + [
        F.sum(F.col("_u0") * F.col(f"_u{k}")).alias(f"_c{k}")
        for k in range(1, lags + 1)
    ]
    g = d.agg(*aggs)
    per_lag = g.select(
        "n",
        "_c0",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("lag"), F.col(f"_c{k}").alias("_ck")
                    )
                    for k in range(1, lags + 1)
                ]
            )
        ).alias("_e"),
    ).select("n", "_c0", F.col("_e.lag").alias("lag"), F.col("_e._ck").alias("_ck"))
    rk = F.col("_ck").cast("double") / F.col("_c0").cast("double")
    term = (
        rk
        * rk
        * (F.col("n") * (F.col("n") + F.lit(2))).cast("double")
        / (F.col("n") - F.col("lag")).cast("double")
    )
    out = per_lag.select(
        F.col("lag").cast("int").alias("lag"),
        F.col("n").cast("long").alias("n"),
        (F.col("n") - F.col("lag")).cast("long").alias("n_pairs"),
        F.when(F.col("_c0") > 0, F.floor(rk * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6))
        .otherwise(F.lit(0.0))
        .alias("acf"),
        F.when(F.col("_c0") > 0, F.floor(term * F.lit(1e9)).cast("long"))
        .otherwise(F.lit(0).cast("long"))
        .alias("lb_term_nano"),
    )
    wq = Window.orderBy("lag").rowsBetween(Window.unboundedPreceding, 0)
    return out.select(
        "lag", "n", "n_pairs", "acf", "lb_term_nano",
        F.sum("lb_term_nano").over(wq).cast("long").alias("q_nano"),
    )


def kendall_tau(
    df: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Kendall tau-b rank correlation between two integer-valued series
    keyed by ``id_col`` — the tie-robust monotone-association companion
    to spearman (midrank Pearson) and cross_correlation (lagged linear):
    tau counts pair ORDER agreements, so one wild day cannot dominate
    the way it can a product-moment statistic.

    Exact pair counts over the i<j self-join: nc (concordant:
    (x_i-x_j)(y_i-y_j) > 0), nd (discordant), n_dx / n_dy (pairs whose
    x / y differ — n0-n1 and n0-n2 in Kendall's notation; both-tied
    pairs leave both denominators). tau_b = (nc-nd)/sqrt(n_dx*n_dy) is
    released as the house signed square
    tau_b2_signed = sign(nc-nd)*(nc-nd)^2 / (n_dx*n_dy) — one IEEE
    division of exact integers, sqrt never crosses engines.

    Scale shape: the input is a CALENDAR-BOUNDED aggregate (daily
    counts; the seasonal_decompose_int precedent), so the pair
    expansion is days^2 via a bounded broadcast nested-loop join —
    1000 days is 5e5 pairs in one task-set, never O(rows^2) of the raw
    corpus. (nc-nd)^2 <= (n^2/2)^2 = 2.5e11 at n=1000: exact in int64,
    widened to decimal(38,0) anyway.
    """
    rows = df.select(
        F.col(id_col).alias("_id"),
        F.col(x_col).cast("long").alias("_x"),
        F.col(y_col).cast("long").alias("_y"),
    )
    b = rows.select(
        F.col("_id").alias("_id2"), F.col("_x").alias("_x2"), F.col("_y").alias("_y2")
    )
    pairs = rows.join(F.broadcast(b), F.col("_id") < F.col("_id2"))
    dx = F.col("_x") - F.col("_x2")
    dy = F.col("_y") - F.col("_y2")
    g = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum((dx * dy > 0).cast("long")).cast("long").alias("nc"),
        F.sum((dx * dy < 0).cast("long")).cast("long").alias("nd"),
        F.sum((dx != 0).cast("long")).cast("long").alias("n_dx"),
        F.sum((dy != 0).cast("long")).cast("long").alias("n_dy"),
    )
    s = (F.col("nc") - F.col("nd")).cast("decimal(38,0)")
    tb2 = (
        F.signum(s.cast("double"))
        * (s * s).cast("double")
        / (F.col("n_dx").cast("decimal(38,0)") * F.col("n_dy")).cast("double")
    )
    return g.select(
        "n_pairs", "nc", "nd", "n_dx", "n_dy",
        F.when(
            (F.col("n_dx") > 0) & (F.col("n_dy") > 0),
            F.floor(tb2 * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6),
        )
        .otherwise(F.lit(0.0))
        .alias("tau_b2_signed"),
    )


def granger_lag1(
    series: DataFrame,
    idx_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Granger causality test at lag 1, BOTH directions — "does yesterday's
    x improve today's y forecast beyond y's own yesterday?" — the
    predictive upgrade over cross_correlation (association only):
    F = (RSS_restricted - RSS_full) / (RSS_full / (n-3)) comparing
    y_t ~ y_{t-1} against y_t ~ y_{t-1} + x_{t-1} on the DENSIFIED
    calendar series (missing days are zeros, same contract as
    ljung_box / seasonal_decompose_int).

    Engine-exact spec: with n-cleared centered moments
    C_ab = n*sum(ab) - sum(a)*sum(b) (exact decimal(38,0)/hugeint
    integers over the lag-aligned frame), partitioned regression
    collapses the RSS gap to a PERFECT SQUARE:
        RSS_r - RSS_u = (s2y*S11 - s1y*S12)^2 / (det*S11),
    det = S11*S22 - S12^2, so
        F = (n-3) * T^2 / (S11*(Syy*det - Q)),   T = s2y*S11 - s1y*S12,
        Q = s1y^2*S22 - 2*s1y*s2y*S12 + s2y^2*S11
    — every named quantity an exact integer, the release ONE fixed-order
    IEEE expression on their double casts (T^2 may exceed int range;
    it is formed in double on both engines identically).

    Integer bound: C ~ n^2*max(daily)^2 must stay < ~1e19 for T, det
    < ~1e38 — fine to ~1e6 events/day over ~1000 days; pre-scale the
    series (thousands) beyond that.

    Scale shape: one groupBy to the calendar frame, one shared sort for
    both lag columns, a 2-row direction explode, one partial-aggregable
    groupBy(direction). Returns 2 rows: (direction, n, syy, s11, s22,
    s12, s1y, s2y, f_stat).
    """
    agg = series.groupBy(F.col(idx_col).cast("long").alias("_i")).agg(
        F.sum(F.col(x_col).cast("long")).alias("_x"),
        F.sum(F.col(y_col).cast("long")).alias("_y"),
    )
    rng = agg.agg(F.min("_i").alias("_lo"), F.max("_i").alias("_hi"))
    dense = (
        rng.select(F.explode(F.sequence("_lo", "_hi")).alias("_i"))
        .join(agg, "_i", "left")
        .select(
            "_i",
            F.coalesce("_x", F.lit(0)).alias("_x"),
            F.coalesce("_y", F.lit(0)).alias("_y"),
        )
    )
    w = Window.orderBy("_i")
    lagged = dense.select(
        "_x", "_y",
        F.lag("_x", 1).over(w).alias("_xl"),
        F.lag("_y", 1).over(w).alias("_yl"),
    ).filter(F.col("_xl").isNotNull())
    both = lagged.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("x_to_y").alias("direction"),
                    F.col("_y").alias("dep"),
                    F.col("_yl").alias("own"),
                    F.col("_xl").alias("cross"),
                ),
                F.struct(
                    F.lit("y_to_x").alias("direction"),
                    F.col("_x").alias("dep"),
                    F.col("_xl").alias("own"),
                    F.col("_yl").alias("cross"),
                ),
            )
        ).alias("_e")
    ).select("_e.direction", "_e.dep", "_e.own", "_e.cross")
    d38 = "decimal(38,0)"
    g = both.groupBy("direction").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("dep").cast(d38).alias("_sy"),
        F.sum("own").cast(d38).alias("_s1"),
        F.sum("cross").cast(d38).alias("_s2"),
        F.sum(F.col("dep").cast(d38) * F.col("dep")).alias("_pyy"),
        F.sum(F.col("own").cast(d38) * F.col("own")).alias("_p11"),
        F.sum(F.col("cross").cast(d38) * F.col("cross")).alias("_p22"),
        F.sum(F.col("own").cast(d38) * F.col("cross")).alias("_p12"),
        F.sum(F.col("own").cast(d38) * F.col("dep")).alias("_p1y"),
        F.sum(F.col("cross").cast(d38) * F.col("dep")).alias("_p2y"),
    )
    c = g.select(
        "direction", "n",
        (F.col("n") * F.col("_pyy") - F.col("_sy") * F.col("_sy")).alias("_cyy"),
        (F.col("n") * F.col("_p11") - F.col("_s1") * F.col("_s1")).alias("_c11"),
        (F.col("n") * F.col("_p22") - F.col("_s2") * F.col("_s2")).alias("_c22"),
        (F.col("n") * F.col("_p12") - F.col("_s1") * F.col("_s2")).alias("_c12"),
        (F.col("n") * F.col("_p1y") - F.col("_s1") * F.col("_sy")).alias("_c1y"),
        (F.col("n") * F.col("_p2y") - F.col("_s2") * F.col("_sy")).alias("_c2y"),
    )
    f_expr = (
        "cast(n - 3 as double) * (cast(_t as double) * cast(_t as double))"
        " / (cast(_c11 as double)"
        "    * (cast(_cyy as double) * cast(_det as double)"
        "       - cast(_q as double)))"
    )
    out = c.select(
        "direction", "n",
        F.col("_cyy").cast("long").alias("syy"),
        F.col("_c11").cast("long").alias("s11"),
        F.col("_c22").cast("long").alias("s22"),
        F.col("_c12").cast("long").alias("s12"),
        F.col("_c1y").cast("long").alias("s1y"),
        F.col("_c2y").cast("long").alias("s2y"),
        (F.col("_c2y") * F.col("_c11") - F.col("_c1y") * F.col("_c12")).alias("_t"),
        (F.col("_c11") * F.col("_c22") - F.col("_c12") * F.col("_c12")).alias("_det"),
        (
            F.col("_c1y") * F.col("_c1y") * F.col("_c22")
            - F.lit(2).cast(d38) * F.col("_c1y") * F.col("_c2y") * F.col("_c12")
            + F.col("_c2y") * F.col("_c2y") * F.col("_c11")
        ).alias("_q"),
        "_cyy", "_c11",
    )
    guarded = F.when(
        (F.col("n") > 3)
        & (F.col("_det") > 0)
        & (
            F.col("_cyy").cast("double") * F.col("_det").cast("double")
            - F.col("_q").cast("double")
            > 0
        ),
        F.expr(f_expr),
    ).otherwise(F.lit(0.0))
    return out.select(
        "direction", "n", "syy", "s11", "s22", "s12", "s1y", "s2y",
        (F.floor(guarded * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias("f_stat"),
    )


def haar_energy(
    series: DataFrame,
    idx_col: str,
    y_col: str,
    levels: int = 4,
) -> DataFrame:
    """Haar multiresolution energy decomposition of an integer calendar
    series — "at which timescale does the variation live?" (day-to-day
    jitter vs weekly swings), the exact-arithmetic cousin of a
    periodogram: the unnormalized Haar detail at level L is
    d = a - b over adjacent PAIRS of the level-(L-1) smooth
    (s = a + b), so every coefficient — and therefore every energy
    sum_d d^2 — is an exact integer; no trig, no floats until the
    final share release.

    Pairing rule (identical on both engines): level L groups the
    level-(L-1) index by i div 2; a = the even-index member, b = the
    odd; an unpaired boundary element is dropped at that level
    (documented truncation, deterministic because the index is the
    ABSOLUTE calendar index, not a row number). Missing days are
    densified to zero first (ljung_box contract).

    Output: ``levels`` rows (level, n_pairs, energy,
    energy_ppm = energy*1e6 div total-detail-energy — exact trunc
    division). Integer bound: the level-L smooth sums 2^L days, so
    energy <= n * (2^L * max(daily))^2 — at 1000 days of 1e6/day and
    L=4 that is 1e3 * 2.6e14 ~ 2.6e17 < int64; widened to
    decimal(38,0) internally anyway.

    Scale shape: one groupBy to the calendar frame, then ``levels``
    halving aggregations over calendar-bounded frames; a levels-row
    union + one window for the share. Nothing touches raw-row volume.
    """
    agg = series.groupBy(F.col(idx_col).cast("long").alias("_i")).agg(
        F.sum(F.col(y_col).cast("long")).alias("_y")
    )
    rng = agg.agg(F.min("_i").alias("_lo"), F.max("_i").alias("_hi"))
    cur = (
        rng.select(F.explode(F.sequence("_lo", "_hi")).alias("_i"))
        .join(agg, "_i", "left")
        .select("_i", F.coalesce("_y", F.lit(0)).alias("_y"))
    )
    per_level = []
    for lvl in range(1, levels + 1):
        paired = cur.groupBy(F.expr("_i div 2").alias("_i2")).agg(
            F.count(F.lit(1)).alias("_cnt"),
            F.sum(F.when(F.col("_i") % 2 == 0, F.col("_y"))).alias("_a"),
            F.sum(F.when(F.col("_i") % 2 != 0, F.col("_y"))).alias("_b"),
        ).filter(F.col("_cnt") == 2)
        d = F.col("_a") - F.col("_b")
        per_level.append(
            paired.agg(
                F.count(F.lit(1)).cast("long").alias("n_pairs"),
                F.coalesce(
                    F.sum(d.cast("decimal(38,0)") * d), F.lit(0).cast("decimal(38,0)")
                ).alias("_energy"),
            ).select(F.lit(lvl).alias("level"), "n_pairs", "_energy")
        )
        cur = paired.select(
            F.col("_i2").alias("_i"), (F.col("_a") + F.col("_b")).alias("_y")
        )
    out = per_level[0]
    for nxt in per_level[1:]:
        out = out.unionByName(nxt)
    return out.select(
        F.col("level").cast("int").alias("level"),
        "n_pairs",
        F.col("_energy").cast("long").alias("energy"),
        F.expr(
            "cast(case when sum(_energy) over (rows between unbounded preceding"
            " and unbounded following) > 0 then (_energy * 1000000)"
            " div sum(_energy) over (rows between unbounded preceding and"
            " unbounded following) else 0 end as bigint)"
        ).alias("energy_ppm"),
    )


def trimmed_mean(
    df: DataFrame,
    group_col: str,
    cents_col: str,
    trim_ppm: int = 100_000,
) -> DataFrame:
    """Two-sided trimmed mean per group in EXACT integer arithmetic —
    the robust-location companion to winsorize (which clamps) and
    mad_outliers (which flags): drop the k = n*trim_ppm div 1e6 smallest
    and k largest observations, average the rest. The estimator a
    latency/spend dashboard should quote when single wild rows must not
    move the number.

    Engine-exact spec: per group, the DISTINCT-VALUE frame (value,
    count) with its cumulative offset cb carries everything; each
    distinct value contributes
        kept_v = max(0, min(cb + cnt, n - k) - max(cb, k))
    copies (pure integer clipping — no per-row rank materialized), and
    the release is one exact trunc division
    (sum kept_v * v * 1e6) div (n - 2k). Groups where the trim consumes
    everything (n <= 2k) release NULL.

    Scale shape: one groupBy collapses rows to the per-group
    distinct-value frame (bounded by value cardinality), one
    value-ordered cumulative window PARTITIONED BY GROUP, one final
    groupBy(group). No raw-row windows.
    """
    vals = df.select(
        F.col(group_col).alias("grp"), F.col(cents_col).cast("long").alias("_v")
    )
    g = vals.groupBy("grp", "_v").agg(F.count(F.lit(1)).cast("long").alias("_cnt"))
    w = Window.partitionBy("grp").orderBy("_v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cb = g.select(
        "grp", "_v", "_cnt",
        F.coalesce(F.sum("_cnt").over(w), F.lit(0)).alias("_cb"),
        F.sum("_cnt").over(
            Window.partitionBy("grp").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("_n"),
    )
    k = F.expr(f"(_n * {int(trim_ppm)}) div 1000000")
    kept = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.col("_cb") + F.col("_cnt"), F.col("_n") - k)
        - F.greatest(F.col("_cb"), k),
    )
    out = cb.select(
        "grp", "_v", "_n", k.alias("_k"), kept.alias("_kept")
    ).groupBy("grp").agg(
        F.max("_n").cast("long").alias("n"),
        F.max("_k").cast("long").alias("k_trimmed"),
        F.sum("_kept").cast("long").alias("n_kept"),
        F.sum(F.col("_kept").cast("decimal(38,0)") * F.col("_v")).alias("_s"),
    )
    return out.select(
        F.col("grp").alias(group_col), "n", "k_trimmed", "n_kept",
        F.expr(
            "cast(case when n - 2 * k_trimmed > 0 then (_s * 1000000)"
            " div (n - 2 * k_trimmed) else null end as bigint)"
        ).alias("trimmed_mean_micro"),
    )


def anderson_darling_2s(
    df: DataFrame,
    arm_col: str,
    cents_col: str,
) -> DataFrame:
    """Two-sample Anderson-Darling test (Scholz & Stephens 1987,
    tie-adjusted midrank version A2_akN, k=2) — the drift detector that
    WEIGHTS THE TAILS, completing the two-sample family (ks_test: max
    ECDF gap, anywhere; psi_drift/wasserstein: binned / value-weighted;
    this: tail-sensitive, the one that fires when only the extremes
    moved). Under H0 E[A2] = 1; A2 >> 1 rejects.

    Engine-exact spec over the pooled DISTINCT-VALUE frame: with
    doubled midrank cumulatives MM_aj = 2*m_{a,j-1} + f_aj and
    BB_j = 2*b_{j-1} + l_j (exact integers; the 1/2s clear), the
    Scholz-Stephens term becomes
        l_j * (N*MM_aj - n_a*BB_j)^2
          / (n_a * N * (BB_j*(2N - BB_j) - N*l_j))
    — each term ONE fixed-order IEEE expression on exact integer
    operands, nano-quantized so the (arm, value) reduction is an
    order-free integer sum; the (N-1)/N factor applies as an exact
    integer trunc division at release. Output one row:
    (n_a, n_b, n_distinct, a2_nano); a2 = a2_nano/1e9.

    Scale shape: one groupBy collapses the corpus to the distinct-value
    frame; one value-ordered cumulative window over it (bounded by
    value cardinality — the roc_curve/wilcoxon precedent); 1-row totals
    broadcast; one final aggregate.
    """
    vals = df.select(
        (F.col(arm_col).cast("int") == 0).cast("long").alias("_isa"),
        F.col(cents_col).cast("long").alias("_v"),
    )
    g = vals.groupBy("_v").agg(
        F.count(F.lit(1)).cast("long").alias("_l"),
        F.sum("_isa").cast("long").alias("_fa"),
    )
    wprev = Window.orderBy("_v").rowsBetween(Window.unboundedPreceding, -1)
    cum = g.select(
        "_v", "_l", "_fa",
        F.coalesce(F.sum("_l").over(wprev), F.lit(0)).alias("_bprev"),
        F.coalesce(F.sum("_fa").over(wprev), F.lit(0)).alias("_maprev"),
    )
    tot = vals.agg(
        F.count(F.lit(1)).cast("long").alias("_nn"),
        F.sum("_isa").cast("long").alias("_na"),
    )
    j = cum.crossJoin(F.broadcast(tot)).select(
        "_l", "_nn", "_na",
        (F.lit(2) * F.col("_bprev") + F.col("_l")).alias("_bb"),
        (F.lit(2) * F.col("_maprev") + F.col("_fa")).alias("_mma"),
        (
            F.lit(2) * (F.col("_bprev") - F.col("_maprev"))
            + (F.col("_l") - F.col("_fa"))
        ).alias("_mmb"),
        (F.col("_nn") - F.col("_na")).alias("_nb"),
    )
    denom_core = (
        F.col("_bb").cast("decimal(38,0)")
        * (F.lit(2) * F.col("_nn") - F.col("_bb"))
        - F.col("_nn").cast("decimal(38,0)") * F.col("_l")
    )

    def term(mm, na):
        x = (
            F.col("_nn").cast("decimal(38,0)") * F.col(mm)
            - F.col(na).cast("decimal(38,0)") * F.col("_bb")
        )
        t = (
            F.col("_l").cast("double")
            * (x.cast("double") * x.cast("double"))
            / (
                F.col(na).cast("double")
                * F.col("_nn").cast("double")
                * denom_core.cast("double")
            )
        )
        return F.when(
            (denom_core > 0) & (F.col(na) > 0), F.floor(t * F.lit(1e9))
        ).otherwise(F.lit(0)).cast("long")

    s = j.select(
        "_nn", "_na", "_nb",
        (term("_mma", "_na") + term("_mmb", "_nb")).alias("_t"),
    ).groupBy().agg(
        F.max("_nn").alias("_nn"),
        F.max("_na").cast("long").alias("n_a"),
        F.max("_nb").cast("long").alias("n_b"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum("_t").cast("decimal(38,0)").alias("_sum_nano"),
    )
    return s.select(
        "n_a", "n_b", "n_distinct",
        F.expr(
            "cast(((_nn - 1) * _sum_nano) div _nn as bigint)"
        ).alias("a2_nano"),
    )


def theil_index(
    df: DataFrame,
    group_col: str,
    size_col: str,
) -> DataFrame:
    """Theil T inequality index per group — the decomposable,
    scale-invariant concentration measure beside gini_lengths (rank
    geometry) and tool_usage_hhi (sum of squared shares):
    T = (1/n) sum (x/mu) ln(x/mu), 0 = perfect equality,
    ln(n) = one unit owns everything.

    Engine-exact spec via T = (sum x*ln x)/S - ln(S/n), S = sum x:
    ln is taken per DISTINCT value and quantized to integer nanos
    BEFORE the weighted sum (the entropy_by_group trick — the reduction
    is an exact integer in any order); the closing expression is one
    fixed operand sequence (wl/S/1e9 minus the nano-quantized
    ln(S/n)). Zero-size rows are excluded (x ln x -> 0; they carry no
    mass). Integer bound: wl <= n * max(x) * ln(max(x)) * 1e9 — at
    1e9 docs of 1e6 chars that is ~1.4e25, kept in decimal(38,0).

    Scale shape: one (group, value) groupBy bounded by value
    cardinality, one map-side-combinable groupBy(group). No windows.
    """
    vals = df.select(
        F.col(group_col).alias("grp"), F.col(size_col).cast("long").alias("_x")
    ).filter(F.col("_x") > 0)
    g = vals.groupBy("grp", "_x").agg(F.count(F.lit(1)).cast("long").alias("_c"))
    xlog = F.floor(
        F.log(F.col("_x").cast("double")) * F.lit(1e9) + F.lit(0.5)
    ).cast("decimal(38,0)")
    a = g.groupBy("grp").agg(
        F.sum(F.col("_c").cast("decimal(38,0)") * F.col("_x")).alias("_s"),
        F.sum(F.col("_c").cast("long")).cast("long").alias("n"),
        F.sum(F.col("_c").cast("decimal(38,0)") * F.col("_x") * xlog).alias("_wl"),
    )
    t = (
        F.col("_wl").cast("double") / F.col("_s").cast("double") / F.lit(1e9)
        - F.floor(
            F.log(F.col("_s").cast("double") / F.col("n").cast("double"))
            * F.lit(1e9)
            + F.lit(0.5)
        )
        / F.lit(1e9)
    )
    return a.select(
        F.col("grp").alias(group_col),
        "n",
        F.col("_s").cast("long").alias("total"),
        (F.floor(t * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias("theil_t"),
    )


def mase_seasonal(
    series: DataFrame,
    idx_col: str,
    y_col: str,
    period: int = 7,
) -> DataFrame:
    """MASE (Hyndman & Koehler 2006) of the seasonal-naive forecast on
    the densified calendar series — the scale-free forecast-quality
    gate: does "same as last week" beat "same as yesterday"? MASE < 1e6
    ppm means the weekly pattern is real and a seasonal model is worth
    deploying; > 1e6 means the series is dominated by short-term noise.

    Engine-exact: both error sums are pure integers over the SHARED
    support t >= period (documented deviation from the in-sample/
    out-sample convention — a single scan needs one support),
    mase_ppm = (sum|y_t - y_{t-period}| * 1e6) div sum|y_t - y_{t-1}|.

    Scale shape: one groupBy to the calendar frame, one shared sort for
    both lag columns, one global aggregate. Returns 1 row
    (n_scored, sum_abs_naive1, sum_abs_seasonal, mase_ppm — NULL when
    the naive-1 error is zero, i.e. a constant series).
    """
    agg = series.groupBy(F.col(idx_col).cast("long").alias("_i")).agg(
        F.sum(F.col(y_col).cast("long")).alias("_y")
    )
    rng = agg.agg(F.min("_i").alias("_lo"), F.max("_i").alias("_hi"))
    dense = (
        rng.select(F.explode(F.sequence("_lo", "_hi")).alias("_i"))
        .join(agg, "_i", "left")
        .select("_i", F.coalesce("_y", F.lit(0)).alias("_y"))
    )
    w = Window.orderBy("_i")
    lagged = dense.select(
        "_y",
        F.lag("_y", 1).over(w).alias("_l1"),
        F.lag("_y", int(period)).over(w).alias("_lp"),
    ).filter(F.col("_lp").isNotNull())
    g = lagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_scored"),
        F.sum(F.abs(F.col("_y") - F.col("_l1"))).cast("long")
        .alias("sum_abs_naive1"),
        F.sum(F.abs(F.col("_y") - F.col("_lp"))).cast("long")
        .alias("sum_abs_seasonal"),
    )
    return g.select(
        "n_scored", "sum_abs_naive1", "sum_abs_seasonal",
        F.expr(
            "cast(case when sum_abs_naive1 > 0 then"
            " (cast(sum_abs_seasonal as decimal(38,0)) * 1000000)"
            " div sum_abs_naive1 else null end as bigint)"
        ).alias("mase_ppm"),
    )


def ltv_curve(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    monetary_event: str = "purchase",
    event_col: str = "event_type",
) -> DataFrame:
    """Cohort LTV curve — cumulative spend per user by cohort age, the
    revenue companion to cohort_retention (which counts actives): users
    are cohorted by their FIRST event's epoch week, every purchase lands
    in age = event week - cohort week, and each (cohort, age) row
    reports the cohort's cumulative cents and the exact per-user LTV
    (trunc division to micro units).

    Engine-exact: weeks are epoch-day div 7 (no calendar locale), all
    cents exact integers. Scale shape: one groupBy(user) for cohorts,
    one AQE-broadcastable join back, one groupBy(cohort, age), one
    cumulative window per cohort over the AGE-BOUNDED frame, a cohort-
    size join. No raw-row windows.
    """
    wk = F.expr(
        f"unix_micros(cast({ts_col} as timestamp)) div 604800000000"
    )
    ev = events.select(
        F.col(user_col).alias("_uid"),
        wk.alias("_wk"),
        F.when(
            F.col(event_col) == monetary_event,
            F.floor(F.col(value_col) * F.lit(100.0) + F.lit(0.5)).cast("long"),
        ).otherwise(F.lit(0)).alias("_cents"),
    )
    cohorts = ev.groupBy("_uid").agg(F.min("_wk").alias("_cwk"))
    sizes = cohorts.groupBy("_cwk").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_users")
    )
    per_age = (
        ev.join(cohorts, "_uid")
        .groupBy("_cwk", (F.col("_wk") - F.col("_cwk")).alias("age_weeks"))
        .agg(F.sum("_cents").cast("long").alias("_spend"))
    )
    wcum = Window.partitionBy("_cwk").orderBy("age_weeks").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = per_age.select(
        "_cwk", "age_weeks", "_spend",
        F.sum("_spend").over(wcum).cast("long").alias("cum_spend_cents"),
    ).join(sizes, "_cwk")
    return cum.select(
        F.col("_cwk").cast("long").alias("cohort_week"),
        F.col("age_weeks").cast("long").alias("age_weeks"),
        "cohort_users",
        F.col("_spend").alias("spend_cents"),
        "cum_spend_cents",
        F.expr(
            "cast((cast(cum_spend_cents as decimal(38,0)) * 1000000)"
            " div cohort_users as bigint)"
        ).alias("ltv_micro"),
    )


def jarque_bera(
    df: DataFrame,
    group_col: str,
    value_col: str,
    min_n: int = 8,
) -> DataFrame:
    """Jarque-Bera normality test per group (Jarque & Bera 1980) — the
    distribution-shape gate a feature pipeline runs before trusting
    z-scores / Gaussian CIs on a metric: JB = n·(b1/6 + (b2−3)²/24),
    b1 = m3²/m2³ (squared skewness), b2 = m4/m2² (kurtosis), ~χ²(2)
    under normality.

    Engine-exact spec: a first aggregate takes each group's truncated
    mean c = S1 div n (both engines truncate toward zero); residuals
    d = y − c are exact integers whose power sums D1..D4 accumulate in
    decimal(38,0)/hugeint (D1 = S1 − n·c ∈ [0, n) for nonneg sums, so
    the origin shift kills the raw-magnitude blowup — only the SPREAD
    enters the higher powers). The origin-invariant cleared central
    moments
        A2 = n·D2 − D1²           (= n²·m2)
        A3 = n²·D3 − 3n·D1·D2 + 2·D1³        (= n³·m3)
        A4 = n³·D4 − 4n²·D1·D3 + 6n·D1²·D2 − 3·D1⁴   (= n⁴·m4)
    are exact integers identical on both engines; b1 = A3²/A2³ and
    b2 = A4/A2² (the n-powers cancel) and JB are each ONE fixed-order
    IEEE expression on those operands — bit-identical by construction.
    Integer bound: A4 ≲ (n·spread)⁴ < 1e38 ⇒ n·spread(y) ≲ 5.6e9 per
    group (1e6 rows at spread 2000); beyond that, pre-bucket values.

    Groups with A2 = 0 (constant series) or n < min_n release NULL
    stats but keep their n row — the audit shape (a silent drop would
    read as "tested and normal").

    Scale: two map-side-combinable aggregates on the SAME group key
    (the mean join back is AQE-broadcastable — the per-group frame is
    groups-sized); no window, no explode. Reference analog: the
    validation gates of `src/validation.rs` extended with a
    distributional test.
    """
    g = F.col(group_col).alias("_g")
    val = F.col(value_col).cast("long")
    means = (
        df.select(g, val.alias("_y"))
        .groupBy("_g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("_n"),
            F.sum("_y").cast("long").alias("_s1"),
        )
        .select("_g", "_n", F.expr("_s1 div _n").cast("long").alias("_c"))
    )
    d = (
        df.select(g, val.alias("_y"))
        .join(means, "_g")
        .select(
            "_g", "_n",
            (F.col("_y") - F.col("_c")).cast("decimal(38,0)").alias("_d"),
        )
    )
    s = d.groupBy("_g", "_n").agg(
        F.sum("_d").alias("d1"),
        F.sum(F.col("_d") * F.col("_d")).alias("d2"),
        F.sum(F.col("_d") * F.col("_d") * F.col("_d")).alias("d3"),
        F.sum(F.col("_d") * F.col("_d") * F.col("_d") * F.col("_d")).alias("d4"),
    )
    n = F.col("_n").cast("decimal(38,0)")
    a2 = (n * F.col("d2") - F.col("d1") * F.col("d1")).alias("a2")
    a3 = (
        n * n * F.col("d3")
        - F.lit(3) * n * F.col("d1") * F.col("d2")
        + F.lit(2) * F.col("d1") * F.col("d1") * F.col("d1")
    ).alias("a3")
    a4 = (
        n * n * n * F.col("d4")
        - F.lit(4) * n * n * F.col("d1") * F.col("d3")
        + F.lit(6) * n * F.col("d1") * F.col("d1") * F.col("d2")
        - F.lit(3) * F.col("d1") * F.col("d1") * F.col("d1") * F.col("d1")
    ).alias("a4")
    m = s.select("_g", "_n", a2, a3, a4)
    a2d = F.col("a2").cast("double")
    a3d = F.col("a3").cast("double")
    a4d = F.col("a4").cast("double")
    ok = (F.col("a2") > 0) & (F.col("_n") >= F.lit(min_n))
    b1 = (a3d * a3d) / (a2d * a2d * a2d)
    b2 = a4d / (a2d * a2d)
    nd = F.col("_n").cast("double")
    jb = nd * (b1 / F.lit(6.0)
               + (b2 - F.lit(3.0)) * (b2 - F.lit(3.0)) / F.lit(24.0))
    def r6(c):
        return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    return m.select(
        F.col("_g").alias(group_col),
        F.col("_n").alias("n"),
        F.when(ok, r6(b1)).alias("skew2"),
        F.when(ok, r6(b2)).alias("kurtosis"),
        F.when(ok, r6(jb)).alias("jb_stat"),
    )


def cramer_von_mises_2s(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Exact two-sample Cramér–von Mises statistic between two groups'
    value distributions — the INTEGRATED-squared-gap companion to
    ks_test (max gap) and wasserstein (value-weighted L1): T =
    (n·m/N²)·Σ_{all N observations} (F_n(z) − G_m(z))², sensitive to
    distribution-wide shape differences a single extreme gap misses.

    ENTIRELY exact integer arithmetic: on the merged distinct-value
    grid, with cumA/cumB the inclusive cumulative counts at z and
    cnt_z = ca + cb the observation multiplicity, T = S/(n·m·N²) where
    S = Σ cnt_z·(cumA·m − cumB·n)² — released as one trunc division
    t_micro = (S·1e6) div (n·m·N²) of decimal(38,0)/hugeint integers,
    bit-identical on any engine. This observation-sum definition handles
    ties natively (no midrank machinery needed). Capacity: S ≤ N·(nm)²,
    inside decimal(38,0) up to n,m ≈ 3e6 distinct-grid mass per group
    pair — per-pair inputs are pre-aggregated distributions, never raw
    corpus rows.

    Scale shape (same as wasserstein_1d): one partial-aggregable groupBy
    collapses both corpora to the merged distinct-value frame; one
    ordered cumulative window bounded by value cardinality; one 1-row
    aggregate. No joins, no Python.

    Returns one row: (n_a, n_b, t_micro: long).
    """
    g = (
        df.filter(F.col(group_col).isin([group_a, group_b]))
        .groupBy(F.col(value_col).cast("long").alias("x"))
        .agg(
            F.sum((F.col(group_col) == group_a).cast("long")).alias("ca"),
            F.sum((F.col(group_col) == group_b).cast("long")).alias("cb"),
        )
    )
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.orderBy("x").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = g.select(
        (F.col("ca") + F.col("cb")).alias("cnt"),
        F.sum("ca").over(w).alias("cum_a"),
        F.sum("cb").over(w).alias("cum_b"),
        F.sum("ca").over(wall).alias("n_a"),
        F.sum("cb").over(wall).alias("n_b"),
    )
    return c.agg(
        F.max("n_a").cast("long").alias("n_a"),
        F.max("n_b").cast("long").alias("n_b"),
        F.expr(
            "cast((sum(cast(cnt as decimal(38,0))"
            " * (cast(cum_a as decimal(38,0)) * n_b"
            "    - cast(cum_b as decimal(38,0)) * n_a)"
            " * (cast(cum_a as decimal(38,0)) * n_b"
            "    - cast(cum_b as decimal(38,0)) * n_a)) * 1000000)"
            " div (max(n_a) * max(n_b)"
            "      * (max(n_a) + max(n_b)) * (max(n_a) + max(n_b)))"
            " as bigint)"
        ).alias("t_micro"),
    )


def cochran_q(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    treatments: list,
) -> DataFrame:
    """Cochran's Q test for k matched binary treatments over blocks —
    the k-treatment generalization of mcnemar_paired: did the
    per-treatment success columns T_j come from the same marginal, given
    each block (user) is its own control? x_{ij} = 1 iff block i
    exhibited treatment j at least once.

    PURE integer statistic: with column totals T_j, S = ΣT_j, row totals
    R_i, Q = (k−1)·(k·ΣT_j² − S²) / (k·S − ΣR_i²) — every term an exact
    int64/decimal(38,0) integer, released as one trunc division
    q_micro = (num·1e6) div den, NULL when the denominator is 0 (every
    block all-0 or all-k: no within-block variation, Q undefined).

    Scale shape: one distinct() collapse to (block, treatment) existence
    pairs (bounded by blocks × k, never event rows), one k-row column
    aggregate, one per-block aggregate whose 1-row summary joins the
    other by a constant key (broadcast). Q is chi-square(k−1) under H0.

    Returns one row: (k, n_blocks, s_total, q_micro).
    """
    k = len(treatments)
    pairs = (
        df.filter(F.col(treatment_col).isin(treatments))
        .select(
            F.col(block_col).alias("b"),
            F.col(treatment_col).alias("t"),
        )
        .distinct()
    )
    col_tot = (
        pairs.groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("tj"))
        .agg(
            F.sum("tj").cast("long").alias("s_total"),
            F.sum(F.col("tj") * F.col("tj")).cast("decimal(38,0)").alias("sum_t2"),
        )
        .withColumn("_k", F.lit(1))
    )
    row_tot = (
        pairs.groupBy("b")
        .agg(F.count(F.lit(1)).cast("long").alias("ri"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_blocks"),
            F.sum(F.col("ri") * F.col("ri")).cast("decimal(38,0)").alias("sum_r2"),
        )
        .withColumn("_k", F.lit(1))
    )
    j = col_tot.join(F.broadcast(row_tot), "_k")
    kk = F.lit(k).cast("decimal(38,0)")
    num = (
        F.lit(k - 1).cast("decimal(38,0)")
        * (kk * F.col("sum_t2")
           - F.col("s_total").cast("decimal(38,0)")
           * F.col("s_total").cast("decimal(38,0)"))
    )
    den = kk * F.col("s_total").cast("decimal(38,0)") - F.col("sum_r2")
    return j.select(
        F.lit(k).cast("long").alias("k"),
        "n_blocks",
        "s_total",
        (num * F.lit(1000000)).cast("decimal(38,0)").alias("_numx"),
        den.cast("decimal(38,0)").alias("_den"),
    ).select(
        "k",
        "n_blocks",
        "s_total",
        F.when(
            F.col("_den") > 0,
            F.expr("cast((_numx div _den) as bigint)"),
        ).alias("q_micro"),
    )


def durbin_watson_trend(
    daily: DataFrame,
    d_col: str = "d",
    y_col: str = "y",
) -> DataFrame:
    """Durbin–Watson statistic of the residuals from the least-squares
    LINEAR TREND of a daily series — the classic lag-1 autocorrelation
    gate on regression residuals (DW ≈ 2 ⇒ white, → 0 positive, → 4
    negative serial correlation), complementing ljung_box (raw-series
    portmanteau) with the detrended form practitioners actually check
    after fitting a trend.

    EXACT integer residuals by denominator clearing: with t = 0..n−1
    the day rank and Dx = n·Σt² − (Σt)², the scaled residual
    E_t = Dx·y_t − (Σy·Σt² − Σt·Σty) − (n·Σty − Σt·Σy)·t is a pure
    integer (Dx times the IEEE residual), and DW's ratio is
    Dx²-invariant: dw_micro = (Σ(E_t − E_{t−1})²·1e6) div (ΣE_t²) —
    decimal(38,0)/hugeint all the way, one trunc division, NULL when
    the trend fits perfectly (ΣE² = 0). Capacity: |E_t| ≤ Dx·max|y|
    ≈ n⁴·max|y|/12 — int64-safe to n ≈ 10⁴ days with 1e6-scale daily
    values, decimal(38,0) sums far beyond.

    Scale shape: the series frame is bounded by DAYS, never event rows
    (the caller pre-aggregates); one rank window + one 1-row moments
    aggregate broadcast back; one lag window; one final 1-row aggregate.

    Returns one row: (n, dw_micro: long).
    """
    t = F.row_number().over(Window.orderBy(d_col)) - 1
    base = daily.select(
        t.cast("long").alias("t"), F.col(y_col).cast("long").alias("y")
    )
    m = base.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("t").cast("decimal(38,0)").alias("st"),
        F.sum(F.col("t") * F.col("t")).cast("decimal(38,0)").alias("stt"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("t") * F.col("y")).cast("decimal(38,0)").alias("sty"),
    ).withColumn("_k", F.lit(1))
    b = base.withColumn("_k", F.lit(1)).join(F.broadcast(m), "_k")
    dx = F.col("n") * F.col("stt") - F.col("st") * F.col("st")
    e = (
        dx * F.col("y").cast("decimal(38,0)")
        - (F.col("sy") * F.col("stt") - F.col("st") * F.col("sty"))
        - (F.col("n") * F.col("sty") - F.col("st") * F.col("sy"))
        * F.col("t").cast("decimal(38,0)")
    )
    r = b.select(F.col("t"), e.cast("decimal(38,0)").alias("e"))
    lagw = Window.orderBy("t")
    r = r.select(
        "e", (F.col("e") - F.lag("e").over(lagw)).alias("de")
    )
    return r.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.when(
            F.sum(F.col("e") * F.col("e")) > 0,
            F.expr(
                "cast((sum(de * de) * 1000000) div (sum(e * e)) as bigint)"
            ),
        ).alias("dw_micro"),
    )


def yule_k(docs: DataFrame, source_col: str = "source", text_col: str = "text") -> DataFrame:
    """Yule's characteristic K per source — the classic repeat-rate
    measure of lexical concentration (Yule 1944): K = 10⁴·(Σ_w c_w² −
    N)/N², LARGE when a few words dominate, near-0 for maximally even
    vocabulary. The repeat-rate companion to the richness estimators in
    vocab_richness (Chao1 counts unseen mass, Simpson is the
    probability form; K is the size-normalized classic that is — unlike
    TTR — approximately text-length invariant, which is why corpus
    QA uses it to compare sources of different sizes).

    PURE integer: word counts c_w from the shared normalized_words
    tokenization, N = Σc_w and S2 = Σc_w² exact decimal(38,0)/hugeint,
    released as ONE trunc division k_milli = (10⁷·(S2 − N)) div N²
    (K in milli-units). Capacity: S2 ≤ N², so 10⁷·S2 stays inside
    decimal(38,0) to N ≈ 3e15 tokens per source.

    Scale shape: one explode → one (source, word) groupBy (map-side
    combinable, bounded by vocabulary per source) → one per-source
    aggregate. No joins, no Python.

    Returns per source: (source, n_tokens, n_types, k_milli: long).
    """
    from .repetition import normalized_words

    words = docs.select(
        F.col(source_col).alias("source"),
        F.explode(normalized_words(text_col)).alias("word"),
    )
    counts = words.groupBy("source", "word").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    return (
        counts.groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.sum(F.col("c").cast("decimal(38,0)") * F.col("c"))
            .cast("decimal(38,0)")
            .alias("s2"),
        )
        .select(
            "source",
            "n_tokens",
            "n_types",
            F.expr(
                "cast(((s2 - n_tokens) * 10000000)"
                " div (cast(n_tokens as decimal(38,0)) * n_tokens) as bigint)"
            ).alias("k_milli"),
        )
    )


def gk_gamma(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Goodman–Kruskal gamma AND Somers' D_yx between two ORDINAL
    integer columns — the ordinal-association pair the continuous-rank
    family (spearman, kendall_tau over series) doesn't cover: gamma =
    (C−D)/(C+D) ignores all ties (association among untied pairs);
    Somers' D_yx = (C−D)/(C+D+T_y) additionally charges pairs tied on
    the dependent Y — the asymmetric "does X predict Y" form used for
    rating-scale / bucket features.

    PURE integer pair counting on the k×k contingency table: C =
    Σ_{x1<x2, y1<y2} n₁n₂, D = Σ_{x1<x2, y1>y2} n₁n₂, T_y =
    Σ_{x1<x2, y1=y2} n₁n₂ — each unordered pair counted once, every
    term decimal(38,0)/hugeint, releases as signed trunc divisions
    gamma_micro and somers_micro (both engines truncate toward zero);
    NULL when the respective denominator is 0 (a constant column).

    Scale shape: the raw frame collapses to the k×k cell table in ONE
    map-side-combinable groupBy; the pair enumeration is a self-join of
    that tiny broadcast table on a constant key (k² × k² cells, never
    rows²); one 1-row aggregate. No window, no Python.

    Returns one row: (n_pairs_c, n_pairs_d, ties_y, gamma_micro,
    somers_micro).
    """
    cells = (
        df.groupBy(
            F.col(x_col).cast("long").alias("x"),
            F.col(y_col).cast("long").alias("y"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .withColumn("_k", F.lit(1))
    )
    a = cells.select(
        F.col("_k"), F.col("x").alias("x1"), F.col("y").alias("y1"),
        F.col("n").alias("n1"),
    )
    b = cells.select(
        F.col("_k"), F.col("x").alias("x2"), F.col("y").alias("y2"),
        F.col("n").alias("n2"),
    )
    pairs = a.join(F.broadcast(b), "_k").filter(F.col("x1") < F.col("x2"))
    prod = F.col("n1").cast("decimal(38,0)") * F.col("n2")
    agg = pairs.agg(
        F.sum(F.when(F.col("y1") < F.col("y2"), prod).otherwise(F.lit(0)))
        .cast("decimal(38,0)")
        .alias("c"),
        F.sum(F.when(F.col("y1") > F.col("y2"), prod).otherwise(F.lit(0)))
        .cast("decimal(38,0)")
        .alias("d"),
        F.sum(F.when(F.col("y1") == F.col("y2"), prod).otherwise(F.lit(0)))
        .cast("decimal(38,0)")
        .alias("ty"),
    )
    return agg.select(
        F.col("c").cast("long").alias("n_pairs_c"),
        F.col("d").cast("long").alias("n_pairs_d"),
        F.col("ty").cast("long").alias("ties_y"),
        F.when(
            (F.col("c") + F.col("d")) > 0,
            F.expr("cast(((c - d) * 1000000) div (c + d) as bigint)"),
        ).alias("gamma_micro"),
        F.when(
            (F.col("c") + F.col("d") + F.col("ty")) > 0,
            F.expr("cast(((c - d) * 1000000) div (c + d + ty) as bigint)"),
        ).alias("somers_micro"),
    )


def variance_ratio(
    daily: DataFrame,
    d_col: str = "d",
    y_col: str = "y",
    q: int = 2,
) -> DataFrame:
    """Lo–MacKinlay variance-ratio statistic VR(q) of a series — the
    random-walk diagnostic: if increments are uncorrelated, the variance
    of q-period differences is q times the 1-period variance and VR ≈ 1;
    VR > 1 flags momentum (positive serial correlation), VR < 1 mean
    reversion. The econometric companion to durbin_watson (residual
    lag-1) and ljung_box (portmanteau) that speaks in VARIANCE units.

    PURE integer until one release: with d1 the n−1 one-period and dq
    the n−q q-period differences, population variances clear to
    A = m1·Σd1² − (Σd1)² and B = mq·Σdq² − (Σdq)²; VR = (B·m1²)/(q·A·mq²)
    released as vr_micro = (B·m1²·1e6) div (q·A·mq²), decimal(38,0)/
    hugeint, NULL when A = 0 (constant series).

    Scale shape: the series frame is bounded by DAYS (caller
    pre-aggregates); two lag windows over that tiny frame, one 1-row
    aggregate. Returns one row: (n, vr_micro: long).
    """
    w = Window.orderBy(d_col)
    base = daily.select(
        F.col(d_col).alias("d"), F.col(y_col).cast("long").alias("y")
    ).select(
        "y",
        (F.col("y") - F.lag("y", 1).over(w)).alias("d1"),
        (F.col("y") - F.lag("y", q).over(w)).alias("dq"),
    )
    agg = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count("d1").cast("decimal(38,0)").alias("m1"),
        F.sum(F.col("d1").cast("decimal(38,0)") * F.col("d1"))
        .cast("decimal(38,0)").alias("sd1sq"),
        F.sum("d1").cast("decimal(38,0)").alias("sd1"),
        F.count("dq").cast("decimal(38,0)").alias("mq"),
        F.sum(F.col("dq").cast("decimal(38,0)") * F.col("dq"))
        .cast("decimal(38,0)").alias("sdqsq"),
        F.sum("dq").cast("decimal(38,0)").alias("sdq"),
    )
    a = F.col("m1") * F.col("sd1sq") - F.col("sd1") * F.col("sd1")
    b = F.col("mq") * F.col("sdqsq") - F.col("sdq") * F.col("sdq")
    return agg.select(
        "n",
        F.when(
            a > 0,
            ((b * F.col("m1") * F.col("m1") * F.lit(1000000))
             .cast("decimal(38,0)")),
        ).alias("_num"),
        F.when(
            a > 0,
            (F.lit(q).cast("decimal(38,0)") * a * F.col("mq") * F.col("mq"))
            .cast("decimal(38,0)"),
        ).alias("_den"),
    ).select(
        "n",
        F.expr("cast((_num div _den) as bigint)").alias("vr_micro"),
    )


def turning_points(
    daily: DataFrame,
    d_col: str = "d",
    y_col: str = "y",
) -> DataFrame:
    """Turning-points test of series randomness: count T of interior
    points that are STRICT local maxima or minima; under iid the
    expectation is 2(n−2)/3 with variance (16n−29)/90, and
    z = (T − 2(n−2)/3)/√((16n−29)/90) is asymptotically standard
    normal — the nonparametric "is this series just noise" gate that
    needs no distributional assumptions at all (complements the
    rank-based mann_kendall monotone-trend test: a trend SUPPRESSES
    turning points).

    T and n are pure integers; z is ONE fixed-order IEEE expression of
    those integers (identical operand order on any engine), released
    through the shared boundary-exact 6-decimal canonicalization.

    Scale shape: the series frame is bounded by DAYS; one lag/lead
    window, one 1-row aggregate. Returns one row: (n, t_count, z).
    """
    w = Window.orderBy(d_col)
    base = daily.select(
        F.col(y_col).cast("long").alias("y"),
        F.lag(F.col(y_col).cast("long")).over(w).alias("yp"),
        F.lead(F.col(y_col).cast("long")).over(w).alias("yn"),
    )
    is_tp = (
        F.col("yp").isNotNull()
        & F.col("yn").isNotNull()
        & (
            ((F.col("yp") < F.col("y")) & (F.col("y") > F.col("yn")))
            | ((F.col("yp") > F.col("y")) & (F.col("y") < F.col("yn")))
        )
    ).cast("long")
    agg = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(is_tp).cast("long").alias("t_count"),
    )
    nd = F.col("n").cast("double")
    z = (
        (F.col("t_count").cast("double")
         - F.lit(2.0) * (nd - F.lit(2.0)) / F.lit(3.0))
        / F.sqrt((F.lit(16.0) * nd - F.lit(29.0)) / F.lit(90.0))
    )
    return agg.select(
        "n",
        "t_count",
        (F.floor(z * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias("z"),
    )


def runs_test_median(
    daily: DataFrame,
    d_col: str = "d",
    y_col: str = "y",
) -> DataFrame:
    """Wald–Wolfowitz runs test of a series against its own median —
    the third member of the assumption-free randomness panel
    (turning_points counts extrema, mann_kendall ranks the trend; this
    counts SIGN RUNS: too few runs = clustering/regimes, too many =
    negative autocorrelation).

    Median is the LOWER median (the smallest value whose cumulative
    count reaches (n+1) div 2 on the distinct-value frame — an exact
    integer order statistic, identical on any engine); observations
    equal to the median are discarded per the classic prescription.
    The run count R = 1 + Σ(sign_t ≠ sign_{t−1}) and n1/n2 are pure
    integers; z = (R − μ)/σ with μ = 2n1n2/(n1+n2) + 1 and σ² =
    2n1n2(2n1n2 − n1 − n2)/((n1+n2)²(n1+n2−1)) is ONE fixed-order IEEE
    expression of those integers, NULL when n1·n2 = 0 or n1+n2 < 2.

    Scale shape: the series frame is bounded by DAYS; one distinct-value
    cumulative window for the median, a 1-row broadcast back, one lag
    window, one 1-row aggregate.

    Returns one row: (n1, n2, r_count, z).
    """
    base = daily.select(
        F.col(d_col).alias("d"), F.col(y_col).cast("long").alias("y")
    )
    g = base.groupBy("y").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wc = Window.orderBy("y").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.orderBy("y").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    med = (
        g.select(
            "y",
            F.sum("c").over(wc).alias("cum"),
            F.sum("c").over(wall).alias("n"),
        )
        .filter(F.col("cum") >= F.expr("(n + 1) div 2"))
        .agg(F.min("y").alias("med"))
        .withColumn("_k", F.lit(1))
    )
    s = (
        base.withColumn("_k", F.lit(1))
        .join(F.broadcast(med), "_k")
        .filter(F.col("y") != F.col("med"))
        .select("d", (F.col("y") > F.col("med")).cast("long").alias("s"))
    )
    lagw = Window.orderBy("d")
    runs = s.select(
        "s",
        F.when(F.lag("s").over(lagw).isNull(), F.lit(1))
        .when(F.lag("s").over(lagw) != F.col("s"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("new_run"),
    )
    agg = runs.agg(
        F.sum("s").cast("long").alias("n1"),
        F.sum(F.lit(1) - F.col("s")).cast("long").alias("n2"),
        F.sum("new_run").cast("long").alias("r_count"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    nd = n1d + n2d
    mu = F.lit(2.0) * n1d * n2d / nd + F.lit(1.0)
    var = (
        F.lit(2.0) * n1d * n2d * (F.lit(2.0) * n1d * n2d - nd)
        / (nd * nd * (nd - F.lit(1.0)))
    )
    z = (F.col("r_count").cast("double") - mu) / F.sqrt(var)
    ok = (F.col("n1") > 0) & (F.col("n2") > 0) & ((F.col("n1") + F.col("n2")) > 1)
    return agg.select(
        "n1",
        "n2",
        "r_count",
        F.when(ok, F.floor(z * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias("z"),
    )


def brown_forsythe(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Brown–Forsythe homogeneity-of-variance test across groups — the
    robust Levene variant (deviations from the GROUP MEDIAN, not mean)
    that gates every pooled-variance comparison the experimentation
    suite runs: one-way ANOVA F on z_ig = |x_ig − median_g|.

    Engine-exact by micro-quantized trunc divisions BEFORE the
    order-free sums (the fisher_separability discipline): group medians
    are exact lower-median order statistics on per-group distinct-value
    frames; z values are pure integers; the ANOVA decomposition uses
    u_g = (S_g²·10⁶) div n_g exact integer terms, so SSB_micro =
    Σu_g − (S²·10⁶) div N and SSW_micro = 10⁶·ΣQ_g − Σu_g are exact
    integers and the release f_micro = ((N−k)·SSB_micro·10⁶) div
    ((k−1)·SSW_micro) is one trunc division — bit-identical anywhere;
    NULL when SSW = 0 or k < 2.

    Scale shape: one (group, value) collapse bounded by per-group value
    cardinality, one partitioned cumulative window for the medians, a
    broadcast join back, map-side-combinable group aggregates, one
    k-row → 1-row release.

    Returns one row: (k, n_total, f_micro: long).
    """
    vals = df.select(
        F.col(group_col).alias("grp"), F.col(value_col).cast("long").alias("x")
    )
    g = vals.groupBy("grp", "x").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wp = (
        Window.partitionBy("grp")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wpa = (
        Window.partitionBy("grp")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    med = (
        g.select(
            "grp",
            "x",
            F.sum("c").over(wp).alias("cum"),
            F.sum("c").over(wpa).alias("ng"),
        )
        .filter(F.col("cum") >= F.expr("(ng + 1) div 2"))
        .groupBy("grp")
        .agg(F.min("x").alias("med"))
    )
    z = (
        vals.join(F.broadcast(med), "grp")
        .select("grp", F.abs(F.col("x") - F.col("med")).alias("z"))
    )
    per = z.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("ng"),
        F.sum("z").cast("decimal(38,0)").alias("sg"),
        F.sum(F.col("z").cast("decimal(38,0)") * F.col("z"))
        .cast("decimal(38,0)")
        .alias("qg"),
    )
    agg = per.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("ng").cast("decimal(38,0)").alias("n_total"),
        F.sum("sg").cast("decimal(38,0)").alias("s"),
        F.sum("qg").cast("decimal(38,0)").alias("q"),
        F.sum(F.expr("(sg * sg * 1000000) div ng"))
        .cast("decimal(38,0)")
        .alias("u"),
    )
    return agg.select(
        "k",
        F.col("n_total").cast("long").alias("n_total"),
        F.when(
            (F.col("k") > 1)
            & ((F.col("q") * 1000000 - F.col("u")) > 0),
            F.expr(
                "cast((((n_total - k) * (u - (s * s * 1000000) div n_total))"
                " * 1000000)"
                " div ((k - 1) * (q * 1000000 - u)) as bigint)"
            ),
        ).alias("f_micro"),
    )


def grubbs_max_outlier(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Grubbs' statistic per group — the single-worst-outlier score
    G = max|x − x̄|/s that answers "how extreme is this group's most
    extreme value in its own σ units" (the per-group companion to
    mad_outliers' row-level flags and robust_zscore's per-row scores).

    Cleared integer moments: maxdev = max|n·x − S| and A = n·Σx² − S²
    are exact decimal(38,0)/hugeint integers; since n·s =
    √(n·A/(n−1)), G = maxdev/√(n·A/(n−1)) is ONE fixed-order IEEE
    expression of three exact integers, released through the shared
    6-decimal canonicalization; NULL when A = 0 (constant group) or
    n < 3.

    Scale shape: TWO map-side-combinable passes (moments, then the
    cleared max-deviation against the broadcast 1-row-per-group
    moments); no windows, no Python.

    Returns per group: (group, n, g_stat).
    """
    vals = df.select(
        F.col(group_col).alias("grp"), F.col(value_col).cast("long").alias("x")
    )
    m = vals.groupBy("grp").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("s"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x"))
        .cast("decimal(38,0)")
        .alias("q"),
    )
    j = vals.join(F.broadcast(m), "grp")
    dev = F.abs(F.col("n") * F.col("x").cast("decimal(38,0)") - F.col("s"))
    per = j.groupBy("grp").agg(
        F.max("n").alias("n"),
        F.max("s").alias("s"),
        F.max("q").alias("q"),
        F.max(dev).cast("decimal(38,0)").alias("maxdev"),
    )
    a = F.col("n") * F.col("q") - F.col("s") * F.col("s")
    nd = F.col("n").cast("double")
    g_stat = (
        F.col("maxdev").cast("double")
        / F.sqrt(nd * a.cast("double") / (nd - F.lit(1.0)))
    )
    return per.select(
        F.col("grp").alias(group_col),
        F.col("n").cast("long").alias("n"),
        F.when(
            (F.col("n") >= 3) & (a > 0),
            F.floor(g_stat * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6),
        ).alias("g_stat"),
    )


def atkinson_index(
    df: DataFrame,
    group_col: str,
    size_col: str,
) -> DataFrame:
    """Atkinson inequality index (ε = 1) per group: A = 1 − GM/AM, the
    geometric-over-arithmetic-mean form — the WELFARE-weighted member
    of the inequality panel (gini_lengths: rank geometry; theil_index:
    entropy; this one: how much total could shrink with equal shares
    at equal welfare). 0 = equality; → 1 as one unit takes everything.

    Engine-exact via the theil_index discipline: ln per DISTINCT value
    quantized to integer nanos before the weighted sum (order-free
    integer reduction), so GM = exp(L/(n·1e9)) and the release
    a = 1 − n·exp(L/n/1e9)/S is ONE fixed-order IEEE expression of
    exact integers (L, n, S). Zero/negative sizes are excluded (no
    defined ln; they carry no welfare mass).

    Scale shape: one (group, value) groupBy bounded by value
    cardinality, one map-side-combinable groupBy(group). No windows,
    no joins.

    Returns per group: (group, n, total, atkinson).
    """
    vals = df.select(
        F.col(group_col).alias("grp"), F.col(size_col).cast("long").alias("x")
    ).filter(F.col("x") > 0)
    g = vals.groupBy("grp", "x").agg(F.count(F.lit(1)).cast("long").alias("c"))
    xlog = F.floor(
        F.log(F.col("x").cast("double")) * F.lit(1e9) + F.lit(0.5)
    ).cast("decimal(38,0)")
    a = g.groupBy("grp").agg(
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("x")).alias("s"),
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c").cast("decimal(38,0)") * xlog).alias("l"),
    )
    atk = F.lit(1.0) - (
        F.col("n").cast("double")
        * F.exp(F.col("l").cast("double") / F.col("n").cast("double") / F.lit(1e9))
        / F.col("s").cast("double")
    )
    return a.select(
        F.col("grp").alias(group_col),
        "n",
        F.col("s").cast("long").alias("total"),
        (F.floor(atk * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias("atkinson"),
    )


def mood_median(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Mood's median test across k groups — the nonparametric
    variance-free location test (each observation dichotomized at the
    GRAND lower median; the 2xk chi-square asks whether groups share a
    center, with none of Brown-Forsythe's moment assumptions).

    Entirely engine-exact: the grand median is the exact lower-median
    order statistic on the distinct-value frame; a_g = #(x > med) and
    n_g are integers; the chi-square collapses to
    chi2 = [Σ_g ((a_g·N − n_g·A)²·10⁶ div n_g)] / (A·B) — the N² of
    the classic N²/(AB)·Σ D_g²/n_g form cancels against the D_g = 
    (a_g·N − n_g·A)/N clearing — with A = Σa_g, B = N − A; per-group
    micro trunc divisions BEFORE the
    order-free integer sum (the brown_forsythe discipline), one final
    trunc division; NULL when A·B = 0 (all mass on one side).

    Scale shape: one (group, value) collapse, one distinct-value
    cumulative window for the grand median, a 1-row broadcast back,
    map-side-combinable group aggregates, k-row → 1-row release.

    Returns one row: (k, n_total, chi2_micro: long).
    """
    vals = df.select(
        F.col(group_col).alias("grp"), F.col(value_col).cast("long").alias("x")
    )
    g = vals.groupBy("x").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wc = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.orderBy("x").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    med = (
        g.select(
            "x",
            F.sum("c").over(wc).alias("cum"),
            F.sum("c").over(wall).alias("n"),
        )
        .filter(F.col("cum") >= F.expr("(n + 1) div 2"))
        .agg(F.min("x").alias("med"))
        .withColumn("_k", F.lit(1))
    )
    per = (
        vals.withColumn("_k", F.lit(1))
        .join(F.broadcast(med), "_k")
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("ng"),
            F.sum((F.col("x") > F.col("med")).cast("long"))
            .cast("long")
            .alias("ag"),
        )
    )
    agg = per.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("ng").cast("long").alias("n_total"),
        F.sum("ag").cast("long").alias("a"),
    )
    j = per.crossJoin(F.broadcast(agg))
    terms = j.groupBy("k", "n_total", "a").agg(
        F.sum(F.expr(
            "((cast(ag as decimal(38,0)) * n_total - cast(ng as decimal(38,0)) * a)"
            " * (cast(ag as decimal(38,0)) * n_total - cast(ng as decimal(38,0)) * a)"
            " * 1000000) div ng"
        )).cast("decimal(38,0)").alias("s")
    )
    b = F.col("n_total") - F.col("a")
    return terms.select(
        "k",
        "n_total",
        F.when(
            (F.col("a") > 0) & (b > 0),
            F.expr("cast(s div (cast(a as decimal(38,0)) * (n_total - a))"
                   " as bigint)"),
        ).alias("chi2_micro"),
    )


def jonckheere_terpstra(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Jonckheere–Terpstra test for an ORDERED trend across groups —
    the a-priori-ordering upgrade over kruskal_wallis (which only asks
    "different", not "increasing"): JT = Σ_{i<j} U_ij, each U_ij the
    Mann-Whitney count of pairs (x_i < x_j) with the half-credit tie
    convention.

    The doubled statistic JT2 = Σ 2·#less + #ties is a pure integer
    over the (group, value)-collapsed pair join (bounded by (k·V)²,
    V = distinct values — never rows²). The null moments use the
    classic no-ties form E = (N² − Σn_g²)/4 and
    Var = (N²(2N+3) − Σn_g²(2n_g+3))/72 (documented deviation: tie
    correction omitted, conservative for heavy ties), so
    z = (JT2 − 2E)/(2·√Var) is ONE fixed-order IEEE expression of
    exact integers; NULL when Var = 0.

    Returns one row: (k, n_total, jt2, z).
    """
    vals = df.select(
        F.col(group_col).cast("long").alias("grp"),
        F.col(value_col).cast("long").alias("x"),
    )
    g = vals.groupBy("grp", "x").agg(F.count(F.lit(1)).cast("long").alias("c"))
    a = g.select(
        F.col("grp").alias("gi"), F.col("x").alias("xi"), F.col("c").alias("ci")
    )
    b = g.select(
        F.col("grp").alias("gj"), F.col("x").alias("xj"), F.col("c").alias("cj")
    )
    pairs = a.join(F.broadcast(b), F.col("gi") < F.col("gj"))
    jt2 = pairs.agg(
        F.sum(
            F.when(F.col("xi") < F.col("xj"), F.lit(2) * F.col("ci") * F.col("cj"))
            .when(F.col("xi") == F.col("xj"), F.col("ci") * F.col("cj"))
            .otherwise(F.lit(0))
        ).cast("long").alias("jt2")
    ).withColumn("_k", F.lit(1))
    sizes = vals.groupBy("grp").agg(F.count(F.lit(1)).cast("long").alias("ng"))
    moms = sizes.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("ng").cast("long").alias("n_total"),
        F.sum(F.col("ng") * F.col("ng")).cast("long").alias("sn2"),
        F.sum(F.col("ng") * F.col("ng") * (2 * F.col("ng") + 3))
        .cast("long")
        .alias("sn23"),
    ).withColumn("_k", F.lit(1))
    j = jt2.join(F.broadcast(moms), "_k")
    nd = F.col("n_total").cast("double")
    e2 = (nd * nd - F.col("sn2").cast("double")) / F.lit(2.0)
    var = (
        nd * nd * (F.lit(2.0) * nd + F.lit(3.0)) - F.col("sn23").cast("double")
    ) / F.lit(72.0)
    z = (F.col("jt2").cast("double") - e2) / (F.lit(2.0) * F.sqrt(var))
    return j.select(
        "k",
        "n_total",
        "jt2",
        F.when(var > 0, F.floor(z * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias("z"),
    )


def partial_correlation(
    daily: DataFrame,
    x_col: str,
    y_col: str,
    z_col: str,
) -> DataFrame:
    """First-order partial correlation r_xy·z — the confounder-netted
    association the raw pearson/spearman panel cannot give ("do
    purchases track clicks once errors are held fixed"). Clearing every
    denominator reduces it to pure integer scatter terms
    A_uv = n·Σuv − Σu·Σv (decimal(38,0)/hugeint), and

        r_xy·z = (A_xy·A_zz − A_xz·A_yz)
                 / √((A_xx·A_zz − A_xz²)·(A_yy·A_zz − A_yz²))

    — the A-products run in IEEE doubles (identical nearest-double on
    both engines since each A is an exact integer; products of two
    38-digit integers would overflow any fixed decimal), so the release
    is ONE fixed-order IEEE expression; NULL when either denominator
    factor is ≤ 0 (a constant series or perfect confounding).

    Returns one row: (n, r_xy_micro-style release as r_partial).
    """
    v = daily.select(
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("long").alias("y"),
        F.col(z_col).cast("long").alias("z"),
    )
    dec = "decimal(38,0)"
    agg = v.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("x").cast(dec).alias("sx"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum("z").cast(dec).alias("sz"),
        F.sum(F.col("x").cast(dec) * F.col("x")).cast(dec).alias("sxx"),
        F.sum(F.col("y").cast(dec) * F.col("y")).cast(dec).alias("syy"),
        F.sum(F.col("z").cast(dec) * F.col("z")).cast(dec).alias("szz"),
        F.sum(F.col("x").cast(dec) * F.col("y")).cast(dec).alias("sxy"),
        F.sum(F.col("x").cast(dec) * F.col("z")).cast(dec).alias("sxz"),
        F.sum(F.col("y").cast(dec) * F.col("z")).cast(dec).alias("syz"),
    )
    def A(p, q, sp, sq, spq):
        return (F.col("n") * F.col(spq) - F.col(sp) * F.col(sq)).cast("double")
    axx = A("x", "x", "sx", "sx", "sxx")
    ayy = A("y", "y", "sy", "sy", "syy")
    azz = A("z", "z", "sz", "sz", "szz")
    axy = A("x", "y", "sx", "sy", "sxy")
    axz = A("x", "z", "sx", "sz", "sxz")
    ayz = A("y", "z", "sy", "sz", "syz")
    d1 = axx * azz - axz * axz
    d2 = ayy * azz - ayz * ayz
    num = axy * azz - axz * ayz
    r = num / F.sqrt(d1 * d2)
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.when(
            (d1 > 0) & (d2 > 0),
            F.floor(r * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6),
        ).alias("r_partial"),
    )


def chow_break(
    daily: DataFrame,
    d_col: str,
    y_col: str,
    break_d: int,
) -> DataFrame:
    """Chow structural-break F test of the linear daily trend at a
    KNOWN calendar split — "did the slope/level change at the cutover"
    (the regime complement to pettitt-style unknown-break scans and to
    diff_in_differences' treatment framing): F = ((RSS_p − RSS_1 −
    RSS_2)/2) / ((RSS_1 + RSS_2)/(n − 4)).

    Raw power sums n, Σx, Σy, Σx², Σxy, Σy² per segment are exact
    integers (decimal(38,0)/hugeint) and ADDITIVE, so the pooled
    moments are the sums of the two segment rows — one conditional
    aggregate, no second pass. Each RSS uses the cleared closed form
    RSS = (A_xx·A_yy − A_xy²)/(n·A_xx) evaluated in IEEE doubles of
    the exact integers (fixed order, identical on both engines), and F
    is one fixed-order expression; NULL when either segment has < 3
    points, a degenerate A_xx, or RSS_1 + RSS_2 = 0 (perfect fits).

    Returns one row: (n1, n2, f_stat).
    """
    v = daily.select(
        F.col(d_col).cast("long").alias("x"), F.col(y_col).cast("long").alias("y")
    ).withColumn("seg", (F.col("x") >= F.lit(break_d)).cast("int"))
    dec = "decimal(38,0)"

    def moms(tag):
        p = (F.col("seg") == tag).cast("int").cast(dec)
        return [
            F.sum(p).cast(dec).alias(f"n{tag}"),
            F.sum(p * F.col("x")).cast(dec).alias(f"sx{tag}"),
            F.sum(p * F.col("y")).cast(dec).alias(f"sy{tag}"),
            F.sum(p * F.col("x") * F.col("x")).cast(dec).alias(f"sxx{tag}"),
            F.sum(p * F.col("x") * F.col("y")).cast(dec).alias(f"sxy{tag}"),
            F.sum(p * F.col("y") * F.col("y")).cast(dec).alias(f"syy{tag}"),
        ]

    agg = v.agg(*(moms(0) + moms(1)))

    def rss(n, sx, sy, sxx, sxy, syy):
        nd = n.cast("double")
        axx = (n * sxx - sx * sx).cast("double")
        ayy = (n * syy - sy * sy).cast("double")
        axy = (n * sxy - sx * sy).cast("double")
        return (axx * ayy - axy * axy) / (nd * axx), axx

    c = F.col
    n_p = c("n0") + c("n1")
    rss0, axx0 = rss(c("n0"), c("sx0"), c("sy0"), c("sxx0"), c("sxy0"), c("syy0"))
    rss1, axx1 = rss(c("n1"), c("sx1"), c("sy1"), c("sxx1"), c("sxy1"), c("syy1"))
    rssp, axxp = rss(
        n_p, c("sx0") + c("sx1"), c("sy0") + c("sy1"),
        c("sxx0") + c("sxx1"), c("sxy0") + c("sxy1"), c("syy0") + c("syy1"),
    )
    f_stat = ((rssp - rss0 - rss1) / F.lit(2.0)) / (
        (rss0 + rss1) / (n_p.cast("double") - F.lit(4.0))
    )
    ok = (
        (c("n0") >= 3) & (c("n1") >= 3)
        & (axx0 > 0) & (axx1 > 0) & (axxp > 0)
        & (rss0 + rss1 > 0)
    )
    return agg.select(
        c("n0").cast("long").alias("n1"),
        c("n1").cast("long").alias("n2"),
        F.when(ok, F.floor(f_stat * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6))
        .alias("f_stat"),
    )


def welch_t(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Welch's unequal-variance two-sample t — the default two-group
    mean comparison (Student's pooled form assumes the homogeneity
    brown_forsythe exists to test): t = (x̄_a − x̄_b)/√(s_a²/n_a +
    s_b²/n_b) with the Welch–Satterthwaite df.

    Cleared moments: S_g and A_g = n_g·Σx² − S_g² are exact
    decimal(38,0)/hugeint integers, s_g²/n_g = A_g/(n_g²(n_g−1)), so t
    and df are each ONE fixed-order IEEE expression of six exact
    integers; NULL when either n_g < 2 or both A_g = 0.

    Scale shape: one conditional map-side-combinable aggregate over the
    two groups' rows — no joins, no windows.

    Returns one row: (n_a, n_b, t_stat, df).
    """
    dec = "decimal(38,0)"
    v = df.filter(F.col(group_col).isin(group_a, group_b)).select(
        (F.col(group_col) == group_a).cast("int").alias("ia"),
        F.col(value_col).cast("long").alias("x"),
    )
    def moms(flag):
        p = F.when(F.col("ia") == flag, F.lit(1)).otherwise(F.lit(0)).cast(dec)
        tag = "a" if flag else "b"
        return [
            F.sum(p).cast(dec).alias(f"n_{tag}"),
            F.sum(p * F.col("x")).cast(dec).alias(f"s_{tag}"),
            F.sum(p * F.col("x") * F.col("x")).cast(dec).alias(f"q_{tag}"),
        ]
    agg = v.agg(*(moms(1) + moms(0)))
    c = F.col
    aa = (c("n_a") * c("q_a") - c("s_a") * c("s_a")).cast("double")
    ab = (c("n_b") * c("q_b") - c("s_b") * c("s_b")).cast("double")
    na, nb = c("n_a").cast("double"), c("n_b").cast("double")
    va = aa / (na * na * (na - F.lit(1.0)))
    vb = ab / (nb * nb * (nb - F.lit(1.0)))
    t = (c("s_a").cast("double") / na - c("s_b").cast("double") / nb) / F.sqrt(
        va + vb
    )
    dfree = (va + vb) * (va + vb) / (
        va * va / (na - F.lit(1.0)) + vb * vb / (nb - F.lit(1.0))
    )
    ok = (c("n_a") >= 2) & (c("n_b") >= 2) & ((aa > 0) | (ab > 0))
    return agg.select(
        c("n_a").cast("long").alias("n_a"),
        c("n_b").cast("long").alias("n_b"),
        F.when(ok, F.floor(t * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6))
        .alias("t_stat"),
        F.when(ok, F.floor(dfree * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6))
        .alias("df"),
    )


def cronbach_alpha(
    df: DataFrame,
    case_col: str,
    item_col: str,
    value_col: str,
    items: list,
) -> DataFrame:
    """Cronbach's alpha internal-consistency coefficient over a fixed
    item list — "do these k per-case measurements move together"
    (the reliability gate before averaging items into a scale score):
    α = k/(k−1) · (1 − Σ_i σ_i²/σ_total²).

    Cases missing an item score 0 for it (the dense pivot). Every
    variance numerator A = n·Σx² − S² shares the same n (the case
    count), so the n factors CANCEL and α = k·(A_tot − ΣA_i) /
    ((k−1)·A_tot) is exact in integers; released as one signed micro
    trunc division (both engines truncate toward zero); NULL when
    A_tot = 0.

    Scale shape: one conditional-sum pivot groupBy(case) (k literal
    columns), one map-side-combinable moment aggregate. No joins, no
    windows.

    Returns one row: (k, n_cases, alpha_micro: long).
    """
    dec = "decimal(38,0)"
    pivot = df.groupBy(F.col(case_col).alias("_case")).agg(
        *[
            F.sum(
                F.when(F.col(item_col) == it, F.col(value_col).cast("long"))
                .otherwise(F.lit(0))
            ).cast("long").alias(f"it_{i}")
            for i, it in enumerate(items)
        ]
    )
    k = len(items)
    tot = sum(F.col(f"it_{i}") for i in range(k)).alias("row_tot")
    pv = pivot.select(*[F.col(f"it_{i}") for i in range(k)], tot)
    aggs = [F.count(F.lit(1)).cast(dec).alias("n")]
    for i in range(k):
        aggs += [
            F.sum(F.col(f"it_{i}")).cast(dec).alias(f"s_{i}"),
            F.sum(F.col(f"it_{i}").cast(dec) * F.col(f"it_{i}"))
            .cast(dec).alias(f"q_{i}"),
        ]
    aggs += [
        F.sum(F.col("row_tot")).cast(dec).alias("s_t"),
        F.sum(F.col("row_tot").cast(dec) * F.col("row_tot"))
        .cast(dec).alias("q_t"),
    ]
    agg = pv.agg(*aggs)
    a_tot = F.col("n") * F.col("q_t") - F.col("s_t") * F.col("s_t")
    a_sum = None
    for i in range(k):
        ai = F.col("n") * F.col(f"q_{i}") - F.col(f"s_{i}") * F.col(f"s_{i}")
        a_sum = ai if a_sum is None else (a_sum + ai)
    alpha_micro = F.expr(
        f"cast(({k} * (a_tot_c - a_sum_c) * 1000000)"
        f" div ({k - 1} * a_tot_c) as bigint)"
    )
    return (
        agg.withColumn("a_tot_c", a_tot)
        .withColumn("a_sum_c", a_sum)
        .select(
            F.lit(k).cast("long").alias("k"),
            F.col("n").cast("long").alias("n_cases"),
            F.when(F.col("a_tot_c") > 0, alpha_micro).alias("alpha_micro"),
        )
    )


def pacf_lag2(
    series: DataFrame,
    idx_col: str = "d",
    y_col: str = "y",
) -> DataFrame:
    """Partial autocorrelation at lag 2 by Durbin–Levinson: φ22 =
    (r₂ − r₁²)/(1 − r₁²) — "is there second-order memory once the
    lag-1 chain is accounted for" (an AR(1) process has φ22 ≈ 0 even
    though r₂ = r₁² ≠ 0; the model-order evidence ljung_box's
    portmanteau cannot localize).

    The densified-calendar n-cleared discipline of ljung_box: u_t =
    n·y_t − S exact integers, lag covariances C₀, C₁, C₂ exact
    decimal(38,0)/hugeint sums (C₁/C₂ over their overlap windows, C₀
    full-range — the standard estimator), and since r_ℓ = C_ℓ/C₀ the
    ratio clears to φ22 = (C₂·C₀ − C₁²)/(C₀² − C₁²); the C-products
    run in IEEE doubles (decimal(38,0) squares would overflow at the
    documented 1e27 bound), one fixed-order release; NULL when
    C₀² = C₁² (constant or perfectly alternating series).

    Returns one row: (n, phi22).
    """
    agg = series.groupBy(F.col(idx_col).cast("long").alias("_i")).agg(
        F.sum(F.col(y_col).cast("long")).alias("_y")
    )
    rng = agg.agg(F.min("_i").alias("_lo"), F.max("_i").alias("_hi"))
    dense = (
        rng.select(F.explode(F.sequence("_lo", "_hi")).alias("_i"))
        .join(agg, "_i", "left")
        .select("_i", F.coalesce("_y", F.lit(0)).alias("_y"))
    )
    tot = dense.agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum("_y").cast("long").alias("_s"),
    )
    w = Window.orderBy("_i")
    u0 = (F.col("_n") * F.col("_y") - F.col("_s")).cast("decimal(38,0)")
    u1 = (F.col("_n") * F.lead("_y", 1).over(w) - F.col("_s")).cast(
        "decimal(38,0)"
    )
    u2 = (F.col("_n") * F.lead("_y", 2).over(w) - F.col("_s")).cast(
        "decimal(38,0)"
    )
    d = dense.crossJoin(F.broadcast(tot)).select(
        "_n", u0.alias("_u0"), u1.alias("_u1"), u2.alias("_u2")
    )
    cagg = d.agg(
        F.max("_n").alias("n"),
        F.sum(F.col("_u0") * F.col("_u0")).cast("decimal(38,0)").alias("c0"),
        F.sum(F.col("_u0") * F.col("_u1")).cast("decimal(38,0)").alias("c1"),
        F.sum(F.col("_u0") * F.col("_u2")).cast("decimal(38,0)").alias("c2"),
    )
    c0, c1, c2 = (F.col(x).cast("double") for x in ("c0", "c1", "c2"))
    phi = (c2 * c0 - c1 * c1) / (c0 * c0 - c1 * c1)
    return cagg.select(
        F.col("n").cast("long").alias("n"),
        F.when(
            c0 * c0 - c1 * c1 != 0,
            F.floor(phi * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6),
        ).alias("phi22"),
    )


def kuiper_two_sample(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Two-sample Kuiper V = D⁺ + D⁻ — the rotation-invariant KS
    variant that keeps its power in the TAILS and on cyclic supports
    (KS's single max gap under-weights distributions that cross): the
    positive and negative ECDF excursions measured separately, then
    summed.

    Same cleared-integer frame as ks_test: on the merged distinct-value
    grid, M⁺ = max(cumA·n_b − cumB·n_a) and M⁻ = max(cumB·n_a −
    cumA·n_b) (each floored at 0) are exact integers, V releases as one
    ppm trunc division (M⁺ + M⁻)·10⁶ div (n_a·n_b).

    Returns one row: (n_a, n_b, v_ppm: long).
    """
    b = df.filter(F.col(group_col).isin(group_a, group_b)).select(
        F.col(value_col).cast("long").alias("v"),
        (F.col(group_col) == group_a).cast("long").alias("ia"),
        (F.col(group_col) == group_b).cast("long").alias("ib"),
    )
    g = b.groupBy("v").agg(
        F.sum("ia").cast("long").alias("ca"), F.sum("ib").cast("long").alias("cb")
    )
    wc = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = g.select(
        F.sum("ca").over(wc).alias("cum_a"),
        F.sum("cb").over(wc).alias("cum_b"),
        F.sum("ca").over(wall).alias("n_a"),
        F.sum("cb").over(wall).alias("n_b"),
    )
    gap = (
        F.col("cum_a").cast("decimal(38,0)") * F.col("n_b")
        - F.col("cum_b").cast("decimal(38,0)") * F.col("n_a")
    )
    agg = c.agg(
        F.greatest(F.max(gap), F.lit(0).cast("decimal(38,0)")).alias("m_pos"),
        F.greatest(F.max(-gap), F.lit(0).cast("decimal(38,0)")).alias("m_neg"),
        F.max("n_a").cast("long").alias("n_a"),
        F.max("n_b").cast("long").alias("n_b"),
    )
    return agg.select(
        "n_a",
        "n_b",
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            F.expr(
                "cast(((m_pos + m_neg) * 1000000)"
                " div (cast(n_a as decimal(38,0)) * n_b) as bigint)"
            ),
        ).alias("v_ppm"),
    )


def ansari_bradley(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Ansari–Bradley two-sample SCALE test — the rank member the
    location panel lacks: scores s(p) = min(p, N+1−p) grow toward the
    center of the merged ordering, so a sample concentrated centrally
    (smaller dispersion) collects a LARGER score sum; mann_whitney
    shifts don't move it, spread changes do.

    Tie-exact and engine-exact WITHOUT materializing positions: a tie
    group occupying merged positions [lo, hi] has score sum S1 =
    Σ_{p=lo..min(hi,m)} p + Σ_{q=N+1−hi..N+1−max(lo,m+1)} q (m =
    (N+1) div 2) — two closed-form range sums whose /2 is provably
    exact; tied observations share the average score, so the b-sample
    statistic and the score second moment reduce to per-value micro
    trunc divisions ab_v = (c_b·S1·10⁶) div c and sq_v = (S1²·10⁶)
    div c, summed order-free. The conditional permutation moments
    E = n_b·S_tot/N and Var = n_a·n_b·(N·Σā² − S_tot²)/(N²(N−1)) make
    z ONE fixed-order IEEE expression of the exact integers
    (AB_micro, S_tot, SQ_micro, n_a, n_b); NULL when Var ≤ 0 (all
    scores tied). Integer bound: S1² ≤ (c·N/2)²·10⁶ — safe in
    decimal(38,0) to ~10⁸ observations sharing one value.

    Scale shape: one (value) collapse, two windows on the distinct
    frame, one 1-row release. Returns (n_a, n_b, ab_micro, z).
    """
    b = df.filter(F.col(group_col).isin(group_a, group_b)).select(
        F.col(value_col).cast("long").alias("v"),
        (F.col(group_col) == group_a).cast("long").alias("ia"),
        (F.col(group_col) == group_b).cast("long").alias("ib"),
    )
    g = b.groupBy("v").agg(
        F.sum("ia").cast("long").alias("ca"), F.sum("ib").cast("long").alias("cb")
    )
    wc = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    fr = g.select(
        "ca",
        "cb",
        (F.col("ca") + F.col("cb")).alias("c"),
        F.sum(F.col("ca") + F.col("cb")).over(wc).alias("hi"),
        F.sum("ca").over(wall).alias("n_a"),
        F.sum("cb").over(wall).alias("n_b"),
    ).select(
        "ca", "cb", "c", "hi",
        (F.col("hi") - F.col("c") + 1).alias("lo"),
        "n_a", "n_b",
        (F.col("n_a") + F.col("n_b")).alias("nn"),
    )
    terms = fr.select(
        "ca", "cb", "c", "n_a", "n_b", "nn",
        F.expr("""
          cast(
            case when least(hi, (nn + 1) div 2) >= lo then
              (cast(least(hi, (nn + 1) div 2) as decimal(38,0))
                 * (least(hi, (nn + 1) div 2) + 1)
               - cast(lo - 1 as decimal(38,0)) * lo) div 2
            else 0 end
            +
            case when (nn + 1 - greatest(lo, (nn + 1) div 2 + 1)) >= (nn + 1 - hi)
                 then
              (cast(nn + 1 - greatest(lo, (nn + 1) div 2 + 1) as decimal(38,0))
                 * (nn + 2 - greatest(lo, (nn + 1) div 2 + 1))
               - cast(nn - hi as decimal(38,0)) * (nn + 1 - hi)) div 2
            else 0 end
          as decimal(38,0))
        """).alias("s1"),
    )
    agg = terms.agg(
        F.max("n_a").cast("long").alias("n_a"),
        F.max("n_b").cast("long").alias("n_b"),
        F.max("nn").cast("long").alias("nn"),
        F.sum(F.expr("(cb * s1 * 1000000) div c"))
        .cast("decimal(38,0)").alias("ab_micro"),
        F.sum("s1").cast("decimal(38,0)").alias("s_tot"),
        F.sum(F.expr("(s1 * s1 * 1000000) div c"))
        .cast("decimal(38,0)").alias("sq_micro"),
    )
    c = F.col
    nad, nbd, nd = (c(x).cast("double") for x in ("n_a", "n_b", "nn"))
    abf = c("ab_micro").cast("double") / F.lit(1e6)
    st = c("s_tot").cast("double")
    sq = c("sq_micro").cast("double") / F.lit(1e6)
    e = nbd * st / nd
    var = nad * nbd * (nd * sq - st * st) / (nd * nd * (nd - F.lit(1.0)))
    z = (abf - e) / F.sqrt(var)
    return agg.select(
        "n_a",
        "n_b",
        c("ab_micro").cast("long").alias("ab_micro"),
        F.when(var > 0, F.floor(z * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6))
        .alias("z"),
    )


def sign_test_paired(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Paired sign test — the weakest-assumption paired comparison
    (wilcoxon_signed ranks the magnitudes; this only reads the signs,
    so it survives any monotone transform of either series): ties
    dropped per the classic prescription, S = #(x > y),
    z = (2S − m)/√m over the m untied pairs (normal approximation,
    continuity correction omitted — documented).

    One map-side-combinable aggregate; integer counts, one fixed-order
    IEEE z; NULL when m = 0.

    Returns one row: (n_pos, n_neg, z).
    """
    v = df.select(
        F.col(x_col).cast("long").alias("x"), F.col(y_col).cast("long").alias("y")
    )
    agg = v.agg(
        F.sum((F.col("x") > F.col("y")).cast("long")).cast("long").alias("n_pos"),
        F.sum((F.col("x") < F.col("y")).cast("long")).cast("long").alias("n_neg"),
    )
    m = (F.col("n_pos") + F.col("n_neg")).cast("double")
    z = (F.lit(2.0) * F.col("n_pos").cast("double") - m) / F.sqrt(m)
    return agg.select(
        "n_pos",
        "n_neg",
        F.when(
            F.col("n_pos") + F.col("n_neg") > 0,
            F.floor(z * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6),
        ).alias("z"),
    )


def friedman_test(
    df: DataFrame,
    block_col: str,
    item_col: str,
    value_col: str,
    items: list,
) -> DataFrame:
    """Friedman test across k related treatments in b blocks — the
    repeated-measures ANOVA on ranks (cochran_q's k-ary sibling for
    COUNTS rather than binaries): within every block the k items are
    midranked and the treatment rank totals compared.

    Tie-exact without any window: with the dense per-block pivot, the
    DOUBLED midrank of item i is R2_i = 2 + 2·#(x_l < x_i) +
    #(l ≠ i, x_l = x_i) — a closed form over the k literal columns.
    The tie-corrected statistic (Conover) clears to pure integers in
    doubled units: chi2 = (k−1)·Σ_j(B2_j − b(k+1))² / (ΣR2² −
    b·k·(k+1)²), released as one micro trunc division; NULL when every
    block is fully tied (zero denominator).

    Scale shape: one conditional-sum pivot groupBy(block), per-block
    rank arithmetic as k generated expressions, one k-column aggregate.
    No joins, no windows.

    Returns one row: (k, n_blocks, chi2_micro: long).
    """
    k = len(items)
    pivot = df.groupBy(F.col(block_col).alias("_b")).agg(
        *[
            F.sum(
                F.when(F.col(item_col) == it, F.col(value_col).cast("long"))
                .otherwise(F.lit(0))
            ).cast("long").alias(f"it_{i}")
            for i, it in enumerate(items)
        ]
    )
    r2_cols = []
    for i in range(k):
        less = sum(
            (F.col(f"it_{j}") < F.col(f"it_{i}")).cast("long")
            for j in range(k) if j != i
        )
        ties = sum(
            (F.col(f"it_{j}") == F.col(f"it_{i}")).cast("long")
            for j in range(k) if j != i
        )
        r2_cols.append((F.lit(2) + F.lit(2) * less + ties).alias(f"r2_{i}"))
    ranked = pivot.select(*r2_cols)
    aggs = [F.count(F.lit(1)).cast("long").alias("b")]
    for i in range(k):
        aggs.append(F.sum(F.col(f"r2_{i}")).cast("decimal(38,0)").alias(f"b2_{i}"))
    aggs.append(
        sum(
            F.sum(F.col(f"r2_{i}").cast("decimal(38,0)") * F.col(f"r2_{i}"))
            for i in range(k)
        ).cast("decimal(38,0)").alias("sr2")
    )
    agg = ranked.agg(*aggs)
    dsq = None
    for i in range(k):
        d = F.col(f"b2_{i}") - F.col("b").cast("decimal(38,0)") * (k + 1)
        dsq = d * d if dsq is None else (dsq + d * d)
    denom = F.col("sr2") - F.col("b").cast("decimal(38,0)") * k * (k + 1) * (k + 1)
    return agg.withColumn("_num", dsq.cast("decimal(38,0)")) \
        .withColumn("_den", denom.cast("decimal(38,0)")) \
        .select(
            F.lit(k).cast("long").alias("k"),
            F.col("b").alias("n_blocks"),
            F.when(
                F.col("_den") > 0,
                F.expr(f"cast(({k - 1} * _num * 1000000) div _den as bigint)"),
            ).alias("chi2_micro"),
        )


def hurst_varagg(
    series: DataFrame,
    idx_col: str = "d",
    y_col: str = "y",
) -> DataFrame:
    """Hurst exponent by the aggregated-variance method over dyadic
    block sizes k = 1, 2, 4, 8: Var of the k-block means scales as
    k^(2H−2), so H = 1 + slope/2 of the log-log line — the
    long-range-dependence summary beside variance_ratio's two-scale
    VR(2) (H > 0.5 persistent, < 0.5 anti-persistent).

    Only COMPLETE blocks count. Per level the cleared variance
    numerator A_k = m_k·Σb² − (Σb)² is an exact integer;
    y_k = ln A_k − 2·ln m_k − 2·ln k in nano-quantized integers (the
    nano-ln discipline), and because the x-grid is exactly
    j·ln2 (j = 0..3), the OLS slope closed-forms to
    Σ(2j−3)·y_j / (10·ln2): H_micro = 10⁶ + (Σ(2j−3)·y_j·10⁶) div
    (20·L2) with L2 = the nano ln 2 literal — pure integer arithmetic
    after the four ln quantizations; NULL when any level has m_k < 2
    or A_k = 0.

    Returns one row: (n, h_micro: long).
    """
    agg = series.groupBy(F.col(idx_col).cast("long").alias("_i")).agg(
        F.sum(F.col(y_col).cast("long")).alias("_y")
    )
    lo = agg.agg(F.min("_i").alias("_lo"))
    base = agg.crossJoin(F.broadcast(lo)).select(
        (F.col("_i") - F.col("_lo")).alias("_t"), "_y"
    )
    n_row = base.agg(F.count(F.lit(1)).cast("long").alias("n"))
    levels = []
    for j, kk in enumerate([1, 2, 4, 8]):
        blocks = (
            base.groupBy((F.col("_t") / kk).cast("long").alias("_blk"))
            .agg(
                F.count(F.lit(1)).alias("_cnt"),
                F.sum("_y").cast("long").alias("_bs"),
            )
            .filter(F.col("_cnt") == kk)
        )
        lv = blocks.agg(
            F.count(F.lit(1)).cast("long").alias("m"),
            F.sum(F.col("_bs").cast("decimal(38,0)") * F.col("_bs"))
            .cast("decimal(38,0)").alias("q"),
            F.sum("_bs").cast("decimal(38,0)").alias("s"),
        ).select(
            F.lit(j).alias("j"),
            "m",
            (F.col("m") * F.col("q") - F.col("s") * F.col("s")).alias("a"),
        )
        levels.append(lv)
    allv = levels[0]
    for lv in levels[1:]:
        allv = allv.unionByName(lv)
    l2 = 693147181  # floor(ln 2 * 1e9 + 0.5)
    y = (
        F.floor(F.log(F.col("a").cast("double")) * F.lit(1e9) + F.lit(0.5))
        - F.lit(2) * F.floor(
            F.log(F.col("m").cast("double")) * F.lit(1e9) + F.lit(0.5)
        )
        - F.lit(2).cast("long") * F.col("j") * F.lit(l2).cast("long")
    ).cast("long")
    terms = allv.select(
        "j", "m", "a", ((F.lit(2) * F.col("j") - 3) * y).alias("wy")
    )
    fin = terms.agg(
        F.min("m").cast("long").alias("min_m"),
        F.min("a").alias("min_a"),
        F.sum("wy").cast("long").alias("swy"),
        F.count(F.lit(1)).alias("n_lv"),
    ).crossJoin(F.broadcast(n_row))
    ok = (F.col("min_m") >= 2) & (F.col("min_a") > 0) & (F.col("n_lv") == 4)
    return fin.select(
        "n",
        F.when(
            ok,
            F.lit(1000000)
            + F.expr(
                f"cast((swy * 1000000) div (20 * cast({l2} as bigint))"
                " as bigint)"
            ),
        ).alias("h_micro"),
    )


def concordance_ccc(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Lin's concordance correlation coefficient between two paired
    series — AGREEMENT, not association: pearson rewards any linear
    relation, CCC additionally penalizes scale and location bias
    (y = 2x has r = 1 but CCC well below 1), which is what a
    prediction-vs-actual or replica-vs-primary comparison needs.

    Denominator clearing collapses it to pure integers:
    CCC = 2·cov/(σx² + σy² + (μx−μy)²) = 2·A_xy/(A_xx + A_yy +
    (Sx−Sy)²) with A_uv = n·Σuv − Su·Sv exact decimal(38,0)/hugeint —
    every n-power cancels; released as ONE signed micro trunc division
    (both engines truncate toward zero); NULL when the denominator is
    0 (both series constant and equal).

    Returns one row: (n, ccc_micro: long).
    """
    dec = "decimal(38,0)"
    v = df.select(
        F.col(x_col).cast("long").alias("x"), F.col(y_col).cast("long").alias("y")
    )
    agg = v.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("x").cast(dec).alias("sx"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).cast(dec).alias("sxx"),
        F.sum(F.col("y").cast(dec) * F.col("y")).cast(dec).alias("syy"),
        F.sum(F.col("x").cast(dec) * F.col("y")).cast(dec).alias("sxy"),
    )
    axy = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    axx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    ayy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    dd = (F.col("sx") - F.col("sy"))
    den = axx + ayy + dd * dd
    return agg.withColumn("_num", (F.lit(2).cast(dec) * axy).cast(dec)) \
        .withColumn("_den", den.cast(dec)) \
        .select(
            F.col("n").cast("long").alias("n"),
            F.when(
                F.col("_den") != 0,
                F.expr("cast((_num * 1000000) div _den as bigint)"),
            ).alias("ccc_micro"),
        )


def bland_altman(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Bland–Altman method-agreement summary of two paired series:
    the mean difference (bias) and the 95% limits of agreement
    bias ± 1.96·SD(diff) — the clinical-agreement companion to
    concordance_ccc's single number (CCC says HOW MUCH disagreement;
    this says WHERE the band lies).

    d_t = x_t − y_t stays integer; bias = Sd/n and the cleared spread
    A_d = n·Σd² − Sd² are exact; bias releases as a signed micro trunc
    division, the limits as fixed-order IEEE expressions of the exact
    integers (the 1.96 literal is shared); NULL limits when n < 2 or
    A_d = 0.

    Returns one row: (n, bias_micro, loa_low, loa_high).
    """
    dec = "decimal(38,0)"
    v = df.select(
        (F.col(x_col).cast("long") - F.col(y_col).cast("long")).alias("d")
    )
    agg = v.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("d").cast(dec).alias("sd"),
        F.sum(F.col("d").cast(dec) * F.col("d")).cast(dec).alias("qd"),
    )
    a = F.col("n") * F.col("qd") - F.col("sd") * F.col("sd")
    nd = F.col("n").cast("double")
    bias = F.col("sd").cast("double") / nd
    sd = F.sqrt(a.cast("double") / (nd * nd * (nd - F.lit(1.0))) * nd)
    lo = bias - F.lit(1.96) * sd
    hi = bias + F.lit(1.96) * sd
    ok = (F.col("n") >= 2) & (a > 0)
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.expr("cast((sd * 1000000) div n as bigint)").alias("bias_micro"),
        F.when(ok, F.floor(lo * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6))
        .alias("loa_low"),
        F.when(ok, F.floor(hi * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6))
        .alias("loa_high"),
    )


def newey_west_lrv(
    series: DataFrame,
    idx_col: str = "d",
    y_col: str = "y",
    max_lag: int = 5,
) -> DataFrame:
    """Newey–West long-run variance of the densified daily series with
    the Bartlett kernel at lags 1..L — the autocorrelation-robust
    variance a daily-metric confidence interval should use when
    ljung_box rejects whiteness; the inflation factor σ²_NW/C₀ IS the
    CI-width correction.

    With the n-cleared integers u_t = n·y_t − S, every lag covariance
    C_ℓ is exact, and clearing the Bartlett weights (1 − ℓ/(L+1)) by
    (L+1) keeps the kernel sum integer: σ²_scaled = (L+1)·C₀ +
    2·Σ(L+1−ℓ)·C_ℓ. The inflation ratio releases as one signed micro
    trunc division σ²_scaled·10⁶ div ((L+1)·C₀) — engine-exact, no
    IEEE anywhere; NULL when C₀ = 0 (constant series). A negative
    ratio is reported as-is (the truncated-kernel estimate is not
    guaranteed positive at tiny n; Bartlett weights make it
    nonnegative for L < n — documented).

    Returns one row: (n, lrv_ratio_micro: long).
    """
    agg = series.groupBy(F.col(idx_col).cast("long").alias("_i")).agg(
        F.sum(F.col(y_col).cast("long")).alias("_y")
    )
    rng = agg.agg(F.min("_i").alias("_lo"), F.max("_i").alias("_hi"))
    dense = (
        rng.select(F.explode(F.sequence("_lo", "_hi")).alias("_i"))
        .join(agg, "_i", "left")
        .select("_i", F.coalesce("_y", F.lit(0)).alias("_y"))
    )
    tot = dense.agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum("_y").cast("long").alias("_s"),
    )
    w = Window.orderBy("_i")
    u0 = (F.col("_n") * F.col("_y") - F.col("_s")).cast("decimal(38,0)")
    cols = [u0.alias("_u0")] + [
        (F.col("_n") * F.lead("_y", k).over(w) - F.col("_s"))
        .cast("decimal(38,0)").alias(f"_u{k}")
        for k in range(1, max_lag + 1)
    ]
    d = dense.crossJoin(F.broadcast(tot)).select("_n", *cols)
    aggs = [
        F.max("_n").alias("n"),
        F.sum(F.col("_u0") * F.col("_u0")).cast("decimal(38,0)").alias("c0"),
    ]
    for k in range(1, max_lag + 1):
        aggs.append(
            F.sum(F.col("_u0") * F.col(f"_u{k}"))
            .cast("decimal(38,0)").alias(f"c{k}")
        )
    cagg = d.agg(*aggs)
    lp1 = max_lag + 1
    scaled = F.lit(lp1).cast("decimal(38,0)") * F.col("c0")
    for k in range(1, max_lag + 1):
        scaled = scaled + F.lit(2 * (lp1 - k)).cast("decimal(38,0)") * F.col(f"c{k}")
    return cagg.withColumn("_sc", scaled.cast("decimal(38,0)")) \
        .select(
            F.col("n").cast("long").alias("n"),
            F.when(
                F.col("c0") > 0,
                F.expr(
                    f"cast((_sc * 1000000) div ({lp1} * c0) as bigint)"
                ),
            ).alias("lrv_ratio_micro"),
        )


def holm_bonferroni_permutation(
    ev: DataFrame,
    group_col: str,
    unit_col: str,
    value_col: str = "value",
    n_perms: int = 64,
    alpha_ppm: int = 50_000,
) -> DataFrame:
    """Holm–Bonferroni step-down FWER control over the same family of
    per-group exact permutation tests bh_fdr_permutation screens —
    the FAMILY-WISE guarantee for the few-segments case where FDR's
    "some fraction of rejections may be false" is too weak: reject
    H_(i) iff p_(j)·(m−j+1) ≤ α for EVERY j ≤ i.

    Reuses the verified p-value pipeline (bh_fdr_permutation's exact
    ppm p-values and ascending rank) and adds the step-down prefix as
    a running max of the pure-integer adjusted values
    adj_(j) = p_ppm·(m−j+1): holm_adj_ppm = min(10⁶, runmax) and
    reject = runmax ≤ α_ppm — no float anywhere.

    Returns per group: (group, p_ppm, holm_rank, m_tests,
    holm_adj_ppm, reject).
    """
    base = bh_fdr_permutation(
        ev, group_col, unit_col, value_col, n_perms=n_perms, q_ppm=1
    ).select(
        F.col(group_col), "p_ppm",
        F.col("bh_rank").alias("holm_rank"), "m_tests",
    )
    w = Window.orderBy("holm_rank").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    adj = F.col("p_ppm") * (F.col("m_tests") - F.col("holm_rank") + 1)
    run = F.max(adj).over(w)
    return base.select(
        group_col,
        "p_ppm",
        "holm_rank",
        "m_tests",
        F.least(run, F.lit(1_000_000).cast("long")).cast("long")
        .alias("holm_adj_ppm"),
        (run <= F.lit(int(alpha_ppm))).cast("int").alias("reject"),
    )


def dunn_posthoc(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Dunn's post-hoc pairwise comparisons after Kruskal–Wallis —
    WHICH groups differ once kruskal_wallis says SOME do, on the
    SHARED midranks of the pooled sample (pairwise Mann–Whitney runs
    re-rank per pair and break the family's transitivity; Dunn does
    not): z_ab = (R̄_a − R̄_b)/√(VB·(1/n_a + 1/n_b)) with the tie-
    corrected VB = (N(N+1)(N−1) − T)/(12(N−1)), T = Σ(t³ − t).

    Tie-exact in integers: the DOUBLED midrank of value v is
    mid2(v) = 2·cumbefore(v) + c(v) + 1 on the merged distinct-value
    frame, so every group rank sum R2_g = Σ c_g(v)·mid2(v), N and T
    are exact integers and each pair's z is ONE fixed-order IEEE
    expression of them (R̄ = R2/(2n)); NULL when VB ≤ 0 (all values
    tied).

    Scale shape: one (group, value) collapse, one merged-value
    cumulative window, a value-keyed join back, one k-row group frame
    self-joined over k(k−1)/2 broadcast pairs.

    Returns per pair: (group_a, group_b, n_a, n_b, z).
    """
    dec = "decimal(38,0)"
    gv = df.select(
        F.col(group_col).alias("grp"), F.col(value_col).cast("long").alias("v")
    ).groupBy("grp", "v").agg(F.count(F.lit(1)).cast("long").alias("cg"))
    merged = gv.groupBy("v").agg(F.sum("cg").cast("long").alias("c"))
    wb = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    mid = merged.select(
        "v",
        "c",
        (F.lit(2) * F.coalesce(F.sum("c").over(wb), F.lit(0))
         + F.col("c") + 1).alias("mid2"),
    )
    per = (
        gv.join(mid, "v")
        .groupBy("grp")
        .agg(
            F.sum("cg").cast("long").alias("n_g"),
            F.sum(F.col("cg").cast(dec) * F.col("mid2")).cast(dec).alias("r2"),
        )
    )
    tot = merged.agg(
        F.sum("c").cast("long").alias("nn"),
        F.sum(
            F.col("c").cast(dec) * F.col("c") * F.col("c") - F.col("c").cast(dec)
        ).cast(dec).alias("t_corr"),
    )
    a = per.select(
        F.col("grp").alias("group_a"),
        F.col("n_g").alias("n_a"),
        F.col("r2").alias("r2_a"),
    )
    b = per.select(
        F.col("grp").alias("group_b"),
        F.col("n_g").alias("n_b"),
        F.col("r2").alias("r2_b"),
    )
    pairs = a.join(F.broadcast(b), F.col("group_a") < F.col("group_b")) \
        .crossJoin(F.broadcast(tot))
    nd = F.col("nn").cast("double")
    vb = (
        nd * (nd + F.lit(1.0)) * (nd - F.lit(1.0))
        - F.col("t_corr").cast("double")
    ) / (F.lit(12.0) * (nd - F.lit(1.0)))
    mean_a = F.col("r2_a").cast("double") / (F.lit(2.0) * F.col("n_a").cast("double"))
    mean_b = F.col("r2_b").cast("double") / (F.lit(2.0) * F.col("n_b").cast("double"))
    z = (mean_a - mean_b) / F.sqrt(
        vb * (F.lit(1.0) / F.col("n_a").cast("double")
              + F.lit(1.0) / F.col("n_b").cast("double"))
    )
    return pairs.select(
        "group_a",
        "group_b",
        "n_a",
        "n_b",
        F.when(vb > 0, F.floor(z * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6))
        .alias("z"),
    )


def cliffs_delta_groups(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Cliff's delta and Vargha–Delaney A between two NAMED groups —
    the group-vs-group sibling of cliffs_delta (which compares the md5
    experiment arms at unit level): robust ordinal effect sizes that
    answer "how big is the difference" after mann_whitney answers "is
    there one": δ = (#(x>y) − #(x<y))/
    (n_a·n_b) and A = (#(x>y) + ½#(=))/(n_a·n_b) = (δ+1)/2.

    Tie-exact in pure integers on the merged distinct-value grid: with
    cumB(v) = #(y < v) and tieB(v) = #(y = v), #(x>y) = Σ_v
    cntA(v)·cumB_below(v), all cross-multiplications exact
    decimal(38,0)/hugeint; δ releases as a SIGNED micro trunc, A as
    the doubled-numerator micro trunc (2·gt + eq)·10⁶ div (2·n_a·n_b).

    Returns one row: (n_a, n_b, delta_micro, vda_micro).
    """
    b = df.filter(F.col(group_col).isin(group_a, group_b)).select(
        F.col(value_col).cast("long").alias("v"),
        (F.col(group_col) == group_a).cast("long").alias("ia"),
        (F.col(group_col) == group_b).cast("long").alias("ib"),
    )
    g = b.groupBy("v").agg(
        F.sum("ia").cast("long").alias("ca"), F.sum("ib").cast("long").alias("cb")
    )
    wb = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    fr = g.select(
        "ca",
        "cb",
        F.coalesce(F.sum("cb").over(wb), F.lit(0)).alias("cb_below"),
        F.sum("ca").over(wall).alias("n_a"),
        F.sum("cb").over(wall).alias("n_b"),
    )
    dec = "decimal(38,0)"
    agg = fr.agg(
        F.max("n_a").cast("long").alias("n_a"),
        F.max("n_b").cast("long").alias("n_b"),
        F.sum(F.col("ca").cast(dec) * F.col("cb_below")).cast(dec).alias("gt"),
        F.sum(F.col("ca").cast(dec) * F.col("cb")).cast(dec).alias("eq"),
    )
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    prod = F.expr("cast(n_a as decimal(38,0)) * n_b")
    lt = prod - F.col("gt") - F.col("eq")
    return agg.withColumn("_lt", lt.cast(dec)).select(
        "n_a",
        "n_b",
        F.when(
            ok,
            F.expr("cast(((gt - _lt) * 1000000)"
                   " div (cast(n_a as decimal(38,0)) * n_b) as bigint)"),
        ).alias("delta_micro"),
        F.when(
            ok,
            F.expr("cast(((2 * gt + eq) * 1000000)"
                   " div (2 * cast(n_a as decimal(38,0)) * n_b) as bigint)"),
        ).alias("vda_micro"),
    )


def huber_location(
    df: DataFrame,
    group_col: str,
    value_col: str,
    c_milli: int = 1345,
) -> DataFrame:
    """One-step Huber M-estimate of location per group — the robust
    center that uses ALL the data trimmed_mean throws away and the
    median ignores: starting from the exact lower median m₀ and MAD s,
    one reweighting step with the Huber weight w = min(1, c·s/|x−m₀|)
    (c = 1.345, the 95%-efficiency constant, as the integer literal
    c_milli).

    DEFINED as the one-step estimator (not iterated to convergence —
    iteration is path-dependent; one step from the median is already
    robust and engine-exact): weights quantize to micro by the trunc
    division w_micro = min(10⁶, (c_milli·s·10⁶) div (1000·d)) with
    d = |x − m₀| — pure integers — and the release
    huber_micro = (Σw·x·10⁶) div Σw is one trunc division. s = 0
    degenerates to the median (only d = 0 points carry weight).

    Scale shape: two distinct-value cumulative windows (median, MAD),
    two broadcast joins back, one weighted aggregate.

    Returns per group: (group, n, m0, mad, huber_micro).
    """
    vals = df.select(
        F.col(group_col).alias("grp"), F.col(value_col).cast("long").alias("x")
    )

    def lower_median(frame, col, out):
        g = frame.groupBy("grp", col).agg(F.count(F.lit(1)).cast("long").alias("c"))
        wp = (
            Window.partitionBy("grp")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        wa = (
            Window.partitionBy("grp")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
        return (
            g.select(
                "grp",
                F.col(col),
                F.sum("c").over(wp).alias("cum"),
                F.sum("c").over(wa).alias("n"),
            )
            .filter(F.col("cum") >= F.expr("(n + 1) div 2"))
            .groupBy("grp")
            .agg(F.min(col).alias(out))
        )

    med = lower_median(vals, "x", "m0")
    dev = vals.join(F.broadcast(med), "grp").select(
        "grp", "x", "m0", F.abs(F.col("x") - F.col("m0")).alias("d")
    )
    mad = lower_median(dev.select("grp", F.col("d").alias("x")), "x", "mad")
    j = dev.join(F.broadcast(mad), "grp")
    w_micro = F.when(
        F.lit(1000) * F.col("d") <= F.lit(int(c_milli)) * F.col("mad"),
        F.lit(1_000_000).cast("long"),
    ).otherwise(
        F.expr(f"cast(({int(c_milli)} * mad * 1000000) div (1000 * d) as bigint)")
    )
    agg = j.select(
        "grp", "x", "m0", "mad", w_micro.alias("w")
    ).groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max("m0").alias("m0"),
        F.max("mad").alias("mad"),
        F.sum(F.col("w").cast("decimal(38,0)") * F.col("x"))
        .cast("decimal(38,0)").alias("wx"),
        F.sum("w").cast("decimal(38,0)").alias("wsum"),
    )
    return agg.select(
        F.col("grp").alias(group_col),
        "n",
        "m0",
        "mad",
        F.when(
            F.col("wsum") > 0,
            F.expr("cast((wx * 1000000) div wsum as bigint)"),
        ).alias("huber_micro"),
    )


def arch_lm(
    series: DataFrame,
    idx_col: str = "d",
    y_col: str = "y",
) -> DataFrame:
    """Engle's ARCH-LM test (lag 1) for volatility clustering in the
    daily series — ljung_box asks "do LEVELS remember"; this asks "do
    MAGNITUDES remember" (calm days following calm days is invisible
    to level autocorrelation but breaks every homoskedastic CI):
    LM = n·R² of regressing x_t = d_t² on x_{t−1}, where d_t is the
    FIRST DIFFERENCE of the densified series (differencing detrends
    exactly and keeps everything integer — no mean clearing needed,
    so the fourth powers stay inside decimal(38,0) to daily counts of
    ~10⁸; documented bound).

    R² = A_xy²/(A_xx·A_yy) from exact integer moments of the (x_t,
    x_{t−1}) overlap; LM releases as one fixed-order IEEE expression;
    NULL when either variance term is 0 (constant magnitudes).

    Returns one row: (n_pairs, lm_stat).
    """
    agg = series.groupBy(F.col(idx_col).cast("long").alias("_i")).agg(
        F.sum(F.col(y_col).cast("long")).alias("_y")
    )
    rng = agg.agg(F.min("_i").alias("_lo"), F.max("_i").alias("_hi"))
    dense = (
        rng.select(F.explode(F.sequence("_lo", "_hi")).alias("_i"))
        .join(agg, "_i", "left")
        .select("_i", F.coalesce("_y", F.lit(0)).alias("_y"))
    )
    w = Window.orderBy("_i")
    d = dense.select(
        "_i", (F.col("_y") - F.lag("_y").over(w)).alias("_d")
    ).filter(F.col("_d").isNotNull())
    x = d.select(
        "_i", (F.col("_d").cast("decimal(38,0)") * F.col("_d")).alias("_x")
    )
    pairs = x.select(
        F.col("_x").alias("xt"),
        F.lag("_x").over(Window.orderBy("_i")).alias("xl"),
    ).filter(F.col("xl").isNotNull())
    dec = "decimal(38,0)"
    m = pairs.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("xt").cast(dec).alias("st"),
        F.sum("xl").cast(dec).alias("sl"),
        F.sum(F.col("xt") * F.col("xt")).cast(dec).alias("qt"),
        F.sum(F.col("xl") * F.col("xl")).cast(dec).alias("ql"),
        F.sum(F.col("xt") * F.col("xl")).cast(dec).alias("qc"),
    )
    axx = (F.col("n") * F.col("ql") - F.col("sl") * F.col("sl")).cast("double")
    ayy = (F.col("n") * F.col("qt") - F.col("st") * F.col("st")).cast("double")
    axy = (F.col("n") * F.col("qc") - F.col("sl") * F.col("st")).cast("double")
    lm = F.col("n").cast("double") * (axy * axy) / (axx * ayy)
    return m.select(
        F.col("n").cast("long").alias("n_pairs"),
        F.when(
            (axx > 0) & (ayy > 0),
            F.floor(lm * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6),
        ).alias("lm_stat"),
    )


def records_test(
    series: DataFrame,
    idx_col: str = "d",
    y_col: str = "y",
) -> DataFrame:
    """Record-breaking count test: the number of STRICT running-max
    records R in the series versus the iid expectation E[R] = H_n and
    Var[R] = H_n − H_n⁽²⁾ (records are distribution-free — any iid
    series has the same law, so this gate needs no moments at all;
    a trend inflates R, mean reversion suppresses it).

    R is a pure integer (running max via one window, strict
    inequality); the harmonic numbers enter as DEFINED integer
    quantizations H_nano = Σ(10⁹ div k) and H2_nano = Σ(10⁹ div k²),
    summed over the in-frame rank column — so
    z = (R − H/10⁹)/√((H − H2)/10⁹) is one fixed-order IEEE
    expression of exact integers; NULL when Var ≤ 0 (n < 2).

    Returns one row: (n, n_records, z).
    """
    w = Window.orderBy(F.col(idx_col).cast("long"))
    prev_max = F.max(F.col(y_col).cast("long")).over(
        Window.orderBy(F.col(idx_col).cast("long"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = series.select(
        F.col(y_col).cast("long").alias("y"),
        prev_max.alias("pm"),
        F.row_number().over(w).alias("rk"),
    )
    agg = flagged.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            (F.col("pm").isNull() | (F.col("y") > F.col("pm"))).cast("long")
        ).cast("long").alias("n_records"),
        F.sum(F.expr("1000000000 div rk")).cast("long").alias("h_nano"),
        F.sum(F.expr("1000000000 div (rk * rk)")).cast("long").alias("h2_nano"),
    )
    var = (F.col("h_nano") - F.col("h2_nano")).cast("double") / F.lit(1e9)
    z = (
        F.col("n_records").cast("double")
        - F.col("h_nano").cast("double") / F.lit(1e9)
    ) / F.sqrt(var)
    return agg.select(
        "n",
        "n_records",
        F.when(var > 0, F.floor(z * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6))
        .alias("z"),
    )


def gumbel_moments(
    series: DataFrame,
    idx_col: str = "d",
    y_col: str = "y",
    block_days: int = 7,
) -> DataFrame:
    """Gumbel (EV-I) location/scale fit to the BLOCK MAXIMA of the
    daily series by the method of moments — the return-level model the
    peaks_over_threshold exceedances complement (weekly maxima of
    event counts are the classic Gumbel domain): σ = s·√6/π and
    μ = m − γ·σ (Euler–Mascheroni γ), both constants as fixed decimal
    literals.

    Weekly maxima are exact integers (one epoch-block groupBy, no
    calendar functions); the mean and the cleared spread A = k·Σm² −
    (Σm)² are exact; σ and μ are each ONE fixed-order IEEE expression;
    NULL when fewer than 2 blocks or A = 0.

    Returns one row: (n_blocks, mu, sigma).
    """
    daily = series.groupBy(F.col(idx_col).cast("long").alias("_i")).agg(
        F.sum(F.col(y_col).cast("long")).alias("_y")
    )
    blocks = daily.groupBy(
        F.expr(f"_i div {int(block_days)}").alias("_b")
    ).agg(F.max("_y").cast("long").alias("m"))
    dec = "decimal(38,0)"
    agg = blocks.agg(
        F.count(F.lit(1)).cast(dec).alias("k"),
        F.sum("m").cast(dec).alias("s"),
        F.sum(F.col("m").cast(dec) * F.col("m")).cast(dec).alias("q"),
    )
    a = (F.col("k") * F.col("q") - F.col("s") * F.col("s")).cast("double")
    kd = F.col("k").cast("double")
    sd_blocks = F.sqrt(a / (kd * (kd - F.lit(1.0))))
    sigma = sd_blocks * F.lit(0.7796968)  # sqrt(6)/pi
    mu = F.col("s").cast("double") / kd - F.lit(0.5772157) * sigma
    ok = (F.col("k") >= 2) & (a > 0)
    return agg.select(
        F.col("k").cast("long").alias("n_blocks"),
        F.when(ok, F.floor(mu * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6))
        .alias("mu"),
        F.when(ok, F.floor(sigma * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6))
        .alias("sigma"),
    )


def rayleigh_hour_uniformity(events: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Rayleigh test of circular uniformity over the hour-of-day clock —
    the CIRCULAR companion to dow_uniformity's chi-square: a chi-square
    sees hour 23 and hour 0 as maximally different categories, while the
    Rayleigh statistic respects the wrap-around and detects CONCENTRATION
    of events around any clock direction (the diurnal-load question "is
    traffic pulled toward one time of day", the first read before
    capacity planning trusts a flat-provisioning assumption).

    The 24 unit-circle directions cos/sin(2*pi*h/24) are micro-quantized
    PLAN LITERALS precomputed in Python (the gumbel/return_levels
    precedent) — no runtime trig on either engine. The resultant
    components C = sum_h c_h*cos_micro[h], S = sum_h c_h*sin_micro[h]
    are exact integers over the <=24-row hour histogram; the mean
    resultant length squared R_bar^2 = (C^2+S^2)/(n*1e6)^2 and the
    Rayleigh statistic Z = n*R_bar^2 are released as floor-quantized
    ppm/micro integers on nonnegative operands (squares), so both
    engines agree bit-for-bit. |C|,|S| <= n*1e6 — bigint-safe to
    ~9e12 events per released row; the squares ride decimal(38,0)/
    hugeint (safe to ~1e16 events).

    Scale shape: ONE partial-aggregable groupBy on the 24-value hour key
    (shuffle bounded by 24 rows, never corpus size), then a 24-row
    global aggregate. Hour is an epoch integer division — no
    locale/timezone-dependent date function on either engine.

    Returns one row: (n_events, c_micro, s_micro, r2_ppm, z_micro).
    """
    import math

    ct = [int(math.floor(math.cos(2 * math.pi * h / 24) * 1e6 + 0.5)) for h in range(24)]
    st = [int(math.floor(math.sin(2 * math.pi * h / 24) * 1e6 + 0.5)) for h in range(24)]
    per = (
        events.select(
            # fail loudly on pre-epoch timestamps: Spark's div/% truncate
            # toward zero while the oracle's // floors, so negative hours
            # would silently diverge (ADVICE r5) — the operator contract is
            # ts >= epoch and violations now raise instead of mis-indexing
            F.when(
                F.expr(f"unix_micros(cast({ts_col} as timestamp))") >= 0,
                (F.expr(f"unix_micros(cast({ts_col} as timestamp)) div 3600000000") % 24)
                .cast("int"),
            ).otherwise(
                F.raise_error("hour-circular statistics require ts >= epoch")
            ).alias("h")
        )
        .groupBy("h")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    dec = "decimal(38,0)"
    cosv = F.element_at(F.array(*[F.lit(v) for v in ct]), F.col("h") + 1)
    sinv = F.element_at(F.array(*[F.lit(v) for v in st]), F.col("h") + 1)
    agg = per.agg(
        F.sum("c").cast(dec).alias("n"),
        F.sum(F.col("c").cast(dec) * cosv).cast(dec).alias("cc"),
        F.sum(F.col("c").cast(dec) * sinv).cast(dec).alias("ss"),
    )
    return agg.select(
        F.col("n").cast("long").alias("n_events"),
        F.col("cc").cast("long").alias("c_micro"),
        F.col("ss").cast("long").alias("s_micro"),
        F.when(
            F.col("n") > 0,
            F.expr("cast((cc * cc + ss * ss) div (n * n * 1000000) as bigint)"),
        ).alias("r2_ppm"),
        F.when(
            F.col("n") > 0,
            F.expr("cast((cc * cc + ss * ss) div (n * 1000000) as bigint)"),
        ).alias("z_micro"),
    )


def fleiss_kappa_binary(
    items: DataFrame,
    rating_cols: tuple = ("r1", "r2", "r3"),
) -> DataFrame:
    """Fleiss' kappa (1971) for m fixed binary raters over N items — the
    MULTI-rater agreement coefficient beside cohens_kappa (2 raters) and
    krippendorff (variable raters per unit): how much do m deterministic
    labeling heuristics agree beyond the chance their marginal rates
    imply? The registered query rates each user by three independent
    quality heuristics; kappa near 0 says the "quality" signals are
    measuring different things, kappa near 1 says any one of them
    suffices.

    Exact integer path: per item the agreement kernel
    P_i = (n1_i^2 + (m-n1_i)^2 - m) / (m(m-1)) has an integer numerator
    — sum it raw (order-free), ONE ppm trunc division at release.
    Chance agreement uses the pooled positive count s1 = sum n1_i:
    pe_ppm = (s1^2 + (mN-s1)^2) * 1e6 // (mN)^2, and
    kappa_ppm = (p_bar_ppm - pe_ppm) * 1e6 // (1e6 - pe_ppm) — every
    division a floor on nonnegative operands except the final signed
    numerator, released via sign decomposition so Spark's
    truncation-toward-zero `div` and DuckDB's flooring `//` agree.

    Scale shape: one row per item in, ONE global 3-sum aggregate out
    (partial-aggregable; no shuffle beyond the 1-row reduce).

    Returns one row: (n_items, m_raters, s1, p_bar_ppm, pe_ppm,
    kappa_ppm).
    """
    m = len(rating_cols)
    n1 = sum(F.col(c).cast("long") for c in rating_cols).alias("n1")
    per = items.select(n1)
    dec = "decimal(38,0)"
    agg = per.agg(
        F.count(F.lit(1)).cast(dec).alias("nn"),
        F.sum("n1").cast(dec).alias("s1"),
        F.sum(
            F.col("n1").cast(dec) * F.col("n1")
            + (F.lit(m) - F.col("n1")).cast(dec) * (F.lit(m) - F.col("n1"))
            - F.lit(m)
        ).cast(dec).alias("pnum"),
    )
    p_bar = F.expr(f"cast((pnum * 1000000) div (nn * {m * (m - 1)}) as bigint)")
    pe = F.expr(
        f"cast(((s1 * s1 + ({m} * nn - s1) * ({m} * nn - s1)) * 1000000)"
        f" div (({m} * nn) * ({m} * nn)) as bigint)"
    )
    out = agg.select(
        F.col("nn").cast("long").alias("n_items"),
        F.lit(m).cast("long").alias("m_raters"),
        F.col("s1").cast("long").alias("s1"),
        p_bar.alias("p_bar_ppm"),
        pe.alias("pe_ppm"),
    )
    knum = (F.col("p_bar_ppm") - F.col("pe_ppm")).cast("decimal(38,0)")
    kden = (F.lit(1000000) - F.col("pe_ppm")).cast("decimal(38,0)")
    kappa = F.when(
        F.col("pe_ppm") < 1000000,
        F.signum(knum.cast("double")).cast("long")
        * F.expr("cast((abs(cast(p_bar_ppm - pe_ppm as decimal(38,0))) * 1000000)"
                 " div cast(1000000 - pe_ppm as decimal(38,0)) as bigint)"),
    ).alias("kappa_ppm")
    return out.select("n_items", "m_raters", "s1", "p_bar_ppm", "pe_ppm", kappa)


def spiegelhalter_z(
    scored: DataFrame,
    y_col: str = "y",
    p_ppm_col: str = "p_ppm",
) -> DataFrame:
    """Spiegelhalter's (1986) calibration Z test over (outcome, forecast)
    pairs with ppm-quantized probabilities — the hypothesis-test
    companion to calibration_ece/brier_decomp: ECE measures HOW FAR the
    forecasts sit from the diagonal, this asks whether the deviation
    exceeds what binomial noise at those exact forecasts would produce.
    Z^2 = [sum (y - p)(1 - 2p)]^2 / [sum (1 - 2p)^2 p (1 - p)].

    With p in exact ppm both sums are exact integers (each term a
    product of <= 1e6-bounded factors; the variance sum rides
    decimal(38,0)/hugeint). Releases: n pairs, the signed numerator in
    micro units via sign decomposition (Spark trunc-div vs DuckDB
    floor-div never sees a negative), the variance quantized by 1e12,
    and the convenience z2_ppm from the two quantized releases —
    bigint-exact to ~3e8 pairs; beyond that consumers recombine the
    released sums client-side.

    Scale shape: ONE global aggregate (partial-aggregable, order-free
    integer sums); no shuffle beyond the 1-row reduce.

    Returns one row: (n, num_micro, var_micro6, z_sign, z2_ppm).
    """
    dec = "decimal(38,0)"
    yterm = (F.col(y_col).cast(dec) * 1000000 - F.col(p_ppm_col))
    one_m_2p = (F.lit(1000000).cast(dec) - 2 * F.col(p_ppm_col))
    pvar = F.col(p_ppm_col).cast(dec) * (F.lit(1000000).cast(dec) - F.col(p_ppm_col))
    agg = scored.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(yterm * one_m_2p).cast(dec).alias("num"),
        F.sum(one_m_2p * one_m_2p * pvar).cast(dec).alias("den2"),
    )
    rel = agg.select(
        "n",
        F.expr("cast(case when num > 0 then 1 when num < 0 then -1 else 0 end as bigint)")
        .alias("z_sign"),
        F.expr("cast(abs(num) div 1000000 as bigint)").alias("abs_num_micro"),
        F.expr("cast(den2 div 1000000000000 as bigint)").alias("var_micro6"),
    )
    return rel.select(
        "n",
        (F.col("z_sign") * F.col("abs_num_micro")).alias("num_micro"),
        "var_micro6",
        "z_sign",
        F.when(
            F.col("var_micro6") > 0,
            F.expr(
                "cast((cast(abs_num_micro as decimal(38,0)) * abs_num_micro * 1000000)"
                " div cast(var_micro6 as decimal(38,0)) as bigint)"
            ),
        ).alias("z2_ppm"),
    )


def ols_influence_topk(
    xy: DataFrame,
    id_col: str = "id",
    x_col: str = "x",
    y_col: str = "y",
    k: int = 20,
) -> DataFrame:
    """Simple-OLS influence diagnostics — leverage h_i and Cook's
    distance D_i for y ~ a + b*x — released as the top-k most
    influential rows: WHICH observations own the fit that ols_fit_predict
    reports (the regression-audit question grubbs/mad_outliers answer
    only marginally, since a point can be influential without being a
    y-outlier when it sits at extreme x).

    Exact-integer path (p = 2 parameters):
      h_i    = 1/n + (n*x_i - Sx)^2 / (n*(n*Sxx - Sx^2))   -> floor ppm
      e_i    = [bden*(n*y_i - Sy) - bnum*(n*x_i - Sx)] / (n*bden)
               with bnum = n*Sxy - Sx*Sy, bden = n*Sxx - Sx^2
               -> sign-decomposed floor in y units
      s^2    = sum(e_i^2) div (n - 2)    over the QUANTIZED residuals
      D_i    = e_i^2 * h_i / (2 * s^2 * (1 - h_i)^2)       -> floor micro
    Every division floors nonnegative operands (signs handled by
    decomposition), so Spark and DuckDB agree bit-for-bit. Intermediate
    products ride decimal(38,0)/hugeint — safe for n*|y|max and
    n*Sxx-scale products up to ~1e31 (documented frame: per-entity
    aggregates, not raw corpus rows).

    Scale shape: one global 5-moment aggregate, broadcast back as a
    1-row crossJoin (the allowlisted bounded-BNLJ pattern); one more
    1-row aggregate for s^2; top-k via orderBy(limit) = TakeOrdered,
    never a full sort to the driver.

    Returns k rows: (id, x, y, e_q, h_ppm, cook_micro), most
    influential first (cook desc, NULLS LAST, id asc).
    """
    dec = "decimal(38,0)"
    base = xy.select(
        F.col(id_col).alias("id"),
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("long").alias("y"),
    )
    stats = base.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("x").cast(dec).alias("sx"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).cast(dec).alias("sxx"),
        F.sum(F.col("x").cast(dec) * F.col("y")).cast(dec).alias("sxy"),
    ).select(
        "n", "sx", "sy",
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("bden"),
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("bnum"),
    )
    j = base.crossJoin(F.broadcast(stats)).filter(
        (F.col("n") > 2) & (F.col("bden") > 0)
    )
    dx = (F.col("n") * F.col("x") - F.col("sx"))
    ee = (
        F.col("bden") * (F.col("n") * F.col("y") - F.col("sy"))
        - F.col("bnum") * dx
    )
    per = j.select(
        "id", "x", "y", "n",
        F.expr("cast(cast(1000000 as decimal(38,0)) div n as bigint)")
        .alias("_h_base"),
        F.expr(
            "cast(((cast(n as decimal(38,0)) * x - sx)"
            " * (cast(n as decimal(38,0)) * x - sx) * 1000000)"
            " div (n * bden) as bigint)"
        ).alias("_h_dx"),
        F.when(ee >= 0, F.lit(1)).otherwise(F.lit(-1)).alias("_es"),
        F.expr(
            "cast(abs(bden * (cast(n as decimal(38,0)) * y - sy)"
            " - bnum * (cast(n as decimal(38,0)) * x - sx))"
            " div (n * bden) as bigint)"
        ).alias("_ea"),
    ).select(
        "id", "x", "y", "n",
        (F.col("_h_base") + F.col("_h_dx")).alias("h_ppm"),
        (F.col("_es") * F.col("_ea")).alias("e_q"),
    )
    s2 = per.agg(
        F.max("n").cast(dec).alias("n2"),
        F.sum(F.col("e_q").cast(dec) * F.col("e_q")).cast(dec).alias("se2"),
    ).select(F.expr("cast(se2 div (n2 - 2) as decimal(38,0))").alias("s2q"))
    out = per.crossJoin(F.broadcast(s2)).select(
        "id", "x", "y", "e_q", "h_ppm",
        F.when(
            (F.col("s2q") > 0) & (F.col("h_ppm") < 1000000),
            F.expr(
                "cast((cast(e_q as decimal(38,0)) * e_q * h_ppm * 1000000000000)"
                " div (2 * s2q * cast(1000000 - h_ppm as decimal(38,0))"
                " * (1000000 - h_ppm)) as bigint)"
            ),
        ).alias("cook_micro"),
    )
    return out.orderBy(
        F.col("cook_micro").desc_nulls_last(), F.col("id").asc()
    ).limit(k)


def watson_u2_hours(events: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Watson's U^2 against the uniform law on the 24-hour clock, in the
    grouped/discrete form of Choulakian, Lockhart & Stephens (1994) —
    the OMNIBUS circular goodness-of-fit beside rayleigh_hours: the
    Rayleigh statistic only sees the first circular moment (a perfectly
    BIMODAL day — 9am and 9pm spikes — cancels to R=0), while U^2 is
    rotation-invariant and catches any departure from flatness.

    With hour counts c_h on the full 0..23 grid, cumulative C_h and
    N_h = 24*C_h - n*(h+1), the grouped statistic collapses to
        U^2 = (24*sum N_h^2 - (sum N_h)^2) / (331776 * n)
    — numerator nonnegative by Cauchy-Schwarz, so the single floor
    division releases an exact micro integer on nonneg operands.
    |N_h| <= 24n: the squares ride decimal(38,0)/hugeint (safe to
    ~1e16 events).

    Scale shape: one 24-key partial-aggregable groupBy, a left join
    onto the literal 24-row hour grid (missing hours MUST count as
    zero in the CDF), two 24-row window passes, one global aggregate.

    Returns one row: (n_events, u2_micro).
    """
    from pyspark.sql import Window

    spark = events.sparkSession
    per = (
        events.select(
            # fail loudly on pre-epoch timestamps: Spark's div/% truncate
            # toward zero while the oracle's // floors, so negative hours
            # would silently diverge (ADVICE r5) — the operator contract is
            # ts >= epoch and violations now raise instead of mis-indexing
            F.when(
                F.expr(f"unix_micros(cast({ts_col} as timestamp))") >= 0,
                (F.expr(f"unix_micros(cast({ts_col} as timestamp)) div 3600000000") % 24)
                .cast("int"),
            ).otherwise(
                F.raise_error("hour-circular statistics require ts >= epoch")
            ).alias("h")
        )
        .groupBy("h")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    grid = spark.range(24).select(F.col("id").cast("int").alias("h"))
    full = grid.join(per, "h", "left").select(
        "h", F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c")
    )
    wc = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.orderBy("h").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    dec = "decimal(38,0)"
    nh = full.select(
        (
            F.lit(24).cast(dec) * F.sum("c").over(wc).cast(dec)
            - F.sum("c").over(wall).cast(dec) * (F.col("h") + 1)
        ).alias("nh"),
        F.sum("c").over(wall).cast("long").alias("n"),
    )
    agg = nh.groupBy("n").agg(
        F.sum("nh").cast(dec).alias("sn"),
        F.sum(F.col("nh") * F.col("nh")).cast(dec).alias("sn2"),
    )
    return agg.select(
        F.col("n").alias("n_events"),
        F.when(
            F.col("n") > 0,
            F.expr(
                "cast(((24 * sn2 - sn * sn) * 1000000)"
                " div (331776 * cast(n as decimal(38,0))) as bigint)"
            ),
        ).alias("u2_micro"),
    )


def page_hinkley(
    series: DataFrame,
    idx_col: str = "d",
    y_col: str = "y",
    delta_q: int = 0,
) -> DataFrame:
    """Page-Hinkley drift sequence over an ordered integer series — the
    running-mean CUSUM variant (Page 1954; Hinkley 1971) the streaming
    drift-detection literature standardizes on (Gama et al.'s PHT):
    cusum_drift tracks deviation from a FIXED reference; this tracks
    deviation from the series' own RUNNING mean, so it detects drift
    without a calibration period.

    Exact path: running mean floor-quantized per step (mean_t =
    cumsum(x) div t, nonneg series assumed — the registered query feeds
    daily counts), dev_t = x_t - mean_t - delta_q an exact integer,
    m_t = cumsum(dev), ph_t = m_t - min_{i<=t} m_i >= 0. Every step is
    a window expression over the day-ordered frame; both engines floor
    the same nonnegative cumsum, so the whole trajectory is
    bit-identical.

    Scale shape: the input is a per-period aggregate (days, not corpus
    rows); two ordered window passes over that bounded frame. The
    corpus-sized stage is the upstream groupBy producing the series.

    Returns one row per period: (d, x, mean_q, m_t, ph_t), day order.
    """
    from pyspark.sql import Window

    daily = series.select(
        F.col(idx_col).cast("long").alias("d"),
        F.col(y_col).cast("long").alias("x"),
    )
    wc = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    step = daily.select(
        "d", "x",
        F.expr(
            f"sum(x) over (order by d rows between unbounded preceding and"
            f" current row) div (row_number() over (order by d))"
        ).cast("long").alias("mean_q"),
    ).select(
        "d", "x", "mean_q",
        (F.col("x") - F.col("mean_q") - F.lit(int(delta_q))).alias("_dev"),
    )
    out = step.select(
        "d", "x", "mean_q",
        F.sum("_dev").over(wc).cast("long").alias("m_t"),
    )
    return out.select(
        "d", "x", "mean_q", "m_t",
        (F.col("m_t") - F.min("m_t").over(wc)).cast("long").alias("ph_t"),
    )


def hoeffding_d(
    xy: DataFrame,
    id_col: str = "id",
    x_col: str = "x",
    y_col: str = "y",
    max_rows: int = 8192,
) -> DataFrame:
    """Hoeffding's D (1948) — the rank-based dependence measure that
    detects ANY association, not just monotone: spearman/kendall_tau
    read 0 on a perfect U-shape, D does not. Ties are resolved by the
    deterministic lexicographic order (value, id) — the classic
    statistic assumes continuous marginals, so the pseudo-rank
    tie-break is documented rather than hidden (same release-shape
    philosophy as the DBSCAN border tie rule).

    With R/S the tie-broken x/y ranks and Q_i = 1 + #{j : R_j < R_i,
    S_j < S_i} the bivariate dominance count:
      D1 = sum (Q-1)(Q-2),  D2 = sum (R-1)(R-2)(S-1)(S-2),
      D3 = sum (R-2)(S-2)(Q-1),
      D  = 30 * [(n-2)(n-3)D1 + D2 - 2(n-2)D3] / [n(n-1)...(n-4)]
    — all exact integers; the one signed division releases d_micro via
    sign decomposition.

    Scale shape: the input is a per-entity aggregate frame, counted
    FIRST and fail-fast above ``max_rows`` (the _collect_corpus
    contract) because the dominance count is a deliberate O(n^2)
    exact meter — run it on a bounded frame or a deterministic md5
    sample, never raw corpus rows. One single-group Arrow kernel emits
    (R, S, Q); the moment sums and the release stay in Catalyst as
    order-free integer aggregates.

    Returns one row: (n, d1, d2, d3, d_micro).
    """
    import pandas as pd

    base = xy.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("long").alias("y"),
    )
    n = base.count()
    if n > max_rows:
        raise ValueError(
            f"hoeffding_d: {n} rows > max_rows={max_rows}; the dominance "
            "count is O(n^2) — pass a bounded aggregate frame or a "
            "deterministic md5 sample"
        )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        ids = pdf["id"].to_numpy()
        xs = pdf["x"].to_numpy()
        ys = pdf["y"].to_numpy()
        k = len(ids)
        r = np.empty(k, dtype=np.int64)
        r[np.lexsort((ids, xs))] = np.arange(1, k + 1)
        s = np.empty(k, dtype=np.int64)
        s[np.lexsort((ids, ys))] = np.arange(1, k + 1)
        dom = (r[:, None] > r[None, :]) & (s[:, None] > s[None, :])
        q = dom.sum(axis=1).astype(np.int64) + 1
        return pd.DataFrame({"id": ids, "r": r, "s": s, "q": q})

    rsq = base.withColumn("_g", F.lit(0)).groupBy("_g").applyInPandas(
        kernel, schema="id long, r long, s long, q long"
    )
    dec = "decimal(38,0)"
    agg = rsq.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum((F.col("q") - 1).cast(dec) * (F.col("q") - 2)).cast(dec).alias("d1"),
        F.sum(
            (F.col("r") - 1).cast(dec) * (F.col("r") - 2)
            * (F.col("s") - 1) * (F.col("s") - 2)
        ).cast(dec).alias("d2"),
        F.sum(
            (F.col("r") - 2).cast(dec) * (F.col("s") - 2) * (F.col("q") - 1)
        ).cast(dec).alias("d3"),
    )
    num = "(30 * ((n - 2) * (n - 3) * d1 + d2 - 2 * (n - 2) * d3))"
    den = "(n * (n - 1) * (n - 2) * (n - 3) * (n - 4))"
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.col("d1").cast("long").alias("d1"),
        F.col("d2").cast("long").alias("d2"),
        F.col("d3").cast("long").alias("d3"),
        F.when(
            F.col("n") >= 5,
            F.expr(
                f"cast(case when {num} >= 0 then 1 else -1 end as bigint)"
            )
            * F.expr(f"cast((abs({num}) * 1000000) div {den} as bigint)"),
        ).alias("d_micro"),
    )


def breusch_pagan(
    xy: DataFrame,
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Breusch-Pagan heteroscedasticity test (Koenker's studentized
    n*R^2 form) for y ~ a + b*x: does the residual VARIANCE move with
    x? durbin_watson audits residual autocorrelation, this audits the
    constant-variance assumption — the other half of the OLS health
    check, and the reason to distrust ols_fit_predict's single s^2
    when it fails.

    Path: residuals in exact integer form (the ols_influence algebra:
    e_q = sign-decomposed [bden*(n*y - Sy) - bnum*(n*x - Sx)] div
    (n*bden)), then the auxiliary regression of z = e_q^2 on x is
    released in the degree_assortativity convention — exact decimal
    moments (stringified where they exceed bigint), plus
    r2_signed_raw and lm_micro = floor(n*R^2*1e6 + 0.5) as ONE
    fixed-operand-order IEEE expression each, since n*var(z)-scale
    products overflow any fixed-width integer at corpus scale.

    Scale shape: two global aggregates with 1-row broadcast crossJoins
    (allowlisted bounded-BNLJ pattern), everything partial-aggregable.

    Returns one row: (n, sx, sz_str, sxz_str, r2_signed_raw, lm_micro).
    """
    dec = "decimal(38,0)"
    base = xy.select(
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("long").alias("y"),
    )
    stats = base.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("x").cast(dec).alias("sx"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).cast(dec).alias("sxx"),
        F.sum(F.col("x").cast(dec) * F.col("y")).cast(dec).alias("sxy"),
    ).select(
        "n", "sx", "sy", "sxx",
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("bden"),
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("bnum"),
    )
    j = base.crossJoin(F.broadcast(stats)).filter(
        (F.col("n") > 2) & (F.col("bden") > 0)
    )
    per = j.select(
        "x", "n", "sx", "sxx", "bden",
        (
            F.expr(
                "cast(case when bden * (cast(n as decimal(38,0)) * y - sy)"
                " - bnum * (cast(n as decimal(38,0)) * x - sx) >= 0"
                " then 1 else -1 end as bigint)"
            )
            * F.expr(
                "cast(abs(bden * (cast(n as decimal(38,0)) * y - sy)"
                " - bnum * (cast(n as decimal(38,0)) * x - sx))"
                " div (n * bden) as bigint)"
            )
        ).alias("e_q"),
    ).withColumn("z", F.col("e_q").cast(dec) * F.col("e_q"))
    m = per.groupBy("n", "sx", "sxx", "bden").agg(
        F.sum("z").cast(dec).alias("sz"),
        F.sum(F.col("x").cast(dec) * F.col("z")).cast(dec).alias("sxz"),
        F.sum(F.col("z") * F.col("z")).cast(dec).alias("szz"),
    )
    numd = (
        F.col("n").cast("double") * F.col("sxz").cast("double")
        - F.col("sx").cast("double") * F.col("sz").cast("double")
    )
    vx = F.col("bden").cast("double")
    vz = (
        F.col("n").cast("double") * F.col("szz").cast("double")
        - F.col("sz").cast("double") * F.col("sz").cast("double")
    )
    r2 = F.when(vz > 0, numd * numd / (vx * vz)).otherwise(F.lit(0.0))
    return m.select(
        F.col("n").cast("long").alias("n"),
        F.col("sx").cast("long").alias("sx"),
        F.col("sz").cast("string").alias("sz_str"),
        F.col("sxz").cast("string").alias("sxz_str"),
        (F.signum(numd) * r2).alias("r2_signed_raw"),
        F.floor(
            F.col("n").cast("double") * r2 * F.lit(1e6) + F.lit(0.5)
        ).cast("long").alias("lm_micro"),
    )


def kupiec_pof(
    values: DataFrame,
    v_col: str = "v",
    arm_col: str = "arm",
    p_ppm: int = 50000,
) -> DataFrame:
    """Kupiec's proportion-of-failures VaR backtest (1995) — the
    coverage test every risk/SLA threshold should pass before anyone
    trusts it: fit the (1-p) quantile threshold on the training half,
    count threshold exceedances on the held-out half, and ask whether
    the realized exception rate is consistent with p via the binomial
    likelihood ratio
      LR = -2[ (n-x)ln(1-p) + x ln p - (n-x)ln(1-x/n) - x ln(x/n) ].

    Engine-exact: the threshold is the EXACT integer order statistic
    (smallest train value whose cumulative distinct-value count reaches
    ceil((1-p)*n_train)); ln(p)/ln(1-p) are nano PLAN LITERALS and the
    data-dependent terms are keyness-convention nano-quantized lns of
    exact integers — the release is pure integer adds/multiplies, no
    division anywhere, so no sign decomposition is needed. Zero-count
    sides contribute zero (lim x ln x = 0).

    Scale shape: one distinct-value cumulative frame for the
    threshold (shuffle bounded by value cardinality), one conditional
    global aggregate per half.

    Returns one row: (n_train, thr, n_test, x_exceptions, p_ppm,
    lr_nano).
    """
    import math

    from pyspark.sql import Window

    lnp = int(math.floor(math.log(p_ppm / 1e6) * 1e9 + 0.5))
    lnq = int(math.floor(math.log(1 - p_ppm / 1e6) * 1e9 + 0.5))
    base = values.select(
        F.col(v_col).cast("long").alias("v"),
        F.col(arm_col).cast("int").alias("arm"),
    )
    tr = base.filter(F.col("arm") == 0).groupBy("v").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    wc = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = tr.select(
        "v",
        F.sum("c").over(wc).alias("cum"),
        F.sum("c").over(wall).alias("nt"),
    )
    thr = cum.groupBy("nt").agg(
        F.min(
            F.when(
                F.col("cum") * 1000000 >= F.col("nt") * (1000000 - p_ppm),
                F.col("v"),
            )
        ).alias("thr")
    ).select(F.col("nt").cast("long").alias("n_train"), "thr")
    te = base.filter(F.col("arm") == 1).crossJoin(F.broadcast(thr)).agg(
        F.max("n_train").alias("n_train"),
        F.max("thr").alias("thr"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("v") > F.col("thr"), 1).otherwise(0))
        .cast("long").alias("x"),
    )

    def nln(c):
        return F.floor(F.log(c.cast("double")) * F.lit(1e9) + F.lit(0.5)) \
            .cast("long")

    nx = F.col("n") - F.col("x")
    null_side = (
        F.when(nx > 0, nx * (nln(nx) - nln(F.col("n")))).otherwise(F.lit(0))
        + F.when(F.col("x") > 0,
                 F.col("x") * (nln(F.col("x")) - nln(F.col("n"))))
        .otherwise(F.lit(0))
    )
    lr = -2 * (nx * F.lit(lnq) + F.col("x") * F.lit(lnp) - null_side)
    return te.select(
        "n_train", "thr",
        F.col("n").alias("n_test"),
        F.col("x").alias("x_exceptions"),
        F.lit(int(p_ppm)).cast("long").alias("p_ppm"),
        F.when(F.col("n") > 0, lr).cast("long").alias("lr_nano"),
    )


def gwet_ac1_binary(
    items: DataFrame,
    rating_cols: tuple = ("r1", "r2", "r3"),
) -> DataFrame:
    """Gwet's AC1 (2008) for m fixed binary raters — the
    paradox-resistant twin of fleiss_kappa: with skewed prevalence,
    chance agreement p_e = p1^2 + p0^2 approaches 1 and Fleiss' kappa
    collapses toward 0 even when raters almost always agree (the
    "kappa paradox"); Gwet's chance term 2*pi*(1-pi) instead
    approaches 0, keeping the coefficient interpretable. Same observed
    agreement P_i kernel, same exact integer path, different chance
    correction — report both and the gap IS the prevalence-skew
    diagnostic.

    Returns one row: (n_items, m_raters, s1, p_bar_ppm, pe_gwet_ppm,
    ac1_ppm).
    """
    m = len(rating_cols)
    n1 = sum(F.col(c).cast("long") for c in rating_cols).alias("n1")
    per = items.select(n1)
    dec = "decimal(38,0)"
    agg = per.agg(
        F.count(F.lit(1)).cast(dec).alias("nn"),
        F.sum("n1").cast(dec).alias("s1"),
        F.sum(
            F.col("n1").cast(dec) * F.col("n1")
            + (F.lit(m) - F.col("n1")).cast(dec) * (F.lit(m) - F.col("n1"))
            - F.lit(m)
        ).cast(dec).alias("pnum"),
    )
    p_bar = F.expr(f"cast((pnum * 1000000) div (nn * {m * (m - 1)}) as bigint)")
    pe = F.expr(
        f"cast((2 * s1 * ({m} * nn - s1) * 1000000)"
        f" div (({m} * nn) * ({m} * nn)) as bigint)"
    )
    out = agg.select(
        F.col("nn").cast("long").alias("n_items"),
        F.lit(m).cast("long").alias("m_raters"),
        F.col("s1").cast("long").alias("s1"),
        p_bar.alias("p_bar_ppm"),
        pe.alias("pe_gwet_ppm"),
    )
    ac1 = F.when(
        F.col("pe_gwet_ppm") < 1000000,
        F.expr(
            "cast(case when p_bar_ppm > pe_gwet_ppm then 1"
            " when p_bar_ppm < pe_gwet_ppm then -1 else 0 end as bigint)"
        )
        * F.expr(
            "cast((abs(cast(p_bar_ppm - pe_gwet_ppm as decimal(38,0))) * 1000000)"
            " div cast(1000000 - pe_gwet_ppm as decimal(38,0)) as bigint)"
        ),
    ).alias("ac1_ppm")
    return out.select(
        "n_items", "m_raters", "s1", "p_bar_ppm", "pe_gwet_ppm", ac1
    )


def taylor_law(
    events: DataFrame,
    group_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Taylor's law / fluctuation scaling (Taylor 1961; Eisler et al.
    2008): across groups, daily-count variance grows as a POWER of the
    daily-count mean, var ~ mean^b — b near 1 means Poisson-like
    independent arrivals, b near 2 means strongly correlated bursts
    (the event_burstiness story at the cross-group level). The released
    slope b is the ln-var-on-ln-mean OLS coefficient across groups —
    the one-number answer to "do busy event types get disproportionately
    burstier?", which capacity models assuming Poisson scaling get
    wrong exactly when b > 1.

    Exact path: per-group day counts -> exact integer (k, S, Q);
    mean_micro = S*1e6 div k and var_micro = (k*Q - S*S)*1e6 div k^2
    floor on nonneg operands; ln of those QUANTIZED positive integers
    is the keyness-convention nano ln (identical inputs on both
    engines -> identical IEEE ln -> identical nano floor); the slope
    over the bounded group frame is one integer OLS with a
    sign-decomposed release.

    Scale shape: one (group, day) groupBy (partial-aggregable), one
    group-level aggregate, one global slope aggregate over the tiny
    group frame. Shuffles bounded by groups x days, never event rows.

    Returns one row: (n_groups, slope_micro).
    """
    daily = events.groupBy(
        F.col(group_col).alias("g"),
        F.expr(f"unix_micros(cast({ts_col} as timestamp)) div 86400000000")
        .alias("d"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    dec = "decimal(38,0)"
    per = daily.groupBy("g").agg(
        F.count(F.lit(1)).cast(dec).alias("k"),
        F.sum("c").cast(dec).alias("s"),
        F.sum(F.col("c").cast(dec) * F.col("c")).cast(dec).alias("q"),
    ).select(
        F.expr("cast((s * 1000000) div k as bigint)").alias("mean_micro"),
        F.expr("cast(((k * q - s * s) * 1000000) div (k * k) as bigint)")
        .alias("var_micro"),
    ).filter((F.col("mean_micro") > 0) & (F.col("var_micro") > 0))

    def nln(c):
        return F.floor(F.log(c.cast("double")) * F.lit(1e9) + F.lit(0.5)) \
            .cast("long")

    pts = per.select(
        nln(F.col("mean_micro")).alias("x"),
        nln(F.col("var_micro")).alias("y"),
    )
    agg = pts.agg(
        F.count(F.lit(1)).cast(dec).alias("k"),
        F.sum("x").cast(dec).alias("sx"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).cast(dec).alias("sxx"),
        F.sum(F.col("x").cast(dec) * F.col("y")).cast(dec).alias("sxy"),
    )
    num = "(k * sxy - sx * sy)"
    den = "(k * sxx - sx * sx)"
    return agg.select(
        F.col("k").cast("long").alias("n_groups"),
        F.when(
            (F.col("k") >= 2) & (F.expr(den) > 0),
            F.expr(f"cast(case when {num} >= 0 then 1 else -1 end as bigint)")
            * F.expr(f"cast((abs({num}) * 1000000) div {den} as bigint)"),
        ).alias("slope_micro"),
    )


def dickey_fuller(
    series: DataFrame,
    idx_col: str = "d",
    y_col: str = "y",
) -> DataFrame:
    """Dickey-Fuller unit-root regression (1979, no augmentation,
    with constant) over an ordered integer series: delta_y on lagged
    level, the standard first stationarity read before anyone trusts a
    mean-reverting model — variance_ratio and hurst measure scaling
    behavior, this tests the unit root directly. rho < 0 with large t^2
    says shocks decay (stationary); rho ~ 0 says shocks persist (random
    walk).

    Fully exact-integer release — no IEEE anywhere: with centered
    moments Sxy_c = k*Sxy - Sx*Sy etc. over (x = y_{t-1}, dy),
      rho_micro = sign(Sxy_c) * |Sxy_c|*1e6 div Sxx_c
      t^2       = (k-2)*Sxy_c^2 / (Sxx_c*Syy_c - Sxy_c^2)
    whose denominator is nonnegative by Cauchy-Schwarz, so one floor
    division releases t2_micro exactly; t_sign = sign(Sxy_c). NULL when
    the fit is degenerate (perfect fit or constant series). Products
    ride decimal(38,0) — safe for bounded per-period aggregate series
    (the registered query feeds daily counts).

    Scale shape: corpus collapses in the upstream groupBy; one lag
    window + one 6-moment aggregate over the bounded day frame.

    Returns one row: (n_obs, rho_micro, t_sign, t2_micro).
    """
    from pyspark.sql import Window

    w = Window.orderBy("d")
    daily = series.select(
        F.col(idx_col).cast("long").alias("d"),
        F.col(y_col).cast("long").alias("y"),
    )
    lagged = daily.select(
        "d", "y", F.lag("y").over(w).alias("x")
    ).filter(F.col("x").isNotNull()).select(
        F.col("x"), (F.col("y") - F.col("x")).alias("dy")
    )
    dec = "decimal(38,0)"
    agg = lagged.agg(
        F.count(F.lit(1)).cast(dec).alias("k"),
        F.sum("x").cast(dec).alias("sx"),
        F.sum("dy").cast(dec).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).cast(dec).alias("sxx"),
        F.sum(F.col("x").cast(dec) * F.col("dy")).cast(dec).alias("sxy"),
        F.sum(F.col("dy").cast(dec) * F.col("dy")).cast(dec).alias("syy"),
    ).select(
        "k",
        (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("sxx_c"),
        (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("sxy_c"),
        (F.col("k") * F.col("syy") - F.col("sy") * F.col("sy")).alias("syy_c"),
    )
    den = "(sxx_c * syy_c - sxy_c * sxy_c)"
    return agg.select(
        F.col("k").cast("long").alias("n_obs"),
        F.when(
            F.col("sxx_c") > 0,
            F.expr("cast(case when sxy_c >= 0 then 1 else -1 end as bigint)")
            * F.expr("cast((abs(sxy_c) * 1000000) div sxx_c as bigint)"),
        ).alias("rho_micro"),
        F.when(
            (F.col("k") > 2) & (F.expr(den) > 0),
            F.expr("cast(case when sxy_c > 0 then 1 when sxy_c < 0 then -1"
                   " else 0 end as bigint)"),
        ).alias("t_sign"),
        F.when(
            (F.col("k") > 2) & (F.expr(den) > 0),
            F.expr(
                f"cast(((k - 2) * sxy_c * sxy_c * 1000000) div {den} as bigint)"
            ),
        ).alias("t2_micro"),
    )


def seasonal_mann_kendall(
    ev: DataFrame,
    ts_col: str = "ts",
    period: int = 7,
) -> DataFrame:
    """Seasonal Mann-Kendall (Hirsch & Slack 1984) over the daily
    event-count series: the monotone-trend test computed WITHIN each
    day-of-week season and summed — a strong weekly cycle turns plain
    mann_kendall's cross-season pairs into noise (Monday vs Sunday
    comparisons say nothing about trend); restricting pairs to matching
    seasons removes the cycle without modeling it.

    S' = sum_g S_g over season-internal day pairs, tie corrections
    t(t-1)(2t+5) accumulated per (season, count) — all int64, exact;
    variance/z left to the caller like the plain MK release.

    Scale shape: one groupBy(day) collapses the corpus; the pair join
    carries the season as an EQUI key (day inequality only within
    season), so fan-out is sum_g days_g^2 — a period-fold smaller than
    the plain MK quadratic, on an already-bounded frame.

    Returns one row: (n_seasons, n_days, s_stat, n_pairs, tie_term).
    """
    d = (
        ev.select(
            F.expr(f"unix_micros(cast({ts_col} as timestamp)) div 86400000000")
            .alias("day")
        )
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .select("day", "cnt", (F.col("day") % period).alias("season"))
    )
    a, b = d.alias("a"), d.alias("b")
    pairs = a.join(
        b,
        (F.col("a.season") == F.col("b.season")) & (F.col("a.day") < F.col("b.day")),
    )
    sgn = (
        F.when(F.col("b.cnt") > F.col("a.cnt"), 1)
        .when(F.col("b.cnt") < F.col("a.cnt"), -1)
        .otherwise(0)
    )
    s = pairs.agg(
        # coalesce matches the oracle's coalesce(sum(sgn), 0) on an empty
        # pair set (at most one day per season) — ADVICE r5 fix
        F.coalesce(F.sum(sgn), F.lit(0)).cast("long").alias("s_stat"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
    )
    ties = (
        d.groupBy("season", "cnt").agg(F.count(F.lit(1)).alias("t"))
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - F.lit(1))
                * (F.lit(2) * F.col("t") + F.lit(5))
            ).cast("long").alias("tie_term")
        )
    )
    n = d.agg(
        F.countDistinct("season").cast("long").alias("n_seasons"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
    return n.crossJoin(s).crossJoin(ties)


def lorenz_asymmetry(
    values: DataFrame,
    v_col: str = "v",
) -> DataFrame:
    """Lorenz asymmetry coefficient S = F(mu) + L(mu) (Damgaard &
    Weiner, Ecology 2000) over a nonnegative value frame: WHERE on the
    Lorenz curve the inequality lives — gini/lorenz_revenue say HOW
    MUCH, this says whether it is driven by many small units (S < 1)
    or by a few dominant ones (S > 1), which changes the intervention
    (raise the floor vs cap the top).

    Discrete release rule (documented, engine-exact): with total T and
    n units, unit i is "below the mean" iff n*v_i < T (an integer
    predicate — the mean never materializes as a float);
      F(mu) = m/n,  L(mu) = (sum of below-mean values)/T,
      s_ppm = (m*1e6) div n + (sum_below*1e6) div T.
    The classic delta-interpolation term is omitted by contract (it
    needs the two order statistics straddling the mean; the released
    integer pair (m, sum_below) lets any consumer add it client-side).

    Scale shape: one 1-row total aggregate broadcast back (allowlisted
    bounded-BNLJ), one conditional global aggregate. Fully
    partial-aggregable.

    Returns one row: (n, total, m_below, sum_below, s_ppm).
    """
    dec = "decimal(38,0)"
    base = values.select(F.col(v_col).cast("long").alias("v"))
    tot = base.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("v").cast(dec).alias("t"),
    )
    j = base.crossJoin(F.broadcast(tot))
    agg = j.groupBy("n", "t").agg(
        F.sum(
            F.when(F.col("n") * F.col("v") < F.col("t"), 1).otherwise(0)
        ).cast(dec).alias("m"),
        F.sum(
            F.when(F.col("n") * F.col("v") < F.col("t"), F.col("v")).otherwise(0)
        ).cast(dec).alias("sb"),
    )
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.col("t").cast("long").alias("total"),
        F.col("m").cast("long").alias("m_below"),
        F.col("sb").cast("long").alias("sum_below"),
        F.when(
            (F.col("n") > 0) & (F.col("t") > 0),
            F.expr("cast((m * 1000000) div n + (sb * 1000000) div t as bigint)"),
        ).alias("s_ppm"),
    )


def forecast_error_decomp(
    series: DataFrame,
    idx_col: str = "d",
    y_col: str = "y",
    lag: int = 7,
) -> DataFrame:
    """Theil's inequality decomposition (U_M / U_S / U_C, Theil 1966)
    of the seasonal-naive forecast f_d = y_{d-lag} against the actual
    daily series: mase_seasonal says HOW BIG the forecast error is;
    this says WHY — a level shift (U_M: the mean moved), an amplitude
    mismatch (U_S: the spread changed), or phase/shape error (U_C:
    imperfect correlation). The three shares sum to 1 and each points
    at a different fix (re-baseline vs re-scale vs re-model).

    Release contract: integer moments of d = f - a are exact;
    mse_micro, mae_micro and the BIAS share u_m_ppm =
    ((sum d)^2 * 1e6) div (n * sum d^2) are pure integer floors; U_S
    and U_C need standard deviations (a sqrt), so they are released in
    the degree_assortativity convention — ONE fixed-operand-order IEEE
    expression each, boundary-exact-quantized (floor(x*1e6 + 0.5))
    from the exact decimal moments, identical on both engines.

    Scale shape: corpus collapses in the daily groupBy; one lag window
    + one 8-moment aggregate over the bounded day frame.

    Returns one row: (n, mse_micro, mae_micro, u_m_ppm, u_s_q, u_c_q).
    """
    from pyspark.sql import Window

    w = Window.orderBy("d")
    daily = series.select(
        F.col(idx_col).cast("long").alias("d"),
        F.col(y_col).cast("long").alias("y"),
    )
    pairs = daily.select(
        "d", F.col("y").alias("a"), F.lag("y", lag).over(w).alias("f")
    ).filter(F.col("f").isNotNull())
    dec = "decimal(38,0)"
    agg = pairs.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("a").cast(dec).alias("sa"),
        F.sum("f").cast(dec).alias("sf"),
        F.sum(F.col("a").cast(dec) * F.col("a")).cast(dec).alias("saa"),
        F.sum(F.col("f").cast(dec) * F.col("f")).cast(dec).alias("sff"),
        F.sum(F.col("f").cast(dec) * F.col("a")).cast(dec).alias("sfa"),
        F.sum((F.col("f") - F.col("a")).cast(dec) * (F.col("f") - F.col("a")))
        .cast(dec).alias("sdd"),
        F.sum(F.abs(F.col("f") - F.col("a"))).cast(dec).alias("sad"),
    )
    # exact integer releases
    mse = F.expr("cast((sdd * 1000000) div n as bigint)")
    mae = F.expr("cast((sad * 1000000) div n as bigint)")
    um = F.when(
        F.col("sdd") > 0,
        F.expr("cast(((sf - sa) * (sf - sa) * 1000000) div (n * sdd)"
               " as bigint)"),
    ).otherwise(F.lit(0))
    # IEEE releases (fixed operand order, boundary-exact quantization):
    # s_x = sqrt(n*sxx - sx^2) (n-scaled; the common n^2 cancels in the
    # shares), denominator n * sdd in the same scaling
    sfd = F.sqrt((F.col("n") * F.col("sff") - F.col("sf") * F.col("sf")).cast("double"))
    sad_ = F.sqrt((F.col("n") * F.col("saa") - F.col("sa") * F.col("sa")).cast("double"))
    cov = (F.col("n") * F.col("sfa") - F.col("sf") * F.col("sa")).cast("double")
    nden = (F.col("n") * F.col("sdd")).cast("double")
    us = (sfd - sad_) * (sfd - sad_) / nden
    uc = F.lit(2.0) * (sfd * sad_ - cov) / nden
    q6 = lambda c: F.when(
        F.col("sdd") > 0, F.floor(c * F.lit(1e6) + F.lit(0.5)).cast("long")
    ).otherwise(F.lit(0))
    return agg.select(
        F.col("n").cast("long").alias("n"),
        mse.alias("mse_micro"),
        mae.alias("mae_micro"),
        um.alias("u_m_ppm"),
        q6(us).alias("u_s_q"),
        q6(uc).alias("u_c_q"),
    )


def rosner_esd(
    xy: DataFrame,
    id_col: str = "id",
    v_col: str = "v",
    k: int = 3,
) -> DataFrame:
    """Generalized extreme studentized deviate (Rosner 1983) — the
    MULTIPLE-outlier test grubbs cannot be iterated into by hand
    (re-running Grubbs after a removal invalidates its critical value;
    ESD computes the full removal trajectory so the caller tests each
    R_i against the proper lambda_i): k rounds, each removing the
    remaining point with the largest squared deviation from the
    remaining mean.

    Fully exact-integer: with round statistics (n, S, Q) the squared
    studentized deviate for point v is
      R^2 = (n-1)*(n*v - S)^2 / (n * (n*Q - S^2))
    so each round releases r2_ppm as ONE floor division on nonnegative
    operands — no sqrt, no IEEE, bit-identical on both engines. The
    removal choice is the argmax of the exact integer (n*v - S)^2 with
    ties broken by smallest id (documented rule).

    Scale shape: the input is a bounded per-entity aggregate frame; k
    is a small constant, so the k unrolled rounds are k 1-row-broadcast
    aggregates + k top-1 TakeOrdereds — never quadratic, never
    corpus-sized.

    Returns k rows: (round, outlier_id, v, n_remaining, r2_ppm),
    round ascending (1-based).
    """
    dec = "decimal(38,0)"
    remaining = xy.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(v_col).cast("long").alias("v"),
    )
    out_rows = []
    for rnd in range(1, k + 1):
        stats = remaining.agg(
            F.count(F.lit(1)).cast(dec).alias("n"),
            F.sum("v").cast(dec).alias("s"),
            F.sum(F.col("v").cast(dec) * F.col("v")).cast(dec).alias("q"),
        )
        scored = remaining.crossJoin(F.broadcast(stats)).filter(
            (F.col("n") >= 3)
            & (F.col("n") * F.col("q") - F.col("s") * F.col("s") > 0)
        ).select(
            "id", "v", "n",
            F.expr(
                "(cast(n as decimal(38,0)) * v - s)"
                " * (cast(n as decimal(38,0)) * v - s)"
            ).alias("dev2"),
            F.expr(
                "cast(((n - 1) * (cast(n as decimal(38,0)) * v - s)"
                " * (cast(n as decimal(38,0)) * v - s) * 1000000)"
                " div (n * (n * q - s * s)) as bigint)"
            ).alias("r2_ppm"),
        )
        top = scored.orderBy(
            F.col("dev2").desc(), F.col("id").asc()
        ).limit(1).select(
            F.lit(rnd).cast("long").alias("round"),
            F.col("id").alias("outlier_id"),
            "v",
            F.col("n").cast("long").alias("n_remaining"),
            "r2_ppm",
        ).localCheckpoint(eager=True)
        out_rows.append(top)
        remaining = remaining.join(
            top.select(F.col("outlier_id").alias("id")), "id", "left_anti"
        ).localCheckpoint(eager=True)
    res = out_rows[0]
    for t in out_rows[1:]:
        res = res.unionByName(t)
    return res
