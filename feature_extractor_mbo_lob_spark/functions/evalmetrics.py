"""Model-evaluation and distribution-diagnostic metrics as distributed
aggregates: AUC, confusion/F1, calibration (ECE), two-sample KS,
Gini concentration, Shannon entropy.

These are the metrics a training-data pipeline computes over *scored*
corpora (quality classifiers, contamination probes, reward-model outputs)
before a mixture decision. Every one is expressed as groupBy + window
aggregation over value-collapsed frames — the heavy reduction happens
map-side on the raw rows; the windowed/ordered part only ever touches the
collapsed frame (distinct scores / distinct values / k bins), which is
bounded by value cardinality, not corpus size.

Determinism contract (same as the rest of the registry): all sums feeding
a ratio are exact integers (longs or decimal(38,0)); each float is produced
by ONE fixed-operand-order expression; ln() is quantized to integer nanos
before any summation (the zipf_fit trick, corpus.py:1071).

Reference analog: the reference validates its extracted features against
golden stats (tests/golden in nagarx/feature-extractor-MBO-LOB); these
operators generalize that gate to classifier-quality and drift checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..guards import collect_at_most

_D38 = "decimal(38,0)"


def _x6(c):
    """Boundary-exact 6-decimal canonicalization (see plans.driver_queries._r6x)."""
    return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)


def binary_auc(
    df: DataFrame, score_col: str, label_col: str
) -> DataFrame:
    """Exact ROC-AUC via the tie-aware Mann-Whitney rank-sum.

    Collapses to one row per DISTINCT score first (map-side combine), so
    the ordered cumulative pass runs over |distinct scores| rows — for a
    quantized classifier score that is thousands of rows at any corpus
    size. Ties get the average rank exactly: a block of ``cnt`` ties
    starting after ``cum_before`` rows has rank sum
    ``cnt * (2*cum_before + cnt + 1) / 2``; we keep the doubled sum so all
    arithmetic stays integral (decimal(38,0) — rank*count products overflow
    int64 beyond ~3e9 rows). AUC = (R_pos - n1(n1+1)/2) / (n1*n0).

    Returns one row: (n_pos, n_neg, auc).
    """
    lbl = F.col(label_col).cast("int")
    g = df.groupBy(F.col(score_col).alias("s")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(lbl).alias("pos"),
    )
    w = (
        Window.orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("cnt").over(w), F.lit(0))
    dec = lambda c: c.cast(_D38)
    two_r_pos = dec(F.col("pos")) * (
        F.lit(2) * dec(cum_before) + dec(F.col("cnt")) + F.lit(1)
    )
    agg = g.select(two_r_pos.alias("tr"), "cnt", "pos").agg(
        F.sum("tr").alias("two_r_pos"),
        F.sum("pos").cast("long").alias("n_pos"),
        (F.sum("cnt") - F.sum("pos")).cast("long").alias("n_neg"),
    )
    n1 = F.col("n_pos").cast(_D38)
    n0 = F.col("n_neg").cast(_D38)
    auc = (
        (F.col("two_r_pos") - n1 * (n1 + F.lit(1))).cast("double")
        / (F.lit(2) * n1 * n0).cast("double")
    )
    return agg.select("n_pos", "n_neg", _x6(auc).alias("auc"))


def confusion_report(
    df: DataFrame, score_col: str, label_col: str, threshold
) -> DataFrame:
    """Thresholded binary-classification confusion counts + derived rates,
    one aggregate pass (fully map-side combinable), one output row:
    (tp, fp, fn, tn, accuracy, precision, recall, f1). f1 uses the
    2tp/(2tp+fp+fn) form — single division over exact integers.
    """
    pred = (F.col(score_col) >= F.lit(threshold)).cast("int")
    lbl = F.col(label_col).cast("int")
    agg = df.agg(
        F.sum(pred * lbl).cast("long").alias("tp"),
        F.sum(pred * (1 - lbl)).cast("long").alias("fp"),
        F.sum((1 - pred) * lbl).cast("long").alias("fn"),
        F.sum((1 - pred) * (1 - lbl)).cast("long").alias("tn"),
    )
    d = lambda name: F.col(name).cast("double")
    return agg.select(
        "tp", "fp", "fn", "tn",
        _x6((d("tp") + d("tn")) / (d("tp") + d("fp") + d("fn") + d("tn"))).alias("accuracy"),
        _x6(d("tp") / (d("tp") + d("fp"))).alias("precision"),
        _x6(d("tp") / (d("tp") + d("fn"))).alias("recall"),
        _x6(F.lit(2.0) * d("tp") / (F.lit(2.0) * d("tp") + d("fp") + d("fn"))).alias("f1"),
    )


def calibration_bins(
    df: DataFrame,
    prob_num_col: str,
    prob_den: int,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability-diagram bins for a RATIONAL probability score
    ``prob = prob_num / prob_den`` (keeping the numerator integral makes
    binning and the mean-confidence sum exact — float probabilities bin
    nondeterministically at edges).

    bin = min(floor(prob * n_bins), n_bins-1), computed on integers as
    min(prob_num * n_bins / prob_den, n_bins-1). Per bin: row count, mean
    confidence, empirical accuracy, |gap|. One groupBy over n_bins keys.
    """
    num = F.col(prob_num_col).cast("long")
    b = F.least(
        F.floor(num * F.lit(n_bins) / F.lit(prob_den)).cast("long"),
        F.lit(n_bins - 1).cast("long"),
    )
    lbl = F.col(label_col).cast("int")
    g = (
        df.select(b.alias("bin"), num.alias("num"), lbl.alias("y"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("num").cast("long").alias("num_sum"),
            F.sum("y").cast("long").alias("pos"),
        )
    )
    conf = F.col("num_sum").cast("double") / (
        F.col("n").cast("double") * F.lit(float(prob_den))
    )
    acc = F.col("pos").cast("double") / F.col("n").cast("double")
    return g.select(
        "bin", "n",
        _x6(conf).alias("conf"),
        _x6(acc).alias("acc"),
        _x6(F.abs(conf - acc)).alias("abs_gap"),
    )


def expected_calibration_error(
    df: DataFrame,
    prob_num_col: str,
    prob_den: int,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """One-row ECE = sum_b (n_b/N) * |acc_b - conf_b|.

    The per-bin gap |pos/n - num_sum/(n*den)| is a rational with exact
    integer numerator |pos*den - num_sum| over denominator n*den, so
    ECE = sum_b n_b/N * gap_b = (1/(N*den)) * sum_b |pos_b*den - num_sum_b|
    — the entire statistic is ONE integer sum divided once at the end.
    """
    num = F.col(prob_num_col).cast("long")
    b = F.least(
        F.floor(num * F.lit(n_bins) / F.lit(prob_den)).cast("long"),
        F.lit(n_bins - 1).cast("long"),
    )
    lbl = F.col(label_col).cast("long")
    g = (
        df.select(b.alias("bin"), num.alias("num"), lbl.alias("y"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("num").cast("long").alias("num_sum"),
            F.sum("y").cast("long").alias("pos"),
        )
    )
    gap_num = F.abs(
        F.col("pos").cast(_D38) * F.lit(prob_den) - F.col("num_sum").cast(_D38)
    )
    out = g.agg(
        F.sum("n").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_bins_used"),
        F.sum(gap_num).alias("gsum"),
    )
    ece = F.col("gsum").cast("double") / (
        F.col("n_rows").cast("double") * F.lit(float(prob_den))
    )
    return out.select("n_rows", "n_bins_used", _x6(ece).alias("ece"))


def ks_two_sample(
    df: DataFrame, value_col: str, group_col: str, group_a, group_b
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov D statistic between the
    ``value_col`` distributions of two groups.

    D = max_v |F_a(v) - F_b(v)|. Collapse to one row per distinct value
    with per-group counts (map-side combine), cumulative-sum both counts
    over the value order, and take the max of the CROSS-MULTIPLIED gap
    |cum_a*n_b - cum_b*n_a| — exact integers (decimal(38,0); the product
    overflows int64 at ~3e9 x 3e9 rows), one division at the end:
    D = max_gap / (n_a * n_b). The ordered pass runs over |distinct
    values| rows only.

    Returns one row: (n_a, n_b, d_stat).
    """
    gc = F.col(group_col)
    base = df.where(gc.isin([group_a, group_b])).select(
        F.col(value_col).alias("v"),
        (gc == F.lit(group_a)).cast("long").alias("ia"),
        (gc == F.lit(group_b)).cast("long").alias("ib"),
    )
    g = base.groupBy("v").agg(
        F.sum("ia").alias("ca"), F.sum("ib").alias("cb")
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = g.select(
        F.sum("ca").over(w).alias("cum_a"),
        F.sum("cb").over(w).alias("cum_b"),
    )
    dec = lambda name: F.col(name).cast(_D38)
    # totals via the same cumulative frame's last row would need another
    # pass; cheaper: window-total columns (unbounded both sides)
    wt = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    tot = cum.select(
        "cum_a", "cum_b",
        F.max("cum_a").over(wt).alias("n_a"),
        F.max("cum_b").over(wt).alias("n_b"),
    )
    gap = F.abs(dec("cum_a") * dec("n_b") - dec("cum_b") * dec("n_a"))
    agg = tot.select(gap.alias("gap"), "n_a", "n_b").agg(
        F.max("gap").alias("max_gap"),
        F.max("n_a").cast("long").alias("n_a"),
        F.max("n_b").cast("long").alias("n_b"),
    )
    d_stat = F.col("max_gap").cast("double") / (
        F.col("n_a").cast(_D38) * F.col("n_b").cast(_D38)
    ).cast("double")
    return agg.select("n_a", "n_b", _x6(d_stat).alias("d_stat"))


def gini_by_group(
    df: DataFrame, value_col: str, group_col: str
) -> DataFrame:
    """Gini concentration coefficient of an integer ``value_col`` per
    group: G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) with x sorted
    ascending and i the 1-based rank.

    Tie-order free: within a block of equal x the factor x is constant, so
    sum(i*x) over the block is x * sum(i) regardless of which tied row
    gets which rank — row_number() with ANY tiebreak yields the same sum.
    Products go through decimal(38,0) (rank ~ n overflows i64*value).
    The per-group sort is the standard Window.partitionBy shuffle — skew
    in group sizes is the caller's salting problem, same as every other
    per-entity window in this engine.

    Returns one row per group: (group, n, total, gini).
    """
    w = Window.partitionBy(group_col).orderBy(F.col(value_col).asc())
    i = F.row_number().over(w).cast(_D38)
    x = F.col(value_col).cast(_D38)
    g = (
        df.select(F.col(group_col).alias("grp"), (i * x).alias("ix"), x.alias("x"))
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x").alias("s"),
            F.sum("ix").alias("s1"),
        )
    )
    n = F.col("n").cast(_D38)
    gini = (
        (F.lit(2) * F.col("s1") - (n + F.lit(1)) * F.col("s")).cast("double")
        / (n * F.col("s")).cast("double")
    )
    return g.select(
        "grp", "n",
        F.col("s").cast("long").alias("total"),
        _x6(gini).alias("gini"),
    )


def entropy_by_group(
    df: DataFrame, key_col: str, group_col: str
) -> DataFrame:
    """Shannon entropy (nats) of the ``key_col`` distribution within each
    group: H = ln(N) - (1/N) * sum_k cnt_k * ln(cnt_k).

    ln() is taken on exact integer counts and quantized to integer nanos
    BEFORE the weighted sum (zipf_fit trick) so the reduction is an exact
    decimal integer in any order; the closing expression is one fixed
    operand sequence. Two groupBys: (group, key) then (group) — both
    map-side combinable; no windows, no sorts.

    Returns one row per group: (group, n, k_distinct, entropy).
    """
    kc = (
        df.groupBy(F.col(group_col).alias("grp"), F.col(key_col).alias("k"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    nlog = F.floor(
        F.log(F.col("cnt").cast("double")) * F.lit(1e9) + F.lit(0.5)
    ).cast(_D38)
    g = kc.groupBy("grp").agg(
        F.sum("cnt").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k_distinct"),
        F.sum(F.col("cnt").cast(_D38) * nlog).alias("wl"),
    )
    n_d = F.col("n").cast("double")
    ent = (
        F.floor(F.log(n_d) * F.lit(1e9) + F.lit(0.5)) / F.lit(1e9)
        - F.col("wl").cast("double") / n_d / F.lit(1e9)
    )
    return g.select("grp", "n", "k_distinct", _x6(ent).alias("entropy"))


def cohens_kappa(df: DataFrame, pred_col: str, label_col: str) -> DataFrame:
    """Cohen's kappa between a binary prediction and a binary label:
    chance-corrected agreement kappa = (p_o - p_e) / (1 - p_e).

    Entirely integer-fed: with confusion counts (tp, fp, fn, tn) and
    n = their sum, kappa = (n*(tp+tn) - (pp*pl + np*nl)) /
    (n^2 - (pp*pl + np*nl)) where pp/np are predicted-positive/negative
    totals and pl/nl the label totals — one map-side-combinable aggregate,
    decimal(38,0) products, a single double division.

    Returns one row: (n, po, pe, kappa). kappa = 0.0 at the degenerate
    p_e = 1 (both raters constant).
    """
    p = F.col(pred_col).cast("long")
    y = F.col(label_col).cast("long")
    agg = df.agg(
        F.sum(p * y).cast("long").alias("tp"),
        F.sum(p * (1 - y)).cast("long").alias("fp"),
        F.sum((1 - p) * y).cast("long").alias("fn"),
        F.sum((1 - p) * (1 - y)).cast("long").alias("tn"),
    )
    dec = lambda name: F.col(name).cast(_D38)
    n = dec("tp") + dec("fp") + dec("fn") + dec("tn")
    pe_num = (dec("tp") + dec("fp")) * (dec("tp") + dec("fn")) + (
        dec("fn") + dec("tn")
    ) * (dec("fp") + dec("tn"))
    po_num = n * (dec("tp") + dec("tn"))
    with_sums = agg.select(
        n.cast("long").alias("n"),
        po_num.alias("_po_num"),
        pe_num.alias("_pe_num"),
        (n * n).alias("_n2"),
    )
    po = F.col("_po_num").cast("double") / F.col("_n2").cast("double")
    pe = F.col("_pe_num").cast("double") / F.col("_n2").cast("double")
    kappa = F.when(
        F.col("_n2") != F.col("_pe_num"),
        (F.col("_po_num") - F.col("_pe_num")).cast("double")
        / (F.col("_n2") - F.col("_pe_num")).cast("double"),
    ).otherwise(F.lit(0.0))
    return with_sums.select(
        "n", _x6(po).alias("po"), _x6(pe).alias("pe"), _x6(kappa).alias("kappa")
    )


def segmentation_pk(
    df: DataFrame,
    k: int,
    key_col: str = "conv_id",
    order_col: str = "turn_idx",
    pred_col: str = "pred_b",
    ref_col: str = "ref_b",
) -> DataFrame:
    """Pk segmentation-quality metric (Beeferman, Berger & Lafferty,
    Machine Learning 1999): slide a window of width ``k`` positions over
    every sequence and count how often the predicted segmentation and the
    reference disagree about whether positions i and i+k lie in the same
    segment. The standard scorer for topic segmentation (NLTK ``pk``) —
    here it grades ``topic_boundaries`` against any reference boundary
    column.

    Engine-exactness: segment ids are integer boundary cumsums, the
    window comparison is pure boolean algebra, and the final rate is one
    identical IEEE division of two exact int64 counts.

    Scale shape: two per-key window cascades SHARING one (key, order)
    sort — cumsum then lead(k) — and a 1-row global aggregate. One
    shuffle total, no join.
    """
    w = Window.partitionBy(key_col).orderBy(order_col)
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    seg = df.select(
        key_col,
        order_col,
        F.sum(F.col(pred_col).cast("long")).over(wc).alias("seg_p"),
        F.sum(F.col(ref_col).cast("long")).over(wc).alias("seg_r"),
    )
    led = seg.select(
        (F.col("seg_p") == F.lead("seg_p", k).over(w)).alias("same_p"),
        (F.col("seg_r") == F.lead("seg_r", k).over(w)).alias("same_r"),
    ).filter(F.col("same_p").isNotNull())
    out = led.agg(
        F.count(F.lit(1)).cast("long").alias("n_windows"),
        F.sum(
            F.when(F.col("same_p") != F.col("same_r"), 1).otherwise(0)
        ).cast("long").alias("n_disagree"),
    )
    pk = F.when(
        F.col("n_windows") > 0,
        F.col("n_disagree").cast("double") / F.col("n_windows").cast("double"),
    ).otherwise(F.lit(0.0))
    return out.select("n_windows", "n_disagree", pk.alias("pk_raw"))


def roc_curve_points(
    df: DataFrame, score_col: str, label_col: str
) -> DataFrame:
    """Full ROC curve as a table — one row per DISTINCT classifier score,
    with the exact cumulative confusion state at threshold "score >= s"
    and its TPR / FPR / precision in exact ppm (integer trunc division,
    so any engine reproduces every row bit-identically). The curve-table
    sibling of binary_auc (one scalar) for threshold selection on quality
    / contamination classifiers: pick the gating threshold by scanning
    this frame, not by re-running the scorer.

    Scale shape: one partial-aggregable groupBy collapses the corpus to
    |distinct scores| rows map-side; the ordered cumulative pass and the
    ppm ratios run ONLY over that collapsed frame (single-task window —
    bounded by score cardinality, never corpus rows; a micro-quantized
    score keeps it <= 1e6 rows at any corpus size).

    Returns DataFrame[score, n_at, pos_at, cum_pos, cum_neg, tpr_ppm,
    fpr_ppm, precision_ppm] ordered by score descending.
    """
    lbl = F.col(label_col).cast("int")
    g = df.groupBy(F.col(score_col).alias("score")).agg(
        F.count(F.lit(1)).cast("long").alias("n_at"),
        F.sum(lbl).cast("long").alias("pos_at"),
    )
    w = Window.orderBy(F.col("score").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.orderBy(F.col("score").desc()).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum_pos = F.sum("pos_at").over(w)
    cum_all = F.sum("n_at").over(w)
    tot_pos = F.sum("pos_at").over(wall)
    tot_all = F.sum("n_at").over(wall)
    c = g.select(
        "score", "n_at", "pos_at",
        cum_pos.cast("long").alias("cum_pos"),
        (cum_all - cum_pos).cast("long").alias("cum_neg"),
        tot_pos.cast("long").alias("_p"),
        (tot_all - tot_pos).cast("long").alias("_n"),
    )
    return c.select(
        "score", "n_at", "pos_at", "cum_pos", "cum_neg",
        F.expr("case when _p > 0 then (cum_pos * 1000000) div _p else 0 end")
        .cast("long").alias("tpr_ppm"),
        F.expr("case when _n > 0 then (cum_neg * 1000000) div _n else 0 end")
        .cast("long").alias("fpr_ppm"),
        F.expr("(cum_pos * 1000000) div (cum_pos + cum_neg)")
        .cast("long").alias("precision_ppm"),
    )


def brier_decomposition(
    df: DataFrame, p_micro_col: str, label_col: str, n_bins: int = 10
) -> DataFrame:
    """Murphy (1973) Brier-score decomposition over a micro-unit
    probability column: BRIER = RELIABILITY - RESOLUTION + UNCERTAINTY,
    binned on equal-width probability bins. The calibration-diagnostic
    companion to expected_calibration_error: reliability isolates "the
    probabilities are wrong", resolution isolates "the classifier
    separates", uncertainty is the irreducible base-rate term — the
    triple that decides whether a quality classifier needs recalibration
    or retraining before it gates a corpus.

    All in exact integer micro^2 units per sample: per-row squared error
    (p - y*1e6)^2 summed as decimal(38,0); per-bin means are trunc
    divisions of exact integer sums (all operands non-negative, so Spark
    ``div`` == DuckDB ``//``); each released term is ONE integer trunc
    division — engine-exact, no floats anywhere. (The classic identity
    holds exactly only with per-bin means; the quantized means here make
    brier ~= rel - res + unc up to sub-micro^2 rounding, each term exact
    on its own definition.)

    Scale shape: ONE partial-aggregable groupBy on the bin index
    (<= n_bins groups) carrying (n, sum_p, sum_y, sum_sq), then a tiny
    <=n_bins-row aggregate — fully map-side combinable, no sort, no join.

    Returns one row: (n, brier_micro2, reliability_micro2,
    resolution_micro2, uncertainty_micro2) — all bigint.
    """
    width = 1_000_000 // int(n_bins)
    p = F.col(p_micro_col).cast("long")
    y = F.col(label_col).cast("int")
    b = F.least(
        F.expr(f"cast({p_micro_col} as bigint) div {width}"),
        F.lit(int(n_bins) - 1),
    )
    sq = (p - y.cast("long") * F.lit(1_000_000)).cast(_D38)
    g = df.groupBy(b.alias("_b")).agg(
        F.count(F.lit(1)).cast("long").alias("n_k"),
        F.sum(p.cast(_D38)).alias("sp"),
        F.sum(y.cast(_D38)).alias("sy"),
        F.sum(sq * sq).alias("ssq"),
    )
    pbar = F.expr("sp div n_k").cast(_D38)
    ybar = F.expr("(sy * 1000000) div n_k").cast(_D38)
    per = g.select(
        "n_k", "sy", "ssq",
        (F.col("n_k").cast(_D38) * (pbar - ybar) * (pbar - ybar)).alias("rel_k"),
        ybar.alias("ybar"),
    )
    tot = per.agg(
        F.sum("n_k").cast("long").alias("n"),
        F.sum("ssq").alias("t_ssq"),
        F.sum("rel_k").alias("t_rel"),
        F.sum("sy").alias("t_sy"),
        F.sum(F.col("n_k").cast(_D38) * F.col("ybar")).alias("t_nybar"),
        F.sum(
            F.col("n_k").cast(_D38) * F.col("ybar") * F.col("ybar")
        ).alias("t_nybar2"),
    )
    # resolution = sum_k n_k*(ybar_k - base)^2 expanded so base (a global
    # trunc-div) enters linearly: t_nybar2 - 2*base*t_nybar + n*base^2.
    base = F.expr("(t_sy * 1000000) div n").cast(_D38)
    res = (
        F.col("t_nybar2")
        - F.lit(2).cast(_D38) * base * F.col("t_nybar")
        + F.col("n").cast(_D38) * base * base
    )
    return tot.select(
        "n",
        F.expr("t_ssq div n").cast("long").alias("brier_micro2"),
        F.expr("t_rel div n").cast("long").alias("reliability_micro2"),
        (res.cast(_D38)).cast("string").alias("_res_raw"),
        base.cast("long").alias("_base"),
    ).select(
        "n", "brier_micro2", "reliability_micro2",
        F.expr("cast(_res_raw as decimal(38,0)) div n").cast("long")
        .alias("resolution_micro2"),
        (F.col("_base") * (F.lit(1_000_000) - F.col("_base")))
        .cast("long").alias("uncertainty_micro2"),
    )


# Contingency cells (|clusters|·|labels| rows) v_measure and
# adjusted_rand_index finish on the driver.
MAX_CONTINGENCY_CELLS = 1_000_000


def _contingency_cells(df, cluster_col, label_col, what):
    """(cluster, label, n) cells: ONE partial-aggregated groupBy, then one
    bounded collect (``guards.collect_at_most``); ValueError past the cap."""
    rows = collect_at_most(
        df.groupBy(F.col(cluster_col).alias("k"), F.col(label_col).alias("c"))
        .agg(F.count(F.lit(1)).cast("long").alias("n")),
        MAX_CONTINGENCY_CELLS, what,
    )
    if rows is None:
        raise ValueError(
            f"{what}: more than MAX_CONTINGENCY_CELLS={MAX_CONTINGENCY_CELLS} "
            "(cluster, label) cells; evaluate on coarser clusters or labels."
        )
    return [(r["k"], r["c"], int(r["n"])) for r in rows]


def v_measure(
    df: DataFrame, cluster_col: str, label_col: str
) -> DataFrame:
    """V-measure clustering evaluation (Rosenberg & Hirschberg 2007):
    homogeneity h = 1 − H(label|cluster)/H(label), completeness
    c = 1 − H(cluster|label)/H(cluster), v = 2hc/(h+c) — the
    contingency-based external validation for any clustering (k-means,
    LSH buckets, dedup clusters) against known labels; unlike accuracy
    it needs no cluster-label matching.

    Determinism: every entropy is a sum of per-cell contributions
    quantized to integer NANOS before summation — each contribution is
    ONE fixed-operand-order float expression over exact integer counts
    (n_ij, n_i, n_j, N), so the integer sums are order-free and the
    three released ratios are fixed-order float ops over those exact
    sums (boundary-exact 6-decimal canonicalization downstream).
    Degenerate guards: h = 1 when H(label) = 0, c = 1 when
    H(cluster) = 0, v = 0 when h + c = 0.

    Scale shape: ONE groupBy collapses the corpus to the contingency
    cells (bounded by |clusters|·|labels|, never rows), which finish on
    the driver (``_contingency_cells``) in the oracle's IEEE operation
    order: same divisions, same ln, same floor(x·1e9 + 0.5).

    Returns one row: (n, hl_nanos, hc_nanos, hlk_nanos, hkl_nanos,
    homogeneity, completeness, v_measure).
    """
    import math

    spark = df.sparkSession
    cells = _contingency_cells(df, cluster_col, label_col, "v_measure")
    schema = (
        "n long, hl_nanos long, hc_nanos long, hlk_nanos long, hkl_nanos long, "
        "homogeneity_raw double, completeness_raw double, v_measure_raw double"
    )
    if not cells:
        # mirror the empty-input frame: null aggregates, degenerate h=c=1
        return spark.createDataFrame(
            [(None, None, None, None, None, 1.0, 1.0, 1.0)], schema=schema
        )
    n_k: dict = {}
    n_c: dict = {}
    for k, c, n in cells:
        n_k[k] = n_k.get(k, 0) + n
        n_c[c] = n_c.get(c, 0) + n
    nn = sum(n for _, _, n in cells)

    def q(x: float) -> int:
        return math.floor(x * 1e9 + 0.5)

    hlk = -sum(q((n / nn) * math.log(n / n_k[k])) for k, c, n in cells)
    hkl = -sum(q((n / nn) * math.log(n / n_c[c])) for k, c, n in cells)
    hl = -sum(q((v / nn) * math.log(v / nn)) for v in n_c.values())
    hc = -sum(q((v / nn) * math.log(v / nn)) for v in n_k.values())
    h = 1.0 - hlk / hl if hl > 0 else 1.0
    c_ = 1.0 - hkl / hc if hc > 0 else 1.0
    v = 2.0 * h * c_ / (h + c_) if (h + c_) > 0 else 0.0
    return spark.createDataFrame(
        [(nn, hl, hc, hlk, hkl, h, c_, v)], schema=schema
    )


def adjusted_rand_index(
    df: DataFrame, cluster_col: str, label_col: str
) -> DataFrame:
    """Adjusted Rand Index (Hubert & Arabie 1985) — the chance-corrected
    pair-counting companion to v_measure: +1 for identical partitions,
    ~0 for random assignment, negative for worse-than-chance. Computed
    ENTIRELY from exact integer pair counts (no entropies, no ln):

        Sij = Σ_ij n_ij(n_ij−1),  Sa = Σ_i a_i(a_i−1),  Sb = Σ_j b_j(b_j−1)
        ARI = (C·Sij − Sa·Sb) / (C·(Sa+Sb)/2 − Sa·Sb),  C = n(n−1)

    (doubled-binomial form: every term is an exact decimal(38,0)
    integer; the single /2 stays exact because C·(Sa+Sb) is always even
    — both factors are products of consecutive integers). The release is
    ONE IEEE division of two exact integers. Degenerate den = 0 (single
    cluster AND single label, or n < 2) releases 1.0 when num = 0 (the
    sklearn convention: identical trivial partitions) else 0.0.

    Scale shape: ONE groupBy to the contingency cells (bounded by
    |clusters|·|labels|), which finish on the driver
    (``_contingency_cells``) in exact Python integers. Magnitude bound:
    the oracle's C·Sij product stays inside decimal(38,0) to n ~ 3e9
    rows; past that, compute ARI on a hash-sampled contingency.

    Returns one row: (n, sij, sa, sb, ari_raw).
    """
    spark = df.sparkSession
    cells = _contingency_cells(df, cluster_col, label_col, "adjusted_rand_index")
    schema = "n long, sij long, sa long, sb long, ari_raw double"
    if not cells:
        # mirror the empty-input frame: null aggregates, when() falls
        # through both branches to the 0.0 release
        return spark.createDataFrame([(None, None, None, None, 0.0)], schema=schema)
    a: dict = {}
    b: dict = {}
    for k, c, n in cells:
        a[k] = a.get(k, 0) + n
        b[c] = b.get(c, 0) + n
    nn = sum(n for _, _, n in cells)
    sij = sum(n * (n - 1) for _, _, n in cells)
    sa = sum(v * (v - 1) for v in a.values())
    sb = sum(v * (v - 1) for v in b.values())
    cc = nn * (nn - 1)
    num = cc * sij - sa * sb
    den = (cc * (sa + sb)) // 2 - sa * sb
    if den != 0:
        ari = float(num) / float(den)
    else:
        ari = 1.0 if num == 0 else 0.0
    return spark.createDataFrame([(nn, sij, sa, sb, ari)], schema=schema)


def gains_table(
    df: DataFrame,
    score_col: str,
    label_col: str,
    id_col: str,
    n_buckets: int = 10,
) -> DataFrame:
    """Cumulative gains / lift table: rank rows by score descending, cut
    into ``n_buckets`` equal-position buckets, and report per bucket the
    positives captured so far and the cumulative lift over the base rate
    — the model-eval view a targeting/curation decision actually reads
    ("top 20% of the ranking captures X% of the positives at Y× lift"),
    complementing auc_score (one number) and roc_curve (threshold
    curve).

    Engine-exact spec: the global position is rn = (rows with strictly
    higher score) + (row_number within the score group ordered by id) —
    a deterministic unique total order with NO single-task global
    window; the bucket is the closed-form b = ((rn−1)·k) div N + 1
    (identical integer arithmetic on both engines rather than relying
    on a native ntile); capture and lift release as exact ppm trunc
    divisions capture = cum_pos·1e6 div P and
    lift = cum_pos·N·1e6 div (cum_n·P).

    Scale shape: one groupBy(score) for the distinct-score cumulative
    offsets (bounded by score cardinality), an AQE-decided join back,
    a row_number window PARTITIONED BY SCORE (distributed; a single
    degenerate constant-score input concentrates in one task — pre-salt
    upstream if scores are constant), one groupBy(bucket) and a k-row
    cumulative window. No Python stages.

    Returns ``n_buckets`` rows: ``(bucket, n, n_pos, cum_n, cum_pos,
    capture_ppm, lift_ppm)``.
    """
    rows = df.select(
        F.col(score_col).alias("s"),
        F.col(label_col).cast("long").alias("y"),
        F.col(id_col).alias("rid"),
    )
    g = rows.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    wcb = Window.orderBy(F.col("s").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    off = g.select("s", F.coalesce(F.sum("cnt").over(wcb), F.lit(0)).alias("cb"))
    win = Window.partitionBy("s").orderBy("rid")
    tot = rows.agg(
        F.count(F.lit(1)).cast("long").alias("nn"),
        F.sum("y").cast("long").alias("pp"),
    )
    pos = (
        rows.join(off, "s")
        .withColumn("rn", F.col("cb") + F.row_number().over(win))
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "bucket",
            F.expr(f"cast(((rn - 1) * {int(n_buckets)}) div nn + 1 as int)"),
        )
    )
    per_b = pos.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
        F.max("nn").alias("nn"),
        F.max("pp").alias("pp"),
    )
    wc = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_b.select(
        "bucket", "n", "n_pos", "nn", "pp",
        F.sum("n").over(wc).cast("long").alias("cum_n"),
        F.sum("n_pos").over(wc).cast("long").alias("cum_pos"),
    )
    return cum.select(
        "bucket", "n", "n_pos", "cum_n", "cum_pos",
        F.expr(
            "cast(case when pp > 0 then (cum_pos * 1000000) div pp"
            " else 0 end as bigint)"
        ).alias("capture_ppm"),
        F.expr(
            "cast(case when pp > 0 and cum_n > 0 then"
            " (cast(cum_pos as decimal(38,0)) * nn * 1000000) div"
            " (cast(cum_n as decimal(38,0)) * pp) else 0 end as bigint)"
        ).alias("lift_ppm"),
    )


def _ntile_code(
    units: "DataFrame",
    val_col: str,
    id_col: str,
    out_col: str,
    n_buckets: int = 5,
    ascending: bool = True,
) -> "DataFrame":
    """Deterministic engine-exact ntile of ``units`` by ``val_col`` —
    the gains_table ranking trick factored out: global position rn =
    cumulative count of strictly-better values (distinct-value frame)
    + row_number within the value group ordered by ``id_col``; bucket =
    ((rn-1)*k) div N + 1. No single-task window over raw rows — the
    unpartitioned cumulative window runs over the DISTINCT-VALUE frame
    only, so callers must pass a bounded-cardinality value (quantized
    upstream if needed; see rfm_segments).
    """
    order = F.col("_v").asc() if ascending else F.col("_v").desc()
    rows = units.select(
        F.col(val_col).cast("long").alias("_v"), F.col(id_col).alias("_rid"), "*"
    )
    g = rows.groupBy("_v").agg(F.count(F.lit(1)).cast("long").alias("_cnt"))
    wcb = Window.orderBy(order).rowsBetween(Window.unboundedPreceding, -1)
    off = g.select("_v", F.coalesce(F.sum("_cnt").over(wcb), F.lit(0)).alias("_cb"))
    win = Window.partitionBy("_v").orderBy("_rid")
    tot = rows.agg(F.count(F.lit(1)).cast("long").alias("_nn"))
    out = (
        rows.join(off, "_v")
        .withColumn("_rn", F.col("_cb") + F.row_number().over(win))
        .crossJoin(F.broadcast(tot))
        .withColumn(
            out_col,
            F.expr(f"cast(((_rn - 1) * {int(n_buckets)}) div _nn + 1 as int)"),
        )
    )
    return out.drop("_v", "_rid", "_cb", "_rn", "_nn", "_cnt")


def rfm_segments(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    monetary_event: str = "purchase",
    event_col: str = "event_type",
    n_buckets: int = 5,
    monetary_unit_cents: int = 100,
) -> DataFrame:
    """RFM (recency / frequency / monetary) quintile segmentation — the
    classical user-base triage view (Hughes 1994) a curation or
    targeting pipeline reads before sampling users: code every user
    1..k on each dimension, then report the segment grid.

    Per user: recency_days = days between the user's last event and the
    corpus max day (0 = active today), freq = total events, monetary =
    exact integer cents over ``monetary_event`` rows. Codes: R by
    recency ASCENDING (1 = most recent), F by frequency DESCENDING
    (1 = most frequent), M by monetary DESCENDING (1 = biggest spender)
    — each via the engine-exact closed-form ntile (no native ntile, no
    single-task raw-row window), ties broken deterministically by
    user id.

    Scale shape: one groupBy(user) collapses the corpus; the three
    ranking passes run their unpartitioned cumulative window over
    DISTINCT-VALUE frames only — recency is calendar-bounded, freq is
    count-bounded, and monetary is quantized to whole units
    (``monetary_unit_cents``) precisely so its distinct frame is
    value-range-bounded, not user-bounded. Output: <= k^3 segment rows
    (r_q, f_q, m_q, n_users, total_cents, mean_cents as an exact trunc
    division).
    """
    per_user = events.groupBy(F.col(user_col).alias("_uid")).agg(
        F.max(F.to_date(F.col(ts_col).cast("timestamp"))).alias("_last_d"),
        F.count(F.lit(1)).cast("long").alias("_freq"),
        F.sum(
            F.when(
                F.col(event_col) == monetary_event,
                F.floor(F.col(value_col) * F.lit(100.0) + F.lit(0.5)).cast("long"),
            ).otherwise(F.lit(0))
        ).cast("long").alias("_mon_cents"),
    )
    mx = events.agg(
        F.max(F.to_date(F.col(ts_col).cast("timestamp"))).alias("_mx_d")
    )
    u = per_user.crossJoin(F.broadcast(mx)).select(
        "_uid",
        F.datediff(F.col("_mx_d"), F.col("_last_d")).cast("long").alias("_rec"),
        "_freq",
        "_mon_cents",
        F.expr(f"_mon_cents div {int(monetary_unit_cents)}").alias("_mon_u"),
    )
    u = _ntile_code(u, "_rec", "_uid", "r_q", n_buckets, ascending=True)
    u = _ntile_code(u, "_freq", "_uid", "f_q", n_buckets, ascending=False)
    u = _ntile_code(u, "_mon_u", "_uid", "m_q", n_buckets, ascending=False)
    seg = u.groupBy("r_q", "f_q", "m_q").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("_mon_cents").cast("long").alias("total_cents"),
    )
    return seg.select(
        "r_q", "f_q", "m_q", "n_users", "total_cents",
        F.expr("cast(total_cents div n_users as bigint)").alias("mean_cents"),
    )


def qini_curve(
    units: DataFrame,
    score_col: str,
    arm_col: str,
    resp_col: str,
    id_col: str,
    n_buckets: int = 10,
) -> DataFrame:
    """Qini curve (Radcliffe 2007) — the uplift-model acceptance view
    that gains_table/lift_table cannot give: rank ALL units (treated arm
    0 and control arm 1 together) by the targeting score, and per decile
    report the INCREMENTAL responders
        qini(k) = cumR_t(k) - cumR_c(k) * cumN_t(k) / cumN_c(k)
    — responders the treatment CAUSED among the top-k, net of what the
    control base rate predicts. A useless score gives the straight line
    to qini(K); a real uplift score bows above it.

    Engine-exact spec: positions via the closed-form ntile over the
    BOUNDED distinct-score frame (score desc, unit id asc — the
    gains_table construction); all counts exact integers; the release is
    qini_micro = cumR_t*1e6 - (cumR_c*cumN_t*1e6) div cumN_c, an exact
    integer (control-empty prefixes release cumR_t*1e6).

    Scale shape: one groupBy(score) offset frame + score-partitioned
    row_number, one groupBy(bucket), one k-row cumulative window —
    identical to gains_table, with 4 conditional sums instead of 1.
    """
    rows = units.select(
        F.col(score_col).cast("long").alias("_qs"),
        F.col(id_col).alias("_qid"),
        F.col(arm_col).cast("int").alias("_arm"),
        F.col(resp_col).cast("long").alias("_resp"),
    )
    coded = _ntile_code(rows, "_qs", "_qid", "bucket", n_buckets, ascending=False)
    per_b = coded.groupBy("bucket").agg(
        F.sum((F.col("_arm") == 0).cast("long")).cast("long").alias("n_t"),
        F.sum((F.col("_arm") != 0).cast("long")).cast("long").alias("n_c"),
        F.sum(F.when(F.col("_arm") == 0, F.col("_resp")).otherwise(0))
        .cast("long").alias("r_t"),
        F.sum(F.when(F.col("_arm") != 0, F.col("_resp")).otherwise(0))
        .cast("long").alias("r_c"),
    )
    wc = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_b.select(
        "bucket", "n_t", "n_c", "r_t", "r_c",
        F.sum("n_t").over(wc).cast("long").alias("cum_n_t"),
        F.sum("n_c").over(wc).cast("long").alias("cum_n_c"),
        F.sum("r_t").over(wc).cast("long").alias("cum_r_t"),
        F.sum("r_c").over(wc).cast("long").alias("cum_r_c"),
    )
    return cum.select(
        "bucket", "n_t", "n_c", "r_t", "r_c",
        "cum_n_t", "cum_n_c", "cum_r_t", "cum_r_c",
        F.expr(
            "cast(case when cum_n_c > 0 then cum_r_t * 1000000"
            " - (cast(cum_r_c as decimal(38,0)) * cum_n_t * 1000000)"
            " div cum_n_c else cum_r_t * 1000000 end as bigint)"
        ).alias("qini_micro"),
    )


def average_precision(
    df: DataFrame, score_col: str, label_col: str
) -> DataFrame:
    """Average precision (area under the precision-recall curve, the
    step-wise sklearn definition sum_i (R_i - R_{i-1}) * P_i over
    distinct-score thresholds) — the ranking metric that stays
    informative under class imbalance where ROC-AUC saturates: with 1%
    positives a classifier can hold fpr tiny (great-looking ROC) while
    precision collapses; AP reads straight off the PR trade-off.

    Exact path: per distinct score block i (descending), the recall
    increment is pos_at_i / total_pos and precision is cum_pos_i /
    cum_all_i, so
      term_i = (pos_at_i * cum_pos_i * 1e6) div cum_all_i
      ap_ppm = (sum_i term_i) div total_pos
    — every division floors nonnegative integers, so both engines
    reproduce the scalar bit-identically (per-block quantization is the
    release contract, documented like every ppm trunc in this module).

    Scale shape: identical to roc_curve_points — one partial-aggregable
    groupBy collapses the corpus to |distinct scores| rows, the ordered
    pass runs only there.

    Returns one row: (n_thresholds, total_pos, ap_ppm).
    """
    lbl = F.col(label_col).cast("int")
    g = df.groupBy(F.col(score_col).alias("score")).agg(
        F.count(F.lit(1)).cast("long").alias("n_at"),
        F.sum(lbl).cast("long").alias("pos_at"),
    )
    w = Window.orderBy(F.col("score").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.orderBy(F.col("score").desc()).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = g.select(
        "pos_at",
        F.sum("pos_at").over(w).cast("long").alias("cum_pos"),
        F.sum("n_at").over(w).cast("long").alias("cum_all"),
        F.sum("pos_at").over(wall).cast("long").alias("tot_pos"),
    )
    dec = "decimal(38,0)"
    agg = c.groupBy("tot_pos").agg(
        F.count(F.lit(1)).cast("long").alias("n_thresholds"),
        F.sum(
            F.expr(
                "(cast(pos_at as decimal(38,0)) * cum_pos * 1000000)"
                " div cum_all"
            )
        ).cast(dec).alias("tsum"),
    )
    return agg.select(
        "n_thresholds",
        F.col("tot_pos").cast("long").alias("total_pos"),
        F.when(
            F.col("tot_pos") > 0,
            F.expr("cast(tsum div tot_pos as bigint)"),
        ).otherwise(F.lit(0)).alias("ap_ppm"),
    )


def youden_threshold(
    df: DataFrame, score_col: str, label_col: str
) -> DataFrame:
    """Youden's J threshold selection over the exact ROC table: the
    distinct score maximizing J = TPR - FPR (in released ppm units) —
    the standard operating point for a quality/contamination gate when
    false positives and false negatives weigh equally, read directly
    off roc_curve_points' frame instead of eyeballing the curve. Ties
    break deterministically on the SMALLEST qualifying score (gate in
    more, the documented rule).

    Returns one row: (best_score, tpr_ppm, fpr_ppm, j_ppm,
    n_thresholds).
    """
    pts = roc_curve_points(df, score_col, label_col)
    w = Window.orderBy(
        (F.col("tpr_ppm") - F.col("fpr_ppm")).desc(), F.col("score").asc()
    )
    ranked = pts.select(
        "score", "tpr_ppm", "fpr_ppm",
        (F.col("tpr_ppm") - F.col("fpr_ppm")).alias("j_ppm"),
        F.row_number().over(w).alias("_rk"),
        F.count(F.lit(1)).over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).cast("long").alias("n_thresholds"),
    )
    return ranked.filter(F.col("_rk") == 1).select(
        F.col("score").alias("best_score"),
        "tpr_ppm", "fpr_ppm", "j_ppm", "n_thresholds",
    )
