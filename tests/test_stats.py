"""Tests for deterministic Poisson bootstrap, A/B z-test, grouped HLL."""

import math

import pytest
from pyspark.sql import functions as F

from feature_extractor_mbo_lob_spark.functions import sketch
from feature_extractor_mbo_lob_spark.functions.stats import (
    _POIS1_CUM_PPM,
    ab_proportions_ztest,
    poisson_bootstrap_mean,
)


def test_poisson_thresholds_are_the_exact_integer_cdf():
    c = 0.0
    for k, t in enumerate(_POIS1_CUM_PPM):
        c += math.exp(-1.0) / math.factorial(k)
        assert t == int(math.floor(c * 1_000_000))
    assert _POIS1_CUM_PPM == [367879, 735758, 919698, 981011, 996340, 999405]


def test_poisson_bootstrap_replicates_deterministic_and_plausible(spark):
    df = spark.createDataFrame(
        [(i, 100 + (i % 7)) for i in range(400)], "id long, y long"
    )
    out = poisson_bootstrap_mean(df, "id", "y", n_replicates=16)
    rows = {r.replicate: (r.w_sum, r.wy_sum) for r in out.collect()}
    assert len(rows) == 16
    # weights average ~1 -> each replicate's total weight near n
    for w_sum, wy_sum in rows.values():
        assert 300 < w_sum < 500
        mean = wy_sum / w_sum
        assert 100 <= mean <= 107
    # re-run is byte-identical (no rand() anywhere)
    rows2 = {r.replicate: (r.w_sum, r.wy_sum) for r in
             poisson_bootstrap_mean(df, "id", "y", n_replicates=16).collect()}
    assert rows == rows2


def test_ab_ztest_cells_and_statistic(spark):
    # 40 units, conversion iff unit id < 10 — arms are md5-split, so
    # recompute the expected cells with the same bucket rule
    from feature_extractor_mbo_lob_spark.functions.corpus import md5_bucket

    df = spark.createDataFrame([(u,) for u in range(40)], "uid long")
    arms = {r.uid: r.arm for r in df.select("uid", md5_bucket("uid", 2).alias("arm")).collect()}
    events = spark.createDataFrame(
        [(u, "buy" if u < 10 else "view") for u in range(40)],
        "uid long, etype string",
    )
    out = ab_proportions_ztest(events, "uid", F.col("etype") == "buy").collect()[0]
    n_a = sum(1 for a in arms.values() if a == 0)
    conv_a = sum(1 for u, a in arms.items() if a == 0 and u < 10)
    n_b = 40 - n_a
    conv_b = 10 - conv_a
    assert (out.n_a, out.conv_a, out.n_b, out.conv_b) == (n_a, conv_a, n_b, conv_b)
    p_a, p_b, p = conv_a / n_a, conv_b / n_b, 10 / 40
    se = math.sqrt(p * (1 - p) * (1 / n_a + 1 / n_b))
    assert out.z == pytest.approx((p_a - p_b) / se, rel=1e-12)


def test_ab_ztest_degenerate_is_null_not_error(spark):
    events = spark.createDataFrame([(u, "buy") for u in range(20)], "uid long, etype string")
    out = ab_proportions_ztest(events, "uid", F.col("etype") == "buy").collect()[0]
    assert out.conv_a == out.n_a and out.conv_b == out.n_b
    assert out.z is None


def test_grouped_hll_matches_per_group_ungrouped(spark):
    df = spark.createDataFrame(
        [(g, f"{g}-{i % (20 * (g + 1))}") for g in range(3) for i in range(200)],
        "g int, key string",
    )
    grouped = sketch.hll_registers(df, "key", p=8, group_cols=("g",))
    for g in range(3):
        solo = sketch.hll_registers(df.filter(F.col("g") == g), "key", p=8)
        a = {(r.register, r.max_rank) for r in grouped.filter(F.col("g") == g)
             .select("register", "max_rank").collect()}
        b = {(r.register, r.max_rank) for r in solo.collect()}
        assert a == b
        est = sketch.hll_estimate(solo, p=8)
        true = 20 * (g + 1)
        assert abs(est - true) / true < 0.35


def test_benford_profile_integer_exact(spark):
    from feature_extractor_mbo_lob_spark.validation import benford_profile

    # 1000 rows with a known leading-digit histogram: digit d appears d*20 times
    rows = []
    rid = 0
    for d in range(1, 10):
        for i in range(d * 20):
            rows.append((rid, d * 1000 + i)) ; rid += 1
    df = spark.createDataFrame(rows, "id long, cents long")
    out = {r.digit: r for r in benford_profile(df, "cents").collect()}
    total = sum(d * 20 for d in range(1, 10))
    assert set(out) == set(range(1, 10))
    for d in range(1, 10):
        assert out[d].n_obs == d * 20
        assert out[d].obs_ppm == (d * 20 * 1_000_000) // total
        assert out[d].excess_ppm == out[d].obs_ppm - out[d].benford_ppm
    assert out[1].benford_ppm == 301029 and out[9].benford_ppm == 45757
    # zero/negative amounts are excluded
    df2 = df.union(spark.createDataFrame([(9999, 0), (10000, -5)], "id long, cents long"))
    assert benford_profile(df2, "cents").agg({"n_obs": "sum"}).collect()[0][0] == total


def test_topic_boundaries_detects_vocabulary_shift(spark):
    from feature_extractor_mbo_lob_spark.operators.sequence import topic_boundaries

    # one conversation: 4 turns about apples, then 4 about databases
    turns = ["apple pie tart", "apple cider", "apple orchard pie", "apple jam",
             "database index scan", "database shard", "database index", "database vacuum"]
    rows = [("c1", i, txt) for i, txt in enumerate(turns)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    out = {r.boundary_idx: r for r in topic_boundaries(df, k=2).collect()}
    # boundary at turn 4 separates disjoint vocabularies -> jaccard 0
    assert out[4].n_both == 0 and out[4].jaccard_ppm == 0 and out[4].is_boundary == 1
    # a mid-topic boundary shares 'apple' -> jaccard > 0
    assert out[2].n_both >= 1 and out[2].jaccard_ppm > 0
    # windows: boundary 4 left = turns 2,3 words; right = turns 4,5 words
    assert out[4].n_left == len({"apple", "orchard", "pie", "jam"})
    assert out[4].n_right == len({"database", "index", "scan", "shard"})


def test_seasonal_decompose_int_matches_naive(spark):
    from feature_extractor_mbo_lob_spark.functions.stats import seasonal_decompose_int

    # 5 days of hourly data with a known diurnal shape + trend + gaps
    period = 24
    rows = []
    for h in range(120):
        if h % 17 == 3:  # punch gaps: densify must restore them as zeros
            continue
        rows.append((1000 + h, (h % 24) * 3 + h // 10))
    df = spark.createDataFrame(rows, "hr long, y long")
    out = {
        r["phase"]: (r["n_obs"], r["seasonal_sum_2p"])
        for r in seasonal_decompose_int(df, "hr", "y", period=period).collect()
    }

    # naive reference on the dense series
    lo = min(h for h, _ in rows)
    hi = max(h for h, _ in rows)
    dense = {h: 0 for h in range(lo, hi + 1)}
    for h, y in rows:
        dense[h] = y
    idx = sorted(dense)
    expect = {}
    half = period // 2
    for pos, h in enumerate(idx):
        if pos < half or pos + half >= len(idx):
            continue
        window = [dense[idx[pos + o]] for o in range(-half, half + 1)]
        trend_2p = 2 * sum(window) - window[0] - window[-1]
        d = 2 * period * dense[h] - trend_2p
        n, s = expect.get(h % period, (0, 0))
        expect[h % period] = (n + 1, s + d)
    assert out == expect
    # a full-coverage series yields every phase
    assert set(out) == set(range(period))


def test_propensity_match_hand_case(spark):
    from feature_extractor_mbo_lob_spark.functions.stats import propensity_match

    rows = [
        # (id, stratum, score, treated, outcome)
        ("t1", 0, 10, 1, 100),   # controls at 8 and 12: tie -> lower score wins
        ("t2", 0, 99, 1, 50),    # nearest is 95 (dist 4) vs 12 (dist 87)
        ("t3", 1, 10, 1, 7),     # other stratum: only c5 eligible
        ("c1", 0, 8, 0, 80),
        ("c2", 0, 12, 0, 60),
        ("c3", 0, 12, 0, 61),    # same score as c2 -> min-id rep is c2
        ("c4", 0, 95, 0, 40),
        ("c5", 1, 500, 0, 1),
    ]
    df = spark.createDataFrame(
        rows, "id string, st int, score long, treated int, y long"
    )
    out = {
        r["unit_id"]: r
        for r in propensity_match(
            df, "id", "score", "treated", "y", stratum_col="st"
        ).collect()
    }
    assert set(out) == {"t1", "t2", "t3"}
    t1 = out["t1"]
    assert (t1["control_id"], t1["control_score"]) == ("c1", 8)  # backward tie-win
    assert t1["att_term"] == 100 - 80
    t2 = out["t2"]
    assert (t2["control_id"], t2["y_c"], t2["n_ctl_at_score"]) == ("c4", 40, 1)
    t3 = out["t3"]
    assert (t3["control_id"], t3["control_score"], t3["att_term"]) == ("c5", 500, 6)
    # duplicate-score controls collapse to the min-id representative
    assert all(r["control_id"] != "c3" for r in out.values())


def test_propensity_match_no_controls_in_stratum(spark):
    from feature_extractor_mbo_lob_spark.functions.stats import propensity_match

    rows = [("t1", 0, 10, 1, 5), ("c1", 1, 10, 0, 3)]
    df = spark.createDataFrame(
        rows, "id string, st int, score long, treated int, y long"
    )
    out = propensity_match(df, "id", "score", "treated", "y", stratum_col="st").collect()
    assert len(out) == 1 and out[0]["control_id"] is None
    assert out[0]["att_term"] is None


# --- Bradley-Terry -------------------------------------------------------------------


def _bt_pairs(spark):
    rows = [
        ("A", "B", 9), ("B", "A", 1),
        ("B", "C", 9), ("C", "B", 1),
        ("A", "C", 9), ("C", "A", 1),
    ]
    return spark.createDataFrame(rows, "winner string, loser string, w long")


def test_bradley_terry_dominance_order(spark):
    from feature_extractor_mbo_lob_spark.functions.stats import bradley_terry

    out = {r.pl: r for r in bradley_terry(_bt_pairs(spark)).collect()}
    assert set(out) == {"A", "B", "C"}
    assert out["A"].wins == 18 and out["B"].wins == 10 and out["C"].wins == 2
    assert all(r.n_matches == 20 for r in out.values())
    assert out["A"].p_micro > out["B"].p_micro > out["C"].p_micro > 0


# --- Cochran-Armitage ----------------------------------------------------------------


def test_cochran_armitage_matches_naive_float(spark):
    from feature_extractor_mbo_lob_spark.functions.stats import cochran_armitage_trend

    # dose-dependent rates: 1/10, 3/10, 5/10, 8/10
    rows = []
    for g, r in enumerate((1, 3, 5, 8)):
        rows += [(g, 1)] * r + [(g, 0)] * (10 - r)
    df = spark.createDataFrame(rows, "band long, is_err int")
    out = cochran_armitage_trend(df, "band", "is_err").collect()[0]
    assert out.n_groups == 4 and out.n_total == 40 and out.x_total == 17
    n_i = [10] * 4
    r_i = [1, 3, 5, 8]
    N, X = 40, 17
    T = sum(g * r for g, r in enumerate(r_i))
    S1 = sum(g * n for g, n in enumerate(n_i))
    S2 = sum(g * g * n for g, n in enumerate(n_i))
    naive = (T * N - X * S1) ** 2 * (N - 1) / (X * (N - X) * (N * S2 - S1 * S1))
    assert abs(out.z2_raw - naive) < 1e-12
    assert out.z2_raw > 6.0  # strong trend


def test_cochran_armitage_flat_rates_near_zero(spark):
    from feature_extractor_mbo_lob_spark.functions.stats import cochran_armitage_trend

    rows = []
    for g in range(4):
        rows += [(g, 1)] * 5 + [(g, 0)] * 5
    df = spark.createDataFrame(rows, "band long, is_err int")
    out = cochran_armitage_trend(df, "band", "is_err").collect()[0]
    assert out.z2_raw < 1e-12


# --- Wilcoxon signed-rank ------------------------------------------------------------


def test_wilcoxon_signed_rank_matches_naive(spark):
    from feature_extractor_mbo_lob_spark.functions.stats import wilcoxon_signed_rank

    ds = [3, -1, 2, 2, -2, 5, 0, 4, -3, 1]  # zero drops; ties in |d|
    df = spark.createDataFrame([(d,) for d in ds], "d long")
    r = wilcoxon_signed_rank(df).collect()[0]

    nz = [d for d in ds if d != 0]
    n = len(nz)
    ranked = sorted(nz, key=lambda d: abs(d))
    # midranks with ties (as floats), doubled at the end
    import collections
    cnt = collections.Counter(abs(d) for d in nz)
    start, mid = 1, {}
    for ad in sorted(cnt):
        t = cnt[ad]
        mid[ad] = start + (t - 1) / 2.0
        start += t
    w_pos = sum(mid[abs(d)] for d in nz if d > 0)
    tie = sum(t ** 3 - t for t in cnt.values())
    assert r.n_pairs == n
    assert r.w2_pos == int(2 * w_pos)
    assert r.e2 == n * (n + 1) // 2
    assert r.tie_term == tie
    var2 = n * (n + 1) * (2 * n + 1) / 6.0 - tie / 12.0  # Var(2W+)
    naive_z2 = (2 * w_pos - n * (n + 1) / 2.0) ** 2 / var2
    assert abs(r.z2_raw - naive_z2) < 1e-9


# --- Kruskal-Wallis ------------------------------------------------------------------


def test_kruskal_wallis_statistics_and_h(spark):
    from feature_extractor_mbo_lob_spark.functions.stats import kruskal_wallis

    rows = [("a", 1), ("a", 2), ("a", 2), ("b", 2), ("b", 5), ("c", 7), ("c", 9)]
    df = spark.createDataFrame(rows, "grp string, c long")
    out = {r.grp: r for r in kruskal_wallis(df, "grp", "c").collect()}
    # pooled doubled midranks: 1->2, 2->{2,3,4}->6, 5->10, 7->12, 9->14
    assert out["a"].r2_sum == 2 + 6 + 6 and out["a"].n_g == 3
    assert out["b"].r2_sum == 6 + 10 and out["b"].n_g == 2
    assert out["c"].r2_sum == 12 + 14 and out["c"].n_g == 2
    N = out["a"].n_total
    tie = out["a"].tie_term
    assert N == 7 and tie == 3 ** 3 - 3
    # derive H from the integers and compare to a naive float computation
    h = 12.0 / (N * (N + 1)) * sum(
        (r.r2_sum / 2.0) ** 2 / r.n_g for r in out.values()
    ) - 3 * (N + 1)
    h_corr = h / (1 - tie / float(N ** 3 - N))
    ranks = {1: 1.0, 2: 3.0, 5: 5.0, 7: 6.0, 9: 7.0}
    groups = {"a": [1, 2, 2], "b": [2, 5], "c": [7, 9]}
    h_naive = 12.0 / (N * (N + 1)) * sum(
        sum(ranks[c] for c in v) ** 2 / len(v) for v in groups.values()
    ) - 3 * (N + 1)
    assert abs(h_corr * (1 - tie / float(N ** 3 - N)) - h_naive) < 1e-9


# --- lagged cross-correlation ----------------------------------------------------------


def test_cross_correlation_matches_numpy(spark):
    import numpy as np
    from feature_extractor_mbo_lob_spark.functions.stats import cross_correlation

    x = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3]
    # y lags x by exactly 2 -> strong correlation at lag 2
    y = [0, 0] + x[:-2]
    rows = [(t, x[t], y[t]) for t in range(10)]
    df = spark.createDataFrame(rows, "t long, x long, y long")
    out = {r.lag: r for r in cross_correlation(df, "t", "x", "y", max_lag=3).collect()}
    assert out[0].n == 10 and out[3].n == 7
    for lag in range(4):
        xa = np.array(x[: 10 - lag], dtype=float)
        ya = np.array(y[lag:], dtype=float)
        r = np.corrcoef(xa, ya)[0, 1]
        naive = np.sign(r) * r * r
        assert abs(out[lag].r2_signed_raw - naive) < 1e-9
    assert abs(out[2].r2_signed_raw - 1.0) < 1e-12  # exact lag-2 alignment


# --- effect size / Cramér's V ----------------------------------------------------------


def test_effect_size_d2_matches_naive_cohens_d(spark):
    import math
    from feature_extractor_mbo_lob_spark.functions.stats import effect_size_d2
    from feature_extractor_mbo_lob_spark.functions.corpus import md5_bucket

    rows = [(i, 100.0 + (i % 13) + (i % 3) * 7) for i in range(200)]
    ev = spark.createDataFrame(rows, "user_id long, value double")
    r = effect_size_d2(ev, "user_id").collect()[0]
    # reproduce arms + cents exactly
    arms = {
        x.uid: x.arm
        for x in ev.select(
            ev.user_id.alias("uid"), md5_bucket(ev.user_id, 2).alias("arm")
        ).collect()
    }
    cents = {u: int(math.floor(v * 100.0 + 0.5)) for u, v in rows}
    a = [c for u, c in cents.items() if arms[u] == 0]
    b = [c for u, c in cents.items() if arms[u] == 1]
    assert r.n_a == len(a) and r.n_b == len(b)
    ma, mb = sum(a) / len(a), sum(b) / len(b)
    va = sum((x - ma) ** 2 for x in a) / (len(a) - 1)
    vb = sum((x - mb) ** 2 for x in b) / (len(b) - 1)
    sp2 = ((len(a) - 1) * va + (len(b) - 1) * vb) / (len(a) + len(b) - 2)
    d = (ma - mb) / math.sqrt(sp2)
    naive = math.copysign(d * d, d)
    assert abs(r.d2_signed_raw - naive) < 1e-9


def test_cramers_v2_perfect_association_is_one(spark):
    from feature_extractor_mbo_lob_spark.functions.stats import cramers_v2

    # 3x3 diagonal table: perfect association, V^2 = 1
    rows = [(str(i), i) for i in range(3) for _ in range(10)]
    df = spark.createDataFrame(rows, "a string, b long")
    r = cramers_v2(df, "a", "b").collect()[0]
    assert r.n_rows == 3 and r.n_cols == 3 and r.n_total == 30
    assert abs(r.v2_raw - 1.0) < 1e-5  # fixed-point floors only


def test_cramers_v2_independence_is_zero(spark):
    from feature_extractor_mbo_lob_spark.functions.stats import cramers_v2

    rows = [(str(i), j) for i in range(3) for j in range(4) for _ in range(5)]
    df = spark.createDataFrame(rows, "a string, b long")
    r = cramers_v2(df, "a", "b").collect()[0]
    assert r.chi2_fp == 0 and r.v2_raw == 0.0


def test_dispersion_index_poisson_like_and_bursty(spark):
    from feature_extractor_mbo_lob_spark.functions.stats import dispersion_index

    rows = (
        [("flat", x) for x in (4, 5, 6, 5, 5)]        # var 0.5, mean 5 -> 0.1
        + [("burst", x) for x in (0, 0, 0, 0, 25)]    # heavily clumped
        + [("tiny", 7)]                               # n < 2 -> NULL
        + [("zero", 0), ("zero", 0)]                  # s = 0 -> NULL
    )
    df = spark.createDataFrame(rows, "g string, x long")
    out = {r.g: r for r in dispersion_index(df, "g", "x").collect()}
    assert out["flat"].n == 5 and out["flat"].mean_x == 5.0
    assert out["flat"].dispersion == 0.1
    # burst: mean 5, var = (4*25 + 400)/4 = 125 -> D = 25
    assert out["burst"].dispersion == 25.0
    assert out["tiny"].dispersion is None
    assert out["zero"].dispersion is None


def test_cliffs_delta_matches_naive_pairwise(spark):
    import hashlib

    from feature_extractor_mbo_lob_spark.functions.stats import cliffs_delta

    # one event per user; value = cents/100 so per-user total = value*100
    rows = [(f"u{i}", float(i % 13) + (i % 3) * 0.25) for i in range(60)]
    df = spark.createDataFrame(rows, "user_id string, value double")
    r = cliffs_delta(df, "user_id").collect()[0]

    arm = lambda u: int(hashlib.md5(u.encode()).hexdigest()[:7], 16) % 2
    import math
    a = [math.floor(v * 100.0 + 0.5) for u, v in rows if arm(u) == 0]
    b = [math.floor(v * 100.0 + 0.5) for u, v in rows if arm(u) == 1]
    assert (r.n_a, r.n_b) == (len(a), len(b))
    gt = sum(1 for x in a for y in b if x > y)
    lt = sum(1 for x in a for y in b if x < y)
    expect = (gt - lt) / (len(a) * len(b))
    assert abs(r.delta - expect) < 2e-6
    assert -1.0 <= r.delta <= 1.0


def test_hill_tail_index_hand_case(spark):
    import math

    from feature_extractor_mbo_lob_spark.functions.stats import hill_tail_index

    # top-3 values 64, 32, 16; threshold x_(4) = 8; k = 3
    vals = [64, 32, 16, 8] + [2] * 10
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    r = hill_tail_index(df, "x", k=3).collect()[0]
    assert r.k == 3 and r.n_total == 14 and r.x_threshold == 8
    q = lambda v: math.floor(math.log(v) * 1e9 + 0.5)
    h = (q(64) + q(32) + q(16) - 3 * q(8)) // 3
    assert r.h_nanos == h
    assert r.alpha_micro == (10**9 * 10**6) // h
    # Hill of 64/8, 32/8, 16/8 = mean ln = (3+2+1)*ln2/3 = 2 ln2 -> alpha ~ 0.72
    assert abs(r.alpha_micro / 1e6 - 1 / (2 * math.log(2))) < 1e-5


def test_hill_tail_index_ties_and_insufficient_rows(spark):
    from feature_extractor_mbo_lob_spark.functions.stats import hill_tail_index

    # ties straddling the k boundary: values [9,9,9,9,5,...] k=2 takes two 9s,
    # threshold is the value at cumulative position 3 (still 9)
    df = spark.createDataFrame([(9,)] * 4 + [(5,)] * 3, "x long")
    r = hill_tail_index(df, "x", k=2).collect()[0]
    assert r.x_threshold == 9 and r.h_nanos == 0 and r.alpha_micro is None
    # fewer than k+1 rows -> empty frame, not a bogus row
    tiny = spark.createDataFrame([(7,), (3,)], "x long")
    assert hill_tail_index(tiny, "x", k=5).count() == 0


def test_hll_sliding_distinct_tracks_true_trailing_counts(spark):
    import datetime as dt

    from feature_extractor_mbo_lob_spark.functions.sketch import hll_sliding_distinct

    base = dt.datetime(2024, 1, 1)
    rows = []
    # 40 users/day, 50% overlap with the previous day
    for d in range(10):
        for u in range(40):
            rows.append((f"u{d * 20 + u}", base + dt.timedelta(days=d)))
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    out = {r.day: r for r in
           hll_sliding_distinct(df, "user_id", "ts", window_days=7, p=8).collect()}
    # day 9 window covers days 3..9: users u60..u239 -> 180 distinct
    day9 = dt.date(2024, 1, 10)
    assert abs(out[day9].est - 180) / 180 < 0.15  # p=8 ~ 6.5% rse
    # day 0 window covers only day 0: 40 distinct
    day0 = dt.date(2024, 1, 1)
    assert abs(out[day0].est - 40) / 40 < 0.15
    # trailing windows extend past the last data day (day 9 + 6)
    assert dt.date(2024, 1, 16) in out and dt.date(2024, 1, 17) not in out
    # monotone merge: a window superset never has fewer set registers
    assert out[day9].m_set >= out[day0].m_set


def test_markov_stationary_symmetric_and_absorbing(spark):
    from feature_extractor_mbo_lob_spark.functions.graph import markov_stationary

    sym = spark.createDataFrame(
        [("a", "b", 1), ("b", "a", 1)], "src string, dst string, w long"
    )
    out = {r.state: r.pi_ppm for r in markov_stationary(sym, iterations=4).collect()}
    assert out == {"a": 500000, "b": 500000}

    # b always leaves to a; a self-loops: all mass drains to a
    absb = spark.createDataFrame(
        [("a", "a", 1), ("b", "a", 1)], "src string, dst string, w long"
    )
    out = {r.state: r.pi_ppm for r in markov_stationary(absb, iterations=4).collect()}
    assert out["a"] == 1_000_000 and out["b"] == 0


def test_effective_sample_size_hand_cases(spark):
    from feature_extractor_mbo_lob_spark.functions.corpus import effective_sample_size

    # uniform weights: ESS = n exactly
    u = spark.createDataFrame([(1_000_000,)] * 8, "w long")
    r = effective_sample_size(u, "w").collect()[0]
    assert r.ess_ratio_ppm == 1_000_000
    assert r.ess_micro == 8_000_000

    # one full + two half weights: ESS = (2e6)^2 / 1.5e12 = 8/3
    v = spark.createDataFrame([(1_000_000,), (500_000,), (500_000,)], "w long")
    r = effective_sample_size(v, "w").collect()[0]
    assert r.ess_micro == (2_000_000**2 * 1_000_000) // 1_500_000_000_000
    assert r.ess_ratio_ppm == (2_000_000**2 * 1_000_000) // (3 * 1_500_000_000_000)
    # zero-weight degenerate input releases 0, not a crash
    z = spark.createDataFrame([(0,)], "w long")
    assert effective_sample_size(z, "w").collect()[0].ess_micro == 0


def test_eb_shrinkage_pulls_small_n_toward_prior(spark):
    from feature_extractor_mbo_lob_spark.functions.stats import eb_shrunk_rates

    # big well-measured groups at 50% and 70%; one tiny 1/1 group
    rows = [("a", 1000, 500), ("b", 1000, 700), ("tiny", 1, 1)]
    df = spark.createDataFrame(rows, "tool string, n long, k long")
    out = {r.tool: r for r in eb_shrunk_rates(df, "tool", "n", "k").collect()}
    mu = (500 + 700 + 1) * 10**6 // 2001 / 1e6
    # tiny's raw rate is 1.0 but its shrunk rate collapses near the prior
    assert out["tiny"].rate_ppm == 1_000_000
    assert out["tiny"].shrunk_rate_raw < mu + 0.15
    # well-measured groups barely move and ordering is preserved
    assert abs(out["a"].shrunk_rate_raw - 0.5) < 0.05
    assert abs(out["b"].shrunk_rate_raw - 0.7) < 0.05
    assert out["b"].shrunk_rate_raw > out["a"].shrunk_rate_raw


def test_eb_shrinkage_degenerate_equal_rates(spark):
    from feature_extractor_mbo_lob_spark.functions.stats import eb_shrunk_rates

    # zero between-group variance -> raw rates released unshrunk
    rows = [("a", 10, 5), ("b", 20, 10)]
    df = spark.createDataFrame(rows, "tool string, n long, k long")
    out = {r.tool: r.shrunk_rate_raw
           for r in eb_shrunk_rates(df, "tool", "n", "k").collect()}
    assert out == {"a": 0.5, "b": 0.5}


def test_markov_entropy_rate_hand_cases(spark):
    import math

    from feature_extractor_mbo_lob_spark.functions.graph import markov_entropy_rate

    # deterministic 2-cycle: every transition is certain -> H = 0
    det = spark.createDataFrame(
        [("a", "b", 5), ("b", "a", 5)], "src string, dst string, w long"
    )
    assert markov_entropy_rate(det).collect()[0].h_nanos == 0

    # symmetric fair coin chain: H = ln 2 per step
    fair = spark.createDataFrame(
        [("a", "a", 1), ("a", "b", 1), ("b", "a", 1), ("b", "b", 1)],
        "src string, dst string, w long",
    )
    r = markov_entropy_rate(fair).collect()[0]
    assert r.n_states == 2 and r.n_edges == 4
    # p = 0.5 everywhere, pi = 0.5: H = ln 2; quantization: q = ln(0.5)*1e9,
    # t = 250000 ppm per cell -> h = -(4 * 250000 * q) div 1e6
    q = math.floor(math.log(0.5) * 1e9 + 0.5)
    assert r.h_nanos == (0 - 4 * 250000 * q) // 10**6
    assert abs(r.h_nanos / 1e9 - math.log(2)) < 1e-6


def test_wasserstein_1d_hand_case(spark):
    from feature_extractor_mbo_lob_spark.functions.stats import wasserstein_1d

    # A = {0,0,4}, B = {2,2,2}: optimal transport cost = (2+2+2)/3 = 2.0
    rows = [("a", 0), ("a", 0), ("a", 4), ("b", 2), ("b", 2), ("b", 2)]
    df = spark.createDataFrame(rows, "g string, x long")
    r = wasserstein_1d(df, "g", "x", "a", "b").collect()[0]
    assert (r.n_a, r.n_b) == (3, 3)
    assert r.w1_micro == 2_000_000
    # identical distributions -> 0
    same = spark.createDataFrame(
        [("a", v) for v in (1, 5, 9)] + [("b", v) for v in (1, 5, 9)], "g string, x long"
    )
    assert wasserstein_1d(same, "g", "x", "a", "b").collect()[0].w1_micro == 0
    # shift by a constant: W1 == the shift
    shift = spark.createDataFrame(
        [("a", v) for v in (1, 5, 9)] + [("b", v + 3) for v in (1, 5, 9)],
        "g string, x long",
    )
    assert wasserstein_1d(shift, "g", "x", "a", "b").collect()[0].w1_micro == 3_000_000


def test_conformal_calibration_matches_naive_replica(spark):
    import hashlib
    import math

    from feature_extractor_mbo_lob_spark.functions.stats import conformal_calibration

    rows = [(i, (i * 37) % 101) for i in range(400)]
    df = spark.createDataFrame(rows, "id long, s long")
    r = conformal_calibration(df, "s", alpha_num=1, alpha_den=10).collect()[0]

    arm = lambda i: int(hashlib.md5(str(i).encode()).hexdigest()[:7], 16) % 2
    cal = sorted(s for i, s in rows if arm(i) == 0)
    ev = [s for i, s in rows if arm(i) == 1]
    k = min(math.ceil((len(cal) + 1) * 0.9), len(cal))
    q = cal[k - 1]
    assert (r.n_cal, r.n_eval) == (len(cal), len(ev))
    assert r.q_hat == q
    assert r.coverage_ppm == sum(1 for s in ev if s <= q) * 10**6 // len(ev)
    # the conformal guarantee: coverage near or above 1 - alpha
    assert r.coverage_ppm >= 850_000


def test_permutation_test_null_vs_signal(spark):
    from feature_extractor_mbo_lob_spark.functions.stats import permutation_test

    # null: identical constant values in both arms -> observed diff-of-means
    # statistic is ~0, every permutation ties it -> p = 1
    rows = [(f"u{i}", 10.0) for i in range(100)]
    df = spark.createDataFrame(rows, "user_id string, value double")
    r = permutation_test(df, "user_id", n_perms=64).collect()[0]
    assert r.n_units == 100 and r.b == 64
    assert r.p_ppm == 1_000_000

    # strong signal: value is a deterministic function of the REAL md5 arm,
    # so pseudo-arms wash it out -> small p
    import hashlib
    arm = lambda u: int(hashlib.md5(u.encode()).hexdigest()[:7], 16) % 2
    rows = [(f"u{i}", 100.0 if arm(f"u{i}") == 0 else 1.0) for i in range(200)]
    df = spark.createDataFrame(rows, "user_id string, value double")
    r = permutation_test(df, "user_id", n_perms=64).collect()[0]
    assert r.p_ppm <= 2 * 1_000_000 // 65 + 1  # at most ~2 extreme replicates


def test_cmh_pooled_odds_simpson_safe(spark):
    from feature_extractor_mbo_lob_spark.functions.stats import cmh_pooled_odds

    # two strata with identical within-stratum OR = (4*6)/(2*3) = 4.0;
    # CMH pools to exactly 4.0 regardless of stratum sizes
    rows = []
    for s, scale in (("x", 1), ("y", 3)):
        rows += [(s, 0, 1)] * 4 * scale + [(s, 0, 0)] * 2 * scale
        rows += [(s, 1, 1)] * 3 * scale + [(s, 1, 0)] * 6 * scale
    df = spark.createDataFrame(rows, "s string, arm int, y int")
    r = cmh_pooled_odds(df, "s", "arm", "y").collect()[0]
    assert r.n_strata == 2
    assert abs(r.or_cmh_raw - 4.0) < 1e-4  # micro quantization only

    # zero-cell stratum contributes its exact zero term, no crash
    z = spark.createDataFrame(
        [("z", 0, 1)] * 3 + [("z", 1, 0)] * 3, "s string, arm int, y int"
    )
    r = cmh_pooled_odds(z, "s", "arm", "y").collect()[0]
    assert r.den_micro == 0 and r.or_cmh_raw is None


def _naive_best_split(vals, ys, scale=1_000_000):
    # enumerate distinct thresholds; exact integer purity; argmax (purity desc, v asc)
    n, npos = len(vals), sum(ys)
    best = None
    for v in sorted(set(vals))[:-1]:
        nl = sum(1 for x in vals if x <= v)
        posl = sum(y for x, y in zip(vals, ys) if x <= v)
        sl2 = posl * posl + (nl - posl) * (nl - posl)
        nr, posr = n - nl, npos - posl
        sr2 = posr * posr + (nr - posr) * (nr - posr)
        purity = ((sl2 * nr + sr2 * nl) * scale) // (nl * nr * n)
        key = (-purity, v)
        if best is None or key < best[0]:
            best = (key, v, nl, posl, purity)
    return best[1:]


def test_gini_best_split_perfect_separation(spark):
    from feature_extractor_mbo_lob_spark.functions.stats import gini_best_split

    rows = [(1, 0), (2, 0), (3, 1), (4, 1)]
    df = spark.createDataFrame(rows, "x long, y long")
    r = gini_best_split(df, ["x"], "y").collect()[0]
    # perfect split at x <= 2: purity = 1.0 exactly
    assert (r.feature, r.threshold, r.purity_micro) == ("x", 2, 1_000_000)
    assert (r.n_left, r.n_right, r.pos_left, r.pos_right) == (2, 2, 0, 2)


def test_gini_best_split_matches_naive_enumeration(spark):
    from feature_extractor_mbo_lob_spark.functions.stats import gini_best_split

    # deterministic noisy feature: y mostly 1 above 6, plus a distractor feature
    vals = [1, 2, 2, 3, 5, 6, 6, 7, 8, 9, 9, 11, 13, 14]
    ys =   [0, 0, 1, 0, 0, 1, 0, 1, 1, 1, 0, 1, 1, 1]
    distractor = [(v * 7) % 5 for v in vals]
    df = spark.createDataFrame(
        list(zip(vals, distractor, ys)), "x long, d long, y long"
    )
    out = {r.feature: r for r in gini_best_split(df, ["x", "d"], "y").collect()}
    for feat, fvals in (("x", vals), ("d", distractor)):
        v, nl, posl, purity = _naive_best_split(fvals, ys)
        r = out[feat]
        assert (r.threshold, r.n_left, r.pos_left, r.purity_micro) == (
            v, nl, posl, purity
        ), feat
    # the real feature separates better than the distractor
    assert out["x"].purity_micro > out["d"].purity_micro


def _naive_jackknife(clusters, scale=1_000_000):
    # clusters: list of (s_g_cents, n_g); returns (ratio_micro, jk_var_micro2)
    S = sum(s for s, _ in clusters)
    N = sum(n for _, n in clusters)
    G = len(clusters)
    r = [((S - s) * scale) // (N - n) for s, n in clusters]
    Sr = sum(r)
    T = sum((G * ri - Sr) ** 2 for ri in r)
    return (S * scale) // N, ((G - 1) * T) // (G * G * G)


def test_jackknife_ratio_hand_case(spark):
    from feature_extractor_mbo_lob_spark.functions.stats import jackknife_ratio_var

    # 3 users with different per-event value levels (cluster correlation)
    rows = [("u1", 1.00), ("u1", 1.00), ("u2", 2.00), ("u2", 2.00),
            ("u2", 2.00), ("u3", 5.00)]
    df = spark.createDataFrame(rows, "user_id string, value double")
    r = jackknife_ratio_var(df, "user_id", "value").collect()[0]
    clusters = [(200, 2), (600, 3), (500, 1)]
    ratio, var = _naive_jackknife(clusters)
    assert (r.g_clusters, r.n_events, r.sum_cents) == (3, 6, 1300)
    assert r.ratio_micro == ratio
    assert r.jk_var_micro2 == var
    assert r.jk_var_micro2 > 0


def test_jackknife_zero_when_clusters_identical(spark):
    from feature_extractor_mbo_lob_spark.functions.stats import jackknife_ratio_var

    # identical clusters -> every pseudo-value equal -> variance exactly 0
    rows = [(f"u{i}", 3.00) for i in range(5)]
    df = spark.createDataFrame(rows, "user_id string, value double")
    r = jackknife_ratio_var(df, "user_id", "value").collect()[0]
    assert r.jk_var_micro2 == 0 and r.ratio_micro == 300 * 1_000_000


def _synth_events(spark, n_users=40):
    rows = []
    for u in range(n_users):
        for g in ("alpha", "beta", "gamma"):
            # deterministic values; 'gamma' gets a big user-dependent bump
            v = 10.0 + (u % 7) + (50.0 * (u % 2) if g == "gamma" else 0.0)
            rows.append((g, u, v))
    return spark.createDataFrame(rows, "event_type string, user_id long, value double")


def test_bh_fdr_step_up_matches_naive(spark):
    from feature_extractor_mbo_lob_spark.functions.stats import bh_fdr_permutation

    ev = _synth_events(spark)
    out = bh_fdr_permutation(ev, "event_type", "user_id", "value",
                             n_perms=16, q_ppm=200_000).collect()
    # recompute the BH step from the emitted exact p-values
    rows = sorted(out, key=lambda r: (r.p_ppm, r.event_type))
    m = len(rows)
    k_star = max(
        (i + 1 for i, r in enumerate(rows) if r.p_ppm * m <= (i + 1) * 200_000),
        default=0,
    )
    for i, r in enumerate(rows):
        assert r.bh_rank == i + 1 and r.m_tests == m and r.k_star == k_star
        assert r.reject == int(r.bh_rank <= k_star)


def test_bh_fdr_gate_extremes(spark):
    from feature_extractor_mbo_lob_spark.functions.stats import bh_fdr_permutation

    ev = _synth_events(spark, n_users=20)
    none = bh_fdr_permutation(ev, "event_type", "user_id", "value",
                              n_perms=8, q_ppm=0).collect()
    assert all(r.reject == 0 for r in none)
    # q = 1 (ppm 1e6): p_ppm * m <= rank * 1e6 holds at rank = m for any p,
    # so the step-up rule rejects EVERYTHING
    allr = bh_fdr_permutation(ev, "event_type", "user_id", "value",
                              n_perms=8, q_ppm=1_000_000).collect()
    assert all(r.reject == 1 for r in allr)


def test_replay_ope_picks_best_arm_and_matches_naive(spark):
    import hashlib

    from feature_extractor_mbo_lob_spark.functions.stats import replay_policy_eval

    # one context; arm 'good' pays 9.00, arm 'bad' pays 1.00 deterministically
    rows = [(i, "good" if i % 2 == 0 else "bad",
             9.00 if i % 2 == 0 else 1.00) for i in range(200)]
    df = spark.createDataFrame(rows, "event_id long, arm string, value double")
    df = df.withColumn("ctx", F.lit(0).cast("long"))
    out = replay_policy_eval(df, "ctx", "arm", "value", "event_id").collect()
    assert len(out) == 1
    r = out[0]
    assert r.arm_star == "good"
    assert r.train_mean_micro == 900 * 1_000_000
    assert r.replay_mean_micro == 900 * 1_000_000
    # naive replay: count eval-half (md5 odd bucket) events with arm == good
    def bucket(e):
        return int(hashlib.md5(str(e).encode()).hexdigest()[:7], 16) % 2
    eval_rows = [(e, a, v) for e, a, v in rows if bucket(e) == 1]
    assert r.n_eval == len(eval_rows)
    assert r.n_matched == sum(1 for _, a, _ in eval_rows if a == "good")


def test_replay_ope_unmatched_context_returns_zero(spark):
    from feature_extractor_mbo_lob_spark.functions.stats import replay_policy_eval

    # policy arm 'a' exists only in the train half -> eval matches may be 0;
    # construct so that eval half contains only arm 'b' rows
    import hashlib
    def bucket(e):
        return int(hashlib.md5(str(e).encode()).hexdigest()[:7], 16) % 2
    train_ids = [e for e in range(100) if bucket(e) == 0][:5]
    eval_ids = [e for e in range(100) if bucket(e) == 1][:5]
    rows = [(e, "a", 9.0) for e in train_ids] + [(e, "b", 1.0) for e in eval_ids]
    df = spark.createDataFrame(rows, "event_id long, arm string, value double")
    df = df.withColumn("ctx", F.lit(0).cast("long"))
    r = replay_policy_eval(df, "ctx", "arm", "value", "event_id").collect()[0]
    assert r.arm_star == "a" and r.n_matched == 0 and r.replay_mean_micro == 0


def _naive_ljung_box(ys, lags):
    """Pure-python Ljung-Box on an already-dense integer series."""
    n = len(ys)
    s = sum(ys)
    u = [n * y - s for y in ys]  # n * centered value, exact ints
    c0 = sum(x * x for x in u)
    out = []
    q = 0
    for k in range(1, lags + 1):
        ck = sum(u[t] * u[t + k] for t in range(n - k))
        rk = ck / c0 if c0 > 0 else 0.0
        term = rk * rk * (n * (n + 2)) / (n - k) if c0 > 0 else 0.0
        nano = math.floor(term * 1e9) if c0 > 0 else 0
        q += nano
        out.append((k, n, n - k, rk, nano, q))
    return out


def test_ljung_box_matches_naive_with_gap_densify(spark):
    from feature_extractor_mbo_lob_spark.functions.stats import ljung_box

    # observed days 0..5 and 8..11 -> days 6,7 participate as zeros
    obs = [(0, 5), (1, 9), (2, 4), (3, 7), (4, 7), (5, 2), (8, 6), (9, 9),
           (10, 1), (11, 8)]
    df = spark.createDataFrame(obs, "d long, y long")
    got = {r.lag: r for r in ljung_box(df, "d", "y", lags=4).collect()}
    dense = []
    lookup = dict(obs)
    for d in range(0, 12):
        dense.append(lookup.get(d, 0))
    for k, n, npairs, rk, nano, q in _naive_ljung_box(dense, 4):
        r = got[k]
        assert r.n == n and r.n_pairs == npairs
        assert r.acf == math.floor(rk * 1e6 + 0.5) / 1e6
        assert r.lb_term_nano == nano
        assert r.q_nano == q


def test_ljung_box_constant_series_is_zero(spark):
    from feature_extractor_mbo_lob_spark.functions.stats import ljung_box

    df = spark.createDataFrame([(d, 3) for d in range(10)], "d long, y long")
    rows = ljung_box(df, "d", "y", lags=3).collect()
    assert all(r.acf == 0.0 and r.lb_term_nano == 0 and r.q_nano == 0
               for r in rows)


def test_kendall_tau_matches_naive_pair_count(spark):
    from feature_extractor_mbo_lob_spark.functions.stats import kendall_tau

    pts = [(0, 3, 1), (1, 1, 4), (2, 4, 4), (3, 1, 2), (4, 5, 9),
           (5, 2, 6), (6, 5, 3), (7, 5, 5)]
    df = spark.createDataFrame(pts, "d long, x long, y long")
    r = kendall_tau(df, "d", "x", "y").collect()[0]
    nc = nd = ndx = ndy = 0
    for i in range(len(pts)):
        for j in range(i + 1, len(pts)):
            dx = pts[i][1] - pts[j][1]
            dy = pts[i][2] - pts[j][2]
            if dx * dy > 0:
                nc += 1
            elif dx * dy < 0:
                nd += 1
            if dx != 0:
                ndx += 1
            if dy != 0:
                ndy += 1
    assert (r.n_pairs, r.nc, r.nd, r.n_dx, r.n_dy) == (
        len(pts) * (len(pts) - 1) // 2, nc, nd, ndx, ndy)
    sign = 1.0 if nc > nd else (-1.0 if nc < nd else 0.0)
    expect = sign * (nc - nd) ** 2 / (ndx * ndy)
    assert r.tau_b2_signed == math.floor(expect * 1e6 + 0.5) / 1e6
    # sanity: perfect agreement on a strictly increasing pair
    inc = spark.createDataFrame([(i, i, i * 2) for i in range(6)],
                                "d long, x long, y long")
    r2 = kendall_tau(inc, "d", "x", "y").collect()[0]
    assert r2.tau_b2_signed == 1.0


def test_kendall_tau_all_ties_guard(spark):
    from feature_extractor_mbo_lob_spark.functions.stats import kendall_tau

    df = spark.createDataFrame([(i, 7, i) for i in range(5)],
                               "d long, x long, y long")
    r = kendall_tau(df, "d", "x", "y").collect()[0]
    assert r.n_dx == 0 and r.tau_b2_signed == 0.0


def _naive_granger(xs, ys):
    """Exact-integer replica of granger_lag1's formula on dense series."""
    out = {}
    for direction, dep, own, cross in (
        ("x_to_y", ys[1:], ys[:-1], xs[:-1]),
        ("y_to_x", xs[1:], xs[:-1], ys[:-1]),
    ):
        n = len(dep)
        sy, s1, s2 = sum(dep), sum(own), sum(cross)
        pyy = sum(a * a for a in dep)
        p11 = sum(a * a for a in own)
        p22 = sum(a * a for a in cross)
        p12 = sum(a * b for a, b in zip(own, cross))
        p1y = sum(a * b for a, b in zip(own, dep))
        p2y = sum(a * b for a, b in zip(cross, dep))
        cyy, c11, c22 = n * pyy - sy * sy, n * p11 - s1 * s1, n * p22 - s2 * s2
        c12, c1y, c2y = n * p12 - s1 * s2, n * p1y - s1 * sy, n * p2y - s2 * sy
        t = c2y * c11 - c1y * c12
        det = c11 * c22 - c12 * c12
        q = c1y * c1y * c22 - 2 * c1y * c2y * c12 + c2y * c2y * c11
        if n > 3 and det > 0 and float(cyy) * float(det) - float(q) > 0:
            f = (
                float(n - 3) * (float(t) * float(t))
                / (float(c11) * (float(cyy) * float(det) - float(q)))
            )
        else:
            f = 0.0
        out[direction] = (n, cyy, c11, c22, c12, c1y, c2y,
                          math.floor(f * 1e6 + 0.5) / 1e6)
    return out


def test_granger_lag1_exact_parity_and_direction(spark):
    from feature_extractor_mbo_lob_spark.functions.stats import granger_lag1

    # y follows x with a 1-day lag (plus a wiggle) -> x_to_y F should
    # dominate y_to_x
    xs = [5, 9, 2, 8, 4, 7, 1, 6, 9, 3, 8, 2]
    ys = [0] + [x * 3 + (i % 2) for i, x in enumerate(xs[:-1])]
    rows = [(d, x, y) for d, (x, y) in enumerate(zip(xs, ys))]
    df = spark.createDataFrame(rows, "d long, x long, y long")
    got = {r.direction: r for r in granger_lag1(df, "d", "x", "y").collect()}
    want = _naive_granger(xs, ys)
    for direction, (n, cyy, c11, c22, c12, c1y, c2y, f) in want.items():
        r = got[direction]
        assert (r.n, r.syy, r.s11, r.s22, r.s12, r.s1y, r.s2y) == (
            n, cyy, c11, c22, c12, c1y, c2y)
        assert r.f_stat == f
    assert got["x_to_y"].f_stat > 10 * got["y_to_x"].f_stat


def test_granger_lag1_densifies_missing_days(spark):
    from feature_extractor_mbo_lob_spark.functions.stats import granger_lag1

    # day 2 missing -> must participate as (0, 0)
    rows = [(0, 4, 1), (1, 2, 5), (3, 6, 2), (4, 1, 7), (5, 3, 3)]
    df = spark.createDataFrame(rows, "d long, x long, y long")
    got = {r.direction: r for r in granger_lag1(df, "d", "x", "y").collect()}
    xs, ys = [4, 2, 0, 6, 1, 3], [1, 5, 0, 2, 7, 3]
    want = _naive_granger(xs, ys)
    for direction in ("x_to_y", "y_to_x"):
        assert got[direction].f_stat == want[direction][-1]
        assert got[direction].n == 5


def test_haar_energy_matches_naive(spark):
    from feature_extractor_mbo_lob_spark.functions.stats import haar_energy

    obs = [(3, 5), (4, 2), (5, 9), (6, 1), (8, 7), (9, 4), (10, 6)]
    df = spark.createDataFrame(obs, "d long, y long")
    got = {r.level: r for r in haar_energy(df, "d", "y", levels=3).collect()}
    # dense absolute-index series 3..10 (day 7 -> 0)
    series = {d: y for d, y in obs}
    cur = {i: series.get(i, 0) for i in range(3, 11)}
    energies = {}
    for lvl in range(1, 4):
        pairs = {}
        for i, y in cur.items():
            pairs.setdefault(i // 2, {})[i % 2] = y
        full = {k: v for k, v in pairs.items() if len(v) == 2}
        energies[lvl] = sum((v[0] - v[1]) ** 2 for v in full.values())
        cur = {k: v[0] + v[1] for k, v in full.items()}
    total = sum(energies.values())
    for lvl, e in energies.items():
        assert got[lvl].energy == e
        assert got[lvl].energy_ppm == (e * 1_000_000) // total
    assert sum(r.energy_ppm for r in got.values()) <= 1_000_000


def test_trimmed_mean_matches_sorted_trim(spark):
    from feature_extractor_mbo_lob_spark.functions.stats import trimmed_mean

    xs = [100, 100, 200, 300, 300, 300, 900, 5000, 5000, -50, 10, 10]
    df = spark.createDataFrame([("a", x) for x in xs], "grp string, v long")
    r = trimmed_mean(df, "grp", "v", trim_ppm=100_000).collect()[0]
    n = len(xs)
    k = n * 100_000 // 1_000_000
    kept = sorted(xs)[k:n - k]
    assert (r.n, r.k_trimmed, r.n_kept) == (n, k, len(kept))
    want = (sum(kept) * 1_000_000) // len(kept)
    assert r.trimmed_mean_micro == want
    # trim everything -> NULL
    tiny = spark.createDataFrame([("b", 5), ("b", 7)], "grp string, v long")
    r2 = trimmed_mean(tiny, "grp", "v", trim_ppm=500_000).collect()[0]
    assert r2.trimmed_mean_micro is None


def _naive_ad_nano(xs, ys):
    from collections import Counter
    N = len(xs) + len(ys)
    pooled = sorted(set(xs + ys))
    la, lp = Counter(xs), Counter(xs + ys)
    na, nb = len(xs), len(ys)
    ma_prev = b_prev = snano = 0
    for z in pooled:
        l, fa = lp[z], la[z]
        bb, mma = 2 * b_prev + l, 2 * ma_prev + fa
        mmb = 2 * (b_prev - ma_prev) + (l - fa)
        dc = bb * (2 * N - bb) - N * l
        for mm, ni in ((mma, na), (mmb, nb)):
            if dc > 0 and ni > 0:
                x = N * mm - ni * bb
                snano += math.floor(
                    float(l) * (float(x) * float(x))
                    / (float(ni) * float(N) * float(dc)) * 1e9)
        ma_prev += fa
        b_prev += l
    return ((N - 1) * snano) // N


def test_anderson_darling_matches_naive_midrank_formula(spark):
    from feature_extractor_mbo_lob_spark.functions.stats import anderson_darling_2s

    xs = [3, 7, 7, 12, 15, 15, 15, 22, 30, 41]
    ys = [5, 7, 9, 15, 18, 25, 25, 33]
    rows = [(0, v) for v in xs] + [(1, v) for v in ys]
    df = spark.createDataFrame(rows, "arm int, v long")
    r = anderson_darling_2s(df, "arm", "v").collect()[0]
    assert (r.n_a, r.n_b) == (len(xs), len(ys))
    assert r.n_distinct == len(set(xs + ys))
    assert r.a2_nano == _naive_ad_nano(xs, ys)
    # tail separation fires: disjoint samples give a much larger A2
    far = [(0, v) for v in range(100, 120)] + [(1, v) for v in range(500, 520)]
    r2 = anderson_darling_2s(
        spark.createDataFrame(far, "arm int, v long"), "arm", "v").collect()[0]
    assert r2.a2_nano > 5 * max(r.a2_nano, 1)


def test_theil_index_exact_and_limits(spark):
    from feature_extractor_mbo_lob_spark.functions.stats import theil_index

    rows = [("a", x) for x in (100, 100, 100, 100)] + [
        ("b", x) for x in (1, 1, 1, 997)
    ] + [("c", 50), ("c", 0)]  # zero-size row excluded
    df = spark.createDataFrame(rows, "grp string, x long")
    got = {r.grp: r for r in theil_index(df, "grp", "x").collect()}
    assert got["a"].theil_t == 0.0  # perfect equality
    # python replica of the exact spec for group b
    import math as _m
    xs = [1, 1, 1, 997]
    S, n = sum(xs), len(xs)
    wl = sum(x * _m.floor(_m.log(x) * 1e9 + 0.5) for x in xs)
    t = wl / S / 1e9 - _m.floor(_m.log(S / n) * 1e9 + 0.5) / 1e9
    assert got["b"].theil_t == _m.floor(t * 1e6 + 0.5) / 1e6
    assert 0 < got["b"].theil_t < _m.log(4) + 1e-6
    assert got["c"].n == 1 and got["c"].total == 50


def test_mase_seasonal_hand_case(spark):
    from feature_extractor_mbo_lob_spark.functions.stats import mase_seasonal

    # 14 days, perfect weekly pattern -> seasonal error 0, mase 0
    pat = [3, 9, 4, 7, 2, 8, 5]
    rows = [(d, y) for d, y in enumerate(pat + pat)]
    df = spark.createDataFrame(rows, "d long, y long")
    r = mase_seasonal(df, "d", "y", period=7).collect()[0]
    assert r.n_scored == 7 and r.sum_abs_seasonal == 0 and r.mase_ppm == 0
    naive1 = sum(abs(rows[t][1] - rows[t - 1][1]) for t in range(7, 14))
    assert r.sum_abs_naive1 == naive1
    # constant series -> NULL (naive error zero)
    const = spark.createDataFrame([(d, 5) for d in range(10)], "d long, y long")
    r2 = mase_seasonal(const, "d", "y", period=7).collect()[0]
    assert r2.mase_ppm is None
    # densify: a missing day becomes 0 and contributes |y| jumps
    gap = spark.createDataFrame(
        [(d, 5) for d in range(9) if d != 8] + [(9, 5)], "d long, y long")
    r3 = mase_seasonal(gap, "d", "y", period=7).collect()[0]
    assert r3.sum_abs_seasonal > 0


def test_ltv_curve_two_cohorts(spark):
    from pyspark.sql import functions as F

    from feature_extractor_mbo_lob_spark.functions.stats import ltv_curve

    rows = [
        # cohort week W: users 1, 2 (first events same week)
        (1, "2024-01-01", "purchase", 10.0),
        (2, "2024-01-02", "view", 0.0),
        # age 1 week: user 1 buys again, user 2 buys
        (1, "2024-01-08", "purchase", 5.0),
        (2, "2024-01-09", "purchase", 20.0),
        # cohort W+1: user 3
        (3, "2024-01-10", "purchase", 7.0),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts string, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = ltv_curve(ev).collect()
    by = {(r.cohort_week, r.age_weeks): r for r in out}
    weeks = sorted({r.cohort_week for r in out})
    w0, w1 = weeks[0], weeks[-1]
    a0 = by[(w0, 0)]
    assert a0.cohort_users == 2 and a0.spend_cents == 1000
    a1 = by[(w0, 1)]
    assert a1.spend_cents == 500 + 2000
    assert a1.cum_spend_cents == 3500
    assert a1.ltv_micro == (3500 * 1_000_000) // 2
    b0 = by[(w1, 0)]
    assert b0.cohort_users == 1 and b0.cum_spend_cents == 700


def test_jarque_bera_matches_naive_and_nulls_constant(spark):
    import math

    vals_a = [3, 7, 7, 8, 9, 12, 15, 40, 80, 5, 6, 7]   # right-skewed
    vals_b = [5] * 10                                    # constant -> NULLs
    rows = [("A", v) for v in vals_a] + [("B", v) for v in vals_b]
    df = spark.createDataFrame(rows, "grp string, y long")
    from feature_extractor_mbo_lob_spark.functions.stats import jarque_bera

    out = {r.grp: r for r in jarque_bera(df, "grp", "y").collect()}

    n = len(vals_a)
    s1 = sum(vals_a)
    c = s1 // n
    d = [v - c for v in vals_a]
    D = [sum(x ** k for x in d) for k in (1, 2, 3, 4)]
    a2 = n * D[1] - D[0] ** 2
    a3 = n * n * D[2] - 3 * n * D[0] * D[1] + 2 * D[0] ** 3
    a4 = (n ** 3 * D[3] - 4 * n * n * D[0] * D[2]
          + 6 * n * D[0] ** 2 * D[1] - 3 * D[0] ** 4)
    b1 = (float(a3) * float(a3)) / (float(a2) * float(a2) * float(a2))
    b2 = float(a4) / (float(a2) * float(a2))
    jb = float(n) * (b1 / 6.0 + (b2 - 3.0) * (b2 - 3.0) / 24.0)
    r6 = lambda x: math.floor(x * 1e6 + 0.5) / 1e6
    a = out["A"]
    assert a.n == n
    assert a.skew2 == r6(b1)
    assert a.kurtosis == r6(b2)
    assert a.jb_stat == r6(jb)
    # sanity: this sample is visibly non-normal (JB far above chi2(2) crit)
    assert a.jb_stat > 5.99
    b = out["B"]
    assert b.n == 10
    assert b.skew2 is None and b.kurtosis is None and b.jb_stat is None


def test_cramer_von_mises_hand_case(spark):
    """A={1}, B={2}: S = 1 at z=1, 0 at z=2; T = 1/(1*1*4) = 0.25."""
    from feature_extractor_mbo_lob_spark.functions.stats import cramer_von_mises_2s

    df = spark.createDataFrame([("a", 1), ("b", 2)], "g string, x long")
    r = cramer_von_mises_2s(df, "g", "x", "a", "b").collect()[0]
    assert (r.n_a, r.n_b, r.t_micro) == (1, 1, 250000)


def test_cochran_q_hand_case(spark):
    """Blocks {A}, {A,B}, {A,B,C} with k=3: T=(3,2,1), S=6, sumT2=14,
    sumR2=14 -> Q = 2*(3*14-36)/(18-14) = 3."""
    from feature_extractor_mbo_lob_spark.functions.stats import cochran_q

    rows = [(1, "A"), (2, "A"), (2, "B"), (3, "A"), (3, "B"), (3, "C")]
    df = spark.createDataFrame(rows, "b long, t string")
    r = cochran_q(df, "b", "t", ["A", "B", "C"]).collect()[0]
    assert (r.k, r.n_blocks, r.s_total, r.q_micro) == (3, 3, 6, 3000000)


def test_cochran_q_degenerate_is_null(spark):
    """Every block exhibits every treatment -> denominator 0 -> NULL."""
    from feature_extractor_mbo_lob_spark.functions.stats import cochran_q

    rows = [(b, t) for b in (1, 2) for t in ("A", "B")]
    df = spark.createDataFrame(rows, "b long, t string")
    r = cochran_q(df, "b", "t", ["A", "B"]).collect()[0]
    assert r.q_micro is None


def test_durbin_watson_hand_case_and_perfect_fit(spark):
    """y=[0,1,0,1] over t=0..3: cleared residuals E=[-4,12,-12,4],
    DW = 1088/320 = 3.4; a perfect line has zero residuals -> NULL."""
    from feature_extractor_mbo_lob_spark.functions.stats import durbin_watson_trend

    df = spark.createDataFrame(
        [(10, 0), (11, 1), (12, 0), (13, 1)], "d long, y long"
    )
    r = durbin_watson_trend(df).collect()[0]
    assert (r.n, r.dw_micro) == (4, 3400000)

    line = spark.createDataFrame(
        [(0, 1), (1, 3), (2, 5), (3, 7)], "d long, y long"
    )
    r2 = durbin_watson_trend(line).collect()[0]
    assert r2.dw_micro is None


def test_yule_k_hand_case(spark):
    """'a a b': N=3, S2=5 -> K_milli = (2*1e7) div 9 = 2222222."""
    from feature_extractor_mbo_lob_spark.functions.stats import yule_k

    df = spark.createDataFrame([("s", "a a b")], "source string, text string")
    r = yule_k(df).collect()[0]
    assert (r.n_tokens, r.n_types, r.k_milli) == (3, 2, 2222222)


def test_gk_gamma_hand_cases(spark):
    """Perfect concordance -> gamma = 1e6; with one Y-tie pair Somers'
    D_yx = 2/3 while gamma stays 1."""
    from feature_extractor_mbo_lob_spark.functions.stats import gk_gamma

    perfect = spark.createDataFrame(
        [(0, 0), (1, 1), (2, 2)], "x long, y long"
    )
    r = gk_gamma(perfect, "x", "y").collect()[0]
    assert (r.n_pairs_c, r.n_pairs_d, r.gamma_micro) == (3, 0, 1000000)

    tied = spark.createDataFrame([(0, 0), (1, 0), (2, 1)], "x long, y long")
    r2 = gk_gamma(tied, "x", "y").collect()[0]
    assert (r2.n_pairs_c, r2.n_pairs_d, r2.ties_y) == (2, 0, 1)
    assert r2.gamma_micro == 1000000 and r2.somers_micro == 666666


def test_variance_ratio_hand_cases(spark):
    """y=[0,1,3,6]: A=6, B=4 -> VR = 36/48 = 0.75; a perfect line has
    A=... zero-variance one-period diffs -> NULL."""
    from feature_extractor_mbo_lob_spark.functions.stats import variance_ratio

    df = spark.createDataFrame(
        [(0, 0), (1, 1), (2, 3), (3, 6)], "d long, y long"
    )
    r = variance_ratio(df).collect()[0]
    assert (r.n, r.vr_micro) == (4, 750000)

    line = spark.createDataFrame(
        [(0, 5), (1, 7), (2, 9), (3, 11)], "d long, y long"
    )
    r2 = variance_ratio(line).collect()[0]
    assert r2.vr_micro is None


def test_turning_points_hand_case(spark):
    """y=[1,3,2,4,1]: T=3 strict extrema, n=5; plateau points are NOT
    turning points (strict inequalities)."""
    import math

    from feature_extractor_mbo_lob_spark.functions.stats import turning_points

    df = spark.createDataFrame(
        [(0, 1), (1, 3), (2, 2), (3, 4), (4, 1)], "d long, y long"
    )
    r = turning_points(df).collect()[0]
    z = (3 - 2.0 * 3 / 3.0) / math.sqrt((16.0 * 5 - 29.0) / 90.0)
    assert (r.n, r.t_count) == (5, 3)
    assert r.z == math.floor(z * 1e6 + 0.5) / 1e6

    flat = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 2), (3, 1)], "d long, y long"
    )
    r2 = turning_points(flat).collect()[0]
    assert r2.t_count == 0


def test_runs_test_hand_cases(spark):
    """y=[5,1,5,1,6,2]: lower median 2 (discarded), signs [1,0,1,0,1]
    -> n1=3, n2=2, R=5, z=(5-3.4)/sqrt(0.84); one-sided series after
    exclusion -> z NULL."""
    import math

    from feature_extractor_mbo_lob_spark.functions.stats import runs_test_median

    df = spark.createDataFrame(
        [(0, 5), (1, 1), (2, 5), (3, 1), (4, 6), (5, 2)], "d long, y long"
    )
    r = runs_test_median(df).collect()[0]
    z = (5 - (2.0 * 3 * 2 / 5 + 1.0)) / math.sqrt(
        2.0 * 3 * 2 * (2.0 * 3 * 2 - 5) / (25.0 * 4)
    )
    assert (r.n1, r.n2, r.r_count) == (3, 2, 5)
    assert r.z == math.floor(z * 1e6 + 0.5) / 1e6

    onesided = spark.createDataFrame([(0, 1), (1, 2), (2, 2)], "d long, y long")
    r2 = runs_test_median(onesided).collect()[0]
    assert r2.z is None and r2.n1 == 0


def test_brown_forsythe_hand_cases(spark):
    """Groups a=[0,0,4] (median 0, z=[0,0,4]) and b=[1,1,1] (z=0):
    exact F = 1 -> f_micro=1000000; two constant groups -> SSW=0 ->
    NULL."""
    from feature_extractor_mbo_lob_spark.functions.stats import brown_forsythe

    df = spark.createDataFrame(
        [("a", 0), ("a", 0), ("a", 4), ("b", 1), ("b", 1), ("b", 1)],
        "g string, x long",
    )
    r = brown_forsythe(df, "g", "x").collect()[0]
    assert (r.k, r.n_total, r.f_micro) == (2, 6, 1000000)

    const = spark.createDataFrame(
        [("a", 3), ("a", 3), ("b", 7), ("b", 7)], "g string, x long"
    )
    r2 = brown_forsythe(const, "g", "x").collect()[0]
    assert r2.f_micro is None


def test_grubbs_hand_cases(spark):
    """x=[0,0,0,4]: mean 1, s=2, G=(4-1)/2=1.5; constant group and
    n<3 release NULL but keep their rows."""
    from feature_extractor_mbo_lob_spark.functions.stats import grubbs_max_outlier

    df = spark.createDataFrame(
        [("a", 0), ("a", 0), ("a", 0), ("a", 4),
         ("b", 5), ("b", 5), ("b", 5),
         ("c", 1), ("c", 9)],
        "g string, x long",
    )
    rows = {r.g: r for r in grubbs_max_outlier(df, "g", "x").collect()}
    assert rows["a"].g_stat == 1.5 and rows["a"].n == 4
    assert rows["b"].g_stat is None  # constant
    assert rows["c"].g_stat is None  # n < 3


def test_atkinson_hand_cases(spark):
    """x=[1,4]: GM=2, AM=2.5 -> A=0.2 (via the same nano-quantized ln
    both engines use); equal shares -> 0; zero sizes excluded."""
    import math

    from feature_extractor_mbo_lob_spark.functions.stats import atkinson_index

    df = spark.createDataFrame(
        [("a", 1), ("a", 4), ("b", 3), ("b", 3), ("b", 3), ("c", 0),
         ("c", 2), ("c", 8)],
        "g string, x long",
    )
    rows = {r.g: r for r in atkinson_index(df, "g", "x").collect()}

    def expected(xs):
        l = sum(math.floor(math.log(x) * 1e9 + 0.5) for x in xs)
        atk = 1.0 - len(xs) * math.exp(l / len(xs) / 1e9) / sum(xs)
        return math.floor(atk * 1e6 + 0.5) / 1e6

    assert rows["a"].atkinson == expected([1, 4]) == 0.2
    assert rows["b"].atkinson == 0.0
    # zeros carry no welfare mass: n=2, total=10, A = 1 - 4/5
    assert (rows["c"].n, rows["c"].total) == (2, 10)
    assert rows["c"].atkinson == expected([2, 8])


def test_mood_median_hand_case(spark):
    """a=[1,1,5], b=[5,5,9]: grand lower median 5, above-counts (0,1)
    -> 2x2 chi-square = 6*(0*2-1*3)^2/(1*5*3*3) = 1.2; all mass on one
    side -> NULL."""
    from feature_extractor_mbo_lob_spark.functions.stats import mood_median

    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", 5), ("b", 5), ("b", 5), ("b", 9)],
        "g string, x long",
    )
    r = mood_median(df, "g", "x").collect()[0]
    assert (r.k, r.n_total, r.chi2_micro) == (2, 6, 1200000)

    flat = spark.createDataFrame(
        [("a", 3), ("a", 3), ("b", 3)], "g string, x long"
    )
    assert mood_median(flat, "g", "x").collect()[0].chi2_micro is None


def test_jonckheere_hand_case(spark):
    """g1=[1,2], g2=[2,3]: JT2 = 2+2+1+2 = 7; E2 = (16-8)/2 = 4;
    Var = (16*11 - 2*28)/72 = 5/3; z = 3/(2*sqrt(5/3))."""
    import math

    from feature_extractor_mbo_lob_spark.functions.stats import (
        jonckheere_terpstra,
    )

    df = spark.createDataFrame(
        [(1, 1), (1, 2), (2, 2), (2, 3)], "g long, x long"
    )
    r = jonckheere_terpstra(df, "g", "x").collect()[0]
    assert (r.k, r.n_total, r.jt2) == (2, 4, 7)
    z = (7 - 4.0) / (2.0 * math.sqrt(5.0 / 3.0))
    assert r.z == math.floor(z * 1e6 + 0.5) / 1e6


def test_partial_correlation_hand_cases(spark):
    """x==z (perfect confounding) -> NULL; a 4-point case replicated
    through the exact same fixed-order IEEE expression."""
    import math

    from feature_extractor_mbo_lob_spark.functions.stats import (
        partial_correlation,
    )

    conf = spark.createDataFrame(
        [(1, 2, 1), (2, 5, 2), (3, 4, 3)], "x long, y long, z long"
    )
    assert partial_correlation(conf, "x", "y", "z").collect()[0].r_partial is None

    rows = [(1, 2, 1), (2, 1, 3), (4, 5, 2), (3, 3, 5)]
    df = spark.createDataFrame(rows, "x long, y long, z long")
    r = partial_correlation(df, "x", "y", "z").collect()[0]
    n = len(rows)
    sx = sum(a for a, _, _ in rows); sy = sum(b for _, b, _ in rows)
    sz = sum(c for _, _, c in rows)
    sxx = sum(a * a for a, _, _ in rows); syy = sum(b * b for _, b, _ in rows)
    szz = sum(c * c for _, _, c in rows); sxy = sum(a * b for a, b, _ in rows)
    sxz = sum(a * c for a, _, c in rows); syz = sum(b * c for _, b, c in rows)
    axx = float(n * sxx - sx * sx); ayy = float(n * syy - sy * sy)
    azz = float(n * szz - sz * sz); axy = float(n * sxy - sx * sy)
    axz = float(n * sxz - sx * sz); ayz = float(n * syz - sy * sz)
    expect = (axy * azz - axz * ayz) / math.sqrt(
        (axx * azz - axz * axz) * (ayy * azz - ayz * ayz)
    )
    assert r.n == 4
    assert r.r_partial == math.floor(expect * 1e6 + 0.5) / 1e6


def test_chow_break_hand_cases(spark):
    """Two noisy segments replicated through the same cleared-RSS
    closed form; perfect fits in both segments release NULL."""
    import math

    from feature_extractor_mbo_lob_spark.functions.stats import chow_break

    seg0 = [(0, 0), (1, 1), (2, 2), (3, 4)]
    seg1 = [(4, 10), (5, 10), (6, 11), (7, 14)]
    df = spark.createDataFrame(seg0 + seg1, "d long, y long")
    r = chow_break(df, "d", "y", 4).collect()[0]

    def rss(pts):
        n = len(pts)
        sx = sum(x for x, _ in pts); sy = sum(y for _, y in pts)
        sxx = sum(x * x for x, _ in pts); sxy = sum(x * y for x, y in pts)
        syy = sum(y * y for _, y in pts)
        axx = float(n * sxx - sx * sx); ayy = float(n * syy - sy * sy)
        axy = float(n * sxy - sx * sy)
        return (axx * ayy - axy * axy) / (float(n) * axx)

    r0, r1, rp = rss(seg0), rss(seg1), rss(seg0 + seg1)
    f = ((rp - r0 - r1) / 2.0) / ((r0 + r1) / (8.0 - 4.0))
    assert (r.n1, r.n2) == (4, 4)
    assert r.f_stat == math.floor(f * 1e6 + 0.5) / 1e6

    perfect = spark.createDataFrame(
        [(x, x) for x in range(4)] + [(x, 2 * x) for x in range(4, 8)],
        "d long, y long",
    )
    assert chow_break(perfect, "d", "y", 4).collect()[0].f_stat is None


def test_welch_t_hand_cases(spark):
    """a=[1,2,3], b=[7,9]: means 2/8, va=1/3, vb=1 -> t and the
    Welch-Satterthwaite df replicated through the same IEEE order;
    a singleton group releases NULL."""
    import math

    from feature_extractor_mbo_lob_spark.functions.stats import welch_t

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", 3), ("b", 7), ("b", 9)], "g string, x long"
    )
    r = welch_t(df, "g", "x", "a", "b").collect()[0]
    va, vb = (1.0 / 3.0), 1.0
    t = (2.0 - 8.0) / math.sqrt(va + vb)
    dfree = (va + vb) ** 2 / (va * va / 2.0 + vb * vb / 1.0)
    assert (r.n_a, r.n_b) == (3, 2)
    assert r.t_stat == math.floor(t * 1e6 + 0.5) / 1e6
    assert r.df == math.floor(dfree * 1e6 + 0.5) / 1e6

    single = spark.createDataFrame([("a", 1), ("a", 2), ("b", 5)], "g string, x long")
    assert welch_t(single, "g", "x", "a", "b").collect()[0].t_stat is None


def test_cronbach_alpha_hand_cases(spark):
    """Item2 = 2*item1 across 3 cases: A_i sum = 5A, A_tot = 9A ->
    alpha = 2*(9-5)/9 = 8/9; perfectly anti-correlated items zero the
    total variance -> NULL."""
    from feature_extractor_mbo_lob_spark.functions.stats import cronbach_alpha

    rows = []
    for case, v in [(1, 1), (2, 2), (3, 3)]:
        rows += [(case, "i1", v), (case, "i2", 2 * v)]
    df = spark.createDataFrame(rows, "u long, item string, x long")
    r = cronbach_alpha(df, "u", "item", "x", ["i1", "i2"]).collect()[0]
    assert (r.k, r.n_cases, r.alpha_micro) == (2, 3, 888888)

    anti = spark.createDataFrame(
        [(1, "i1", 1), (1, "i2", 2), (2, "i1", 2), (2, "i2", 1)],
        "u long, item string, x long",
    )
    assert cronbach_alpha(anti, "u", "item", "x", ["i1", "i2"]) \
        .collect()[0].alpha_micro is None


def test_pacf_lag2_hand_cases(spark):
    """Alternating series replicated through the exact cleared-integer
    covariances; a constant series releases NULL."""
    import math

    from feature_extractor_mbo_lob_spark.functions.stats import pacf_lag2

    ys = [1, 2, 1, 2, 1, 2]
    df = spark.createDataFrame(list(enumerate(ys)), "d long, y long")
    n, s = len(ys), sum(ys)
    u = [n * y - s for y in ys]
    c0 = float(sum(x * x for x in u))
    c1 = float(sum(u[i] * u[i + 1] for i in range(n - 1)))
    c2 = float(sum(u[i] * u[i + 2] for i in range(n - 2)))
    phi = (c2 * c0 - c1 * c1) / (c0 * c0 - c1 * c1)
    r = pacf_lag2(df, "d", "y").collect()[0]
    assert r.n == 6
    assert r.phi22 == math.floor(phi * 1e6 + 0.5) / 1e6

    const = spark.createDataFrame([(i, 5) for i in range(6)], "d long, y long")
    assert pacf_lag2(const, "d", "y").collect()[0].phi22 is None


def test_kuiper_hand_cases(spark):
    """Separated samples: V = KS = 1.0; crossing samples a=[1,4],
    b=[2,3]: both excursions are 1/2 so V = 1.0 while KS D = 0.5 —
    the case Kuiper exists for."""
    from feature_extractor_mbo_lob_spark.functions.stats import kuiper_two_sample

    sep = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3), ("b", 4)], "g string, x long"
    )
    assert kuiper_two_sample(sep, "x", "g", "a", "b").collect()[0].v_ppm == 1000000

    cross = spark.createDataFrame(
        [("a", 1), ("a", 4), ("b", 2), ("b", 3)], "g string, x long"
    )
    assert kuiper_two_sample(cross, "x", "g", "a", "b").collect()[0].v_ppm == 1000000


def test_ansari_bradley_matches_naive_positions(spark):
    """Exact parity with a naive positional replica (average scores
    over ties, conditional moments) on tied and untied samples; the
    all-tied sample releases NULL."""
    import math
    from collections import Counter, defaultdict

    from feature_extractor_mbo_lob_spark.functions.stats import ansari_bradley

    def naive(a_vals, b_vals):
        allv = sorted([(v, "a") for v in a_vals] + [(v, "b") for v in b_vals])
        n_all = len(allv)
        scores = [min(p, n_all + 1 - p) for p in range(1, n_all + 1)]
        pos = defaultdict(list)
        for i, (v, _) in enumerate(allv):
            pos[v].append(i)
        cb = Counter(b_vals)
        ab_micro = sq_micro = s_tot = 0
        for v, idx in pos.items():
            c = len(idx)
            s1 = sum(scores[i] for i in idx)
            s_tot += s1
            ab_micro += (cb[v] * s1 * 10**6) // c
            sq_micro += (s1 * s1 * 10**6) // c
        na, nb = len(a_vals), len(b_vals)
        st, sq = float(s_tot), sq_micro / 1e6
        var = na * nb * (n_all * sq - st * st) / (n_all * n_all * (n_all - 1.0))
        if var <= 0:
            return ab_micro, None
        z = (ab_micro / 1e6 - nb * st / n_all) / math.sqrt(var)
        return ab_micro, math.floor(z * 1e6 + 0.5) / 1e6

    for a_vals, b_vals in [
        ([1, 2, 3, 4], [2, 3]),
        ([1, 1, 2, 9, 9], [4, 5, 5, 6]),
        ([0, 10, 20, 30, 40, 50], [24, 25, 26, 27]),
        ([5, 5, 5], [5, 5]),
    ]:
        rows = [("a", v) for v in a_vals] + [("b", v) for v in b_vals]
        df = spark.createDataFrame(rows, "g string, x long")
        r = ansari_bradley(df, "x", "g", "a", "b").collect()[0]
        exp_ab, exp_z = naive(a_vals, b_vals)
        assert (r.ab_micro, r.z) == (exp_ab, exp_z), (a_vals, b_vals)


def test_sign_test_hand_case(spark):
    """3 wins, 1 loss, 1 tie (dropped): z = (6-4)/2 = 1.0; all ties
    release NULL."""
    from feature_extractor_mbo_lob_spark.functions.stats import sign_test_paired

    df = spark.createDataFrame(
        [(5, 1), (5, 2), (5, 3), (1, 5), (4, 4)], "x long, y long"
    )
    r = sign_test_paired(df, "x", "y").collect()[0]
    assert (r.n_pos, r.n_neg, r.z) == (3, 1, 1.0)

    ties = spark.createDataFrame([(2, 2), (3, 3)], "x long, y long")
    assert sign_test_paired(ties, "x", "y").collect()[0].z is None


def test_moran_geary_hand_cases(spark):
    """Two homophilous components -> I = 1, C = 0; the centered path
    graph a-b-c with x=[1,2,3] -> I = 0, C = 0.5; constant attribute
    -> NULL."""
    from feature_extractor_mbo_lob_spark.functions.graph import moran_geary

    edges = spark.createDataFrame(
        [("a", "b", 1), ("c", "d", 1)], "src string, dst string, w long"
    )
    nodes = spark.createDataFrame(
        [("a", 0), ("b", 0), ("c", 2), ("d", 2)], "id string, x long"
    )
    r = moran_geary(edges, nodes).collect()[0]
    assert (r.n_nodes, r.w_half, r.moran_micro, r.geary_micro) == (4, 2, 1000000, 0)

    path = spark.createDataFrame(
        [("a", "b", 1), ("b", "c", 1)], "src string, dst string, w long"
    )
    pn = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "id string, x long"
    )
    r2 = moran_geary(path, pn).collect()[0]
    assert (r2.moran_micro, r2.geary_micro) == (0, 500000)

    const = spark.createDataFrame(
        [("a", 7), ("b", 7)], "id string, x long"
    )
    r3 = moran_geary(
        spark.createDataFrame([("a", "b", 1)], "src string, dst string, w long"),
        const,
    ).collect()[0]
    assert r3.moran_micro is None and r3.geary_micro is None


def test_friedman_hand_cases(spark):
    """Two blocks ranking three items identically -> the classic
    perfect-consistency chi2 = b(k-1) = 4; fully tied blocks -> NULL."""
    from feature_extractor_mbo_lob_spark.functions.stats import friedman_test

    rows = []
    for blk in (1, 2):
        rows += [(blk, "i0", 1), (blk, "i1", 2), (blk, "i2", 3)]
    df = spark.createDataFrame(rows, "b long, item string, x long")
    r = friedman_test(df, "b", "item", "x", ["i0", "i1", "i2"]).collect()[0]
    assert (r.k, r.n_blocks, r.chi2_micro) == (3, 2, 4000000)

    flat = spark.createDataFrame(
        [(1, "i0", 5), (1, "i1", 5), (1, "i2", 5)], "b long, item string, x long"
    )
    assert friedman_test(flat, "b", "item", "x", ["i0", "i1", "i2"]) \
        .collect()[0].chi2_micro is None


def test_hurst_varagg_replicates_integer_pipeline(spark):
    """32-day fixed series replicated through the exact cleared-variance
    + nano-ln + dyadic-slope pipeline (ln quantization tolerance +-3
    micro for cross-libm 1-ulp wiggle); a short series releases NULL."""
    import math

    from feature_extractor_mbo_lob_spark.functions.stats import hurst_varagg

    ys = [(i * 37 + (i * i) % 11) % 23 + 1 for i in range(32)]
    df = spark.createDataFrame(list(enumerate(ys)), "d long, y long")
    r = hurst_varagg(df, "d", "y").collect()[0]
    assert r.n == 32

    l2 = 693147181
    swy = 0
    for j, kk in enumerate([1, 2, 4, 8]):
        bs = [sum(ys[b * kk:(b + 1) * kk]) for b in range(32 // kk)]
        m = len(bs)
        a = m * sum(b * b for b in bs) - sum(bs) ** 2
        y = (
            math.floor(math.log(a) * 1e9 + 0.5)
            - 2 * math.floor(math.log(m) * 1e9 + 0.5)
            - 2 * j * l2
        )
        swy += (2 * j - 3) * y
    # trunc-toward-zero division for the (typically negative) slope
    q = (abs(swy) * 1000000) // (20 * l2)
    expect = 1000000 + (q if swy >= 0 else -q)
    assert abs(r.h_micro - expect) <= 3

    short = spark.createDataFrame([(i, 1) for i in range(8)], "d long, y long")
    assert hurst_varagg(short, "d", "y").collect()[0].h_micro is None


def test_ccc_penalizes_scale_bias(spark):
    """Identical series -> CCC = 1; y = 2x has pearson r = 1 but
    CCC = 24/66 — the agreement-vs-association distinction."""
    from feature_extractor_mbo_lob_spark.functions.stats import concordance_ccc

    same = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], "x long, y long")
    assert concordance_ccc(same, "x", "y").collect()[0].ccc_micro == 1000000

    biased = spark.createDataFrame([(1, 2), (2, 4), (3, 6)], "x long, y long")
    r = concordance_ccc(biased, "x", "y").collect()[0]
    assert r.ccc_micro == (24 * 1000000) // 66  # = 363636


def test_bland_altman_hand_cases(spark):
    """diffs [-1, 1]: bias 0, limits ±1.96·√2; constant diffs keep the
    exact bias but NULL the limits."""
    import math

    from feature_extractor_mbo_lob_spark.functions.stats import bland_altman

    df = spark.createDataFrame([(0, 1), (3, 2)], "x long, y long")
    r = bland_altman(df, "x", "y").collect()[0]
    assert (r.n, r.bias_micro) == (2, 0)
    lim = 1.96 * math.sqrt(4.0 / (2.0 * 2.0 * 1.0) * 2.0)
    assert r.loa_high == math.floor(lim * 1e6 + 0.5) / 1e6
    assert r.loa_low == math.floor(-lim * 1e6 + 0.5) / 1e6

    const = spark.createDataFrame([(5, 2), (6, 3), (7, 4)], "x long, y long")
    r2 = bland_altman(const, "x", "y").collect()[0]
    assert r2.bias_micro == 3000000 and r2.loa_low is None


def test_newey_west_replicates_integer_kernel(spark):
    """Fixed 12-day series replicated through the exact cleared-integer
    Bartlett kernel; constant series releases NULL."""
    from feature_extractor_mbo_lob_spark.functions.stats import newey_west_lrv

    ys = [3, 7, 2, 9, 4, 8, 1, 6, 5, 9, 2, 7]
    df = spark.createDataFrame(list(enumerate(ys)), "d long, y long")
    n, s = len(ys), sum(ys)
    u = [n * y - s for y in ys]
    c = [sum(u[i] * u[i + k] for i in range(n - k)) for k in range(6)]
    scaled = 6 * c[0] + 2 * sum((6 - k) * c[k] for k in range(1, 6))
    q = (abs(scaled) * 1000000) // (6 * c[0])
    expect = q if scaled >= 0 else -q
    r = newey_west_lrv(df, "d", "y", max_lag=5).collect()[0]
    assert (r.n, r.lrv_ratio_micro) == (12, expect)

    const = spark.createDataFrame([(i, 4) for i in range(12)], "d long, y long")
    assert newey_west_lrv(const, "d", "y").collect()[0].lrv_ratio_micro is None


def test_dunn_posthoc_matches_naive_midranks(spark):
    """Exact parity with a naive pooled-midrank replica (tie-corrected
    VB) on a tied 3-group sample; all-tied input releases NULL."""
    import math
    from collections import Counter

    from feature_extractor_mbo_lob_spark.functions.stats import dunn_posthoc

    data = {"a": [1, 2, 2, 5], "b": [2, 3, 3], "c": [5, 5, 6, 6, 1]}
    rows = [(g, v) for g, vs in data.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, x long")
    out = {(r.group_a, r.group_b): r for r in dunn_posthoc(df, "g", "x").collect()}

    pooled = sorted(v for vs in data.values() for v in vs)
    n_all = len(pooled)
    cnt = Counter(pooled)
    # midrank per value
    midr, cum = {}, 0
    for v in sorted(cnt):
        midr[v] = cum + (cnt[v] + 1) / 2.0
        cum += cnt[v]
    t_corr = sum(c**3 - c for c in cnt.values())
    vb = (n_all * (n_all + 1.0) * (n_all - 1.0) - t_corr) / (12.0 * (n_all - 1.0))
    for ga, gb in [("a", "b"), ("a", "c"), ("b", "c")]:
        ma = sum(midr[v] for v in data[ga]) / len(data[ga])
        mb = sum(midr[v] for v in data[gb]) / len(data[gb])
        z = (ma - mb) / math.sqrt(vb * (1.0 / len(data[ga]) + 1.0 / len(data[gb])))
        r = out[(ga, gb)]
        assert (r.n_a, r.n_b) == (len(data[ga]), len(data[gb]))
        assert abs(r.z - math.floor(z * 1e6 + 0.5) / 1e6) <= 1e-6, (ga, gb)

    tied = spark.createDataFrame(
        [("a", 3), ("a", 3), ("b", 3)], "g string, x long"
    )
    assert dunn_posthoc(tied, "g", "x").collect()[0].z is None


def test_holm_stepdown_prefix_rule(spark):
    """Holm's reject flag is the running-max prefix rule over
    p*(m-rank+1) and is monotone: once a rank fails, no later rank
    rejects; adjusted p is capped at 1e6."""
    from feature_extractor_mbo_lob_spark.functions.stats import (
        holm_bonferroni_permutation,
    )
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(60):
        et = ["alpha", "beta", "gamma"][i % 3]
        rows.append((i, base, i, et, float((i * 13) % 7), ""))
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    out = sorted(
        holm_bonferroni_permutation(ev, "event_type", "user_id", "value",
                                    n_perms=16, alpha_ppm=900_000).collect(),
        key=lambda r: r.holm_rank,
    )
    assert [r.holm_rank for r in out] == [1, 2, 3]
    runmax = 0
    for r in out:
        runmax = max(runmax, r.p_ppm * (r.m_tests - r.holm_rank + 1))
        assert r.holm_adj_ppm == min(runmax, 1_000_000)
        assert r.reject == int(runmax <= 900_000)
    rejects = [r.reject for r in out]
    assert rejects == sorted(rejects, reverse=True)  # monotone step-down


def test_km_greenwood_hand_case(spark, tmp_path):
    """Tiny synthetic risk table exercised through the registered query
    is hard to pin by hand; instead verify the estimator identities on
    the real tiny SF: S is nonincreasing in [0,1], se >= 0, and rows
    where nobody has died yet have S = 1."""
    from feature_extractor_mbo_lob_spark.plans.driver_queries import QUERIES

    rows = sorted(
        QUERIES["km_greenwood"](spark, "/root/testdata/sf0.001").collect(),
        key=lambda r: r.t_s,
    )
    assert rows
    prev = 1.0 + 1e-9
    seen_death = False
    for r in rows:
        assert 0.0 <= r.s_t <= 1.000001
        assert r.s_t <= prev + 1e-6
        prev = r.s_t
        seen_death = seen_death or r.d_events > 0
        if not seen_death:
            assert r.s_t == 1.0
        if r.greenwood_se is not None:
            assert r.greenwood_se >= 0.0


def test_cliffs_delta_hand_cases(spark):
    """Fully separated groups: delta = 1, A = 1; identical groups:
    delta = 0, A = 0.5; a tied mixed case replicated by counting."""
    from feature_extractor_mbo_lob_spark.functions.stats import (
        cliffs_delta_groups,
    )

    sep = spark.createDataFrame(
        [("a", 10), ("a", 9), ("b", 1), ("b", 2)], "g string, x long"
    )
    r = cliffs_delta_groups(sep, "x", "g", "a", "b").collect()[0]
    assert (r.delta_micro, r.vda_micro) == (1000000, 1000000)

    same = spark.createDataFrame(
        [("a", 5), ("a", 7), ("b", 5), ("b", 7)], "g string, x long"
    )
    r2 = cliffs_delta_groups(same, "x", "g", "a", "b").collect()[0]
    assert (r2.delta_micro, r2.vda_micro) == (0, 500000)

    # a=[1,3], b=[2,3]: gt pairs (3>2)=1, eq (3=3)=1, lt (1<2),(1<3),(3? no)
    mixed = spark.createDataFrame(
        [("a", 1), ("a", 3), ("b", 2), ("b", 3)], "g string, x long"
    )
    r3 = cliffs_delta_groups(mixed, "x", "g", "a", "b").collect()[0]
    # gt=1, eq=1, lt=2; delta = (1-2)/4 = -0.25; A = (2+1)/8 = 0.375
    assert r3.delta_micro == -250000 and r3.vda_micro == 375000


def test_kendalls_w_perfect_consistency(spark, tmp_path):
    """Perfectly consistent day rankings -> W = 1 (chi2 = b(k-1))."""
    import datetime as dt

    from feature_extractor_mbo_lob_spark.plans.driver_queries import QUERIES

    t0 = dt.datetime(2024, 1, 6)
    rows, eid = [], 0
    counts = {"click": 5, "purchase": 4, "error": 3, "signup": 2, "view": 1}
    for day in range(3):
        for et, c in counts.items():
            for _ in range(c):
                eid += 1
                rows.append((eid, t0 + dt.timedelta(days=day), 1, et, 0.0, ""))
    sf = tmp_path / "kw"
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.parquet(str(sf / "events.parquet"))
    r = QUERIES["kendalls_w"](spark, str(sf)).collect()[0]
    assert (r.k, r.n_blocks, r.w_micro) == (5, 3, 1000000)


def test_by_is_more_conservative_than_bh(spark):
    """On the same family, every BY rejection is also a BH rejection
    (the harmonic factor only shrinks the rejection set)."""
    import datetime as dt

    from feature_extractor_mbo_lob_spark.functions.stats import bh_fdr_permutation
    from feature_extractor_mbo_lob_spark.plans.driver_queries import QUERIES

    sf = "/root/testdata/sf0.001"
    spark_df = spark.read.parquet(f"{sf}/events.parquet")
    bh = {r.event_type: r.reject for r in bh_fdr_permutation(
        spark_df, "event_type", "user_id", "value", n_perms=64,
        q_ppm=100_000).collect()}
    by = {r.event_type: r.reject for r in QUERIES["by_fdr"](spark, sf).collect()}
    for et, rej in by.items():
        if rej:
            assert bh[et] == 1, et


def test_tost_mde_equivalence_flag(spark, tmp_path):
    """Near-identical groups within the ±20-char margin are declared
    equivalent and MDE replays from the Welch se; a 100-char shift is
    NOT equivalent."""
    import math

    from feature_extractor_mbo_lob_spark.plans.driver_queries import QUERIES

    schema = "doc_id long, text string, lang string, source string, n_chars long"

    def write(path, shift):
        rows = [(i, "t", "en", "s", 100 + (i % 9)) for i in range(40)]
        rows += [(100 + i, "t", "es", "s", 100 + shift + (i % 9))
                 for i in range(40)]
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(path / "documents.parquet"))
        return str(path)

    sf = write(tmp_path / "same", 0)
    r = QUERIES["tost_mde"](spark, sf).collect()[0]
    assert r.equivalent == 1
    # replay MDE from the cleared moments
    xs = [100 + (i % 9) for i in range(40)]
    n = 40; s = sum(xs); q = sum(x * x for x in xs)
    a = float(n * q - s * s)
    se = math.sqrt(a / (n * n * (n - 1.0)) + a / (n * n * (n - 1.0)))
    mde = (1.959964 + 0.841621) * se
    assert r.mde_chars == math.floor(mde * 1e6 + 0.5) / 1e6

    sf2 = write(tmp_path / "shift", 100)
    assert QUERIES["tost_mde"](spark, sf2).collect()[0].equivalent == 0


def test_huber_location_hand_cases(spark):
    """Symmetric data with one wild outlier: Huber sits near the bulk
    (between median and mean, far from the outlier); replicated through
    the exact integer weight pipeline. MAD = 0 degenerates to the
    median."""
    from feature_extractor_mbo_lob_spark.functions.stats import huber_location

    xs = [10, 11, 12, 13, 14, 1000]
    df = spark.createDataFrame([("a", x) for x in xs], "g string, x long")
    r = huber_location(df, "g", "x").collect()[0]
    # m0 = lower median of sorted [10..14,1000] -> 12; d = [2,1,0,1,2,988]
    # mad = lower median of [0,1,1,2,2,988] -> 1
    assert (r.m0, r.mad) == (12, 1)
    T = 1345 * 1  # c_milli * mad
    ws = [1_000_000 if 1000 * abs(x - 12) <= T else (T * 1_000_000) // (1000 * abs(x - 12))
          for x in xs]
    expect = (sum(w * x for w, x in zip(ws, xs)) * 1_000_000) // sum(ws)
    assert r.huber_micro == expect
    assert 12_000_000 <= r.huber_micro <= 14_000_000  # near the bulk, not 1000

    const = spark.createDataFrame(
        [("b", 5), ("b", 5), ("b", 9)], "g string, x long"
    )
    r2 = huber_location(const, "g", "x").collect()[0]
    assert (r2.m0, r2.mad) == (5, 0)
    assert r2.huber_micro == 5_000_000  # only d=0 points carry weight


def test_tail_dependence_and_pot_hand_cases(spark, tmp_path):
    """Comonotone daily series -> lambda_U = 1; engineered exceedances
    pin the POT threshold and mean excess."""
    import datetime as dt

    from feature_extractor_mbo_lob_spark.plans.driver_queries import QUERIES

    t0 = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    # 20 days; day i has i+1 purchases and i+1 clicks (comonotone)
    for day in range(20):
        for _ in range(day + 1):
            eid += 1
            rows.append((eid, t0 + dt.timedelta(days=day), 1, "purchase", 0.0, ""))
            eid += 1
            rows.append((eid, t0 + dt.timedelta(days=day), 1, "click", 0.0, ""))
    sf = tmp_path / "tail"
    schema = ("event_id long, ts timestamp, user_id long, event_type string, "
              "value double, props string")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
        str(sf / "events.parquet"))
    r = QUERIES["tail_dependence"](spark, str(sf)).collect()[0]
    assert r.n_days == 20 and r.n_x_exceed > 0
    assert r.lambda_u_ppm == 1000000  # perfectly comonotone

    p = QUERIES["peaks_over_threshold"](spark, str(sf)).collect()[0]
    # daily totals are 2,4,...,40; q90 threshold = value with 10*cum >= 9*20
    # -> 18th distinct value -> 36; exceed: 38,40 -> mean excess (2+4)/2 = 3
    assert (p.threshold, p.n_exceed, p.max_daily) == (36, 2, 40)
    assert p.mean_excess_micro == 3_000_000


def test_arch_lm_hand_cases(spark):
    """Magnitude-clustered differences replicated through the exact
    integer moments; a linear series (constant differences) releases
    NULL."""
    import math

    from feature_extractor_mbo_lob_spark.functions.stats import arch_lm

    ys = [0, 10, 0, 10, 0, 1, 0, 1, 0, 10, 0, 10]
    df = spark.createDataFrame(list(enumerate(ys)), "d long, y long")
    d = [ys[i] - ys[i - 1] for i in range(1, len(ys))]
    x = [v * v for v in d]
    pairs = [(x[i], x[i - 1]) for i in range(1, len(x))]
    n = len(pairs)
    st = sum(a for a, _ in pairs); sl = sum(b for _, b in pairs)
    qt = sum(a * a for a, _ in pairs); ql = sum(b * b for _, b in pairs)
    qc = sum(a * b for a, b in pairs)
    axx = float(n * ql - sl * sl); ayy = float(n * qt - st * st)
    axy = float(n * qc - sl * st)
    lm = n * (axy * axy) / (axx * ayy)
    r = arch_lm(df, "d", "y").collect()[0]
    assert r.n_pairs == n
    assert r.lm_stat == math.floor(lm * 1e6 + 0.5) / 1e6

    line = spark.createDataFrame([(i, 3 * i) for i in range(8)], "d long, y long")
    assert arch_lm(line, "d", "y").collect()[0].lm_stat is None


def test_records_test_hand_cases(spark):
    """Strictly increasing series: every point is a record (R = n,
    maximal z); replicate z through the integer harmonic
    quantizations."""
    import math

    from feature_extractor_mbo_lob_spark.functions.stats import records_test

    n = 10
    df = spark.createDataFrame([(i, i * 2) for i in range(n)], "d long, y long")
    r = records_test(df, "d", "y").collect()[0]
    assert (r.n, r.n_records) == (n, n)
    h = sum(10**9 // k for k in range(1, n + 1))
    h2 = sum(10**9 // (k * k) for k in range(1, n + 1))
    z = (n - h / 1e9) / math.sqrt((h - h2) / 1e9)
    assert r.z == math.floor(z * 1e6 + 0.5) / 1e6

    flat = spark.createDataFrame([(i, 5) for i in range(6)], "d long, y long")
    assert records_test(flat, "d", "y").collect()[0].n_records == 1


def test_gumbel_moments_hand_case(spark):
    """Weekly maxima [7, 9, 14] replicated through the
    method-of-moments literals; single block releases NULL."""
    import math

    from feature_extractor_mbo_lob_spark.functions.stats import gumbel_moments

    rows = []
    for day in range(21):
        week = day // 7
        y = [7, 9, 14][week] if day % 7 == 3 else 1
        rows.append((day, y))
    df = spark.createDataFrame(rows, "d long, y long")
    r = gumbel_moments(df, "d", "y", block_days=7).collect()[0]
    assert r.n_blocks == 3
    ms = [7, 9, 14]
    k, s, q = 3, sum(ms), sum(m * m for m in ms)
    a = float(k * q - s * s)
    sd = math.sqrt(a / (k * (k - 1.0)))
    sigma = sd * 0.7796968
    mu = s / k - 0.5772157 * sigma
    assert r.sigma == math.floor(sigma * 1e6 + 0.5) / 1e6
    assert r.mu == math.floor(mu * 1e6 + 0.5) / 1e6

    one = spark.createDataFrame([(i, 5) for i in range(6)], "d long, y long")
    assert gumbel_moments(one, "d", "y").collect()[0].mu is None


def test_return_levels_compose_from_gumbel(spark, tmp_path):
    """Return levels replay exactly as mu + sigma*q_T from the released
    gumbel columns, and are ordered level_4w < level_13w < level_52w."""
    import datetime as dt
    import math

    from feature_extractor_mbo_lob_spark.plans.driver_queries import (
        _RETURN_T, QUERIES,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    for day in range(28):
        for _ in range((day * 7) % 13 + 1):
            eid += 1
            rows.append((eid, t0 + dt.timedelta(days=day), 1, "click", 0.0, ""))
    sf = tmp_path / "rl"
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.parquet(str(sf / "events.parquet"))
    g = QUERIES["gumbel"](spark, str(sf)).collect()[0]
    r = QUERIES["return_levels"](spark, str(sf)).collect()[0]
    assert r.n_blocks == g.n_blocks >= 4
    prev = None
    for t, q in _RETURN_T:
        expect = math.floor((g.mu + g.sigma * q) * 1e6 + 0.5) / 1e6
        got = getattr(r, f"level_{t}w")
        assert got == expect, t
        assert prev is None or got > prev
        prev = got


def test_mean_residual_life_consistent_with_pot(spark, tmp_path):
    """The q90 row of the MRL curve equals peaks_over_threshold's
    (threshold, n_exceed, mean excess); thresholds are nondecreasing
    in q."""
    import datetime as dt

    from feature_extractor_mbo_lob_spark.plans.driver_queries import QUERIES

    t0 = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    for day in range(20):
        for _ in range(day + 1):
            eid += 1
            rows.append((eid, t0 + dt.timedelta(days=day), 1, "click", 0.0, ""))
    sf = tmp_path / "mrl"
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.parquet(str(sf / "events.parquet"))
    mrl = {r.q: r for r in QUERIES["mean_residual_life"](spark, str(sf)).collect()}
    pot = QUERIES["peaks_over_threshold"](spark, str(sf)).collect()[0]
    assert set(mrl) == {50, 60, 70, 80, 90}
    r90 = mrl[90]
    assert (r90.threshold, r90.n_exceed, r90.mean_excess_micro) == (
        pot.threshold, pot.n_exceed, pot.mean_excess_micro)
    us = [mrl[q].threshold for q in (50, 60, 70, 80, 90)]
    assert us == sorted(us)
