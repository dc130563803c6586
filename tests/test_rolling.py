"""Hand-computed rolling window features (population std / moment skew / HHI
conventions per contract), through build_features: the prefix-sum window
cascade plus the numpy stage for the frame-bound features."""

import datetime as dt
import math

import pytest
from pyspark.sql import Row

from feature_extractor_mbo_lob_spark.config import PipelineConfig
from feature_extractor_mbo_lob_spark.plans import build_features

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)
LENS = [4, 10, 7, 1, 12]  # text lengths per turn
ROLES = ["user", "assistant", "user", "tool", "assistant"]


@pytest.fixture(scope="module")
def rolled(spark):
    from feature_extractor_mbo_lob_spark.sources import TRANSCRIPT_SCHEMA

    cfg = PipelineConfig(window_sizes=(3,))
    df = spark.createDataFrame(
        [
            ("a", i, ROLES[i], "x" * LENS[i], None, T0 + dt.timedelta(seconds=10 * i))
            for i in range(5)
        ],
        schema=TRANSCRIPT_SCHEMA,
    )
    out = build_features(df, cfg)
    return {r.turn_idx: r for r in out.collect()}


def test_mean_std_zscore(rolled):
    r = rolled[4]  # frame = lens [7, 1, 12]
    xs = [7.0, 1.0, 12.0]
    mean = sum(xs) / 3
    var = sum((x - mean) ** 2 for x in xs) / 3
    std = math.sqrt(var)
    assert abs(r.char_mean_w3 - mean) < 1e-9
    assert abs(r.char_std_w3 - std) < 1e-9
    assert abs(r.char_zscore_w3 - (12.0 - mean) / (std + 1e-8)) < 1e-9


def test_partial_frame_at_start(rolled):
    r = rolled[0]
    assert r.char_mean_w3 == 4.0
    assert r.char_std_w3 == 0.0
    assert r.char_skew_w3 == 0.0  # n<3 -> 0


def test_hhi(rolled):
    r = rolled[4]
    xs = [7.0, 1.0, 12.0]
    s = sum(xs)
    assert abs(r.char_hhi_w3 - sum(x * x for x in xs) / (s * s)) < 1e-12


def test_skew_population_moment_form(rolled):
    r = rolled[4]
    xs = [7.0, 1.0, 12.0]
    mean = sum(xs) / 3
    std = math.sqrt(sum((x - mean) ** 2 for x in xs) / 3)
    skew = sum(((x - mean) / std) ** 3 for x in xs) / 3
    assert abs(r.char_skew_w3 - skew) < 1e-9


def test_percentiles_interpolated(rolled):
    r = rolled[4]  # sorted frame [1, 7, 12]
    assert abs(r.char_p50_w3 - 7.0) < 1e-12
    assert abs(r.char_p25_w3 - 4.0) < 1e-12  # 1 + 0.5*(7-1)
    assert abs(r.char_p90_w3 - (7 + 0.8 * 5)) < 1e-12


def test_rates_and_fracs(rolled):
    r = rolled[4]  # frame turns 2,3,4 over 20s
    assert abs(r.turn_rate_w3 - 3 / 20.0) < 1e-12
    assert abs(r.user_frac_w3 - 1 / 3) < 1e-12
    assert abs(r.assistant_frac_w3 - 1 / 3) < 1e-12
    assert abs(r.tool_rate_w3 - 1 / 20.0) < 1e-12
    # roles user,assistant,user,tool,assistant -> flips at every turn 1..4
    assert abs(r.role_flip_rate_w3 - 1.0) < 1e-12


def test_large_turn_ratio(rolled):
    r = rolled[4]  # p90 = 11, only 12 exceeds it
    assert abs(r.large_turn_ratio_w3 - 1 / 3) < 1e-12


def test_duration_floor_single_row():
    # duplicate-timestamp frame would divide by zero without the 1ms floor
    from feature_extractor_mbo_lob_spark.contract import MIN_DURATION_S

    assert MIN_DURATION_S == 1e-3


def test_flow_volatility_golden(spark):
    # 25 turns, window 25 -> n=25 >= 20 gate, ssz=2, last sub-window has 7
    import math

    from feature_extractor_mbo_lob_spark.sources import TRANSCRIPT_SCHEMA

    roles = ["user" if i % 3 == 0 else ("assistant" if i % 3 == 1 else "tool")
             for i in range(25)]
    cfg = PipelineConfig(window_sizes=(25,))
    df = spark.createDataFrame(
        [("a", i, roles[i], "x" * (i + 1), None, T0 + dt.timedelta(seconds=i))
         for i in range(25)],
        schema=TRANSCRIPT_SCHEMA,
    )
    out = build_features(df, cfg)
    got = {r.turn_idx: r.flow_volatility_w25 for r in out.collect()}

    s = [1.0 if r == "user" else (-1.0 if r == "assistant" else 0.0) for r in roles]

    def expected(sig):
        n, nsub = len(sig), 10
        ssz = n // nsub
        flows = []
        for i in range(nsub):
            seg = sig[i * ssz: n if i == nsub - 1 else (i + 1) * ssz]
            tot = sum(abs(x) for x in seg)
            flows.append(sum(seg) / tot if tot > 0 else 0.0)
        m = sum(flows) / nsub
        return math.sqrt(sum((f - m) ** 2 for f in flows) / nsub)

    assert abs(got[24] - expected(s)) < 1e-12
    assert got[24] > 0.0
    assert got[10] == 0.0  # frame of 11 < 20 events -> gated to 0


def test_time_windows_vs_bruteforce(spark, cfg, transcripts):
    import pandas as pd

    from feature_extractor_mbo_lob_spark.operators import rolling as rl

    H = 3600  # 1h trailing, exercises partial frames on the synthetic spacing
    out = rl.with_time_windows(transcripts, cfg, horizons_s=(H,)).select(
        "conv_id", "turn_idx", f"turns_{H}s", f"chars_{H}s", f"tool_frac_{H}s"
    ).toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)

    raw = transcripts.select("conv_id", "turn_idx", "role", "text", "ts").toPandas()
    raw["us"] = raw["ts"].astype("int64") // 1000  # ns -> us
    rows = []
    for conv, g in raw.groupby("conv_id"):
        g = g.sort_values("turn_idx")
        for _, r in g.iterrows():
            m = g[(g.us >= r.us - H * 1_000_000) & (g.us <= r.us)]
            rows.append((conv, r.turn_idx, len(m),
                         float(m.text.str.len().sum()),
                         float((m.role == "tool").sum()) / len(m)))
    exp = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "t", "c", "f"]) \
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert (out[f"turns_{H}s"].to_numpy() == exp.t.to_numpy()).all()
    assert (out[f"chars_{H}s"].to_numpy() == exp.c.to_numpy()).all()
    assert abs(out[f"tool_frac_{H}s"].to_numpy() - exp.f.to_numpy()).max() < 1e-12


def test_time_windows_no_leakage(spark, cfg, transcripts):
    """Shifting every FUTURE row's text must not change any feature row."""
    from pyspark.sql import functions as F

    from feature_extractor_mbo_lob_spark.operators import rolling as rl

    cols = ["conv_id", "turn_idx", "turns_3600s", "chars_3600s"]
    base = rl.with_time_windows(transcripts, cfg, horizons_s=(3600,))
    # mutate text on the LAST turn of every conversation
    w_last = F.max("turn_idx").over(
        __import__("pyspark.sql.window", fromlist=["Window"]).Window.partitionBy("conv_id")
    )
    mut = transcripts.withColumn("_last", w_last).withColumn(
        "text", F.when(F.col("turn_idx") == F.col("_last"), F.lit("XXXXXXXXXX")).otherwise(F.col("text"))
    ).drop("_last")
    mut_out = rl.with_time_windows(mut, cfg, horizons_s=(3600,))
    a = base.filter(F.col("turn_idx") < 2).select(*cols).toPandas().sort_values(cols[:2]).reset_index(drop=True)
    b = mut_out.filter(F.col("turn_idx") < 2).select(*cols).toPandas().sort_values(cols[:2]).reset_index(drop=True)
    # rows at turn_idx < 2 never include a conversation's last turn here
    # (every test conv has >= 5 turns), so features must be identical
    assert a.equals(b)


def test_rolling_corr_vs_numpy(spark, cfg, transcripts):
    import numpy as np
    from pyspark.sql import functions as F

    from feature_extractor_mbo_lob_spark.operators import rolling as rl

    W = 8
    out = rl.with_rolling_corr(
        transcripts, cfg, x=F.length("text"), y=F.col("turn_idx"), window=W
    ).select("conv_id", "turn_idx", "roll_corr").toPandas() \
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    raw = transcripts.selectExpr("conv_id", "turn_idx", "length(text) as x") \
        .toPandas().sort_values(["conv_id", "turn_idx"])
    exp = {}
    for conv, g in raw.groupby("conv_id"):
        xs, ys = g.x.tolist(), g.turn_idx.tolist()
        for i in range(len(xs)):
            fx = np.array(xs[max(0, i - W + 1): i + 1], dtype=float)
            fy = np.array(ys[max(0, i - W + 1): i + 1], dtype=float)
            if len(fx) >= 2 and fx.std() > 0 and fy.std() > 0:
                exp[(conv, ys[i])] = float(np.corrcoef(fx, fy)[0, 1])
            else:
                exp[(conv, ys[i])] = None
    for _, r in out.iterrows():
        e = exp[(r.conv_id, r.turn_idx)]
        if e is None:
            assert r.roll_corr is None or np.isnan(r.roll_corr)
        else:
            assert abs(r.roll_corr - e) < 1e-9


def test_ewma_matches_pandas(spark, cfg, transcripts):
    from feature_extractor_mbo_lob_spark.operators import rolling as rl

    out = rl.with_ewma(transcripts, cfg, "turn_idx", alpha=0.25) \
        .select("conv_id", "turn_idx", "turn_idx_ewma").toPandas() \
        .sort_values(["conv_id", "turn_idx"])
    for conv, g in out.groupby("conv_id"):
        exp = g.turn_idx.astype(float).ewm(alpha=0.25, adjust=False).mean()
        assert (abs(g.turn_idx_ewma.to_numpy() - exp.to_numpy()) < 1e-12).all()


def test_ewm_var_matches_recurrence(spark, cfg, transcripts):
    from feature_extractor_mbo_lob_spark.operators import rolling as rl

    out = rl.with_ewma(transcripts, cfg, "turn_idx", alpha=0.25) \
        .select("conv_id", "turn_idx", "turn_idx_ewma_var").toPandas() \
        .sort_values(["conv_id", "turn_idx"])
    for conv, g in out.groupby("conv_id"):
        e = v = None
        for _, r in g.iterrows():
            x = float(r.turn_idx)
            if e is None:
                e, v = x, 0.0
            else:
                d = x - e
                v = 0.75 * (v + 0.25 * d * d)
                e = 0.25 * x + 0.75 * e
            assert abs(r.turn_idx_ewma_var - v) < 1e-12


def test_holt_matches_reference_recurrence(spark, cfg, transcripts):
    import pyspark.sql.functions as F
    from feature_extractor_mbo_lob_spark.operators.rolling import with_holt

    src = transcripts.withColumn("value", F.length("text").cast("double"))
    out = with_holt(src, cfg, "value", alpha=0.25, beta=0.125)
    rows = out.select("conv_id", "turn_idx", "value",
                      "value_holt_level", "value_holt_trend").collect()
    by_conv = {}
    for r in sorted(rows, key=lambda r: (r.conv_id, r.turn_idx)):
        by_conv.setdefault(r.conv_id, []).append(r)
    for conv, rs in by_conv.items():
        l, b = rs[0].value, 0.0
        assert rs[0].value_holt_level == l and rs[0].value_holt_trend == 0.0
        for r in rs[1:]:
            l_new = 0.25 * r.value + 0.75 * (l + b)
            b = 0.125 * (l_new - l) + 0.875 * b
            l = l_new
            assert r.value_holt_level == l  # bit-exact, same op order
            assert r.value_holt_trend == b


def test_holt_constant_series_converges_to_level(spark, cfg):
    import pyspark.sql.functions as F
    from feature_extractor_mbo_lob_spark.operators.rolling import with_holt
    from feature_extractor_mbo_lob_spark.sources import synth_transcripts

    t = synth_transcripts(spark, n_convs=2, min_turns=10, max_turns=10, seed=7)
    t = t.withColumn("value", F.lit(5.0))
    out = with_holt(t, cfg, "value").collect()
    for r in out:
        assert r.value_holt_level == 5.0 and r.value_holt_trend == 0.0
