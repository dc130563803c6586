"""End-to-end pipeline invariants: no nulls/NaN in features, determinism
across partition layouts, zero temporal leakage."""

import math

import pyspark.sql.functions as F

from feature_extractor_mbo_lob_spark.config import PipelineConfig
from feature_extractor_mbo_lob_spark.plans import build_features, flagship_pipeline


CFG = PipelineConfig(window_sizes=(4, 8), warmup_turns=4)


def _collect_sorted(df):
    return sorted(df.collect(), key=lambda r: (r.conv_id, r.turn_idx))


def test_flagship_runs_and_features_finite(transcripts):
    out = flagship_pipeline(transcripts, CFG)
    rows = out.collect()
    assert len(rows) > 0
    fcols = CFG.feature_columns()
    for r in rows[:200]:
        for c in fcols:
            v = r[c]
            assert v is not None and not math.isnan(v) and not math.isinf(v), (c, v)


def test_feature_width_matches_contract(transcripts):
    feats = build_features(transcripts, CFG)
    assert set(CFG.feature_columns()).issubset(set(feats.columns))
    assert CFG.feature_count() == len(CFG.feature_columns())


def test_determinism_across_partition_layouts(transcripts):
    a = _collect_sorted(flagship_pipeline(transcripts, CFG))
    b = _collect_sorted(flagship_pipeline(transcripts.repartition(17), CFG))
    assert a == b


def test_zero_temporal_leakage(spark, transcripts):
    """Mutate every turn with turn_idx > anchor in one conversation; features
    at the anchor must be bit-identical, labels may change (labels are the
    only intentional lookahead)."""
    conv = transcripts.select("conv_id").first().conv_id
    n = transcripts.filter(F.col("conv_id") == conv).count()
    anchor = n // 2

    mutated = transcripts.withColumn(
        "text",
        F.when(
            (F.col("conv_id") == conv) & (F.col("turn_idx") > anchor),
            F.concat(F.col("text"), F.lit(" MUTATED FUTURE CONTENT xxxxxxxx")),
        ).otherwise(F.col("text")),
    )

    base = build_features(transcripts, CFG).filter(
        (F.col("conv_id") == conv) & (F.col("turn_idx") <= anchor)
    )
    mut = build_features(mutated, CFG).filter(
        (F.col("conv_id") == conv) & (F.col("turn_idx") <= anchor)
    )
    fcols = CFG.feature_columns()
    a = {r.turn_idx: [r[c] for c in fcols] for r in base.collect()}
    b = {r.turn_idx: [r[c] for c in fcols] for r in mut.collect()}
    assert a == b

    # labels at the anchor DO see the future
    la = {r.turn_idx: r.label_pct_change for r in flagship_pipeline(transcripts, CFG)
          .filter(F.col("conv_id") == conv).collect()}
    lb = {r.turn_idx: r.label_pct_change for r in flagship_pipeline(mutated, CFG)
          .filter(F.col("conv_id") == conv).collect()}
    changed = [t for t in la if t in lb and la[t] != lb[t]]
    assert changed, "mutating future text should change labels near the anchor"


def test_state_isolation_between_conversations(spark, transcripts):
    """Reference: zero cross-day leakage (tests/state_leak_test.rs). Dropping
    other conversations must not change a conversation's features."""
    conv = transcripts.select("conv_id").first().conv_id
    solo = transcripts.filter(F.col("conv_id") == conv)
    full = build_features(transcripts, CFG).filter(F.col("conv_id") == conv)
    alone = build_features(solo, CFG)
    fcols = CFG.feature_columns()
    a = {r.turn_idx: [r[c] for c in fcols] for r in full.collect()}
    b = {r.turn_idx: [r[c] for c in fcols] for r in alone.collect()}
    assert a == b


def test_profile_table(spark):
    from feature_extractor_mbo_lob_spark.validation import profile_table

    df = spark.createDataFrame(
        [("a", 1, None), ("a", 2, 5.0), ("b", None, 7.5)],
        "k string, i int, v double",
    )
    got = {r["column"]: r for r in profile_table(df).collect()}
    assert got["k"]["n_rows"] == 3 and got["k"]["n_nulls"] == 0
    assert got["k"]["n_distinct"] == 2
    assert got["i"]["n_nulls"] == 1 and got["i"]["n_distinct"] == 2
    assert got["i"]["min_val"] == 1.0 and got["i"]["max_val"] == 2.0
    assert got["v"]["min_val"] == 5.0 and got["v"]["max_val"] == 7.5
    assert got["k"]["min_val"] is None   # non-numeric: no lexicographic trap


def test_psi_drift_detects_shift(spark):
    import datetime as dt

    from pyspark.sql import functions as F

    from feature_extractor_mbo_lob_spark.validation import psi_drift

    t0 = dt.datetime(2024, 1, 1)
    # earlier half ~ N(0..100), later half shifted up by 80
    rows = [("c", i, float(i % 100), t0 + dt.timedelta(seconds=i)) for i in range(500)]
    rows += [("c", 500 + i, 80.0 + float(i % 100), t0 + dt.timedelta(seconds=500 + i))
             for i in range(500)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, value double, ts timestamp")
    out = psi_drift(df, "value", "ts", split_q=0.5, k=10).collect()
    assert {r.bin for r in out} <= set(range(11))
    total = sum(r.psi_term for r in sorted(out, key=lambda r: r.bin))
    assert total > 0.25            # classic "significant shift" threshold
    assert sum(r.n_ref for r in out) == 500 and sum(r.n_cur for r in out) == 500

    # no-shift control: identical distributions -> tiny PSI
    rows2 = [("c", i, float(i % 100), t0 + dt.timedelta(seconds=i)) for i in range(1000)]
    df2 = spark.createDataFrame(rows2, "conv_id string, turn_idx int, value double, ts timestamp")
    out2 = psi_drift(df2, "value", "ts", split_q=0.5, k=10).collect()
    assert sum(r.psi_term for r in out2) < 0.1


def test_group_hash_split(spark):
    import datetime as dt

    from pyspark.sql import functions as F

    from feature_extractor_mbo_lob_spark.batch import group_hash_split
    from feature_extractor_mbo_lob_spark.config import PipelineConfig
    from feature_extractor_mbo_lob_spark.sources import TRANSCRIPT_SCHEMA

    t0 = dt.datetime(2024, 1, 1)
    rows = [(f"c{i}", j, "user", "x", None, t0 + dt.timedelta(seconds=j))
            for i in range(200) for j in range(3)]
    df = spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA)
    s = group_hash_split(df, PipelineConfig())
    # every conversation entirely inside ONE split
    per = s.groupBy("conv_id").agg(F.count_distinct("split").alias("ns")).collect()
    assert all(r.ns == 1 for r in per)
    # fractions roughly honored over 200 groups
    frac = {r.split: r.n for r in
            s.select("conv_id", "split").distinct()
            .groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert 0.55 < frac["train"] / 200 < 0.85
    assert frac["train"] + frac.get("val", 0) + frac.get("test", 0) == 200
    # deterministic across invocations
    a = sorted((r.conv_id, r.split) for r in s.select("conv_id", "split").distinct().collect())
    b = sorted((r.conv_id, r.split) for r in
               group_hash_split(df, PipelineConfig()).select("conv_id", "split").distinct().collect())
    assert a == b


def test_purged_split_counts_and_order(spark, cfg, transcripts):
    """Test block is the chronological tail; embargo strictly between."""
    from feature_extractor_mbo_lob_spark.batch import purged_split

    out = purged_split(transcripts, cfg, 1, 5, 3).collect()
    by_conv = {}
    for r in sorted(out, key=lambda r: (r.conv_id, r.turn_idx)):
        by_conv.setdefault(r.conv_id, []).append(r.split)
    for conv, splits in by_conv.items():
        n = len(splits)
        n_test = -(-n // 5)  # ceil
        n_emb = min(3, n - n_test)
        assert splits[n - n_test:] == ["test"] * n_test
        assert splits[n - n_test - n_emb: n - n_test] == ["embargo"] * n_emb
        assert all(s == "train" for s in splits[: n - n_test - n_emb])


def test_flagship_runs_from_named_preset(transcripts):
    """VERDICT r3 item 6: the flagship pipeline runs from a named preset and
    the produced frame satisfies the preset's validated width."""
    from feature_extractor_mbo_lob_spark import config_from_preset, contract
    from feature_extractor_mbo_lob_spark.plans import flagship_pipeline

    cfg = config_from_preset("deeplob")
    out = flagship_pipeline(transcripts, cfg)
    contract.validate_feature_frame(out.columns, cfg.window_sizes)
    feats = set(cfg.feature_columns())
    assert len(feats) == 47 and feats <= set(out.columns)
    assert out.count() > 0
