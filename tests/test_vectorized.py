"""The single-pass vectorized kernel must equal the declarative flagship
plan exactly (the fused-loop twin proof)."""

import pytest

from feature_extractor_mbo_lob_spark.config import PipelineConfig
from feature_extractor_mbo_lob_spark.plans import flagship_pipeline
from feature_extractor_mbo_lob_spark.plans.vectorized import vectorized_flagship
from feature_extractor_mbo_lob_spark.sources import synth_transcripts

CFG = PipelineConfig(window_sizes=(4, 8), warmup_turns=4, session_gap_s=600.0)


def _rows(df):
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: (t[0], t[1]),
    )


def test_vectorized_equals_declarative(spark):
    t = synth_transcripts(spark, n_convs=15, min_turns=5, max_turns=40,
                          n_mega_convs=1, mega_turns=200, seed=7).cache()
    a = _rows(flagship_pipeline(t, CFG, price_col="char_len"))
    b = _rows(vectorized_flagship(t, CFG, price_col="char_len"))
    assert len(a) == len(b)
    diffs = [(x, y) for x, y in zip(a, b) if x != y]
    assert not diffs, f"{len(diffs)} differing rows, e.g. {diffs[:1]}"


def test_vectorized_partition_independence(spark):
    t = synth_transcripts(spark, n_convs=10, seed=11).cache()
    a = _rows(vectorized_flagship(t, CFG))
    b = _rows(vectorized_flagship(t.repartition(13), CFG))
    assert a == b


def test_acf_exact_known_series(spark, cfg):
    """Perfect linear series: ACF(k) = 1 at every lag (exact Pearson)."""
    import pyspark.sql.functions as F
    from feature_extractor_mbo_lob_spark.operators.volatility import acf_exact
    from feature_extractor_mbo_lob_spark.sources import synth_transcripts

    t = synth_transcripts(spark, n_convs=1, min_turns=12, max_turns=12, seed=3)
    t = t.withColumn("value", F.col("turn_idx").cast("double") * 2.0 + 1.0)
    out = {r.lag: r for r in acf_exact(t, cfg, "value", lags=(1, 2)).collect()}
    assert out[1].acf == 1.0 and out[2].acf == 1.0
    assert out[1].n_pairs == 11 and out[2].n_pairs == 10


def test_acf_exact_constant_series_guard(spark, cfg):
    import pyspark.sql.functions as F
    from feature_extractor_mbo_lob_spark.operators.volatility import acf_exact
    from feature_extractor_mbo_lob_spark.sources import synth_transcripts

    t = synth_transcripts(spark, n_convs=1, min_turns=8, max_turns=8, seed=3)
    t = t.withColumn("value", F.lit(4.25))
    out = acf_exact(t, cfg, "value", lags=(1,)).collect()
    assert out[0].acf == 0.0  # zero variance -> guarded


def test_acf_exact_alternating_series(spark, cfg):
    """x = +1,-1,+1,... -> ACF(1) = -1, ACF(2) = +1."""
    import pyspark.sql.functions as F
    from feature_extractor_mbo_lob_spark.operators.volatility import acf_exact
    from feature_extractor_mbo_lob_spark.sources import synth_transcripts

    t = synth_transcripts(spark, n_convs=1, min_turns=10, max_turns=10, seed=3)
    t = t.withColumn("value", F.when(F.col("turn_idx") % 2 == 0, 1.0).otherwise(-1.0))
    out = {r.lag: r for r in acf_exact(t, cfg, "value", lags=(1, 2)).collect()}
    assert out[1].acf == -1.0 and out[2].acf == 1.0


def test_job_resume_filters_input_below_kernel_shuffle(spark, tmp_path):
    """On resume the job's frame skips buckets on the INPUT: the bucket
    Filter sits below the Exchange that feeds the one grouped pandas stage,
    and no Window runs. The frame keeps exactly the other buckets' rows."""
    from pyspark.sql import functions as F

    from feature_extractor_mbo_lob_spark.export import bucket_of
    from feature_extractor_mbo_lob_spark.plans.vectorized import job_features

    src = tmp_path / "src"
    synth_transcripts(spark, n_convs=15, seed=5).write.parquet(str(src))
    df = spark.read.parquet(str(src))
    skip = {0, 3, 5}
    frame, route = job_features(df, CFG, 16, skip_buckets=skip)
    assert route == {"route": "kernel", "mega_convs": 0}

    plan = frame._jdf.queryExecution().executedPlan().toString().splitlines()
    assert sum("FlatMapGroupsInPandas" in ln for ln in plan) == 1
    assert not any("Window" in ln for ln in plan)
    kernel = next(i for i, ln in enumerate(plan) if "FlatMapGroupsInPandas" in ln)
    exchange = next(i for i, ln in enumerate(plan) if i > kernel and "Exchange" in ln)
    bucket_filter = next(
        i for i, ln in enumerate(plan)
        if "Filter" in ln and "xxhash64(conv_id" in ln and ", 16)" in ln
    )
    assert kernel < exchange < bucket_filter

    kept = df.filter(~bucket_of(CFG, 16).isin(sorted(skip)))
    assert frame.count() == kept.count() < df.count()
    assert frame.select(bucket_of(CFG, 16).alias("b")).filter(
        F.col("b").isin(sorted(skip))
    ).count() == 0
