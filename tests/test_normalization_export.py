"""Normalization families, validation gates, export manifests + resume."""

import json
import math
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from feature_extractor_mbo_lob_spark import normalization as norm
from feature_extractor_mbo_lob_spark import validation as val
from feature_extractor_mbo_lob_spark.config import PipelineConfig
from feature_extractor_mbo_lob_spark.export import (
    export_with_manifests,
    input_fingerprint_for_path,
    manifest_path,
    schema_digest,
    valid_buckets,
)

CFG = PipelineConfig(window_sizes=(4,))


@pytest.fixture(scope="module")
def frame(spark):
    rows = [("a", i, float(i), float(i % 3)) for i in range(10)] + [
        ("b", i, float(10 - i), 1.0) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, x double, y double")
    return df.withColumn("ts", F.timestamp_seconds(F.lit(1704067200) + F.col("turn_idx")))


def test_zscore_cumulative_leakage_safe(frame):
    out = norm.zscore_cumulative(frame, CFG, ["x"])
    rows = {(r.conv_id, r.turn_idx): r.x_zn for r in out.collect()}
    assert rows[("a", 0)] == 0.0  # single point: (x-x)/(0+eps)
    # t=2 for conv a: mean(0,1,2)=1, popstd=sqrt(2/3)
    want = (2.0 - 1.0) / (math.sqrt(2.0 / 3.0) + 1e-8)
    assert abs(rows[("a", 2)] - want) < 1e-9


def test_export_zscore_two_pass(frame):
    out = norm.normalize_export(frame, ["x"], strategy="zscore")
    vals = [r.x for r in out.collect()]
    n = len(vals)
    assert abs(sum(vals) / n) < 1e-9
    assert abs(sum(v * v for v in vals) / n - 1.0) < 1e-9


def test_export_minmax_and_categorical_skip(frame):
    df = frame.withColumn("time_regime", F.col("y"))
    stats = norm.compute_export_stats(df, ["x", "time_regime"])
    out = norm.apply_export_normalization(
        df, stats, {"x": "minmax", "time_regime": "zscore"}
    )
    rows = out.collect()
    xs = [r.x for r in rows]
    assert min(xs) == 0.0 and max(xs) == 1.0
    # categorical column untouched despite requested zscore
    assert sorted({r.time_regime for r in rows}) == [0.0, 1.0, 2.0]


def test_rolling_session_zscore_uses_only_past_sessions(spark):
    rows = []
    for s in range(3):
        for i in range(4):
            rows.append(("a", s * 4 + i, s, float(s * 10 + i)))
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, session_id int, x double")
    out = norm.zscore_rolling_sessions(df, CFG, ["x"], n_sessions=2)
    got = {r.turn_idx: r.x_rzn for r in out.collect()}
    for i in range(4):  # first session has no history -> 0.0
        assert got[i] == 0.0
    # session 1 normalized by session 0 stats: mean=1.5, popstd=sqrt(1.25)
    want = (10.0 - 1.5) / (math.sqrt(1.25) + 1e-8)
    assert abs(got[4] - want) < 1e-9


def test_global_zscore_rowwise(spark):
    df = spark.createDataFrame([(1, [1.0, 2.0, 3.0])], "id long, features array<double>")
    out = df.transform(norm.global_zscore_rowwise).collect()[0].features_gz
    assert abs(sum(out)) < 1e-7
    assert abs(out[1]) < 1e-7


def test_nan_gate(spark, frame):
    val.assert_no_nan_inf(frame, ["x", "y"])
    bad = frame.withColumn("x", F.when(F.col("turn_idx") == 3, float("nan")).otherwise(F.col("x")))
    with pytest.raises(val.ValidationError, match="x"):
        val.assert_no_nan_inf(bad, ["x", "y"])


def test_monotonicity(frame, spark):
    assert val.monotonicity_violations(frame, CFG) == 0
    shuffled = frame.withColumn(
        "ts", F.when(F.col("turn_idx") == 5, F.timestamp_seconds(F.lit(0))).otherwise(F.col("ts"))
    )
    assert val.monotonicity_violations(shuffled, CFG) == 2  # regression + recovery


def test_export_manifests_and_resume(tmp_path, frame):
    out_dir = str(tmp_path / "exp")
    fp = "fingerprint-v1"
    rep1 = export_with_manifests(frame, CFG, out_dir, fp, n_buckets=4)
    assert rep1["rows"] == 20 and not rep1["skipped_buckets"]
    written = rep1["written_buckets"]
    assert written and all(manifest_path(out_dir, b).exists() for b in written)

    m = json.loads(manifest_path(out_dir, written[0]).read_text())
    assert m["config_hash"] == CFG.config_hash()
    assert m["input_fingerprint"] == fp
    assert m["rows"] > 0 and m["value_checksum"]
    assert m["schema_version"] == schema_digest(frame.schema)

    # resume: same config+input -> everything skipped
    rep2 = export_with_manifests(frame, CFG, out_dir, fp, n_buckets=4)
    assert rep2["rows"] == 0 and rep2["skipped_buckets"] == written

    # changed input fingerprint invalidates manifests
    rep3 = export_with_manifests(frame, CFG, out_dir, "fingerprint-v2", n_buckets=4)
    assert rep3["rows"] == 20

    # data actually readable and complete
    spark = frame.sparkSession
    back = spark.read.parquet(out_dir)
    assert back.count() == 20


def _files(root: Path) -> dict:
    return {str(p.relative_to(root)): p.read_bytes() for p in root.rglob("*") if p.is_file()}


def test_export_nan_gate_commits_nothing(tmp_path, frame):
    """One NaN in one feature column: ValidationError, no bucket directory,
    manifest or staging directory left, and a prior export in the same
    out_dir stays byte-identical."""
    out = tmp_path / "exp"
    good = frame.withColumn("turn_pos", F.col("x"))  # a contract feature column
    bad = good.withColumn(
        "turn_pos",
        F.when(F.col("turn_idx") == 3, float("nan")).otherwise(F.col("turn_pos")),
    )

    fresh = tmp_path / "fresh"
    with pytest.raises(val.ValidationError, match="turn_pos"):
        export_with_manifests(bad, CFG, str(fresh), "fp", n_buckets=4)
    assert not fresh.exists()

    export_with_manifests(good, CFG, str(out), "fp-1", n_buckets=4)
    before = _files(out)
    assert any(k.startswith("part_bucket=") for k in before)
    with pytest.raises(val.ValidationError, match="turn_pos"):
        export_with_manifests(bad, CFG, str(out), "fp-2", n_buckets=4)
    assert _files(out) == before
    assert sorted(p.name for p in out.iterdir()) == sorted(
        {k.split("/")[0] for k in before}
    )


def test_export_all_buckets_skipped_runs_no_job(tmp_path, frame):
    out = str(tmp_path / "exp")
    export_with_manifests(frame, CFG, out, "fp", n_buckets=2)
    sc = frame.sparkSession.sparkContext
    sc.setJobGroup("all-skipped", "resume with every manifest valid")
    try:
        rep = export_with_manifests(frame, CFG, out, "fp", n_buckets=2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rep["skipped_buckets"] == [0, 1] and rep["written_buckets"] == []
    assert list(sc.statusTracker().getJobIdsForGroup("all-skipped")) == []


def test_schema_digest_stable_across_processes(frame):
    """str hashes are salted per process; the manifest's schema_version
    must not be."""
    import os
    import subprocess
    import sys

    code = (
        "import json;"
        "from pyspark.sql.types import StructType;"
        "from feature_extractor_mbo_lob_spark.export import schema_digest;"
        f"print(schema_digest(StructType.fromJson(json.loads({frame.schema.json()!r}))))"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONHASHSEED"}
    root = str(Path(__file__).resolve().parent.parent)
    got = [
        subprocess.run(
            [sys.executable, "-c", code], cwd=root, env=env,
            capture_output=True, text=True, check=True,
        ).stdout.strip()
        for _ in range(2)
    ]
    assert got[0] == got[1] == schema_digest(frame.schema)
    assert len(got[0]) == 8


def test_valid_buckets_rejects_config_change(tmp_path, frame):
    out_dir = str(tmp_path / "exp2")
    export_with_manifests(frame, CFG, out_dir, "fp", n_buckets=2)
    other_cfg = PipelineConfig(window_sizes=(8,))
    assert valid_buckets(out_dir, CFG.config_hash(), "fp")
    assert not valid_buckets(out_dir, other_cfg.config_hash(), "fp")


def test_input_fingerprint_changes_with_data(tmp_path, spark, frame):
    p = str(tmp_path / "src")
    frame.write.mode("overwrite").parquet(p)
    f1 = input_fingerprint_for_path(spark, p)
    frame.limit(5).write.mode("overwrite").parquet(p)
    f2 = input_fingerprint_for_path(spark, p)
    assert f1 != f2


def test_npy_export_roundtrip(tmp_path, spark):
    """Reference L4: write-then-read NPY, shape + value checks
    (tests/export_roundtrip.rs)."""
    import numpy as np
    from pyspark.sql import functions as F

    from feature_extractor_mbo_lob_spark.export import export_npy_sequences
    from feature_extractor_mbo_lob_spark.operators import sequence
    from feature_extractor_mbo_lob_spark.sources import TRANSCRIPT_SCHEMA
    import datetime as dt

    rows = [("a", i, "user", "x" * (i + 1), None,
             dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i)) for i in range(10)]
    df = spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA).withColumn(
        "f1", F.length("text").cast("double")
    ).withColumn("lab", (F.col("turn_idx") % 3 - 1).cast("tinyint"))
    seq = sequence.build_sequences(df, CFG, ["f1"], window=4, stride=2)
    seq = seq.join(df.select(F.col("turn_idx").alias("end_turn_idx"), "lab"),
                   on="end_turn_idx")
    meta = export_npy_sequences(seq, str(tmp_path), "day1", label_col="lab")
    seqs = np.load(tmp_path / "day1_sequences.npy")
    labs = np.load(tmp_path / "day1_labels.npy")
    assert seqs.shape == (4, 4, 1) and seqs.dtype == np.float32
    assert labs.shape == (4,) and labs.dtype == np.int8
    assert meta["shape"] == [4, 4, 1]
    assert not np.isnan(seqs).any()


def test_npy_shards_distributed_over_1m_rows(tmp_path, spark):
    """The distributed NPY shard sink (export_npy_shards) on a >1M-row
    sequence table: no driver collect of tensor data, no 1M-row cap
    (export_npy_sequences raises above its cap — this must not). Reloaded
    shards must reproduce every value and be deterministically ordered."""
    import numpy as np
    from pyspark.sql import functions as F

    from feature_extractor_mbo_lob_spark.export import export_npy_shards

    n = 1_200_000
    seq = spark.range(n).select(
        F.concat(F.lit("c"), (F.col("id") % 997).cast("string")).alias("conv_id"),
        F.col("id").cast("int").alias("end_turn_idx"),
        F.array(
            F.array(F.col("id").cast("double"), F.lit(1.0)),
            F.array(F.col("id").cast("double") + 0.5, F.lit(2.0)),
        ).alias("sequence"),
        (F.col("id") % 3 - 1).cast("tinyint").alias("lab"),
    )
    meta = export_npy_shards(seq, str(tmp_path), "big", label_col="lab",
                             n_shards=16)
    assert meta["rows"] == n and meta["t"] == 2 and meta["f"] == 2
    total, checked = 0, False
    for s in meta["shards"]:
        arr = np.load(tmp_path / s["file"])
        assert arr.dtype == np.float32 and arr.shape[1:] == (2, 2)
        assert arr.shape[0] == s["rows"]
        labs = np.load(tmp_path / s["file"].replace("_sequences", "_labels"))
        assert labs.shape == (s["rows"],) and labs.dtype == np.int8
        total += arr.shape[0]
        if not checked:  # value spot-check: row content is id-derived
            i = int(arr[0, 0, 0])
            assert arr[0].tolist() == [[i, 1.0], [i + 0.5, 2.0]]
            assert labs[0] == i % 3 - 1
            checked = True
    assert total == n
    # determinism: re-export and compare one shard byte-for-byte
    meta2 = export_npy_shards(seq, str(tmp_path / "again"), "big",
                              label_col="lab", n_shards=16)
    f0 = meta["shards"][0]["file"]
    assert (tmp_path / f0).read_bytes() == (tmp_path / "again" / f0).read_bytes()


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """Two tables bucketed on conv_id with equal bucket counts join with no
    Exchange in the executed plan — the co-located layout for repeated
    alignment joins at scale."""
    from feature_extractor_mbo_lob_spark.export import write_bucketed_table

    spark.sql(f"create database if not exists bwh location '{tmp_path}/wh'")
    a = spark.range(0, 1000).selectExpr("cast(id % 50 as string) as conv_id", "id as x")
    b = spark.range(0, 500).selectExpr("cast(id % 50 as string) as conv_id", "id as y")
    write_bucketed_table(a, "bwh.feats", key="conv_id", n_buckets=8)
    write_bucketed_table(b, "bwh.labels", key="conv_id", n_buckets=8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = spark.table("bwh.feats").join(spark.table("bwh.labels"), "conv_id")
        n = out.count()
        assert n == 50 * 20 * 10  # 50 keys x (20 left rows x 10 right rows)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("drop database bwh cascade")


def test_export_jsonl_shards(spark, tmp_path):
    from feature_extractor_mbo_lob_spark.export import export_jsonl_shards

    docs = spark.createDataFrame(
        [(i, f"doc {i} text") for i in range(40)], "doc_id long, text string"
    )
    out = str(tmp_path / "jsonl")
    rep = export_jsonl_shards(docs, out, n_shards=4)
    assert rep["rows"] == 40
    back = spark.read.json(out)
    assert back.count() == 40
    # shard dirs exist and round-trip preserves content
    got = {r.doc_id: r.text for r in back.collect()}
    assert got[7] == "doc 7 text"
    import glob
    assert len(glob.glob(out + "/shard=*")) == 4


def test_quantile_bin_balanced(spark):
    from pyspark.sql import functions as F

    from feature_extractor_mbo_lob_spark.normalization import quantile_bin

    vals = [(float(i),) for i in range(1000)] + [(None,)]
    df = spark.createDataFrame(vals, "x double")
    out = quantile_bin(df, "x", k=10)
    counts = {r.x_bin: r.n for r in
              out.groupBy("x_bin").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts[None] == 1                      # null passes through
    assert all(counts[b] == 100 for b in range(10))  # perfectly balanced
    # monotone: higher value never gets a lower bin
    rows = out.filter("x is not null").orderBy("x").collect()
    bins = [r.x_bin for r in rows]
    assert bins == sorted(bins)


def test_quantile_bin_approx_scale_path(spark):
    # exact=False (GK sketch, bounded memory — the 100-TB path) must land
    # within 1 rank of the exact cutpoints at accuracy=10000, n=1000
    from pyspark.sql import functions as F

    from feature_extractor_mbo_lob_spark.normalization import quantile_bin

    df = spark.createDataFrame([(float(i),) for i in range(1000)], "x double")
    out = quantile_bin(df, "x", k=10, exact=False)
    counts = {r.x_bin: r.n for r in
              out.groupBy("x_bin").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sum(counts.values()) == 1000
    assert all(98 <= counts[b] <= 102 for b in range(10))


def test_winsorize_approx_scale_path(spark):
    from pyspark.sql import functions as F

    from feature_extractor_mbo_lob_spark.normalization import winsorize

    df = spark.createDataFrame([(float(i),) for i in range(101)], "x double")
    out = winsorize(df, ["x"], p_lo=0.10, p_hi=0.90, exact=False)
    stats = out.agg(F.min("x_w"), F.max("x_w")).collect()[0]
    assert abs(stats[0] - 10.0) <= 1.0 and abs(stats[1] - 90.0) <= 1.0


def test_winsorize(spark):
    from pyspark.sql import functions as F

    from feature_extractor_mbo_lob_spark.normalization import winsorize

    df = spark.createDataFrame([(float(i),) for i in range(101)], "x double")
    out = winsorize(df, ["x"], p_lo=0.10, p_hi=0.90)
    stats = out.agg(F.min("x_w"), F.max("x_w"), F.count(F.lit(1))).collect()[0]
    assert stats[0] == 10.0 and stats[1] == 90.0 and stats[2] == 101
    # interior values untouched
    mid = out.filter("x = 50.0").collect()[0]
    assert mid.x_w == 50.0


def test_robust_zscore(spark):
    from pyspark.sql import functions as F

    from feature_extractor_mbo_lob_spark.normalization import robust_zscore

    # median 5, MAD 2 for 1..9 plus a wild outlier that must not move them
    vals = [(float(i),) for i in range(1, 10)] + [(1e9,)]
    df = spark.createDataFrame(vals, "x double")
    out = {r.x: r.x_rz for r in robust_zscore(df, "x").collect()}
    med, mad = 5.5, 2.5   # 10 values: median of 1..9,1e9 is 5.5; MAD 2.5
    assert abs(out[5.0] - (5.0 - med) / (mad + 1e-9)) < 1e-9
    assert abs(out[1.0] - (1.0 - med) / (mad + 1e-9)) < 1e-9
    assert out[1e9] > 1e8  # outlier far out, scale unpolluted


def test_percentile_approx_rank_error_bound(spark):
    """The scale path's GK sketch (percentile_approx, accuracy=a) must land
    within rank error 1/a of the exact percentile — the bound the
    quantile_bin/winsorize docstrings rely on when exact=False."""
    import numpy as np
    from pyspark.sql import functions as F

    n, acc = 20_000, 100
    vals = np.random.RandomState(3).permutation(n).tolist()
    df = spark.createDataFrame([(int(v),) for v in vals], "x: long")
    qs = [0.1, 0.5, 0.9]
    row = df.agg(
        F.percentile_approx("x", F.array(*[F.lit(q) for q in qs]), F.lit(acc)).alias("a"),
    ).first()
    for q, got in zip(qs, row["a"]):
        # values are exactly their rank here, so rank error reads directly
        assert abs(got - q * (n - 1)) <= n / acc + 1, (q, got)


def test_mad_outliers_by_group_hand_case(spark):
    """Group g: x = 1..7 plus a 100 spike: med/MAD from the 8 values."""
    from feature_extractor_mbo_lob_spark.normalization import mad_outliers_by_group

    vals = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 100.0]
    df = spark.createDataFrame(
        [("g", i, v) for i, v in enumerate(vals)], "grp string, i int, x double"
    )
    out = {r.i: r for r in mad_outliers_by_group(df, "x", "grp", k=3.0, scale=1).collect()}
    # sorted cents: 1..7,100 -> median = (4+5)/2 = 4.5
    assert out[0].med == 4.5
    # residuals |x-4.5|: 3.5,2.5,1.5,.5,.5,1.5,2.5,95.5 -> median = 2.0
    assert out[0].mad == 2.0
    flagged = [i for i, r in out.items() if r.is_outlier]
    assert flagged == [7]  # only the spike exceeds 4.5 +- 6.0


def test_mad_outliers_degenerate_constant_group(spark):
    from feature_extractor_mbo_lob_spark.normalization import mad_outliers_by_group

    df = spark.createDataFrame(
        [("g", i, 5.0) for i in range(4)] + [("g", 9, 5.01)],
        "grp string, i int, x double",
    )
    out = mad_outliers_by_group(df, "x", "grp", scale=1).collect()
    # scale=1 quantizes 5.01 -> 5; MAD = 0 -> nothing flagged
    assert not any(r.is_outlier for r in out)


def test_isotonic_fit_pav_hand(spark):
    from pyspark.sql import functions as F
    from feature_extractor_mbo_lob_spark import normalization as norm
    from feature_extractor_mbo_lob_spark.config import PipelineConfig
    import datetime as _dt

    base = _dt.datetime(2024, 1, 1)
    # y = [1, 0, 0, 1]: PAV pools the leading violation into [1/3,1/3,1/3,1]
    rows = [("c", i, base + _dt.timedelta(seconds=i), y)
            for i, y in enumerate([1, 0, 0, 1])]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, ts timestamp, y int")
    out = norm.isotonic_fit(df, PipelineConfig(), y_expr=F.col("y"))
    got = {r.turn_idx: (r.iso_num, r.iso_den) for r in out.collect()}
    assert got == {0: (1, 3), 1: (1, 3), 2: (1, 3), 3: (1, 1)}


def test_isotonic_fit_monotone_and_mean_preserving(spark):
    from pyspark.sql import functions as F
    from feature_extractor_mbo_lob_spark import normalization as norm
    from feature_extractor_mbo_lob_spark.config import PipelineConfig
    import datetime as _dt

    import random
    rng = random.Random(3)
    base = _dt.datetime(2024, 1, 1)
    rows = []
    ys = {}
    for c in range(5):
        yy = [rng.randint(0, 1) for _ in range(17)]
        ys[f"c{c}"] = yy
        rows += [(f"c{c}", i, base + _dt.timedelta(seconds=i), y) for i, y in enumerate(yy)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, ts timestamp, y int")
    out = norm.isotonic_fit(df, PipelineConfig(), y_expr=F.col("y")).collect()
    per = {}
    for r in out:
        per.setdefault(r.conv_id, []).append((r.turn_idx, r.iso_num / r.iso_den))
    for c, vals in per.items():
        vals.sort()
        seq = [v for _, v in vals]
        assert all(a <= b + 1e-12 for a, b in zip(seq, seq[1:]))      # monotone
        assert abs(sum(seq) - sum(ys[c])) < 1e-9                       # mean-preserving


def test_lateness_audit_engineered_disorder(spark):
    import datetime as dt

    from feature_extractor_mbo_lob_spark.config import PipelineConfig
    from feature_extractor_mbo_lob_spark.sources import TRANSCRIPT_SCHEMA

    t0 = dt.datetime(2024, 1, 1)

    def at(s):
        return t0 + dt.timedelta(seconds=s)

    rows = [
        # conv a, arrival order = turn_idx; turn 2 is 7s behind the running
        # max (10), turn 3 is 3s behind (10)
        ("a", 0, "user", "x", None, at(0)),
        ("a", 1, "user", "x", None, at(10)),
        ("a", 2, "user", "x", None, at(3)),
        ("a", 3, "user", "x", None, at(7)),
        ("a", 4, "user", "x", None, at(20)),
        # conv b fully ordered
        ("b", 0, "user", "x", None, at(0)),
        ("b", 1, "user", "x", None, at(5)),
    ]
    df = spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA)
    r = val.lateness_audit(df, PipelineConfig()).collect()[0]
    assert r.n_events == 7 and r.n_late == 2
    assert r.max_lateness_us == 7_000_000
    assert r.suggested_watermark_us == 7_000_000
    # lateness distribution {3s, 7s}: p50 -> 3s, p95/p99 -> 7s
    assert r.p50_lateness_us == 3_000_000
    assert r.p95_lateness_us == 7_000_000 and r.p99_lateness_us == 7_000_000

    # fully ordered corpus -> the zero row
    ordered = spark.createDataFrame(rows[5:], schema=TRANSCRIPT_SCHEMA)
    z = val.lateness_audit(ordered, PipelineConfig()).collect()[0]
    assert (z.n_late, z.max_lateness_us, z.p99_lateness_us) == (0, 0, 0)


def test_lateness_audit_empty_input_one_row(spark):
    """ADVICE r3: an empty corpus still returns the documented single row
    (all zeros) — the NULL n_late used to drop both union branches."""
    from feature_extractor_mbo_lob_spark.config import PipelineConfig
    from feature_extractor_mbo_lob_spark.sources import TRANSCRIPT_SCHEMA

    df = spark.createDataFrame([], schema=TRANSCRIPT_SCHEMA)
    rows = val.lateness_audit(df, PipelineConfig()).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.n_events, r.n_late, r.max_lateness_us) == (0, 0, 0)
    assert (r.p50_lateness_us, r.p99_lateness_us, r.suggested_watermark_us) == (0, 0, 0)
