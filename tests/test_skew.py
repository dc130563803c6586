"""Chunked (skew-salted) feature computation must equal the straight plan
bit-for-bit — the carry-in correctness proof."""

import pyspark.sql.functions as F
import pytest

from feature_extractor_mbo_lob_spark.config import PipelineConfig
from feature_extractor_mbo_lob_spark.operators.skew import add_chunks, build_features_skewed
from feature_extractor_mbo_lob_spark.plans import build_features
from feature_extractor_mbo_lob_spark.sources import synth_transcripts

CFG = PipelineConfig(window_sizes=(4, 8), warmup_turns=4, session_gap_s=600.0)


@pytest.fixture(scope="module")
def corpus(spark):
    # mega conversation (300 turns) + normal ones; chunk size 50 forces many
    # chunk boundaries
    df = synth_transcripts(spark, n_convs=6, min_turns=5, max_turns=40,
                           n_mega_convs=1, mega_turns=300, seed=3)
    df.cache().count()
    return df


def _grid(df, cfg):
    cols = [cfg.key_col, "turn_idx"] + cfg.feature_columns() + ["dt_seconds", "char_len"]
    cols = list(dict.fromkeys(cols))
    return {
        (r[cfg.key_col], r["turn_idx"]): [r[c] for c in cols[2:]]
        for r in df.select(*cols).collect()
    }


def test_chunked_equals_straight(corpus):
    plain = _grid(build_features(corpus, CFG), CFG)
    chunked = _grid(build_features_skewed(corpus, CFG, chunk_turns=50), CFG)
    assert plain.keys() == chunked.keys()
    diffs = {
        k: (plain[k], chunked[k])
        for k in plain
        if plain[k] != chunked[k]
    }
    assert not diffs, f"{len(diffs)} mismatching rows, e.g. {list(diffs.items())[:2]}"


def test_chunked_row_count_and_no_dup(corpus):
    out = build_features_skewed(corpus, CFG, chunk_turns=50)
    assert out.count() == corpus.count()
    assert out.groupBy("conv_id", "turn_idx").count().filter(F.col("count") > 1).count() == 0


def test_add_chunks_context_layout(spark):
    cfg = PipelineConfig(window_sizes=(4,))
    df = synth_transcripts(spark, n_convs=1, min_turns=30, max_turns=30, seed=9)
    n = df.count()
    ch = add_chunks(df, cfg, chunk_turns=10, back_context=3)
    # 30 turns -> chunks 0,1,2; context copied into chunks 1 and 2 only
    assert ch.filter(F.col("_ctx") == 0).count() == n
    assert ch.filter(F.col("_ctx") == 1).count() == 2 * 3
    # context rows are the last 3 turns of the previous chunk
    rows = sorted(
        (r["_chunk"], r.turn_idx) for r in ch.filter(F.col("_ctx") == 1).collect()
    )
    assert rows == [(1, 7), (1, 8), (1, 9), (2, 17), (2, 18), (2, 19)]


def test_chunk_size_must_exceed_window(corpus):
    with pytest.raises(ValueError, match="chunk_turns"):
        build_features_skewed(corpus, CFG, chunk_turns=8)


def test_flagship_auto_skew_routing_identical(corpus):
    """flagship_pipeline / vectorized_flagship with a skew threshold the mega
    conversation exceeds must route through the chunked path and still
    return bit-identical rows (labels included) to the unrouted plan."""
    import dataclasses

    from feature_extractor_mbo_lob_spark.plans import flagship_pipeline
    from feature_extractor_mbo_lob_spark.plans.pipeline import flagship_skewed, max_conv_turns
    from feature_extractor_mbo_lob_spark.plans.vectorized import vectorized_flagship

    assert max_conv_turns(corpus) == 300
    cfg = dataclasses.replace(CFG, skew_max_turns_per_task=50)

    def grid(df):
        cols = df.columns
        return {(r["conv_id"], r["turn_idx"]): [r[c] for c in cols[2:]]
                for r in df.collect()}

    plain = grid(flagship_pipeline(corpus, CFG))
    routed = grid(flagship_pipeline(corpus, cfg))            # probe trips
    # flagship_skewed keeps every row; the label filter is its callers'
    direct = grid(flagship_skewed(corpus, cfg).filter(F.col("label").isNotNull()))
    vec = grid(vectorized_flagship(corpus, cfg))             # split+union path
    assert plain == routed
    assert plain == direct
    assert plain == vec


def test_add_chunks_forward_context(spark):
    cfg = PipelineConfig(window_sizes=(4,))
    df = synth_transcripts(spark, n_convs=1, min_turns=30, max_turns=30, seed=9)
    ch = add_chunks(df, cfg, chunk_turns=10, back_context=3, fwd_context=2)
    fwd = sorted(
        (r["_chunk"], r.turn_idx)
        for r in ch.filter((F.col("_ctx") == 1)
                           & (F.pmod(F.col("turn_idx"), F.lit(10)) < 2)).collect()
    )
    # first 2 turns of chunks 1 and 2 copied back into chunks 0 and 1
    assert fwd == [(0, 10), (0, 11), (1, 20), (1, 21)]


def test_job_picks_skew_route_from_data(corpus, tmp_path):
    """jobs/run_pipeline.py takes the chunked route for the conversations
    longer than cfg.skew_max_turns_per_task, records it, and exports the
    same rows as with the default threshold. Subprocesses, because main()
    stops its session."""
    import json
    import subprocess
    import sys
    from pathlib import Path

    import pyarrow.parquet as pq

    from feature_extractor_mbo_lob_spark.plans.pipeline import max_conv_turns

    src = tmp_path / "corpus"
    corpus.write.parquet(str(src))
    job = Path(__file__).resolve().parent.parent / "jobs" / "run_pipeline.py"

    def run(name, **overrides):
        conf = tmp_path / f"{name}.json"
        conf.write_text(json.dumps({"window_sizes": [4, 8], **overrides}))
        out = tmp_path / name
        r = subprocess.run(
            [sys.executable, str(job), "--input", str(src), "--output", str(out),
             "--config", str(conf), "--buckets", "2", "--master", "local[2]"],
            capture_output=True, text=True, timeout=420,
        )
        assert r.returncode == 0, r.stderr[-3000:]
        report = json.loads(r.stdout.strip().splitlines()[-1])
        assert report["rows_out"] == report["rows_in"] == corpus.count()
        return report, pq.read_table(out).to_pandas()

    assert max_conv_turns(corpus) == 300
    plain_report, plain = run("plain")
    routed_report, routed = run("routed", skew_max_turns_per_task=50)
    assert (plain_report["route"], plain_report["mega_convs"]) == ("kernel", 0)
    assert (routed_report["route"], routed_report["mega_convs"]) == ("kernel+chunked", 1)
    keys = ["conv_id", "turn_idx"]
    plain = plain.sort_values(keys).reset_index(drop=True)
    routed = routed[plain.columns].sort_values(keys).reset_index(drop=True)
    assert plain.equals(routed)


@pytest.mark.parametrize("skew_max_turns", [250_000, 50])
def test_job_export_equals_declarative_on_every_row(spark, corpus, tmp_path,
                                                    skew_max_turns):
    """The job's export (job_features through export_with_manifests) equals
    r6(build_features + tlob_labels) on every input row — null-label tails
    included — and every feature and label column, on both routes."""
    import dataclasses

    from feature_extractor_mbo_lob_spark.export import BUCKET_COL, export_with_manifests
    from feature_extractor_mbo_lob_spark.labeling import tlob_labels
    from feature_extractor_mbo_lob_spark.plans.pipeline import r6
    from feature_extractor_mbo_lob_spark.plans.vectorized import job_features

    cfg = dataclasses.replace(CFG, skew_max_turns_per_task=skew_max_turns)
    frame, route = job_features(corpus, cfg, 4)
    assert route["route"] == ("kernel" if skew_max_turns > 300 else "kernel+chunked")
    out = str(tmp_path / "out")
    report = export_with_manifests(frame, cfg, out, "fp", n_buckets=4)
    got = spark.read.parquet(out).drop(BUCKET_COL)

    feats = build_features(corpus, CFG)
    want = tlob_labels(feats.withColumn("_p", F.col("char_len")), CFG, price_col="_p")
    want = want.select(
        "conv_id", "turn_idx", "ts",
        *[r6(F.col(c)).alias(c) for c in CFG.feature_columns()],
        "label", r6(F.col("label_pct_change")).alias("label_pct_change"),
    )
    assert sorted(got.columns) == sorted(want.columns)

    def grid(df):
        return {(r["conv_id"], r["turn_idx"]): tuple(r[c] for c in want.columns[2:])
                for r in df.select(*want.columns).collect()}

    g, w = grid(got), grid(want)
    assert report["rows"] == len(g) == len(w) == corpus.count()
    assert sum(v[-2] is None for v in g.values()) > 0  # the tails are there
    diffs = [k for k in w if g.get(k) != w[k]]
    assert not diffs, f"{len(diffs)} differing rows, e.g. {diffs[:2]}"
