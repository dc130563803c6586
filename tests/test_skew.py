"""The chunked route of the vectorized kernel (mega conversations cut into
chunks with context rows and carried-in cumulative state) must equal the
unchunked kernel and the declarative specification bit-for-bit — the
carry-in correctness proof."""

import dataclasses
import datetime as dt

import pyspark.sql.functions as F
import pytest

from feature_extractor_mbo_lob_spark.config import PipelineConfig
from feature_extractor_mbo_lob_spark.labeling import tlob_labels
from feature_extractor_mbo_lob_spark.operators.skew import add_chunks
from feature_extractor_mbo_lob_spark.plans import build_features, flagship_pipeline
from feature_extractor_mbo_lob_spark.plans import vectorized
from feature_extractor_mbo_lob_spark.plans.pipeline import r6
from feature_extractor_mbo_lob_spark.plans.vectorized import kernel_routed
from feature_extractor_mbo_lob_spark.sources import TRANSCRIPT_SCHEMA, synth_transcripts

CFG = PipelineConfig(window_sizes=(4, 8), warmup_turns=4, session_gap_s=600.0)
CHUNK = 50
CCFG = dataclasses.replace(CFG, skew_max_turns_per_task=CHUNK)


@pytest.fixture(scope="module")
def corpus(spark):
    # mega conversation (300 turns) + normal ones; chunk size 50 forces many
    # chunk boundaries
    df = synth_transcripts(spark, n_convs=6, min_turns=5, max_turns=40,
                           n_mega_convs=1, mega_turns=300, seed=3)
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def boundary(spark):
    """Conversations placed on the chunk boundaries of CHUNK: exactly CHUNK
    turns (not chunked), CHUNK + 1 (a one-row last chunk), 3 chunks + 10,
    3 chunks + 2 (a last chunk shorter than the label horizon), one whose
    turns 1 and CHUNK (the first row of its second chunk) are stamped before
    turn 0, and a short one. "three" has a gap longer than session_gap_s on
    the first real row of chunks 1-3 and null text on both sides of the
    first boundary. ``value`` is a price column other than char_len."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    roles = ("user", "assistant", "tool", "assistant", "user", "tool", "user")
    t0 = dt.datetime(2024, 1, 1, 5, 30)
    rows = []
    for conv, n in (("exact", CHUNK), ("plus_one", CHUNK + 1),
                    ("three", 3 * CHUNK + 10), ("short_tail", 3 * CHUNK + 2),
                    ("regress", 2 * CHUNK + 20), ("small", 12)):
        ts = t0
        for i in range(n):
            gap = 3600 if conv == "three" and i and i % CHUNK == 0 else 0
            ts = ts + dt.timedelta(seconds=7 + (i * 13) % 29 + gap)
            stamp = (t0 - dt.timedelta(seconds=90)
                     if conv == "regress" and i in (1, CHUNK) else ts)
            text = (None if conv == "three" and i in (CHUNK - 1, CHUNK)
                    else "w " * (1 + (i * 7 + len(conv)) % 13))
            role = roles[(i * 5 + len(conv)) % len(roles)]
            rows.append((conv, i, role, text, None, stamp, 100.0 + (i * 37) % 11))
    schema = StructType(TRANSCRIPT_SCHEMA.fields + [StructField("value", DoubleType())])
    df = spark.createDataFrame(rows, schema)
    df.cache().count()
    return df


def _spec(df, cfg, price_col="char_len"):
    """r6(build_features + tlob_labels): the declarative specification on
    every row, null-label tails included."""
    feats = build_features(df, cfg)
    want = tlob_labels(feats.withColumn("_p", F.col(price_col)), cfg, price_col="_p")
    return want.select(
        "conv_id", "turn_idx", "ts",
        *[r6(F.col(c)).alias(c) for c in cfg.feature_columns()],
        "label", r6(F.col("label_pct_change")).alias("label_pct_change"),
    )


def _grid(df, cols):
    return {(r["conv_id"], r["turn_idx"]): tuple(r[c] for c in cols[2:])
            for r in df.select(*cols).collect()}


def _diffs(got, want):
    assert got.keys() == want.keys()
    return [k for k in want if got[k] != want[k]]


def test_chunked_equals_straight(corpus):
    """Every row and column, tails included: chunked kernel == unchunked
    kernel == the declarative specification."""
    spec = _spec(corpus, CFG)
    want = _grid(spec, spec.columns)
    plain, n_plain = kernel_routed(corpus, CFG)
    chunked, n_chunked = kernel_routed(corpus, CCFG)
    assert (n_plain, n_chunked) == (0, 1)
    assert sum(v[-2] is None for v in want.values()) > 0
    for got in (_grid(plain, spec.columns), _grid(chunked, spec.columns)):
        d = _diffs(got, want)
        assert not d, f"{len(d)} mismatching rows, e.g. {d[:2]}"


@pytest.mark.parametrize("price_col", ["char_len", "value"])
def test_chunk_boundary_parity(boundary, price_col):
    """The chunk-boundary corpus: chunked kernel, unchunked kernel and the
    specification agree on every row and column (null-label tails
    included), and flagship_pipeline on its labelled rows."""
    spec = _spec(boundary, CFG, price_col)
    want = _grid(spec, spec.columns)
    chunked, n_mega = kernel_routed(boundary, CCFG, price_col)
    plain, _ = kernel_routed(boundary, CFG, price_col)
    assert n_mega == 4  # plus_one, three, short_tail, regress
    assert len(want) == boundary.count()
    for got in (_grid(chunked, spec.columns), _grid(plain, spec.columns)):
        d = _diffs(got, want)
        assert not d, f"{len(d)} mismatching rows, e.g. {d[:2]}"
    labelled = {k: v for k, v in want.items() if v[-2] is not None}
    assert 0 < len(labelled) < len(want)
    flag = flagship_pipeline(boundary, CFG, price_col=price_col)
    assert _grid(flag, spec.columns) == labelled
    # the session gaps on chunk starts are there and counted
    starts = {k[1] for k, v in want.items()
              if k[0] == "three" and v[spec.columns.index("is_session_start") - 2]}
    assert starts == {0, CHUNK, 2 * CHUNK, 3 * CHUNK}


def test_chunked_secs_since_start_counts_from_first_row(boundary):
    """Turns 1 and CHUNK stamped before turn 0: secs_since_start counts
    from the first row in sort order, as the specification's first(us) does,
    not from the earliest timestamp of the conversation or of a chunk."""
    conv = boundary.filter(F.col("conv_id") == "regress")
    got = {r.turn_idx: r.secs_since_start
           for r in kernel_routed(conv, CCFG)[0].collect()}
    want = {r.turn_idx: r.secs_since_start for r in _spec(conv, CFG).collect()}
    assert got == want
    assert got[1] < 0 < got[2] and got[CHUNK] < 0


def test_chunked_row_count_and_no_dup(corpus):
    out, _ = kernel_routed(corpus, CCFG)
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
        kernel_routed(corpus, dataclasses.replace(CFG, skew_max_turns_per_task=8))


@pytest.mark.parametrize("cap, what", [(0, "mega conversations"), (1, "carry table")])
def test_chunked_route_past_cap_raises(corpus, monkeypatch, cap, what):
    """One mega conversation of 6 chunks: past MAX_CHUNKS either collect
    raises, naming the threshold."""
    monkeypatch.setattr(vectorized, "MAX_CHUNKS", cap)
    with pytest.raises(ValueError, match=f"{what}.*skew_max_turns_per_task={CHUNK}"):
        kernel_routed(corpus, CCFG)


def test_chunked_route_plan_has_no_window(spark, corpus, tmp_path):
    """Every feature and label on the chunked route comes from the kernel:
    one grouped pandas stage, no Window, no CartesianProduct. (Parquet
    input: the synthetic generator's own plan has a Window.)"""
    corpus.write.parquet(str(tmp_path / "src"))
    src = spark.read.parquet(str(tmp_path / "src"))
    frame, route = vectorized.job_features(src, CCFG, 4)
    assert route == {"route": "kernel+chunked", "mega_convs": 1}
    plan = frame._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert "Window" not in plan and "CartesianProduct" not in plan


def test_flagship_auto_skew_routing_identical(corpus):
    """vectorized_flagship with a skew threshold the mega conversation
    exceeds routes it through the chunked kernel and still returns
    bit-identical rows (labels included) to flagship_pipeline, the
    unchunked specification, which ignores the threshold."""
    from feature_extractor_mbo_lob_spark.plans.pipeline import max_conv_turns
    from feature_extractor_mbo_lob_spark.plans.vectorized import vectorized_flagship

    assert max_conv_turns(corpus) == 300

    def grid(df):
        cols = df.columns
        return {(r["conv_id"], r["turn_idx"]): [r[c] for c in cols[2:]]
                for r in df.collect()}

    plain = grid(flagship_pipeline(corpus, CFG))
    assert plain == grid(flagship_pipeline(corpus, CCFG))
    assert plain == grid(vectorized_flagship(corpus, CCFG))


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
    from feature_extractor_mbo_lob_spark.export import BUCKET_COL, export_with_manifests
    from feature_extractor_mbo_lob_spark.plans.vectorized import job_features

    cfg = dataclasses.replace(CFG, skew_max_turns_per_task=skew_max_turns)
    frame, route = job_features(corpus, cfg, 4)
    assert route["route"] == ("kernel" if skew_max_turns > 300 else "kernel+chunked")
    out = str(tmp_path / "out")
    report = export_with_manifests(frame, cfg, out, "fp", n_buckets=4)
    got = spark.read.parquet(out).drop(BUCKET_COL)

    want = _spec(corpus, CFG)
    assert sorted(got.columns) == sorted(want.columns)

    g, w = _grid(got, want.columns), _grid(want, want.columns)
    assert report["rows"] == len(g) == len(w) == corpus.count()
    assert sum(v[-2] is None for v in g.values()) > 0  # the tails are there
    diffs = [k for k in w if g.get(k) != w[k]]
    assert not diffs, f"{len(diffs)} differing rows, e.g. {diffs[:2]}"
