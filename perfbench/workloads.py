"""The benchmark workloads. Each is a closed loop: one client, one
session, and the next operation starts only after the previous one ends.

A workload function takes a ``Ctx`` and returns a ``Result``: end-to-end
values, per-layer values (traced runs only), and its operation counts.
Every output check runs after the timed regions.
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import json
import statistics
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

import inputs
import spans

# Registry queries timed by registry_window: one or two from each group a
# planned change would move, few enough that a cold pass fits one run.
WINDOW = [
    "modularity",  # iterative graph loop over word_adjacency_edges
    "decision_stump",  # small leaf hit by the session-wide shuffle knobs
    "markov_stationary",  # bounded driver-side finish
    "ppjoin_pairs",  # fan-out beneficiary
]
WARMUP_QUERY = "gumbel"
N_BUCKETS = 16
RESUME_DROPPED = 4
TOL = 1e-6
KEYS = ["conv_id", "turn_idx"]
N_SETUPS = 3


@dataclass
class Ctx:
    root: Path
    work: Path
    cache: Path
    seed: int
    seconds: float
    traced: bool
    cores: int
    n_turns: int
    window: list[str]
    tracer: spans.Tracer
    spark_conf: dict = field(default_factory=dict)


@dataclass
class Result:
    setup_s: list[float]
    wall_s: float
    tail_s: float
    named: dict[str, tuple[float, str]]  # descriptive metrics: name -> (value, unit)
    layers: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)

    def op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"FAILED: {what}")


# --- shared plumbing ---------------------------------------------------------

def install_session(ctx: Ctx) -> None:
    """Route every get_spark call (the job's own included) through one
    wrapper that adds the benchmark's private dirs and event-log switch and
    records a ``session.get_spark`` span."""
    import feature_extractor_mbo_lob_spark as pkg

    orig = pkg.get_spark

    def get_spark(*args, extra_conf=None, **kwargs):
        with ctx.tracer.span("session.get_spark"):
            spark = orig(*args, extra_conf={**ctx.spark_conf, **(extra_conf or {})}, **kwargs)
            spark.sparkContext.setLogLevel("ERROR")
            return spark

    pkg.get_spark = get_spark


def event_log(ctx: Ctx, on: bool) -> None:
    """Takes effect at the next session start."""
    ctx.spark_conf["spark.eventLog.enabled"] = "true" if on else "false"


def get_spark(**kwargs):
    import feature_extractor_mbo_lob_spark as pkg

    return pkg.get_spark(**kwargs)


def stop_spark() -> None:
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()


def setup(ctx: Ctx, warmup, keep_last: bool) -> list[float]:
    """Three session starts, each followed by the workload's warm-up; the
    first also starts the JVM. The last session stays up if keep_last."""
    times = []
    for i in range(N_SETUPS):
        t = time.time()
        spark = get_spark()
        warmup(spark)
        times.append(time.time() - t)
        if i < N_SETUPS - 1 or not keep_last:
            spark.stop()
    return times


def pct(vals: list[float], q: float) -> float:
    return float(np.percentile(np.asarray(vals, dtype=float), q))


def compare_rows(head, exported, tol: float) -> dict[str, int]:
    """Every row of ``head`` (pandas) must appear in ``exported`` (pandas) by
    KEYS and agree on each shared column: within tol for floats, exactly
    otherwise (timestamps compared as UTC instants)."""
    import pandas as pd

    shared = [c for c in head.columns if c in exported.columns and c not in KEYS]
    m = head.merge(exported, on=KEYS, how="left", suffixes=("", "_x"), indicator=True)
    found = m["_merge"] == "both"
    bad = pd.Series(False, index=m.index)
    for c in shared:
        a, b = m[c], m[f"{c}_x"]
        if pd.api.types.is_datetime64_any_dtype(a) or pd.api.types.is_datetime64_any_dtype(b):
            a, b = pd.to_datetime(a, utc=True), pd.to_datetime(b, utc=True)
            same = (a == b) | (a.isna() & b.isna())
        elif pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            a, b = a.astype(float), b.astype(float)
            same = ((a - b).abs() <= tol) | (a.isna() & b.isna())
        else:
            same = (a == b) | (a.isna() & b.isna())
        bad |= ~same.fillna(False).astype(bool)
    return {"rows": len(head), "missing": int((~found).sum()),
            "differ": int((found & bad).sum()), "columns": len(shared)}


# --- pipeline_job ------------------------------------------------------------

JOB_LAYERS = [  # (module path, attribute, span name)
    ("feature_extractor_mbo_lob_spark.sources", "read_transcripts", "sources.read_transcripts"),
    ("feature_extractor_mbo_lob_spark.plans", "build_features", "plans.build_features"),
    ("feature_extractor_mbo_lob_spark.labeling", "tlob_labels", "labeling.tlob_labels"),
    ("feature_extractor_mbo_lob_spark.validation", "assert_no_nan_inf", "validation.assert_no_nan_inf"),
    ("feature_extractor_mbo_lob_spark.export", "export_with_manifests", "export.export_with_manifests"),
]
HEADLINE_LAYERS = [
    ("feature_extractor_mbo_lob_spark.plans.vectorized", "max_conv_turns", "plans.max_conv_turns"),
    ("feature_extractor_mbo_lob_spark.plans.vectorized", "vectorized_flagship", "plans.vectorized_flagship"),
]


def wrap_layers(ctx: Ctx, layers) -> None:
    for mod, attr, name in layers:
        ctx.tracer.wrap(sys.modules[mod] if mod in sys.modules else importlib.import_module(mod),
                        attr, name)


def load_job(root: Path):
    spec = importlib.util.spec_from_file_location(
        "perfbench_run_pipeline", root / "jobs" / "run_pipeline.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.main


def run_job(ctx: Ctx, main, corpus: Path, out: Path, resume: bool) -> tuple[dict, float, float, float]:
    """One unmodified ``main()``; returns (its report, wall minus session
    start, start, end)."""
    sys.argv = ["run_pipeline.py", "--input", str(corpus), "--output", str(out),
                "--buckets", str(N_BUCKETS)] + (["--resume"] if resume else [])
    buf = io.StringIO()
    name = "job.resume" if resume else "job.fresh"
    with ctx.tracer.span(name):
        t0 = time.time()
        with contextlib.redirect_stdout(buf):
            main()
        t1 = time.time()
    report = json.loads(buf.getvalue().strip().splitlines()[-1])
    return report, (t1 - t0) - ctx.tracer.total("session.get_spark", t0, t1), t0, t1


def manifests(out: Path) -> dict[int, dict]:
    return {int(p.stem.split("=")[1]): json.loads(p.read_text())
            for p in (out / "_manifests").glob("bucket=*.json")}


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def job_iteration(ctx: Ctx, res: Result, main, corpus: Path, it: int) -> dict | None:
    """Fresh run, drop the manifests of RESUME_DROPPED seeded buckets, rerun
    with --resume. Returns the phase timings, or None if a phase failed."""
    out = ctx.work / "out" / str(it)
    try:
        rep_f, fresh_s, f0, f1 = run_job(ctx, main, corpus, out, resume=False)
    except Exception as e:  # noqa: BLE001 - a failed operation is counted
        res.op(False, f"fresh job run: {e!r}"[:300])
        stop_spark()
        return None
    res.op(rep_f["rows_in"] == rep_f["rows_out"] == ctx.n_turns
           and rep_f["written_buckets"] == N_BUCKETS, f"fresh job report {rep_f}")
    nbytes = dir_bytes(out)
    before = manifests(out)
    rng = np.random.default_rng([ctx.seed, 3, it])
    dropped = sorted(int(b) for b in rng.choice(sorted(before), RESUME_DROPPED, replace=False))
    for b in dropped:
        (out / "_manifests" / f"bucket={b}.json").unlink()
    try:
        rep_r, resume_s, r0, r1 = run_job(ctx, main, corpus, out, resume=True)
    except Exception as e:  # noqa: BLE001
        res.op(False, f"resume job run: {e!r}"[:300])
        stop_spark()
        return None
    after = manifests(out)
    res.op(rep_r["written_buckets"] == RESUME_DROPPED
           and rep_r["skipped_buckets"] == N_BUCKETS - RESUME_DROPPED,
           f"resume report {rep_r}")
    kept = [b for b in before if b not in dropped]
    res.op(all(after[b] == before[b] for b in kept),
           "manifests of skipped buckets changed on resume")
    res.op(all(after[b]["value_checksum"] == before[b]["value_checksum"]
               and after[b]["rows"] == before[b]["rows"] for b in dropped),
           "rewritten buckets' checksums differ from the fresh run")
    return {"fresh_s": fresh_s, "resume_s": resume_s, "bytes": nbytes, "out": out,
            "written": rep_f["written_buckets"] + rep_r["written_buckets"],
            "skipped": rep_r["skipped_buckets"],
            "fresh": (f0, f1), "resume": (r0, r1),
            "resume_rows": sum(before[b]["rows"] for b in dropped)}


def pipeline_job(ctx: Ctx) -> Result:
    """The shipped job, fresh then resumed, and the vectorized headline
    kernel on the same corpus; the kernel's rows check the job's export."""
    from feature_extractor_mbo_lob_spark import sources

    corpus = corpus_for(ctx)
    main = load_job(ctx.root)

    def warmup(spark):  # the job itself runs cold, as a spark-submit would
        sources.read_transcripts(spark, str(corpus)).count()

    with ctx.tracer.span("phase.setup"):
        res = Result(setup(ctx, warmup, keep_last=False), 0.0, 0.0, {})
    if ctx.traced:
        wrap_layers(ctx, JOB_LAYERS)
        event_log(ctx, True)
    iters = []
    t_end = time.time() + ctx.seconds
    while True:
        it = job_iteration(ctx, res, main, corpus, len(iters))
        if it is None:
            return res
        iters.append(it)
        if time.time() >= t_end:
            break
    ctx.tracer.unwrap_all()
    res.wall_s = statistics.median(i["fresh_s"] for i in iters)
    res.tail_s = statistics.median(i["resume_s"] for i in iters)
    bpt = statistics.median(i["bytes"] for i in iters) / ctx.n_turns

    spark = get_spark()
    head, t = headline_pass(ctx, spark, corpus)
    plain, traced = [t], []
    if ctx.traced:  # warm rep, then plain and wrapped reps interleaved
        for _ in range(2):
            plain.append(headline_pass(ctx, spark, corpus)[1])
            wrap_layers(ctx, JOB_LAYERS[:1] + HEADLINE_LAYERS)
            traced.append(headline_pass(ctx, spark, corpus)[1])
            ctx.tracer.unwrap_all()
        plain = plain[1:]
    res.named = {
        "job_turns_per_s": (ctx.n_turns / res.wall_s, "turns/s"),
        "resume_s": (res.tail_s, "s"),
        "export_bytes_per_turn": (bpt, "B/turn"),
        "headline_turns_per_s": (ctx.n_turns / statistics.median(plain), "turns/s"),
    }

    # output check: the kernel's rows are in the job's export, equal on the
    # shared key/feature/label columns
    import pyarrow.parquet as pq

    with ctx.tracer.span("phase.check"):
        c = compare_rows(head, pq.read_table(iters[-1]["out"]).to_pandas(), TOL)
    res.op(c["rows"] > 0 and c["missing"] == 0 and c["differ"] == 0 and c["columns"] > 60,
           f"job export vs headline rows: {c}")
    spark.stop()
    if ctx.traced:
        # scaling: the same kernel on one core (T1 / TN) / N
        spark = get_spark(master="local[1]")
        t_one = headline_pass(ctx, spark, corpus)[1]
        spark.stop()
        event_log(ctx, False)
        res.layers["headline.scaling_eff_1toN"] = (t_one / statistics.median(plain)) / ctx.cores
        traced_layers(ctx, res, iters[-1], plain, traced)
    return res


def headline_pass(ctx: Ctx, spark, corpus: Path):
    """One kernel run, its rows collected to the driver through Arrow (the
    output check reads them). Returns (rows as pandas, wall)."""
    from feature_extractor_mbo_lob_spark import sources
    from feature_extractor_mbo_lob_spark.plans import vectorized

    with ctx.tracer.span("headline.run"):
        t = time.time()
        df = vectorized.vectorized_flagship(sources.read_transcripts(spark, str(corpus)))
        with ctx.tracer.span("sink.to_pandas"):
            pdf = df.toPandas()
        return pdf, time.time() - t


def traced_layers(ctx: Ctx, res: Result, it: dict, plain: list[float],
                  traced: list[float]) -> None:
    """Per-layer values of the traced pipeline_job run: job spans per phase,
    headline spans per traced rep, engine counters from the event log."""
    jobs, tasks = spans.read_event_logs(ctx.work / "eventlog")
    L = res.layers
    for phase, (t0, t1), rows in (("job", it["fresh"], ctx.n_turns),
                                 ("resume", it["resume"], it["resume_rows"])):
        pre = "" if phase == "job" else "resume."
        inside = ctx.tracer.total("session.get_spark", t0, t1)
        for _, _, name in JOB_LAYERS:
            L[f"{pre}{name}_s"] = ctx.tracer.total(name, t0, t1)
            inside += L[f"{pre}{name}_s"]
        L[f"{phase}.other_s"] = (t1 - t0) - inside
        eng = spans.engine_counters(jobs, tasks, t0, t1)
        put_engine(L, phase, eng, t1 - t0, ctx.cores)
        L[f"{phase}.scan_amplification"] = eng["input_records"] / max(rows, 1)
    L["export.bytes_written"] = float(it["bytes"])
    L["export.buckets_written"] = float(it["written"])
    L["export.buckets_skipped"] = float(it["skipped"])

    all_spans = ctx.tracer.spans
    kernel_parents = {s["parent"] for s in all_spans if s["name"] == "plans.vectorized_flagship"}
    wrapped = [s for i, s in enumerate(all_spans)
               if s["name"] == "headline.run" and i in kernel_parents]
    n = len(wrapped)

    def per_run(name: str) -> float:
        return sum(ctx.tracer.total(name, s["start"], s["end"]) for s in wrapped) / n

    run_s = sum(s["end"] - s["start"] for s in wrapped) / n
    for name in ("plans.max_conv_turns", "plans.vectorized_flagship", "sink.to_pandas"):
        L[f"{name}_s"] = per_run(name)
    L["headline.other_s"] = run_s - sum(
        per_run(k) for k in ("sources.read_transcripts", "plans.vectorized_flagship",
                             "sink.to_pandas"))
    eng = [spans.engine_counters(jobs, tasks, s["start"], s["end"]) for s in wrapped]
    avg = {k: sum(e[k] for e in eng) / n for k in eng[0]}
    avg["task_skew"] = max(e["task_skew"] for e in eng)
    put_engine(L, "headline", avg, run_s, ctx.cores)
    L["trace.overhead_s"] = statistics.median(traced) - statistics.median(plain)
    L["trace.overhead_share"] = L["trace.overhead_s"] / statistics.median(plain)


def put_engine(L: dict, prefix: str, eng: dict, wall: float, cores: int) -> None:
    for k in ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes",
              "executor_run_s", "jvm_gc_s"):
        L[f"{prefix}.spark.{k}"] = float(eng[k])
    L[f"{prefix}.core_busy_share"] = eng["executor_run_s"] / max(wall * cores, 1e-9)
    L[f"{prefix}.task_skew"] = eng["task_skew"]


def corpus_for(ctx: Ctx) -> Path:
    """The seeded corpus; sets ctx.n_turns to its exact row count."""
    import pyarrow.parquet as pq

    corpus = inputs.transcript_corpus(ctx.cache, ctx.seed, ctx.n_turns)
    ctx.n_turns = sum(pq.ParquetFile(f).metadata.num_rows for f in corpus.glob("*.parquet"))
    return corpus


# --- registry_window ---------------------------------------------------------

def registry_pass(ctx: Ctx, spark, tables: Path, order: list[str], res: Result,
                  walls: dict, rows: dict) -> float:
    """Every query once; returns the summed wall of the pass."""
    from feature_extractor_mbo_lob_spark.plans.driver_queries import QUERIES

    total = 0.0
    for q in order:
        try:
            with ctx.tracer.span(f"registry.{q}"):
                t = time.time()
                with ctx.tracer.span("registry.build"):
                    df = QUERIES[q](spark, str(tables))
                with ctx.tracer.span("registry.execute"):
                    got = (list(df.columns), [tuple(r) for r in df.collect()])
                walls.setdefault(q, []).append(time.time() - t)
            total += walls[q][-1]
            rows.setdefault(q, got)
            res.op(True, "")
        except Exception as e:  # noqa: BLE001
            res.op(False, f"query {q}: {e!r}"[:300])
    return total


def registry_window(ctx: Ctx) -> Result:
    from feature_extractor_mbo_lob_spark.plans.driver_queries import QUERIES

    tables = inputs.star_tables(ctx.cache, 42)
    order = [ctx.window[i] for i in np.random.default_rng([ctx.seed, 4]).permutation(len(ctx.window))]

    def warmup(spark):  # a registry query outside the window takes the JIT's first hit
        QUERIES[WARMUP_QUERY](spark, str(tables)).collect()

    # a traced run starts one more session, with the event log on
    with ctx.tracer.span("phase.setup"):
        res = Result(setup(ctx, warmup, keep_last=not ctx.traced), 0.0, 0.0, {})
    event_log(ctx, ctx.traced)
    spark = get_spark()
    walls: dict[str, list[float]] = {}
    rows: dict = {}
    t0 = time.time()
    passes = []
    while True:
        passes.append(registry_pass(ctx, spark, tables, order, res, walls, rows))
        if time.time() >= t0 + ctx.seconds:
            break
    t1 = time.time()
    spark.stop()
    all_q = [w for ws in walls.values() for w in ws]
    if all_q:
        res.wall_s = statistics.median(passes)
        res.tail_s = pct(all_q, 80)
        res.named = {
            "window_s": (res.wall_s, "s"),
            "window_query_p50_s": (pct(all_q, 50), "s"),
            "window_query_p80_s": (res.tail_s, "s"),
        }
    if ctx.traced:
        registry_layers(ctx, res, walls, t0, t1)
    with ctx.tracer.span("phase.check"):
        check_oracles(ctx, res, tables, rows)
    return res


def registry_layers(ctx: Ctx, res: Result, walls: dict, t0: float, t1: float) -> None:
    L = res.layers
    for q, ws in walls.items():
        L[f"registry.{q}_s"] = statistics.median(ws)
    L["registry.build_s"] = ctx.tracer.total("registry.build", t0, t1)
    L["registry.execute_s"] = ctx.tracer.total("registry.execute", t0, t1)
    L["registry.other_s"] = (t1 - t0) - L["registry.build_s"] - L["registry.execute_s"]
    jobs, tasks = spans.read_event_logs(ctx.work / "eventlog")
    builds = [s for s in ctx.tracer.spans if s["name"] == "registry.build"
              and s["start"] >= t0 and s["end"] <= t1]
    L["registry.eager_jobs"] = float(sum(
        1 for j in jobs if any(s["start"] <= j["submit"] < s["end"] for s in builds)))
    put_engine(L, "registry", spans.engine_counters(jobs, tasks, t0, t1), t1 - t0, ctx.cores)


def check_oracles(ctx: Ctx, res: Result, tables: Path, rows: dict) -> None:
    """Each query's first-pass rows against its DuckDB oracle, canonicalized
    exactly as tools/check_oracle.py does."""
    import duckdb
    import pyarrow as pa

    sys.path.insert(0, str(ctx.root / "tools"))
    from check_oracle import TABLES, value_hash

    from feature_extractor_mbo_lob_spark.plans.driver_queries import ORACLES

    con = duckdb.connect()
    for t in TABLES:
        p = tables / f"{t}.parquet"
        if p.exists():
            con.execute(f"create view {t} as select * from read_parquet('{p}')")
    for q, (cols, srows) in sorted(rows.items()):
        tbl = con.execute(ORACLES[q]).fetch_arrow_table()
        dcols = list(tbl.column_names)
        decimal = any(pa.types.is_decimal(t) for t in tbl.schema.types)
        drows = [tuple(r[c] for c in dcols) for r in tbl.to_pylist()]
        res.op(not decimal and len(srows) == len(drows) and sorted(cols) == sorted(dcols)
               and value_hash(cols, srows) == value_hash(dcols, drows),
               f"query {q} differs from its DuckDB oracle")
    con.close()


WORKLOADS = {"pipeline_job": pipeline_job, "registry_window": registry_window}
