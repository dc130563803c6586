#!/usr/bin/env python3
"""Benchmark of the feature engine: one seeded workload per run.

    python3 perfbench/run.py --workload pipeline_job --seed 1 --seconds 10 --trace 0

Run it from the repository root. It prints the workload's metrics one per
line (``metric <name> = <value> <unit>``) and, as the last line, one JSON
object {"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
of BENCHMARK.json with ``--trace 0``, its per-layer metrics with ``--trace 1``.
The traced run also writes its spans and engine counters to
``.perfbench/traces/``. ``--smoke`` shrinks every input for a quick check.

Everything it writes stays under ``.perfbench/`` in the repository root.
Exit codes: 0 done (check ``correct``), 2 the package is not there,
3 the run overran its time limit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
from pathlib import Path

T_START = time.time()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
TIME_LIMIT_S = 170
# Driver heap, fixed from the start (-Xms = -Xmx). Left to grow under a 3g
# cap, G1 committed 0.8-1.7 GB in runs of one seed, as GC pause timing
# decided, and peak RSS read that timing rather than the program. 1g holds
# both workloads (post-GC heap peaked below 0.7 GB) and touches fewer fresh
# pages than a fixed 3g, which slowed registry_window by about a tenth.
DRIVER_MEM = "1g"
N_TURNS = 20_000
SMOKE_TURNS = 3_000


def fail(msg: str, code: int) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def stop_processes() -> None:
    """Stop the Spark session and the JVM, then every process this one
    started, and wait until each has ended."""
    import spans

    kids = spans.descendants()
    try:
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=30)
    except Exception as e:  # noqa: BLE001 - fall through to the kill below
        print(f"perfbench: JVM shutdown: {e!r}", file=sys.stderr)
    deadline = time.time() + 15
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in kids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        while time.time() < deadline and any(Path(f"/proc/{p}").exists() for p in kids):
            for p in kids:  # reap our direct children
                try:
                    os.waitpid(p, os.WNOHANG)
                except ChildProcessError:
                    pass
            time.sleep(0.1)
        deadline = time.time() + 5


def watchdog(work: Path) -> None:
    """Ends a run that overruns TIME_LIMIT_S, with no result line."""

    def fire():
        print(f"perfbench: run exceeded {TIME_LIMIT_S} s", file=sys.stderr, flush=True)
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)
        os._exit(3)

    t = threading.Timer(TIME_LIMIT_S, fire)
    t.daemon = True
    t.start()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, one pass")
    args = ap.parse_args()

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in bench["workloads"]]
    if args.workload not in names:
        fail(f"unknown workload {args.workload!r}; expected one of {names}", 2)
    if not (ROOT / "feature_extractor_mbo_lob_spark" / "__init__.py").is_file() \
            or not (ROOT / "jobs" / "run_pipeline.py").is_file():
        fail(f"the package under test is not in {ROOT}", 2)

    cores = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    base = ROOT / ".perfbench"
    work = base / "runs" / run_id
    for d in ("local", "eventlog", "warehouse", "tmp"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": str(work / "tmp"),
        "PYSPARK_SUBMIT_ARGS": "--driver-java-options "
            f"'-Djava.io.tmpdir={work / 'tmp'} -Xms{DRIVER_MEM}' pyspark-shell",
    })
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    import spans
    import workloads

    busy_before = spans.cpu_busy_share(0.5)
    watchdog(work)
    ctx = workloads.Ctx(
        root=ROOT, work=work, cache=base / "cache", seed=args.seed,
        seconds=0.0 if args.smoke else args.seconds, traced=bool(args.trace),
        cores=cores, n_turns=SMOKE_TURNS if args.smoke else N_TURNS,
        window=workloads.WINDOW[:3] if args.smoke else workloads.WINDOW,
        tracer=spans.Tracer(run_id),
        spark_conf={
            "spark.local.dir": str(work / "local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.eventLog.enabled": "false",
            "spark.eventLog.dir": str(work / "eventlog"),
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        },
    )
    workloads.install_session(ctx)
    try:
        with spans.PeakRss() as rss:
            res = workloads.WORKLOADS[args.workload](ctx)
    finally:
        stop_processes()
        event_logs = spans.read_event_logs(work / "eventlog") if args.trace else ([], [])
        shutil.rmtree(work, ignore_errors=True)

    for note in res.notes:
        print(note, file=sys.stderr)
    for s in ctx.tracer.spans:
        if s["parent"] is None:
            print(f"span {s['name']} {s['end'] - s['start']:.2f} s", file=sys.stderr)
    print(f"total {time.time() - T_START:.1f} s", file=sys.stderr)
    setup_s = statistics.median(res.setup_s)
    shown = {
        "setup_s": (setup_s, "s"),
        **res.named,
        "peak_rss_mb": (rss.peak_mb, "MB"),
        "failed_ops_share": (res.failed / max(res.attempted, 1), "ratio"),
    }
    print(f"workload {args.workload} seed {args.seed} cores {cores} "
          f"box_cpu_busy_before {busy_before:.3f} operations {res.attempted}")
    for name, (v, unit) in shown.items():
        print(f"metric {name} = {v:.6g} {unit}")

    if args.trace:
        self_times = ctx.tracer.self_times()
        by_span = spans.engine_by_span(ctx.tracer.spans, *event_logs)
        (base / "traces").mkdir(parents=True, exist_ok=True)
        (base / "traces" / f"{run_id}.json").write_text(json.dumps({
            "run_id": run_id, "workload": args.workload, "seed": args.seed,
            "spans": ctx.tracer.spans, "self_s": self_times,
            "engine_by_span": by_span, "layers": res.layers,
        }, indent=1))
        starts = [s["end"] - s["start"] for s in ctx.tracer.spans
                  if s["name"] == "session.get_spark"]
        layers = {**res.layers, "session.get_spark_s": statistics.median(starts),
                  "box.cpu_busy_share_before": busy_before}
        for name in sorted(self_times):
            print(f"self {name} = {self_times[name]:.6g} s")
        metrics = {}
        for m in bench["per_layer"]:
            metrics[m["name"]] = {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
        unknown = set(layers) - set(metrics)
        if unknown:
            print(f"perfbench: layer values not declared in BENCHMARK.json: "
                  f"{sorted(unknown)}", file=sys.stderr)
    else:
        e2e = {"setup_s": setup_s, "wall_s": res.wall_s, "tail_s": res.tail_s,
               "peak_rss_mb": rss.peak_mb}
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    print(json.dumps({"correct": res.failed == 0 and res.attempted > 0,
                      "attempted": max(res.attempted, 1),
                      "failed": res.failed if res.attempted else 1,
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
