#!/usr/bin/env python
"""Production entrypoint — the spark-submit path (north rule).

Cluster launch:

    python tools/make_pyfiles.py                      # -> dist/engine.zip
    spark-submit \
        --master <cluster> \
        --py-files dist/engine.zip \
        --conf spark.sql.adaptive.enabled=true \
        --conf spark.sql.shuffle.partitions=<2-3x total cores> \
        jobs/run_pipeline.py \
        --input /path/or/iceberg.table --input-format parquet \
        --output /path/features --config config.json \
        --buckets 256 --resume

Local smoke:

    python jobs/run_pipeline.py --input /root/testdata/sf0.001 \
        --input-format events --output /tmp/fex_out --buckets 4

Reads the transcript table and builds the export frame on the vectorized
kernel (plans.vectorized.job_features): every contract feature and the TLOB
labels in one Arrow grouped-map pass, one row per input turn, null labels at
conversation tails. Conversations longer than the config's
skew_max_turns_per_task take the chunked route; everything else stays on the
kernel. export.export_with_manifests runs that lineage once: it writes a
staging directory, gates the staged feature columns (NaN/Inf/null) together
with the per-bucket fingerprints in one aggregate, and commits bucket
directories by rename only when the gate passes. Re-running with --resume
skips buckets whose manifests match config + input snapshot; the skip filters
the INPUT, below the kernel's shuffle, so a resumed run computes only the
buckets it rewrites, and none when every bucket is skipped. Emits one JSON
line of run metrics (rows, route, wall, throughput) to stdout; rows_in is
observed on the scan (0 when every bucket was skipped).
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--input-format", default="parquet",
                    choices=["parquet", "iceberg", "events", "jsonl"])
    ap.add_argument("--quarantine", default=None,
                    help="path for corrupt JSONL lines (jsonl input only)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--config", default=None, help="PipelineConfig JSON file")
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from feature_extractor_mbo_lob_spark import PipelineConfig, get_spark
    from feature_extractor_mbo_lob_spark.export import (
        export_with_manifests,
        input_fingerprint_for_path,
        valid_buckets,
    )
    from feature_extractor_mbo_lob_spark.plans.vectorized import job_features
    from feature_extractor_mbo_lob_spark.sources import (
        read_transcripts,
        transcripts_from_events,
    )
    from feature_extractor_mbo_lob_spark import validation as val
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    # .json or .toml, by extension (reference: export_dataset.rs:178-180)
    cfg = PipelineConfig.from_file(args.config) if args.config else PipelineConfig()
    spark = get_spark(app_name="fex-pipeline", master=args.master)
    spark.sparkContext.setLogLevel("WARN")

    from feature_extractor_mbo_lob_spark.batch import JobHandle

    handle = JobHandle(spark, "fex-pipeline", "feature extraction run")
    handle.activate()  # whole run is cancellable via cancelJobGroup

    t0 = time.time()
    if args.input_format == "events":
        df = transcripts_from_events(spark, args.input)
    elif args.input_format == "jsonl":
        from feature_extractor_mbo_lob_spark.sources import TRANSCRIPT_SCHEMA, read_jsonl

        df, bad = read_jsonl(spark, args.input, TRANSCRIPT_SCHEMA)
        if args.quarantine:
            bad.write.mode("overwrite").text(args.quarantine)
    else:
        df = read_transcripts(spark, args.input, fmt=args.input_format)
    scanned = Observation("scan")
    df = df.observe(scanned, F.count(F.lit(1)).alias("rows"))

    fp = input_fingerprint_for_path(spark, args.input)
    done = (valid_buckets(args.output, cfg.config_hash(), fp) if args.resume
            else set())
    frame, route = job_features(df, cfg, args.buckets, skip_buckets=done)
    val.assert_feature_contract(frame, cfg)

    report = export_with_manifests(
        frame, cfg, args.output, input_fingerprint=fp,
        n_buckets=args.buckets, resume=args.resume,
    )
    wall = time.time() - t0
    # the observation fires with the first action over the scan (at the
    # latest the export's write); when every bucket was skipped none ran
    n_in = scanned.get["rows"] if set(range(args.buckets)) - done else 0
    print(json.dumps({
        "rows_in": n_in,
        "rows_out": report["rows"],
        "written_buckets": len(report["written_buckets"]),
        "skipped_buckets": len(report["skipped_buckets"]),
        **route,
        "wall_sec": round(wall, 2),
        "turns_per_sec": round(n_in / wall, 1),
        "config_hash": cfg.config_hash(),
        "input_fingerprint": fp,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
