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

Reads the transcript table, builds the full point-in-time feature frame
(+ TLOB labels; through the chunked skew route when the longest
conversation exceeds the config's skew_max_turns_per_task), validates (NaN
gate, contract width), and exports
partitioned parquet with per-bucket lineage manifests. Re-running with
--resume skips buckets whose manifests match config + input snapshot.
Emits one JSON line of run metrics (rows, wall, throughput) to stdout.
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
    )
    from feature_extractor_mbo_lob_spark.labeling import tlob_labels
    from feature_extractor_mbo_lob_spark.operators.skew import build_features_skewed
    from feature_extractor_mbo_lob_spark.plans import build_features
    from feature_extractor_mbo_lob_spark.plans.pipeline import clean_input, max_conv_turns
    from feature_extractor_mbo_lob_spark.sources import (
        read_transcripts,
        transcripts_from_events,
    )
    from feature_extractor_mbo_lob_spark import validation as val
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

    # skew route chosen from the data, as in flagship_pipeline: chunked
    # carry-in windows, labels included (forward-context rows), when one
    # conversation would be a straggler task; on parquet input the probe
    # reads only the footers
    if max_conv_turns(df) > cfg.skew_max_turns_per_task:
        labeled = build_features_skewed(clean_input(df, cfg), cfg, with_labels=True)
    else:
        labeled = tlob_labels(
            build_features(df, cfg).withColumn("_p", F.col("char_len")), cfg,
            price_col="_p",
        ).drop("_p")

    val.assert_feature_contract(labeled, cfg)
    val.assert_no_nan_inf(labeled, cfg.feature_columns())

    fp = input_fingerprint_for_path(spark, args.input)
    report = export_with_manifests(
        labeled, cfg, args.output, input_fingerprint=fp,
        n_buckets=args.buckets, resume=args.resume,
    )
    wall = time.time() - t0
    n_in = df.count()
    print(json.dumps({
        "rows_in": n_in,
        "rows_out": report["rows"],
        "written_buckets": len(report["written_buckets"]),
        "skipped_buckets": len(report["skipped_buckets"]),
        "wall_sec": round(wall, 2),
        "turns_per_sec": round(n_in / wall, 1),
        "config_hash": cfg.config_hash(),
        "input_fingerprint": fp,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
