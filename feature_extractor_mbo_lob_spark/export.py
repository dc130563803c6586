"""Export sink: partitioned parquet + per-partition lineage manifests +
checkpoint-resume.

Reference: the NPY/metadata export stage (src/export_aligned/npy_export.rs,
metadata.rs, mod.rs:469-533 — per-day artifacts with schema version,
distribution, config hash, validation flags). The reference's resume story
is "rerun the day"; the north rule upgrades that to: idempotent per-partition
overwrite, a JSON lineage manifest per partition (input fingerprint, config
hash, row counts, checksums, wall time, throughput), and skip-if-valid
resume.

Partition unit: a deterministic bucket of conv_id (pmod(xxhash64(conv_id), n))
— the Iceberg-partition analog that keeps each manifest's scope aligned with
the shuffle partitioning, so resume granularity == work granularity. The
frame's lineage runs once: it is written to a staging directory, the
NaN/Inf/null gate and the per-bucket fingerprints are one aggregate over the
staged files, and only a clean stage is committed, bucket by bucket, with a
directory rename (the reference hard-errors the day; a failed gate commits
nothing).
"""

from __future__ import annotations

import hashlib
import json
import shutil
import time
import uuid
from dataclasses import asdict, dataclass
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .config import PipelineConfig
from .contract import feature_columns
from .guards import collect_at_most
from .validation import ValidationError, bad_value_count

MANIFEST_DIR = "_manifests"
BUCKET_COL = "part_bucket"
# a leading "_" hides the stage from parquet readers of out_dir
STAGING_PREFIX = "_staging-"


@dataclass
class PartitionManifest:
    bucket: int
    n_buckets: int
    rows: int
    keys: int
    value_checksum: str
    config_hash: str
    input_fingerprint: str
    schema_version: str
    wall_sec: float
    rows_per_sec: float
    written_at_unix: float


def schema_digest(schema: StructType) -> str:
    """The manifest's ``schema_version``: the first 8 hex digits of sha256
    over ``schema.simpleString()`` — the same value in every process
    (``str.__hash__`` is salted per process)."""
    return hashlib.sha256(schema.simpleString().encode()).hexdigest()[:8]


def bucket_of(cfg: PipelineConfig, n_buckets: int) -> Column:
    """The export bucket of a row: pmod(xxhash64(key), n_buckets)."""
    return F.pmod(F.xxhash64(cfg.key_col), F.lit(n_buckets)).cast("int")


def with_bucket(df: DataFrame, cfg: PipelineConfig, n_buckets: int) -> DataFrame:
    return df.withColumn(BUCKET_COL, bucket_of(cfg, n_buckets))


def _staged_audit(staged: DataFrame, cfg: PipelineConfig, cols: list[str],
                  gated: list[str]) -> tuple[dict[int, dict], dict[str, int]]:
    """One aggregate over the staged files: per-bucket row count / key count
    / order-insensitive checksum, and per gated column its NaN/Inf/null
    count. Checksum = sum of xxhash64 over the row's typed values — cheap
    and associative; it is compared only between runs of one version."""
    # decimal(38,0) accumulator: order-insensitive, associative, and immune
    # to ANSI long-overflow at any row count
    rowhash = F.xxhash64(*[F.col(c) for c in cols]).cast("decimal(38,0)")
    agg = (
        staged.groupBy(BUCKET_COL)
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.countDistinct(cfg.key_col).alias("keys"),
            F.sum(rowhash).alias("checksum"),
            *[bad_value_count(c).alias(f"_bad{i}") for i, c in enumerate(gated)],
        )
        .collect()
    )
    fps = {
        int(r[BUCKET_COL]): {
            "rows": int(r["rows"]),
            "keys": int(r["keys"]),
            "checksum": format(int(r["checksum"]) & 0xFFFFFFFFFFFFFFFF, "016x"),
        }
        for r in agg
    }
    bad = {c: sum(int(r[f"_bad{i}"]) for r in agg) for i, c in enumerate(gated)}
    return fps, {c: n for c, n in bad.items() if n}


def manifest_path(out_dir: str, bucket: int) -> Path:
    return Path(out_dir) / MANIFEST_DIR / f"bucket={bucket}.json"


def valid_buckets(out_dir: str, config_hash: str, input_fingerprint: str,
                  n_buckets: int) -> set[int]:
    """Buckets whose manifest exists and matches config + input + bucket
    count — these are skipped on resume. A ValueError names both counts,
    before any Spark job, when out_dir holds a manifest of another bucket
    count: bucket k of n holds other conversations than bucket k of m, and
    its part_bucket=k directory would mix with the new export's."""
    ms = []
    for p in (Path(out_dir) / MANIFEST_DIR).glob("bucket=*.json"):
        try:
            ms.append(json.loads(p.read_text()))
        except Exception:
            continue
    other = {m.get("n_buckets") for m in ms} - {n_buckets}
    if other:
        raise ValueError(
            f"{out_dir} holds manifests for {', '.join(sorted(map(str, other)))} "
            f"buckets; this run asks for {n_buckets}. Write to a new directory."
        )
    return {int(m["bucket"]) for m in ms
            if m.get("config_hash") == config_hash
            and m.get("input_fingerprint") == input_fingerprint}


def export_with_manifests(
    df: DataFrame,
    cfg: PipelineConfig,
    out_dir: str,
    input_fingerprint: str,
    n_buckets: int = 16,
    resume: bool = True,
) -> dict:
    """Write df partitioned by conv-bucket with one lineage manifest per
    bucket, running df's lineage once.

    0. out_dir holding manifests of another bucket count raises ValueError
       before any Spark job (valid_buckets).
    1. On resume, buckets with a valid manifest are skipped; when every
       bucket is, nothing runs. The skip is a filter on df's output, which
       Catalyst does not push below a grouped pandas stage, so a caller that
       can prune its input should skip there (plans.vectorized.job_features
       does).
    2. The rest is written once, to a staging directory under out_dir.
    3. One aggregate over the staged files gives each bucket's rows, keys
       and checksum, and gates the contract feature columns present in df:
       any NaN/Inf/null deletes the stage and raises ValidationError, so
       nothing is committed and a prior export stays as it was.
    4. Each staged bucket replaces ``part_bucket=k`` by a directory rename;
       then its manifest is written.

    Returns a run report {written_buckets, skipped_buckets, rows, wall_sec}.
    """
    cfg_hash = cfg.config_hash()
    done = valid_buckets(out_dir, cfg_hash, input_fingerprint, n_buckets)
    if not resume:
        done = set()
    report = {"written_buckets": [], "skipped_buckets": sorted(done), "rows": 0,
              "wall_sec": 0.0}
    todo_buckets = set(range(n_buckets)) - done
    if not todo_buckets:
        return report

    t0 = time.time()
    bdf = with_bucket(df, cfg, n_buckets)
    todo = bdf.filter(~F.col(BUCKET_COL).isin(sorted(done))) if done else bdf
    out = Path(out_dir)
    fresh_dir = not out.exists()
    stage = out / f"{STAGING_PREFIX}{uuid.uuid4().hex}"
    gated = [c for c in feature_columns(cfg.window_sizes) if c in df.columns]
    try:
        todo.repartition(len(todo_buckets), BUCKET_COL).write.partitionBy(
            BUCKET_COL
        ).parquet(str(stage))
        fps: dict[int, dict] = {}
        if any(stage.glob(f"{BUCKET_COL}=*")):
            staged = df.sparkSession.read.schema(todo.schema).parquet(str(stage))
            fps, bad = _staged_audit(staged, cfg, df.columns, gated)
            if bad:
                raise ValidationError(f"NaN/Inf/null in feature columns: {bad}")
        for b in sorted(fps):
            dst = out / f"{BUCKET_COL}={b}"
            if dst.exists():
                shutil.rmtree(dst)
            (stage / f"{BUCKET_COL}={b}").rename(dst)
    except BaseException:
        shutil.rmtree(stage, ignore_errors=True)
        if fresh_dir and out.exists() and not any(out.iterdir()):
            out.rmdir()
        raise
    shutil.rmtree(stage, ignore_errors=True)
    wall = time.time() - t0

    mdir = out / MANIFEST_DIR
    mdir.mkdir(parents=True, exist_ok=True)
    for b, v in fps.items():
        m = PartitionManifest(
            bucket=b,
            n_buckets=n_buckets,
            rows=v["rows"],
            keys=v["keys"],
            value_checksum=v["checksum"],
            config_hash=cfg_hash,
            input_fingerprint=input_fingerprint,
            schema_version=schema_digest(df.schema),
            wall_sec=round(wall, 3),
            rows_per_sec=round(v["rows"] / wall, 1) if wall > 0 else 0.0,
            written_at_unix=time.time(),
        )
        manifest_path(out_dir, b).write_text(json.dumps(asdict(m), indent=1))

    report.update(written_buckets=sorted(fps),
                  rows=sum(v["rows"] for v in fps.values()),
                  wall_sec=round(wall, 3))
    return report


def input_fingerprint_for_path(spark: SparkSession, path: str) -> str:
    """Cheap input snapshot id: file listing + sizes + mtimes hashed.
    (With Iceberg this is simply the snapshot id.)"""
    p = Path(path)
    h = hashlib.sha256()
    if p.is_file():
        st = p.stat()
        h.update(f"{p.name}:{st.st_size}:{int(st.st_mtime)}".encode())
    elif p.exists():
        # data files of any format (parquet dirs, jsonl shards, ...)
        files = sorted(
            f for f in p.rglob("*")
            if f.is_file() and not f.name.startswith(("_", "."))
        )
        for f in files:
            st = f.stat()
            h.update(f"{f.name}:{st.st_size}:{int(st.st_mtime)}".encode())
    else:
        h.update(path.encode())
    return h.hexdigest()[:16]


def export_npy_sequences(
    seq_df: DataFrame,
    out_dir: str,
    tag: str,
    label_col: str | None = None,
    max_rows: int = 1_000_000,
) -> dict:
    """NPY tensor sink for fixture parity with the reference's primary
    artifact (reference: export_sequences src/export_aligned/npy_export.rs:
    36-116 — {day}_sequences.npy [N,T,F] float32, {day}_labels.npy [N] int8,
    metadata JSON). The parquet table is the production sink; this collects
    to the driver (``guards.collect_at_most``, cap max_rows), so it is for
    fixtures/small exports only.

    seq_df must have a `sequence: array<array<double>>` column (from
    operators.sequence.build_sequences) and optionally a label column.
    """
    import numpy as np

    cols = ["sequence"] + ([label_col] if label_col else [])
    pdf = collect_at_most(
        seq_df.select(*cols), max_rows, "export_npy_sequences", to_pandas=True
    )
    if pdf is None:
        raise ValueError(f"npy export capped at {max_rows} rows; got more")
    # explicit [N][T][F] nesting — Arrow may hand back ragged object arrays
    seqs = np.array(
        [[list(vec) for vec in s] for s in pdf["sequence"]], dtype=np.float32
    )
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    np.save(out / f"{tag}_sequences.npy", seqs)
    meta = {
        "shape": list(seqs.shape),
        "dtype": "float32",
        "rows": len(pdf),
        "written_at_unix": time.time(),
    }
    if label_col:
        labels = pdf[label_col].to_numpy(dtype=np.int8)
        np.save(out / f"{tag}_labels.npy", labels)
        meta["labels_shape"] = list(labels.shape)
        meta["labels_dtype"] = "int8"
    (out / f"{tag}_metadata.json").write_text(json.dumps(meta, indent=1))
    return meta


def export_npy_shards(
    seq_df: DataFrame,
    out_dir: str,
    tag: str,
    label_col: str | None = None,
    n_shards: int = 64,
    id_col: str = "conv_id",
    sort_cols: list[str] | None = None,
) -> dict:
    """Distributed NPY tensor sink — the scale form of export_npy_sequences
    (reference artifact: {day}_sequences.npy [N,T,F] f32 + {day}_labels.npy
    [N] i8, src/export_aligned/npy_export.rs:36-116). Each md5-bucket shard
    of conversations is written as {tag}_shard{k:05}_sequences.npy (+
    _labels.npy) by ITS OWN executor task via applyInPandas — no driver
    collect, no row cap; memory per task is one shard, which the caller
    sizes via n_shards. A {tag}_shards_manifest.json records every shard's
    rows and shape (the per-shard lineage the resume logic needs).

    Rows inside a shard are sorted by sort_cols (default: id_col +
    end_turn_idx when present) so shard contents are deterministic under
    any shuffle order. out_dir must be shared storage on a real cluster
    (executors write directly).
    """
    import numpy as np
    import pandas as pd

    from .functions.corpus import md5_bucket

    if sort_cols is None:
        sort_cols = [id_col] + (
            ["end_turn_idx"] if "end_turn_idx" in seq_df.columns else []
        )
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)

    sharded = seq_df.withColumn("_shard", md5_bucket(id_col, n_shards).cast("int"))
    stats_schema = "shard int, rows long, t int, f int"

    def write_shard(key, pdf):
        shard = int(key[0])
        pdf = pdf.sort_values(sort_cols, kind="mergesort")
        # explicit [n][T][F] nesting — Arrow may hand back ragged object arrays
        seqs = np.array(
            [[list(vec) for vec in s] for s in pdf["sequence"]], dtype=np.float32
        )
        np.save(out / f"{tag}_shard{shard:05d}_sequences.npy", seqs)
        if label_col:
            np.save(
                out / f"{tag}_shard{shard:05d}_labels.npy",
                pdf[label_col].to_numpy(dtype=np.int8),
            )
        t = seqs.shape[1] if seqs.ndim == 3 else 0
        f = seqs.shape[2] if seqs.ndim == 3 else 0
        return pd.DataFrame(
            [{"shard": shard, "rows": len(pdf), "t": t, "f": f}]
        )

    stats = sorted(
        (r.shard, r.rows, r.t, r.f)
        for r in sharded.groupBy("_shard").applyInPandas(
            write_shard, schema=stats_schema
        ).collect()  # n_shards tiny stat rows — NOT the tensor data
    )
    meta = {
        "tag": tag,
        "rows": int(sum(s[1] for s in stats)),
        "n_shards_written": len(stats),
        "t": max((s[2] for s in stats), default=0),
        "f": max((s[3] for s in stats), default=0),
        "dtype": "float32",
        "labels": bool(label_col),
        "shards": [
            {"shard": s[0], "rows": s[1],
             "file": f"{tag}_shard{s[0]:05d}_sequences.npy"}
            for s in stats
        ],
        "written_at_unix": time.time(),
    }
    (out / f"{tag}_shards_manifest.json").write_text(json.dumps(meta, indent=1))
    return meta


def write_bucketed_table(
    df: DataFrame,
    table: str,
    key: str = "conv_id",
    n_buckets: int = 64,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist as a Spark bucketed+sorted table (the 100-TB storage layout:
    two tables bucketed on the same key with the same bucket count join with
    ZERO shuffle — the sequence↔label alignment of repeated training runs
    becomes exchange-free). Table name may be db-qualified; create the db
    with an explicit LOCATION to control the warehouse path."""
    w = df.write.mode("overwrite").bucketBy(n_buckets, key)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(table)


def export_jsonl_shards(
    df: DataFrame,
    out_dir: str,
    n_shards: int = 64,
    id_col: str = "doc_id",
    compress: bool = True,
) -> dict:
    """Training-corpus sink: shard-partitioned JSONL (optionally gzip), the
    interchange format LLM training stacks ingest. Sharding is the same
    deterministic md5-bucket used by pack_token_stream (any id type — string
    ids are common in real corpora), so a shard is a self-contained training
    stream; each shard directory is one task's sequential write (no
    tiny-file explosion). Returns {rows, shards, path}.
    """
    from pyspark.sql import functions as F

    from .functions.corpus import md5_bucket

    sharded = df.withColumn("shard", md5_bucket(id_col, n_shards).cast("int"))
    writer = sharded.repartition(n_shards, "shard").write.mode("overwrite")
    if compress:
        writer = writer.option("compression", "gzip")
    writer.partitionBy("shard").json(out_dir)
    n = df.count()
    return {"rows": n, "shards": n_shards, "path": out_dir}


def render_conversations(df: DataFrame, cfg: PipelineConfig,
                         sep: str = "\n") -> DataFrame:
    """Flatten each conversation into one SFT-ready training string
    ("role: text" per turn, stable order) plus turn/char counts — the
    transcript-to-training-sample rendering step.

    One groupBy(conv_id) with an order-insensitive
    array_sort(collect_list(struct(order, payload))) — deterministic under
    any shuffle order, no window, no UDF. The rendered string is bounded
    by the conversation length (same cardinality the window cascade
    already handles; mega-conversations go through operators/skew.py
    first if they exceed the task bound).
    """
    line = F.concat_ws(": ", F.col("role"), F.coalesce(F.col("text"), F.lit("")))
    entries = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("turn_idx").alias("i"),
                F.col(cfg.ts_col).alias("ts"),
                line.alias("line"),
            )
        )
    )
    return (
        df.groupBy(cfg.key_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_turns"),
            entries.alias("_e"),
        )
        .select(
            cfg.key_col,
            "n_turns",
            F.array_join(F.transform("_e", lambda e: e["line"]), sep).alias("rendered"),
        )
        .withColumn("n_chars", F.length("rendered").cast("long"))
    )


def compact_parquet(
    spark: SparkSession,
    src: str,
    dst: str,
    target_file_bytes: int = 256 * 1024 * 1024,
    sort_cols: list[str] | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ceil(total_bytes / target) files — the maintenance pass every
    streaming/incremental sink needs (thousands of micro-batch files
    kill scan throughput and driver listing time at 100 TB; Iceberg
    calls this rewrite_data_files).

    File count comes from actual on-disk bytes (driver-side listing of
    the source footprint, no data read); the rewrite is one job —
    repartitionByRange over ``sort_cols`` (keeps/restores clustering,
    enabling min/max pruning) or a plain round-robin repartition.
    Returns the number of output files requested.
    """
    import math
    from pathlib import Path as _Path

    total = sum(
        p.stat().st_size for p in _Path(src).rglob("*.parquet") if p.is_file()
    )
    n_files = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(src)
    if sort_cols:
        df = df.repartitionByRange(n_files, *sort_cols).sortWithinPartitions(*sort_cols)
    else:
        df = df.repartition(n_files)
    df.write.mode("overwrite").parquet(dst)
    return n_files
