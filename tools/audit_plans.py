#!/usr/bin/env python
"""Physical-plan audit: verifies (and documents, into PLANS.md) that the
engine's plans have the shape you want at 100 TB — filters pushed to the
scan, columns pruned, minimal exchanges/sorts, broadcast where intended."""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def summarize(name: str, df, notes: str, forbid: tuple[str, ...] = ()) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    for node in forbid:
        assert node not in plan, f"{name}: forbidden node {node} in plan:\n{plan}"
    scans = [
        re.sub(r"Location: \S+", "", line.strip())[:200]
        for line in plan.splitlines()
        if "FileScan" in line
    ]
    counts = {
        "exchanges": plan.count("Exchange"),
        "sorts": len(re.findall(r"\bSort \[", plan)),
        "window_execs": len(re.findall(r"\bWindow \[", plan)),
        "broadcast_joins": plan.count("BroadcastHashJoin"),
        "sortmerge_joins": plan.count("SortMergeJoin"),
        "python_stages": plan.count("FlatMapGroupsInPandas") + plan.count("MapInPandas"),
    }
    lines = [f"## {name}", "", notes, ""]
    lines.append("| metric | value |")
    lines.append("|---|---|")
    for k, v in counts.items():
        lines.append(f"| {k} | {v} |")
    lines.append("")
    for s in scans:
        lines.append(f"- scan: `{s}`")
    lines.append("")
    return "\n".join(lines)


def main() -> None:
    from pyspark.sql import functions as F

    from feature_extractor_mbo_lob_spark import get_spark
    from feature_extractor_mbo_lob_spark.operators import asof, dedup
    from feature_extractor_mbo_lob_spark.plans import build_features, flagship_pipeline
    from feature_extractor_mbo_lob_spark.plans.driver_queries import CFG
    from feature_extractor_mbo_lob_spark.plans.vectorized import vectorized_flagship
    from feature_extractor_mbo_lob_spark.sources import synth_transcripts

    spark = get_spark(app_name="plan-audit", master="local[2]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    t = synth_transcripts(spark, n_convs=50, seed=42)
    t.write.mode("overwrite").parquet("/tmp/plan_audit_input.parquet")
    t = spark.read.parquet("/tmp/plan_audit_input.parquet")

    sections = ["# PLANS — physical-plan audit (tools/audit_plans.py)", ""]

    sections.append(summarize(
        "flagship declarative (fused)",
        flagship_pipeline(t, CFG, price_col="char_len"),
        "Full contract feature frame + TLOB labels. Target shape: ONE "
        "exchange + ONE sort feeding the whole window cascade (every window "
        "shares partitionBy(conv_id).orderBy(turn_idx, ts)); order stats "
        "ride a bucketed Arrow/pandas stage.",
    ))

    sections.append(summarize(
        "flagship vectorized (single-pass kernel)",
        vectorized_flagship(t, CFG, price_col="char_len"),
        "The fused-loop twin: ONE exchange to conversation buckets, one "
        "python stage, nothing else.",
    ))

    from feature_extractor_mbo_lob_spark.plans.pipeline import flagship_skewed

    sections.append(summarize(
        "flagship skewed (chunked carry-in, auto-routed for mega-conversations)",
        flagship_skewed(t, CFG, price_col="char_len", chunk_turns=500),
        "The skew path the default entrypoints route to when any "
        "conversation exceeds cfg.skew_max_turns_per_task: chunk-keyed "
        "window cascade + tiny carry table broadcast back + labels computed "
        "inside the same cascade via forward-context rows. Target: the "
        "big-table exchanges stay O(1) (chunk repartition + the rolling "
        "stage); the carry join is broadcast, never a shuffle of the table.",
        forbid=("CartesianProduct",),
    ))

    sections.append(summarize(
        "pushdown + pruning probe",
        build_features(t, CFG)
        .filter(F.col("conv_id") == "c42")
        .select("conv_id", "turn_idx", "char_mean_w8"),
        "The default build_features (the declarative specification; the "
        "shipped job builds its frame with plans.vectorized.job_features, "
        "next section). The bucketed "
        "order-stats Arrow stage (FlatMapGroupsInPandas) is a barrier: the "
        "key filter stays above it (only the null checks of clean_input "
        "reach the scan's DataFilters), and the scan reads every column, "
        "`tool` included, because the stage returns its whole input row.",
    ))

    from feature_extractor_mbo_lob_spark.plans.vectorized import job_features

    sections.append(summarize(
        "shipped job frame on resume (bucket skip below the kernel shuffle)",
        job_features(t, CFG, 16, skip_buckets={0, 3, 5})[0],
        "jobs/run_pipeline.py --resume with 3 of 16 export buckets valid. "
        "The bucket filter reaches the scan's DataFilters, below the ONE "
        "exchange that feeds the ONE python stage; no window runs.",
        forbid=("Window [",),
    ))

    labels = t.filter(F.col("role") == "tool").select(
        "conv_id", "ts", F.length("text").cast("double").alias("v")
    )
    sections.append(summarize(
        "as-of join (union-tag form)",
        asof.asof_join(t.select("conv_id", "turn_idx", "ts"), labels,
                       key="conv_id", ts="ts", value_cols=["v"]),
        "Single shuffle on the key; the as-of resolution is a window over "
        "the unioned stream — no per-row probe structure, no range "
        "explosion.",
    ))

    sections.append(summarize(
        "as-of join, range-bucketed (skewed-key form)",
        asof.asof_join_bucketed(t.select("conv_id", "turn_idx", "ts"), labels,
                                key="conv_id", ts="ts", value_cols=["v"],
                                bucket_span_s=3600.0),
        "The big-table shuffle key is (key, time-bucket) — bounded tasks "
        "for a mega-key timeline. The carry table (one row per (key, "
        "bucket)) is built from map-side-combined aggregates and joined "
        "back BROADCAST; no window ever partitions by the bare key.",
        forbid=("CartesianProduct",),
    ))

    docs = t.select(F.col("turn_idx").cast("long").alias("doc_id"), "text").limit(200)
    sections.append(summarize(
        "minhash LSH candidate pairs",
        dedup.minhash_lsh_pairs(docs, k=3, num_hashes=8, bands=4),
        "Shuffles are O(total shingles) + O(band keys); pairs only form via "
        "the band-key equi join (never a cross join).",
        forbid=("CartesianProduct",),
    ))

    from feature_extractor_mbo_lob_spark.operators import similarity

    emb = t.select(
        F.col("turn_idx").cast("long").alias("vec_id"),
        F.array(*[
            F.pmod(F.xxhash64("conv_id", F.lit(i)), F.lit(97)).cast("double")
            for i in range(8)
        ]).alias("embedding"),
    ).limit(500)
    emb.write.mode("overwrite").parquet("/tmp/plan_audit_emb.parquet")
    emb = spark.read.parquet("/tmp/plan_audit_emb.parquet")
    sections.append(summarize(
        "embedding near-dup (exact, broadcast-GEMM path)",
        similarity.near_dup_pairs(emb, threshold=0.35),
        "The corpus rides a broadcast variable into mapInPandas GEMM blocks "
        "— the executed plan has NO join node at all, never a "
        "CartesianProduct.",
        forbid=("CartesianProduct",),
    ))
    sections.append(summarize(
        "embedding near-dup (IVF-bucketed scale path)",
        similarity.ivf_near_dup(emb, threshold=0.35, n_centroids=4),
        "Candidates come from the centroid_id equi-group; the only "
        "broadcast is the tiny centroid table (BroadcastNestedLoopJoin over "
        "K rows); per-cluster GEMM in applyInPandas.",
        forbid=("CartesianProduct",),
    ))
    sections.append(summarize(
        "IVF top-k, skewed-cluster sub-sharding",
        similarity.ivf_topk(emb, k=3, n_centroids=4, max_cluster_rows=50),
        "A hot centroid's cluster is split into query sub-shards with "
        "replicated neighbors (explode over sequence(0, nsub-1)); each "
        "applyInPandas task computes a bounded query slice against the full "
        "cluster — exact results, no unsplittable straggler. Cluster sizes "
        "come from a broadcast aggregate, never a window.",
        forbid=("CartesianProduct",),
    ))
    sections.append(summarize(
        "simhash + hamming-LSH candidates",
        dedup.simhash_candidates(dedup.simhash(docs, k=2)),
        "33 aggregates (count + 32 packed 32-bit-lane nibble counters) build "
        "the fingerprint; candidates via chunk-key equi join.",
        forbid=("CartesianProduct",),
    ))

    from feature_extractor_mbo_lob_spark.functions import corpus, repetition as rep

    sections.append(summarize(
        "repetition metrics (Gopher signals)",
        rep.repetition_metrics(docs),
        "2-gram path is explode -> (id, gram) partial-agg -> per-doc agg: "
        "two keyed exchanges, shuffle volume O(distinct grams). The "
        "zip_with n-gram builder evaluates the words array once per row "
        "(no per-element regex recapture).",
        forbid=("CartesianProduct",),
    ))

    sections.append(summarize(
        "sample packing (concat-and-chunk)",
        corpus.pack_token_stream(docs, budget=128, n_shards=4),
        "ONE exchange on the shard key + one per-shard window — no global "
        "sort; shards pack independently so parallelism scales with the "
        "cluster, not the corpus.",
        forbid=("CartesianProduct",),
    ))

    ev = docs.filter(F.col("doc_id") % 10 == 0)
    sections.append(summarize(
        "decontamination (broadcast eval shingles)",
        corpus.contamination_overlap(docs.filter(F.col("doc_id") % 10 != 0), ev),
        "The eval shingle set rides a broadcast; the train corpus is "
        "exploded and aggregated by doc only — its text is never shuffled "
        "whole.",
        forbid=("CartesianProduct",),
    ))

    vocab_plan = corpus.vocab_topk(docs, k=50)
    plan_str = vocab_plan._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan_str, "vocab top-k must be TakeOrdered, not a global window"
    sections.append(summarize(
        "vocabulary top-k",
        vocab_plan,
        "Word counts via partial-agg shuffle of O(|vocab|); the top-k is a "
        "TakeOrderedAndProject (per-partition heaps, k-row driver merge) — "
        "asserted in the plan; the rank window runs over k rows only.",
        forbid=("CartesianProduct",),
    ))

    sections.append(summarize(
        "TF-IDF top terms",
        corpus.tf_idf_top_terms(docs, k=3),
        "Document-frequency and corpus-size sides are broadcast; the only "
        "big exchanges are the (id, word) partial aggregations and the "
        "per-doc ranking window.",
        forbid=("CartesianProduct",),
    ))

    from feature_extractor_mbo_lob_spark.plans.driver_queries import (
        q_shipping_priority,
    )

    q3 = q_shipping_priority(spark, "/root/testdata/sf0.001")
    q3_plan = q3._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in q3_plan and "IsNotNull" in q3_plan, "Q3 scan must push filters"
    sections.append(summarize(
        "TPC-H Q3 multi-way join",
        q3,
        "customer/orders/lineitem filters reach the parquet scans "
        "(PushedFilters asserted); fixed dims broadcast, scaling tables "
        "AQE-decided; top-10 is TakeOrderedAndProject over the partial-"
        "aggregated revenue.",
        forbid=("CartesianProduct",),
    ))

    from feature_extractor_mbo_lob_spark.operators import rolling as rl

    tw = rl.with_time_windows(t, CFG, horizons_s=(3600, 86400))
    tw_plan = tw._jdf.queryExecution().executedPlan().toString()
    assert tw_plan.count("Exchange") <= 1, "time windows must reuse one hash(conv_id) exchange"
    sections.append(summarize(
        "Trailing wall-clock windows (rangeBetween)",
        tw,
        "Both horizons share the single hash(conv_id) exchange and one sort "
        "on unix_micros(ts) (asserted <=1 exchange); WindowExec advances "
        "range bounds monotonically, so cost is O(n) per aggregate and "
        "independent of the horizon width.",
        forbid=("CartesianProduct",),
    ))

    lined = t.select(
        F.col("conv_id").alias("doc_id"),
        F.regexp_replace("text", " ", "\n").alias("text"),
    )
    sections.append(summarize(
        "Line-level dedup (C4-style)",
        dedup.dedup_lines(lined),
        "Explode to (doc, line_no, line); document-frequency aggregates on "
        "16-byte md5 keys; the dup-key join back is AQE-sized (tiny dup set "
        "broadcasts at runtime); reassembly is one groupBy(doc) with an "
        "order-insensitive array_sort(collect_list).",
        forbid=("CartesianProduct",),
    ))

    near = asof.asof_join(
        t.select("conv_id", "turn_idx", "ts"),
        t.select("conv_id", "ts", F.length("text").alias("v")),
        key="conv_id", ts="ts", value_cols=["v"], direction="nearest",
    )
    near_plan = near._jdf.queryExecution().executedPlan().toString()
    assert near_plan.count("Window [") <= 2, "nearest must fuse frames into shared Window execs"
    sections.append(summarize(
        "Nearest as-of join",
        near,
        "Backward and forward candidate frames run over ONE sorted "
        "partition — all window expressions fuse into a single Window exec "
        "over the union (asserted), so 'nearest' costs the same single "
        "shuffle as 'backward'.",
        forbid=("CartesianProduct",),
    ))

    corr = rl.with_rolling_corr(
        t, CFG, x=F.length("text"), y=F.col("turn_idx"), window=32
    )
    sections.append(summarize(
        "Rolling correlation (integer frame sums)",
        corr,
        "Five bigint frame sums share the stable window spec (one exchange, "
        "one sort); the float work is a single closed-form projection.",
        forbid=("CartesianProduct",),
    ))

    from feature_extractor_mbo_lob_spark.operators import state as st

    stk = st.with_streaks(t, CFG, col="role")
    sections.append(summarize(
        "Streak features (gaps and islands)",
        stk,
        "Two window partitionings ((conv) and (conv, value)) plus the "
        "run-position window — the only extra cost over the stable cascade "
        "is the (conv, value) exchange; no UDF.",
        forbid=("CartesianProduct",),
    ))

    cw = __import__(
        "feature_extractor_mbo_lob_spark.operators.sequence", fromlist=["context_window"]
    ).context_window(t, CFG, token_budget=64)
    cw_plan = cw._jdf.queryExecution().executedPlan().toString()
    assert cw_plan.count("Exchange") <= 1, "context window must stay on one exchange"
    sections.append(summarize(
        "Token-budgeted context window",
        cw,
        "Reverse cumulative token sum under the stable order — asserted "
        "single exchange; truncate-left selection with no UDF.",
        forbid=("CartesianProduct",),
    ))

    # --- round-3 LLM-pipeline additions -----------------------------------
    from feature_extractor_mbo_lob_spark.functions import web

    urls = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("https://www.site"), (F.col("id") % 37).cast("string"),
            F.lit(".example.com/p/"), (F.col("id") % 211).cast("string"),
            F.lit("?utm_source=x&b=2&a=1"),
        ).alias("url"),
    )
    ud = web.url_dedup(urls)
    sections.append(summarize(
        "URL canonicalization + dedup",
        ud,
        "Canonicalization is a zero-shuffle JVM expression fused into the "
        "scan; the dedup is ONE keyed aggregation + an AQE-decided join "
        "back on the canonical key (slim digest columns only). No UDF, no "
        "cartesian.",
        forbid=("CartesianProduct", "BatchEvalPython"),
    ))

    dg = dedup.dup_ngram_stats(
        t.select(F.col("conv_id").alias("doc_id"), "text"), n=3
    )
    sections.append(summarize(
        "Duplicate n-gram spans (ExactSubstr)",
        dg,
        "Positional 3-grams md5-hashed BEFORE the explode: the corpus-count "
        "shuffle and the count-back join carry 32-byte digests, never text. "
        "groupBy(gram) is partial-aggregable; the back-join is AQE-decided "
        "(skewed boilerplate grams ride AQE skew-join at scale).",
        forbid=("CartesianProduct", "BatchEvalPython"),
    ))

    # --- partition pruning probe -------------------------------------------
    part = t.withColumn("dt", (F.col("turn_idx") % 5).cast("string"))
    part.write.mode("overwrite").partitionBy("dt").parquet("/tmp/plan_audit_part.parquet")
    pruned = spark.read.parquet("/tmp/plan_audit_part.parquet").filter(F.col("dt") == "3")
    pruned_plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in pruned_plan and "dt" in pruned_plan, pruned_plan
    # the dt filter must be a partition filter, not a post-scan data filter
    pf_line = next(l for l in pruned_plan.splitlines() if "PartitionFilters" in l)
    assert "3" in pf_line, f"dt=3 not pushed into PartitionFilters: {pf_line}"
    sections.append(summarize(
        "Partition-pruned scan (hive-style dt partitions)",
        pruned,
        "Equality filter on the partition column lands in PartitionFilters "
        "(asserted) — at 100 TB a date/hour-partitioned layout makes "
        "time-sliced reads O(slice), not O(corpus). Directory listing cost "
        "is metastore-bound, not data-bound.",
        forbid=("CartesianProduct",),
    ))

    inc = dedup.dedup_against(
        t.filter(F.col("conv_id").substr(-1, 1) == "1").select(
            F.col("conv_id").alias("doc_id"), "text"
        ),
        t.filter(F.col("conv_id").substr(-1, 1) != "1").select(
            F.col("conv_id").alias("doc_id"), "text"
        ),
        num_hashes=8,
    )
    sections.append(summarize(
        "Incremental dedup (new batch vs reference corpus)",
        inc,
        "Both probes are left-semi equi joins on digests (md5 fingerprint, "
        "MinHash band keys) — the reference corpus contributes only its "
        "digest sets, never re-shuffled text; semi joins short-circuit at "
        "first match. No cartesian, no UDF.",
        forbid=("CartesianProduct", "BatchEvalPython"),
    ))

    from feature_extractor_mbo_lob_spark import validation as val
    from feature_extractor_mbo_lob_spark.functions import sketch

    sections.append(summarize(
        "Key-skew report",
        val.key_skew_report(t, "conv_id", top_k=10),
        "One partial-aggregable count shuffle + TakeOrderedAndProject "
        "top-k; the rank window runs over 10 rows. The per-key count table "
        "never globally sorts.",
        forbid=("CartesianProduct",),
    ))

    cms = sketch.count_min_sketch(
        t.select(F.col("text").alias("key")), "key", depth=4, width=256
    )
    sections.append(summarize(
        "Count-min sketch build",
        cms,
        "Per-row d-way cell scatter (narrow explode) then one groupBy over "
        "at most d*w cell keys — after map-side combine each task emits "
        "<= 1024 rows, so the shuffle is sketch-sized regardless of input "
        "rows or key cardinality.",
        forbid=("CartesianProduct", "BatchEvalPython"),
    ))

    # --- physical layout: z-order + bucketed co-located join ---------------
    from feature_extractor_mbo_lob_spark.operators import layout
    from feature_extractor_mbo_lob_spark.operators.ordering import epoch_us

    zv = layout.with_zvalue(
        t.select("conv_id", "turn_idx", epoch_us("ts").alias("ts_us")),
        ["turn_idx", "ts_us"],
    )
    sections.append(summarize(
        "Z-order Morton code",
        zv,
        "One O(1)-row min/max aggregate broadcast-joined back, then a pure "
        "codegen shift/or interleave — no shuffle of the data itself until "
        "the writer's single repartitionByRange on the code.",
        forbid=("CartesianProduct", "BatchEvalPython", "SortMergeJoin"),
    ))

    lb = t.select(F.col("conv_id").alias("k"), "turn_idx")
    rb = t.select(F.col("conv_id").alias("k"), "role")
    layout.bucketed_write(lb, "audit_bkt_l", "/tmp/plan_audit_bkt_l", ["k"], 8)
    layout.bucketed_write(rb, "audit_bkt_r", "/tmp/plan_audit_bkt_r", ["k"], 8)
    cj = layout.colocated_join(spark, "audit_bkt_l", "audit_bkt_r", ["k"])
    cj_plan = cj._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in cj_plan, cj_plan
    sections.append(summarize(
        "Bucketed co-located join (zero Exchange)",
        cj,
        "Both sides bucketed+sorted on the key at write time: the "
        "SortMergeJoin reads matching bucket files directly — ZERO "
        "Exchange in the plan (asserted). The shuffle a 100-TB "
        "fact-to-fact join normally pays is amortized into one write.",
        forbid=("CartesianProduct", "Exchange"),
    ))
    spark.sql("DROP TABLE IF EXISTS audit_bkt_l")
    spark.sql("DROP TABLE IF EXISTS audit_bkt_r")

    from feature_extractor_mbo_lob_spark.operators.sequence import funnel as fnl

    fq = fnl(
        t, CFG,
        steps=[F.col("role") == "user", F.col("role") == "assistant",
               F.col("role") == "tool"],
        max_gap=6,
    )
    sections.append(summarize(
        "Ordered-step funnel (3 steps)",
        fq,
        "All per-step min-case windows share ONE unordered conv partition: "
        "one exchange + one partition-key clustering sort regardless of "
        "step count; the step dependency is expression-level.",
        forbid=("CartesianProduct", "BatchEvalPython"),
    ))

    from pyspark.sql import Window

    from feature_extractor_mbo_lob_spark.operators.asof import scd2_enrich as s2

    dimv = (
        t.groupBy("conv_id", F.date_trunc("day", "ts").alias("valid_from"))
        .agg(F.count(F.lit(1)).alias("day_turns"))
        .withColumn(
            "valid_to",
            F.lead("valid_from").over(
                Window.partitionBy("conv_id").orderBy("valid_from")
            ),
        )
    )
    sections.append(summarize(
        "SCD2 point-in-time enrichment",
        s2(t.select("conv_id", "turn_idx", "ts"), dimv, key="conv_id"),
        "Interval-containment semantics planned as an as-of MERGE (union-tag "
        "window), never a ts-range theta join: the fact table shuffles once "
        "on the key; no BroadcastNestedLoopJoin/CartesianProduct possible.",
        forbid=("CartesianProduct", "BroadcastNestedLoop"),
    ))

    from feature_extractor_mbo_lob_spark.operators.skew import salted_join as sj

    dim_small = t.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n"))
    sections.append(summarize(
        "Salted skew-safe join",
        sj(t.select("conv_id", "turn_idx"), dim_small, "conv_id", "turn_idx", 4),
        "The hot key's rows land in 4 shuffle partitions instead of 1; the "
        "small side is exploded x4 before its (broadcast or shuffled) side "
        "of the join. Deterministic xxhash salt — results equal the plain "
        "join (oracle-checked).",
        forbid=("CartesianProduct",),
    ))

    docs_t = t.select(F.col("conv_id").alias("doc_id"), "text").limit(300)
    sections.append(summarize(
        "Winnowing fingerprints (exploded + windowed min)",
        dedup.winnow_fingerprints(docs_t, k=3, w=4),
        "posexplode + md5 stay in whole-stage codegen; ONE doc-keyed window "
        "computes every w-window minimum. Chosen over the pure array-HOF "
        "fold after measurement (4.4x at sf0.1 — zip_with/transform lambdas "
        "are interpreted).",
        forbid=("CartesianProduct", "BatchEvalPython"),
    ))

    from feature_extractor_mbo_lob_spark.functions.text import cdc_chunk_documents

    sections.append(summarize(
        "Content-defined chunking",
        cdc_chunk_documents(docs_t, divisor=8),
        "Boundary flags are codegen expressions over exploded words; one "
        "doc-keyed window (running boundary count) + one groupBy "
        "reassembly emitting digests, not text.",
        forbid=("CartesianProduct", "BatchEvalPython"),
    ))

    from feature_extractor_mbo_lob_spark.operators import interval as ivops

    sess = ivops.session_intervals(t, gap_us=600_000_000, pad_us=600_000_000)
    ivs = sess.select(
        F.col("conv_id").alias("i_conv"), "session_id", "start_us", "end_us"
    )
    pts = t.select(
        F.col("conv_id").alias("p_conv"), "turn_idx",
        F.unix_micros("ts").alias("eus"),
    )
    sections.append(summarize(
        "Bucket-grid point-in-interval join",
        ivops.point_in_interval_join(
            pts, ivs, point_col="eus", bucket_width=900_000_000
        ),
        "The inequality join OSS Spark would plan as BroadcastNestedLoopJoin "
        "becomes a plain shuffled equi-join on the grid bucket (intervals "
        "exploded to the buckets they span, points hashed to exactly one); "
        "the exact predicate re-filters after the join, so results equal the "
        "naive form (oracle-checked) at O(points + intervals*span/bucket).",
        forbid=("CartesianProduct", "BroadcastNestedLoop"),
    ))
    left_iv = sess.select(
        F.col("conv_id").alias("l_conv"),
        F.col("session_id").alias("l_sid"),
        F.col("start_us").alias("l_start_us"),
        F.col("end_us").alias("l_end_us"),
    )
    right_iv = sess.select(
        F.col("start_us").alias("r_start_us"), F.col("end_us").alias("r_end_us")
    )
    sections.append(summarize(
        "Bucket-grid interval-overlap join",
        ivops.interval_overlap_join(left_iv, right_iv, bucket_width=900_000_000),
        "Both interval sets exploded onto the grid; each truly-overlapping "
        "pair is emitted exactly once by the owner-bucket rule "
        "(greatest(floor(l_start/b), floor(r_start/b)) — provably inside "
        "both explosion ranges), so there is NO distinct/dedup shuffle "
        "after the equi-join.",
        forbid=("CartesianProduct", "BroadcastNestedLoop"),
    ))

    spine = t.filter(F.col("role") == "assistant").select("conv_id", "turn_idx", "ts")
    f1 = (
        t.filter(F.col("role") == "tool")
        .groupBy("conv_id", "ts")
        .agg(F.max(F.char_length("text")).cast("long").alias("f_tool"))
    )
    f2 = (
        t.filter(F.col("role") == "user")
        .groupBy("conv_id", "ts")
        .agg(F.max(F.char_length("text")).cast("long").alias("f_user"))
    )
    sections.append(summarize(
        "Feature-store PIT training-set assembly (2 timelines + TTLs)",
        asof.pit_training_set(spine, [(f1, 3600.0), (f2, 900.0)]),
        "K=2 independent union-tag as-of merges: one exchange + one sort per "
        "timeline on the same conv_id key, never a theta/range join — the "
        "Feast get_historical_features shape that stays merge-shaped at "
        "10^12 anchors. TTL gating is expression-level over the same sorted "
        "partition (no extra exchange).",
        forbid=("CartesianProduct", "BroadcastNestedLoop", "BatchEvalPython"),
    ))

    from feature_extractor_mbo_lob_spark.operators import density

    sections.append(summarize(
        "DBSCAN over banded-LSH candidate graph",
        density.dbscan_embeddings(emb, dim=8),
        "Candidates from the (band, bucket) equi-join — NEVER all-pairs "
        "(asserted); the exact integer eps predicate runs on candidates "
        "only; degrees/core/CC/border are id-keyed equi-joins + the "
        "pointer-doubling CC rounds.",
        forbid=("CartesianProduct", "BroadcastNestedLoop", "BatchEvalPython"),
    ))

    from feature_extractor_mbo_lob_spark.operators import survival as surv

    km = surv.km_risk_table(surv.episode_durations(t, CFG, granularity_s=60))
    sections.append(summarize(
        "Kaplan-Meier risk table (censored episode durations)",
        km,
        "Episode pairing rides the lifecycle rank windows (per conv,tool); "
        "durations collapse via ONE groupBy to <= max-distinct-bucket rows, "
        "and the n_risk reverse cumsum windows over that tiny aggregate — "
        "the only unpartitioned stage never sees row-level data.",
        forbid=("CartesianProduct", "BroadcastNestedLoop", "BatchEvalPython"),
    ))

    from feature_extractor_mbo_lob_spark.functions import corpus as cp
    from feature_extractor_mbo_lob_spark.operators import forks

    tv = t.withColumn("value", F.char_length("text").cast("double"))
    sections.append(summarize(
        "Prefix-fork groups (rollout dedup, depth<=4)",
        forks.fork_groups(t, CFG, max_depth=4),
        "Per-turn md5 digests ride the ONE conv-keyed window sort every "
        "per-conversation operator shares; the cumulative prefix digest is "
        "a frame-ordered collect_list fold (depth-capped, so the frame is "
        "<= 4 x 32 bytes); the fork group-by shuffles (int, digest) pairs "
        "only — text never leaves the scan stage.",
        forbid=("CartesianProduct", "BroadcastNestedLoop", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    sections.append(summarize(
        "DPO preference pairs from forked rollouts (depth=1)",
        forks.dpo_pairs(tv, CFG, depth=1),
        "Exact integer-cents continuation scores via one grouped aggregate; "
        "rank-within-fork is a window over (digest, conv, score) triples and "
        "the chosen row reaches its siblings via first_value over the SAME "
        "ordered window — no self-join (k-1 rows per k-way fork, never "
        "k^2). All JVM: zero python stages.",
        forbid=("CartesianProduct", "BroadcastNestedLoop", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    sections.append(summarize(
        "SFT pair extraction (point-in-time context stats)",
        cp.sft_pairs(t),
        "Cumulative windows ending at the PREVIOUS row (unboundedPreceding, "
        "-1) on the shared conv-keyed sort — leakage-safe by frame "
        "construction; output shuffles pair ids + counters, no text.",
        forbid=("CartesianProduct", "BroadcastNestedLoop", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    from feature_extractor_mbo_lob_spark.operators import dedup as dd
    from feature_extractor_mbo_lob_spark.operators import state as st

    sections.append(summarize(
        "Agent-loop detection (period-k digest replays, k=1..3)",
        st.loop_stats(t, CFG, max_period=3),
        "One conv-keyed sort shared by all lag/run windows; comparisons on "
        "32-char digests (text never re-read after the projection); "
        "run lengths via gaps-and-islands; one grouped aggregate.",
        forbid=("CartesianProduct", "BroadcastNestedLoop", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    sections.append(summarize(
        "Canned-response templates (cross-conversation)",
        dd.canned_responses(t, min_uses=3),
        "Role filter at the scan; ONE grouped aggregate keyed by the "
        "normalized-text md5 — shuffles digests + counters only.",
        forbid=("CartesianProduct", "BroadcastNestedLoop", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    from feature_extractor_mbo_lob_spark.operators import lifecycle as lc

    tv2 = t.withColumn("value", F.char_length("text").cast("double"))
    sections.append(summarize(
        "Tool value attribution (first/last/linear touch)",
        lc.tool_attribution(tv2, CFG),
        "ONE ascending window sort (is_last = rk == max(rk) over the key "
        "partition — no second descending sort); exact integer cents; "
        "linear split by integer div; joins are key-equi on conv_id.",
        forbid=("CartesianProduct", "BroadcastNestedLoop", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sections.append(summarize(
        "PPJoin exact similarity join (lossless prefix filter)",
        dd.ppjoin_pairs(docs, threshold_pct=80),
        "Candidate generation is a prefix-token equi self-join (postings "
        "on RARE tokens — the frequency-tuple order needs no global rank "
        "window); the verify joins candidate ids back to distinct-token "
        "arrays. No all-pairs node anywhere; zero Python stages.",
        forbid=("CartesianProduct", "BroadcastNestedLoop", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    from feature_extractor_mbo_lob_spark.normalization import quantile_normalize

    sections.append(summarize(
        "Cross-source quantile normalization",
        quantile_normalize(docs, "n_chars"),
        "Rank arithmetic per source (one partitioned window); the only "
        "global sort is over DISTINCT values (feature-cardinality-bounded); "
        "pooled order statistics resolve via a BROADCAST range join — the "
        "BroadcastNestedLoop below is that intended broadcast range "
        "lookup against the tiny distinct-value table, never a data-sized "
        "cartesian.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    from feature_extractor_mbo_lob_spark.operators import rolling as rl

    sections.append(summarize(
        "Trailing percentile rank (PIT rank features, w=8/32/128)",
        rl.with_trailing_rank(t, CFG),
        "All three window sizes share ONE conv-keyed sort; ranks are JVM "
        "higher-order filter/size over collect_list frames plus integer "
        "div — zero Python stages, zero joins.",
        forbid=("CartesianProduct", "BroadcastNestedLoop", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    sections.append(summarize(
        "CUSUM changepoint locator",
        st.conv_changepoint(t, CFG),
        "One window cascade (cumsum + totals share the conv partition "
        "spec) and one struct-argmax grouped aggregate — two exchanges "
        "total, all integers.",
        forbid=("CartesianProduct", "BroadcastNestedLoop", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    from feature_extractor_mbo_lob_spark.functions.stats import (
        mann_whitney_u, stratified_ab_audit,
    )
    from feature_extractor_mbo_lob_spark.functions.text import rake_keywords

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    sections.append(summarize(
        "Mann-Whitney U (distinct-value rank arithmetic)",
        mann_whitney_u(ev, "user_id"),
        "groupBy(user) -> groupBy(DISTINCT metric value) -> a window over "
        "the distinct-value frame only (metric-cardinality-bounded, never "
        "the corpus) -> 1-row aggregate. Doubled midranks keep ties in "
        "exact int64; zero Python stages.",
        forbid=("CartesianProduct", "BroadcastNestedLoop", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    sections.append(summarize(
        "Stratified A/B audit (CMH cells + Simpson detector)",
        stratified_ab_audit(
            ev.withColumn("wk", F.expr("(dayofmonth(ts) - 1) div 7")),
            "user_id", "wk",
            (F.col("event_type") == "purchase") & (F.col("value") > 150.0),
        ),
        "Two keyed aggregations (stratum,unit) -> (stratum), then a "
        "BROADCAST cross join of the single overall-sign row. Direction "
        "via int64 cross-product signs — no division anywhere.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    sections.append(summarize(
        "RAKE keyword extraction (integer-ppm scores)",
        rake_keywords(docs, top_k=20),
        "Tokenize -> per-(doc,phrase) window count -> word-keyed freq/deg "
        "aggregation (map-side combinable) -> phrase aggregation -> "
        "bounded top-k (TakeOrderedAndProject). Shuffles keyed on words/"
        "phrases (bounded vocabulary); zero Python stages.",
        forbid=("CartesianProduct", "BroadcastNestedLoop", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    from feature_extractor_mbo_lob_spark.functions.graph import (
        hits_int, word_transition_edges,
    )
    from feature_extractor_mbo_lob_spark.functions.privacy import (
        randomized_response,
    )
    from feature_extractor_mbo_lob_spark.functions.stats import spearman_rho
    from feature_extractor_mbo_lob_spark.functions.text import code_features
    from feature_extractor_mbo_lob_spark.operators.dedup import (
        bleu_components, minhash_lsh_pairs,
    )

    sections.append(summarize(
        "Code-vs-prose detection gate",
        code_features(docs),
        "ONE narrow projection — line/keyword/symbol statistics are all "
        "JVM lambda/regex built-ins over the split arrays; zero exchanges, "
        "zero Python stages. The cheapest possible shape: scan -> project.",
        forbid=("Exchange", "CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    lsh_pairs = minhash_lsh_pairs(docs, k=3, num_hashes=16, bands=4) \
        .select("id_a", "id_b")
    sections.append(summarize(
        "BLEU pair statistics (clipped modified precision)",
        bleu_components(lsh_pairs, docs),
        "Gram counts built ONLY for ids in the pair set (leftsemi prune), "
        "one groupBy on (id, n, gram); the match join fans each pair out "
        "by its shared grams — bounded by LSH candidates, never corpus^2. "
        "All int64, zero Python stages.",
        forbid=("CartesianProduct", "BroadcastNestedLoop", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    conv = t.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        F.sum(F.coalesce(F.length("text"), F.lit(0))).cast("long").alias("chars"),
    )
    sections.append(summarize(
        "Spearman rho (exact tie-averaged ranks)",
        spearman_rho(conv, "n_turns", "chars"),
        "Ranks run on the CONVERSATION-level aggregate (corpus >> convs); "
        "doubled midranks keep ties integer, final quotient in "
        "decimal(38,0). Ungrouped rank is single-task by nature — group "
        "or pre-quantize for corpus-sized frames (docstring rule).",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    edges = word_transition_edges(docs, buckets=8)
    sections.append(summarize(
        "HITS hubs/authorities (bounded fast path, driver finish)",
        hits_int(edges, iterations=3),
        "The aggregated bucket graph is O(buckets^2) rows by construction, "
        "under graph.MAX_DRIVER_EDGES — it is collected once "
        "(guards.collect_at_most) and ALL iterations run on the driver in "
        "Python arbitrary-precision ints (the hugeint contract exactly). "
        "The result is a driver-built local relation: no stage, no Python "
        "worker, no per-iteration join/shuffle ladder.",
        forbid=("CartesianProduct", "BatchEvalPython", "Exchange",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    sections.append(summarize(
        "Randomized response (local-DP release)",
        randomized_response(
            ev.withColumn("bit", (F.col("value") > 100.0).cast("int")),
            "bit", id_col="user_id", group_col="event_type",
        ),
        "One partial-aggregable groupBy — the md5 coins and the report "
        "are per-row projections, map-side combine does all the work; "
        "per-unit reports never leave the aggregation.",
        forbid=("CartesianProduct", "BroadcastNestedLoop", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    from feature_extractor_mbo_lob_spark.functions.corpus import temperature_mix
    from feature_extractor_mbo_lob_spark.functions.stats import (
        diff_in_differences, krippendorff_alpha_binary,
    )
    from feature_extractor_mbo_lob_spark.functions.text import lexicon_hits
    from feature_extractor_mbo_lob_spark.operators.state import (
        merge_consecutive_turns,
    )
    from feature_extractor_mbo_lob_spark.validation import lateness_audit

    sections.append(summarize(
        "Dialog turn merge (consecutive same-role runs)",
        merge_consecutive_turns(t, CFG),
        "Gaps-and-islands key (two row_numbers over the canonical conv "
        "sort) + ONE groupBy carrying a sorted struct array; text "
        "assembly is JVM transform/array_join. Shuffles keyed on "
        "(conv, role, run) — conversation-bounded, zero Python stages.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    sections.append(summarize(
        "Lateness audit (watermark tuning)",
        lateness_audit(t, CFG),
        "One canonical conv-sort window (running event-time max) + a "
        "distinct-value rank pass bounded by DISTINCT lateness values — "
        "the percentile stage never touches the corpus. All int64.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    sections.append(summarize(
        "Difference-in-differences (md5 arms x cutover)",
        diff_in_differences(ev, "user_id"),
        "Two partial-aggregable shuffles: groupBy(user, period) then one "
        "4-cell conditional aggregate; means released as micro-cents by "
        "matched floor division — no float crosses engines.",
        forbid=("CartesianProduct", "BroadcastNestedLoop", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    sections.append(summarize(
        "Krippendorff alpha (binary reliability)",
        krippendorff_alpha_binary(
            ev.withColumn("bit", (F.col("value") > 100.0).cast("int")),
            "user_id", "bit",
        ),
        "groupBy(unit) -> one 1-row aggregate; the single per-unit floor "
        "division is quantized once, the final quotient runs in "
        "decimal(38,0) on nonnegative operands.",
        forbid=("CartesianProduct", "BroadcastNestedLoop", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    sections.append(summarize(
        "Safety lexicon gate",
        lexicon_hits(docs),
        "Shuffle-free: one narrow projection, category wordlists live in "
        "the plan as literals, word-boundary exact matching via JVM "
        "filter lambdas over the split array.",
        forbid=("Exchange", "CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    sections.append(summarize(
        "Temperature source mixing (isqrt weights)",
        temperature_mix(docs),
        "Two tiny aggregations + one broadcast 1-row total; isqrt is the "
        "one exponent with an engine-exact integer form (IEEE sqrt "
        "correctly rounded below 2^52).",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    from feature_extractor_mbo_lob_spark.functions.graph import link_prediction_scores
    from feature_extractor_mbo_lob_spark.functions.stats import (
        propensity_match,
        seasonal_decompose_int,
    )
    from feature_extractor_mbo_lob_spark.functions.corpus import priority_sample
    from feature_extractor_mbo_lob_spark import multimodal as mm
    from feature_extractor_mbo_lob_spark.operators import survival as surv2

    sections.append(summarize(
        "Nelson-Aalen cumulative hazard",
        surv2.nelson_aalen_table(
            surv2.km_risk_table(surv2.episode_durations(t, CFG, granularity_s=60))
        ),
        "Adds ZERO shuffles on top of km_risk_table: both fixed-point "
        "running sums ride one window over the already-collapsed risk "
        "table; increments widen to decimal(38,0) before the division.",
        forbid=("CartesianProduct", "BroadcastNestedLoop", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    sections.append(summarize(
        "Bipartite link prediction (common neighbors + RA)",
        link_prediction_scores(t, node_col="tool", ctx_col="conv_id"),
        "Dedup to (ctx, node), degree from the SAME relation, cap filter "
        "BEFORE the within-ctx pair expansion (fan-out <= cap^2 per ctx), "
        "then one pair-keyed aggregate. All shuffles are key-hashed; no "
        "pairwise cross join ever forms.",
        forbid=("CartesianProduct", "BroadcastNestedLoop", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    docs_w = t.select(
        F.col("turn_idx").cast("long").alias("doc_id"),
        F.col("conv_id").alias("source"),
        F.length("text").alias("n_chars"),
    )
    sections.append(summarize(
        "Weighted PPS priority sample",
        priority_sample(docs_w, k=5, weight_col="n_chars", id_col="doc_id",
                        group_col="source"),
        "Stateless md5 priorities computed in the scan projection; ONE "
        "window shuffle (partition by group) and nothing else.",
        forbid=("CartesianProduct", "BroadcastNestedLoop", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    hours = t.select(
        F.expr("unix_micros(cast(ts as timestamp)) div 3600000000").alias("hr")
    ).groupBy("hr").agg(F.count(F.lit(1)).alias("y"))
    sections.append(summarize(
        "Seasonal decomposition (integer 2x24 MA)",
        seasonal_decompose_int(hours, "hr", "y", period=24),
        "groupBy collapses to calendar-bounded hour rows FIRST; the "
        "densify + unpartitioned window run over that aggregate only "
        "(km_risk_table precedent), then a 24-row phase aggregate.",
        forbid=("CartesianProduct", "BroadcastNestedLoop", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    fp = mm.phash_fingerprints(mm.synth_media_real(spark, n=64))
    sections.append(summarize(
        "Perceptual-hash near-dup (banded Hamming join)",
        mm.phash_near_dup(fp),
        "Fingerprints are ONE Arrow stage over pruned (id, fmt, payload); "
        "the candidate join shuffles 16-bit band digests only, bucket-"
        "capped, and the Hamming verify is JVM bit_count — no python in "
        "the join, no cross join.",
        forbid=("CartesianProduct", "BroadcastNestedLoop", "BatchEvalPython"),
    ))

    units = t.groupBy("conv_id").agg(
        F.max(F.col("tool").isNotNull().cast("int")).alias("treated"),
        F.sum(F.length("text")).cast("long").alias("score"),
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        F.expr(
            "(unix_micros(cast(min(ts) as timestamp)) div 86400000000) % 7"
        ).alias("dow"),
    )
    sections.append(summarize(
        "Propensity matching (asof-nearest, stratified)",
        propensity_match(units, "conv_id", "score", "treated", "n_turns",
                         stratum_col="dow"),
        "Controls collapse per (stratum, score) first; the match is the "
        "union-tag asof plan — one per-stratum sort, NO pairwise score "
        "join, no python.",
        forbid=("CartesianProduct", "BroadcastNestedLoop", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    from feature_extractor_mbo_lob_spark.functions.graph import (
        kcore_peel,
        word_adjacency_edges,
    )
    from feature_extractor_mbo_lob_spark.functions.stats import (
        bradley_terry,
        cochran_armitage_trend,
    )
    from feature_extractor_mbo_lob_spark.functions.corpus import dsir_log_weights
    from feature_extractor_mbo_lob_spark.functions.evalmetrics import segmentation_pk

    dur = surv2.episode_durations(t, CFG, granularity_s=60).withColumn(
        "grp", (F.substring("tool", 2, 1).cast("int") % 2).cast("long")
    )
    sections.append(summarize(
        "Two-sample log-rank test",
        surv2.logrank_test(dur, "dur_s", "event", "grp"),
        "ONE groupBy collapses all episodes to distinct-duration rows "
        "(conditional sums fold both groups in the same pass); one window "
        "over that tiny aggregate + a 1-row moment aggregate. Fixed-point "
        "O/E/V in decimal(38,0); no join, no python.",
        forbid=("CartesianProduct", "BroadcastNestedLoop", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    bt_pairs = t.filter(F.col("tool").isNotNull()).groupBy("conv_id").agg(
        F.min("tool").alias("winner"), F.max("tool").alias("loser"),
        F.count(F.lit(1)).cast("long").alias("w"),
    ).filter(F.col("winner") != F.col("loser"))
    sections.append(summarize(
        "Bradley-Terry MM fit (bounded fast path, driver finish)",
        bradley_terry(bt_pairs),
        "Input is the AGGREGATED O(players^2) win table; within "
        "stats.MAX_BT_PAIRS it is collected once (guards.collect_at_most) and "
        "ALL MM iterations run on the driver in Python arbitrary-precision "
        "ints (the hugeint contract). The result is a driver-built local "
        "relation, the same shape as the HITS fast path.",
        forbid=("CartesianProduct", "BatchEvalPython", "Exchange",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    docs_ds = docs.withColumn("is_target", (F.col("doc_id") % 2 == 0).cast("int"))
    sections.append(summarize(
        "DSIR importance log-weights",
        dsir_log_weights(docs_ds, "is_target"),
        "Words explode once; ONE groupBy(word) builds BOTH smoothed "
        "models via conditional sums; the (doc, word) frame joins the "
        "vocab table and collapses per doc. The 4-number totals ride a "
        "broadcast (the intended 1-row BroadcastNestedLoop, same shape "
        "as unigram_logprob).",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    sections.append(summarize(
        "k-core peel (3 fixed rounds, driver finish)",
        kcore_peel(word_adjacency_edges(docs, min_count=2), k=3, rounds=3),
        "The pruned word-adjacency edge list is collected once "
        "(graph._collect_edges, cap graph.MAX_DRIVER_EDGES) and the fixed "
        "peel rounds run on the driver in Python integers. The result is "
        "a driver-built local relation: no stage, no per-round join.",
        forbid=("CartesianProduct", "BatchEvalPython", "Exchange",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    ca = t.select(
        (F.col("turn_idx") % 8).cast("long").alias("band"),
        F.col("tool").isNotNull().cast("int").alias("is_err"),
    )
    sections.append(summarize(
        "Cochran-Armitage trend test",
        cochran_armitage_trend(ca, "band", "is_err"),
        "groupBy(score) collapses the corpus to the cell frame, then a "
        "1-row decimal(38,0) moment aggregate — the kanonymity two-"
        "shuffle shape; the z^2 quotient is one IEEE division of two "
        "exact integers.",
        forbid=("CartesianProduct", "BroadcastNestedLoop", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    pk_in = t.select(
        "conv_id", "turn_idx",
        (F.col("turn_idx") % 7 == 0).cast("int").alias("pred_b"),
        (F.col("turn_idx") % 5 == 0).cast("int").alias("ref_b"),
    )
    sections.append(summarize(
        "Pk segmentation metric",
        segmentation_pk(pk_in, k=3),
        "Two per-conversation window cascades (boundary cumsum, then "
        "lead-k comparison) SHARE one (conv, turn) sort — one exchange "
        "total — then a 1-row global aggregate. No join, no python.",
        forbid=("CartesianProduct", "BroadcastNestedLoop", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    from feature_extractor_mbo_lob_spark.operators.similarity import (
        embedding_outliers,
    )
    from feature_extractor_mbo_lob_spark.functions.stats import (
        cross_correlation,
        kruskal_wallis,
        wilcoxon_signed_rank,
    )

    sections.append(summarize(
        "Embedding outlier scores (diagonal Mahalanobis)",
        embedding_outliers(emb),
        "One posexplode + one groupBy(lane) -> d-row moment table, "
        "BROADCAST back onto the lane rows, one partial-aggregable "
        "groupBy(id). Fixed-point decimal terms summed as integers — "
        "never an engine-ordered float sum; no self-join, no collect.",
        forbid=("CartesianProduct", "BroadcastNestedLoop", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    wpairs = t.groupBy("conv_id").agg(
        (F.sum(F.when(F.col("role") == "user", F.length("text")).otherwise(0))
         - F.sum(F.when(F.col("role") == "assistant", F.length("text"))
                 .otherwise(0))).alias("d")
    )
    sections.append(summarize(
        "Wilcoxon signed-rank test",
        wilcoxon_signed_rank(wpairs),
        "groupBy(DISTINCT |d|) then ONE window over the distinct-value "
        "frame only (bounded by metric cardinality, never corpus size) "
        "then a 1-row aggregate; z^2 from exact decimal integers.",
        forbid=("CartesianProduct", "BroadcastNestedLoop", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    kw = t.select("role", F.length("text").cast("long").alias("c"))
    sections.append(summarize(
        "Kruskal-Wallis rank statistics",
        kruskal_wallis(kw, "role", "c"),
        "groupBy(value, group) + groupBy(DISTINCT value) for the rank "
        "window, per-group aggregate, broadcast 1-row totals — every "
        "shuffle bounded by metric cardinality or group count.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    daily = t.groupBy(
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("d")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("x"),
        F.sum(F.col("tool").isNotNull().cast("int")).cast("long").alias("y"),
    )
    sections.append(summarize(
        "Lagged cross-correlation (lead/lag)",
        cross_correlation(daily, "d", "x", "y", max_lag=7),
        "The series frame is calendar-bounded BEFORE the 8-row lag "
        "explode; one equi-join on the shifted key + one partial-"
        "aggregable groupBy(lag). Signed r^2 from exact decimal moments.",
        forbid=("CartesianProduct", "BroadcastNestedLoop", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    from feature_extractor_mbo_lob_spark.functions.stats import (
        cramers_v2,
        effect_size_d2,
    )

    sections.append(summarize(
        "Cohen's d^2 effect size (md5 arms)",
        effect_size_d2(ev, "user_id"),
        "groupBy(unit) then ONE 2-cell conditional moment aggregate — two "
        "partial-aggregable shuffles at any corpus size; the pooled-"
        "variance n(n-1) factors cancel symbolically so d^2 is one IEEE "
        "division of exact decimal integers.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    cv = t.select("role", (F.col("turn_idx") % 7).alias("dow"))
    sections.append(summarize(
        "Cramér's V^2 association",
        cramers_v2(cv, "role", "dow"),
        "groupBy(a, b) collapses the corpus to the cell frame; margins "
        "are aggregates of that tiny frame joined back; the zero-cell "
        "mass uses the closed form (N^2 - sum rt*ct)/N — empty cells are "
        "never materialized. One 1-row final aggregate.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    from feature_extractor_mbo_lob_spark.functions.evalmetrics import (
        brier_decomposition,
        roc_curve_points,
    )
    from feature_extractor_mbo_lob_spark.functions.graph import (
        label_propagation,
        word_adjacency_edges,
    )
    from feature_extractor_mbo_lob_spark.functions.pii import l_diversity_audit

    lp_docs = t.select(F.col("text")).limit(200)
    sections.append(summarize(
        "Label propagation communities (3 rounds, driver finish)",
        label_propagation(word_adjacency_edges(lp_docs, min_count=2), rounds=3),
        "The pruned word-adjacency edge list is collected once "
        "(graph._collect_edges, cap graph.MAX_DRIVER_EDGES) and the fixed "
        "rounds run on the driver in Python integers, (weight sum DESC, "
        "label ASC) argmax. The result is a driver-built local relation: "
        "no stage, no per-round join or window.",
        forbid=("CartesianProduct", "BatchEvalPython", "Exchange",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    sc = t.select((F.col("turn_idx") % 16).alias("score"),
                  (F.col("turn_idx") % 3 == 0).cast("int").alias("y"))
    sections.append(summarize(
        "ROC curve points",
        roc_curve_points(sc, "score", "y"),
        "ONE partial-aggregable groupBy collapses the corpus to "
        "|distinct scores| rows map-side; the ordered cumulative pass + "
        "ppm ratios run only over that collapsed frame (single-task "
        "window, bounded by score cardinality).",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    bd = t.select(((F.col("turn_idx") % 11) * 100000).alias("p"),
                  (F.col("turn_idx") % 2).alias("y"))
    sections.append(summarize(
        "Brier decomposition",
        brier_decomposition(bd, "p", "y", n_bins=10),
        "ONE bin-keyed partial-aggregable groupBy (<= n_bins groups) "
        "carrying exact decimal moments, then a <= n_bins-row final "
        "aggregate — fully map-side combinable, no sort, no join.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    ld = t.select("role", F.coalesce("tool", F.lit("-")).alias("tool"), "conv_id")
    sections.append(summarize(
        "l-diversity release audit",
        l_diversity_audit(ld, ["role", "tool"], "conv_id", k=5, l=3),
        "Two-level aggregation: groupBy(quasi + sensitive) collapses "
        "duplicates map-side, then groupBy(quasi) counts rows and "
        "distinct values from the collapsed frame — no sort, no join, "
        "no Python; group count bounded by quasi-tuple cardinality.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    from feature_extractor_mbo_lob_spark.functions.corpus import (
        good_turing_counts,
        kneser_ney_bigrams,
    )
    from feature_extractor_mbo_lob_spark.functions.stats import (
        cliffs_delta,
        dispersion_index,
        hill_tail_index,
    )

    kn_docs = t.select(F.col("turn_idx").alias("doc_id"), "text").limit(200)
    sections.append(summarize(
        "Kneser-Ney bigram probabilities",
        kneser_ney_bigrams(kn_docs),
        "Corpus collapses to the bigram-type frame in one explode -> "
        "partial-aggregable groupBy; context/continuation margins are "
        "groupBys OF that frame joined back on their keys; the 1-row "
        "type total broadcasts (BNLJ allowlist). Nothing downstream of "
        "the first shuffle scales with corpus rows.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    sections.append(summarize(
        "Good-Turing count-of-counts",
        good_turing_counts(lp_docs),
        "Word counts one explode->groupBy; count-of-counts a second "
        "groupBy of the vocab frame; N_{r+1} via a self-join of the "
        "tiny frequency table on r+1. No sort, no Python, no collect.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    ev2 = t.select(F.col("conv_id").alias("user_id"),
                   (F.col("turn_idx") % 7).cast("double").alias("value"))
    sections.append(summarize(
        "Cliff's delta (md5 arms)",
        cliffs_delta(ev2, "user_id"),
        "Identical shape to mann_whitney: groupBy(unit) -> distinct-"
        "value cumulative window -> 1-row aggregate; delta adds one "
        "1-row projection with a single IEEE division.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    dd = t.select("role", (F.col("turn_idx") % 9).alias("x"))
    sections.append(summarize(
        "Dispersion index (var/mean per group)",
        dispersion_index(dd, "role", "x"),
        "ONE partial-aggregable groupBy carrying three exact integer "
        "moments — fully map-side combinable, no sort, no join.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    hl = t.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n_turns"))
    sections.append(summarize(
        "Hill tail-index (top-k order statistics)",
        hill_tail_index(hl, "n_turns", k=10),
        "Corpus collapses to the distinct-value frame in one groupBy; "
        "the descending cumulative window, top-k clamp, threshold pick "
        "and 1-row aggregate all run on that bounded frame; ln "
        "quantized to integer nanos per distinct value before any sum.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    from feature_extractor_mbo_lob_spark.functions.corpus import source_js_divergence
    from feature_extractor_mbo_lob_spark.functions.graph import degree_assortativity
    from feature_extractor_mbo_lob_spark.operators.similarity import (
        pca_power_direction,
    )

    pp = t.select(
        F.col("conv_id").alias("vec_id"),
        F.array(F.col("turn_idx").cast("double"),
                (F.col("turn_idx") % 5).cast("double")).alias("embedding"),
    ).limit(100)
    sections.append(summarize(
        "PCA top direction (max-norm power iteration)",
        pca_power_direction(pp, iterations=3),
        "ONE Arrow-GEMM stage (_int_gram_partials) reduces each "
        "partition's batches to exact int64 scatter + lane-sum partials "
        "(shuffle O(batches*d^2), never O(rows)); decimal(38,0) "
        "re-aggregation restores the exact integer scatter; each "
        "unrolled round joins the d^2 cell frame with the d-row vector "
        "and re-aggregates; max|u| is a broadcast 1-row aggregate (BNLJ "
        "allowlist). The single sanctioned Python stage is the "
        "vectorized GEMM (6.6 -> 2.0 s at sf0.1, bit-identical).",
        forbid=("CartesianProduct", "BatchEvalPython"),
    ))

    sections.append(summarize(
        "Degree assortativity",
        degree_assortativity(word_adjacency_edges(lp_docs, min_count=2)),
        "One degree count over the edge list, two node-keyed joins "
        "decorating each orientation, ONE 4-moment aggregate — bounded "
        "by |edges|.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    js_docs = t.select(F.col("role").alias("source"), "text").limit(200)
    sections.append(summarize(
        "Source JS divergence (nano-quantized)",
        source_js_divergence(js_docs),
        "One word-count shuffle, sources x union-vocab dense frames "
        "(bounded broadcast cross of a |sources|-row aggregate), one "
        "V-row equi-join per unordered source pair, integer-sum "
        "groupBy — per-word contributions quantized to nanos before "
        "summation.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    from feature_extractor_mbo_lob_spark.functions.corpus import (
        effective_sample_size,
    )
    from feature_extractor_mbo_lob_spark.functions.graph import markov_stationary
    from feature_extractor_mbo_lob_spark.functions.sketch import hll_sliding_distinct

    hs = t.select(F.col("conv_id").alias("user_id"), "ts")
    sections.append(summarize(
        "Sliding HLL distinct (7-day merge)",
        hll_sliding_distinct(hs, "user_id", "ts"),
        "Per-day registers (O(days * 2^p) shuffle) explode to the <= 7 "
        "output days they serve — sketch-row fan-out, never data rows — "
        "then element-wise MAX per (day, register); the estimate is one "
        "IEEE division of a plan literal by an exact decimal sum.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    me = t.select(F.col("role").alias("src"),
                  F.col("role").alias("dst")).groupBy("src", "dst").agg(
        F.count(F.lit(1)).alias("w"))
    sections.append(summarize(
        "Markov stationary distribution (4 rounds)",
        markov_stationary(me, iterations=4),
        "Transition matrix and state set localCheckpoint ONCE; each "
        "unrolled round is one broadcast-sized join + one partial-"
        "aggregable groupBy over the |states|^2 frame.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    ew = t.select((F.col("turn_idx") % 3 * 250000 + 500000).alias("w"))
    sections.append(summarize(
        "Effective sample size (Kish)",
        effective_sample_size(ew, "w"),
        "ONE fully map-side-combinable global aggregate carrying three "
        "exact moments; releases are integer trunc divisions.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    from feature_extractor_mbo_lob_spark.functions.graph import markov_entropy_rate
    from feature_extractor_mbo_lob_spark.functions.stats import eb_shrunk_rates

    eb = t.groupBy(F.col("role").alias("g")).agg(
        F.count("*").alias("n"),
        F.sum((F.col("turn_idx") % 3 == 0).cast("int")).alias("k"),
    )
    sections.append(summarize(
        "EB shrunk rates (beta-binomial MoM)",
        eb_shrunk_rates(eb, "g", "n", "k"),
        "ONE group aggregate over pre-aggregated (group, n, k), one "
        "1-row global moment pass broadcast back (BNLJ allowlist), one "
        "projection — no sort, no Python.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    sections.append(summarize(
        "Markov entropy rate",
        markov_entropy_rate(me, iterations=4),
        "markov_stationary's bounded rounds plus ONE join of the "
        "|states|^2 matrix with the stationary vector and a 1-row "
        "integer-sum aggregate; ln nano-quantized per distinct edge.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    from feature_extractor_mbo_lob_spark.functions.stats import (
        conformal_calibration,
        wasserstein_1d,
    )

    wd = t.select("role", (F.col("turn_idx") % 17).alias("x"))
    sections.append(summarize(
        "Wasserstein-1 (exact EMD)",
        wasserstein_1d(wd, "role", "x", "user", "assistant"),
        "One partial-aggregable groupBy collapses both corpora to the "
        "merged distinct-value grid; one cumulative window over that "
        "bounded frame; one 1-row integer aggregate. No joins.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    cf = t.select(F.col("turn_idx").alias("id"),
                  (F.col("turn_idx") % 97).alias("s"))
    sections.append(summarize(
        "Split-conformal calibration",
        conformal_calibration(cf, "s", id_col="id"),
        "Distinct-score cumulative frame picks the exact order-statistic "
        "threshold; q_hat broadcasts as a 1-row aggregate (BNLJ "
        "allowlist); the eval half is one aggregate. All integer.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    from feature_extractor_mbo_lob_spark.functions.evalmetrics import v_measure

    vm = t.select((F.col("turn_idx") % 4).alias("cluster"), F.col("role").alias("label"))
    sections.append(summarize(
        "V-measure (contingency entropies)",
        v_measure(vm, "cluster", "label"),
        "ONE groupBy collapses the corpus to the contingency cells; "
        "margins are aggregates of that tiny frame joined back; 1-row "
        "broadcast totals (BNLJ allowlist); all entropies are integer "
        "nano sums.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    from feature_extractor_mbo_lob_spark.functions.evalmetrics import (
        adjusted_rand_index,
    )

    sections.append(summarize(
        "Adjusted Rand Index",
        adjusted_rand_index(vm, "cluster", "label"),
        "Same cells-bounded shape as V-measure, pure integer pair "
        "counts (no ln), 1-row broadcast margins (BNLJ allowlist), one "
        "IEEE division at release.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    from feature_extractor_mbo_lob_spark.functions.stats import (
        cmh_pooled_odds,
        permutation_test,
    )

    pt = t.select(F.col("conv_id").alias("user_id"),
                  (F.col("turn_idx") % 7).cast("double").alias("value"))
    sections.append(summarize(
        "Permutation test (md5 re-randomized)",
        permutation_test(pt, "user_id", n_perms=8),
        "ONE groupBy(unit) reduction, a bounded B-way explode OF THE "
        "UNIT FRAME (never raw rows) into one partial-aggregable "
        "groupBy(b), 1-row observed statistic broadcast.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    ch = t.select(F.col("role").alias("s"), (F.col("turn_idx") % 2).alias("arm"),
                  (F.col("turn_idx") % 3 == 0).cast("int").alias("y"))
    sections.append(summarize(
        "CMH pooled odds ratio",
        cmh_pooled_odds(ch, "s", "arm", "y"),
        "ONE groupBy(stratum) building the 2x2 cells with conditional "
        "sums, one projection, one 1-row aggregate — map-side "
        "combinable.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    from feature_extractor_mbo_lob_spark.functions.ranking import (
        rank_biased_overlap,
    )

    ra = t.select(F.col("role").alias("query_id"),
                  F.col("conv_id").alias("doc_id"),
                  (F.col("turn_idx") % 20 + 1).alias("rank")).limit(200)
    sections.append(summarize(
        "Rank-biased overlap",
        rank_biased_overlap(ra, ra, depth=20),
        "One equi-join of two (queries x depth)-bounded ranking frames "
        "on (query_id, doc_id), plan-literal credit array lookup, one "
        "partial-aggregable groupBy(query).",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    from feature_extractor_mbo_lob_spark.functions.graph import modularity

    mod_edges = word_adjacency_edges(lp_docs, min_count=2)
    sections.append(summarize(
        "Modularity of the label-propagation communities (driver finish)",
        modularity(mod_edges, label_propagation(mod_edges, rounds=3)),
        "The edge list and the label table are each collected once "
        "(graph._collect_edges, cap graph.MAX_DRIVER_EDGES); the "
        "per-community sums and the ONE signed trunc division run on the "
        "driver in Python integers. The result is a driver-built 1-row "
        "local relation.",
        forbid=("CartesianProduct", "BatchEvalPython", "Exchange",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    from feature_extractor_mbo_lob_spark.functions.pii import t_closeness_audit

    tc = t.select("role", F.coalesce("tool", F.lit("-")).alias("tool"),
                  (F.col("turn_idx") % 7).alias("cohort"))
    sections.append(summarize(
        "t-closeness audit",
        t_closeness_audit(tc, ["role", "tool"], "cohort"),
        "One (quasi, sensitive) cell aggregation (map-side combinable), "
        "broadcast join of the bounded global per-sensitive counts, one "
        "AQE-decided n_ec join back on the quasi tuple, a 1-row N "
        "broadcast (bounded BNLJ), ONE final per-class aggregate with the "
        "closed-form zero-cell mass — bounded by cell counts, never raw "
        "rows.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    from feature_extractor_mbo_lob_spark.functions.stats import gini_best_split

    gb = t.select(F.length("text").cast("long").alias("n_chars"),
                  (F.col("turn_idx") % 9).cast("long").alias("d"),
                  (F.col("role") == "assistant").cast("long").alias("y"))
    sections.append(summarize(
        "Decision stump (exact Gini best split)",
        gini_best_split(gb, ["n_chars", "d"], "y"),
        "One map-side-combinable (feature, value) cell aggregate over the "
        "unpivoted frame; window cumsums run over the DISTINCT-VALUE frame "
        "only (bounded by feature cardinality, never rows); one top-1 "
        "window per feature. No joins, no Python stages.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    from feature_extractor_mbo_lob_spark.functions.stats import jackknife_ratio_var

    jk = t.select(F.col("conv_id").alias("user_id"),
                  F.length("text").cast("double").alias("value"))
    sections.append(summarize(
        "Jackknife (delete-1 cluster) ratio variance",
        jackknife_ratio_var(jk, "user_id", "value"),
        "ONE groupBy(cluster) reduction; 1-row totals and pseudo-value-sum "
        "broadcasts (bounded BNLJs); one final aggregate. Bounded by "
        "cluster count, never raw rows.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    from feature_extractor_mbo_lob_spark.functions.stats import bh_fdr_permutation

    bh = t.select(F.col("role").alias("event_type"),
                  F.col("conv_id").alias("user_id"),
                  F.length("text").cast("double").alias("value"))
    sections.append(summarize(
        "BH-FDR over per-segment permutation tests",
        bh_fdr_permutation(bh, "event_type", "user_id", "value", n_perms=8),
        "ONE groupBy(group, unit) reduction; the bounded B-way explode "
        "runs over the UNIT frame (never raw rows); per-(group, b) sums "
        "partial-aggregate; observed row broadcast back (bounded by group "
        "cardinality); BH ranking windows run on the m-row p-value frame. "
        "No Python stages.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    from feature_extractor_mbo_lob_spark.functions.stats import replay_policy_eval

    rp = t.select((F.col("turn_idx") % 4).cast("long").alias("ctx"),
                  F.col("role").alias("arm"),
                  F.length("text").cast("double").alias("value"),
                  F.col("conv_id").alias("event_id"))
    sections.append(summarize(
        "Replay off-policy evaluation",
        replay_policy_eval(rp, "ctx", "arm", "value", "event_id"),
        "One groupBy(context, arm) training reduction on the md5-even "
        "half; the bounded policy frame broadcasts onto the eval half; "
        "ONE final per-context aggregate. Raw rows shuffle once, no "
        "Python stages.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    from feature_extractor_mbo_lob_spark.operators.similarity import (
        linear_cka_quantization,
    )

    ck = t.select(F.col("conv_id").alias("vec_id"),
                  F.array(F.length("text").cast("double"),
                          (F.col("turn_idx") % 5).cast("double"),
                          F.lit(1.0)).alias("embedding")).limit(64)
    sections.append(summarize(
        "Linear CKA (exact vs int8-quantized embeddings)",
        linear_cka_quantization(ck),
        "ONE Arrow-GEMM stage builds the stacked Z = [X_milli | Q_int8] "
        "per batch and reduces it to exact int64 Gram + lane-sum "
        "partials (shuffle O(batches*(2d)^2), never O(rows)); "
        "decimal(38,0) re-aggregation restores the exact integer "
        "moments; two bounded 2d-row joins decorate cells; one 1-row "
        "final aggregate. The single sanctioned Python stage is the "
        "vectorized GEMM (9.8 -> 1.0 s at sf0.1, bit-identical).",
        forbid=("CartesianProduct", "BatchEvalPython"),
    ))

    from feature_extractor_mbo_lob_spark.operators.similarity import knn_hubness

    hb = t.select(F.col("conv_id").alias("vec_id"),
                  F.array(F.length("text").cast("double"),
                          (F.col("turn_idx") % 5).cast("double"),
                          F.lit(1.0)).alias("embedding")).limit(64)
    sections.append(summarize(
        "k-NN hubness (in-degree skewness)",
        knn_hubness(hb, k=2),
        "Edge list from the capped/auto-routing GEMM top-k (sanctioned "
        "Arrow stage); in-degree is one partial-aggregable groupBy over "
        "the n*k edge rows + a left join from the id frame for zero "
        "rows; 1-row moment aggregate with the cleared-denominator "
        "signed-square release.",
        forbid=("CartesianProduct", "BatchEvalPython"),
    ))

    from feature_extractor_mbo_lob_spark.operators import encoding as enc_mod

    sections.append(summarize(
        "Leave-one-out target encoding",
        enc_mod.loo_target_encoding(t, "tool", "char_len")
        if "char_len" in t.columns else
        enc_mod.loo_target_encoding(
            t.withColumn("value", F.length("text").cast("double")),
            "tool", "value"),
        "ONE map-side-combinable groupBy(category) producing the (S, n) "
        "frame, joined back AQE-broadcastable on the category key — no "
        "window over raw rows, so hot categories cost nothing extra.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    from feature_extractor_mbo_lob_spark.functions.evalmetrics import gains_table

    gt = t.select(F.length("text").cast("long").alias("s"),
                  (F.col("turn_idx") % 3 == 0).cast("int").alias("y"),
                  F.col("conv_id").alias("rid"))
    sections.append(summarize(
        "Cumulative gains / lift table",
        gains_table(gt, "s", "y", "rid", n_buckets=10),
        "Distinct-score cumulative offsets (bounded frame) + a "
        "score-PARTITIONED row_number give global positions with no "
        "single-task global window; closed-form integer bucket; one "
        "groupBy(bucket) + a k-row cumulative window; 1-row totals "
        "broadcast (bounded BNLJ).",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    from feature_extractor_mbo_lob_spark.functions.stats import (
        granger_lag1, kendall_tau, ljung_box,
    )

    daily = t.groupBy(
        F.expr("unix_micros(ts) div 86400000000").alias("d")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("y"),
        F.sum((F.col("role") == "user").cast("int")).cast("long").alias("x"),
    )
    sections.append(summarize(
        "Ljung-Box whiteness test",
        ljung_box(daily, "d", "y", lags=7),
        "One groupBy to the calendar frame; the unpartitioned sort is over "
        "the CALENDAR-BOUNDED dense series (seasonal_decompose precedent); "
        "1-row (n, S) totals broadcast (bounded BNLJ); lags lead columns "
        "share one sort; Q is an order-free integer sum of nano terms.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    sections.append(summarize(
        "Kendall tau-b (calendar pair join)",
        kendall_tau(daily, "d", "x", "y"),
        "days^2 pair expansion via a bounded BROADCAST nested-loop join on "
        "the calendar aggregate (1000 days = 5e5 pairs), never O(rows^2); "
        "one partial-aggregable global aggregate; signed-square release.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    sections.append(summarize(
        "Granger lag-1 F test (both directions)",
        granger_lag1(daily, "d", "x", "y"),
        "Calendar densify + one shared sort for both lag columns; 2-row "
        "direction explode; ONE map-side-combinable groupBy(direction); "
        "the F release is a single fixed-order IEEE expression over exact "
        "decimal(38,0) moments — no iteration, no joins after the lag.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    from feature_extractor_mbo_lob_spark.functions.evalmetrics import rfm_segments

    ev_like = t.select(
        F.col("conv_id").alias("user_id"), "ts",
        F.when(F.col("role") == "tool", F.lit("purchase"))
        .otherwise(F.lit("other")).alias("event_type"),
        F.length("text").cast("double").alias("value"),
    )
    sections.append(summarize(
        "RFM quintile segmentation",
        rfm_segments(ev_like),
        "One groupBy(user) collapse; three closed-form ntile passes whose "
        "unpartitioned cumulative windows run over BOUNDED distinct-value "
        "frames (recency calendar-bounded, frequency count-bounded, "
        "monetary quantized to whole units); 1-row max-date and N totals "
        "broadcasts (bounded BNLJ); <=k^3 output rows.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    from feature_extractor_mbo_lob_spark.functions.corpus import diversity_indices

    docs_like = t.select(F.col("text"), F.col("role").alias("source"))
    sections.append(summarize(
        "Lexical diversity indices (Chao1 / Simpson / Shannon)",
        diversity_indices(docs_like, "source"),
        "Words explode map-side into ONE vocabulary-bounded (group, word) "
        "shuffle, then one map-side-combinable groupBy(group); no windows, "
        "no sorts, no raw-text shuffle; all three indices release from "
        "exact integer sufficient statistics.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    from feature_extractor_mbo_lob_spark.functions.stats import (
        anderson_darling_2s, haar_energy, trimmed_mean,
    )

    sections.append(summarize(
        "Haar multiresolution energy",
        haar_energy(daily, "d", "y", levels=4),
        "One groupBy to the calendar frame, then 4 halving aggregations "
        "over calendar-bounded frames keyed by the absolute index div 2; "
        "a 4-row union + one tiny window for the ppm share. Raw-row "
        "volume is touched exactly once.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    cents = t.select(
        F.col("role").alias("grp"),
        F.length("text").cast("long").alias("cents"),
        F.expr("unix_micros(ts) % 2").cast("int").alias("arm"),
    )
    sections.append(summarize(
        "Exact trimmed mean",
        trimmed_mean(cents, "grp", "cents"),
        "One groupBy collapses rows to the per-group DISTINCT-VALUE "
        "frame; the cumulative window is PARTITIONED BY GROUP and runs "
        "over that bounded frame; integer clipping replaces per-row "
        "ranks; one exact trunc-division release.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    sections.append(summarize(
        "Anderson-Darling two-sample (midrank)",
        anderson_darling_2s(cents, "arm", "cents"),
        "One groupBy to the pooled distinct-value frame; ONE "
        "value-ordered cumulative window over it (roc_curve/wilcoxon "
        "precedent); 1-row totals broadcast (bounded BNLJ); per-term "
        "fixed-order IEEE nano quantization makes the final reduction "
        "an order-free integer sum.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    from feature_extractor_mbo_lob_spark.labeling.churn import churn_labels

    ev_like2 = t.select(
        F.col("conv_id").alias("user_id"), "ts",
        F.when(F.col("role") == "tool", F.lit("purchase"))
        .otherwise(F.lit("other")).alias("event_type"),
        F.length("text").cast("double").alias("value"),
    )
    sections.append(summarize(
        "Churn labels (PIT feature/holdout split)",
        churn_labels(ev_like2),
        "1-row max-day broadcast (bounded BNLJ) + ONE map-side-combinable "
        "groupBy(user) whose pre/post split is a predicate inside the "
        "conditional aggregates — no second scan, no self-join; the "
        "feature window and the label window partition the calendar.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    from feature_extractor_mbo_lob_spark.functions.evalmetrics import qini_curve

    qu = t.groupBy(F.col("conv_id").alias("uid")).agg(
        F.count(F.lit(1)).cast("long").alias("score"),
        F.max((F.col("role") == "tool").cast("long")).alias("resp"),
    ).withColumn("arm", (F.length("uid") % 2).cast("int"))
    sections.append(summarize(
        "Qini uplift curve",
        qini_curve(qu, "score", "arm", "resp", "uid", n_buckets=10),
        "The gains_table ranking shape (distinct-score offsets + "
        "score-partitioned row_number, closed-form bucket) with four "
        "conditional sums; one groupBy(bucket) + a k-row cumulative "
        "window; exact-integer incremental-responder release.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    from feature_extractor_mbo_lob_spark.functions.stats import (
        ltv_curve, mase_seasonal, theil_index,
    )

    sections.append(summarize(
        "Theil T inequality",
        theil_index(t.select(F.col("role").alias("source"),
                             F.length("text").alias("n_chars")),
                    "source", "n_chars"),
        "One (group, value) groupBy bounded by value cardinality + one "
        "map-side-combinable groupBy(group); nano-quantized ln per "
        "distinct value makes the weighted reduction order-free; no "
        "windows, no joins.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    sections.append(summarize(
        "Seasonal-naive MASE",
        mase_seasonal(daily, "d", "y", period=7),
        "Calendar densify + one shared sort for both lag columns + one "
        "global aggregate; both error sums pure integers; one exact ppm "
        "trunc division.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    sections.append(summarize(
        "Cohort LTV curve",
        ltv_curve(ev_like2),
        "One groupBy(user) for cohorts, AQE-broadcastable join back, one "
        "(cohort, age) aggregate, a cumulative window over the "
        "AGE-BOUNDED per-cohort frame, a cohort-size equi join; exact "
        "cents end to end.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    from feature_extractor_mbo_lob_spark.validation import (
        coldstart_coverage, fk_orphan_audit,
    )

    parent_t = t.select(F.col("conv_id").alias("pk")).distinct()
    child_t = t.select(F.col("conv_id").alias("fk"))
    sections.append(summarize(
        "FK orphan audit",
        fk_orphan_audit(child_t, parent_t, "fk", "pk", "t->t"),
        "One conditional aggregate for the NULL split, one left-anti join "
        "(AQE broadcasts a small parent), two 1-row aggregates joined by "
        "a bounded BNLJ. The anti join IS the certificate — no cheaper "
        "audit exists.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    sections.append(summarize(
        "Cold-start coverage",
        coldstart_coverage(t, "tool", "ts", "tool"),
        "1-row max-day broadcast (bounded BNLJ) + one groupBy(entity) for "
        "(first, last) days + one 4-cell aggregate; NULL entities "
        "filtered at the scan.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    from feature_extractor_mbo_lob_spark.functions.corpus import capture_recapture

    sections.append(summarize(
        "Chapman capture-recapture",
        capture_recapture(docs_like, "source"),
        "One distinct (source, word) shuffle bounded by vocabulary x "
        "sources, one groupBy(word) share count, an AQE-decided join "
        "back, one groupBy(source), a 1-row corpus-vocab broadcast "
        "(bounded BNLJ); all integers until the final trunc division.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    from feature_extractor_mbo_lob_spark.operators.similarity import (
        fisher_separability,
    )

    emb_like = t.select(
        F.col("turn_idx").alias("vec_id"),
        F.array(F.length("text").cast("double"),
                F.unix_micros("ts").cast("double") / F.lit(1e12)).alias("embedding"),
        (F.length("text") % 3).cast("int").alias("label"),
    )
    sections.append(summarize(
        "Fisher class-separability",
        fisher_separability(emb_like),
        "One lane explode with map-side partial aggregation into "
        "(class, lane) cells — shuffle O(classes*d), never O(rows) — "
        "then one d-cell reduce and one 1-row aggregate; per-class trunc "
        "divisions quantize before order-free integer sums.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    from feature_extractor_mbo_lob_spark.operators.dedup import minhash_recall

    mr_docs = t.select(F.col("turn_idx").alias("doc_id"), "text").limit(500)
    sections.append(summarize(
        "MinHash recall meter",
        minhash_recall(mr_docs),
        "Truth = exact co-occurrence join on the shingle table (the "
        "deliberate exact meter; 3-shingle doc-freq is bounded on this "
        "corpus); candidates reuse the banded equi-join; comparison is "
        "one pair-keyed equi-join + two 1-row aggregates (bounded BNLJ).",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    from feature_extractor_mbo_lob_spark.plans.driver_queries import QUERIES

    tiny = "/root/testdata/sf0.001"
    sections.append(summarize(
        "customer order-count distribution (Q13 analog)",
        QUERIES["customer_distribution"](spark, tiny),
        "Orders pre-aggregated to per-customer cardinality BEFORE the "
        "outer join (map-side combine on o_custkey), so the join never "
        "fans out and the histogram aggregation runs over |customer| "
        "rows; two exchanges total, both key-bounded.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    sections.append(summarize(
        "small-quantity revenue (Q17 analog)",
        QUERIES["small_quantity_revenue"](spark, tiny),
        "The correlated average is cleared of its division "
        "(5*q*n < sum_q, exact for integral quantities); the per-part "
        "moment table is joined back on the key it was aggregated on, "
        "and the part dim join is AQE-broadcastable; final brand rollup "
        "is a tiny aggregate.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    sections.append(summarize(
        "large-volume customers (Q18 analog)",
        QUERIES["large_volume_customers"](spark, tiny),
        "GROUP BY + HAVING pushed BELOW the joins: lineitem collapses to "
        "per-order totals first and the >250 filter drops ~97% of orders "
        "before any join touches orders/customer.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    sections.append(summarize(
        "waiting suppliers (Q21 analog)",
        QUERIES["waiting_suppliers"](spark, tiny),
        "EXISTS/NOT EXISTS as LEFT SEMI + LEFT ANTI, both equi on "
        "l_orderkey with the supplier inequality as a residual condition "
        "— never a cartesian; the late set is built once and reused on "
        "both sides.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    sections.append(summarize(
        "international trade-flow matrix (Q7 generalized)",
        QUERIES["trade_flow"](spark, tiny),
        "Fact joins carry only keys + the c4 term; the matrix collapses "
        "to <= nations^2 * years rows BEFORE the two nation-name "
        "broadcasts; revenue sums in decimal(38,0).",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    sections.append(summarize(
        "supplier-region market share (Q8 analog)",
        QUERIES["market_share"](spark, tiny),
        "Share-of-total nested aggregation: one fact shuffle into "
        "(year, region) cells, per-year totals broadcast back, the "
        "share ONE exact ppm trunc division; dims (nation/region/"
        "supplier-region map) all broadcast.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    sections.append(summarize(
        "disjunctive-predicate revenue (Q19 analog)",
        QUERIES["disjunctive_revenue"](spark, tiny),
        "The OR-of-conjunctions evaluates as a residual CASE on one "
        "part join (pre-filtered to the three type classes); rollup is "
        "a 3-row aggregate; the predicate is pure integer.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    sections.append(summarize(
        "top supplier by quarterly revenue (Q15 analog)",
        QUERIES["top_supplier"](spark, tiny),
        "Correlated max as: per-supplier aggregate (map-side "
        "combinable), 1-row max of the tiny frame, equi join back on "
        "revenue equality (ties preserved); quarter filter at the scan.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    sections.append(summarize(
        "forecast revenue (Q6 analog)",
        QUERIES["forecast_revenue"](spark, tiny),
        "The pure scan-predicate query: every filter pushable to the "
        "scan, one partial-aggregable 1-row sum, exact c4 arithmetic.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    sections.append(summarize(
        "multinomial Naive Bayes corpus router",
        QUERIES["naive_bayes"](spark, tiny),
        "One token shuffle into (word, class) counts (map-side "
        "combinable, bounded by vocab x classes); test tokens join the "
        "model on the word key (AQE-broadcastable); 1-row totals and "
        "the classes-row prior table ride bounded BNLJ broadcasts; "
        "argmax is a classes-row-per-doc window. Never O(corpus^2).",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    sections.append(summarize(
        "Jarque-Bera normality gate",
        QUERIES["jarque_bera"](spark, tiny),
        "Two map-side-combinable aggregates on the SAME group key; the "
        "truncated-mean join back is AQE-broadcastable (groups-sized); "
        "residual power sums in decimal(38,0); b1/b2/JB one fixed-order "
        "IEEE expression each. No window, no explode.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    sections.append(summarize(
        "single-source BFS hop layers (driver finish)",
        QUERIES["bfs_hops"](spark, tiny),
        "The tool co-usage edge list is collected once "
        "(graph._collect_edges, cap graph.MAX_DRIVER_EDGES); the seed "
        "argmax and the 4 frontier layers run on the driver as Python "
        "sets, first visit = min hop. The result is a driver-built local "
        "relation. Oracle is ONE DuckDB WITH RECURSIVE.",
        forbid=("CartesianProduct", "BatchEvalPython", "Exchange",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    sections.append(summarize(
        "Laplace DP histogram",
        QUERIES["dp_histogram"](spark, tiny),
        "ONE map-side-combinable groupBy; the keyed-md5 Laplace draw is "
        "a shuffle-free projection on the groups frame. No joins, no "
        "window.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    sections.append(summarize(
        "TPC-H Q1 pricing summary",
        QUERIES["pricing_summary"](spark, tiny),
        "One filtered scan (shipdate cutoff pushed to the parquet "
        "footer), one map-side-combinable groupBy onto the 2x2 "
        "(returnflag, linestatus) grid; all money exact integers until "
        "the release expressions. No joins, no window, no sort.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "TPC-H Q12 priority shipping",
        QUERIES["priority_shipping"](spark, tiny),
        "Equi join on orderkey with the 30-day lateness inequality as a "
        "residual condition (never a cartesian); conditional integer "
        "counts are partial-aggregable; the ship-year range is pushed "
        "to the lineitem scan.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    sections.append(summarize(
        "TPC-H Q16 supplier-part counts",
        QUERIES["supplier_part_counts"](spark, tiny),
        "(part, supplier) pairs deduplicated BEFORE the joins so the "
        "join input is the relationship count, not the fact count; the "
        "filtered part dim and the negative-acctbal exclusion frame are "
        "broadcast (LEFT ANTI = NOT IN); count_distinct on collapsed "
        "pairs.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "Cramér–von Mises two-sample",
        QUERIES["cramer_von_mises"](spark, tiny),
        "Same shape as wasserstein: one groupBy collapses both corpora "
        "to the merged distinct-value grid, one cumulative window "
        "bounded by value cardinality, one 1-row aggregate. All exact "
        "integers until the trunc-division release.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "Cochran's Q",
        QUERIES["cochran_q"](spark, tiny),
        "One distinct() collapse to (block, treatment) pairs, one k-row "
        "and one per-block aggregate, constant-key broadcast join of "
        "two 1-row frames. Day filter pushed to the scan.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "Durbin–Watson trend residuals",
        QUERIES["durbin_watson"](spark, tiny),
        "Series frame bounded by DAYS; one rank window + 1-row moments "
        "broadcast back + one lag window + 1-row release. Cleared "
        "integer residuals, one trunc division.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "Yule's K per source",
        QUERIES["yule_k"](spark, tiny),
        "One explode + one (source, word) map-side-combinable groupBy "
        "bounded by per-source vocabulary + one per-source aggregate. "
        "No joins, no window.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "Goodman–Kruskal gamma / Somers' D",
        QUERIES["gk_gamma"](spark, tiny),
        "Raw frame collapses to the 6x6 cell table in one groupBy; pair "
        "enumeration is a broadcast self-join of 36 cells on a constant "
        "key; one 1-row aggregate with signed trunc-division releases.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "Lo–MacKinlay variance ratio",
        QUERIES["variance_ratio"](spark, tiny),
        "Series frame bounded by DAYS; two lag windows over that tiny "
        "frame + one 1-row aggregate; cleared integer moments, one "
        "trunc division.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "turning-points randomness test",
        QUERIES["turning_points"](spark, tiny),
        "Series frame bounded by DAYS; one lag/lead window + one 1-row "
        "aggregate; integer T, one fixed-order IEEE z release.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "embedding anisotropy",
        QUERIES["anisotropy"](spark, tiny),
        "One posexplode + ONE map-side-combinable d-cell groupBy + one "
        "1-row trunc-division release. No joins, no window, O(d) "
        "shuffle, never O(rows).",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "Burrows' Delta",
        QUERIES["burrows_delta"](spark, tiny),
        "Corpus collapses to (source, word) counts once; top-m window "
        "runs on the word-TOTALS frame (bounded by vocabulary); the "
        "dense m x sources grid and all pair joins are broadcast "
        "(constant-key equi join, never a cartesian).",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    sections.append(summarize(
        "TPC-H Q9 product profit",
        QUERIES["product_profit"](spark, tiny),
        "Name-filtered part broadcast prunes lineitem first; supplier "
        "and nation broadcast dims; the exact c4 profit term is "
        "computed per line and collapses to nations x years cells in "
        "one map-side-combinable aggregate.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "Wald-Wolfowitz runs test",
        QUERIES["runs_test"](spark, tiny),
        "Series frame bounded by DAYS; one distinct-value cumulative "
        "window for the exact lower median, a broadcast 1-row median "
        "join back, one lag window, one 1-row aggregate; integer "
        "n1/n2/R, one fixed-order IEEE z.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "Brown-Forsythe variance homogeneity",
        QUERIES["brown_forsythe"](spark, tiny),
        "One (group, value) collapse bounded by per-group value "
        "cardinality; partitioned cumulative window for exact group "
        "medians; broadcast medians join back; map-side-combinable "
        "group aggregates; k-row to 1-row integer release.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "Grubbs max-outlier statistic",
        QUERIES["grubbs"](spark, tiny),
        "TWO map-side-combinable passes: per-group moments, then the "
        "cleared max-deviation against the broadcast per-group moment "
        "rows; no windows, no Python.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "Atkinson inequality index",
        QUERIES["atkinson"](spark, tiny),
        "One (group, value) groupBy bounded by value cardinality, one "
        "map-side-combinable groupBy(group); nano-ln per DISTINCT value "
        "so the weighted reduction is an order-free integer sum. No "
        "joins, no windows.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "hapax-legomena profile",
        QUERIES["hapax_profile"](spark, tiny),
        "One explode, one (source, word) groupBy bounded by per-source "
        "vocabulary, one conditional per-source aggregate; exact ppm "
        "shares, Honore R the only IEEE expression. No joins, no "
        "windows.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "TPC-H Q2 min-cost supplier",
        QUERIES["min_cost_supplier"](spark, tiny),
        "lineitem collapses to the bounded (part, supplier) "
        "relationship frame FIRST; region-filtered supplier and the "
        "part dim broadcast; per-part min joins back on equality so "
        "ties survive (correlated-subquery semantics).",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    sections.append(summarize(
        "TPC-H Q11 important stock",
        QUERIES["important_stock"](spark, tiny),
        "One fact collapse to (part) cells after the broadcast "
        "supplier semi-filter; 1-row (total, count) broadcast back; "
        "the mean-multiple HAVING is a pure integer predicate.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "TPC-H Q20 potential promotion",
        QUERIES["potential_promotion"](spark, tiny),
        "Name-filtered part broadcast semi-prunes the year-filtered "
        "fact scan; quantities collapse to (part, supplier) cells; "
        "per-part totals join back; strict half-share is the integer "
        "predicate 2q > Q; ASIA supplier dim broadcast.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    sections.append(summarize(
        "Mood's median test",
        QUERIES["mood_median"](spark, tiny),
        "One (group, value) collapse; one distinct-value cumulative "
        "window for the grand median; 1-row broadcast back; map-side-"
        "combinable group aggregates; k-row to 1-row integer release.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "Jonckheere-Terpstra ordered trend",
        QUERIES["jonckheere"](spark, tiny),
        "Pair join runs on the (group, value)-collapsed frame — "
        "bounded by (k*V)^2, never rows^2 — as a bounded broadcast; "
        "doubled integer JT2, one fixed-order IEEE z.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "partial correlation",
        QUERIES["partial_correlation"](spark, tiny),
        "Series frame bounded by DAYS; ONE map-side-combinable moment "
        "aggregate (10 exact integer sums), one fixed-order IEEE "
        "release. No joins, no windows.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "Chow structural break",
        QUERIES["chow_break"](spark, tiny),
        "Additive per-segment integer power sums in ONE conditional "
        "aggregate (pooled = sum of segments, no second pass); "
        "cleared-RSS closed forms, one fixed-order IEEE F.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "Lorenz revenue curve",
        QUERIES["lorenz_revenue"](spark, tiny),
        "Closed-form ntile: distinct-value cumulative offsets + a "
        "value-partitioned row_number — no single-task global window "
        "over users; exact ppm cumulative shares on the 10-row frame.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "retrieval metrics NDCG/MAP",
        QUERIES["retrieval_metrics"](spark, tiny),
        "Truth and candidate lists join on (query, neighbor); the "
        "cumulative-hit window is per-query over <=10 rows; DCG "
        "discounts are integer plan literals (no runtime log2); all "
        "releases integer trunc divisions.",
        forbid=("CartesianProduct", "BatchEvalPython"),
    ))

    sections.append(summarize(
        "NB router MCC + macro-F1",
        QUERIES["nb_quality"](spark, tiny),
        "Confusion matrix is bounded by classes^2; class-mass frames "
        "join on the tiny class key; MCC one fixed-order IEEE "
        "expression of exact integers, macro-F1 exact ppm.",
        forbid=("CartesianProduct", "BatchEvalPython"),
    ))

    sections.append(summarize(
        "Welch's t",
        QUERIES["welch_t"](spark, tiny),
        "ONE conditional map-side-combinable moment aggregate over the "
        "two groups' rows; t and the Satterthwaite df each one "
        "fixed-order IEEE expression. No joins, no windows.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "Cronbach's alpha",
        QUERIES["cronbach"](spark, tiny),
        "One conditional-sum pivot groupBy(case) with k literal "
        "columns + one moment aggregate; the shared case count cancels "
        "so alpha is exact integer arithmetic.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "PACF lag 2",
        QUERIES["pacf2"](spark, tiny),
        "Densified calendar frame bounded by DAYS; two lead columns "
        "from one shared sort; exact integer lag covariances, the "
        "Durbin-Levinson ratio clears to integers.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "Kuiper two-sample V",
        QUERIES["kuiper"](spark, tiny),
        "Merged distinct-value grid; two cumulative windows; exact "
        "integer excursions M+/M-, one ppm trunc division.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "Ansari-Bradley scale test",
        QUERIES["ansari_bradley"](spark, tiny),
        "Tie groups collapse to the distinct-value frame; positional "
        "score sums are closed-form range sums (no position "
        "materialization); conditional moments from the realized tie "
        "structure; one fixed-order IEEE z.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "paired sign test",
        QUERIES["sign_test"](spark, tiny),
        "Day-bounded series, one map-side-combinable aggregate; "
        "integer counts, one fixed-order IEEE z. No joins, no windows.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "Moran's I / Geary's C",
        QUERIES["moran_geary"](spark, tiny),
        "Edge list bounded by tools^2; node-u frame joins twice on the "
        "node key; one reduction; signed integer trunc releases.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    sections.append(summarize(
        "Friedman test",
        QUERIES["friedman"](spark, tiny),
        "One conditional-sum pivot groupBy(block); closed-form doubled "
        "midranks as k generated expressions — NO window; one k-column "
        "aggregate, integer Conover statistic.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "Hurst aggregated variance",
        QUERIES["hurst"](spark, tiny),
        "Four dyadic block aggregations of the day-bounded series "
        "unioned; complete blocks only; nano-ln terms, one integer "
        "slope release.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "epoch shuffle",
        QUERIES["epoch_shuffle"](spark, tiny),
        "One projection + ONE shard-partitioned rank window — no "
        "global sort task; shard count is the parallelism knob.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "Lin's concordance CCC",
        QUERIES["ccc"](spark, tiny),
        "Day-bounded series, one moment aggregate, one signed integer "
        "trunc release. No joins, no windows.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "Bland-Altman band",
        QUERIES["bland_altman"](spark, tiny),
        "Differences stay integer; one moment aggregate; exact bias, "
        "two fixed-order IEEE limits.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "Newey-West LRV inflation",
        QUERIES["newey_west"](spark, tiny),
        "Densified day-bounded frame; five lead columns from one "
        "shared sort; Bartlett weights cleared by (L+1) so the whole "
        "statistic is integer — no IEEE anywhere.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "curation fairness audit",
        QUERIES["fairness_audit"](spark, tiny),
        "One scan with the integer keep-gate, one groupBy(source), a "
        "1-row best-rate broadcast back; exact ppm releases.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "Poisson dispersion",
        QUERIES["poisson_dispersion"](spark, tiny),
        "Day-bounded series, one moment aggregate, two integer trunc "
        "releases. No joins, no windows.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "interarrival CV2",
        QUERIES["interarrival_cv"](spark, tiny),
        "One user-partitioned lag window over the fact scan, one "
        "moment aggregate, one integer trunc release.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "KM curve + Greenwood",
        QUERIES["km_greenwood"](spark, tiny),
        "Risk table frame bounded by distinct durations; nano-ln and "
        "pico-Greenwood terms cumulate in one time window; one IEEE "
        "release per row.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    sections.append(summarize(
        "Holm step-down",
        QUERIES["holm"](spark, tiny),
        "Reuses the BH permutation pipeline; the step-down prefix is "
        "a running max over the m-row p-frame — pure integers.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    sections.append(summarize(
        "Dunn's post-hoc",
        QUERIES["dunn"](spark, tiny),
        "One (group, value) collapse; merged-value cumulative window "
        "for shared midranks; value-keyed join back; k-row frame "
        "self-joined over broadcast pairs.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    sections.append(summarize(
        "user-level funnel conversion",
        QUERIES["user_funnel"](spark, tiny),
        "Three cascaded conditional aggregates, each stage joining the "
        "previous USER frame back (bounded by users, not events); "
        "exact ppm conversions.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    sections.append(summarize(
        "day-of-week uniformity",
        QUERIES["dow_uniformity"](spark, tiny),
        "One 7-cell groupBy; clearing N/7 collapses the chi-square to "
        "(7*sum(o^2) - N^2)/N — one integer trunc division.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "availability gap audit",
        QUERIES["availability_gaps"](spark, tiny),
        "One global lag window over the fact scan; p99 as the exact "
        "order statistic on the distinct-gap frame; integer seconds.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "Cliff's delta (groups)",
        QUERIES["cliffs_delta_groups"](spark, tiny),
        "Merged distinct-value grid, two cumulative windows, one "
        "integer reduction; signed micro trunc releases.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "Kendall's W",
        QUERIES["kendalls_w"](spark, tiny),
        "The friedman pivot machinery plus one integer trunc division "
        "— no extra pass.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "Benjamini-Yekutieli FDR",
        QUERIES["by_fdr"](spark, tiny),
        "Reuses the BH permutation pipeline; the harmonic factor is a "
        "defined integer quantization summed on the m-row frame.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    sections.append(summarize(
        "simplified silhouette",
        QUERIES["silhouette"](spark, tiny),
        "k-row centroid table broadcast into the point frame; one "
        "per-point rank window over k rows; micro-quantized s BEFORE "
        "the order-free per-cluster mean.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    sections.append(summarize(
        "TOST equivalence + MDE",
        QUERIES["tost_mde"](spark, tiny),
        "ONE conditional moment aggregate; every released float a "
        "fixed-order IEEE expression of six exact integers. No joins, "
        "no windows.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "Huber one-step location",
        QUERIES["huber_location"](spark, tiny),
        "Two distinct-value cumulative windows (median, MAD), two "
        "broadcast joins back, one weighted aggregate; all-integer "
        "micro weights.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "upper tail dependence",
        QUERIES["tail_dependence"](spark, tiny),
        "Exact q90 order statistics per series on distinct-value "
        "frames; two 1-row threshold broadcasts; one counting "
        "aggregate.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "peaks over threshold",
        QUERIES["peaks_over_threshold"](spark, tiny),
        "Exact q90 order statistic, 1-row threshold broadcast, one "
        "counting aggregate; pure integers.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "ARCH-LM volatility clustering",
        QUERIES["arch_lm"](spark, tiny),
        "Densified day-bounded frame; first differences keep all "
        "moments integer; one lag window + one moment aggregate.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "records test",
        QUERIES["records_test"](spark, tiny),
        "One running-max window + one aggregate; harmonic terms as "
        "defined integer quantizations in-frame.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "Gumbel block maxima",
        QUERIES["gumbel"](spark, tiny),
        "One epoch-block groupBy for weekly maxima, one moment "
        "aggregate, two fixed-order IEEE releases.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "Bowker symmetry",
        QUERIES["bowker_symmetry"](spark, tiny),
        "Confusion matrix bounded by classes^2; off-diagonal pairs "
        "full-joined on the tiny (i, j) key; per-pair micro trunc "
        "terms summed order-free.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    sections.append(summarize(
        "day-of-week eta-squared",
        QUERIES["dow_eta_squared"](spark, tiny),
        "Day-bounded series to a 7-cell groupBy; brown_forsythe-style "
        "micro-quantized u_g terms; one trunc-division release.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "directly standardized rates",
        QUERIES["standardized_rate"](spark, tiny),
        "User frame collapses once; tercile cuts are exact order "
        "statistics on the distinct-count frame; per-stratum ppm "
        "rates quantize BEFORE the weighted sum; 1-row broadcasts.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "top-k leaderboard churn",
        QUERIES["topk_churn"](spark, tiny),
        "Week-partitioned rank window bounded by tools; week-keyed "
        "pair join of 10-row top lists; exact ppm Jaccard.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    sections.append(summarize(
        "Gumbel return levels",
        QUERIES["return_levels"](spark, tiny),
        "The gumbel 1-row aggregate; quantile factors are plan "
        "literals — no runtime ln of data anywhere.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "mean residual life",
        QUERIES["mean_residual_life"](spark, tiny),
        "One distinct-value cumulative frame yields all five decile "
        "thresholds; the 5-row frame broadcasts into one conditional "
        "aggregate over the day-bounded series.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "Rayleigh circular uniformity (hour clock)",
        QUERIES["rayleigh_hours"](spark, tiny),
        "ONE 24-key partial-aggregable shuffle; cos/sin are plan "
        "literals indexed by element_at — no runtime trig, no join.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "Watson U^2 circular omnibus (hour clock)",
        QUERIES["watson_u2"](spark, tiny),
        "24-key shuffle + literal 24-row grid left join (missing hours "
        "count in the CDF); two 24-row window passes; one global "
        "aggregate. The grid join broadcasts.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    sections.append(summarize(
        "Fleiss' kappa (3 binary raters per user)",
        QUERIES["fleiss_kappa"](spark, tiny),
        "One user groupBy then ONE global 3-sum aggregate; all "
        "partial-aggregable, no joins.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "rich-club coefficient (tool co-usage)",
        QUERIES["rich_club"](spark, tiny),
        "Degree count + two node-keyed joins decorate edges once; the "
        "4 thresholds ride a constant explode into one groupBy(k) — "
        "never a re-scan per threshold.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    sections.append(summarize(
        "Spiegelhalter calibration Z",
        QUERIES["spiegelhalter"](spark, tiny),
        "Forecast dim = tiny event_type table broadcast into the "
        "held-out half; ONE global integer aggregate.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "OLS influence top-k (leverage + Cook's D)",
        QUERIES["ols_influence"](spark, tiny),
        "Two 1-row broadcast crossJoins (5-moment stats, then s^2); "
        "top-20 is TakeOrdered, never a full driver sort.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "embedding linear-MMD^2 (label groups)",
        QUERIES["embedding_mmd"](spark, tiny),
        "One posexplode + ONE groupBy(dim) with conditional sums — "
        "shuffle O(dims), never O(rows); dims-row final aggregate.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "Page-Hinkley drift sequence",
        QUERIES["page_hinkley"](spark, tiny),
        "Corpus-sized stage is the daily groupBy; the trajectory is "
        "two window passes over the bounded day frame.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "Hoeffding's D (bounded exact meter)",
        QUERIES["hoeffding_d"](spark, tiny),
        "Per-user aggregate frame, fail-fast capped; ONE single-group "
        "Arrow kernel emits tie-broken ranks; D1/D2/D3 moments "
        "aggregate order-free in Catalyst.",
        forbid=("CartesianProduct", "BatchEvalPython"),
    ))

    sections.append(summarize(
        "Breusch-Pagan heteroscedasticity",
        QUERIES["breusch_pagan"](spark, tiny),
        "ols_influence residual algebra + one more global aggregate; "
        "1-row moment broadcast; assortativity-convention IEEE "
        "release.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "Taylor's law (fluctuation scaling)",
        QUERIES["taylor_law"](spark, tiny),
        "One (group, day) groupBy + one group-level aggregate + one "
        "slope aggregate over the tiny group frame; ln only of "
        "pre-quantized integers.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "Kupiec POF coverage backtest",
        QUERIES["kupiec_pof"](spark, tiny),
        "Distinct-value cumulative frame for the exact order-statistic "
        "threshold (shuffle bounded by value cardinality); 1-row "
        "threshold broadcast into one conditional aggregate.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    sections.append(summarize(
        "Gwet AC1 (binary raters)",
        QUERIES["gwet_ac1"](spark, tiny),
        "Identical shape to Fleiss: one user groupBy then ONE global "
        "3-sum aggregate; only the chance term differs.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "Dickey-Fuller unit root",
        QUERIES["dickey_fuller"](spark, tiny),
        "Corpus collapses in the daily groupBy; one lag window + one "
        "6-moment aggregate over the bounded day frame; release is "
        "pure integer floor division.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "seasonal Mann-Kendall",
        QUERIES["seasonal_mann_kendall"](spark, tiny),
        "Season rides the bounded day-frame pair join as an EQUI key "
        "(never cartesian); 1-row S/ties/n crossJoins per the MK "
        "convention.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    sections.append(summarize(
        "average precision (PR-AUC)",
        QUERIES["average_precision"](spark, tiny),
        "Same collapsed |distinct scores| shape as the ROC table: one "
        "partial-aggregable groupBy, the ordered pass only over that "
        "frame, one global floor.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "Youden J operating point",
        QUERIES["youden_j"](spark, tiny),
        "roc_curve_points frame + one rank window over the bounded "
        "threshold table; top-1 row out.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "Chao1 / jackknife richness floors",
        QUERIES["richness"](spark, tiny),
        "Two partial-aggregable groupBys (words, then one global "
        "4-sum); no joins at all.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "Lorenz asymmetry coefficient",
        QUERIES["lorenz_asymmetry"](spark, tiny),
        "One 1-row (n, total) broadcast + one conditional global "
        "aggregate; the below-mean predicate is integer n*v < T.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "Theil U forecast decomposition",
        QUERIES["forecast_decomp"](spark, tiny),
        "Daily groupBy collapses the corpus; one lag window + one "
        "8-moment aggregate over the bounded day frame.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas", "SortMergeJoin"),
    ))

    sections.append(summarize(
        "generalized ESD removal trajectory",
        QUERIES["rosner_esd"](spark, tiny),
        "k=3 unrolled rounds: three 1-row-broadcast aggregates + three "
        "top-1 TakeOrdereds over the bounded per-entity frame; each "
        "round checkpointed so the trajectory is materialized once.",
        forbid=("CartesianProduct", "BatchEvalPython",
                "FlatMapGroupsInPandas", "MapInPandas"),
    ))

    out = Path(__file__).resolve().parent.parent / "PLANS.md"
    out.write_text("\n".join(sections))
    print(f"wrote {out}")
    spark.stop()


if __name__ == "__main__":
    main()
