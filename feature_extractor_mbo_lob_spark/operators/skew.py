"""Skew handling: chunked window computation with carry-in state.

Window.partitionBy(conv_id) puts an entire conversation in ONE task — a
10M-turn conversation becomes a straggler that caps cluster scaling (AQE
skew-join splitting does not help Window execs). The north rule calls for
salted repartitioning of skewed long conversations; the exact construction
(SURVEY §4 "custom work") is:

1. chunk: rows go to (conv_id, chunk_id = turn_idx // chunk_turns) — turn_idx
   is dense per conversation (input_hint), so chunking needs NO window;
2. context: the last (max_window - 1) turns of chunk k-1 are COPIED into
   chunk k flagged is_context — trailing frames and lags of real rows then
   see exactly their true predecessors;
3. bounded-lookback features (rolling frames, lag/dt, session-start flags)
   are computed by the UNCHANGED rolling operator, just keyed on the chunk —
   bit-identical to the unchunked plan;
4. cumulative features get carry-in: within-chunk cumulative sums MASK the
   context rows to zero, a tiny per-(conv, chunk) partial table gets
   exclusive prefix sums over chunks, and a broadcast join adds the carries
   back. Sums here are integer-valued (counts, char volumes, epoch-us), so
   re-association is exact — the chunked output equals build_features
   bit-for-bit (tested in tests/test_skew.py).

Cost: 2 small shuffles of the big table (chunked repartition + nothing else;
the carry table is tiny) instead of one straggler task.
"""

from __future__ import annotations

import dataclasses

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..contract import DIVISION_GUARD_EPS, SCHEMA_VERSION
from . import ordering, rolling

CHUNK_KEY = "_chunk_key"


def add_chunks(df: DataFrame, cfg: PipelineConfig, chunk_turns: int,
               back_context: int, fwd_context: int = 0) -> DataFrame:
    """Split conversations into chunks with back-context copies (and,
    optionally, forward-context copies for forward-frame consumers like
    TLOB label smoothers).

    Requires dense 0-based turn_idx per conversation (the transcript
    contract). Adds CHUNK_KEY and _ctx (1 on copied context rows).
    """
    chunk = (F.col("turn_idx") / chunk_turns).cast("long")
    real = df.withColumn("_chunk", chunk).withColumn("_ctx", F.lit(0))
    # only materialize context into chunks that exist: per-conv max chunk is
    # a map-side-combined groupBy (tiny) broadcast back — NOT a window over
    # the conversation, which would recreate the straggler
    max_chunks = df.groupBy(cfg.key_col).agg(F.max(chunk).alias("_max_chunk"))
    ctx = (
        df.join(F.broadcast(max_chunks), on=cfg.key_col)
        .withColumn("_chunk", chunk + 1)
        .withColumn("_ctx", F.lit(1))
        .filter(
            (F.pmod(F.col("turn_idx"), F.lit(chunk_turns)) >= chunk_turns - back_context)
            & (F.col("_chunk") <= F.col("_max_chunk"))
        )
        .drop("_max_chunk")
    )
    out = real.unionByName(ctx)
    if fwd_context > 0:
        # first fwd_context turns of chunk k+1 copied into chunk k: forward
        # frames (label smoothers reach h rows ahead) of real rows then see
        # their true successors at the chunk boundary
        fctx = (
            df.withColumn("_chunk", chunk - 1)
            .withColumn("_ctx", F.lit(1))
            .filter(
                (F.pmod(F.col("turn_idx"), F.lit(chunk_turns)) < fwd_context)
                & (F.col("_chunk") >= 0)
            )
        )
        out = out.unionByName(fctx)
    return out.withColumn(
        CHUNK_KEY, F.concat_ws("#", F.col(cfg.key_col), F.col("_chunk").cast("string"))
    )


def build_features_skewed(df: DataFrame, cfg: PipelineConfig,
                          chunk_turns: int | None = None,
                          with_labels: bool = False,
                          price_col: str = "char_len") -> DataFrame:
    """Drop-in replacement for plans.build_features for skewed corpora:
    identical output columns and values, bounded per-task work.

    chunk_turns defaults to cfg.skew_max_turns_per_task. with_labels=True
    additionally computes TLOB labels inside the same chunked cascade
    (forward-context rows make the chunk-boundary label frames exact), so
    the skewed flagship needs NO second pass or alignment join.
    """
    chunk_turns = chunk_turns or cfg.skew_max_turns_per_task
    wmax = max(cfg.window_sizes)
    # context depth = (frame length - 1) + 1 extra row so that lag-derived
    # per-row values (role_flip, dt) of every in-frame context row are exact
    back_context = max(wmax, cfg.labels.smoothing_k)
    fwd_context = cfg.labels.horizon if with_labels else 0
    if chunk_turns <= back_context:
        raise ValueError("chunk_turns must exceed the largest rolling window")

    chunked = add_chunks(df, cfg, chunk_turns, back_context=back_context,
                         fwd_context=fwd_context)
    ccfg = dataclasses.replace(cfg, key_col=CHUNK_KEY)

    w = ordering.stable_window(ccfg)
    cum = ordering.cumulative(ccfg)
    us = ordering.epoch_us(cfg.ts_col)

    # --- bounded-lookback block (exact via context rows) --------------------
    char_len = F.coalesce(F.length("text"), F.lit(0)).cast("double")
    prev_us = F.lag(us).over(w)
    gap_us = int(cfg.session_gap_s * 1e6)
    # session start: first turn of the CONVERSATION or gap exceeded — the
    # context row provides the true predecessor at chunk boundaries
    is_start = F.when(
        (prev_us.isNull() & (F.col("turn_idx") == 0)) | ((us - prev_us) > gap_us),
        F.lit(1.0),
    ).otherwise(F.lit(0.0))

    mask = (F.col("_ctx") == 0).cast("double")
    base = chunked.select(
        "*",
        char_len.alias("char_len"),
        F.coalesce((us - prev_us) / F.lit(1e6), F.lit(0.0)).cast("double").alias("dt_seconds"),
        is_start.alias("is_session_start"),
        # masked within-chunk cumulative partials (context contributes 0)
        F.sum(mask).over(cum).alias("_wc_turns"),
        F.sum(mask * (F.col("role") == "user").cast("double")).over(cum).alias("_wc_user"),
        F.sum(mask * (F.col("role") == "assistant").cast("double")).over(cum).alias("_wc_assistant"),
        F.sum(mask * (F.col("role") == "tool").cast("double")).over(cum).alias("_wc_tool"),
        F.sum(mask * char_len).over(cum).alias("_wc_chars"),
        F.sum(mask * is_start).over(cum).alias("_wc_starts"),
        us.alias("_row_us"),
    )

    # rolling features: UNCHANGED operators, chunk-keyed — frames of real
    # rows are exact because context rows are their true predecessors.
    # Frame-bound features (order stats + feature-58 flow vol) ride the
    # pandas bucket stage keyed on the CHUNK key, so task size stays bounded.
    from . import order_stats as os_mod

    base = os_mod.with_order_stats_pandas(base, ccfg)
    rolled = rolling.with_rolling_features(base, ccfg)

    if with_labels:
        from ..labeling import tlob_labels

        rolled = tlob_labels(
            rolled, ccfg,
            price_col=("char_len" if price_col == "char_len" else price_col),
        )

    # --- carry-in for cumulative state --------------------------------------
    partials = (
        rolled.filter(F.col("_ctx") == 0)
        .groupBy(cfg.key_col, "_chunk")
        .agg(
            F.max("_wc_turns").alias("p_turns"),
            F.max("_wc_user").alias("p_user"),
            F.max("_wc_assistant").alias("p_assistant"),
            F.max("_wc_tool").alias("p_tool"),
            F.max("_wc_chars").alias("p_chars"),
            F.max("_wc_starts").alias("p_starts"),
            F.min("_row_us").alias("p_first_us"),
        )
    )
    wprev = (
        Window.partitionBy(cfg.key_col)
        .orderBy("_chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carries = partials.select(
        cfg.key_col,
        "_chunk",
        F.coalesce(F.sum("p_turns").over(wprev), F.lit(0.0)).alias("c_turns"),
        F.coalesce(F.sum("p_user").over(wprev), F.lit(0.0)).alias("c_user"),
        F.coalesce(F.sum("p_assistant").over(wprev), F.lit(0.0)).alias("c_assistant"),
        F.coalesce(F.sum("p_tool").over(wprev), F.lit(0.0)).alias("c_tool"),
        F.coalesce(F.sum("p_chars").over(wprev), F.lit(0.0)).alias("c_chars"),
        F.coalesce(F.sum("p_starts").over(wprev), F.lit(0.0)).alias("c_starts"),
        # conversation-global first timestamp: prefix-min over chunks
        F.min("p_first_us").over(
            Window.partitionBy(cfg.key_col)
            .orderBy("_chunk")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("c_first_us"),
    )

    out = rolled.filter(F.col("_ctx") == 0).join(
        F.broadcast(carries), on=[cfg.key_col, "_chunk"], how="left"
    )

    turns = F.col("_wc_turns") + F.col("c_turns")
    u = F.col("_wc_user") + F.col("c_user")
    a = F.col("_wc_assistant") + F.col("c_assistant")
    t_ = F.col("_wc_tool") + F.col("c_tool")

    from . import state as state_mod

    out = out.select(
        "*",
        F.col("turn_idx").cast("double").alias("turn_pos"),
        turns.cast("double").alias("turns_so_far"),
        u.cast("double").alias("user_turns_so_far"),
        a.cast("double").alias("assistant_turns_so_far"),
        t_.cast("double").alias("tool_turns_so_far"),
        (F.col("_wc_chars") + F.col("c_chars")).cast("double").alias("chars_so_far"),
        ((F.col("_row_us") - F.col("c_first_us")) / F.lit(1e6)).cast("double").alias("secs_since_start"),
        ((u - a) / (u + a + F.lit(DIVISION_GUARD_EPS))).cast("double").alias("net_role_flow"),
        ((t_ - (u + a)) / (turns + F.lit(DIVISION_GUARD_EPS))).cast("double").alias("net_tool_flow"),
        (turns >= F.lit(float(cfg.warmup_turns))).cast("double").alias("session_ready"),
        F.lit(float(SCHEMA_VERSION)).alias("schema_version"),
        ((F.col("_wc_starts") + F.col("c_starts")) - 1).cast("double").alias("session_id"),
        state_mod.time_regime_col(cfg).alias("time_regime"),
    )

    drop = [c for c in out.columns if c.startswith(("_wc_", "c_", "p_"))] + [
        "_chunk", "_ctx", CHUNK_KEY, "_row_us"
    ]
    return out.drop(*[c for c in drop if c in out.columns])


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    row_col: str,
    n_salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi join: hot-key rows of the BIG left side are spread
    across ``n_salt`` tasks by salting the join key; the small right side
    is replicated once per salt value. Same rows as the plain join (the
    salt is derived, joined on, then dropped) — tested against it.

    AQE's skew-join split handles most cases at runtime; explicit salting
    is the deterministic fallback when one key dominates a shuffle (the
    north rule's mega-conversation case) or when AQE is off (streaming
    micro-batches, some managed runtimes). The left's salt comes from
    xxhash64 of ``row_col`` (any column unique-ish per row — event id,
    turn idx), so placement is deterministic, not random.

    Cost: right side x n_salt rows (keep it the broadcast-small side);
    the big side is shuffled once on (key, salt) with the hot key now in
    n_salt partitions instead of one.
    """
    salts = F.array(*[F.lit(i) for i in range(n_salt)])
    l = left.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(row_col)), F.lit(n_salt)).cast("int")
    )
    r = right.withColumn("_salt", F.explode(salts))
    return l.join(r, [key, "_salt"], how).drop("_salt")


def fan_out_small_scan(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Scale-adaptive scan fan-out (optimization guide §2.5, "input skew:
    one huge unsplittable file ... repartition immediately after the read").

    A small input — e.g. one sub-row-group parquet file — scans as ONE task,
    which serializes every compute-heavy map stage built on it (shingle
    explodes feeding 16 md5-min aggregations run single-threaded while 31
    cores idle). When the frame has fewer partitions than the session's
    default parallelism, round-robin repartition it to that parallelism; at
    real scale the input already has >= parallelism splits and this is a
    no-op — no shuffle is ever added where the data is large. Results are
    unchanged: every consumer is an order-free aggregation/join pipeline.
    """
    sc = df.sparkSession.sparkContext
    target = int(min_partitions or sc.defaultParallelism)
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
