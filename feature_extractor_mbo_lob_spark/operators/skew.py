"""Skew handling: chunk layout for mega conversations, salted joins and
small-scan fan-out.

A conversation is one group of the vectorized kernel's grouped-map stage
(plans/vectorized.py) — a 10M-turn conversation would be a straggler task
that caps cluster scaling and a memory spike. The north rule calls for
salted repartitioning of skewed long conversations; the exact construction
(SURVEY §4 "custom work") is:

1. chunk: rows go to (conv_id, chunk_id = turn_idx // chunk_turns) — turn_idx
   is dense per conversation (input_hint), so chunking needs NO window;
2. context: the last back_context turns of chunk k-1 and the first
   fwd_context turns of chunk k+1 are COPIED into chunk k flagged _ctx —
   trailing frames, lags and forward label frames of real rows then see
   exactly their true neighbours;
3. the kernel computes each chunk as one segment, and its cumulative lanes
   add a per-chunk carry (the lane sums of the earlier chunks, from a first
   kernel pass over the chunks) — plans.vectorized.kernel_routed. Sums are
   integer-valued (counts, char volumes, epoch-us), so re-association is
   exact and the chunked rows equal the unchunked ones bit-for-bit (tested
   in tests/test_skew.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import PipelineConfig

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
