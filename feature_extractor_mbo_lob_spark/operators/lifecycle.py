"""Tool-call lifecycle pairing — transcript analog of the reference's order
lifecycle tracker (reference: src/features/mbo_features/order_tracker.rs:149-223:
BTreeMap of open orders, Add paired with Cancel/final-Trade, completed-order
ring buffers feeding lifetime / fill-ratio / modification stats).

Transcript semantics (frozen for the oracle):
* an INVOCATION is an assistant turn with a non-null tool;
* a RESULT is a tool-role turn with the same tool name in the same conv;
* FIFO pairing: the k-th invocation of tool T in a conversation pairs with
  the k-th result of T (rank equi join — distributed, no sequential state);
* episode stats: latency seconds, turns between, completion flag.

The "active at turn t" counters (order-tracker analog of active_order_count)
are cumulative starts minus cumulative completions over the stable order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import PipelineConfig
from . import ordering


def tool_episodes(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """One row per invocation: (conv_id, tool, episode_rank, invoke_turn_idx,
    invoke_ts, result_turn_idx?, result_ts?, latency_s?, gap_turns?,
    completed). Unmatched invocations keep NULL result columns."""
    inv = df.filter((F.col("role") == "assistant") & F.col("tool").isNotNull())
    res = df.filter((F.col("role") == "tool") & F.col("tool").isNotNull())

    wk = Window.partitionBy(cfg.key_col, "tool").orderBy(*cfg.order_cols)
    inv = inv.select(
        F.col(cfg.key_col),
        F.col("tool"),
        F.row_number().over(wk).alias("episode_rank"),
        F.col("turn_idx").alias("invoke_turn_idx"),
        F.col(cfg.ts_col).alias("invoke_ts"),
    )
    res = res.select(
        F.col(cfg.key_col),
        F.col("tool"),
        F.row_number().over(wk).alias("episode_rank"),
        F.col("turn_idx").alias("result_turn_idx"),
        F.col(cfg.ts_col).alias("result_ts"),
    )
    ep = inv.join(res, on=[cfg.key_col, "tool", "episode_rank"], how="left")
    lat_us = F.unix_micros(F.col("result_ts").cast("timestamp")) - F.unix_micros(
        F.col("invoke_ts").cast("timestamp")
    )
    return ep.select(
        "*",
        # integer microseconds kept alongside: aggregates over it are exact
        # (sums of ints < 2^53), which keeps cross-engine parity bit-stable
        F.when(F.col("result_turn_idx").isNotNull(), lat_us).cast("long").alias("latency_us"),
        F.when(F.col("result_turn_idx").isNotNull(), lat_us / 1e6).cast("double").alias("latency_s"),
        (F.col("result_turn_idx") - F.col("invoke_turn_idx")).cast("int").alias("gap_turns"),
        F.col("result_turn_idx").isNotNull().cast("int").alias("completed"),
    )


def episode_stats(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Per-conversation lifecycle aggregates (reference analog: features
    76-83, lifecycle_features.rs): episode counts, completion ratio, mean /
    median latency of completed episodes."""
    ep = tool_episodes(df, cfg)
    return ep.groupBy(cfg.key_col).agg(
        F.count(F.lit(1)).alias("n_episodes"),
        F.sum("completed").cast("long").alias("n_completed"),
        F.avg("completed").cast("double").alias("completion_ratio"),
        # aggregate exact integer micros, convert once — order-independent
        (F.avg("latency_us") / 1e6).cast("double").alias("mean_latency_s"),
        (F.percentile("latency_us", F.lit(0.5)) / 1e6).cast("double").alias("median_latency_s"),
        F.avg("gap_turns").cast("double").alias("mean_gap_turns"),
    )


def episode_modifications(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """tool_episodes plus a ``mods`` column: the number of re-invocations of
    the same tool while the episode was open (assistant turns with tool T in
    the open interval (invoke_turn, result_turn)) — the transcript analog of
    per-order modification counts (reference: completed_modifications,
    src/features/mbo_features/order_tracker.rs + institutional_features.rs:55-63).

    Computed without a range join: in the per-(conv, tool) ordered event
    stream, cum_inv(result turn) counts invocations before the result, so
    mods_k = cum_inv(r_k) - k for the k-th completed episode.
    """
    is_inv = (F.col("role") == "assistant") & F.col("tool").isNotNull()
    is_res = (F.col("role") == "tool") & F.col("tool").isNotNull()
    evt = df.filter(is_inv | is_res)
    wk = Window.partitionBy(cfg.key_col, "tool").orderBy(*cfg.order_cols)
    cum = wk.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    evt = evt.withColumn("_cum_inv", F.sum(is_inv.cast("long")).over(cum))

    inv = evt.filter(is_inv).select(
        F.col(cfg.key_col),
        F.col("tool"),
        F.row_number().over(wk).alias("episode_rank"),
        F.col("turn_idx").alias("invoke_turn_idx"),
        F.col(cfg.ts_col).alias("invoke_ts"),
    )
    res = evt.filter(is_res).select(
        F.col(cfg.key_col),
        F.col("tool"),
        F.row_number().over(wk).alias("episode_rank"),
        F.col("turn_idx").alias("result_turn_idx"),
        F.col(cfg.ts_col).alias("result_ts"),
        (F.col("_cum_inv") - F.row_number().over(wk)).cast("long").alias("mods"),
    )
    ep = inv.join(res, on=[cfg.key_col, "tool", "episode_rank"], how="left")
    lat_us = F.unix_micros(F.col("result_ts").cast("timestamp")) - F.unix_micros(
        F.col("invoke_ts").cast("timestamp")
    )
    return ep.select(
        "*",
        F.when(F.col("result_turn_idx").isNotNull(), lat_us).cast("long").alias("latency_us"),
        F.col("result_turn_idx").isNotNull().cast("int").alias("completed"),
    )


def with_lifecycle_point_in_time(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Point-in-time lifecycle stats at EVERY turn (reference features 76-78,
    81: modification score, iceberg proxy, average active-order age, average
    time-to-first-fill — lifecycle_features.rs:29-80,
    institutional_features.rs:55-71), computed with cumulative sums over the
    stable conversation order; no per-row state, one extra broadcast-size
    join of result-turn attributes.

    Added columns (all double):
    * active_episodes     — open invocations (starts - matched completions)
    * active_age_mean_s   — mean age in seconds of open invocations, 0 if none
      (sum of open invoke timestamps via cumsum(invoke_us) - cumsum(matched
      invoke_us at result turns))
    * ttf_result_mean_s   — running mean latency of completed episodes (81)
    * mod_score           — running mean re-invocations per completed episode (76)
    * iceberg_proxy       — completion_ratio_so_far * min(mod_score/10, 1) (77)
    """
    ep = episode_modifications(df, cfg).filter(F.col("completed") == 1).select(
        F.col(cfg.key_col),
        F.col("result_turn_idx").alias("turn_idx"),
        F.unix_micros(F.col("invoke_ts").cast("timestamp")).alias("_m_inv_us"),
        F.col("latency_us").alias("_m_lat_us"),
        F.col("mods").alias("_m_mods"),
    )
    out = df.join(ep, on=[cfg.key_col, "turn_idx"], how="left")

    cum = ordering.cumulative(cfg)
    us = ordering.epoch_us(cfg.ts_col)
    is_inv = ((F.col("role") == "assistant") & F.col("tool").isNotNull()).cast("long")
    matched = F.col("_m_inv_us").isNotNull().cast("long")

    n_started = F.sum(is_inv).over(cum)
    n_done = F.sum(matched).over(cum)
    n_open = n_started - n_done
    open_sum_us = (
        F.sum(is_inv * us).over(cum)
        - F.sum(F.coalesce(F.col("_m_inv_us"), F.lit(0)).cast("long")).over(cum)
    )
    lat_sum = F.sum(F.coalesce(F.col("_m_lat_us"), F.lit(0)).cast("long")).over(cum)
    mods_sum = F.sum(F.coalesce(F.col("_m_mods"), F.lit(0)).cast("long")).over(cum)

    age = F.when(
        n_open > 0, ((n_open * us - open_sum_us) / n_open) / F.lit(1e6)
    ).otherwise(F.lit(0.0))
    ttf = F.when(n_done > 0, (lat_sum / n_done) / F.lit(1e6)).otherwise(F.lit(0.0))
    mod_score = F.when(n_done > 0, mods_sum / n_done).otherwise(F.lit(0.0))
    ratio = F.when(n_started > 0, n_done / n_started).otherwise(F.lit(0.0))
    iceberg = ratio * F.least(mod_score / 10.0, F.lit(1.0))
    # feature 82 analog (cancel_to_add_ratio, lifecycle_features.rs:89-105):
    # results/invocations, 1.0 when no activity, capped at 10
    r2i = (
        F.when((n_started == 0) & (n_done == 0), F.lit(1.0))
        .when(n_started == 0, F.lit(10.0))
        .otherwise(F.least(n_done / n_started, F.lit(10.0)))
    )

    return out.select(
        "*",
        n_open.cast("double").alias("active_episodes"),
        age.cast("double").alias("active_age_mean_s"),
        ttf.cast("double").alias("ttf_result_mean_s"),
        mod_score.cast("double").alias("mod_score"),
        iceberg.cast("double").alias("iceberg_proxy"),
        r2i.cast("double").alias("result_to_invoke_ratio"),
        # raw int64 state, exported so downstream canonicalization can stay
        # in exact integer space (never float-round big-magnitude quotients)
        n_started.cast("long").alias("pit_n_started"),
        n_done.cast("long").alias("pit_n_done"),
        (n_open * us - open_sum_us).cast("long").alias("pit_age_sum_us"),
        lat_sum.cast("long").alias("pit_lat_sum_us"),
        mods_sum.cast("long").alias("pit_mods_sum"),
    ).drop("_m_inv_us", "_m_lat_us", "_m_mods")


def with_active_episode_count(df: DataFrame, cfg: PipelineConfig,
                              out: str = "active_episodes") -> DataFrame:
    """Point-in-time open-episode count at every turn: cumulative invocation
    starts minus cumulative results (reference analog: active_order_count,
    lifecycle_features.rs:25). Computed without a join — two conditional
    cumulative sums over the stable order."""
    cum = ordering.cumulative(cfg)
    starts = F.sum(
        ((F.col("role") == "assistant") & F.col("tool").isNotNull()).cast("double")
    ).over(cum)
    ends = F.sum(
        ((F.col("role") == "tool") & F.col("tool").isNotNull()).cast("double")
    ).over(cum)
    return df.withColumn(out, F.greatest(starts - ends, F.lit(0.0)).cast("double"))


def with_open_tool_queue(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Queue/depth feature analogs (reference features 68-73,
    src/features/mbo_features/queue_features.rs): per-turn statistics over
    the multiset of currently-open tool episodes —

    * ``n_active_tools``: distinct tools with >=1 open episode (depth
      levels occupied / depth_ticks analog);
    * ``total_open``: open episodes across tools (queue size);
    * ``open_tool_hhi``: concentration of open episodes across tools
      (level_concentration analog);
    * ``episodes_per_active_tool``: total_open / n_active_tools
      (orders_per_level analog).

    O(events) construction with NO dense turn x tool grid: per (conv,
    tool) the clamped-at-zero open count obeys Skorokhod reflection —
    clamped_before = raw_cumsum_before - min(0, running_min_before of
    raw_cumsum) — so the pre-event open count `ob` is pure window algebra.
    Each event then contributes exact integer deltas (an invoke moves the
    per-tool count o -> o+1, changing sum-of-squares by 2o+1; an effective
    result moves o -> o-1, changing it by -2o+1; results hitting an empty
    queue are ignored, exactly like cancels for unknown orders in the
    reference tracker). Cumulative sums of the deltas over the
    conversation window yield the per-turn aggregates. Two shuffles total:
    (conv, tool), then conv.
    """
    key, order = cfg.key_col, list(cfg.order_cols)
    is_inv = (F.col("role") == "assistant") & F.col("tool").isNotNull()
    is_res = (F.col("role") == "tool") & F.col("tool").isNotNull()
    sign = F.when(is_inv, 1).when(is_res, -1).otherwise(0)

    wt = Window.partitionBy(key, "tool").orderBy(*order)
    wt_cum = wt.rowsBetween(Window.unboundedPreceding, 0)
    wt_bef = wt.rowsBetween(Window.unboundedPreceding, -1)

    t = df.withColumn("_sgn", sign)
    t = t.withColumn("_s", F.sum("_sgn").over(wt_cum))
    t = t.withColumn(
        "_m", F.coalesce(F.min(F.least(F.col("_s"), F.lit(0))).over(wt_bef), F.lit(0))
    )
    ob = (F.col("_s") - F.col("_sgn")) - F.col("_m")
    t = t.withColumn("_ob", ob)
    eff_res = (F.col("_sgn") == -1) & (F.col("_ob") > 0)
    t = t.select(
        "*",
        F.when(F.col("_sgn") == 1, 1).when(eff_res, -1).otherwise(0).alias("_d_open"),
        F.when(F.col("_sgn") == 1, 2 * F.col("_ob") + 1)
        .when(eff_res, -2 * F.col("_ob") + 1)
        .otherwise(0)
        .alias("_d_ssq"),
        F.when((F.col("_sgn") == 1) & (F.col("_ob") == 0), 1)
        .when(eff_res & (F.col("_ob") == 1), -1)
        .otherwise(0)
        .alias("_d_nt"),
    )
    wc = Window.partitionBy(key).orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    t = t.select(
        key,
        "turn_idx",
        F.sum("_d_open").over(wc).cast("long").alias("total_open"),
        F.sum("_d_nt").over(wc).cast("long").alias("n_active_tools"),
        F.sum("_d_ssq").over(wc).cast("long").alias("_ssq"),
    )
    hhi = F.when(
        F.col("total_open") > 0,
        F.col("_ssq").cast("double") / (F.col("total_open") * F.col("total_open")).cast("double"),
    ).otherwise(F.lit(0.0))
    per_tool = F.when(
        F.col("n_active_tools") > 0,
        F.col("total_open").cast("double") / F.col("n_active_tools").cast("double"),
    ).otherwise(F.lit(0.0))
    return t.select(
        key, "turn_idx", "n_active_tools", "total_open",
        hhi.alias("open_tool_hhi"),
        per_tool.alias("episodes_per_active_tool"),
    )


def tool_retry_stats(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Per-conversation tool-retry trajectory features: how often the agent
    re-invokes the SAME tool on consecutive tool turns (the retry/flail
    signature), per conversation.

    * ``n_tool_calls`` — tool turns (tool is not null);
    * ``n_retries`` — tool turns whose previous tool turn (in stable order,
      within the conversation) used the same tool;
    * ``retry_rate`` — n_retries / n_tool_calls;
    * ``max_retry_streak`` — longest consecutive same-tool run (a streak of
      k same-tool calls counts k-1 retries, so this is the worst flail).

    One window over tool turns only (same conv-keyed sort every lifecycle
    operator shares) + one grouped aggregate. Conversations with zero tool
    calls are absent (nothing to measure).

    Reference analog: order-modification counting in
    src/features/lifecycle_features.rs (re-submission of the same order id).
    """
    key = cfg.key_col
    w = Window.partitionBy(key).orderBy(*cfg.order_cols)
    tools = df.filter(F.col("tool").isNotNull()).select(
        key, *cfg.order_cols, "tool"
    )
    t = tools.withColumn(
        "is_retry", (F.col("tool") == F.lag("tool").over(w)).cast("int")
    ).withColumn(
        # gaps-and-islands: new group whenever the tool changes
        "grp",
        F.sum(
            F.when(F.coalesce(F.col("is_retry"), F.lit(0)) == 0, 1).otherwise(0)
        ).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    streaks = t.groupBy(key, "grp").agg(F.count("*").alias("run_len"))
    per_conv_streak = streaks.groupBy(key).agg(
        F.max("run_len").cast("long").alias("max_retry_streak")
    )
    per_conv = t.groupBy(key).agg(
        F.count("*").cast("long").alias("n_tool_calls"),
        F.sum(F.coalesce(F.col("is_retry"), F.lit(0))).cast("long").alias("n_retries"),
    )
    out = per_conv.join(per_conv_streak, key)
    return out.withColumn(
        "retry_rate",
        F.floor(
            F.col("n_retries").cast("double")
            / F.col("n_tool_calls").cast("double")
            * F.lit(1e6)
            + F.lit(0.5)
        )
        / F.lit(1e6),
    )


def tool_attribution(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Conversation-value attribution across the tools a conversation used
    — first-touch, last-touch, and linear attribution, the standard
    credit-assignment triple.

    Per conversation: total value in exact integer cents; the first and
    last tool turns (stable order) get full credit under first/last touch;
    linear credit splits `conv_cents * n_tool_turns(tool) div n_tool_turns`
    with integer division (remainders dropped identically on both
    engines). Output per tool: the three credited sums.

    Two grouped aggregates + one window over tool turns — digests/counters
    shuffle only. Ref analog: per-venue fill attribution in the
    reference's execution reports (src/features/signals).
    """
    key = cfg.key_col
    cents = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
    conv_val = df.groupBy(key).agg(
        F.sum(cents).cast("long").alias("conv_cents")
    )
    tools = df.filter(F.col("tool").isNotNull()).select(
        key, *cfg.order_cols, "tool"
    )
    w = Window.partitionBy(key).orderBy(*cfg.order_cols)
    # is_last derives from rk_a == max(rk_a) over the key partition — the
    # ascending sort is reused, no second (descending) window sort
    marked = tools.withColumn("rk_a", F.row_number().over(w)).withColumn(
        "rk_last", F.max("rk_a").over(Window.partitionBy(key))
    )
    per_conv_tool = marked.groupBy(key, "tool").agg(
        F.count("*").cast("long").alias("n_tt"),
        F.max((F.col("rk_a") == 1).cast("int")).alias("is_first"),
        F.max((F.col("rk_a") == F.col("rk_last")).cast("int")).alias("is_last"),
    )
    totals = marked.groupBy(key).agg(
        F.count("*").cast("long").alias("n_tt_total")
    )
    j = per_conv_tool.join(totals, key).join(conv_val, key)
    return j.groupBy("tool").agg(
        F.sum(F.col("is_first") * F.col("conv_cents")).cast("long")
        .alias("first_touch_cents"),
        F.sum(F.col("is_last") * F.col("conv_cents")).cast("long")
        .alias("last_touch_cents"),
        F.sum(F.expr("conv_cents * n_tt div n_tt_total")).cast("long")
        .alias("linear_cents"),
        F.countDistinct(key).cast("long").alias("n_convs"),
    )
