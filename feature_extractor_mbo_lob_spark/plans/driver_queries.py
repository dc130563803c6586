"""Driver-facing query registry: every implemented operator exposed as a
(spark, sf_dir) -> DataFrame callable plus an ANSI-SQL DuckDB oracle twin.

Conventions that make the driver's order-insensitive value-hash match:
* every float output column is round(x, 6) on BOTH sides,
* every computed column is aliased identically on both sides,
* label/count columns are cast to int/bigint consistently,
* the transcript mapping of the events table is defined ONCE
  (sources.transcripts.ORACLE_TRANSCRIPTS_CTE) and reused verbatim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import LabelConfig, PipelineConfig
from ..contract import DIVISION_GUARD_EPS, MIN_DURATION_S
from ..labeling import tlob_labels
from ..operators import asof, order_stats, ordering, sampling, state, rolling
from ..sources.transcripts import ORACLE_TRANSCRIPTS_CTE, transcripts_from_events

CFG = PipelineConfig(
    window_sizes=(8, 32, 128),
    sample_every_n=4,
    volume_target=200.0,
    session_gap_s=1800.0,
    labels=LabelConfig(smoothing_k=2, horizon=5, threshold=0.01),
)

_W = "with " + ORACLE_TRANSCRIPTS_CTE

# stable-order window, reused by most oracles
_OWIN = "partition by conv_id order by turn_idx, ts"
_CUM = f"{_OWIN} rows between unbounded preceding and current row"


def _r6(c, name):
    return F.round(c, 6).alias(name)


def _r6x(c, name):
    """Boundary-exact 6-decimal canonicalization: floor(x*1e6 + 0.5)/1e6.

    Spark's round() goes through BigDecimal.valueOf (shortest decimal
    string) + HALF_UP, which disagrees with DuckDB's correct rounding when
    the raw double sits a hair under a x.xxxxxx5 midpoint (observed for
    return ratios at sf0.1: -0.51031249999999995 -> Spark -0.510313,
    DuckDB -0.510312). This form is the SAME IEEE op sequence on both
    engines (multiply, add, floor, divide on identical operands), so the
    result is bit-identical by construction. SQL twin:
    floor(x * 1000000.0 + 0.5) / 1000000.0 (see _R6X_SQL).
    """
    return (F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias(name)


def _r6x_sql(expr: str) -> str:
    return f"floor(({expr}) * 1000000.0 + 0.5) / 1000000.0"


# --- 1. cumulative point-in-time state -------------------------------------

def q_state_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_from_events(spark, sf_dir)
    s = state.with_state_features(t, CFG)
    return s.select(
        "conv_id",
        "turn_idx",
        F.col("turns_so_far").cast("long").alias("turns_so_far"),
        F.col("user_turns_so_far").cast("long").alias("user_turns_so_far"),
        F.col("assistant_turns_so_far").cast("long").alias("assistant_turns_so_far"),
        F.col("tool_turns_so_far").cast("long").alias("tool_turns_so_far"),
        _r6(F.col("chars_so_far"), "chars_so_far"),
        _r6(F.col("dt_seconds"), "dt_seconds"),
        _r6(F.col("secs_since_start"), "secs_since_start"),
    )


O_STATE_CUMULATIVE = f"""{_W}
select conv_id, turn_idx,
  count(*) over cum                                         as turns_so_far,
  cast(sum(case when role = 'user' then 1 else 0 end) over cum as bigint)   as user_turns_so_far,
  cast(sum(case when role = 'assistant' then 1 else 0 end) over cum as bigint) as assistant_turns_so_far,
  cast(sum(case when role = 'tool' then 1 else 0 end) over cum as bigint)   as tool_turns_so_far,
  round(sum(cast(length(text) as double)) over cum, 6)      as chars_so_far,
  round(coalesce((epoch_us(ts) - lag(epoch_us(ts)) over w) / 1e6, 0.0), 6) as dt_seconds,
  round((epoch_us(ts) - first_value(epoch_us(ts)) over cum) / 1e6, 6) as secs_since_start
from transcripts
window w as ({_OWIN}), cum as ({_CUM})
"""


# --- 2. rolling window features --------------------------------------------

def q_rolling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_from_events(spark, sf_dir)
    cfg = PipelineConfig(window_sizes=(8,))
    s = state.with_state_features(t, cfg)
    s = rolling.with_rolling_features(order_stats.with_order_stats_pandas(s, cfg), cfg)
    return s.select(
        "conv_id",
        "turn_idx",
        _r6(F.col("turn_rate_w8"), "turn_rate"),
        _r6(F.col("char_mean_w8"), "char_mean"),
        _r6(F.col("char_std_w8"), "char_std"),
        _r6(F.col("char_zscore_w8"), "char_zscore"),
        _r6(F.col("char_hhi_w8"), "char_hhi"),
        _r6(F.col("char_p50_w8"), "char_p50"),
        _r6(F.col("user_frac_w8"), "user_frac"),
    )


O_ROLLING_WINDOW = f"""{_W},
t as (
  select conv_id, turn_idx, ts, role, cast(length(text) as double) as x
  from transcripts
)
select conv_id, turn_idx,
  round(count(*) over f / greatest((max(epoch_us(ts)) over f - min(epoch_us(ts)) over f) / 1e6, {MIN_DURATION_S}), 6) as turn_rate,
  round(avg(x) over f, 6)                                   as char_mean,
  round(sqrt(greatest(avg(x*x) over f - (avg(x) over f)*(avg(x) over f), 0.0)), 6) as char_std,
  round((x - avg(x) over f) / (sqrt(greatest(avg(x*x) over f - (avg(x) over f)*(avg(x) over f), 0.0)) + {DIVISION_GUARD_EPS}), 6) as char_zscore,
  round(case when sum(x) over f > 0
        then (sum(x*x) over f) / ((sum(x) over f)*(sum(x) over f)) else 0.0 end, 6) as char_hhi,
  round(cast(quantile_cont(x, 0.5) over f as double), 6)    as char_p50,
  round(sum(case when role='user' then 1.0 else 0.0 end) over f / count(*) over f, 6) as user_frac
from t
window f as ({_OWIN} rows between 7 preceding and current row)
"""


# --- 3. sessionization -------------------------------------------------------

def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_from_events(spark, sf_dir)
    s = state.with_sessions(state.with_state_features(t, CFG), CFG)
    return s.groupBy("conv_id").agg(
        (F.max("session_id") + 1).cast("long").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_turns"),
        _r6(F.count(F.lit(1)) / (F.max("session_id") + 1), "turns_per_session"),
    )


O_SESSION_STATS = f"""{_W},
t as (
  select conv_id, turn_idx, ts,
    case when lag(epoch_us(ts)) over w is null
           or epoch_us(ts) - lag(epoch_us(ts)) over w > {int(CFG.session_gap_s * 1e6)}
         then 1 else 0 end as is_start
  from transcripts
  window w as ({_OWIN})
)
select conv_id,
  cast(sum(is_start) as bigint)          as n_sessions,
  count(*)                               as n_turns,
  round(count(*) / cast(sum(is_start) as double), 6) as turns_per_session
from t group by conv_id
"""


# --- 4. event sampler + interval assignment ---------------------------------

def q_event_sampler_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_from_events(spark, sf_dir)
    t = t.withColumn("char_len", F.length("text").cast("double"))
    flagged = sampling.event_sample_flag(t, CFG, n=4)
    out = sampling.interval_aggregate(
        flagged,
        CFG,
        aggs=[
            F.sum("char_len").alias("interval_chars"),
            F.count(F.lit(1)).alias("interval_turns"),
        ],
    )
    return out.select(
        "conv_id",
        "turn_idx",
        _r6(F.col("interval_chars"), "interval_chars"),
        F.col("interval_turns").cast("long").alias("interval_turns"),
    )


O_EVENT_SAMPLER_INTERVAL = f"""{_W},
t as (
  select conv_id, turn_idx, ts, cast(length(text) as double) as char_len,
    row_number() over ({_OWIN}) as rn
  from transcripts
),
f as (
  select *,
    case when rn % 4 = 0 then 1 else 0 end as is_sample,
    coalesce(sum(case when rn % 4 = 0 then 1 else 0 end)
             over ({_OWIN} rows between unbounded preceding and 1 preceding), 0) as sample_id
  from t
),
g as (
  select conv_id, sample_id, sum(char_len) as interval_chars, count(*) as interval_turns
  from f group by conv_id, sample_id
)
select f.conv_id, f.turn_idx,
  round(g.interval_chars, 6) as interval_chars,
  g.interval_turns
from f join g using (conv_id, sample_id)
where f.is_sample = 1
"""


# --- 5. volume sampler (cumsum-bucket contract form) ------------------------

def q_volume_sampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_from_events(spark, sf_dir)
    t = t.withColumn("char_len", F.length("text").cast("double"))
    flagged = sampling.volume_sample_flag(t, CFG, target=200.0)
    return flagged.filter(F.col("is_sample") == 1).select("conv_id", "turn_idx")


O_VOLUME_SAMPLER = f"""{_W},
t as (
  select conv_id, turn_idx, ts,
    floor(sum(cast(length(text) as double)) over ({_CUM}) / 200.0) as bucket
  from transcripts
)
select conv_id, turn_idx
from (
  select conv_id, turn_idx,
         coalesce(lag(bucket) over ({_OWIN}), 0) as prev_bucket, bucket
  from t
) where prev_bucket < bucket
"""


# --- 6. TLOB labels ----------------------------------------------------------

def q_tlob_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_from_events(spark, sf_dir)
    lab = tlob_labels(t.withColumn("p", F.col("value")), CFG, price_col="p")
    return lab.filter(F.col("label").isNotNull()).select(
        "conv_id",
        "turn_idx",
        F.col("label").cast("int").alias("label"),
        _r6(F.col("label_pct_change"), "pct_change"),
    )


_K, _H, _TH = CFG.labels.smoothing_k, CFG.labels.horizon, CFG.labels.threshold
O_TLOB_LABELS = f"""{_W},
t as (
  select conv_id, turn_idx, ts, value as p from transcripts
),
l as (
  select conv_id, turn_idx,
    avg(p) over wm as w_minus, avg(p) over wp as w_plus,
    count(p) over wm as n_minus, count(p) over wp as n_plus
  from t
  window wm as ({_OWIN} rows between {_K} preceding and current row),
         wp as ({_OWIN} rows between {_H - _K} following and {_H} following)
)
select conv_id, turn_idx,
  cast(case when (w_plus - w_minus) / w_minus > {_TH} then 1
            when (w_plus - w_minus) / w_minus < -{_TH} then -1
            else 0 end as int)                      as label,
  round((w_plus - w_minus) / w_minus, 6)            as pct_change
from l
where n_minus = {_K + 1} and n_plus = {_K + 1} and w_minus != 0
"""


# --- 7. as-of join against a timeline ---------------------------------------

def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_from_events(spark, sf_dir)
    left = t.select("conv_id", "turn_idx", "ts")
    right = (
        t.filter(F.col("text").startswith("purchase"))
        .select("conv_id", "ts", F.col("value").alias("purchase_value"))
    )
    out = asof.asof_join(left, right, key="conv_id", ts="ts",
                         value_cols=["purchase_value"], direction="backward")
    return out.select(
        "conv_id", "turn_idx",
        _r6(F.col("purchase_value_asof"), "last_purchase_value"),
    )


O_ASOF_JOIN = f"""{_W},
l as (select conv_id, turn_idx, ts from transcripts),
r as (select conv_id, ts, value as purchase_value from transcripts
      where text like 'purchase%')
select l.conv_id, l.turn_idx,
  round(r.purchase_value, 6) as last_purchase_value
from l asof left join r on l.conv_id = r.conv_id and l.ts >= r.ts
"""


# --- 8. forward-fill imputation ----------------------------------------------

def q_ffill_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_from_events(spark, sf_dir)
    sparse = t.withColumn(
        "purchase_value",
        F.when(F.col("text").startswith("purchase"), F.col("value")),
    )
    out = asof.ffill(sparse, CFG, ["purchase_value"])
    return out.select(
        "conv_id", "turn_idx",
        _r6(F.col("purchase_value_ffill"), "purchase_value_ffill"),
    )


O_FFILL_IMPUTE = f"""{_W}
select conv_id, turn_idx,
  round(last_value(case when text like 'purchase%' then value end ignore nulls)
        over ({_CUM}), 6) as purchase_value_ffill
from transcripts
"""


# --- 9. TPC-H Q1 (grouped aggregation over lineitem) -------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 with exact integer-cent arithmetic: float sums of ~1e9 need
    16 significant digits at round-6, beyond cross-engine summation-order
    reproducibility (first bites at sf0.1). Prices/discounts/taxes are
    2-decimal by construction, so every aggregate is an exact bigint sum
    (order-independent, bit-identical on any engine); floats appear only in
    the final display division."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    qty = F.col("l_quantity").cast("long")
    ep = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    disc = F.round(F.col("l_discount") * 100, 0).cast("long")
    tax = F.round(F.col("l_tax") * 100, 0).cast("long")
    cnt = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("long").alias("sum_qty"),
            _r6x(F.sum(ep).cast("double") / 100.0, "sum_base_price"),
            _r6x(F.sum(ep * (100 - disc)).cast("double") / 1.0e4, "sum_disc_price"),
            _r6x(F.sum(ep * (100 - disc) * (100 + tax)).cast("double") / 1.0e6, "sum_charge"),
            _r6x(F.sum(qty).cast("double") / cnt, "avg_qty"),
            _r6x(F.sum(ep).cast("double") / 100.0 / cnt, "avg_price"),
            _r6x(F.sum(disc).cast("double") / 100.0 / cnt, "avg_disc"),
            cnt.alias("count_order"),
        )
    )


O_PRICING_SUMMARY = """
with c as (
  select l_returnflag, l_linestatus,
    cast(l_quantity as bigint) as qty,
    cast(round(l_extendedprice * 100, 0) as bigint) as ep,
    cast(round(l_discount * 100, 0) as bigint) as disc,
    cast(round(l_tax * 100, 0) as bigint) as tax
  from lineitem where l_shipdate <= timestamp '1998-09-02'
)
select l_returnflag, l_linestatus,
  cast(sum(qty) as bigint) as sum_qty,
  floor((cast(sum(ep) as double) / 100.0) * 1000000.0 + 0.5) / 1000000.0 as sum_base_price,
  floor((cast(sum(ep * (100 - disc)) as double) / 1e4) * 1000000.0 + 0.5) / 1000000.0 as sum_disc_price,
  floor((cast(sum(ep * (100 - disc) * (100 + tax)) as double) / 1e6) * 1000000.0 + 0.5) / 1000000.0 as sum_charge,
  floor((cast(sum(qty) as double) / count(*)) * 1000000.0 + 0.5) / 1000000.0 as avg_qty,
  floor((cast(sum(ep) as double) / 100.0 / count(*)) * 1000000.0 + 0.5) / 1000000.0 as avg_price,
  floor((cast(sum(disc) as double) / 100.0 / count(*)) * 1000000.0 + 0.5) / 1000000.0 as avg_disc,
  count(*) as count_order
from c
group by l_returnflag, l_linestatus
"""


# --- 10. exact dedup over documents ------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    ).select("keep_doc_id", "n_copies")


O_DEDUP_EXACT = """
select min(doc_id) as keep_doc_id, count(*) as n_copies
from documents group by text
"""


QUERIES = {
    "state_cumulative": q_state_cumulative,
    "rolling_window": q_rolling_window,
    "session_stats": q_session_stats,
    "event_sampler_interval": q_event_sampler_interval,
    "volume_sampler": q_volume_sampler,
    "tlob_labels": q_tlob_labels,
    "asof_join": q_asof_join,
    "ffill_impute": q_ffill_impute,
    "pricing_summary": q_pricing_summary,
    "dedup_exact": q_dedup_exact,
}

ORACLES = {
    "state_cumulative": O_STATE_CUMULATIVE,
    "rolling_window": O_ROLLING_WINDOW,
    "session_stats": O_SESSION_STATS,
    "event_sampler_interval": O_EVENT_SAMPLER_INTERVAL,
    "volume_sampler": O_VOLUME_SAMPLER,
    "tlob_labels": O_TLOB_LABELS,
    "asof_join": O_ASOF_JOIN,
    "ffill_impute": O_FFILL_IMPUTE,
    "pricing_summary": O_PRICING_SUMMARY,
    "dedup_exact": O_DEDUP_EXACT,
}


# =============================================================================
# Batch 2: labeling family, lifecycle, normalization, text/dedup/ANN, splits
# =============================================================================

from ..labeling import (  # noqa: E402
    deeplob_labels,
    label_stats,
    magnitude_labels,
    multi_horizon_labels,
    opportunity_labels,
    triple_barrier_labels,
)
from ..labeling.multi_horizon import intersect_valid  # noqa: E402
from ..operators import lifecycle, dedup, similarity  # noqa: E402
from ..functions import text as tx  # noqa: E402
from .. import normalization as norm  # noqa: E402
from ..batch import chronological_split  # noqa: E402


def _t(spark, sf_dir):
    return transcripts_from_events(spark, sf_dir)


def _fan(df):
    """Scale-adaptive scan fan-out for compute-heavy word explodes
    (operators/skew.fan_out_small_scan)."""
    from ..operators.skew import fan_out_small_scan

    return fan_out_small_scan(df)


# --- 11. DeepLOB labels -------------------------------------------------------

def q_deeplob_labels(spark, sf_dir):
    lab = deeplob_labels(_t(spark, sf_dir).withColumn("p", F.col("value")),
                         CFG, price_col="p", k=3, theta=0.01, method=1)
    return lab.filter(F.col("dl_label").isNotNull()).select(
        "conv_id", "turn_idx",
        F.col("dl_label").cast("int").alias("label"),
        _r6(F.col("dl_label_pct_change"), "pct_change"),
    )


O_DEEPLOB_LABELS = f"""{_W},
t as (select conv_id, turn_idx, ts, value as p from transcripts),
l as (
  select conv_id, turn_idx, p,
    avg(p) over wp as m_plus, count(p) over wp as n_plus
  from t window wp as ({_OWIN} rows between 1 following and 3 following)
)
select conv_id, turn_idx,
  cast(case when (m_plus - p) / p > 0.01 then 1
            when (m_plus - p) / p < -0.01 then -1 else 0 end as int) as label,
  round((m_plus - p) / p, 6) as pct_change
from l where n_plus = 3 and p != 0
"""


# --- 12. multi-horizon labels (fixed threshold, intersection-valid) -----------

def q_multi_horizon_labels(spark, sf_dir):
    lab = multi_horizon_labels(
        _t(spark, sf_dir).withColumn("p", F.col("value")),
        CFG, price_col="p", k=2, horizons=(3, 5), strategy="fixed", theta=0.01,
    )
    lab = intersect_valid(lab, (3, 5))
    return lab.select(
        "conv_id", "turn_idx",
        F.col("label_h3").cast("int").alias("label_h3"),
        F.col("label_h5").cast("int").alias("label_h5"),
        _r6(F.col("pct_change_h3"), "pct_h3"),
        _r6(F.col("pct_change_h5"), "pct_h5"),
    )


O_MULTI_HORIZON_LABELS = f"""{_W},
t as (select conv_id, turn_idx, ts, value as p from transcripts),
l as (
  select conv_id, turn_idx,
    avg(p) over wm as wm, count(p) over wm as nm,
    avg(p) over w3 as w3v, count(p) over w3 as n3,
    avg(p) over w5 as w5v, count(p) over w5 as n5
  from t
  window wm as ({_OWIN} rows between 2 preceding and current row),
         w3 as ({_OWIN} rows between 1 following and 3 following),
         w5 as ({_OWIN} rows between 3 following and 5 following)
)
select conv_id, turn_idx,
  cast(case when (w3v-wm)/wm > 0.01 then 1 when (w3v-wm)/wm < -0.01 then -1 else 0 end as int) as label_h3,
  cast(case when (w5v-wm)/wm > 0.01 then 1 when (w5v-wm)/wm < -0.01 then -1 else 0 end as int) as label_h5,
  round((w3v-wm)/wm, 6) as pct_h3,
  round((w5v-wm)/wm, 6) as pct_h5
from l where nm = 3 and n3 = 3 and n5 = 3 and wm != 0
"""


# --- 13. opportunity labels ----------------------------------------------------

def q_opportunity_labels(spark, sf_dir):
    lab = opportunity_labels(
        _t(spark, sf_dir).withColumn("p", F.col("value")),
        CFG, price_col="p", h=5, up_threshold=0.5, down_threshold=0.3,
        conflict="larger_magnitude",
    )
    return lab.filter(F.col("opp_label").isNotNull()).select(
        "conv_id", "turn_idx",
        F.col("opp_label").cast("int").alias("label"),
        _r6x(F.col("opp_up_ret"), "up_ret"),
        _r6x(F.col("opp_down_ret"), "down_ret"),
    )


O_OPPORTUNITY_LABELS = f"""{_W},
t as (select conv_id, turn_idx, ts, value as p from transcripts),
l as (
  select conv_id, turn_idx, p,
    max(p) over wf / p - 1.0 as up_ret,
    min(p) over wf / p - 1.0 as down_ret,
    count(p) over wf as nf
  from t window wf as ({_OWIN} rows between 1 following and 5 following)
)
select conv_id, turn_idx,
  cast(case
    when up_ret > 0.5 and down_ret < -0.3 then (case when up_ret > abs(down_ret) then 1 else -1 end)
    when up_ret > 0.5 then 1
    when down_ret < -0.3 then -1
    else 0 end as int) as label,
  floor(up_ret * 1000000.0 + 0.5) / 1000000.0 as up_ret,
  floor(down_ret * 1000000.0 + 0.5) / 1000000.0 as down_ret
from l where nf = 5 and p != 0
"""


# --- 14. magnitude labels -------------------------------------------------------

def q_magnitude_labels(spark, sf_dir):
    lab = magnitude_labels(_t(spark, sf_dir).withColumn("p", F.col("value")),
                           CFG, price_col="p", h=5)
    return lab.filter(F.col("mag_point_return").isNotNull()).select(
        "conv_id", "turn_idx",
        _r6x(F.col("mag_point_return"), "point_return"),
        _r6x(F.col("mag_max_return"), "max_return"),
        _r6x(F.col("mag_min_return"), "min_return"),
        _r6x(F.col("mag_dominant_return"), "dominant_return"),
    )


O_MAGNITUDE_LABELS = f"""{_W},
t as (select conv_id, turn_idx, ts, value as p from transcripts),
l as (
  select conv_id, turn_idx, p,
    lead(p, 5) over w as p_h,
    max(p) over wf / p - 1.0 as max_ret,
    min(p) over wf / p - 1.0 as min_ret,
    count(p) over wf as nf
  from t
  window w as ({_OWIN}),
         wf as ({_OWIN} rows between 1 following and 5 following)
)
select conv_id, turn_idx,
  floor(((p_h - p) / p) * 1000000.0 + 0.5) / 1000000.0 as point_return,
  floor(max_ret * 1000000.0 + 0.5) / 1000000.0 as max_return,
  floor(min_ret * 1000000.0 + 0.5) / 1000000.0 as min_return,
  floor((case when abs(max_ret) >= abs(min_ret) then max_ret else min_ret end) * 1000000.0 + 0.5) / 1000000.0 as dominant_return
from l where nf = 5 and p != 0
"""


# --- 15. triple barrier (pandas UDAF vs pure-SQL first-touch oracle) ------------

_TB_PT, _TB_SL, _TB_H = 0.5, 0.3, 5


def q_triple_barrier(spark, sf_dir):
    lab = triple_barrier_labels(
        _t(spark, sf_dir).withColumn("p", F.col("value")).select(
            "conv_id", "turn_idx", "ts", "p"
        ),
        CFG, price_col="p",
        profit_take=_TB_PT, stop_loss=_TB_SL, horizon=_TB_H, min_hold=0,
        timeout="label_as_timeout",
    )
    return lab.filter(F.col("tb_label").isNotNull()).select(
        "conv_id", "turn_idx",
        F.col("tb_label").cast("int").alias("tb_label"),
        F.col("tb_exit_offset").cast("int").alias("tb_exit_offset"),
        _r6x(F.col("tb_exit_return"), "tb_exit_return"),
    )


O_TRIPLE_BARRIER = f"""{_W},
t as (
  select conv_id, turn_idx, value as p,
    row_number() over ({_OWIN}) as rn,
    count(*) over (partition by conv_id) as n
  from transcripts
),
base as (select * from t where rn + {_TB_H} <= n and p > 0),
touches as (
  select a.conv_id, a.turn_idx, b.rn - a.rn as d, b.p as exit_p,
    case when b.p >= a.p * (1 + {_TB_PT}) then 1
         when b.p <= a.p * (1 - {_TB_SL}) then -1 end as hit
  from base a join t b
    on a.conv_id = b.conv_id and b.rn between a.rn + 1 and a.rn + {_TB_H}
  where b.p >= a.p * (1 + {_TB_PT}) or b.p <= a.p * (1 - {_TB_SL})
),
first_touch as (
  select conv_id, turn_idx,
    min_by(hit, d) as hit, min(d) as d, min_by(exit_p, d) as exit_p
  from touches group by conv_id, turn_idx
),
te as (
  select conv_id, turn_idx, lead(value, {_TB_H}) over ({_OWIN}) as p_h
  from transcripts
)
select b.conv_id, b.turn_idx,
  cast(coalesce(f.hit, 0) as int)                       as tb_label,
  cast(coalesce(f.d, {_TB_H}) as int)                   as tb_exit_offset,
  floor((coalesce(f.exit_p, te.p_h) / b.p - 1.0) * 1000000.0 + 0.5) / 1000000.0 as tb_exit_return
from base b
left join first_touch f using (conv_id, turn_idx)
join te using (conv_id, turn_idx)
"""


# --- 16. label statistics --------------------------------------------------------

def q_label_stats(spark, sf_dir):
    lab = q_tlob_labels(spark, sf_dir)
    return label_stats(lab, label_col="label", change_col="pct_change").select(
        "label",
        F.col("n").cast("long").alias("n"),
        _r6(F.col("change_mean"), "change_mean"),
        _r6(F.col("change_std"), "change_std"),
        _r6(F.col("frac"), "frac"),
    )


O_LABEL_STATS = f"""with labs as ({O_TLOB_LABELS})
select label, count(*) as n,
  round(avg(pct_change), 6)        as change_mean,
  round(stddev_pop(pct_change), 6) as change_std,
  round(count(*) / cast((select count(*) from labs) as double), 6) as frac
from labs group by label
"""


# --- 17/18/19. lifecycle ----------------------------------------------------------

def q_lifecycle_episodes(spark, sf_dir):
    ep = lifecycle.tool_episodes(_t(spark, sf_dir), CFG)
    return ep.select(
        "conv_id", "tool",
        F.col("episode_rank").cast("long").alias("episode_rank"),
        F.col("invoke_turn_idx").cast("long").alias("invoke_turn_idx"),
        F.col("result_turn_idx").cast("long").alias("result_turn_idx"),
        _r6(F.col("latency_s"), "latency_s"),
        F.col("completed").cast("int").alias("completed"),
    )


O_LIFECYCLE_EPISODES = f"""{_W},
inv as (
  select conv_id, tool, turn_idx as invoke_turn_idx, ts as invoke_ts,
    row_number() over (partition by conv_id, tool order by turn_idx, ts) as episode_rank
  from transcripts where role = 'assistant' and tool is not null
),
res as (
  select conv_id, tool, turn_idx as result_turn_idx, ts as result_ts,
    row_number() over (partition by conv_id, tool order by turn_idx, ts) as episode_rank
  from transcripts where role = 'tool' and tool is not null
)
select i.conv_id, i.tool, i.episode_rank, i.invoke_turn_idx,
  r.result_turn_idx,
  round((epoch_us(r.result_ts) - epoch_us(i.invoke_ts)) / 1e6, 6) as latency_s,
  cast(case when r.result_turn_idx is not null then 1 else 0 end as int) as completed
from inv i left join res r using (conv_id, tool, episode_rank)
"""


def q_episode_stats(spark, sf_dir):
    # latency stats reported in integer microseconds: aggregates over exact
    # ints are bit-stable across engines, and no /1e6 means no representable
    # round-6 ties (integer-µs medians land exactly on x.5, where engines
    # break rounding ties differently)
    ep = lifecycle.tool_episodes(_t(spark, sf_dir), CFG)
    return ep.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_episodes"),
        F.sum("completed").cast("long").alias("n_completed"),
        _r6(F.avg("completed"), "completion_ratio"),
        # explicit exact-integer sum / count, UNROUNDED: the division of
        # identical exact sums is bit-identical across engines, while
        # round(x, 6) at 1e12 magnitude is itself lossy in DuckDB
        # (x*10^6 exceeds double precision)
        (F.sum("latency_us") / F.count("latency_us")).alias("mean_latency_us"),
        # 2x the median of integer micros is semantically an integer —
        # rounding to it absorbs DuckDB quantile_cont's 1e-4 interpolation
        # noise at 1e11 magnitudes AND removes representable .5 ties
        F.round(F.percentile("latency_us", F.lit(0.5)) * 2, 0)
        .cast("long")
        .alias("median_latency_us_x2"),
    )


O_EPISODE_STATS = f"""{_W},
inv as (
  select conv_id, tool, turn_idx as invoke_turn_idx, ts as invoke_ts,
    row_number() over (partition by conv_id, tool order by turn_idx, ts) as episode_rank
  from transcripts where role = 'assistant' and tool is not null
),
res as (
  select conv_id, tool, turn_idx as result_turn_idx, ts as result_ts,
    row_number() over (partition by conv_id, tool order by turn_idx, ts) as episode_rank
  from transcripts where role = 'tool' and tool is not null
),
eps as (
  select i.conv_id,
    case when r.result_turn_idx is not null then 1 else 0 end as completed,
    case when r.result_turn_idx is not null
         then epoch_us(r.result_ts) - epoch_us(i.invoke_ts) end as lat_us
  from inv i left join res r using (conv_id, tool, episode_rank)
)
select conv_id,
  count(*)                        as n_episodes,
  cast(sum(completed) as bigint)  as n_completed,
  round(avg(completed), 6)        as completion_ratio,
  sum(lat_us) / cast(count(lat_us) as double) as mean_latency_us,
  cast(round(cast(quantile_cont(lat_us, 0.5) as double) * 2, 0) as bigint) as median_latency_us_x2
from eps group by conv_id
"""


def q_active_episodes(spark, sf_dir):
    out = lifecycle.with_active_episode_count(_t(spark, sf_dir), CFG)
    return out.select(
        "conv_id", "turn_idx", F.col("active_episodes").cast("long").alias("active_episodes")
    )


O_ACTIVE_EPISODES = f"""{_W}
select conv_id, turn_idx,
  cast(greatest(
    sum(case when role = 'assistant' and tool is not null then 1 else 0 end) over cum
    - sum(case when role = 'tool' and tool is not null then 1 else 0 end) over cum,
    0) as bigint) as active_episodes
from transcripts window cum as ({_CUM})
"""


# --- 20. streaming (cumulative) z-score normalization ------------------------------

def q_zscore_cumulative(spark, sf_dir):
    t = _t(spark, sf_dir).withColumn("char_len", F.length("text").cast("double"))
    out = norm.zscore_cumulative(t, CFG, ["char_len"])
    return out.select("conv_id", "turn_idx", _r6(F.col("char_len_zn"), "char_len_zn"))


O_ZSCORE_CUMULATIVE = f"""{_W},
t as (select conv_id, turn_idx, ts, cast(length(text) as double) as x from transcripts)
select conv_id, turn_idx,
  round((x - avg(x) over cum)
        / (sqrt(greatest(avg(x*x) over cum - (avg(x) over cum)*(avg(x) over cum), 0.0)) + {DIVISION_GUARD_EPS}), 6) as char_len_zn
from t window cum as ({_CUM})
"""


# --- 21. chronological train/val/test split ------------------------------------------

def q_train_val_test_split(spark, sf_dir):
    t = _t(spark, sf_dir)
    out = chronological_split(t, CFG, train=0.7, val=0.15)
    return out.groupBy("split").agg(F.count(F.lit(1)).alias("n"))


O_TRAIN_VAL_TEST_SPLIT = f"""{_W},
t as (select *, epoch_us(ts) as us from transcripts),
cuts as (
  select quantile_cont(us, 0.7) as c1, quantile_cont(us, 0.85) as c2 from t
)
select case when us <= c1 then 'train' when us <= c2 then 'val' else 'test' end as split,
  count(*) as n
from t, cuts group by 1
"""


# --- 22/23/24. text analysis -----------------------------------------------------------

def q_text_quality(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id",
        tx.token_count_ws("text").alias("n_tokens_ws"),
        tx.token_count_bpe_ish("text").alias("n_tokens_bpe"),
        _r6(tx.punct_ratio("text"), "punct_ratio"),
        _r6(tx.quality_score("text"), "quality"),
    )


O_TEXT_QUALITY = f"""
with q as (
  select doc_id, text,
    cast(len(regexp_split_to_array(trim(text), '\\s+')) as bigint) as n_tokens_ws,
    cast(len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]')) as bigint) as n_tokens_bpe,
    (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
      / (length(text) + {DIVISION_GUARD_EPS}) as punct_ratio,
    length(text) as n,
    len(regexp_split_to_array(trim(text), '\\s+')) as nw
  from documents
)
select doc_id, n_tokens_ws, n_tokens_bpe,
  round(punct_ratio, 6) as punct_ratio,
  round((
    (case when n >= 20 and n <= 20000 then 1.0 else 0.0 end)
    + (case when n / (nw + {DIVISION_GUARD_EPS}) >= 2.0 and n / (nw + {DIVISION_GUARD_EPS}) <= 12.0 then 1.0 else 0.0 end)
    + (case when punct_ratio <= 0.2 then 1.0 else 0.0 end)
  ) / 3.0, 6) as quality
from q
"""


def q_doc_fingerprint(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.groupBy(tx.fingerprint("text").alias("fp")).agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


O_DOC_FINGERPRINT = """
select md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) as fp,
  min(doc_id) as keep_doc_id, count(*) as n_copies
from documents group by 1
"""


# --- 25. minhash signatures (md5 permutations — bit-identical cross-engine) -----------

_SHINGLE_SQL = """
shingled as (
  select doc_id, unnest(
    case when len(words) >= 3 then
      list_distinct([array_to_string(words[i:i+2], ' ')
                     for i in range(1, len(words) - 1)])
    else [array_to_string(words, ' ')] end
  ) as shingle
  from (
    select doc_id,
      string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') as words
    from documents
  )
)
"""


def q_minhash_signatures(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sigs = dedup.minhash_signatures(docs, k=3, num_hashes=4)
    return sigs.select(F.col("id").alias("doc_id"), "sig_0", "sig_1", "sig_2", "sig_3")


O_MINHASH_SIGNATURES = f"""
with {_SHINGLE_SQL}
select doc_id,
  min(md5('0|' || shingle)) as sig_0,
  min(md5('1|' || shingle)) as sig_1,
  min(md5('2|' || shingle)) as sig_2,
  min(md5('3|' || shingle)) as sig_3
from shingled group by doc_id
"""


# --- 26. n-gram Jaccard near-dup pairs ---------------------------------------------

def q_ngram_jaccard(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.2)
    return pairs.select("id_a", "id_b", _r6(F.col("jaccard"), "jaccard"))


O_NGRAM_JACCARD = f"""
with {_SHINGLE_SQL},
sizes as (select doc_id, count(*) as n_sh from shingled group by doc_id),
inter as (
  select a.doc_id as id_a, b.doc_id as id_b, count(*) as n_inter
  from shingled a join shingled b using (shingle)
  where a.doc_id < b.doc_id
  group by 1, 2
)
select id_a, id_b,
  round(n_inter / cast(sa.n_sh + sb.n_sh - n_inter as double), 6) as jaccard
from inter
join sizes sa on sa.doc_id = id_a
join sizes sb on sb.doc_id = id_b
where n_inter / cast(sa.n_sh + sb.n_sh - n_inter as double) >= 0.2
"""


# --- 27. embedding cosine top-k ------------------------------------------------------

def q_embedding_topk(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    out = similarity.brute_force_topk(emb, k=3)
    return out.select("query_id", "neighbor_id", _r6(F.col("cos"), "cos"),
                      F.col("rank").cast("int").alias("rank"))


O_EMBEDDING_TOPK = f"""
with e as (select vec_id, embedding::DOUBLE[] as v from embeddings),
pairs as (
  select a.vec_id as query_id, b.vec_id as neighbor_id,
    list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)) + {DIVISION_GUARD_EPS}) as cos
  from e a, e b where a.vec_id != b.vec_id
),
ranked as (
  select *, row_number() over (partition by query_id order by cos desc, neighbor_id) as rank
  from pairs
)
select query_id, neighbor_id, round(cos, 6) as cos, cast(rank as int) as rank
from ranked where rank <= 3
"""


# --- 28. validation audit --------------------------------------------------------------

def q_validation_audit(spark, sf_dir):
    """One aggregate, no construction-time collect — the returned DataFrame
    recomputes the violation count from live input on every execution."""
    t = _t(spark, sf_dir)
    w = ordering.stable_window(CFG)
    viol = (F.lag(CFG.ts_col).over(w) > F.col(CFG.ts_col)).cast("long")
    return t.select("conv_id", viol.alias("_viol")).agg(
        F.count(F.lit(1)).alias("rows"),
        F.countDistinct("conv_id").alias("convs"),
        F.coalesce(F.sum("_viol"), F.lit(0)).cast("long").alias("ts_violations"),
    )


O_VALIDATION_AUDIT = f"""{_W},
v as (
  select case when lag(ts) over ({_OWIN}) > ts then 1 else 0 end as viol
  from transcripts
)
select (select count(*) from transcripts) as rows,
  (select count(distinct conv_id) from transcripts) as convs,
  (select cast(coalesce(sum(viol), 0) as bigint) from v) as ts_violations
"""


# --- 29. sequence summaries (window/stride emission rule) -------------------------------

def q_sequence_summary(spark, sf_dir):
    from ..operators import sequence

    t = _t(spark, sf_dir).withColumn("char_len", F.length("text").cast("double"))
    seq = sequence.build_sequences(t, CFG, ["char_len"], window=4, stride=2)
    return seq.select(
        "conv_id",
        F.col("end_turn_idx").cast("long").alias("end_turn_idx"),
        F.col("seq_len").cast("long").alias("seq_len"),
        _r6(F.col("duration_s"), "duration_s"),
        _r6(
            F.aggregate("sequence", F.lit(0.0), lambda acc, v: acc + F.element_at(v, 1)),
            "seq_char_sum",
        ),
    )


O_SEQUENCE_SUMMARY = f"""{_W},
t as (
  select conv_id, turn_idx, ts, cast(length(text) as double) as char_len,
    row_number() over ({_OWIN}) - 1 as pos
  from transcripts
),
s as (
  select conv_id, turn_idx as end_turn_idx, pos,
    count(*) over fr as seq_len,
    (max(epoch_us(ts)) over fr - min(epoch_us(ts)) over fr) / 1e6 as duration_s,
    sum(char_len) over fr as seq_char_sum
  from t window fr as ({_OWIN} rows between 3 preceding and current row)
)
select conv_id, end_turn_idx, seq_len,
  round(duration_s, 6) as duration_s,
  round(seq_char_sum, 6) as seq_char_sum
from s where pos >= 3 and (pos - 3) % 2 = 0
"""


# --- simhash + hamming LSH candidates (md5 nibbles — bit-identical cross-engine) ----

def q_simhash_candidates(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sim = dedup.simhash(docs, k=2)
    return dedup.simhash_candidates(sim).select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


def _simhash_oracle() -> str:
    """Generated DuckDB twin of simhash(k=2) + chunk-16 Hamming LSH: bit i of
    the fingerprint = majority vote of bit i%4 of md5 hex nibble i//4."""
    def nib(j: int) -> str:
        return f"(strpos('0123456789abcdef', substring(hx, {j + 1}, 1)) - 1)"

    cnts = ",\n    ".join(
        f"sum(({nib(i // 4)} >> {i % 4}) & 1) as cnt_{i}" for i in range(64)
    )

    def chunk(c: int) -> str:
        return " + ".join(
            f"(case when 2*cnt_{16 * c + b} > n_sh then {1 << b} else 0 end)"
            for b in range(16)
        )

    return f"""
with shingled2 as (
  select doc_id as id, unnest(
    case when len(words) >= 2 then
      list_distinct([array_to_string(words[i:i+1], ' ') for i in range(1, len(words))])
    else [array_to_string(words, ' ')] end
  ) as shingle
  from (
    select doc_id,
      string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') as words
    from documents
  )
),
h as (select id, md5(shingle) as hx from shingled2),
cnt as (
  select id, count(*) as n_sh,
    {cnts}
  from h group by id
),
ch as (
  select id,
    {chunk(0)} as c0,
    {chunk(1)} as c1,
    {chunk(2)} as c2,
    {chunk(3)} as c3
  from cnt
),
melted as (
  select id, unnest(['0:' || c0::varchar, '1:' || c1::varchar,
                     '2:' || c2::varchar, '3:' || c3::varchar]) as ck
  from ch
),
pairs as (
  select distinct a.id as id_a, b.id as id_b
  from melted a join melted b using (ck)
  where a.id < b.id
)
select p.id_a, p.id_b,
  cast(bit_count(xor(x.c0, y.c0)) + bit_count(xor(x.c1, y.c1))
     + bit_count(xor(x.c2, y.c2)) + bit_count(xor(x.c3, y.c3)) as int) as hamming
from pairs p join ch x on x.id = p.id_a join ch y on y.id = p.id_b
"""


O_SIMHASH_CANDIDATES = _simhash_oracle()


# --- weak (rows-only) queries: non-SQL-expressible or approximate ------------------------


def q_ivf_topk(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    return similarity.ivf_topk(emb, k=3, n_centroids=8).select(
        "query_id", "neighbor_id", _r6(F.col("cos"), "cos"), "rank"
    )


def q_volume_sampler_exact(spark, sf_dir):
    t = _t(spark, sf_dir).withColumn("char_len", F.length("text").cast("double"))
    out = sampling.volume_sample_flag_exact(t, CFG, target=200.0, min_interval_s=0.0)
    return out.filter(F.col("is_sample") == 1).select("conv_id", "turn_idx")


# exact reset-on-fire sampler: sequential per conversation, but with
# min_interval_s=0 the recurrence (acc += sz; fire & reset when acc >= T)
# is a linear recursion — expressible as a DuckDB recursive CTE that
# advances every conversation one row per iteration (depth = longest conv).
O_VOLUME_SAMPLER_EXACT = f"""with recursive {ORACLE_TRANSCRIPTS_CTE},
t as (
  select conv_id, turn_idx, cast(length(text) as double) as sz,
    row_number() over ({_OWIN}) as rn
  from transcripts
),
walk as (
  select conv_id, rn, turn_idx,
    case when sz >= 200.0 then 0.0 else sz end as acc,
    case when sz >= 200.0 then 1 else 0 end as fire
  from t where rn = 1
  union all
  select t.conv_id, t.rn, t.turn_idx,
    case when w.acc + t.sz >= 200.0 then 0.0 else w.acc + t.sz end,
    case when w.acc + t.sz >= 200.0 then 1 else 0 end
  from walk w join t on t.conv_id = w.conv_id and t.rn = w.rn + 1
)
select conv_id, turn_idx from walk where fire = 1
"""


def q_media_features(spark, sf_dir):
    """REAL byte work: generate valid WAV/PPM/BMP files deterministically,
    parse headers + payload stats in pure numpy (multimodal.decode_media);
    the oracle predicts every decoded value in closed form from media_id."""
    from .. import multimodal

    media = multimodal.synth_media_real(spark, n=200)
    out = multimodal.decode_media(media)
    return out.select(
        "media_id", "fmt", "width", "height", "channels", "sample_rate",
        "n_units",
        _r6(F.col("val_mean"), "val_mean"),
        _r6(F.col("val_std"), "val_std"),
    )


O_MEDIA_FEATURES = """
with m as (select range as media_id from range(0, 200)),
p as (
  select media_id, media_id % 3 as k,
    media_id % 200 - 100 as wa, (media_id * 7) % 200 - 100 as wb,
    8000 + (media_id % 100) as rate, 64 + 2 * (media_id % 32) as nsamp,
    2 * (1 + media_id % 8) as pw, 1 + media_id % 8 as ph,
    4 * (1 + media_id % 6) as bw, 1 + media_id % 8 as bh,
    media_id % 256 as pa, (media_id * 7) % 256 as pb
  from m
)
select media_id,
  case k when 0 then 'wav' when 1 then 'ppm' else 'bmp' end as fmt,
  cast(case k when 0 then null when 1 then pw else bw end as int) as width,
  cast(case k when 0 then null when 1 then ph else bh end as int) as height,
  cast(case k when 0 then 1 else 3 end as int) as channels,
  cast(case k when 0 then rate else null end as int) as sample_rate,
  cast(case k when 0 then nsamp when 1 then pw * ph * 3 else bw * bh * 3 end as bigint) as n_units,
  round(case k when 0 then (wa + wb) / 2.0 else (pa + pb) / 2.0 end, 6) as val_mean,
  round(case k when 0 then abs(wa - wb) / 2.0 else abs(pa - pb) / 2.0 end, 6) as val_std
from p
"""


QUERIES.update({
    "deeplob_labels": q_deeplob_labels,
    "multi_horizon_labels": q_multi_horizon_labels,
    "opportunity_labels": q_opportunity_labels,
    "magnitude_labels": q_magnitude_labels,
    "triple_barrier": q_triple_barrier,
    "label_stats": q_label_stats,
    "lifecycle_episodes": q_lifecycle_episodes,
    "episode_stats": q_episode_stats,
    "active_episodes": q_active_episodes,
    "zscore_cumulative": q_zscore_cumulative,
    "train_val_test_split": q_train_val_test_split,
    "text_quality": q_text_quality,
    "doc_fingerprint": q_doc_fingerprint,
    "minhash_signatures": q_minhash_signatures,
    "ngram_jaccard": q_ngram_jaccard,
    "embedding_topk": q_embedding_topk,
    "validation_audit": q_validation_audit,
    "sequence_summary": q_sequence_summary,
    # weak checks (no SQL twin): approximate / stateful-exact / stubbed-decode
    "simhash_candidates": q_simhash_candidates,
    "ivf_topk": q_ivf_topk,
    "volume_sampler_exact": q_volume_sampler_exact,
    "media_features": q_media_features,
})

ORACLES.update({
    "deeplob_labels": O_DEEPLOB_LABELS,
    "multi_horizon_labels": O_MULTI_HORIZON_LABELS,
    "opportunity_labels": O_OPPORTUNITY_LABELS,
    "magnitude_labels": O_MAGNITUDE_LABELS,
    "triple_barrier": O_TRIPLE_BARRIER,
    "label_stats": O_LABEL_STATS,
    "lifecycle_episodes": O_LIFECYCLE_EPISODES,
    "episode_stats": O_EPISODE_STATS,
    "active_episodes": O_ACTIVE_EPISODES,
    "zscore_cumulative": O_ZSCORE_CUMULATIVE,
    "train_val_test_split": O_TRAIN_VAL_TEST_SPLIT,
    "text_quality": O_TEXT_QUALITY,
    "doc_fingerprint": O_DOC_FINGERPRINT,
    "minhash_signatures": O_MINHASH_SIGNATURES,
    "ngram_jaccard": O_NGRAM_JACCARD,
    "embedding_topk": O_EMBEDDING_TOPK,
    "validation_audit": O_VALIDATION_AUDIT,
    "sequence_summary": O_SEQUENCE_SUMMARY,
    "simhash_candidates": O_SIMHASH_CANDIDATES,
    "media_features": O_MEDIA_FEATURES,
    "volume_sampler_exact": O_VOLUME_SAMPLER_EXACT,
})


# --- perceptual-hash near-duplicates over real media bytes ---------------------------

def q_phash_media_pairs(spark, sf_dir):
    """Perceptual near-dup detection over REAL media bytes: decode valid
    WAV/PPM/BMP payloads, 64-bit integer average-hash (8x8 grayscale /
    waveform grid, mean threshold) emitted as four 16-bit LSH bands, then
    the banded same-fmt self-join verified by exact Hamming distance
    (multimodal.phash_fingerprints + phash_near_dup). Every hash bit is
    exact integer arithmetic, so the oracle reproduces fingerprints AND
    pairs in closed form from media_id."""
    from .. import multimodal

    media = multimodal.synth_media_real(spark, n=200)
    fp = multimodal.phash_fingerprints(media)
    return multimodal.phash_near_dup(fp, max_hamming=6)


O_PHASH_MEDIA_PAIRS = """
with m as (select range as media_id from range(0, 200)),
par as (
  select media_id, media_id % 3 as k,
    media_id % 200 - 100 as wa, (media_id * 7) % 200 - 100 as wb,
    64 + 2 * (media_id % 32) as nsamp,
    case media_id % 3 when 1 then 2 * (1 + media_id % 8)
                      else 4 * (1 + media_id % 6) end as iw,
    1 + media_id % 8 as ih,
    media_id % 256 as pa, (media_id * 7) % 256 as pb
  from m
),
g as (select range as j from range(0, 64)),
vg as (
  select p.*, g.j,
    ((g.j // 8) * p.ih) // 8 as py,
    ((g.j % 8) * p.iw) // 8 as px,
    (3 * p.iw * p.ih) // 2 as half
  from par p cross join g
),
vg2 as (
  select *, case when k = 2 then ih - 1 - py else py end as yy from vg
),
v as (
  select media_id, j,
    case when k = 0 then
      (case when (j * nsamp) // 64 < nsamp // 2 then wa else wb end) + 32768
    else
      ((case when 3 * (yy * iw + px) < half then pa else pb end)
       + (case when 3 * (yy * iw + px) + 1 < half then pa else pb end)
       + (case when 3 * (yy * iw + px) + 2 < half then pa else pb end)) // 3
    end as val
  from vg2
),
mn as (select media_id, sum(val) // 64 as mean from v group by 1),
bits as (
  select v.media_id, v.j,
    case when v.val > mn.mean then 1 else 0 end as bit
  from v join mn using (media_id)
),
fp as (
  select media_id,
    sum(case when j // 16 = 0 and bit = 1 then 1 << (j % 16) else 0 end) as band0,
    sum(case when j // 16 = 1 and bit = 1 then 1 << (j % 16) else 0 end) as band1,
    sum(case when j // 16 = 2 and bit = 1 then 1 << (j % 16) else 0 end) as band2,
    sum(case when j // 16 = 3 and bit = 1 then 1 << (j % 16) else 0 end) as band3
  from bits group by 1
),
fpk as (
  select fp.*,
    case media_id % 3 when 0 then 'wav' when 1 then 'ppm' else 'bmp' end as fmt
  from fp
),
cand as (
  select distinct a.media_id as id_a, b.media_id as id_b, a.fmt
  from fpk a join fpk b
    on a.fmt = b.fmt and a.media_id < b.media_id
   and (a.band0 = b.band0 or a.band1 = b.band1
        or a.band2 = b.band2 or a.band3 = b.band3)
)
select c.id_a, c.id_b, c.fmt,
  cast(bit_count(xor(fa.band0, fb.band0)) + bit_count(xor(fa.band1, fb.band1))
     + bit_count(xor(fa.band2, fb.band2)) + bit_count(xor(fa.band3, fb.band3))
    as bigint) as hamming
from cand c
join fpk fa on fa.media_id = c.id_a
join fpk fb on fb.media_id = c.id_b
where bit_count(xor(fa.band0, fb.band0)) + bit_count(xor(fa.band1, fb.band1))
    + bit_count(xor(fa.band2, fb.band2)) + bit_count(xor(fa.band3, fb.band3)) <= 6
"""

QUERIES["phash_media_pairs"] = q_phash_media_pairs
ORACLES["phash_media_pairs"] = O_PHASH_MEDIA_PAIRS


# =============================================================================
# Batch 3: volatility family, adaptive sampling, transition flows,
# sequence-label alignment, export normalization, rolling-session z-score
# =============================================================================

from ..operators import volatility as vol_mod  # noqa: E402


def q_volatility(spark, sf_dir):
    t = _t(spark, sf_dir)
    out = vol_mod.with_volatility(t, CFG, price_col="value", fast=8, slow=32)
    return out.select(
        "conv_id", "turn_idx",
        _r6(F.col("log_ret"), "log_ret"),
        _r6(F.col("vol_fast"), "vol_fast"),
        _r6(F.col("vol_slow"), "vol_slow"),
        _r6(F.col("vol_ratio"), "vol_ratio"),
        _r6(F.col("ret_autocorr_fast"), "ret_autocorr"),
    )


O_VOLATILITY = f"""{_W},
t as (
  select conv_id, turn_idx, ts, value as p from transcripts
),
r as (
  select conv_id, turn_idx, ts,
    case when lag(p) over w is not null and lag(p) over w > 0 and p > 0
         then ln(p / lag(p) over w) else 0.0 end as lr
  from t window w as ({_OWIN})
),
v as (
  select conv_id, turn_idx, ts, lr,
    lag(lr) over w as lr1,
    case when count(lr) over wf >= 3
         then greatest(stddev_samp(lr) over wf, 1e-10) else 0.0 end as vol_fast,
    case when count(lr) over ws >= 3
         then greatest(stddev_samp(lr) over ws, 1e-10) else 0.0 end as vol_slow
  from r
  window w as ({_OWIN}),
         wf as ({_OWIN} rows between 7 preceding and current row),
         ws as ({_OWIN} rows between 31 preceding and current row)
),
a as (
  select conv_id, turn_idx, lr, vol_fast, vol_slow,
    coalesce(corr(lr, lr1) over wf, 0.0) as ac
  from v window wf as ({_OWIN} rows between 7 preceding and current row)
)
select conv_id, turn_idx,
  round(lr, 6)                                             as log_ret,
  round(vol_fast, 6)                                       as vol_fast,
  round(vol_slow, 6)                                       as vol_slow,
  round(vol_fast / (vol_slow + {DIVISION_GUARD_EPS}), 6)   as vol_ratio,
  round(ac, 6)                                             as ret_autocorr
from a
"""


def q_adaptive_threshold(spark, sf_dir):
    t = _t(spark, sf_dir)
    v = vol_mod.with_volatility(t, CFG, price_col="value", fast=8, slow=32)
    out = vol_mod.with_adaptive_threshold(
        v, CFG, vol_col="vol_fast", base_threshold=200.0, calibration_rows=32
    )
    return out.select("conv_id", "turn_idx", _r6(F.col("adaptive_threshold"), "adaptive_threshold"))


O_ADAPTIVE_THRESHOLD = f"""{_W},
t as (select conv_id, turn_idx, ts, value as p from transcripts),
r as (
  select conv_id, turn_idx, ts,
    case when lag(p) over w is not null and lag(p) over w > 0 and p > 0
         then ln(p / lag(p) over w) else 0.0 end as lr,
    row_number() over w as rn
  from t window w as ({_OWIN})
),
v as (
  select conv_id, turn_idx, rn,
    case when count(lr) over wf >= 3
         then greatest(stddev_samp(lr) over wf, 1e-10) else 0.0 end as vol_fast
  from r window wf as ({_OWIN} rows between 7 preceding and current row)
),
b as (
  select conv_id, cast(quantile_cont(vol_fast, 0.5) as double) as baseline
  from v where rn <= 32 group by conv_id
)
select v.conv_id, v.turn_idx,
  round(case when b.baseline is not null and b.baseline > 0
    then 200.0 * least(greatest(v.vol_fast / (b.baseline + {DIVISION_GUARD_EPS}), 0.2), 5.0)
    else 200.0 end, 6) as adaptive_threshold
from v left join b using (conv_id)
"""


def q_role_transitions(spark, sf_dir):
    out = vol_mod.role_transition_matrix(_t(spark, sf_dir), CFG)
    return out.select(
        "conv_id", "from_role", "to_role",
        F.col("n").cast("long").alias("n"),
        _r6(F.col("rate"), "rate"),
    )


O_ROLE_TRANSITIONS = f"""{_W},
p as (
  select conv_id, lag(role) over ({_OWIN}) as from_role, role as to_role
  from transcripts
),
c as (
  select conv_id, from_role, to_role, count(*) as n
  from p where from_role is not null
  group by 1, 2, 3
)
select conv_id, from_role, to_role, n,
  round(n / cast(sum(n) over (partition by conv_id) as double), 6) as rate
from c
"""


def q_tool_usage_hhi(spark, sf_dir):
    out = vol_mod.tool_usage_hhi(_t(spark, sf_dir), CFG)
    return out.select(
        "conv_id", _r6(F.col("tool_hhi"), "tool_hhi"),
        F.col("n_tools").cast("long").alias("n_tools"),
        F.col("n_tool_calls").cast("long").alias("n_tool_calls"),
    )


O_TOOL_USAGE_HHI = f"""{_W},
c as (
  select conv_id, tool, count(*) as n
  from transcripts where tool is not null
  group by 1, 2
)
select conv_id,
  round(sum(n * n) / (cast(sum(n) as double) * sum(n)), 6) as tool_hhi,
  count(*) as n_tools,
  cast(sum(n) as bigint) as n_tool_calls
from c group by conv_id
"""


def q_sequence_label_align(spark, sf_dir):
    """Sequence<->label alignment: sequences keep only anchors with a label
    (reference: align_sequences_with_multi_labels, alignment.rs:136-173)."""
    from ..operators import sequence

    t = _t(spark, sf_dir).withColumn("char_len", F.length("text").cast("double"))
    seq = sequence.build_sequences(t, CFG, ["char_len"], window=4, stride=2)
    labels = q_tlob_labels(spark, sf_dir).withColumnRenamed("turn_idx", "end_turn_idx")
    out = seq.join(labels, on=["conv_id", "end_turn_idx"], how="inner")
    return out.select(
        "conv_id",
        F.col("end_turn_idx").cast("long").alias("end_turn_idx"),
        F.col("seq_len").cast("long").alias("seq_len"),
        F.col("label").cast("int").alias("label"),
    )


O_SEQUENCE_LABEL_ALIGN = f"""with seqs as ({O_SEQUENCE_SUMMARY}),
labs as ({O_TLOB_LABELS})
select s.conv_id, s.end_turn_idx, s.seq_len, l.label
from seqs s join labs l on s.conv_id = l.conv_id and s.end_turn_idx = l.turn_idx
"""


def q_export_normalize(spark, sf_dir):
    t = _t(spark, sf_dir).withColumn("char_len", F.length("text").cast("double"))
    out = norm.normalize_export(t, ["char_len"], strategy="zscore")
    return out.select("conv_id", "turn_idx", _r6(F.col("char_len"), "char_len_z"))


O_EXPORT_NORMALIZE = f"""{_W},
t as (select conv_id, turn_idx, cast(length(text) as double) as x from transcripts),
s as (select avg(x) as m, greatest(stddev_pop(x), 1e-10) as sd from t)
select conv_id, turn_idx, round((x - m) / sd, 6) as char_len_z
from t, s
"""


def q_rolling_session_zscore(spark, sf_dir):
    t = _t(spark, sf_dir).withColumn("char_len", F.length("text").cast("double"))
    s = state.with_sessions(t, CFG)
    out = norm.zscore_rolling_sessions(s, CFG, ["char_len"], n_sessions=2)
    return out.select("conv_id", "turn_idx", _r6(F.col("char_len_rzn"), "char_len_rzn"))


O_ROLLING_SESSION_ZSCORE = f"""{_W},
t as (
  select conv_id, turn_idx, ts, cast(length(text) as double) as x,
    case when lag(epoch_us(ts)) over w is null
           or epoch_us(ts) - lag(epoch_us(ts)) over w > {int(CFG.session_gap_s * 1e6)}
         then 1 else 0 end as is_start
  from transcripts window w as ({_OWIN})
),
t2 as (
  select *, sum(is_start) over ({_CUM}) - 1 as session_id from t
),
st as (
  select conv_id, session_id,
    count(x) as n, sum(x) as s, sum(x * x) as s2
  from t2 group by 1, 2
),
rolled as (
  select conv_id, session_id,
    sum(n) over wp as rn, sum(s) over wp as rs, sum(s2) over wp as rs2
  from st window wp as (partition by conv_id order by session_id
                        rows between 2 preceding and 1 preceding)
)
select t2.conv_id, t2.turn_idx,
  round(case when r.rn > 0 then
    (t2.x - r.rs / r.rn)
    / (sqrt(greatest(r.rs2 / r.rn - (r.rs / r.rn) * (r.rs / r.rn), 0.0)) + {DIVISION_GUARD_EPS})
  else 0.0 end, 6) as char_len_rzn
from t2 join rolled r on t2.conv_id = r.conv_id and t2.session_id = r.session_id
"""


QUERIES.update({
    "volatility": q_volatility,
    "adaptive_threshold": q_adaptive_threshold,
    "role_transitions": q_role_transitions,
    "tool_usage_hhi": q_tool_usage_hhi,
    "sequence_label_align": q_sequence_label_align,
    "export_normalize": q_export_normalize,
    "rolling_session_zscore": q_rolling_session_zscore,
})

ORACLES.update({
    "volatility": O_VOLATILITY,
    "adaptive_threshold": O_ADAPTIVE_THRESHOLD,
    "role_transitions": O_ROLE_TRANSITIONS,
    "tool_usage_hhi": O_TOOL_USAGE_HHI,
    "sequence_label_align": O_SEQUENCE_LABEL_ALIGN,
    "export_normalize": O_EXPORT_NORMALIZE,
    "rolling_session_zscore": O_ROLLING_SESSION_ZSCORE,
})


# =============================================================================
# Batch 4: time sampler, volatility-scaled barriers, embedding near-dup
# =============================================================================


def q_time_sampler(spark, sf_dir):
    out = sampling.time_sample_flag(_t(spark, sf_dir), CFG, interval_s=86400.0)
    return out.filter(F.col("is_sample") == 1).select("conv_id", "turn_idx")


O_TIME_SAMPLER = f"""{_W},
t as (
  select conv_id, turn_idx, ts,
    floor((epoch_us(ts) - first_value(epoch_us(ts)) over ({_CUM})) / (86400.0 * 1e6)) as bucket
  from transcripts
)
select conv_id, turn_idx
from (
  select conv_id, turn_idx, bucket, lag(bucket) over ({_OWIN}) as prev
  from t
) where prev is null or prev < bucket
"""


def q_triple_barrier_vol_scaled(spark, sf_dir):
    from ..labeling.triple_barrier import triple_barrier_labels_vol_scaled

    t = _t(spark, sf_dir).withColumn("p", F.col("value")).select(
        "conv_id", "turn_idx", "ts", "p"
    )
    lab = triple_barrier_labels_vol_scaled(
        t, CFG, price_col="p", profit_take=0.5, stop_loss=0.3, horizon=5,
    )
    return lab.filter(F.col("tb_label").isNotNull()).select(
        "conv_id", "turn_idx",
        F.col("tb_label").cast("int").alias("tb_label"),
        F.col("tb_exit_offset").cast("int").alias("tb_exit_offset"),
        _r6x(F.col("tb_exit_return"), "tb_exit_return"),
    )


O_TRIPLE_BARRIER_VOL_SCALED = f"""{_W},
t as (
  select conv_id, turn_idx, value as p,
    row_number() over ({_OWIN}) as rn,
    count(*) over (partition by conv_id) as n,
    case when lag(value) over ({_OWIN}) is not null
           and lag(value) over ({_OWIN}) > 0 and value > 0
         then ln(value / lag(value) over ({_OWIN})) end as lr
  from transcripts
),
kv as (select conv_id, stddev_samp(lr) as vol from t group by conv_id),
ref as (select cast(quantile_cont(vol, 0.5) as double) as vr from kv),
sc as (
  select conv_id, least(greatest(vol / vr, 0.5), 2.0) as s
  from kv, ref
),
ts_ as (
  select t.*, coalesce(sc.s, 1.0) as s from t left join sc using (conv_id)
),
base as (select * from ts_ where rn + 5 <= n and p > 0),
touches as (
  select a.conv_id, a.turn_idx, b.rn - a.rn as d, b.p as exit_p,
    case when b.p >= a.p * (1 + 0.5 * a.s) then 1
         when b.p <= a.p * (1 - 0.3 * a.s) then -1 end as hit
  from base a join ts_ b
    on a.conv_id = b.conv_id and b.rn between a.rn + 1 and a.rn + 5
  where b.p >= a.p * (1 + 0.5 * a.s) or b.p <= a.p * (1 - 0.3 * a.s)
),
first_touch as (
  select conv_id, turn_idx,
    min_by(hit, d) as hit, min(d) as d, min_by(exit_p, d) as exit_p
  from touches group by conv_id, turn_idx
),
te as (
  select conv_id, turn_idx, lead(value, 5) over ({_OWIN}) as p_h
  from transcripts
)
select b.conv_id, b.turn_idx,
  cast(coalesce(f.hit, 0) as int)                  as tb_label,
  cast(coalesce(f.d, 5) as int)                    as tb_exit_offset,
  floor((coalesce(f.exit_p, te.p_h) / b.p - 1.0) * 1000000.0 + 0.5) / 1000000.0 as tb_exit_return
from base b
left join first_touch f using (conv_id, turn_idx)
join te using (conv_id, turn_idx)
"""


def q_embedding_near_dup(spark, sf_dir):
    """Exact near-dup baseline — matrix path (broadcast corpus + GEMM blocks),
    never a CartesianProduct node; the DuckDB all-pairs SQL is the oracle."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    out = similarity.near_dup_pairs(emb, threshold=0.35)
    return out.select("id_a", "id_b", _r6(F.col("cos"), "cos"))


O_EMBEDDING_NEAR_DUP = f"""
with e as (select vec_id, embedding::DOUBLE[] as v from embeddings),
pairs as (
  select a.vec_id as id_a, b.vec_id as id_b,
    list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)) + {DIVISION_GUARD_EPS}) as cos
  from e a, e b where a.vec_id < b.vec_id
)
select id_a, id_b, round(cos, 6) as cos from pairs where cos >= 0.35
"""


QUERIES.update({
    "time_sampler": q_time_sampler,
    "triple_barrier_vol_scaled": q_triple_barrier_vol_scaled,
    "embedding_near_dup": q_embedding_near_dup,
})
ORACLES.update({
    "time_sampler": O_TIME_SAMPLER,
    "triple_barrier_vol_scaled": O_TRIPLE_BARRIER_VOL_SCALED,
    "embedding_near_dup": O_EMBEDDING_NEAR_DUP,
})


# --- language ID (deterministic cascade — strong oracle) ----------------------

def q_lang_id(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select("doc_id", "lang", tx.lang_id("text").alias("lang_pred"))


def _sw_count_sql(lang):
    words = tx.LANG_STOPWORDS[lang]
    in_list = ", ".join(f"'{w}'" for w in words)
    return (
        "len(list_filter(string_split(lower(trim(text)), ' '), "
        f"w -> w in ({in_list})))"
    )


O_LANG_ID = f"""
with c as (
  select doc_id, lang,
    {_sw_count_sql('en')} as n_en,
    {_sw_count_sql('es')} as n_es,
    {_sw_count_sql('fr')} as n_fr,
    {_sw_count_sql('de')} as n_de
  from documents
)
select doc_id, lang,
  case when n_en > 0 and n_en >= n_es and n_en >= n_fr and n_en >= n_de then 'en'
       when n_es > 0 and n_es >= n_fr and n_es >= n_de then 'es'
       when n_fr > 0 and n_fr >= n_de then 'fr'
       when n_de > 0 then 'de'
       else 'und' end as lang_pred
from c
"""

QUERIES["lang_id"] = q_lang_id
ORACLES["lang_id"] = O_LANG_ID


# --- IVF scale path: oracle (deterministic centroids are SQL-expressible) -----------

_IVF_CTES = f"""
with e as (select vec_id, embedding::DOUBLE[] as v from embeddings),
c as (
  select row_number() over (order by vec_id) as centroid_id, v as cv
  from (select vec_id, v from e order by vec_id limit 8)
),
sc as (
  select e.vec_id, e.v, c.centroid_id,
    list_dot_product(e.v, c.cv)
      / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))
         + {DIVISION_GUARD_EPS}) as cc
  from e cross join c
),
asg as (
  select vec_id, v, centroid_id from (
    select *, row_number() over (partition by vec_id order by cc desc, centroid_id) as r
    from sc
  ) where r = 1
)"""

O_IVF_TOPK = f"""{_IVF_CTES},
pairs as (
  select a.vec_id as query_id, b.vec_id as neighbor_id,
    list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))
         + {DIVISION_GUARD_EPS}) as cos
  from asg a join asg b using (centroid_id)
  where a.vec_id <> b.vec_id
)
select query_id, neighbor_id, round(cos, 6) as cos, cast(rank as int) as rank
from (
  select *, row_number() over (partition by query_id order by cos desc, neighbor_id) as rank
  from pairs
) where rank <= 3
"""


def q_embedding_near_dup_lsh(spark, sf_dir):
    """Bucketed near-dup (the 100-TB plan): IVF same-cluster candidates via
    equi join on centroid_id — approximate by design, exactly reproduced by
    the oracle's identical deterministic bucketing."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    out = similarity.ivf_near_dup(emb, threshold=0.35, n_centroids=8)
    return out.select("id_a", "id_b", _r6(F.col("cos"), "cos"))


O_EMBEDDING_NEAR_DUP_LSH = f"""{_IVF_CTES},
pairs as (
  select a.vec_id as id_a, b.vec_id as id_b,
    list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))
         + {DIVISION_GUARD_EPS}) as cos
  from asg a join asg b using (centroid_id)
  where a.vec_id < b.vec_id
)
select id_a, id_b, round(cos, 6) as cos from pairs where cos >= 0.35
"""

QUERIES["embedding_near_dup_lsh"] = q_embedding_near_dup_lsh
ORACLES["embedding_near_dup_lsh"] = O_EMBEDDING_NEAR_DUP_LSH
ORACLES["ivf_topk"] = O_IVF_TOPK


def q_ivf_topk_sharded(spark, sf_dir):
    """The skew-safe IVF form: max_cluster_rows forces every cluster to be
    query-sub-sharded (cap far below the cluster sizes at this sf), proving
    the replicated-neighbor construction returns EXACTLY the unsharded
    result — it shares ivf_topk's oracle verbatim."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    return similarity.ivf_topk(
        emb, k=3, n_centroids=8, max_cluster_rows=40
    ).select("query_id", "neighbor_id", _r6(F.col("cos"), "cos"), "rank")


QUERIES["ivf_topk_sharded"] = q_ivf_topk_sharded
ORACLES["ivf_topk_sharded"] = O_IVF_TOPK


# --- feature 58: order-flow volatility (std of net flow over 10 sub-windows) --------

def q_flow_volatility(spark, sf_dir):
    """Feature 58 via the numpy bucket stage (operators/order_stats.py), the
    one implementation every flagship plan runs."""
    t = transcripts_from_events(spark, sf_dir)
    cfg = PipelineConfig(window_sizes=(32,))
    lean = t.select("conv_id", "turn_idx", "ts", "role",
                    F.coalesce(F.length("text"), F.lit(0)).cast("double").alias("char_len"))
    s = order_stats.with_order_stats_pandas(lean, cfg)
    return s.select("conv_id", "turn_idx", _r6(F.col("flow_volatility_w32"), "flow_vol"))


def _flow_vol_oracle(w: int = 32, nsub: int = 10, min_per_sub: int = 2) -> str:
    ssz = "(len(arr) // 10)"
    seg = (
        f"arr[(i*{ssz})+1 : case when i = {nsub - 1} then len(arr) "
        f"else (i+1)*{ssz} end]"
    )
    return f"""{_W},
t as (
  select conv_id, turn_idx, ts,
    case role when 'user' then 1.0 when 'assistant' then -1.0 else 0.0 end as s
  from transcripts
),
fr as (
  select conv_id, turn_idx,
    list(s) over ({_OWIN} rows between {w - 1} preceding and current row) as arr
  from t
),
fl as (
  select conv_id, turn_idx, len(arr) as n,
    list_transform(range(0, {nsub}), i -> (
      case when list_sum(list_transform({seg}, x -> abs(x))) > 0
        then list_sum({seg})
             / list_sum(list_transform({seg}, x -> abs(x)))
        else 0.0 end
    )) as flows
  from fr
)
select conv_id, turn_idx,
  round(case when n >= {nsub * min_per_sub} then sqrt(
    list_sum(list_transform(flows,
      f -> (f - list_sum(flows)/{nsub}.0) * (f - list_sum(flows)/{nsub}.0))) / {nsub}.0
  ) else 0.0 end, 6) as flow_vol
from fl
"""


O_FLOW_VOLATILITY = _flow_vol_oracle()

QUERIES["flow_volatility"] = q_flow_volatility
ORACLES["flow_volatility"] = O_FLOW_VOLATILITY


# --- lifecycle point-in-time stats (reference features 76-78, 81) -------------------

def q_lifecycle_pit(spark, sf_dir):
    # Canonicalization NEVER leaves integer space (round 2's one red driver
    # row was a float round-trip at 1e12 magnitudes where a 1-ulp libm
    # difference flips a floor).  We emit the raw int64 numerator/denominator
    # pairs instead of quotients: mean age = age_sum_us / active_eps,
    # ttf mean = lat_sum_us / n_done, mod_score = mods_sum / n_done,
    # completion ratio = n_done / n_started — all recoverable exactly.
    out = lifecycle.with_lifecycle_point_in_time(_t(spark, sf_dir), CFG)
    return out.select(
        "conv_id", "turn_idx",
        F.col("active_episodes").cast("long").alias("active_eps"),
        F.col("pit_age_sum_us").alias("age_sum_us"),
        F.col("pit_lat_sum_us").alias("lat_sum_us"),
        F.col("pit_mods_sum").alias("mods_sum"),
        F.col("pit_n_done").alias("n_done"),
        F.col("pit_n_started").alias("n_started"),
    )


O_LIFECYCLE_PIT = f"""{_W},
evt as (
  select conv_id, tool, turn_idx, ts,
    case when role = 'assistant' then 1 else 0 end as is_inv
  from transcripts
  where tool is not null and role in ('assistant', 'tool')
),
r as (
  select *,
    sum(is_inv) over (partition by conv_id, tool order by turn_idx, ts
                      rows between unbounded preceding and current row) as cum_inv,
    row_number() over (partition by conv_id, tool, is_inv order by turn_idx, ts) as rnk
  from evt
),
ep as (
  select i.conv_id, res.result_turn_idx as turn_idx,
    epoch_us(i.invoke_ts) as m_inv_us,
    epoch_us(res.result_ts) - epoch_us(i.invoke_ts) as lat_us,
    res.mods
  from (select conv_id, tool, rnk as episode_rank,
          turn_idx as invoke_turn_idx, ts as invoke_ts
        from r where is_inv = 1) i
  join (select conv_id, tool, rnk as episode_rank,
          turn_idx as result_turn_idx, ts as result_ts,
          cum_inv - rnk as mods
        from r where is_inv = 0) res
    using (conv_id, tool, episode_rank)
),
j as (
  select t.conv_id, t.turn_idx, t.ts, t.role, t.tool,
    ep.m_inv_us, ep.lat_us, ep.mods
  from transcripts t
  left join ep on ep.conv_id = t.conv_id and ep.turn_idx = t.turn_idx
),
c as (
  select conv_id, turn_idx, epoch_us(ts) as us,
    sum(case when role = 'assistant' and tool is not null then 1 else 0 end) over cum as n_started,
    sum(case when m_inv_us is not null then 1 else 0 end) over cum as n_done,
    sum(case when role = 'assistant' and tool is not null then epoch_us(ts) else 0 end) over cum as inv_us_sum,
    sum(coalesce(m_inv_us, 0)) over cum as done_inv_us_sum,
    sum(coalesce(lat_us, 0)) over cum as lat_sum,
    sum(coalesce(mods, 0)) over cum as mods_sum
  from j window cum as ({_CUM})
)
select conv_id, turn_idx,
  cast(n_started - n_done as bigint) as active_eps,
  cast((n_started - n_done) * us - (inv_us_sum - done_inv_us_sum) as bigint) as age_sum_us,
  cast(lat_sum as bigint) as lat_sum_us,
  cast(mods_sum as bigint) as mods_sum,
  cast(n_done as bigint) as n_done,
  cast(n_started as bigint) as n_started
from c
"""

QUERIES["lifecycle_pit"] = q_lifecycle_pit
ORACLES["lifecycle_pit"] = O_LIFECYCLE_PIT


# --- hot-shingle-capped Jaccard (the 100-TB form of the self-join) ------------------

def q_ngram_jaccard_capped(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.2, max_doc_freq=10)
    return pairs.select("id_a", "id_b", _r6(F.col("jaccard"), "jaccard"))


O_NGRAM_JACCARD_CAPPED = f"""
with {_SHINGLE_SQL},
kept as (select shingle from shingled group by shingle having count(*) <= 10),
sh2 as (select s.doc_id, s.shingle from shingled s join kept using (shingle)),
sizes as (select doc_id, count(*) as n_sh from sh2 group by doc_id),
inter as (
  select a.doc_id as id_a, b.doc_id as id_b, count(*) as n_inter
  from sh2 a join sh2 b using (shingle)
  where a.doc_id < b.doc_id
  group by 1, 2
)
select id_a, id_b,
  round(n_inter / cast(sa.n_sh + sb.n_sh - n_inter as double), 6) as jaccard
from inter
join sizes sa on sa.doc_id = id_a
join sizes sb on sb.doc_id = id_b
where n_inter / cast(sa.n_sh + sb.n_sh - n_inter as double) >= 0.2
"""

QUERIES["ngram_jaccard_capped"] = q_ngram_jaccard_capped
ORACLES["ngram_jaccard_capped"] = O_NGRAM_JACCARD_CAPPED


# =============================================================================
# Registry entries for previously test-only operators (VERDICT r1 item 7):
# multiscale sequences, quantile/tlob_dynamic thresholds, DeepLOB M2,
# opportunity conflict priorities, minhash LSH pairs, time regime,
# row-wise global z-score.
# =============================================================================

def q_multiscale_sequences(spark, sf_dir):
    from ..operators import sequence

    t = _t(spark, sf_dir).withColumn("char_len", F.length("text").cast("double"))
    seq = sequence.build_multiscale_sequences(t, CFG, ["char_len"], window=4, stride=2)
    return seq.select(
        "conv_id",
        F.col("end_turn_idx").cast("long").alias("end_turn_idx"),
        F.col("scale").cast("int").alias("scale"),
        F.col("seq_len").cast("long").alias("seq_len"),
        _r6(
            F.aggregate("sequence", F.lit(0.0), lambda acc, v: acc + F.element_at(v, 1)),
            "seq_char_sum",
        ),
    )


def _multiscale_oracle() -> str:
    def branch(d: int) -> str:
        return f"""
s{d} as (
  select conv_id, turn_idx as end_turn_idx, {d} as scale,
    row_number() over ({_OWIN}) - 1 as pos,
    count(*) over fr as seq_len,
    sum(char_len) over fr as seq_char_sum
  from (select * from t0 where pos0 % {d} = 0)
  window fr as ({_OWIN} rows between 3 preceding and current row)
)"""

    return f"""{_W},
t0 as (
  select conv_id, turn_idx, ts, cast(length(text) as double) as char_len,
    row_number() over ({_OWIN}) - 1 as pos0
  from transcripts
),
{",".join(branch(d) for d in (1, 2, 4))}
select conv_id, end_turn_idx, cast(scale as int) as scale, seq_len,
  round(seq_char_sum, 6) as seq_char_sum
from (select * from s1 union all select * from s2 union all select * from s4)
where pos >= 3 and (pos - 3) % 2 = 0
"""


O_MULTISCALE_SEQUENCES = _multiscale_oracle()


def q_multi_horizon_quantile(spark, sf_dir):
    lab = multi_horizon_labels(
        _t(spark, sf_dir).withColumn("p", F.col("value")),
        CFG, price_col="p", k=2, horizons=(5,), strategy="quantile", target_prop=0.33,
    )
    return lab.filter(F.col("label_h5").isNotNull()).select(
        "conv_id", "turn_idx",
        F.col("label_h5").cast("int").alias("label_h5"),
        _r6(F.col("pct_change_h5"), "pct_h5"),
    )


O_MULTI_HORIZON_QUANTILE = f"""{_W},
t as (select conv_id, turn_idx, ts, value as p from transcripts),
l as (
  select conv_id, turn_idx,
    avg(p) over wm as wm, count(p) over wm as nm,
    avg(p) over w5 as w5v, count(p) over w5 as n5
  from t
  window wm as ({_OWIN} rows between 2 preceding and current row),
         w5 as ({_OWIN} rows between 3 following and 5 following)
),
pc as (
  select conv_id, turn_idx,
    case when nm = 3 and n5 = 3 and wm != 0 then (w5v - wm) / wm end as pct
  from l
),
thr as (
  select conv_id, turn_idx, pct,
    quantile_cont(abs(pct), (1.0 - 2.0 * 0.33)) over (partition by conv_id) as th
  from pc
)
select conv_id, turn_idx,
  cast(case when pct > th then 1 when pct < -th then -1 else 0 end as int) as label_h5,
  round(pct, 6) as pct_h5
from thr where pct is not null
"""


def q_multi_horizon_dynamic(spark, sf_dir):
    lab = multi_horizon_labels(
        _t(spark, sf_dir).withColumn("p", F.col("value")),
        CFG, price_col="p", k=2, horizons=(5,), strategy="tlob_dynamic", divisor=2.0,
    )
    return lab.filter(F.col("label_h5").isNotNull()).select(
        "conv_id", "turn_idx",
        F.col("label_h5").cast("int").alias("label_h5"),
        _r6(F.col("pct_change_h5"), "pct_h5"),
    )


O_MULTI_HORIZON_DYNAMIC = f"""{_W},
t as (select conv_id, turn_idx, ts, value as p from transcripts),
l as (
  select conv_id, turn_idx,
    avg(p) over wm as wm, count(p) over wm as nm,
    avg(p) over w5 as w5v, count(p) over w5 as n5
  from t
  window wm as ({_OWIN} rows between 2 preceding and current row),
         w5 as ({_OWIN} rows between 3 following and 5 following)
),
pc as (
  select conv_id, turn_idx,
    case when nm = 3 and n5 = 3 and wm != 0 then (w5v - wm) / wm end as pct
  from l
),
thr as (
  select conv_id, turn_idx, pct,
    avg(abs(pct)) over (partition by conv_id) / 2.0 as th
  from pc
)
select conv_id, turn_idx,
  cast(case when pct > th then 1 when pct < -th then -1 else 0 end as int) as label_h5,
  round(pct, 6) as pct_h5
from thr where pct is not null
"""


def q_deeplob_m2(spark, sf_dir):
    lab = deeplob_labels(_t(spark, sf_dir).withColumn("p", F.col("value")),
                         CFG, price_col="p", k=3, theta=0.01, method=2)
    return lab.filter(F.col("dl_label").isNotNull()).select(
        "conv_id", "turn_idx",
        F.col("dl_label").cast("int").alias("label"),
        _r6(F.col("dl_label_pct_change"), "pct_change"),
    )


O_DEEPLOB_M2 = f"""{_W},
t as (select conv_id, turn_idx, ts, value as p from transcripts),
l as (
  select conv_id, turn_idx,
    avg(p) over wp as m_plus, count(p) over wp as n_plus,
    avg(p) over wb as m_minus, count(p) over wb as n_minus
  from t
  window wp as ({_OWIN} rows between 1 following and 3 following),
         wb as ({_OWIN} rows between 2 preceding and current row)
)
select conv_id, turn_idx,
  cast(case when (m_plus - m_minus) / m_minus > 0.01 then 1
            when (m_plus - m_minus) / m_minus < -0.01 then -1 else 0 end as int) as label,
  round((m_plus - m_minus) / m_minus, 6) as pct_change
from l where n_plus = 3 and n_minus = 3 and m_minus != 0
"""


def q_opportunity_priorities(spark, sf_dir):
    """All four conflict priorities side by side (larger_magnitude is the
    already-green opportunity_labels query; up/down/ambiguous here)."""
    t = _t(spark, sf_dir).withColumn("p", F.col("value"))
    lab = opportunity_labels(t, CFG, price_col="p", h=5, up_threshold=0.5,
                             down_threshold=0.3, conflict="up", out_prefix="o_up")
    lab = opportunity_labels(lab, CFG, price_col="p", h=5, up_threshold=0.5,
                             down_threshold=0.3, conflict="down", out_prefix="o_dn")
    lab = opportunity_labels(lab, CFG, price_col="p", h=5, up_threshold=0.5,
                             down_threshold=0.3, conflict="ambiguous", out_prefix="o_am")
    return lab.filter(F.col("o_up_label").isNotNull()).select(
        "conv_id", "turn_idx",
        F.col("o_up_label").cast("int").alias("label_up"),
        F.col("o_dn_label").cast("int").alias("label_down"),
        F.col("o_am_label").cast("int").alias("label_ambiguous"),
    )


O_OPPORTUNITY_PRIORITIES = f"""{_W},
t as (select conv_id, turn_idx, ts, value as p from transcripts),
l as (
  select conv_id, turn_idx, p,
    max(p) over wf / p - 1.0 as up_ret,
    min(p) over wf / p - 1.0 as down_ret,
    count(p) over wf as nf
  from t window wf as ({_OWIN} rows between 1 following and 5 following)
)
select conv_id, turn_idx,
  cast(case when up_ret > 0.5 and down_ret < -0.3 then 1
            when up_ret > 0.5 then 1 when down_ret < -0.3 then -1
            else 0 end as int) as label_up,
  cast(case when up_ret > 0.5 and down_ret < -0.3 then -1
            when up_ret > 0.5 then 1 when down_ret < -0.3 then -1
            else 0 end as int) as label_down,
  cast(case when up_ret > 0.5 and down_ret < -0.3 then 2
            when up_ret > 0.5 then 1 when down_ret < -0.3 then -1
            else 0 end as int) as label_ambiguous
from l where nf = 5 and p != 0
"""


def q_minhash_lsh_pairs(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = dedup.minhash_lsh_pairs(docs, k=3, num_hashes=16, bands=4)
    return out.select("id_a", "id_b", F.col("n_bands").cast("long").alias("n_bands"))


def _minhash_lsh_oracle(num_hashes: int = 16, bands: int = 4) -> str:
    rows = num_hashes // bands
    sigs = ",\n    ".join(
        f"min(md5('{s}|' || shingle)) as sig_{s}" for s in range(num_hashes)
    )
    band_keys = ",\n    ".join(
        f"'{b}:' || md5(" + " || '#' || ".join(
            f"sig_{b * rows + r}" for r in range(rows)
        ) + f") as band_{b}"
        for b in range(bands)
    )
    unnest = ", ".join(f"band_{b}" for b in range(bands))
    return f"""
with {_SHINGLE_SQL},
sigs as (
  select doc_id as id,
    {sigs}
  from shingled group by doc_id
),
banded as (
  select id,
    {band_keys}
  from sigs
),
melted as (select id, unnest([{unnest}]) as band_key from banded)
select a.id as id_a, b.id as id_b, cast(count(*) as bigint) as n_bands
from melted a join melted b using (band_key)
where a.id < b.id
group by 1, 2
"""


O_MINHASH_LSH_PAIRS = _minhash_lsh_oracle()


def q_time_regime(spark, sf_dir):
    out = state.with_time_regime(_t(spark, sf_dir), CFG)
    return out.select("conv_id", "turn_idx",
                      F.col("time_regime").cast("int").alias("time_regime"))


O_TIME_REGIME = f"""{_W}
select conv_id, turn_idx,
  cast(case when hour(ts) < 6 then 0 when hour(ts) < 12 then 1
            when hour(ts) < 17 then 2 when hour(ts) < 21 then 3
            else 4 end as int) as time_regime
from transcripts
"""


def q_zscore_global(spark, sf_dir):
    from .. import normalization as norm_mod

    t = _t(spark, sf_dir).select(
        "conv_id", "turn_idx",
        F.array(
            F.length("text").cast("double"),
            F.col("value").cast("double"),
            F.col("turn_idx").cast("double"),
        ).alias("features"),
    )
    out = norm_mod.global_zscore_rowwise(t, "features", "zn")
    return out.select(
        "conv_id", "turn_idx",
        _r6(F.element_at("zn", 1), "z0"),
        _r6(F.element_at("zn", 2), "z1"),
        _r6(F.element_at("zn", 3), "z2"),
    )


O_ZSCORE_GLOBAL = f"""{_W},
t as (
  select conv_id, turn_idx,
    [cast(length(text) as double), cast(value as double), cast(turn_idx as double)] as v
  from transcripts
),
s as (
  select conv_id, turn_idx, v,
    list_sum(v) / 3.0 as mean,
    list_sum(list_transform(v, x -> x * x)) / 3.0 as msq
  from t
),
z as (
  select conv_id, turn_idx, v, mean,
    sqrt(greatest(msq - mean * mean, 0.0)) as std
  from s
)
select conv_id, turn_idx,
  round((v[1] - mean) / (std + {DIVISION_GUARD_EPS}), 6) as z0,
  round((v[2] - mean) / (std + {DIVISION_GUARD_EPS}), 6) as z1,
  round((v[3] - mean) / (std + {DIVISION_GUARD_EPS}), 6) as z2
from z
"""


def q_vol_extended(spark, sf_dir):
    """Experimental vol family completion: momentum + vol-of-vol
    (reference: src/features/experimental/volatility.rs:265-278)."""
    t = _t(spark, sf_dir)
    out = vol_mod.with_volatility(t, CFG, price_col="value", fast=8, slow=32)
    return out.select(
        "conv_id", "turn_idx",
        _r6(F.col("vol_momentum"), "vol_momentum"),
        _r6(F.col("vol_of_vol"), "vol_of_vol"),
    )


O_VOL_EXTENDED = f"""{_W},
t as (
  select conv_id, turn_idx, ts, value as p from transcripts
),
r as (
  select conv_id, turn_idx, ts,
    case when lag(p) over w is not null and lag(p) over w > 0 and p > 0
         then ln(p / lag(p) over w) else 0.0 end as lr
  from t window w as ({_OWIN})
),
v as (
  select conv_id, turn_idx, ts,
    case when count(lr) over wf >= 3
         then greatest(stddev_samp(lr) over wf, 1e-10) else 0.0 end as vol_fast
  from r window wf as ({_OWIN} rows between 7 preceding and current row)
),
m as (
  select conv_id, turn_idx,
    lag(vol_fast, 10) over w as prev_vol,
    vol_fast,
    coalesce(stddev_samp(vol_fast) over wh, 0.0) as vov
  from v
  window w as ({_OWIN}),
         wh as ({_OWIN} rows between 31 preceding and current row)
)
select conv_id, turn_idx,
  round(case when prev_vol is not null and prev_vol > 1e-10
        then (vol_fast - prev_vol) / prev_vol else 0.0 end, 6) as vol_momentum,
  round(vov, 6) as vol_of_vol
from m
"""


QUERIES["vol_extended"] = q_vol_extended
ORACLES["vol_extended"] = O_VOL_EXTENDED


# --- generic walk-the-book market impact (last §2.2 gap) ----------------------------

_WTB_PS = [1.0 + 0.01 * i for i in range(4)]  # shared literals, both engines


def q_walk_the_book(spark, sf_dir):
    """Generic cumulative-fill walk over synthesized 4-level books
    (reference: estimate_impact_internal, src/features/market_impact.rs:128-230).
    Books are deterministic functions of (value, turn_idx) so the oracle
    unrolls the same walk in closed form."""
    from ..operators import book

    t = _t(spark, sf_dir).filter(F.col("value") > 0).select(
        "conv_id", "turn_idx",
        F.array(*[F.col("value") * F.lit(p) for p in _WTB_PS]).alias("prices"),
        F.array(*[
            (1 + F.pmod(F.col("turn_idx") + i, F.lit(7))).cast("double") for i in range(4)
        ]).alias("sizes"),
        (5 + F.pmod(F.col("turn_idx"), F.lit(10))).alias("quantity"),
    )
    out = book.walk_the_book(t)
    # value has 2 decimals and fills are integers, so vwap = cost/filled hits
    # exact .5 ties at 6 decimals where Spark (HALF_UP) and DuckDB
    # (half-even) round differently -> integerize via floor(x*1e6 + 0.5)
    def _i6(c, name):
        return F.floor(c * 1e6 + 0.5).cast("long").alias(name)

    return out.select(
        "conv_id", "turn_idx",
        _i6(F.col("wtb_vwap"), "vwap_u"),
        _i6(F.col("wtb_slippage_bps"), "slippage_bps_u"),
        F.col("wtb_levels_consumed").alias("levels_consumed"),
        _i6(F.col("wtb_fill_ratio"), "fill_ratio_u"),
        F.col("wtb_can_fill").alias("can_fill"),
    )


O_WALK_THE_BOOK = f"""{_W},
t as (
  select conv_id, turn_idx, value as v,
    cast(5 + turn_idx % 10 as double) as q,
    cast(1 + (turn_idx + 0) % 7 as double) as s0,
    cast(1 + (turn_idx + 1) % 7 as double) as s1,
    cast(1 + (turn_idx + 2) % 7 as double) as s2,
    cast(1 + (turn_idx + 3) % 7 as double) as s3
  from transcripts where value > 0
),
w0 as (
  select *, v * {_WTB_PS[0]!r} as p0, v * {_WTB_PS[1]!r} as p1,
    v * {_WTB_PS[2]!r} as p2, v * {_WTB_PS[3]!r} as p3,
    least(q, s0) as f0, q - least(q, s0) as r0
  from t
),
w1 as (select *, least(r0, s1) as f1, r0 - least(r0, s1) as r1 from w0),
w2 as (select *, least(r1, s2) as f2, r1 - least(r1, s2) as r2 from w1),
w3 as (select *, least(r2, s3) as f3, r2 - least(r2, s3) as r3 from w2),
fin as (
  select conv_id, turn_idx, p0 as best,
    p0 * f0 + p1 * f1 + p2 * f2 + p3 * f3 as cost,
    f0 + f1 + f2 + f3 as filled, q, r3,
    (case when q > 0 then 1 else 0 end) + (case when r0 > 0 then 1 else 0 end)
    + (case when r1 > 0 then 1 else 0 end) + (case when r2 > 0 then 1 else 0 end) as lv
  from w3
)
select conv_id, turn_idx,
  cast(floor((case when filled > 0 then cost / filled else best end) * 1e6 + 0.5) as bigint) as vwap_u,
  cast(floor((case when best > 0
        then ((case when filled > 0 then cost / filled else best end) - best) / best * 10000.0
        else 0.0 end) * 1e6 + 0.5) as bigint) as slippage_bps_u,
  cast(lv as int) as levels_consumed,
  cast(floor((case when q > 0 then filled / q else 1.0 end) * 1e6 + 0.5) as bigint) as fill_ratio_u,
  cast(case when r3 <= 0 then 1 else 0 end as int) as can_fill
from fin
"""

QUERIES["walk_the_book"] = q_walk_the_book
ORACLES["walk_the_book"] = O_WALK_THE_BOOK


# --- Structured Streaming stateful pipeline, oracle-checked --------------------------

def q_streaming_state(spark, sf_dir):
    """REAL streaming execution: transcripts replayed through readStream ->
    applyInPandasWithState (cumulative counters + exact reset-on-fire volume
    sampler) -> availableNow -> memory sink. Single-file source => one
    micro-batch => deterministic in-order replay per conversation, so the
    batch SQL oracle (cumulative sums + recursive-CTE sampler) matches
    exactly. This is the §2.10 streaming-semantics row, oracle-checked."""
    import hashlib
    import uuid
    from pathlib import Path as _P

    from ..streaming import stream as strm

    t = transcripts_from_events(spark, sf_dir)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = f"/tmp/stream_state_src_{tag}"
    if not _P(path).exists():
        t.coalesce(1).write.mode("overwrite").parquet(path)
    src = spark.readStream.schema(t.schema).parquet(path)
    out = strm.streaming_cumulative_state(src, CFG)
    qname = "qss_" + uuid.uuid4().hex[:12]
    # the stateful shuffle fixes its partition count at checkpoint creation;
    # 200/64 state-store partitions is pure per-partition overhead at these
    # row counts — pin a small count for the duration of the stream
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            out.writeStream.format("memory")
            .queryName(qname)
            .trigger(availableNow=True)
            .option("checkpointLocation", f"/dev/shm/spark-tmp/stream_state_ckpt_{uuid.uuid4().hex[:12]}")
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
    res = spark.table(qname)
    return res.select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        F.col("turns_so_far").cast("long").alias("turns_so_far"),
        F.col("user_turns_so_far").cast("long").alias("user_turns_so_far"),
        F.col("tool_turns_so_far").cast("long").alias("tool_turns_so_far"),
        _r6(F.col("chars_so_far"), "chars_so_far"),
        F.col("is_sample").cast("long").alias("is_sample"),
    )


O_STREAMING_STATE = f"""with recursive {ORACLE_TRANSCRIPTS_CTE},
t as (
  select conv_id, turn_idx, ts, role, cast(length(text) as double) as sz,
    row_number() over ({_OWIN}) as rn
  from transcripts
),
walk as (
  select conv_id, rn, turn_idx,
    case when sz >= 200.0 then 0.0 else sz end as acc,
    case when sz >= 200.0 then 1 else 0 end as fire
  from t where rn = 1
  union all
  select t.conv_id, t.rn, t.turn_idx,
    case when w.acc + t.sz >= 200.0 then 0.0 else w.acc + t.sz end,
    case when w.acc + t.sz >= 200.0 then 1 else 0 end
  from walk w join t on t.conv_id = w.conv_id and t.rn = w.rn + 1
),
c as (
  select conv_id, turn_idx,
    cast(count(*) over cum as bigint) as turns_so_far,
    cast(sum(case when role = 'user' then 1 else 0 end) over cum as bigint) as user_turns_so_far,
    cast(sum(case when role = 'tool' then 1 else 0 end) over cum as bigint) as tool_turns_so_far,
    round(sum(sz) over cum, 6) as chars_so_far
  from t window cum as ({_CUM})
)
select c.conv_id, cast(c.turn_idx as bigint) as turn_idx,
  c.turns_so_far, c.user_turns_so_far, c.tool_turns_so_far, c.chars_so_far,
  cast(w.fire as bigint) as is_sample
from c join walk w using (conv_id, turn_idx)
"""

QUERIES["streaming_state"] = q_streaming_state
ORACLES["streaming_state"] = O_STREAMING_STATE


# --- seasonality block (reference: experimental/seasonality.rs) ----------------------

def q_seasonality(spark, sf_dir):
    out = state.with_seasonality(_t(spark, sf_dir), CFG)
    return out.select(
        "conv_id", "turn_idx",
        _r6(F.col("mins_since_midnight"), "mins_since_midnight"),
        _r6(F.col("mins_until_midnight"), "mins_until_midnight"),
        # sod/86400 terminates at 7 decimals -> exact .5 ties at round(,6);
        # integerize instead (see duckdb-oracle-float-pitfalls)
        F.floor(F.col("day_progress") * 1e6 + 0.5).cast("long").alias("day_progress_u"),
        F.col("halfhour_bucket").alias("halfhour_bucket"),
    )


O_SEASONALITY = f"""{_W},
t as (
  select conv_id, turn_idx,
    cast(floor(epoch_us(ts) / 1000000) % 86400 as double) as sod
  from transcripts
)
select conv_id, turn_idx,
  round(sod / 60.0, 6) as mins_since_midnight,
  round(1440.0 - sod / 60.0, 6) as mins_until_midnight,
  cast(floor((sod / 86400.0) * 1e6 + 0.5) as bigint) as day_progress_u,
  cast(floor((sod / 60.0) / 30.0) as int) as halfhour_bucket
from t
"""

QUERIES["seasonality"] = q_seasonality
ORACLES["seasonality"] = O_SEASONALITY


# --- streaming session_window vs SQL gap-sessionization oracle ------------------------

def q_streaming_sessions(spark, sf_dir):
    """Structured Streaming session_window aggregation replayed over the
    transcript corpus (availableNow, memory sink). With a single micro-batch
    every session closes at end-of-stream, so the batch gap-sessionization
    SQL is the exact oracle. Session gap = CFG.session_gap_s (1800 s)."""
    import hashlib
    import uuid
    from pathlib import Path as _P

    from ..streaming import stream as strm

    t = transcripts_from_events(spark, sf_dir)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = f"/tmp/stream_sess_src_{tag}"
    if not _P(path).exists():
        t.coalesce(1).write.mode("overwrite").parquet(path)
    src = spark.readStream.schema(t.schema).parquet(path)
    out = strm.streaming_sessions(src, CFG, watermark="1 second")
    qname = "qsw_" + uuid.uuid4().hex[:12]
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        # complete mode: append would withhold each conversation's final
        # session (its window end never falls behind the watermark at
        # end-of-stream); complete emits the full merged state
        q = (
            out.writeStream.format("memory")
            .queryName(qname)
            .outputMode("complete")
            .trigger(availableNow=True)
            .option("checkpointLocation", f"/dev/shm/spark-tmp/stream_sess_ckpt_{uuid.uuid4().hex[:12]}")
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
    res = spark.table(qname)
    return res.select(
        "conv_id",
        F.unix_micros(F.col("session_start").cast("timestamp")).alias("session_start_us"),
        F.col("n_turns").cast("long").alias("n_turns"),
        F.col("chars").cast("long").alias("chars"),
    )


O_STREAMING_SESSIONS = f"""{_W},
t as (
  select conv_id, ts, coalesce(length(text), 0) as chars,
    case when lag(ts) over w is null
           or epoch_us(ts) - epoch_us(lag(ts) over w) > 1800 * 1000000
         then 1 else 0 end as is_start
  from transcripts window w as (partition by conv_id order by ts, turn_idx)
),
s as (
  select conv_id, ts, chars,
    sum(is_start) over (partition by conv_id order by ts
                        rows between unbounded preceding and current row) as sid
  from t
)
select conv_id,
  min(epoch_us(ts)) as session_start_us,
  cast(count(*) as bigint) as n_turns,
  cast(sum(chars) as bigint) as chars
from s group by conv_id, sid
"""

QUERIES["streaming_sessions"] = q_streaming_sessions
ORACLES["streaming_sessions"] = O_STREAMING_SESSIONS


# --- random-hyperplane LSH near-dup (third scale path; deterministic planes) ---------

def q_embedding_near_dup_hp(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    out = similarity.hyperplane_near_dup(emb, threshold=0.35, n_planes=8, seed=7, dim=64)
    return out.select("id_a", "id_b", _r6(F.col("cos"), "cos"))


def _hp_near_dup_oracle(n_planes: int = 8, seed: int = 7, dim: int = 64) -> str:
    from ..operators.similarity import hyperplanes

    planes = hyperplanes(dim, n_planes, seed)
    bucket = " + ".join(
        f"(case when list_dot_product(v, [{', '.join(repr(x) for x in h)}]) > 0 "
        f"then {1 << j} else 0 end)"
        for j, h in enumerate(planes)
    )
    return f"""
with e as (select vec_id, embedding::DOUBLE[] as v from embeddings),
b as (
  select vec_id, v, {bucket} as bk
  from e
),
pairs as (
  select a.vec_id as id_a, c.vec_id as id_b,
    list_dot_product(a.v, c.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v))
         + {DIVISION_GUARD_EPS}) as cos
  from b a join b c on a.bk = c.bk and a.vec_id < c.vec_id
)
select id_a, id_b, round(cos, 6) as cos from pairs where cos >= 0.35
"""


O_EMBEDDING_NEAR_DUP_HP = _hp_near_dup_oracle()

QUERIES["embedding_near_dup_hp"] = q_embedding_near_dup_hp
ORACLES["embedding_near_dup_hp"] = O_EMBEDDING_NEAR_DUP_HP


# --- forward as-of join (next-event lookup) ------------------------------------------

def q_asof_join_forward(spark, sf_dir):
    t = _t(spark, sf_dir)
    left = t.select("conv_id", "turn_idx", "ts")
    right = (
        t.filter(F.col("text").startswith("purchase"))
        .select("conv_id", "ts", F.col("value").alias("purchase_value"))
    )
    out = asof.asof_join(left, right, key="conv_id", ts="ts",
                         value_cols=["purchase_value"], direction="forward")
    return out.select(
        "conv_id", "turn_idx",
        _r6(F.col("purchase_value_asof"), "next_purchase_value"),
    )


O_ASOF_JOIN_FORWARD = f"""{_W},
l as (select conv_id, turn_idx, ts from transcripts),
r as (select conv_id, ts, value as purchase_value from transcripts
      where text like 'purchase%')
select l.conv_id, l.turn_idx,
  round(r.purchase_value, 6) as next_purchase_value
from l asof left join r on l.conv_id = r.conv_id and l.ts <= r.ts
"""

QUERIES["asof_join_forward"] = q_asof_join_forward
ORACLES["asof_join_forward"] = O_ASOF_JOIN_FORWARD


# --- hash-key exact dedup (the 100-TB form: shuffle 16-byte digests, not documents) ---

def q_dedup_exact_hash(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    key = F.md5(dedup.normalize_text("text"))
    return (
        docs.groupBy(key.alias("text_hash"))
        .agg(F.min("doc_id").alias("keep_doc_id"),
             F.count(F.lit(1)).cast("long").alias("n_copies"))
    )


O_DEDUP_EXACT_HASH = """
select md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) as text_hash,
  min(doc_id) as keep_doc_id,
  cast(count(*) as bigint) as n_copies
from documents group by 1
"""

QUERIES["dedup_exact_hash"] = q_dedup_exact_hash
ORACLES["dedup_exact_hash"] = O_DEDUP_EXACT_HASH


QUERIES.update({
    "multiscale_sequences": q_multiscale_sequences,
    "multi_horizon_quantile": q_multi_horizon_quantile,
    "multi_horizon_dynamic": q_multi_horizon_dynamic,
    "deeplob_m2": q_deeplob_m2,
    "opportunity_priorities": q_opportunity_priorities,
    "minhash_lsh_pairs": q_minhash_lsh_pairs,
    "time_regime": q_time_regime,
    "zscore_global": q_zscore_global,
})
ORACLES.update({
    "multiscale_sequences": O_MULTISCALE_SEQUENCES,
    "multi_horizon_quantile": O_MULTI_HORIZON_QUANTILE,
    "multi_horizon_dynamic": O_MULTI_HORIZON_DYNAMIC,
    "deeplob_m2": O_DEEPLOB_M2,
    "opportunity_priorities": O_OPPORTUNITY_PRIORITIES,
    "minhash_lsh_pairs": O_MINHASH_LSH_PAIRS,
    "time_regime": O_TIME_REGIME,
    "zscore_global": O_ZSCORE_GLOBAL,
})


# --- training-data quality: repetition metrics, PII redaction, dedup clusters --------
# (Gopher-rule repetition signals; regex PII scrub; CC over LSH pairs)

from ..functions import pii as pii_fn  # noqa: E402
from ..functions import repetition as rep  # noqa: E402


def q_repetition_metrics(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = rep.repetition_metrics(docs)
    return out.select(
        F.col("id").alias("doc_id"),
        "n_words",
        _r6(F.col("distinct_word_ratio"), "distinct_word_ratio"),
        _r6(F.col("dup_2gram_frac"), "dup_2gram_frac"),
        _r6(F.col("top_2gram_char_frac"), "top_2gram_char_frac"),
    )


O_REPETITION_METRICS = f"""
with w as (
  select doc_id,
    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') as words,
    length(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) as n_chars
  from documents
),
grams as (
  select doc_id,
    unnest([array_to_string(words[i:i+1], ' ') for i in range(1, len(words))]) as gram
  from w
),
gc as (select doc_id, gram, count(*) as cnt from grams group by 1, 2),
agg as (
  select doc_id,
    sum(cnt) as total_grams,
    sum(case when cnt > 1 then cnt else 0 end) as dup_occ,
    max(cnt * length(gram)) as top_chars
  from gc group by doc_id
)
select w.doc_id,
  cast(len(words) as bigint) as n_words,
  round(len(list_distinct(words)) / (len(words) + {DIVISION_GUARD_EPS}), 6) as distinct_word_ratio,
  round(coalesce(dup_occ, 0) / (coalesce(total_grams, 0) + {DIVISION_GUARD_EPS}), 6) as dup_2gram_frac,
  round(coalesce(top_chars, 0) / (n_chars + {DIVISION_GUARD_EPS}), 6) as top_2gram_char_frac
from w left join agg using (doc_id)
"""


def q_word_runs(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = rep.max_word_run(docs)
    return out.select(F.col("id").alias("doc_id"), "max_word_run")


O_WORD_RUNS = """
with w as (
  select doc_id,
    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') as words
  from documents
),
pos as (
  select doc_id, unnest(range(1, len(words) + 1)) as pos, unnest(words) as word from w
),
chg as (
  select doc_id, pos,
    case when lag(word) over (partition by doc_id order by pos) is distinct from word
         then 1 else 0 end as chg
  from pos
),
grp as (
  select doc_id, sum(chg) over (partition by doc_id order by pos
    rows between unbounded preceding and current row) as g
  from chg
),
runs as (select doc_id, g, count(*) as run_len from grp group by 1, 2)
select doc_id, cast(max(run_len) as bigint) as max_word_run from runs group by doc_id
"""


def q_pii_redaction(spark, sf_dir):
    """PII scrub over documents deterministically augmented with one email,
    one IPv4, and one phone each (the synthetic corpus contains none, so the
    augmentation — identical in the oracle — exercises the real regex path)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@mail.example.com from 10."), (F.col("doc_id") % 200).cast("string"),
        F.lit(".0.1 call 555-"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"), F.lit("-0199"),
    )
    d = docs.select("doc_id", aug.alias("t"))
    return d.select(
        "doc_id",
        pii_fn.email_count("t").alias("n_emails"),
        pii_fn.ipv4_count("t").alias("n_ips"),
        pii_fn.phone_count("t").alias("n_phones"),
        pii_fn.redaction_fingerprint("t").alias("redacted_fp"),
    )


O_PII_REDACTION = f"""
with a as (
  select doc_id,
    text || ' contact user' || cast(doc_id as varchar)
      || '@mail.example.com from 10.' || cast(doc_id % 200 as varchar)
      || '.0.1 call 555-' || lpad(cast(doc_id % 1000 as varchar), 3, '0')
      || '-0199' as t
  from documents
)
select doc_id,
  cast(len(regexp_extract_all(t, '{pii_fn.EMAIL_RE}')) as bigint) as n_emails,
  cast(len(regexp_extract_all(t, '{pii_fn.IPV4_RE}')) as bigint) as n_ips,
  cast(len(regexp_extract_all(t, '{pii_fn.PHONE_RE}')) as bigint) as n_phones,
  md5(regexp_replace(regexp_replace(regexp_replace(t,
      '{pii_fn.EMAIL_RE}', '<EMAIL>', 'g'),
      '{pii_fn.IPV4_RE}', '<IP>', 'g'),
      '{pii_fn.PHONE_RE}', '<PHONE>', 'g')) as redacted_fp
from a
"""


def q_dedup_clusters(spark, sf_dir):
    """Duplicate-cluster assembly: MinHash LSH candidate pairs -> connected
    components (min-label propagation) -> (doc, cluster representative)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = dedup.minhash_lsh_pairs(docs, k=3, num_hashes=16, bands=4)
    cc = dedup.connected_components(pairs)
    return cc.select(
        F.col("id").alias("doc_id"), F.col("cluster_id").cast("long").alias("cluster_id")
    )


def _dedup_clusters_oracle(num_hashes: int = 16, bands: int = 4) -> str:
    rows = num_hashes // bands
    sigs = ",\n    ".join(
        f"min(md5('{s}|' || shingle)) as sig_{s}" for s in range(num_hashes)
    )
    band_keys = ",\n    ".join(
        f"'{b}:' || md5(" + " || '#' || ".join(
            f"sig_{b * rows + r}" for r in range(rows)
        ) + f") as band_{b}"
        for b in range(bands)
    )
    unnest = ", ".join(f"band_{b}" for b in range(bands))
    return f"""
with recursive {_SHINGLE_SQL},
sigs as (
  select doc_id as id,
    {sigs}
  from shingled group by doc_id
),
banded as (
  select id,
    {band_keys}
  from sigs
),
melted as (select id, unnest([{unnest}]) as band_key from banded),
pairs as (
  select distinct a.id as id_a, b.id as id_b
  from melted a join melted b using (band_key)
  where a.id < b.id
),
sym as (
  select id_a as src, id_b as dst from pairs
  union
  select id_b as src, id_a as dst from pairs
),
reach(src, dst) as (
  select src, dst from sym
  union
  select r.src, s.dst from reach r join sym s on r.dst = s.src
)
select src as doc_id, cast(least(src, min(dst)) as bigint) as cluster_id
from reach group by src
"""


O_DEDUP_CLUSTERS = _dedup_clusters_oracle()


QUERIES.update({
    "repetition_metrics": q_repetition_metrics,
    "word_runs": q_word_runs,
    "pii_redaction": q_pii_redaction,
    "dedup_clusters": q_dedup_clusters,
})
ORACLES.update({
    "repetition_metrics": O_REPETITION_METRICS,
    "word_runs": O_WORD_RUNS,
    "pii_redaction": O_PII_REDACTION,
    "dedup_clusters": O_DEDUP_CLUSTERS,
})


# --- corpus statistics: vocabulary, TF-IDF, domains, hash sampling, quality filter ----

from ..functions import corpus  # noqa: E402

_WORDS_CTE = """
w as (
  select doc_id,
    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') as words,
    length(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) as n_chars
  from documents
)"""


def q_vocab_topk(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus.vocab_topk(docs, k=100)


O_VOCAB_TOPK = f"""
with {_WORDS_CTE},
wc as (select unnest(words) as word from w),
c as (select word, count(*) as cnt from wc group by word),
r as (select word, cnt, row_number() over (order by cnt desc, word asc) as rank from c)
select cast(rank as bigint) as rank, word, cast(cnt as bigint) as cnt
from r where rank <= 100
"""


def q_tfidf_top_terms(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = corpus.tf_idf_top_terms(docs, k=3)
    return out.select(
        F.col("id").alias("doc_id"), "rank", "word", "cnt", "df", _r6(F.col("tfidf"), "tfidf")
    )


O_TFIDF_TOP_TERMS = f"""
with {_WORDS_CTE},
ww as (select doc_id, unnest(words) as word from w),
tf as (select doc_id, word, count(*) as cnt from ww group by 1, 2),
dfreq as (select word, count(*) as df from tf group by word),
dl as (select doc_id, sum(cnt) as n_words from tf group by doc_id),
n as (select cast(count(*) as double) as n_docs from documents),
s as (
  select doc_id, word, cnt, df,
    (cnt / (n_words + {DIVISION_GUARD_EPS})) * ln(1.0 + n_docs / df) as tfidf,
    row_number() over (partition by doc_id order by cnt desc, df asc, word asc) as rank
  from tf join dfreq using (word) join dl using (doc_id) cross join n
)
select doc_id, cast(rank as bigint) as rank, word,
  cast(cnt as bigint) as cnt, cast(df as bigint) as df, round(tfidf, 6) as tfidf
from s where rank <= 3
"""


def q_domain_counts(spark, sf_dir):
    """Domain frequency table over documents deterministically augmented
    with one URL each (the synthetic corpus has none; the identical
    augmentation in the oracle keeps the regex path honest)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    aug = F.concat(
        F.col("text"),
        F.lit(" see https://site"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".example.org/p/"), F.col("doc_id").cast("string"),
    )
    d = docs.select("doc_id", aug.alias("text"))
    out = corpus.domain_counts(d)
    return out.select(
        "domain",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_urls").cast("long").alias("n_urls"),
    )


O_DOMAIN_COUNTS = f"""
with a as (
  select doc_id,
    text || ' see https://site' || cast(doc_id % 7 as varchar)
      || '.example.org/p/' || cast(doc_id as varchar) as text
  from documents
),
u as (
  select doc_id, unnest(regexp_extract_all(text, '{corpus.DOMAIN_RE}', 1)) as domain
  from a
)
select domain, cast(count(distinct doc_id) as bigint) as n_docs,
  cast(count(*) as bigint) as n_urls
from u group by domain
"""


def q_hash_sample(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus.hash_sample(docs, frac=0.25).select("doc_id", "n_chars")


_NIBBLE = "strpos('0123456789abcdef', substr(h, {i}, 1)) - 1"
_HEX7 = " + ".join(
    f"({_NIBBLE.format(i=i + 1)}) * {16 ** (6 - i)}" for i in range(7)
)

O_HASH_SAMPLE = f"""
with h as (select doc_id, n_chars, md5(cast(doc_id as varchar)) as h from documents),
v as (select doc_id, n_chars, ({_HEX7}) % 10000 as bucket from h)
select doc_id, n_chars from v where bucket < 2500
"""


def q_priority_sample(spark, sf_dir):
    """Weighted PPS order sample (Sunter/sequential-Poisson, integer
    priorities): per source, the k documents with the smallest
    ``md5_uniform * scale div weight`` keys (functions/corpus.py
    priority_sample). Deterministic, engine-reproducible, one window
    shuffle."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = corpus.priority_sample(
        docs, k=50, weight_col="n_chars", id_col="doc_id", group_col="source"
    )
    return out.select("doc_id", "source", "n_chars", "priority_fp")


O_PRIORITY_SAMPLE = f"""
with h as (
  select doc_id, source, n_chars,
    md5(cast(doc_id as varchar)) as h
  from documents
),
p as (
  select doc_id, source, n_chars,
    (cast(({_HEX7}) as hugeint) * 1000000)
      // greatest(cast(n_chars as bigint), 1) as priority_fp
  from h
),
r as (
  select *, row_number() over (
    partition by source order by priority_fp, doc_id) as rk
  from p
)
select doc_id, source, n_chars, cast(priority_fp as bigint) as priority_fp
from r where rk <= 50
"""


def q_gopher_filter(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = rep.gopher_filter(docs)
    return out.select(
        F.col("id").alias("doc_id"),
        "flag_words", "flag_distinct", "flag_dup", "flag_top", "flag_run", "keep",
    )


O_GOPHER_FILTER = f"""
with {_WORDS_CTE},
grams as (
  select doc_id,
    unnest([array_to_string(words[i:i+1], ' ') for i in range(1, len(words))]) as gram
  from w
),
gc as (select doc_id, gram, count(*) as cnt from grams group by 1, 2),
agg as (
  select doc_id, sum(cnt) as total_grams,
    sum(case when cnt > 1 then cnt else 0 end) as dup_occ,
    max(cnt * length(gram)) as top_chars
  from gc group by doc_id
),
m as (
  select w.doc_id, len(words) as n_words,
    len(list_distinct(words)) / (len(words) + {DIVISION_GUARD_EPS}) as dwr,
    coalesce(dup_occ, 0) / (coalesce(total_grams, 0) + {DIVISION_GUARD_EPS}) as dup_frac,
    coalesce(top_chars, 0) / (n_chars + {DIVISION_GUARD_EPS}) as top_frac
  from w left join agg using (doc_id)
),
pos as (select doc_id, unnest(range(1, len(words) + 1)) as pos, unnest(words) as word from w),
chg as (
  select doc_id, pos,
    case when lag(word) over (partition by doc_id order by pos) is distinct from word
         then 1 else 0 end as chg
  from pos
),
grp as (
  select doc_id, sum(chg) over (partition by doc_id order by pos
    rows between unbounded preceding and current row) as g
  from chg
),
mr as (
  select doc_id, max(run_len) as max_word_run
  from (select doc_id, g, count(*) as run_len from grp group by 1, 2) group by doc_id
),
f as (
  select m.doc_id,
    cast(case when n_words < 20 or n_words > 80 then 1 else 0 end as int) as flag_words,
    cast(case when dwr < 0.35 then 1 else 0 end as int) as flag_distinct,
    cast(case when dup_frac > 0.10 then 1 else 0 end as int) as flag_dup,
    cast(case when top_frac > 0.12 then 1 else 0 end as int) as flag_top,
    cast(case when coalesce(max_word_run, 1) > 2 then 1 else 0 end as int) as flag_run
  from m left join mr using (doc_id)
)
select doc_id, flag_words, flag_distinct, flag_dup, flag_top, flag_run,
  cast(case when flag_words + flag_distinct + flag_dup + flag_top + flag_run = 0
       then 1 else 0 end as int) as keep
from f
"""


QUERIES.update({
    "vocab_topk": q_vocab_topk,
    "tfidf_top_terms": q_tfidf_top_terms,
    "domain_counts": q_domain_counts,
    "hash_sample": q_hash_sample,
    "priority_sample": q_priority_sample,
    "gopher_filter": q_gopher_filter,
})
ORACLES.update({
    "vocab_topk": O_VOCAB_TOPK,
    "tfidf_top_terms": O_TFIDF_TOP_TERMS,
    "domain_counts": O_DOMAIN_COUNTS,
    "hash_sample": O_HASH_SAMPLE,
    "priority_sample": O_PRIORITY_SAMPLE,
    "gopher_filter": O_GOPHER_FILTER,
})


# --- sample packing + benchmark decontamination --------------------------------------

def q_pack_token_stream(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = corpus.pack_token_stream(docs, budget=512, n_shards=8)
    return out.select(
        F.col("id").alias("doc_id"), "shard", "n_tokens",
        F.col("offset").alias("stream_offset"), "bin_start", "bin_end",
    )


O_PACK_TOKEN_STREAM = f"""
with h as (select doc_id, text, md5(cast(doc_id as varchar)) as h from documents),
t as (
  select doc_id, ({_HEX7}) % 8 as shard,
    cast(len(regexp_split_to_array(trim(text), '\\s+')) as bigint) as n_tokens
  from h
),
o as (
  select doc_id, shard, n_tokens,
    coalesce(sum(n_tokens) over (partition by shard order by doc_id
      rows between unbounded preceding and 1 preceding), 0) as so
  from t
)
select doc_id, cast(shard as bigint) as shard, n_tokens,
  cast(so as bigint) as stream_offset,
  cast(floor(so / 512) as bigint) as bin_start,
  cast(floor((so + greatest(n_tokens, 1) - 1) / 512) as bigint) as bin_end
from o
"""


def q_contamination(spark, sf_dir):
    """Decontamination against a deterministic pseudo-eval set (every 50th
    document) — at scale the eval side is a real benchmark table."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    train = docs.filter(F.col("doc_id") % 50 != 0)
    ev = docs.filter(F.col("doc_id") % 50 == 0)
    out = corpus.contamination_overlap(train, ev, k=3, threshold=0.03)
    return out.select(
        F.col("id").alias("doc_id"), "n_shingles", "n_shared",
        _r6(F.col("overlap_frac"), "overlap_frac"), "contaminated",
    )


_SHINGLE_EXPR = """unnest(case when len(words) >= 3 then
      list_distinct([array_to_string(words[i:i+2], ' ') for i in range(1, len(words) - 1)])
    else [array_to_string(words, ' ')] end)"""

O_CONTAMINATION = f"""
with ts as (
  select doc_id, {_SHINGLE_EXPR} as shingle
  from (select doc_id, string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') as words
        from documents where doc_id % 50 != 0)
),
es as (
  select distinct {_SHINGLE_EXPR} as shingle
  from (select doc_id, string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') as words
        from documents where doc_id % 50 = 0)
),
tot as (select doc_id, count(*) as n_shingles from ts group by doc_id),
hit as (select ts.doc_id, count(*) as n_shared from ts join es using (shingle) group by ts.doc_id)
select t.doc_id, cast(n_shingles as bigint) as n_shingles,
  cast(coalesce(n_shared, 0) as bigint) as n_shared,
  round(coalesce(n_shared, 0) / (n_shingles + {DIVISION_GUARD_EPS}), 6) as overlap_frac,
  cast(case when coalesce(n_shared, 0) / (n_shingles + {DIVISION_GUARD_EPS}) >= 0.03
       then 1 else 0 end as int) as contaminated
from tot t left join hit using (doc_id)
"""


QUERIES.update({
    "pack_token_stream": q_pack_token_stream,
    "contamination": q_contamination,
})
ORACLES.update({
    "pack_token_stream": O_PACK_TOKEN_STREAM,
    "contamination": O_CONTAMINATION,
})


# --- backfill imputation (north-rule twin of ffill_impute) ----------------------------

def q_bfill_impute(spark, sf_dir):
    t = transcripts_from_events(spark, sf_dir)
    sparse = t.withColumn(
        "purchase_value",
        F.when(F.col("text").startswith("purchase"), F.col("value")),
    )
    out = asof.bfill(sparse, CFG, ["purchase_value"])
    return out.select(
        "conv_id", "turn_idx",
        _r6(F.col("purchase_value_bfill"), "purchase_value_bfill"),
    )


O_BFILL_IMPUTE = f"""{_W}
select conv_id, turn_idx,
  round(first_value(case when text like 'purchase%' then value end ignore nulls)
        over ({_OWIN} rows between current row and unbounded following), 6)
    as purchase_value_bfill
from transcripts
"""

QUERIES["bfill_impute"] = q_bfill_impute
ORACLES["bfill_impute"] = O_BFILL_IMPUTE


# --- end-to-end corpus curation: filter -> dedup -> pack ------------------------------

def q_curation_pipeline(spark, sf_dir):
    """The LLM-data capstone: Gopher-filter the corpus, drop exact
    duplicates (keep the smallest doc_id per normalized-text hash), pack
    the survivors into 512-token training streams, and report per-shard
    corpus stats. Every stage is a first-class operator elsewhere in the
    registry; this query proves they compose."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    flags = rep.gopher_filter(docs).filter(F.col("keep") == 1)
    kept = docs.join(flags.select(F.col("id").alias("doc_id")), "doc_id")
    reps = (
        kept.groupBy(F.md5(dedup.normalize_text("text")).alias("_k"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    deduped = kept.join(reps, "doc_id")
    packed = corpus.pack_token_stream(deduped, budget=512, n_shards=4)
    return packed.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        (F.max("bin_end") + 1).cast("long").alias("n_bins"),
    )


O_CURATION_PIPELINE = f"""
with g as ({O_GOPHER_FILTER}),
kept as (select d.* from documents d join g using (doc_id) where g.keep = 1),
reps as (
  select min(doc_id) as doc_id from kept
  group by md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
),
ded as (select kept.* from kept join reps using (doc_id)),
dh as (select *, md5(cast(doc_id as varchar)) as h from ded),
t as (
  select doc_id, ({_HEX7}) % 4 as shard,
    cast(len(regexp_split_to_array(trim(text), '\\s+')) as bigint) as n_tokens
  from dh
),
o as (
  select doc_id, shard, n_tokens,
    coalesce(sum(n_tokens) over (partition by shard order by doc_id
      rows between unbounded preceding and 1 preceding), 0) as so
  from t
)
select cast(shard as bigint) as shard,
  cast(count(*) as bigint) as n_docs,
  cast(sum(n_tokens) as bigint) as total_tokens,
  cast(max(floor((so + greatest(n_tokens, 1) - 1) / 512)) + 1 as bigint) as n_bins
from o group by shard
"""

QUERIES["curation_pipeline"] = q_curation_pipeline
ORACLES["curation_pipeline"] = O_CURATION_PIPELINE


# --- distributed Lloyd k-means over embeddings (iterative, fixed rounds) --------------

def q_kmeans_clusters(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    out, _cents = similarity.kmeans_lloyd(emb, k=4, iters=2)
    return out.select("vec_id", F.col("centroid_id").cast("int").alias("cluster"))


_KMEANS_DEFAULT_SOURCE = "select vec_id, embedding::DOUBLE[] as v from embeddings"


def _kmeans_oracle(k: int = 4, iters: int = 2, source: str = _KMEANS_DEFAULT_SOURCE,
                   head: str = "with") -> str:
    parts = [f"""
{head} e as ({source}),
c0 as (
  select row_number() over (order by vec_id) as centroid_id, v as cv
  from (select vec_id, v from e order by vec_id limit {k})
)"""]

    def assign(idx: int, cent: str) -> str:
        return f""",
sc{idx} as (
  select e.vec_id, e.v, c.centroid_id,
    list_dot_product(e.v, c.cv)
      / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))
         + {DIVISION_GUARD_EPS}) as cc
  from e cross join {cent} c
),
asg{idx} as (
  select vec_id, v, centroid_id from (
    select *, row_number() over (partition by vec_id order by cc desc, centroid_id) as r
    from sc{idx}
  ) where r = 1
)"""

    def update(idx: int) -> str:
        return f""",
m{idx} as (
  select centroid_id, unnest(v) as val, unnest(range(1, len(v) + 1)) as i from asg{idx}
),
mv{idx} as (select centroid_id, i, avg(val) as m from m{idx} group by 1, 2),
c{idx} as (select centroid_id, array_agg(m order by i) as cv from mv{idx} group by centroid_id)"""

    for it in range(1, iters + 1):
        parts.append(assign(it, f"c{it - 1}"))
        parts.append(update(it))
    final = iters + 1
    parts.append(assign(final, f"c{iters}"))
    parts.append(f"""
select vec_id, cast(centroid_id as int) as cluster from asg{final}
""")
    return "".join(parts)


O_KMEANS_CLUSTERS = _kmeans_oracle()

QUERIES["kmeans_clusters"] = q_kmeans_clusters
ORACLES["kmeans_clusters"] = O_KMEANS_CLUSTERS


# --- streaming exact dedup (stateful streaming agg, availableNow replay) --------------

def q_streaming_dedup(spark, sf_dir):
    """REAL streaming execution of the LLM-data exact-dedup operator:
    documents replayed through readStream -> stateful streaming aggregation
    keyed on the normalized-text hash -> availableNow -> memory sink in
    complete mode. The final state equals the batch answer, so the batch
    SQL oracle matches exactly — streaming semantics for the dedup family,
    not just the transcript operators."""
    import hashlib
    import uuid
    from pathlib import Path as _P

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = f"/tmp/stream_dedup_src_{tag}"
    if not _P(path).exists():
        docs.coalesce(1).write.mode("overwrite").parquet(path)
    src = spark.readStream.schema(docs.schema).parquet(path)
    agg = src.groupBy(F.md5(dedup.normalize_text("text")).alias("text_hash")).agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count(F.lit(1)).cast("long").alias("n_copies"),
    )
    qname = "qsd_" + uuid.uuid4().hex[:12]
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            agg.writeStream.format("memory")
            .queryName(qname)
            .outputMode("complete")
            .trigger(availableNow=True)
            .option("checkpointLocation", f"/dev/shm/spark-tmp/stream_dedup_ckpt_{uuid.uuid4().hex[:12]}")
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
    return spark.table(qname).select("text_hash", "keep_doc_id", "n_copies")


O_STREAMING_DEDUP = """
select md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) as text_hash,
  min(doc_id) as keep_doc_id,
  cast(count(*) as bigint) as n_copies
from documents group by 1
"""

QUERIES["streaming_dedup"] = q_streaming_dedup
ORACLES["streaming_dedup"] = O_STREAMING_DEDUP


# --- queue/depth analogs: open-episode statistics across tools (features 68-73) -------

def q_open_tool_queue(spark, sf_dir):
    out = lifecycle.with_open_tool_queue(_t(spark, sf_dir), CFG)
    return out.select(
        "conv_id", "turn_idx", "n_active_tools", "total_open",
        _r6(F.col("open_tool_hhi"), "open_tool_hhi"),
        _r6(F.col("episodes_per_active_tool"), "episodes_per_active_tool"),
    )


O_OPEN_TOOL_QUEUE = f"""{_W},
t1 as (
  select conv_id, turn_idx, ts, tool,
    case when role = 'assistant' and tool is not null then 1
         when role = 'tool' and tool is not null then -1 else 0 end as sgn
  from transcripts
),
t2 as (
  select *, sum(sgn) over (partition by conv_id, tool order by turn_idx, ts
    rows between unbounded preceding and current row) as s
  from t1
),
t3 as (
  select *, coalesce(min(least(s, 0)) over (partition by conv_id, tool
    order by turn_idx, ts rows between unbounded preceding and 1 preceding), 0) as m
  from t2
),
t4 as (select conv_id, turn_idx, ts, sgn, (s - sgn) - m as ob from t3),
t5 as (
  select conv_id, turn_idx, ts,
    case when sgn = 1 then 1 when sgn = -1 and ob > 0 then -1 else 0 end as d_open,
    case when sgn = 1 then 2 * ob + 1 when sgn = -1 and ob > 0 then -2 * ob + 1 else 0 end as d_ssq,
    case when sgn = 1 and ob = 0 then 1 when sgn = -1 and ob = 1 then -1 else 0 end as d_nt
  from t4
),
t6 as (
  select conv_id, turn_idx,
    cast(sum(d_open) over cum as bigint) as total_open,
    cast(sum(d_nt) over cum as bigint) as n_active_tools,
    cast(sum(d_ssq) over cum as bigint) as ssq
  from t5 window cum as ({_CUM})
)
select conv_id, turn_idx, n_active_tools, total_open,
  round(case when total_open > 0 then ssq / (total_open * total_open) else 0.0 end, 6)
    as open_tool_hhi,
  round(case when n_active_tools > 0 then total_open / n_active_tools else 0.0 end, 6)
    as episodes_per_active_tool
from t6
"""

QUERIES["open_tool_queue"] = q_open_tool_queue
ORACLES["open_tool_queue"] = O_OPEN_TOOL_QUEUE


# --- institutional rates (features 74-75 analogs) --------------------------------------

def q_institutional_rates(spark, sf_dir):
    from ..operators import volatility as vol_mod

    out = vol_mod.with_institutional_rates(_t(spark, sf_dir), CFG)
    return out.select(
        "conv_id", "turn_idx",
        _r6(F.col("large_turn_freq_per_s"), "large_turn_freq_per_s"),
        _r6(F.col("large_turn_imbalance"), "large_turn_imbalance"),
    )


O_INSTITUTIONAL_RATES = f"""{_W},
t as (
  select conv_id, turn_idx, ts, role,
    length(text) as n, length(text) >= 16 as big, epoch_us(ts) as us
  from transcripts
),
f as (
  select conv_id, turn_idx,
    sum(case when big then 1 else 0 end) over w32 as n_big,
    (max(us) over w32 - min(us) over w32) / 1e6 as dur_s,
    sum(case when big and role = 'user' then n else 0 end) over w32 as uvol,
    sum(case when big and role = 'assistant' then n else 0 end) over w32 as avol
  from t window w32 as ({_OWIN} rows between 31 preceding and current row)
)
select conv_id, turn_idx,
  round(case when dur_s > 0 then n_big / dur_s else 0.0 end, 6) as large_turn_freq_per_s,
  round(case when uvol + avol > 0 then (uvol - avol) / (uvol + avol) else 0.0 end, 6)
    as large_turn_imbalance
from f
"""

QUERIES["institutional_rates"] = q_institutional_rates
ORACLES["institutional_rates"] = O_INSTITUTIONAL_RATES


# --- near-dedup corpus materialization + stratified sampling + source mix -------------

def q_dedup_apply(spark, sf_dir):
    """Materialize the near-deduplicated corpus decision: a document is kept
    iff it is not in any near-dup cluster, or it is its cluster's
    representative (smallest doc_id). Composes minhash LSH pairs ->
    connected components -> broadcast join of the (tiny) cluster map back
    onto the corpus."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = dedup.minhash_lsh_pairs(docs, k=3, num_hashes=16, bands=4)
    cc = dedup.connected_components(pairs).withColumnRenamed("id", "doc_id")
    # no broadcast hint: the cluster map is only small when the dup rate is
    # low — let AQE pick broadcast vs shuffle from the measured size
    out = docs.join(cc, "doc_id", "left")
    kept = F.when(
        F.col("cluster_id").isNull() | (F.col("doc_id") == F.col("cluster_id")), 1
    ).otherwise(0)
    return out.select("doc_id", kept.cast("int").alias("kept"))


def _dedup_apply_oracle(num_hashes: int = 16, bands: int = 4) -> str:
    cc = _dedup_clusters_oracle(num_hashes, bands)
    return f"""
with cc as ({cc})
select d.doc_id,
  cast(case when cc.cluster_id is null or d.doc_id = cc.cluster_id
       then 1 else 0 end as int) as kept
from documents d left join cc on d.doc_id = cc.doc_id
"""


O_DEDUP_APPLY = _dedup_apply_oracle()


def q_dup_weights(spark, sf_dir):
    """SOFT dedup: loss weight = 1e6 div near-dup cluster size instead of
    dropping members (the modern alternative to hard dedup — keeps every
    document, a cluster contributes one document's worth of gradient in
    total). Same LSH -> connected-components map as dedup_apply; weight
    1_000_000 for singletons/unclustered."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = dedup.minhash_lsh_pairs(docs, k=3, num_hashes=16, bands=4)
    cc = dedup.connected_components(pairs).withColumnRenamed("id", "doc_id")
    sizes = cc.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("csize")
    )
    lbl = cc.join(sizes, "cluster_id")
    out = docs.join(lbl, "doc_id", "left")
    return out.select(
        "doc_id",
        F.coalesce(F.col("csize"), F.lit(1)).cast("long").alias("cluster_size"),
        F.expr("1000000 div coalesce(csize, 1)").cast("long").alias("weight_ppm"),
    )


def _dup_weights_oracle(num_hashes: int = 16, bands: int = 4) -> str:
    cc = _dedup_clusters_oracle(num_hashes, bands)
    return f"""
with cc as ({cc}),
sz as (select cluster_id, cast(count(*) as bigint) as csize
       from cc group by cluster_id)
select d.doc_id,
  cast(coalesce(sz.csize, 1) as bigint) as cluster_size,
  cast(1000000 // coalesce(sz.csize, 1) as bigint) as weight_ppm
from documents d
left join cc on cc.doc_id = d.doc_id
left join sz on sz.cluster_id = cc.cluster_id
"""


O_DUP_WEIGHTS = _dup_weights_oracle()

QUERIES["dup_weights"] = q_dup_weights
ORACLES["dup_weights"] = O_DUP_WEIGHTS


def q_stratified_sample(spark, sf_dir):
    """Per-language stratified deterministic sampling: high-resource
    languages downsampled harder (the data-mixing primitive). Same md5
    bucket as hash_sample with a per-stratum threshold."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = corpus.stratified_hash_sample(
        docs, fracs={"en": 0.2, "zh": 0.5}, strat_col="lang", default_frac=0.8
    )
    return out.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("n_sampled"))


O_STRATIFIED_SAMPLE = f"""
with h as (select doc_id, lang, md5(cast(doc_id as varchar)) as h from documents),
v as (select doc_id, lang, ({_HEX7}) % 10000 as bucket from h)
select lang, cast(count(*) as bigint) as n_sampled
from v
where bucket < case when lang = 'en' then 2000 when lang = 'zh' then 5000 else 8000 end
group by lang
"""


def q_source_mix(spark, sf_dir):
    """Corpus composition report: documents and tokens per (source, lang)
    with each cell's fraction of total tokens — the data-mixing dashboard."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cell = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(tx.token_count_ws("text")).cast("long").alias("n_tokens"),
    )
    total = cell.agg(F.sum("n_tokens").cast("double").alias("_tot"))
    return (
        cell.crossJoin(F.broadcast(total))
        .select(
            "source", "lang", "n_docs", "n_tokens",
            _r6(F.col("n_tokens").cast("double") / (F.col("_tot") + F.lit(DIVISION_GUARD_EPS)),
                "token_frac"),
        )
    )


O_SOURCE_MIX = f"""
with cell as (
  select source, lang, cast(count(*) as bigint) as n_docs,
    cast(sum(len(regexp_split_to_array(trim(text), '\\s+'))) as bigint) as n_tokens
  from documents group by 1, 2
),
tot as (select cast(sum(n_tokens) as double) as t from cell)
select source, lang, n_docs, n_tokens,
  round(n_tokens / (t + {DIVISION_GUARD_EPS}), 6) as token_frac
from cell cross join tot
"""


QUERIES.update({
    "dedup_apply": q_dedup_apply,
    "stratified_sample": q_stratified_sample,
    "source_mix": q_source_mix,
})
ORACLES.update({
    "dedup_apply": O_DEDUP_APPLY,
    "stratified_sample": O_STRATIFIED_SAMPLE,
    "source_mix": O_SOURCE_MIX,
})


# --- semantic dedup clusters: CC over embedding near-dup pairs -------------------------

def q_semantic_dedup_clusters(spark, sf_dir):
    """SemDeDup-style semantic dedup: IVF-bucketed embedding near-dup pairs
    -> connected components -> (vec_id, cluster representative)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    pairs = similarity.ivf_near_dup(emb, threshold=0.35, n_centroids=8)
    cc = dedup.connected_components(pairs)
    return cc.select(
        F.col("id").alias("vec_id"), F.col("cluster_id").cast("long").alias("cluster_id")
    )


O_SEMANTIC_DEDUP_CLUSTERS = f"""{_IVF_CTES.replace("with ", "with recursive ", 1)},
pairs as (
  select a.vec_id as id_a, b.vec_id as id_b,
    list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))
         + {DIVISION_GUARD_EPS}) as cos
  from asg a join asg b using (centroid_id)
  where a.vec_id < b.vec_id
),
edges as (select id_a, id_b from pairs where cos >= 0.35),
sym as (
  select id_a as src, id_b as dst from edges
  union
  select id_b as src, id_a as dst from edges
),
reach(src, dst) as (
  select src, dst from sym
  union
  select r.src, s.dst from reach r join sym s on r.dst = s.src
)
select src as vec_id, cast(least(src, min(dst)) as bigint) as cluster_id
from reach group by src
"""

QUERIES["semantic_dedup_clusters"] = q_semantic_dedup_clusters
ORACLES["semantic_dedup_clusters"] = O_SEMANTIC_DEDUP_CLUSTERS


# --- TPC-H-style multi-way joins (Q3 shipping priority, Q5 local supplier) ------------
# Join-strategy evidence: fact<->fact joins shuffle on their keys and AQE
# picks broadcast for measured-small sides; only the FIXED-cardinality dims
# (nation=25, region=5 rows at any SF) get an explicit broadcast hint —
# customer/orders/lineitem all scale with the corpus, so hinting them would
# be wrong at 100 TB. Money math is exact integer cents (see pricing_summary).

def _rev_c4():
    ep = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    disc = F.round(F.col("l_discount") * 100, 0).cast("long")
    return ep * (100 - disc)


def q_shipping_priority(spark, sf_dir):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_orderdate") < F.lit("1998-03-15")
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        F.col("l_shipdate") > F.lit("1998-03-15")
    )
    j = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"])
        .join(li, F.col("o_orderkey") == li["l_orderkey"])
    )
    agg = j.groupBy("l_orderkey", "o_orderdate").agg(
        F.sum(_rev_c4()).cast("long").alias("revenue_c4")
    )
    top = agg.orderBy(
        F.col("revenue_c4").desc(), F.col("o_orderdate").asc(), F.col("l_orderkey").asc()
    ).limit(10)
    return top.select(
        "l_orderkey",
        _r6x(F.col("revenue_c4").cast("double") / 1.0e4, "revenue"),
        F.col("o_orderdate").cast("string").alias("o_orderdate"),
    )


O_SHIPPING_PRIORITY = """
with j as (
  select l.l_orderkey, o.o_orderdate,
    sum(cast(round(l.l_extendedprice * 100, 0) as bigint)
        * (100 - cast(round(l.l_discount * 100, 0) as bigint))) as revenue_c4
  from customer c
  join orders o on c.c_custkey = o.o_custkey
  join lineitem l on o.o_orderkey = l.l_orderkey
  where c.c_mktsegment = 'BUILDING'
    and o.o_orderdate < timestamp '1998-03-15'
    and l.l_shipdate > timestamp '1998-03-15'
  group by 1, 2
)
select l_orderkey,
  floor((cast(revenue_c4 as double) / 1e4) * 1000000.0 + 0.5) / 1000000.0 as revenue,
  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') as o_orderdate
from j
order by revenue_c4 desc, o_orderdate asc, l_orderkey asc
limit 10
"""


def q_local_supplier_volume(spark, sf_dir):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet").filter(
        F.col("r_name") == "ASIA"
    )
    j = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"])
        .join(li, F.col("o_orderkey") == li["l_orderkey"])
        .join(supp, (li["l_suppkey"] == supp["s_suppkey"])
              & (cust["c_nationkey"] == supp["s_nationkey"]))
        .join(F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
    )
    agg = j.groupBy("n_name").agg(F.sum(_rev_c4()).cast("long").alias("revenue_c4"))
    return agg.select(
        "n_name", _r6x(F.col("revenue_c4").cast("double") / 1.0e4, "revenue")
    )


O_LOCAL_SUPPLIER_VOLUME = """
select n.n_name,
  floor((cast(sum(cast(round(l.l_extendedprice * 100, 0) as bigint)
      * (100 - cast(round(l.l_discount * 100, 0) as bigint))) as double) / 1e4)
      * 1000000.0 + 0.5) / 1000000.0 as revenue
from customer c
join orders o on c.c_custkey = o.o_custkey
join lineitem l on o.o_orderkey = l.l_orderkey
join supplier s on l.l_suppkey = s.s_suppkey and c.c_nationkey = s.s_nationkey
join nation n on s.s_nationkey = n.n_nationkey
join region r on n.n_regionkey = r.r_regionkey
where r.r_name = 'ASIA'
  and o.o_orderdate >= timestamp '1996-01-01'
  and o.o_orderdate < timestamp '1997-01-01'
group by n.n_name
"""

QUERIES.update({
    "shipping_priority": q_shipping_priority,
    "local_supplier_volume": q_local_supplier_volume,
})
ORACLES.update({
    "shipping_priority": O_SHIPPING_PRIORITY,
    "local_supplier_volume": O_LOCAL_SUPPLIER_VOLUME,
})


def q_returned_items(spark, sf_dir):
    """TPC-H Q10 analog: revenue lost to returned items per customer+nation,
    top 20. Same adaptive join policy as Q3/Q5 (only `nation` is hinted)."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-07-01"))
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        F.col("l_returnflag") == "R"
    )
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    j = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"])
        .join(li, F.col("o_orderkey") == li["l_orderkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
    )
    agg = j.groupBy("c_custkey", "c_name", "n_name").agg(
        F.sum(_rev_c4()).cast("long").alias("revenue_c4")
    )
    top = agg.orderBy(F.col("revenue_c4").desc(), F.col("c_custkey").asc()).limit(20)
    return top.select(
        "c_custkey", "c_name", "n_name",
        _r6x(F.col("revenue_c4").cast("double") / 1.0e4, "revenue"),
    )


O_RETURNED_ITEMS = """
with j as (
  select c.c_custkey, c.c_name, n.n_name,
    sum(cast(round(l.l_extendedprice * 100, 0) as bigint)
        * (100 - cast(round(l.l_discount * 100, 0) as bigint))) as revenue_c4
  from customer c
  join orders o on c.c_custkey = o.o_custkey
  join lineitem l on o.o_orderkey = l.l_orderkey
  join nation n on c.c_nationkey = n.n_nationkey
  where l.l_returnflag = 'R'
    and o.o_orderdate >= timestamp '1996-01-01'
    and o.o_orderdate < timestamp '1996-07-01'
  group by 1, 2, 3
)
select c_custkey, c_name, n_name,
  floor((cast(revenue_c4 as double) / 1e4) * 1000000.0 + 0.5) / 1000000.0 as revenue
from j order by revenue_c4 desc, c_custkey asc limit 20
"""

QUERIES["returned_items"] = q_returned_items
ORACLES["returned_items"] = O_RETURNED_ITEMS


# --- unigram LM quality score (perplexity-filter analog) -------------------------------

def q_unigram_logprob(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = corpus.unigram_logprob(docs)
    return out.select(
        F.col("id").alias("doc_id"), "n_words", _r6x(F.col("mean_logprob"), "mean_logprob")
    )


O_UNIGRAM_LOGPROB = f"""
with {_WORDS_CTE},
ww as (select doc_id, unnest(words) as word from w),
wc as (select word, count(*) as cnt from ww group by word),
tot as (select cast(sum(cnt) as double) as n_total, cast(count(*) as double) as n_vocab from wc),
dw as (select doc_id, word, count(*) as k from ww group by 1, 2),
s as (
  select dw.doc_id, dw.k,
    ln((wc.cnt + 1.0) / (tot.n_total + tot.n_vocab)) as lp
  from dw join wc using (word) cross join tot
)
select doc_id,
  cast(sum(k) as bigint) as n_words,
  floor((sum(k * lp) / cast(sum(k) as double)) * 1000000.0 + 0.5) / 1000000.0 as mean_logprob
from s group by doc_id
"""

QUERIES["unigram_logprob"] = q_unigram_logprob
ORACLES["unigram_logprob"] = O_UNIGRAM_LOGPROB


# --- text clustering: kmeans over hashed embeddings (zero-model pipeline) --------------

def q_text_clusters(spark, sf_dir):
    """Cluster raw text with no model artifacts: hashing-trick vectors ->
    distributed Lloyd k-means. Composes corpus.hashed_embedding with
    similarity.kmeans_lloyd; the oracle regenerates the identical vectors
    and iteration chain in SQL."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = corpus.hashed_embedding(docs, dim=16).withColumnRenamed("id", "vec_id")
    out, _cents = similarity.kmeans_lloyd(emb, k=4, iters=2)
    return out.select(
        F.col("vec_id").alias("doc_id"), F.col("centroid_id").cast("int").alias("cluster")
    )


def _hashed_vec_source() -> str:
    sums = ", ".join(
        f"sum(case when b = {i} then 1 else 0 end)" for i in range(16)
    )
    return f"""
  select doc_id as vec_id, [{sums}]::DOUBLE[] as v
  from (
    select doc_id,
      (strpos('0123456789abcdef', substr(md5(word), 1, 1)) - 1) % 16 as b
    from (
      select doc_id,
        unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) as word
      from documents
    )
  )
  group by doc_id
"""


O_TEXT_CLUSTERS = _kmeans_oracle(
    k=4, iters=2, source=_hashed_vec_source()
).replace("as cluster from asg", "as cluster0 from asg") \
 .replace("select vec_id, cast(centroid_id as int) as cluster0",
          "select vec_id as doc_id, cast(centroid_id as int) as cluster")

QUERIES["text_clusters"] = q_text_clusters
ORACLES["text_clusters"] = O_TEXT_CLUSTERS


def q_promo_revenue(spark, sf_dir):
    """TPC-H Q14 analog: share of revenue from 'ECONOMY'-type parts per
    month. Conditional aggregation over the lineitem<->part equi join; part
    scales with the corpus so the join strategy is AQE-decided. Exact
    integer-cent numerators/denominators; the ratio is the only float."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    j = li.join(part, li["l_partkey"] == part["p_partkey"])
    rev = _rev_c4()
    agg = j.groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("month")).agg(
        F.sum(F.when(F.col("p_type") == "ECONOMY", rev).otherwise(F.lit(0)))
        .cast("long")
        .alias("promo_c4"),
        F.sum(rev).cast("long").alias("total_c4"),
    )
    frac = F.when(
        F.col("total_c4") > 0,
        F.lit(100.0) * F.col("promo_c4").cast("double") / F.col("total_c4").cast("double"),
    ).otherwise(F.lit(0.0))
    return agg.select("month", "promo_c4", "total_c4", _r6x(frac, "promo_pct"))


O_PROMO_REVENUE = """
with j as (
  select strftime(l.l_shipdate, '%Y-%m') as month,
    cast(round(l.l_extendedprice * 100, 0) as bigint)
      * (100 - cast(round(l.l_discount * 100, 0) as bigint)) as rev,
    p.p_type
  from lineitem l join part p on l.l_partkey = p.p_partkey
  where l.l_shipdate >= timestamp '1996-01-01'
    and l.l_shipdate < timestamp '1997-01-01'
),
a as (
  select month,
    cast(sum(case when p_type = 'ECONOMY' then rev else 0 end) as bigint) as promo_c4,
    cast(sum(rev) as bigint) as total_c4
  from j group by month
)
select month, promo_c4, total_c4,
  floor((case when total_c4 > 0
         then 100.0 * cast(promo_c4 as double) / cast(total_c4 as double)
         else 0.0 end) * 1000000.0 + 0.5) / 1000000.0 as promo_pct
from a
"""

QUERIES["promo_revenue"] = q_promo_revenue
ORACLES["promo_revenue"] = O_PROMO_REVENUE


# --- interpolated bigram-LM quality score ----------------------------------------------

def q_bigram_logprob(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = corpus.bigram_logprob(docs, lam=0.7)
    return out.select(
        F.col("id").alias("doc_id"), "n_bigrams", _r6x(F.col("mean_logprob"), "mean_logprob")
    )


O_BIGRAM_LOGPROB = f"""
with {_WORDS_CTE},
ww as (select doc_id, unnest(words) as word from w),
uni as (select word, count(*) as ucnt from ww group by word),
tot as (select cast(sum(ucnt) as double) as n_total, cast(count(*) as double) as n_vocab from uni),
grams as (
  select doc_id,
    unnest([array_to_string(words[i:i+1], ' ') for i in range(1, len(words))]) as gram
  from w
),
dg as (select doc_id, gram, count(*) as cnt from grams group by 1, 2),
bi as (select gram, sum(cnt) as bcnt from dg group by gram),
s as (
  select dg.doc_id, dg.cnt,
    ln(0.7 * (bi.bcnt + 1.0) / (pu.ucnt + tot.n_vocab)
       + (1.0 - 0.7) * (cu.ucnt + 1.0) / (tot.n_total + tot.n_vocab)) as lp
  from dg
  join bi using (gram)
  join uni pu on pu.word = string_split(dg.gram, ' ')[1]
  join uni cu on cu.word = string_split(dg.gram, ' ')[2]
  cross join tot
)
select doc_id,
  cast(sum(cnt) as bigint) as n_bigrams,
  floor((sum(cnt * lp) / cast(sum(cnt) as double)) * 1000000.0 + 0.5) / 1000000.0
    as mean_logprob
from s group by doc_id
"""

QUERIES["bigram_logprob"] = q_bigram_logprob
ORACLES["bigram_logprob"] = O_BIGRAM_LOGPROB


# --- LSH quality evaluation: MinHash candidate recall vs true Jaccard ------------------

def q_lsh_recall(spark, sf_dir):
    """Pipeline-evaluation meta-operator: how good are the MinHash-LSH
    candidates against ground-truth n-gram Jaccard pairs (threshold 0.2)?
    Emits one row of corpus-level retrieval metrics — the number every
    dedup-pipeline owner tunes bands/hashes against."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    true_pairs = dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.2).select(
        "id_a", "id_b", F.lit(1).alias("t")
    )
    cand = dedup.minhash_lsh_pairs(docs, k=3, num_hashes=16, bands=4).select(
        "id_a", "id_b", F.lit(1).alias("c")
    )
    j = true_pairs.join(cand, ["id_a", "id_b"], "full")
    return j.agg(
        F.sum("t").cast("long").alias("n_true"),
        F.sum("c").cast("long").alias("n_candidates"),
        F.sum(F.col("t") * F.col("c")).cast("long").alias("n_hit"),
        _r6x(
            F.sum(F.col("t") * F.col("c")).cast("double")
            / (F.sum("t").cast("double") + F.lit(DIVISION_GUARD_EPS)),
            "recall",
        ),
        _r6x(
            F.sum(F.col("t") * F.col("c")).cast("double")
            / (F.sum("c").cast("double") + F.lit(DIVISION_GUARD_EPS)),
            "precision",
        ),
    )


O_LSH_RECALL = f"""
with tq as ({O_NGRAM_JACCARD.replace("round(jaccard, 6) as jaccard", "jaccard")}),
cq as ({_minhash_lsh_oracle()}),
t as (select id_a, id_b, 1 as t from tq),
c as (select id_a, id_b, 1 as c from cq),
j as (select coalesce(t.id_a, c.id_a) as id_a, coalesce(t.id_b, c.id_b) as id_b, t.t, c.c
      from t full join c on t.id_a = c.id_a and t.id_b = c.id_b)
select
  cast(sum(t) as bigint) as n_true,
  cast(sum(c) as bigint) as n_candidates,
  cast(sum(t * c) as bigint) as n_hit,
  floor((sum(t * c) / (sum(t) + {DIVISION_GUARD_EPS})) * 1000000.0 + 0.5) / 1000000.0 as recall,
  floor((sum(t * c) / (sum(c) + {DIVISION_GUARD_EPS})) * 1000000.0 + 0.5) / 1000000.0 as precision
from j
"""

QUERIES["lsh_recall"] = q_lsh_recall
ORACLES["lsh_recall"] = O_LSH_RECALL


# --- trailing wall-clock windows (rangeBetween over epoch micros) --------------

def q_time_windows(spark, sf_dir):
    """Trailing 1-day / 7-day wall-clock feature frames. RANGE peers (ts
    ties) are included by both engines, so the oracle is exact."""
    t = transcripts_from_events(spark, sf_dir)
    out = rolling.with_time_windows(t, CFG, horizons_s=(86400, 604800))
    return out.select(
        "conv_id", "turn_idx",
        F.col("turns_86400s").alias("turns_1d"),
        _r6(F.col("chars_86400s"), "chars_1d"),
        _r6x(F.col("tool_frac_86400s"), "tool_frac_1d"),
        F.col("turns_604800s").alias("turns_7d"),
        _r6(F.col("chars_604800s"), "chars_7d"),
        _r6x(F.col("tool_frac_604800s"), "tool_frac_7d"),
    )


O_TIME_WINDOWS = f"""{_W}
select conv_id, turn_idx,
  cast(count(*) over f1 as bigint) as turns_1d,
  round(sum(cast(length(text) as double)) over f1, 6) as chars_1d,
  {_r6x_sql("cast(sum(case when role = 'tool' then 1 else 0 end) over f1 as double) / count(*) over f1")} as tool_frac_1d,
  cast(count(*) over f7 as bigint) as turns_7d,
  round(sum(cast(length(text) as double)) over f7, 6) as chars_7d,
  {_r6x_sql("cast(sum(case when role = 'tool' then 1 else 0 end) over f7 as double) / count(*) over f7")} as tool_frac_7d
from transcripts
window
  f1 as (partition by conv_id order by epoch_us(ts)
         range between 86400000000 preceding and current row),
  f7 as (partition by conv_id order by epoch_us(ts)
         range between 604800000000 preceding and current row)
"""

QUERIES["time_windows"] = q_time_windows
ORACLES["time_windows"] = O_TIME_WINDOWS


# --- C4/RefinedWeb-style line-level dedup --------------------------------------

def q_dedup_lines(spark, sf_dir):
    """Documents regrouped into deterministic 10-word lines (the corpus has
    no newlines), then line-dedup: drop lines occurring in >1 distinct doc,
    reassemble survivors in order. The lining step is pure higher-order
    array functions — no shuffle before the operator's own aggregations."""
    from ..operators import dedup as dd

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    words = F.split(F.col("text"), " ")
    nl = F.ceil(F.size(words) / F.lit(10.0)).cast("int")
    lined = F.array_join(
        F.transform(
            F.sequence(F.lit(0), nl - 1),
            lambda j: F.array_join(F.slice(words, j * 10 + 1, 10), " "),
        ),
        "\n",
    )
    src = docs.select("doc_id", lined.alias("text"))
    out = dd.dedup_lines(src, max_doc_freq=1)
    return out.select("doc_id", "n_lines", "dropped_lines", "text_kept")


O_DEDUP_LINES = """
with w as (
  select doc_id, unnest(string_split(text, ' ')) as word,
         generate_subscripts(string_split(text, ' '), 1) as i
  from documents
),
l as (
  select doc_id, cast((i - 1) // 10 as int) as line_no,
         string_agg(word, ' ' order by i) as line
  from w group by doc_id, (i - 1) // 10
),
d as (
  select md5(trim(lower(line))) as lk, count(distinct doc_id) as ndocs
  from l group by 1
),
m as (
  select l.doc_id, l.line_no, l.line, coalesce(d.ndocs, 1) > 1 as is_dup
  from l left join d on md5(trim(lower(l.line))) = d.lk
)
select doc_id,
  cast(count(*) as bigint) as n_lines,
  cast(sum(case when is_dup then 1 else 0 end) as bigint) as dropped_lines,
  coalesce(string_agg(case when not is_dup then line end, chr(10) order by line_no), '') as text_kept
from m
group by doc_id
"""

QUERIES["dedup_lines"] = q_dedup_lines
ORACLES["dedup_lines"] = O_DEDUP_LINES


# --- as-of join with match tolerance (pandas merge_asof parity) ----------------

def q_asof_join_tolerance(spark, sf_dir):
    """Backward as-of join where matches older than 1 day are discarded —
    pandas merge_asof(tolerance=...) semantics, one shuffle, no extra join."""
    t = transcripts_from_events(spark, sf_dir)
    left = t.select("conv_id", "turn_idx", "ts")
    right = (
        t.filter(F.col("text").startswith("purchase"))
        .select("conv_id", "ts", F.col("value").alias("purchase_value"))
    )
    out = asof.asof_join(left, right, key="conv_id", ts="ts",
                         value_cols=["purchase_value"], direction="backward",
                         tolerance_s=86400.0)
    return out.select(
        "conv_id", "turn_idx",
        _r6(F.col("purchase_value_asof"), "recent_purchase_value"),
    )


O_ASOF_JOIN_TOLERANCE = f"""{_W},
l as (select conv_id, turn_idx, ts from transcripts),
r as (select conv_id, ts, value as purchase_value from transcripts
      where text like 'purchase%')
select l.conv_id, l.turn_idx,
  case when epoch_us(l.ts) - epoch_us(r.ts) <= 86400000000
       then round(r.purchase_value, 6) end as recent_purchase_value
from l asof left join r on l.conv_id = r.conv_id and l.ts >= r.ts
"""

QUERIES["asof_join_tolerance"] = q_asof_join_tolerance
ORACLES["asof_join_tolerance"] = O_ASOF_JOIN_TOLERANCE


# --- leakage-free cumulative target encoding ------------------------------------

def q_target_encoding(spark, sf_dir):
    """Expanding per-tool mean of `value` over strictly earlier rows under
    the total order (ts, conv_id, turn_idx) — point-in-time target encoding
    (integer-cent sums, so the expanding aggregate is order-independent)."""
    from ..operators import encoding

    t = transcripts_from_events(spark, sf_dir)
    out = encoding.cumulative_target_encoding(
        t, "tool", "value", ("ts", "conv_id", "turn_idx")
    )
    return out.select(
        "conv_id", "turn_idx", "tool",
        F.col("tool_rows_before"),
        _r6x(F.col("tool_te"), "tool_te"),
    )


O_TARGET_ENCODING = f"""{_W}
select conv_id, turn_idx, tool,
  cast(cnt as bigint) as tool_rows_before,
  case when cnt > 0 then {_r6x_sql("s / (100.0 * cnt)")} end as tool_te
from (
  select conv_id, turn_idx, tool,
    count(value) over wte as cnt,
    sum(cast(round(value * 100, 0) as bigint)) over wte as s
  from transcripts
  window wte as (partition by tool order by ts, conv_id, turn_idx
                 rows between unbounded preceding and 1 preceding)
) q
"""

QUERIES["target_encoding"] = q_target_encoding
ORACLES["target_encoding"] = O_TARGET_ENCODING


# --- lag/lead bundle -------------------------------------------------------------

def q_lag_features(spark, sf_dir):
    """Lagged value/char-length bundle (1, 2, 4 turns back) plus a 1-turn
    lead on the label side — the north rule's lag/lead family; all frames
    share the engine's single stable window."""
    t = transcripts_from_events(spark, sf_dir)
    t = t.withColumn("char_len", F.length("text").cast("double"))
    out = ordering.with_lags(t, CFG, ["value", "char_len"], offsets=(1, 2, 4))
    out = ordering.with_leads(out, CFG, ["value"], offsets=(1,))
    return out.select(
        "conv_id", "turn_idx",
        _r6(F.col("value_lag1"), "value_lag1"),
        _r6(F.col("value_lag2"), "value_lag2"),
        _r6(F.col("value_lag4"), "value_lag4"),
        _r6(F.col("char_len_lag1"), "char_len_lag1"),
        _r6(F.col("value_lead1"), "value_lead1"),
    )


O_LAG_FEATURES = f"""{_W}
select conv_id, turn_idx,
  round(lag(value, 1) over w, 6)  as value_lag1,
  round(lag(value, 2) over w, 6)  as value_lag2,
  round(lag(value, 4) over w, 6)  as value_lag4,
  round(lag(cast(length(text) as double), 1) over w, 6) as char_len_lag1,
  round(lead(value, 1) over w, 6) as value_lead1
from transcripts
window w as ({_OWIN})
"""

QUERIES["lag_features"] = q_lag_features
ORACLES["lag_features"] = O_LAG_FEATURES


# --- equal-frequency quantile binning --------------------------------------------

def q_quantile_bins(spark, sf_dir):
    """Decile-bin `value` corpus-wide (exact interpolated cutpoints,
    broadcast assignment) and report per-bin occupancy — the balanced-bin
    property is visible in the oracle-checked counts."""
    from ..normalization import quantile_bin

    t = transcripts_from_events(spark, sf_dir)
    out = quantile_bin(t, "value", k=10)
    return (
        out.groupBy("value_bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            _r6(F.min("value"), "lo"),
            _r6(F.max("value"), "hi"),
        )
        .orderBy("value_bin")
    )


O_QUANTILE_BINS = f"""{_W},
c as (
  select quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) as cuts
  from transcripts
),
b as (
  select t.value,
    case when t.value is not null
         then cast(len(list_filter(c.cuts, x -> t.value > x)) as int) end as value_bin
  from transcripts t, c
)
select value_bin, cast(count(*) as bigint) as n,
  round(min(value), 6) as lo, round(max(value), 6) as hi
from b group by value_bin
"""

QUERIES["quantile_bins"] = q_quantile_bins
ORACLES["quantile_bins"] = O_QUANTILE_BINS


# --- cumulative distinct count (vocabulary growth) -------------------------------

def q_distinct_tools(spark, sf_dir):
    """Running count of distinct tools used so far per conversation —
    first-occurrence flags + prefix sum (exact, O(n), no collect_set)."""
    t = transcripts_from_events(spark, sf_dir)
    out = state.with_distinct_so_far(t, CFG, col="tool")
    return out.select("conv_id", "turn_idx", F.col("distinct_tool_so_far"))


O_DISTINCT_TOOLS = f"""{_W},
t as (
  select conv_id, turn_idx, ts,
    case when tool is not null
          and row_number() over (partition by conv_id, tool
                                 order by turn_idx, ts) = 1
         then 1 else 0 end as first_occ
  from transcripts
)
select conv_id, turn_idx,
  cast(sum(first_occ) over ({_CUM}) as bigint) as distinct_tool_so_far
from t
"""

QUERIES["distinct_tools"] = q_distinct_tools
ORACLES["distinct_tools"] = O_DISTINCT_TOOLS


# --- per-turn session features ---------------------------------------------------

def q_session_features(spark, sf_dir):
    """Gap-sessionization plus session-relative position/elapsed-time — all
    from the single cumulative frame (no (conv, session_id) re-shuffle)."""
    t = transcripts_from_events(spark, sf_dir)
    out = state.with_session_features(t, CFG)
    return out.select(
        "conv_id", "turn_idx",
        F.col("session_id").cast("long").alias("session_id"),
        F.col("turn_in_session"),
        _r6(F.col("secs_in_session"), "secs_in_session"),
    )


O_SESSION_FEATURES = f"""{_W},
t as (
  select conv_id, turn_idx, ts, epoch_us(ts) as eus,
    case when lag(epoch_us(ts)) over ({_OWIN}) is null
           or epoch_us(ts) - lag(epoch_us(ts)) over ({_OWIN}) > {int(CFG.session_gap_s * 1e6)}
         then 1 else 0 end as is_start
  from transcripts
),
s as (
  select *,
    sum(is_start) over ({_CUM}) as sid1,
    max(case when is_start = 1 then rn0 end)
      over ({_CUM}) as srn,
    max(case when is_start = 1 then eus end)
      over ({_CUM}) as sus
  from (select *, row_number() over ({_OWIN}) as rn0 from t) q
)
select conv_id, turn_idx,
  cast(sid1 - 1 as bigint) as session_id,
  cast(rn0 - srn + 1 as bigint) as turn_in_session,
  round((eus - sus) / 1e6, 6) as secs_in_session
from s
"""

QUERIES["session_features"] = q_session_features
ORACLES["session_features"] = O_SESSION_FEATURES


# --- deterministic class rebalancing ---------------------------------------------

def q_balance_classes(spark, sf_dir):
    """Downsample every role to the minority role's count in expectation —
    data-derived per-class thresholds in exact integer math, md5-bucket
    keep rule (bit-reproducible across engines)."""
    from ..functions.corpus import balance_classes

    t = transcripts_from_events(spark, sf_dir).withColumn(
        "row_id", F.concat_ws(":", "conv_id", "turn_idx")
    )
    out = balance_classes(t, "role", id_col="row_id")
    return (
        out.groupBy("role")
        .agg(F.count(F.lit(1)).cast("long").alias("n_kept"))
        .orderBy("role")
    )


O_BALANCE_CLASSES = f"""{_W},
c as (select role, count(*) as n from transcripts group by role),
m as (select min(n) as mn from c),
th as (select role, (10000 * m.mn) // c.n as thresh from c, m),
v as (
  select t.role, th.thresh,
    md5(conv_id || ':' || cast(turn_idx as varchar)) as h
  from transcripts t join th using (role)
)
select role, cast(count(*) as bigint) as n_kept
from v
where ({_HEX7}) % 10000 < thresh
group by role
"""

QUERIES["balance_classes"] = q_balance_classes
ORACLES["balance_classes"] = O_BALANCE_CLASSES


# --- nearest-direction as-of join ------------------------------------------------

def q_asof_join_nearest(spark, sf_dir):
    """merge_asof(direction='nearest'): whichever purchase is closer in
    time, before or after; backward wins exact ties. Single shuffle — both
    frame directions run over one sorted partition."""
    t = transcripts_from_events(spark, sf_dir)
    left = t.select("conv_id", "turn_idx", "ts")
    right = (
        t.filter(F.col("text").startswith("purchase"))
        .select("conv_id", "ts", F.col("value").alias("purchase_value"))
    )
    out = asof.asof_join(left, right, key="conv_id", ts="ts",
                         value_cols=["purchase_value"], direction="nearest")
    return out.select(
        "conv_id", "turn_idx",
        _r6(F.col("purchase_value_asof"), "nearest_purchase_value"),
    )


O_ASOF_JOIN_NEAREST = f"""{_W},
l as (select conv_id, turn_idx, ts from transcripts),
r as (select conv_id, ts, value as purchase_value from transcripts
      where text like 'purchase%'),
b as (
  select l.conv_id, l.turn_idx, l.ts, r.ts as bts, r.purchase_value as bv
  from l asof left join r on l.conv_id = r.conv_id and l.ts >= r.ts
),
f as (
  select l.conv_id, l.turn_idx, r.ts as fts, r.purchase_value as fv
  from l asof left join r on l.conv_id = r.conv_id and l.ts <= r.ts
)
select b.conv_id, b.turn_idx,
  round(case when f.fts is null
               or (b.bts is not null
                   and epoch_us(b.ts) - epoch_us(b.bts)
                       <= epoch_us(f.fts) - epoch_us(b.ts))
             then b.bv else f.fv end, 6) as nearest_purchase_value
from b join f using (conv_id, turn_idx)
"""

QUERIES["asof_join_nearest"] = q_asof_join_nearest
ORACLES["asof_join_nearest"] = O_ASOF_JOIN_NEAREST


# --- winsorization ---------------------------------------------------------------

def q_winsorize(spark, sf_dir):
    """Percentile clipping of `value` at p01/p99 — two-pass cutpoints +
    broadcast clamp (no global sort)."""
    from ..normalization import winsorize

    t = transcripts_from_events(spark, sf_dir)
    out = winsorize(t, ["value"], p_lo=0.01, p_hi=0.99)
    return out.select("conv_id", "turn_idx", _r6x(F.col("value_w"), "value_w"))


O_WINSORIZE = f"""{_W},
c as (
  select quantile_cont(value, 0.01) as lo, quantile_cont(value, 0.99) as hi
  from transcripts
)
select conv_id, turn_idx,
  {_r6x_sql("least(greatest(value, c.lo), c.hi)")} as value_w
from transcripts, c
"""

QUERIES["winsorize"] = q_winsorize
ORACLES["winsorize"] = O_WINSORIZE


# --- rolling correlation (exact integer frame sums) ------------------------------

def q_rolling_corr(spark, sf_dir):
    """Pearson corr of turn length vs value-cents over the trailing 32
    turns: five exact bigint frame sums, one closed-form float expression —
    the same integer-exactness discipline as the rest of the rolling
    family, so the oracle is bit-stable."""
    t = transcripts_from_events(spark, sf_dir)
    out = rolling.with_rolling_corr(
        t, CFG,
        x=F.length("text"),
        y=F.round(F.col("value") * 100, 0),
        window=32,
    )
    return out.select("conv_id", "turn_idx", _r6x(F.col("roll_corr"), "roll_corr"))


O_ROLLING_CORR = f"""{_W},
t as (
  select conv_id, turn_idx, ts,
    cast(length(text) as bigint) as x,
    cast(round(value * 100, 0) as bigint) as y
  from transcripts
),
s as (
  select conv_id, turn_idx,
    count(*) over f as n, sum(x) over f as sx, sum(y) over f as sy,
    sum(x*x) over f as sxx, sum(y*y) over f as syy, sum(x*y) over f as sxy
  from t
  window f as ({_OWIN} rows between 31 preceding and current row)
)
select conv_id, turn_idx,
  case when n >= 2 and (n*sxx - sx*sx) > 0 and (n*syy - sy*sy) > 0
       then {_r6x_sql("cast(n*sxy - sx*sy as double) / sqrt(cast(n*sxx - sx*sx as double) * cast(n*syy - sy*sy as double))")}
  end as roll_corr
from s
"""

QUERIES["rolling_corr"] = q_rolling_corr
ORACLES["rolling_corr"] = O_ROLLING_CORR


# --- EWMA (sequential recurrence, pandas UDAF + recursive-CTE oracle) ------------

def q_ewma(spark, sf_dir):
    """EWMA of `value` per conversation (alpha = 1/8). The per-step float
    ops are identical in the kernel and the recursive CTE, so the hash is
    exact despite the sequential recurrence."""
    t = transcripts_from_events(spark, sf_dir)
    out = rolling.with_ewma(t, CFG, "value", alpha=0.125)
    return out.select(
        "conv_id", "turn_idx",
        _r6x(F.col("value_ewma"), "value_ewma"),
        _r6x(F.col("value_ewma_var"), "value_ewma_var"),
    )


O_EWMA = f"""with recursive {ORACLE_TRANSCRIPTS_CTE},
t as (
  select conv_id, turn_idx, value as x, row_number() over ({_OWIN}) as rn
  from transcripts
),
walk as (
  select conv_id, rn, turn_idx, x as e, cast(0.0 as double) as v
  from t where rn = 1
  union all
  select t.conv_id, t.rn, t.turn_idx,
    0.125 * t.x + 0.875 * w.e,
    0.875 * (w.v + 0.125 * (t.x - w.e) * (t.x - w.e))
  from walk w join t on t.conv_id = w.conv_id and t.rn = w.rn + 1
)
select conv_id, turn_idx,
  {_r6x_sql("e")} as value_ewma,
  {_r6x_sql("v")} as value_ewma_var
from walk
"""

QUERIES["ewma"] = q_ewma
ORACLES["ewma"] = O_EWMA


# --- multi-granularity rollup report ---------------------------------------------

def q_source_rollup(spark, sf_dir):
    """Token totals at (source, lang), per-source, and grand-total
    granularity in ONE pass — Spark rollup() == SQL GROUP BY ROLLUP, a
    partial-aggregable single shuffle (no union of three aggregations)."""
    from ..functions import text as tx

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        docs.rollup("source", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(tx.token_count_ws("text")).cast("long").alias("n_tokens"),
        )
        .select(
            F.coalesce(F.col("source"), F.lit("<all>")).alias("source"),
            F.coalesce(F.col("lang"), F.lit("<all>")).alias("lang"),
            "n_docs", "n_tokens",
        )
    )


O_SOURCE_ROLLUP = """
select
  coalesce(source, '<all>') as source,
  coalesce(lang, '<all>') as lang,
  cast(count(*) as bigint) as n_docs,
  cast(sum(len(string_split(text, ' '))) as bigint) as n_tokens
from documents
group by rollup (source, lang)
"""

QUERIES["source_rollup"] = q_source_rollup
ORACLES["source_rollup"] = O_SOURCE_ROLLUP


# --- pivoted role matrix ---------------------------------------------------------

def q_role_pivot(spark, sf_dir):
    """Per-conversation role-count matrix via pivot with EXPLICIT values
    (no distinct-discovery driver job) — one partial-aggregable shuffle;
    the oracle is the equivalent conditional aggregation."""
    t = transcripts_from_events(spark, sf_dir)
    return (
        t.groupBy("conv_id")
        .pivot("role", ["user", "assistant", "tool"])
        .agg(F.count(F.lit(1)))
        .select(
            "conv_id",
            F.coalesce(F.col("user"), F.lit(0)).cast("long").alias("n_user"),
            F.coalesce(F.col("assistant"), F.lit(0)).cast("long").alias("n_assistant"),
            F.coalesce(F.col("tool"), F.lit(0)).cast("long").alias("n_tool"),
        )
    )


O_ROLE_PIVOT = f"""{_W}
select conv_id,
  cast(sum(case when role = 'user' then 1 else 0 end) as bigint) as n_user,
  cast(sum(case when role = 'assistant' then 1 else 0 end) as bigint) as n_assistant,
  cast(sum(case when role = 'tool' then 1 else 0 end) as bigint) as n_tool
from transcripts
group by conv_id
"""

QUERIES["role_pivot"] = q_role_pivot
ORACLES["role_pivot"] = O_ROLE_PIVOT


# --- CUSUM drift detection -------------------------------------------------------

def q_cusum_drift(spark, sf_dir):
    """CUSUM over turn length (k = 60 chars reference level, alarm at 500):
    the max(0,.) reset via the drawdown identity — prefix sum + prefix min,
    no recursion, exact integers throughout."""
    t = transcripts_from_events(spark, sf_dir)
    out = state.with_cusum(t, CFG, F.length("text").cast("double"),
                           k=60.0, threshold=500.0)
    return out.select(
        "conv_id", "turn_idx",
        _r6(F.col("cusum_stat"), "cusum_stat"),
        F.col("cusum_alarm"),
    )


O_CUSUM_DRIFT = f"""{_W},
t as (
  select conv_id, turn_idx, ts,
    cast(length(text) as double) - 60.0 as d
  from transcripts
),
c as (
  select conv_id, turn_idx, ts, sum(d) over ({_CUM}) as c from t
)
select conv_id, turn_idx,
  round(c - least(0, min(c) over ({_CUM})), 6) as cusum_stat,
  cast(c - least(0, min(c) over ({_CUM})) >= 500.0 as int) as cusum_alarm
from c
"""

QUERIES["cusum_drift"] = q_cusum_drift
ORACLES["cusum_drift"] = O_CUSUM_DRIFT


# --- per-group top-k items -------------------------------------------------------

def q_top_tools(spark, sf_dir):
    """Top-2 most used tools per conversation (ties broken by tool name
    desc) — counts aggregate first, the array fold only ever sees distinct
    items, no rank window over the big table. Driver-facing select flattens
    the arrays to '|'-joined scalars (VERDICT r4 #1: the driver's
    canonicalizer cannot hash array-typed columns)."""
    from ..functions.corpus import top_k_per_group

    t = transcripts_from_events(spark, sf_dir)
    out = top_k_per_group(t, "conv_id", "tool", k=2)
    return out.select(
        "conv_id",
        F.array_join("top_items", "|").alias("top_items"),
        F.array_join(
            F.transform("top_counts", lambda x: x.cast("string")), "|"
        ).alias("top_counts"),
    )


O_TOP_TOOLS = f"""{_W},
c as (
  select conv_id, tool, count(*) as n
  from transcripts where tool is not null
  group by conv_id, tool
)
select conv_id,
  array_to_string((list(tool order by n desc, tool desc))[1:2], '|') as top_items,
  array_to_string((list(cast(n as varchar) order by n desc, tool desc))[1:2], '|') as top_counts
from c
group by conv_id
"""

QUERIES["top_tools"] = q_top_tools
ORACLES["top_tools"] = O_TOP_TOOLS


# --- edit-distance verification of LSH candidates --------------------------------

def q_edit_distance_pairs(spark, sf_dir):
    """Fuzzy-dedup verification: exact Levenshtein over the LSH candidate
    pairs only (never the corpus cross product); verified = normalized
    ratio <= 0.2."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = dedup.minhash_lsh_pairs(docs, k=3, num_hashes=16, bands=4) \
        .select("id_a", "id_b")
    out = dedup.edit_distance_verify(pairs, docs, max_ratio=0.2)
    return out.select(
        "id_a", "id_b",
        F.col("edit_dist"),
        _r6x(F.col("edit_ratio"), "edit_ratio"),
        F.col("verified"),
    )


def _edit_distance_oracle() -> str:
    """Reuses the LSH-pair generator: its final SELECT becomes a `pairs`
    CTE, then texts join on and Levenshtein verifies."""
    lsh = _minhash_lsh_oracle()
    head, _, tail = lsh.rpartition("select a.id as id_a")
    body = "select a.id as id_a" + tail
    ratio = "cast(levenshtein(na.t, nb.t) as double) / greatest(length(na.t), length(nb.t))"
    return (
        head.rstrip().rstrip(",") + ",\n"
        + "pairs as (\n" + body.strip() + "\n),\n"
        + """norm as (
  select doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') as t
  from documents
)
select p.id_a, p.id_b,
  cast(levenshtein(na.t, nb.t) as bigint) as edit_dist,
  """ + _r6x_sql(ratio) + " as edit_ratio,\n"
        + f"  cast({ratio} <= 0.2 as int) as verified\n"
        + """from pairs p
join norm na on na.doc_id = p.id_a
join norm nb on nb.doc_id = p.id_b
"""
    )


O_EDIT_DISTANCE_PAIRS = _edit_distance_oracle()

QUERIES["edit_distance_pairs"] = q_edit_distance_pairs
ORACLES["edit_distance_pairs"] = O_EDIT_DISTANCE_PAIRS


# --- table profiling (data-quality summary) --------------------------------------

def q_table_profile(spark, sf_dir):
    """Per-column completeness/uniqueness/range profile of the transcript
    table in one aggregation pass (long format)."""
    from ..validation import profile_table

    t = transcripts_from_events(spark, sf_dir)
    out = profile_table(t, ["conv_id", "turn_idx", "role", "tool", "value"])
    return out.select(
        F.col("column").alias("col_name"), "n_rows", "n_nulls", "n_distinct",
        _r6(F.col("min_val"), "min_val"),
        _r6(F.col("max_val"), "max_val"),
    )


O_TABLE_PROFILE = f"""{_W},
base as (
  select
    count(*) as n_rows,
    cast(sum(case when conv_id is null then 1 else 0 end) as bigint) as nu_conv,
    count(distinct conv_id) as nd_conv,
    cast(sum(case when turn_idx is null then 1 else 0 end) as bigint) as nu_ti,
    count(distinct turn_idx) as nd_ti,
    round(cast(min(turn_idx) as double), 6) as mn_ti,
    round(cast(max(turn_idx) as double), 6) as mx_ti,
    cast(sum(case when role is null then 1 else 0 end) as bigint) as nu_role,
    count(distinct role) as nd_role,
    cast(sum(case when tool is null then 1 else 0 end) as bigint) as nu_tool,
    count(distinct tool) as nd_tool,
    cast(sum(case when value is null then 1 else 0 end) as bigint) as nu_val,
    count(distinct value) as nd_val,
    round(min(value), 6) as mn_val,
    round(max(value), 6) as mx_val
  from transcripts
)
select u.* from base, lateral (
  select * from (values
    ('conv_id',  n_rows, nu_conv, nd_conv, cast(null as double), cast(null as double)),
    ('turn_idx', n_rows, nu_ti,   nd_ti,   mn_ti,  mx_ti),
    ('role',     n_rows, nu_role, nd_role, cast(null as double), cast(null as double)),
    ('tool',     n_rows, nu_tool, nd_tool, cast(null as double), cast(null as double)),
    ('value',    n_rows, nu_val,  nd_val,  mn_val, mx_val)
  ) v(col_name, n_rows, n_nulls, n_distinct, min_val, max_val)
) u
"""

QUERIES["table_profile"] = q_table_profile
ORACLES["table_profile"] = O_TABLE_PROFILE


# --- ANN quality meta-query: IVF recall vs brute-force truth ---------------------

def q_ivf_recall(spark, sf_dir):
    """Retrieval-quality metrics for the IVF scale path against the
    brute-force top-3 ground truth — the recall@k number an ANN index is
    tuned by. Same corpus-level full-outer-join construction as
    lsh_recall."""
    from ..operators import similarity as sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    truth = sim.brute_force_topk(emb, k=3).select(
        "query_id", "neighbor_id", F.lit(1).alias("t")
    )
    cand = sim.ivf_topk(emb, k=3, n_centroids=8).select(
        "query_id", "neighbor_id", F.lit(1).alias("c")
    )
    j = truth.join(cand, ["query_id", "neighbor_id"], "full")
    hit = F.sum(F.col("t") * F.col("c")).cast("double")
    return j.agg(
        F.sum("t").cast("long").alias("n_true"),
        F.sum("c").cast("long").alias("n_ivf"),
        F.sum(F.col("t") * F.col("c")).cast("long").alias("n_hit"),
        _r6x(hit / (F.sum("t").cast("double") + F.lit(DIVISION_GUARD_EPS)), "recall"),
        _r6x(hit / (F.sum("c").cast("double") + F.lit(DIVISION_GUARD_EPS)), "precision"),
    )


O_IVF_RECALL = f"""{_IVF_CTES},
ivf as (
  select query_id, neighbor_id from (
    select *, row_number() over (partition by query_id order by cos desc, neighbor_id) as rank
    from (
      select a.vec_id as query_id, b.vec_id as neighbor_id,
        list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))
             + {DIVISION_GUARD_EPS}) as cos
      from asg a join asg b using (centroid_id)
      where a.vec_id <> b.vec_id
    )
  ) where rank <= 3
),
brute as (
  select query_id, neighbor_id from (
    select *, row_number() over (partition by query_id order by cos desc, neighbor_id) as rank
    from (
      select a.vec_id as query_id, b.vec_id as neighbor_id,
        list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))
             + {DIVISION_GUARD_EPS}) as cos
      from e a, e b where a.vec_id != b.vec_id
    )
  ) where rank <= 3
),
j as (
  select coalesce(b.query_id, i.query_id) as qid,
    case when b.query_id is not null then 1 end as t,
    case when i.query_id is not null then 1 end as c
  from brute b full outer join ivf i
    on b.query_id = i.query_id and b.neighbor_id = i.neighbor_id
)
select
  cast(sum(t) as bigint) as n_true,
  cast(sum(c) as bigint) as n_ivf,
  cast(sum(t * c) as bigint) as n_hit,
  {_r6x_sql(f"cast(sum(t * c) as double) / (cast(sum(t) as double) + {DIVISION_GUARD_EPS})")} as recall,
  {_r6x_sql(f"cast(sum(t * c) as double) / (cast(sum(c) as double) + {DIVISION_GUARD_EPS})")} as precision
from j
"""

QUERIES["ivf_recall"] = q_ivf_recall
ORACLES["ivf_recall"] = O_IVF_RECALL


# --- per-turn text integrity (input_hint invariant) ------------------------------

def q_turn_text_integrity(spark, sf_dir):
    """The BASELINE input-hint invariant, checked through the driver gate
    itself: per-turn text survives the engine's source mapping byte-for-
    byte under the stable order (md5 per (conv_id, turn_idx) must hash-
    match the oracle's independent derivation from the raw events)."""
    t = transcripts_from_events(spark, sf_dir)
    return t.select(
        "conv_id", "turn_idx",
        F.md5(F.col("text")).alias("text_md5"),
        F.length("text").cast("long").alias("text_len"),
    )


O_TURN_TEXT_INTEGRITY = f"""{_W}
select conv_id, turn_idx,
  md5(text) as text_md5,
  cast(length(text) as bigint) as text_len
from transcripts
"""

QUERIES["turn_text_integrity"] = q_turn_text_integrity
ORACLES["turn_text_integrity"] = O_TURN_TEXT_INTEGRITY


# --- PSI drift between chronological halves --------------------------------------

def q_psi_drift(spark, sf_dir):
    """Per-bin PSI terms for `value`, earlier half vs later half (bins from
    the earlier side's exact decile cutpoints). Per-bin output keeps every
    float a pure expression on exact integer counts — no cross-bin sum."""
    from ..validation import psi_drift

    t = transcripts_from_events(spark, sf_dir)
    out = psi_drift(t, "value", "ts", split_q=0.5, k=10)
    return out.select(
        "bin", "n_ref", "n_cur",
        _r6x(F.col("p_ref"), "p_ref"),
        _r6x(F.col("q_cur"), "q_cur"),
        _r6x(F.col("psi_term"), "psi_term"),
    )


O_PSI_DRIFT = f"""{_W},
tc as (select quantile_cont(epoch_us(ts), 0.5) as tcut from transcripts),
d as (
  select value, cast(epoch_us(ts) < tc.tcut as int) as ref
  from transcripts, tc
),
c as (
  select quantile_cont(value, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9])
    filter (ref = 1) as cuts
  from d
),
binned as (
  select cast(len(list_filter(c.cuts, x -> d.value > x)) as int) as bin, d.ref
  from d, c where d.value is not null
),
per as (
  select bin,
    cast(sum(ref) as bigint) as n_ref,
    cast(sum(1 - ref) as bigint) as n_cur
  from binned group by bin
)
select bin, n_ref, n_cur,
  {_r6x_sql("cast(n_ref as double) / sum(n_ref) over ()")} as p_ref,
  {_r6x_sql("cast(n_cur as double) / sum(n_cur) over ()")} as q_cur,
  {_r6x_sql(f"(cast(n_cur as double) / sum(n_cur) over () - cast(n_ref as double) / sum(n_ref) over ()) * ln((cast(n_cur as double) / sum(n_cur) over () + {DIVISION_GUARD_EPS}) / (cast(n_ref as double) / sum(n_ref) over () + {DIVISION_GUARD_EPS}))")} as psi_term
from per
"""

QUERIES["psi_drift"] = q_psi_drift
ORACLES["psi_drift"] = O_PSI_DRIFT


# --- SFT conversation rendering --------------------------------------------------

def q_render_conversations(spark, sf_dir):
    """Each conversation flattened to one 'role: text' training string in
    stable order — groupBy + sorted collect, no window over raw rows."""
    from ..export import render_conversations

    t = transcripts_from_events(spark, sf_dir)
    out = render_conversations(t, CFG)
    return out.select(
        "conv_id", "n_turns",
        F.md5(F.col("rendered")).alias("rendered_md5"),
        "n_chars",
    )


O_RENDER_CONVERSATIONS = f"""{_W},
r as (
  select conv_id,
    cast(count(*) as bigint) as n_turns,
    string_agg(role || ': ' || coalesce(text, ''), chr(10)
               order by turn_idx, ts) as rendered
  from transcripts
  group by conv_id
)
select conv_id, n_turns, md5(rendered) as rendered_md5,
  cast(length(rendered) as bigint) as n_chars
from r
"""

QUERIES["render_conversations"] = q_render_conversations
ORACLES["render_conversations"] = O_RENDER_CONVERSATIONS


# --- document chunking (RAG / pretraining windows) -------------------------------

def q_chunk_documents(spark, sf_dir):
    """Sliding 32-word chunks with stride 24 over every document — all
    chunks built from one split() per row via higher-order functions."""
    from ..functions.text import chunk_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = chunk_documents(docs, max_words=32, stride=24)
    return out.select(
        "id", "chunk_id",
        F.md5(F.col("chunk_text")).alias("chunk_md5"),
        "n_words",
    )


O_CHUNK_DOCUMENTS = """
with d as (
  select doc_id as id, string_split(text, ' ') as words
  from documents
),
c as (
  select id, len(words) as n,
    unnest(range(greatest(1,
      cast(ceil((len(words) - 32) / 24.0) as int) + 1))) as j,
    words
  from d
)
select id, cast(j as int) as chunk_id,
  md5(array_to_string(words[j*24 + 1 : j*24 + 32], ' ')) as chunk_md5,
  cast(least(n - j*24, 32) as bigint) as n_words
from c
"""

QUERIES["chunk_documents"] = q_chunk_documents
ORACLES["chunk_documents"] = O_CHUNK_DOCUMENTS


# --- token-budgeted context window -----------------------------------------------

def q_context_window(spark, sf_dir):
    """Largest suffix of each conversation fitting a 256-token budget
    (whitespace tokens); newest turn always kept — reverse cumulative sum
    under the stable order, single exchange."""
    from ..operators.sequence import context_window

    t = transcripts_from_events(spark, sf_dir)
    out = context_window(t, CFG, token_budget=256)
    return out.select("conv_id", "turn_idx", "ctx_tokens", "in_context")


O_CONTEXT_WINDOW = f"""{_W},
t as (
  select conv_id, turn_idx, ts,
    cast(len(string_split(text, ' ')) as bigint) as toks
  from transcripts
),
s as (
  select conv_id, turn_idx,
    sum(toks) over (partition by conv_id order by turn_idx desc, ts desc
                    rows between unbounded preceding and current row) as ctx_tokens,
    row_number() over (partition by conv_id order by turn_idx desc, ts desc) as rrn
  from t
)
select conv_id, turn_idx,
  cast(ctx_tokens as bigint) as ctx_tokens,
  cast(ctx_tokens <= 256 or rrn = 1 as int) as in_context
from s
"""

QUERIES["context_window"] = q_context_window
ORACLES["context_window"] = O_CONTEXT_WINDOW


# --- per-document novelty curve --------------------------------------------------

def q_novelty_scores(spark, sf_dir):
    """Marginal-new-content score per document: fraction of its distinct
    3-shingles absent from every earlier doc_id."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = dedup.novelty_scores(docs, k=3)
    return out.select(
        "doc_id", "n_shingles", "n_novel",
        _r6x(F.col("novelty"), "novelty"),
    )


O_NOVELTY_SCORES = f"""
with {_SHINGLE_SQL},
m as (
  select doc_id, shingle,
    case when row_number() over (partition by shingle order by doc_id) = 1
         then 1 else 0 end as newf
  from shingled
),
per as (
  select doc_id,
    cast(count(*) as bigint) as n_shingles,
    cast(sum(newf) as bigint) as n_novel
  from m group by doc_id
)
select doc_id, n_shingles, n_novel,
  {_r6x_sql("cast(n_novel as double) / n_shingles")} as novelty
from per
"""

QUERIES["novelty_scores"] = q_novelty_scores
ORACLES["novelty_scores"] = O_NOVELTY_SCORES


# --- response-latency stats (user -> assistant) ----------------------------------

def q_response_latency(spark, sf_dir):
    """Per-conversation reply-latency distribution: dt on turns where an
    assistant turn directly follows a user turn (lag over the stable
    order, then one aggregation). Exact integer microsecond sums; the
    median is emitted in the doubled-integer form per the oracle-parity
    convention."""
    t = transcripts_from_events(spark, sf_dir)
    w = ordering.stable_window(CFG)
    us = ordering.epoch_us("ts")
    d = t.select(
        "conv_id",
        F.lag("role").over(w).alias("_prev_role"),
        (us - F.lag(us).over(w)).alias("_dt_us"),
        F.col("role"),
    ).filter((F.col("_prev_role") == "user") & (F.col("role") == "assistant"))
    return (
        d.groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_replies"),
            F.sum("_dt_us").cast("long").alias("total_reply_us"),
            F.floor(F.percentile("_dt_us", F.lit(0.5)) * 2).cast("long").alias("median_reply_2us"),
            F.max("_dt_us").cast("long").alias("max_reply_us"),
        )
        .orderBy("conv_id")
    )


O_RESPONSE_LATENCY = f"""{_W},
d as (
  select conv_id,
    lag(role) over w as prev_role, role,
    epoch_us(ts) - lag(epoch_us(ts)) over w as dt_us
  from transcripts
  window w as ({_OWIN})
)
select conv_id,
  cast(count(*) as bigint) as n_replies,
  cast(sum(dt_us) as bigint) as total_reply_us,
  cast(floor(quantile_cont(dt_us, 0.5) * 2) as bigint) as median_reply_2us,
  cast(max(dt_us) as bigint) as max_reply_us
from d
where prev_role = 'user' and role = 'assistant'
group by conv_id
order by conv_id
"""

QUERIES["response_latency"] = q_response_latency
ORACLES["response_latency"] = O_RESPONSE_LATENCY


# --- conversation-level feature table --------------------------------------------

def q_conversation_features(spark, sf_dir):
    """Entity-grain materialization: one row per conversation with the
    summary bundle (turns, role mix, sessions, distinct tools, span,
    chars) — the table a conversation-level model trains on. Single
    aggregation after the same window pass the per-turn features use."""
    t = transcripts_from_events(spark, sf_dir)
    t = state.with_sessions(t, CFG)
    us = ordering.epoch_us("ts")
    return (
        t.groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_turns"),
            F.sum((F.col("role") == "user").cast("int")).cast("long").alias("n_user"),
            F.sum((F.col("role") == "assistant").cast("int")).cast("long").alias("n_assistant"),
            F.sum((F.col("role") == "tool").cast("int")).cast("long").alias("n_tool"),
            F.sum("is_session_start").cast("long").alias("n_sessions"),
            F.count_distinct("tool").cast("long").alias("n_distinct_tools"),
            F.sum(F.length("text")).cast("long").alias("total_chars"),
            ((F.max(us) - F.min(us)) / F.lit(1_000_000)).cast("long").alias("span_s"),
        )
        .orderBy("conv_id")
    )


O_CONVERSATION_FEATURES = f"""{_W},
s as (
  select conv_id, role, tool, text, ts,
    case when lag(epoch_us(ts)) over ({_OWIN}) is null
           or epoch_us(ts) - lag(epoch_us(ts)) over ({_OWIN})
              > {int(CFG.session_gap_s * 1e6)}
         then 1 else 0 end as is_start
  from transcripts
)
select conv_id,
  cast(count(*) as bigint) as n_turns,
  cast(sum(case when role = 'user' then 1 else 0 end) as bigint) as n_user,
  cast(sum(case when role = 'assistant' then 1 else 0 end) as bigint) as n_assistant,
  cast(sum(case when role = 'tool' then 1 else 0 end) as bigint) as n_tool,
  cast(sum(is_start) as bigint) as n_sessions,
  cast(count(distinct tool) as bigint) as n_distinct_tools,
  cast(sum(length(text)) as bigint) as total_chars,
  cast((max(epoch_us(ts)) - min(epoch_us(ts))) // 1000000 as bigint) as span_s
from s
group by conv_id
order by conv_id
"""

QUERIES["conversation_features"] = q_conversation_features
ORACLES["conversation_features"] = O_CONVERSATION_FEATURES


# --- rolling trend slope + role-mix entropy --------------------------------------

def q_rolling_trend(spark, sf_dir):
    """Two more frame statistics from exact integer sums over the trailing
    32 turns: the least-squares slope of turn length against turn position
    (trend detection), and the Shannon entropy of the role mix (dialogue
    diversity). Every float is one closed-form expression on bigint frame
    sums — the same bit-stability recipe as rolling_corr."""
    t = transcripts_from_events(spark, sf_dir)
    w = ordering.trailing(CFG, 32)
    x = F.col("turn_idx").cast("long")
    y = F.length("text").cast("long")
    n = F.count(F.lit(1)).over(w)
    sx = F.sum(x).over(w)
    sy = F.sum(y).over(w)
    sxx = F.sum(x * x).over(w)
    sxy = F.sum(x * y).over(w)
    den = (n * sxx - sx * sx).cast("double")
    slope = F.when(den > 0, (n * sxy - sx * sy).cast("double") / den)

    nu = F.sum((F.col("role") == "user").cast("int")).over(w)
    na = F.sum((F.col("role") == "assistant").cast("int")).over(w)
    nt = F.sum((F.col("role") == "tool").cast("int")).over(w)

    def h(cnt):
        p = cnt.cast("double") / n
        return F.when(cnt > 0, -p * F.log(p)).otherwise(F.lit(0.0))

    entropy = h(nu) + h(na) + h(nt)
    return t.select(
        "conv_id", "turn_idx",
        _r6x(slope, "char_trend_slope"),
        _r6x(entropy, "role_entropy"),
    )


O_ROLLING_TREND = f"""{_W},
s as (
  select conv_id, turn_idx,
    count(*) over f as n,
    sum(cast(turn_idx as bigint)) over f as sx,
    sum(cast(length(text) as bigint)) over f as sy,
    sum(cast(turn_idx as bigint) * cast(turn_idx as bigint)) over f as sxx,
    sum(cast(turn_idx as bigint) * cast(length(text) as bigint)) over f as sxy,
    sum(case when role = 'user' then 1 else 0 end) over f as nu,
    sum(case when role = 'assistant' then 1 else 0 end) over f as na,
    sum(case when role = 'tool' then 1 else 0 end) over f as nt
  from transcripts
  window f as ({_OWIN} rows between 31 preceding and current row)
)
select conv_id, turn_idx,
  case when (n*sxx - sx*sx) > 0
       then {_r6x_sql("cast(n*sxy - sx*sy as double) / cast(n*sxx - sx*sx as double)")}
  end as char_trend_slope,
  {_r6x_sql("(case when nu > 0 then -(cast(nu as double)/n) * ln(cast(nu as double)/n) else 0.0 end) + (case when na > 0 then -(cast(na as double)/n) * ln(cast(na as double)/n) else 0.0 end) + (case when nt > 0 then -(cast(nt as double)/n) * ln(cast(nt as double)/n) else 0.0 end)")} as role_entropy
from s
"""

QUERIES["rolling_trend"] = q_rolling_trend
ORACLES["rolling_trend"] = O_ROLLING_TREND


# --- consecutive-run streaks (gaps and islands) ----------------------------------

def q_role_streaks(spark, sf_dir):
    """Length-so-far and ordinal of the current consecutive same-role run
    per turn — the gaps-and-islands identity (rn_all - rn_per_value), the
    retry/burst detection primitive."""
    t = transcripts_from_events(spark, sf_dir)
    out = state.with_streaks(t, CFG, col="role")
    return out.select(
        "conv_id", "turn_idx",
        F.col("role_streak_len"),
        F.col("role_streak_ord"),
    )


O_ROLE_STREAKS = f"""{_W},
g as (
  select conv_id, turn_idx, ts, role,
    row_number() over ({_OWIN})
      - row_number() over (partition by conv_id, role order by turn_idx, ts) as grp
  from transcripts
),
r as (
  select conv_id, turn_idx, ts,
    row_number() over (partition by conv_id, role, grp order by turn_idx, ts) as streak_len
  from g
)
select conv_id, turn_idx,
  cast(streak_len as bigint) as role_streak_len,
  cast(sum(case when streak_len = 1 then 1 else 0 end)
         over ({_CUM}) as bigint) as role_streak_ord
from r
"""

QUERIES["role_streaks"] = q_role_streaks
ORACLES["role_streaks"] = O_ROLE_STREAKS


# --- per-tool latency leaderboard ------------------------------------------------

def q_tool_leaderboard(spark, sf_dir):
    """Ops-facing rollup of the lifecycle episodes BY TOOL (the per-conv
    stats exist as episode_stats): invocation count, completion ratio, and
    exact integer-microsecond latency sums/medians, sorted by volume."""
    ep = lifecycle.tool_episodes(_t(spark, sf_dir), CFG)
    lat_us = F.round(F.col("latency_s") * 1e6, 0).cast("long")
    return (
        ep.groupBy("tool")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_invocations"),
            F.sum("completed").cast("long").alias("n_completed"),
            _r6x(F.sum("completed").cast("double") / F.count(F.lit(1)), "completion_ratio"),
            F.sum(lat_us).cast("long").alias("total_latency_us"),
            F.floor(F.percentile(lat_us, F.lit(0.5)) * 2).cast("long").alias("median_latency_2us"),
        )
        .orderBy(F.col("n_invocations").desc(), F.col("tool"))
    )


O_TOOL_LEADERBOARD = f"""{_W},
inv as (
  select conv_id, tool, ts as invoke_ts,
    row_number() over (partition by conv_id, tool order by turn_idx, ts) as episode_rank
  from transcripts where role = 'assistant' and tool is not null
),
res as (
  select conv_id, tool, ts as result_ts,
    row_number() over (partition by conv_id, tool order by turn_idx, ts) as episode_rank
  from transcripts where role = 'tool' and tool is not null
),
ep as (
  select i.tool,
    case when r.result_ts is not null then 1 else 0 end as completed,
    cast(round((epoch_us(r.result_ts) - epoch_us(i.invoke_ts)) / 1e6 * 1e6, 0) as bigint) as lat_us
  from inv i left join res r using (conv_id, tool, episode_rank)
)
select tool,
  cast(count(*) as bigint) as n_invocations,
  cast(sum(completed) as bigint) as n_completed,
  {_r6x_sql("cast(sum(completed) as double) / count(*)")} as completion_ratio,
  cast(sum(lat_us) as bigint) as total_latency_us,
  cast(floor(quantile_cont(lat_us, 0.5) * 2) as bigint) as median_latency_2us
from ep
group by tool
order by n_invocations desc, tool
"""

QUERIES["tool_leaderboard"] = q_tool_leaderboard
ORACLES["tool_leaderboard"] = O_TOOL_LEADERBOARD


# --- per-source curation dashboard -----------------------------------------------

def _gopher_as_cte() -> str:
    """O_GOPHER_FILTER's final SELECT wrapped as a `gk` CTE (same surgery
    as the edit-distance oracle)."""
    head, _, tail = O_GOPHER_FILTER.rpartition("select doc_id, flag_words")
    body = "select doc_id, flag_words" + tail
    return head.rstrip().rstrip(",") + ",\ngk as (\n" + body.strip() + "\n)"


def q_source_dashboard(spark, sf_dir):
    """Curation dashboard: per (source, lang), document count, Gopher keep
    rate, and mean length — the table a data-mixing owner reads before
    setting sampling weights."""
    from ..functions import repetition as rep

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    g = rep.gopher_filter(docs).select(F.col("id").alias("doc_id"), "keep")
    j = docs.join(g, "doc_id")
    return (
        j.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("keep").cast("long").alias("n_keep"),
            _r6x(F.sum("keep").cast("double") / F.count(F.lit(1)), "keep_rate"),
            F.sum(F.length("text")).cast("long").alias("total_chars"),
        )
        .orderBy("source", "lang")
    )


O_SOURCE_DASHBOARD = f"""{_gopher_as_cte()}
select d.source, d.lang,
  cast(count(*) as bigint) as n_docs,
  cast(sum(gk.keep) as bigint) as n_keep,
  {_r6x_sql("cast(sum(gk.keep) as double) / count(*)")} as keep_rate,
  cast(sum(length(d.text)) as bigint) as total_chars
from documents d join gk using (doc_id)
group by d.source, d.lang
order by d.source, d.lang
"""

QUERIES["source_dashboard"] = q_source_dashboard
ORACLES["source_dashboard"] = O_SOURCE_DASHBOARD


# --- robust z-score (median / MAD) -----------------------------------------------

def q_robust_zscore(spark, sf_dir):
    """Outlier-robust scaling of `value`: (x - median)/(MAD + eps), two
    tiny sequential aggregates broadcast back — no sort of the big table."""
    from ..normalization import robust_zscore

    t = transcripts_from_events(spark, sf_dir)
    out = robust_zscore(t, "value")
    return out.select("conv_id", "turn_idx", _r6x(F.col("value_rz"), "value_rz"))


O_ROBUST_ZSCORE = f"""{_W},
m as (select quantile_cont(value, 0.5) as med from transcripts),
s as (
  select quantile_cont(abs(value - m.med), 0.5) as mad, any_value(m.med) as med
  from transcripts, m
)
select t.conv_id, t.turn_idx,
  {_r6x_sql("(t.value - s.med) / (s.mad + 1e-09)")} as value_rz
from transcripts t, s
"""

QUERIES["robust_zscore"] = q_robust_zscore
ORACLES["robust_zscore"] = O_ROBUST_ZSCORE


# --- group-aware hash split ------------------------------------------------------

def q_group_hash_split(spark, sf_dir):
    """Conversation-hash train/val/test split: per-split conv and turn
    counts plus the no-straddle proof (max distinct splits per conv must
    be 1 — asserted IN the result so the oracle checks it too)."""
    from ..batch import group_hash_split

    t = transcripts_from_events(spark, sf_dir)
    s = group_hash_split(t, CFG)
    per_conv = s.groupBy("conv_id").agg(
        F.count_distinct("split").alias("_ns"), F.first("split").alias("split")
    )
    return (
        per_conv.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_convs"),
            F.max("_ns").cast("long").alias("max_splits_per_conv"),
        )
        .join(
            s.groupBy("split").agg(F.count(F.lit(1)).cast("long").alias("n_turns")),
            "split",
        )
        .select("split", "n_convs", "n_turns", "max_splits_per_conv")
        .orderBy("split")
    )


O_GROUP_HASH_SPLIT = f"""{_W},
b as (
  select conv_id, md5(cast(conv_id as varchar)) as h from (
    select distinct conv_id from transcripts
  )
),
assigned as (
  select t.conv_id,
    case when ({_HEX7}) % 10000 < 7000 then 'train'
         when ({_HEX7}) % 10000 < 8500 then 'val'
         else 'test' end as split
  from transcripts t join b using (conv_id)
)
select split,
  cast(count(distinct conv_id) as bigint) as n_convs,
  cast(count(*) as bigint) as n_turns,
  cast(1 as bigint) as max_splits_per_conv
from assigned
group by split
order by split
"""

QUERIES["group_hash_split"] = q_group_hash_split
ORACLES["group_hash_split"] = O_GROUP_HASH_SPLIT


# --- rolling exact distinct count ------------------------------------------------

def q_rolling_distinct_tools(spark, sf_dir):
    """Exact distinct tools over the trailing 32 turns. Unlike the
    cumulative form (first-occurrence prefix sums, O(n)), a ROLLING exact
    distinct genuinely needs the frame contents — collect_list over the
    bounded frame is O(n*w) with w=32 fixed, the honest cost (documented
    trade vs approx sketches at larger w)."""
    t = transcripts_from_events(spark, sf_dir)
    fr = ordering.trailing(CFG, 32)
    d = F.size(F.array_distinct(F.collect_list("tool").over(fr)))
    return t.select(
        "conv_id", "turn_idx",
        d.cast("long").alias("distinct_tools_w32"),
    )


O_ROLLING_DISTINCT_TOOLS = f"""{_W}
select conv_id, turn_idx,
  cast(coalesce(len(list_distinct(list(tool) filter (tool is not null)
    over ({_OWIN} rows between 31 preceding and current row))), 0) as bigint)
    as distinct_tools_w32
from transcripts
"""

QUERIES["rolling_distinct_tools"] = q_rolling_distinct_tools
ORACLES["rolling_distinct_tools"] = O_ROLLING_DISTINCT_TOOLS


# --- horizon-aware sequence windowing params (closes SURVEY §2.6) -------------------

def q_horizon_aware_params(spark, sf_dir):
    """The REAL operator (operators/sequence.py horizon_aware_params, ref
    src/sequence_builder/horizon_aware.rs:289-295) evaluated over horizons
    1..512 — pure config arithmetic, so the 512-row table is built driver-
    side from the operator's actual outputs and certified against the
    closed form in SQL."""
    from ..operators.sequence import horizon_aware_params

    rows = [
        (h, *horizon_aware_params(h))
        for h in range(1, 513)
    ]
    return spark.createDataFrame(
        rows, "horizon long, lookback long, stride long"
    )


O_HORIZON_AWARE_PARAMS = """
with h as (select unnest(range(1, 513)) as horizon),
p as (
  select horizon,
    greatest(16, least(512,
      cast(floor(greatest(64.0, horizon * 2.0)) as bigint))) as lookback
  from h
)
select cast(horizon as bigint) as horizon,
  cast(lookback as bigint) as lookback,
  cast(greatest(1, lookback // 32) as bigint) as stride
from p
"""

QUERIES["horizon_aware_params"] = q_horizon_aware_params
ORACLES["horizon_aware_params"] = O_HORIZON_AWARE_PARAMS


# --- range-bucketed as-of join (the skewed-key form) ---------------------------------

def q_asof_join_range(spark, sf_dir):
    """asof_join_bucketed with a span small enough that the sf0.01 corpus
    spans many buckets — certifies the carry-in construction against the
    SAME DuckDB ASOF JOIN oracle as the plain operator (outputs must be
    identical)."""
    t = transcripts_from_events(spark, sf_dir)
    left = t.select("conv_id", "turn_idx", "ts")
    right = (
        t.filter(F.col("text").startswith("purchase"))
        .select("conv_id", "ts", F.col("value").alias("purchase_value"))
    )
    out = asof.asof_join_bucketed(
        left, right, key="conv_id", ts="ts",
        value_cols=["purchase_value"], bucket_span_s=3600.0,
    )
    return out.select(
        "conv_id", "turn_idx",
        _r6(F.col("purchase_value_asof"), "last_purchase_value"),
    )


QUERIES["asof_join_range"] = q_asof_join_range
ORACLES["asof_join_range"] = O_ASOF_JOIN


# --- registry ordering -------------------------------------------------------------
# The external correctness gate certifies the FIRST ~50 registry entries each
# round; the window is ROTATED every round so driver certification accumulates
# across the whole registry. The remaining entries keep their original relative
# order and stay covered by tools/check_oracle.py full sweeps (BASELINE.md).

_CERTIFIED_FIRST = [
    # Round-5 ROTATION (VERDICT r4 items 1+3): the driver certifies the
    # first ~50 registry entries each round; cumulative driver-certified
    # coverage after r4 is 118/442. This window keeps the flagship row 1,
    # re-certifies top_tools under its fixed driver-canon-safe (scalar,
    # array_join'd) output shape, and fills the remaining 48 slots with
    # never-driver-certified queries from the round-4 statistical /
    # extreme-value / graph tail the r4 verdict named as priority.
    # Everything previously certified stays green in the full
    # tools/check_oracle.py sweeps (BASELINE.md). The round-6 window is
    # pre-registered in COVERAGE.md (VERDICT r4 item 8).
    "state_cumulative",
    "top_tools",
    "keyness_g2", "peaks_over_threshold", "gumbel", "return_levels",
    "mean_residual_life", "modularity", "cka_quantization", "pca_power",
    "kneser_ney", "bh_fdr", "lift_table", "hill_tail", "wasserstein",
    "conformal", "hurst", "silhouette", "t_closeness", "decision_stump",
    "jackknife_ratio", "ann_hubness", "loo_target_encoding", "ljung_box",
    "kendall_tau", "mann_whitney", "mann_kendall", "kruskal_wallis",
    "wilcoxon_signed", "effect_size", "cramers_v", "cliffs_delta",
    "spearman", "logrank_test", "bradley_terry", "dsir_weights",
    "kcore_peel", "label_propagation", "roc_curve", "brier_decomp",
    "good_turing", "dispersion_index", "entropy_rate", "ess_weights",
    "eb_shrinkage", "markov_stationary", "permutation_test", "v_measure",
    "ari", "rbo",
]



# --- web-corpus URL hygiene: canonicalization + URL-level dedup -----------------

def q_url_dedup(spark, sf_dir):
    """URL-level dedup over deterministic synthetic crawl URLs (four messy
    variants per doc_id family: casing, default port, tracking params,
    fragments, unordered query strings, trailing slash). Canonicalization
    is a pure JVM expression (functions/web.py); the dedup shuffles only
    canonical-URL digests. Variants 0/1 and 2/3 collapse pairwise."""
    from ..functions import web

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    v = F.col("doc_id") % 4
    page = (F.col("doc_id") % 40).cast("string")
    url = (
        F.when(v == 0, F.concat(F.lit("https://www."), F.col("source"),
                                F.lit(".example.com/page/"), page))
        .when(v == 1, F.concat(F.lit("HTTPS://WWW."), F.upper("source"),
                               F.lit(".EXAMPLE.COM:443/page/"), page,
                               F.lit("/?utm_source=feed&fbclid=xyz")))
        .when(v == 2, F.concat(F.lit("http://"), F.col("source"),
                               F.lit(".example.com/page/"), page,
                               F.lit("?b=2&a=1#frag")))
        .otherwise(F.concat(F.lit("http://"), F.col("source"),
                            F.lit(".example.com:80/page/"), page,
                            F.lit("?a=1&b=2&utm_campaign=x")))
    )
    src = docs.select("doc_id", url.alias("url"))
    return web.url_dedup(src, url_col="url", id_col="doc_id")


_TRACKING_SQL = "('utm_source','utm_medium','utm_campaign','utm_term','utm_content','gclid','fbclid','mc_cid','mc_eid','ref')"

O_URL_DEDUP = f"""
with u as (
  select doc_id,
    case when doc_id % 4 = 0 then 'https://www.' || source || '.example.com/page/' || cast(doc_id % 40 as varchar)
         when doc_id % 4 = 1 then 'HTTPS://WWW.' || upper(source) || '.EXAMPLE.COM:443/page/' || cast(doc_id % 40 as varchar) || '/?utm_source=feed&fbclid=xyz'
         when doc_id % 4 = 2 then 'http://' || source || '.example.com/page/' || cast(doc_id % 40 as varchar) || '?b=2&a=1#frag'
         else 'http://' || source || '.example.com:80/page/' || cast(doc_id % 40 as varchar) || '?a=1&b=2&utm_campaign=x'
    end as url
  from documents
),
nf as (select doc_id, regexp_replace(trim(url), '#.*$', '') as nofrag from u),
p as (
  select doc_id,
    lower(regexp_extract(nofrag, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) as scheme,
    regexp_replace(regexp_replace(
      lower(regexp_extract(nofrag, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?]+)', 1)),
      ':(80|443)$', ''), '^www\\.', '') as host,
    regexp_replace(coalesce(regexp_extract(nofrag, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]+(/[^?]*)?', 1), ''), '/+$', '') as path,
    case when strpos(nofrag, '?') > 0 then substr(nofrag, strpos(nofrag, '?') + 1) else '' end as qs
  from nf
),
c as (
  select doc_id,
    scheme || '://' || host || path || case when q2 = '' then '' else '?' || q2 end as canonical_url
  from (
    select doc_id, scheme, host, path,
      coalesce(array_to_string(list_sort(list_filter(string_split(qs, '&'),
        x -> x <> '' and lower(string_split(x, '=')[1]) not in {_TRACKING_SQL})), '&'), '') as q2
    from p
  )
),
k as (select canonical_url, min(doc_id) as keep_id from c group by 1)
select c.doc_id, c.canonical_url, k.keep_id, c.doc_id = k.keep_id as kept
from c join k using (canonical_url)
"""

QUERIES["url_dedup"] = q_url_dedup
ORACLES["url_dedup"] = O_URL_DEDUP


# --- duplicate n-gram span fraction (ExactSubstr criterion, word-level) ---------

def q_dup_ngram_fraction(spark, sf_dir):
    """Per-doc duplicated-position accounting over word 3-grams (Lee et
    al. 2022 ExactSubstr at word granularity): a position is duplicated
    if its 3-gram occurs >= 2 times corpus-wide (within-doc repeats
    count). Integer outputs only — the fraction is a driver-side
    rational. Grams are md5-hashed before the explode, so both shuffles
    move digests, never text."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.dup_ngram_stats(docs, n=3, min_count=2)


O_DUP_NGRAM_FRACTION = """
with w as (
  select doc_id, string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') as ws
  from documents
),
g0 as (select doc_id, ws, len(ws) as nw from w),
g as (select doc_id, unnest(range(1, nw - 1)) as i, ws from g0 where nw >= 3),
gr as (select doc_id, md5(array_to_string(ws[i : i + 2], ' ')) as gram from g),
c as (select gram, count(*) as cnt from gr group by 1),
d as (
  select gr.doc_id,
    cast(count(*) as bigint) as n_grams,
    cast(sum(case when c.cnt >= 2 then 1 else 0 end) as bigint) as dup_grams
  from gr join c using (gram) group by 1
)
select documents.doc_id,
  coalesce(d.n_grams, 0) as n_grams,
  coalesce(d.dup_grams, 0) as dup_grams
from documents left join d on documents.doc_id = d.doc_id
"""

QUERIES["dup_ngram_fraction"] = q_dup_ngram_fraction
ORACLES["dup_ngram_fraction"] = O_DUP_NGRAM_FRACTION


# --- CCNet-style quality buckets from integer word-rarity ----------------------

def q_quality_buckets(spark, sf_dir):
    """Head/middle/tail quality terciles per language from an integer
    rarity score (corpus word frequency summed per doc, micro-units per
    word). Rank-based ntile -> engine-independent bucket assignment; the
    100-TB path swaps in percentile_approx cutpoints (exact=False)."""
    from ..functions import corpus as cx

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return cx.rarity_quality_buckets(docs, n_buckets=3, exact=True)


O_QUALITY_BUCKETS = """
with w as (
  select doc_id, lang,
    unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) as word
  from documents
),
f as (select word, count(*) as wf from w group by 1),
s as (
  select doc_id, lang, cast(count(*) as bigint) as n_words, cast(sum(wf) as bigint) as freq_sum
  from w join f using (word) group by 1, 2
),
r as (select *, cast((freq_sum * 1000000) // n_words as bigint) as rarity_score from s)
select doc_id, lang, n_words, freq_sum, rarity_score,
  cast(ntile(3) over (partition by lang order by rarity_score desc, doc_id) as int) as bucket
from r
"""

QUERIES["quality_buckets"] = q_quality_buckets
ORACLES["quality_buckets"] = O_QUALITY_BUCKETS


# --- data-mixing plan: per-source epoch factors as exact rationals --------------

def q_mixture_plan(spark, sf_dir):
    """Per-source epoch (repeat) factors to hit a target token mixture
    (src0 weighted 3x, src1 2x, rest 1x) — emitted as exact integer
    rationals (epochs_num/epochs_den) plus the integer floor. Two tiny
    aggregations; nothing scales with corpus size past the count scan."""
    from ..functions import corpus as cx

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return cx.mixture_plan(docs, weights={"src0": 3, "src1": 2})


O_MIXTURE_PLAN = """
with per as (
  select source, cast(count(*) as bigint) as n_docs,
    cast(sum(len(regexp_split_to_array(trim(text), '\\s+'))) as bigint) as tokens
  from documents group by 1
),
w as (
  select *, cast(case source when 'src0' then 3 when 'src1' then 2 else 1 end as bigint) as weight
  from per
),
t as (select cast(sum(tokens) as bigint) as total_tokens, cast(sum(weight) as bigint) as total_weight from w)
select source, n_docs, tokens, weight, t.total_tokens,
  cast(t.total_tokens * weight as bigint) as epochs_num,
  cast(tokens * t.total_weight as bigint) as epochs_den,
  cast((t.total_tokens * weight) // (tokens * t.total_weight) as bigint) as full_epochs
from w, t
"""

QUERIES["mixture_plan"] = q_mixture_plan
ORACLES["mixture_plan"] = O_MIXTURE_PLAN



# --- ExactSubstr span REMOVAL (completes the Lee et al. loop) -------------------

def q_dup_span_removal(spark, sf_dir):
    """Remove every word position covered by a corpus-duplicated 3-gram
    and reassemble the survivors — the removal half of ExactSubstr
    (dup_ngram_fraction is the scoring half). Digest-only shuffles; the
    coverage mask + reassembly is a JVM higher-order expression."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.remove_dup_spans(docs, n=3, min_count=2)


O_DUP_SPAN_REMOVAL = """
with w as (
  select doc_id, string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') as ws
  from documents
),
g0 as (select doc_id, ws, len(ws) as nw from w),
g as (select doc_id, unnest(range(1, nw - 1)) as i, ws from g0 where nw >= 3),
gr as (select doc_id, i, md5(array_to_string(ws[i : i + 2], ' ')) as gram from g),
c as (select gram, count(*) as cnt from gr group by 1),
d as (select gr.doc_id, gr.i from gr join c using (gram) where c.cnt >= 2),
covd as (select distinct doc_id, i + x as j from d cross join (values (0), (1), (2)) v(x)),
pos as (select doc_id, nw, ws, unnest(range(1, nw + 1)) as j from g0),
kept as (
  select p.doc_id, p.j, p.ws[p.j] as word
  from pos p left join covd on covd.doc_id = p.doc_id and covd.j = p.j
  where covd.j is null
),
agg as (
  select doc_id, cast(count(*) as bigint) as n_kept,
    coalesce(string_agg(word, ' ' order by j), '') as text_clean
  from kept group by 1
)
select g0.doc_id, cast(g0.nw as bigint) as n_words,
  cast(g0.nw - coalesce(a.n_kept, 0) as bigint) as n_removed,
  coalesce(a.text_clean, '') as text_clean
from g0 left join agg a using (doc_id)
"""

QUERIES["dup_span_removal"] = q_dup_span_removal
ORACLES["dup_span_removal"] = O_DUP_SPAN_REMOVAL



# --- count-min sketch: bounded-memory frequency estimation ----------------------

def q_cms_word_counts(spark, sf_dir):
    """Count-min sketch (d=4, w=256, md5 row hashes) over the corpus word
    stream, point-queried for the 10 most frequent words against their
    exact counts. est_cnt >= true_cnt always; the sketch shuffle is
    O(partitions * d * w) -- independent of corpus size AND key
    cardinality, the fixed-memory path for unbounded key spaces."""
    from ..functions import sketch
    from ..functions.repetition import normalized_words

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    words = _fan(docs).select(F.explode(normalized_words("text")).alias("word"))
    cells = sketch.count_min_sketch(words, "word", depth=4, width=256)
    true = words.groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("true_cnt"))
    top = true.orderBy(F.col("true_cnt").desc(), F.col("word")).limit(10)
    est = sketch.cms_estimate(cells, top.select("word"), "word", depth=4, width=256)
    return top.join(est, "word").select("word", "true_cnt", "est_cnt")


O_CMS_WORD_COUNTS = """
with wq as (
  select unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) as word
  from documents
),
t as (select word, cast(count(*) as bigint) as true_cnt from wq group by 1),
cells as (
  select 0 as r, ((strpos('0123456789abcdef', substr(md5('0|' || word), 1, 1)) - 1) * 16777216 + (strpos('0123456789abcdef', substr(md5('0|' || word), 2, 1)) - 1) * 1048576 + (strpos('0123456789abcdef', substr(md5('0|' || word), 3, 1)) - 1) * 65536 + (strpos('0123456789abcdef', substr(md5('0|' || word), 4, 1)) - 1) * 4096 + (strpos('0123456789abcdef', substr(md5('0|' || word), 5, 1)) - 1) * 256 + (strpos('0123456789abcdef', substr(md5('0|' || word), 6, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(md5('0|' || word), 7, 1)) - 1) * 1) % 256 as col, cast(count(*) as bigint) as cnt from wq group by 2
  union all
  select 1 as r, ((strpos('0123456789abcdef', substr(md5('1|' || word), 1, 1)) - 1) * 16777216 + (strpos('0123456789abcdef', substr(md5('1|' || word), 2, 1)) - 1) * 1048576 + (strpos('0123456789abcdef', substr(md5('1|' || word), 3, 1)) - 1) * 65536 + (strpos('0123456789abcdef', substr(md5('1|' || word), 4, 1)) - 1) * 4096 + (strpos('0123456789abcdef', substr(md5('1|' || word), 5, 1)) - 1) * 256 + (strpos('0123456789abcdef', substr(md5('1|' || word), 6, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(md5('1|' || word), 7, 1)) - 1) * 1) % 256 as col, cast(count(*) as bigint) as cnt from wq group by 2
  union all
  select 2 as r, ((strpos('0123456789abcdef', substr(md5('2|' || word), 1, 1)) - 1) * 16777216 + (strpos('0123456789abcdef', substr(md5('2|' || word), 2, 1)) - 1) * 1048576 + (strpos('0123456789abcdef', substr(md5('2|' || word), 3, 1)) - 1) * 65536 + (strpos('0123456789abcdef', substr(md5('2|' || word), 4, 1)) - 1) * 4096 + (strpos('0123456789abcdef', substr(md5('2|' || word), 5, 1)) - 1) * 256 + (strpos('0123456789abcdef', substr(md5('2|' || word), 6, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(md5('2|' || word), 7, 1)) - 1) * 1) % 256 as col, cast(count(*) as bigint) as cnt from wq group by 2
  union all
  select 3 as r, ((strpos('0123456789abcdef', substr(md5('3|' || word), 1, 1)) - 1) * 16777216 + (strpos('0123456789abcdef', substr(md5('3|' || word), 2, 1)) - 1) * 1048576 + (strpos('0123456789abcdef', substr(md5('3|' || word), 3, 1)) - 1) * 65536 + (strpos('0123456789abcdef', substr(md5('3|' || word), 4, 1)) - 1) * 4096 + (strpos('0123456789abcdef', substr(md5('3|' || word), 5, 1)) - 1) * 256 + (strpos('0123456789abcdef', substr(md5('3|' || word), 6, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(md5('3|' || word), 7, 1)) - 1) * 1) % 256 as col, cast(count(*) as bigint) as cnt from wq group by 2
),
top as (select word, true_cnt from t order by true_cnt desc, word limit 10)
select top.word, top.true_cnt,
  cast(least(
    (select cnt from cells c where c.r = 0 and c.col = ((strpos('0123456789abcdef', substr(md5('0|' || top.word), 1, 1)) - 1) * 16777216 + (strpos('0123456789abcdef', substr(md5('0|' || top.word), 2, 1)) - 1) * 1048576 + (strpos('0123456789abcdef', substr(md5('0|' || top.word), 3, 1)) - 1) * 65536 + (strpos('0123456789abcdef', substr(md5('0|' || top.word), 4, 1)) - 1) * 4096 + (strpos('0123456789abcdef', substr(md5('0|' || top.word), 5, 1)) - 1) * 256 + (strpos('0123456789abcdef', substr(md5('0|' || top.word), 6, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(md5('0|' || top.word), 7, 1)) - 1) * 1) % 256),
    (select cnt from cells c where c.r = 1 and c.col = ((strpos('0123456789abcdef', substr(md5('1|' || top.word), 1, 1)) - 1) * 16777216 + (strpos('0123456789abcdef', substr(md5('1|' || top.word), 2, 1)) - 1) * 1048576 + (strpos('0123456789abcdef', substr(md5('1|' || top.word), 3, 1)) - 1) * 65536 + (strpos('0123456789abcdef', substr(md5('1|' || top.word), 4, 1)) - 1) * 4096 + (strpos('0123456789abcdef', substr(md5('1|' || top.word), 5, 1)) - 1) * 256 + (strpos('0123456789abcdef', substr(md5('1|' || top.word), 6, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(md5('1|' || top.word), 7, 1)) - 1) * 1) % 256),
    (select cnt from cells c where c.r = 2 and c.col = ((strpos('0123456789abcdef', substr(md5('2|' || top.word), 1, 1)) - 1) * 16777216 + (strpos('0123456789abcdef', substr(md5('2|' || top.word), 2, 1)) - 1) * 1048576 + (strpos('0123456789abcdef', substr(md5('2|' || top.word), 3, 1)) - 1) * 65536 + (strpos('0123456789abcdef', substr(md5('2|' || top.word), 4, 1)) - 1) * 4096 + (strpos('0123456789abcdef', substr(md5('2|' || top.word), 5, 1)) - 1) * 256 + (strpos('0123456789abcdef', substr(md5('2|' || top.word), 6, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(md5('2|' || top.word), 7, 1)) - 1) * 1) % 256),
    (select cnt from cells c where c.r = 3 and c.col = ((strpos('0123456789abcdef', substr(md5('3|' || top.word), 1, 1)) - 1) * 16777216 + (strpos('0123456789abcdef', substr(md5('3|' || top.word), 2, 1)) - 1) * 1048576 + (strpos('0123456789abcdef', substr(md5('3|' || top.word), 3, 1)) - 1) * 65536 + (strpos('0123456789abcdef', substr(md5('3|' || top.word), 4, 1)) - 1) * 4096 + (strpos('0123456789abcdef', substr(md5('3|' || top.word), 5, 1)) - 1) * 256 + (strpos('0123456789abcdef', substr(md5('3|' || top.word), 6, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(md5('3|' || top.word), 7, 1)) - 1) * 1) % 256)
  ) as bigint) as est_cnt
from top
"""

QUERIES["cms_word_counts"] = q_cms_word_counts
ORACLES["cms_word_counts"] = O_CMS_WORD_COUNTS



# --- mixture materialization: plan -> per-epoch rows ---------------------------

def q_mixture_apply(spark, sf_dir):
    """Materialize the src0x3/src1x2 mixture plan: full epochs per doc
    plus a deterministic md5-bucket slice for the fractional epoch.
    Broadcast plan join + per-row sequence explode — no data-sized
    shuffle."""
    from ..functions import corpus as cx

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = cx.mixture_plan(docs, weights={"src0": 3, "src1": 2})
    return cx.apply_mixture(docs, plan)


O_MIXTURE_APPLY = """
with per as (
  select source, cast(count(*) as bigint) as n_docs,
    cast(sum(len(regexp_split_to_array(trim(text), '\\s+'))) as bigint) as tokens
  from documents group by 1
),
w as (
  select *, cast(case source when 'src0' then 3 when 'src1' then 2 else 1 end as bigint) as weight
  from per
),
t as (select cast(sum(tokens) as bigint) as total_tokens, cast(sum(weight) as bigint) as total_weight from w),
pl as (select source, t.total_tokens * weight as num, tokens * t.total_weight as den from w, t),
d as (
  select doc_id, documents.source, num, den, num // den as full_e, num % den as rem
  from documents join pl using (source)
),
h as (select *, ((strpos('0123456789abcdef', substr(md5(cast(doc_id as varchar)), 1, 1)) - 1) * 16777216 + (strpos('0123456789abcdef', substr(md5(cast(doc_id as varchar)), 2, 1)) - 1) * 1048576 + (strpos('0123456789abcdef', substr(md5(cast(doc_id as varchar)), 3, 1)) - 1) * 65536 + (strpos('0123456789abcdef', substr(md5(cast(doc_id as varchar)), 4, 1)) - 1) * 4096 + (strpos('0123456789abcdef', substr(md5(cast(doc_id as varchar)), 5, 1)) - 1) * 256 + (strpos('0123456789abcdef', substr(md5(cast(doc_id as varchar)), 6, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(md5(cast(doc_id as varchar)), 7, 1)) - 1) * 1) % 10000 as bucket from d),
n as (
  select doc_id, source,
    full_e + case when bucket * den < rem * 10000 then 1 else 0 end as n_rep
  from h
)
select doc_id, source, cast(unnest(range(1, n_rep + 1)) as bigint) as epoch from n
"""

QUERIES["mixture_apply"] = q_mixture_apply
ORACLES["mixture_apply"] = O_MIXTURE_APPLY



# --- linear probabilistic distinct counting ------------------------------------

def q_distinct_sketch(spark, sf_dir):
    """Linear counting bitmap over corpus words (m=4096) next to the
    exact distinct count: (m, occupied, empty, distinct_true) — integers
    only, engine-exact; consumers apply -m*ln(empty/m). The bitmap
    shuffle is O(partitions * m), cardinality-independent."""
    from ..functions import sketch
    from ..functions.repetition import normalized_words

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    words = _fan(docs).select(F.explode(normalized_words("text")).alias("word"))
    lc = sketch.linear_counting(words, "word", m=4096)
    truth = words.agg(F.count_distinct("word").cast("long").alias("distinct_true"))
    return lc.crossJoin(truth)


O_DISTINCT_SKETCH = """
with wq as (
  select unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) as word
  from documents
),
slots as (select distinct ((strpos('0123456789abcdef', substr(md5('0|' || word), 1, 1)) - 1) * 16777216 + (strpos('0123456789abcdef', substr(md5('0|' || word), 2, 1)) - 1) * 1048576 + (strpos('0123456789abcdef', substr(md5('0|' || word), 3, 1)) - 1) * 65536 + (strpos('0123456789abcdef', substr(md5('0|' || word), 4, 1)) - 1) * 4096 + (strpos('0123456789abcdef', substr(md5('0|' || word), 5, 1)) - 1) * 256 + (strpos('0123456789abcdef', substr(md5('0|' || word), 6, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(md5('0|' || word), 7, 1)) - 1) * 1) % 4096 as slot from wq),
lc as (
  select cast(4096 as bigint) as m,
    cast(count(*) as bigint) as occupied,
    cast(4096 - count(*) as bigint) as empty
  from slots
),
t as (select cast(count(distinct word) as bigint) as distinct_true from wq)
select m, occupied, empty, distinct_true from lc, t
"""

QUERIES["distinct_sketch"] = q_distinct_sketch
ORACLES["distinct_sketch"] = O_DISTINCT_SKETCH



# --- incremental-ingestion dedup: new batch vs existing corpus ------------------

def q_dedup_incremental(spark, sf_dir):
    """Flag each odd-doc_id (NEW) document that exactly or near-matches
    the even-doc_id (EXISTING) half: exact = left-semi on md5(normalized
    text); near = left-semi on MinHash LSH band keys (8 hashes, 4 bands).
    The daily-ingest path — never reprocesses the reference corpus."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ref = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    return dedup.dedup_against(new, ref, num_hashes=8, bands=4)


O_DEDUP_INCREMENTAL = f"""
with {_SHINGLE_SQL},
base as (select doc_id, doc_id % 2 = 0 as is_ref from documents),
fp as (
  select doc_id, doc_id % 2 = 0 as is_ref,
    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) as fpv
  from documents
),
reffp as (select distinct fpv from fp where is_ref),
exact as (
  select doc_id, true as exact_dup from fp
  where not is_ref and fpv in (select fpv from reffp)
),
sigs as (
  select doc_id as id,
    min(md5('0|' || shingle)) as sig_0,
    min(md5('1|' || shingle)) as sig_1,
    min(md5('2|' || shingle)) as sig_2,
    min(md5('3|' || shingle)) as sig_3,
    min(md5('4|' || shingle)) as sig_4,
    min(md5('5|' || shingle)) as sig_5,
    min(md5('6|' || shingle)) as sig_6,
    min(md5('7|' || shingle)) as sig_7
  from shingled group by doc_id
),
banded as (
  select id,
    '0:' || md5(sig_0 || '#' || sig_1) as band_0,
    '1:' || md5(sig_2 || '#' || sig_3) as band_1,
    '2:' || md5(sig_4 || '#' || sig_5) as band_2,
    '3:' || md5(sig_6 || '#' || sig_7) as band_3
  from sigs
),
melted as (select id, unnest([band_0, band_1, band_2, band_3]) as band_key from banded),
refb as (
  select distinct band_key from melted m join base b on b.doc_id = m.id where b.is_ref
),
near as (
  select distinct m.id as doc_id, true as near_dup
  from melted m join base b on b.doc_id = m.id join refb using (band_key)
  where not b.is_ref
)
select b.doc_id,
  coalesce(e.exact_dup, false) as exact_dup,
  coalesce(n.near_dup, false) as near_dup
from base b
left join exact e using (doc_id)
left join near n using (doc_id)
where not b.is_ref
"""

QUERIES["dedup_incremental"] = q_dedup_incremental
ORACLES["dedup_incremental"] = O_DEDUP_INCREMENTAL



# --- shuffle-key skew diagnostics ----------------------------------------------

def q_key_skew_report(spark, sf_dir):
    """Top-10 hottest conversations by turn count with integer ppm shares
    — the pre-flight probe that decides whether a key needs the
    operators/skew.py chunked path before any window/join on it."""
    from .. import validation as val

    t = transcripts_from_events(spark, sf_dir)
    return val.key_skew_report(t, "conv_id", top_k=10)


O_KEY_SKEW_REPORT = f"""
{_W},
cnt as (select cast(conv_id as varchar) as key, cast(count(*) as bigint) as cnt from transcripts group by 1),
tot as (select cast(sum(cnt) as bigint) as total_rows, cast(count(*) as bigint) as n_keys from cnt),
top as (
  select key, cnt, row_number() over (order by cnt desc, key) as rank
  from cnt order by cnt desc, key limit 10
)
select cast(rank as bigint) as rank, key, cnt, tot.total_rows, tot.n_keys,
  cast((cnt * 1000000) // tot.total_rows as bigint) as share_ppm
from top, tot
"""

QUERIES["key_skew_report"] = q_key_skew_report
ORACLES["key_skew_report"] = O_KEY_SKEW_REPORT



# --- corpus snapshot diff ------------------------------------------------------

def q_corpus_diff(spark, sf_dir):
    """Diff two deterministic corpus versions: v_old = docs with
    doc_id % 7 != 0 (plus doc_id % 5 == 0 docs with a marker suffix),
    v_new = all docs unmodified. Yields all four statuses; only the
    added+changed slice feeds incremental reprocessing."""
    from ..functions import corpus as cx

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    old = docs.filter(F.col("doc_id") % 7 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" legacy marker"))
        ).otherwise(F.col("text")),
    )
    return cx.corpus_diff(old, docs)


O_CORPUS_DIFF = """
with old as (
  select doc_id,
    case when doc_id % 5 = 0 then text || ' legacy marker' else text end as text
  from documents where doc_id % 7 <> 0
),
ofp as (select doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) as old_fp from old),
nfp as (select doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) as new_fp from documents)
select coalesce(ofp.doc_id, nfp.doc_id) as doc_id,
  case when ofp.doc_id is null then 'added'
       when nfp.doc_id is null then 'removed'
       when old_fp = new_fp then 'unchanged'
       else 'changed' end as status
from ofp full outer join nfp on ofp.doc_id = nfp.doc_id
"""

QUERIES["corpus_diff"] = q_corpus_diff
ORACLES["corpus_diff"] = O_CORPUS_DIFF


# --- broadcast Bloom-filter decontamination probe -------------------------------

def _hex7_of(expr: str) -> str:
    """First 7 hex chars of md5-hex SQL expression ``expr`` as an integer
    (DuckDB twin of functions/sketch._cms_bucket; same nibble chain as
    _HEX7 but over an arbitrary expression)."""
    return " + ".join(
        f"(strpos('0123456789abcdef', substr({expr}, {i + 1}, 1)) - 1) * {16 ** (6 - i)}"
        for i in range(7)
    )


def q_bloom_contamination(spark, sf_dir):
    """Flag documents whose normalized-text fingerprint may be in a
    benchmark set (docs with doc_id % 91 == 0) via a 256-bit / 3-hash
    Bloom filter, alongside the exact answer so the false-positive rate
    is observable. Plan: 3 broadcast joins against the tiny bit table +
    1 broadcast join for the exact twin — the probe stream is never
    shuffled. This is the 100-TB decontamination shape: the benchmark
    bitmap always fits in a broadcast."""
    from ..functions import sketch
    from ..operators.dedup import normalize_text

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fp = F.md5(normalize_text("text"))
    probe = docs.select("doc_id", fp.alias("fp"))
    bench = docs.filter(F.col("doc_id") % 91 == 0).select(fp.alias("fp")).distinct()
    bits = sketch.bloom_bits(bench, "fp", num_hashes=3, num_bits=256)
    out = sketch.bloom_probe(probe, "fp", bits, num_hashes=3, num_bits=256)
    exact = F.broadcast(bench.withColumn("_ex", F.lit(1)))
    return (
        out.join(exact, "fp", "left")
        .select(
            "doc_id",
            "maybe_member",
            F.col("_ex").isNotNull().alias("exact_member"),
        )
    )


_BLOOM_POS = {
    i: f"(({_hex7_of(f'''md5('{i}|' || fp)''')}) % 256)" for i in range(3)
}

O_BLOOM_CONTAMINATION = f"""
with n as (
  select doc_id,
    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) as fp
  from documents
),
bench as (select distinct fp from n where doc_id % 91 = 0),
bits as (
  select distinct pos from (
    select {_BLOOM_POS[0]} as pos from bench
    union all select {_BLOOM_POS[1]} from bench
    union all select {_BLOOM_POS[2]} from bench
  )
)
select doc_id,
  ({_BLOOM_POS[0]} in (select pos from bits)
   and {_BLOOM_POS[1]} in (select pos from bits)
   and {_BLOOM_POS[2]} in (select pos from bits)) as maybe_member,
  fp in (select fp from bench) as exact_member
from n
"""

QUERIES["bloom_contamination"] = q_bloom_contamination
ORACLES["bloom_contamination"] = O_BLOOM_CONTAMINATION


# --- integer PageRank over the word-transition bucket graph ----------------------

def q_word_graph_pagerank(spark, sf_dir):
    """Weighted PageRank (3 iterations, damping 17/20) over the 16-node
    consecutive-word bucket transition digraph, computed entirely in
    int64 micro-units (floor division everywhere) so the result is
    engine-exact. Edge extraction is one partial-aggregable groupBy whose
    output is <= 256 rows regardless of corpus size; each iteration is
    one join + one groupBy over that fixed-size edge table."""
    from ..functions import graph

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    edges = graph.word_transition_edges(docs, buckets=16)
    return graph.pagerank_int(edges, iterations=3)


def _pagerank_oracle() -> str:
    ba = f"(({_hex7_of('md5(a)')}) % 16)"
    bb = f"(({_hex7_of('md5(b)')}) % 16)"
    it = """,
r{t} as (
  select n.node,
    (1000000 * 3) // (20 * (select nn from ncnt))
      + (17 * coalesce(s.c_sum, 0)) // 20 as rank_micro
  from nodes n left join (
    select e.dst as node, sum((r.rank_micro * e.w) // o.out_w) as c_sum
    from edges e
    join r{p} r on r.node = e.src
    join outw o on o.src = e.src
    group by 1
  ) s using (node)
)"""
    return f"""
with d as (
  select string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') as w
  from documents
),
tr as (
  select unnest(w[1:len(w)-1]) as a, unnest(w[2:len(w)]) as b from d
),
eb as (
  select printf('wb%02d', {ba}) as src,
         printf('wb%02d', {bb}) as dst
  from tr
),
edges as (select src, dst, cast(count(*) as bigint) as w from eb group by 1, 2),
nodes as (select src as node from edges union select dst from edges),
ncnt as (select count(*) as nn from nodes),
outw as (select src, sum(w) as out_w from edges group by 1),
r0 as (select node, 1000000 // (select nn from ncnt) as rank_micro from nodes)
{it.format(t=1, p=0)}{it.format(t=2, p=1)}{it.format(t=3, p=2)}
select node, cast(rank_micro as bigint) as rank_micro from r3
"""


QUERIES["word_graph_pagerank"] = q_word_graph_pagerank
ORACLES["word_graph_pagerank"] = _pagerank_oracle()


# --- Z-order (Morton) layout curve ----------------------------------------------

def q_zorder_curve(spark, sf_dir):
    """Morton code over (user_id, event time) for Z-order file clustering
    — the multi-column file-skipping layout (Delta/Iceberg's OPTIMIZE
    ZORDER BY, here a plain DataFrame transform; operators/layout.py).
    Integer-only: one tiny min/max aggregate broadcast, then
    ``((x-mn)*255) div range`` bucketing and a shift/or interleave chain,
    all inside whole-stage codegen — engine-exact by construction."""
    from ..operators import layout
    from ..operators.ordering import epoch_us

    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_id", "user_id", epoch_us("ts").alias("ts_us"))
    )
    return layout.with_zvalue(ev, ["user_id", "ts_us"], bits=8).select(
        "event_id", "zvalue"
    )


def _zorder_oracle() -> str:
    def interleave(b: str, lane: int) -> str:
        return " | ".join(
            f"((({b} >> {j}) & 1) << {j * 2 + lane})" for j in range(8)
        )

    return f"""
with s as (
  select min(user_id) as mnu, max(user_id) as mxu,
         min(epoch_us(ts)) as mnt, max(epoch_us(ts)) as mxt
  from events
),
b as (
  select event_id,
    ((user_id - mnu) * 255) // greatest(mxu - mnu, 1) as bu,
    ((epoch_us(ts) - mnt) * 255) // greatest(mxt - mnt, 1) as bt
  from events, s
)
select event_id,
  cast(({interleave('bu', 0)}) | ({interleave('bt', 1)}) as bigint) as zvalue
from b
"""


QUERIES["zorder_curve"] = q_zorder_curve
ORACLES["zorder_curve"] = _zorder_oracle()


# --- ordered-step funnel ---------------------------------------------------------

def q_funnel(spark, sf_dir):
    """3-step ordered funnel (user -> assistant -> tool result, each step
    within 6 turns of the previous) per conversation — ClickHouse
    windowFunnel / MATCH_RECOGNIZE analog via chained min-case windows
    that all share ONE unordered hash partition (operators/sequence.funnel;
    single exchange, zero sorts, no UDF)."""
    from ..operators.sequence import funnel

    t = transcripts_from_events(spark, sf_dir)
    out = funnel(
        t,
        CFG,
        steps=[
            F.col("role") == "user",
            F.col("role") == "assistant",
            F.col("role") == "tool",
        ],
        max_gap=6,
    )
    return out.select(
        "conv_id", "step1_turn", "step2_turn", "step3_turn", "funnel_depth"
    )


O_FUNNEL = f"""{_W},
s1 as (
  select conv_id,
    min(turn_idx) filter (where role = 'user') as step1_turn
  from transcripts group by 1
),
s2 as (
  select t.conv_id,
    min(t.turn_idx) filter (
      where t.role = 'assistant'
        and t.turn_idx > s1.step1_turn
        and t.turn_idx <= s1.step1_turn + 6
    ) as step2_turn
  from transcripts t join s1 using (conv_id) group by 1
),
s3 as (
  select t.conv_id,
    min(t.turn_idx) filter (
      where t.role = 'tool'
        and t.turn_idx > s2.step2_turn
        and t.turn_idx <= s2.step2_turn + 6
    ) as step3_turn
  from transcripts t join s2 using (conv_id) group by 1
)
select s1.conv_id, step1_turn, step2_turn, step3_turn,
  cast((step1_turn is not null)::int + (step2_turn is not null)::int
       + (step3_turn is not null)::int as int) as funnel_depth
from s1 join s2 using (conv_id) join s3 using (conv_id)
"""

QUERIES["funnel"] = q_funnel
ORACLES["funnel"] = O_FUNNEL


# --- cohort retention matrix -----------------------------------------------------

def q_cohort_retention_calendar(spark, sf_dir):
    """CALENDAR-week cohort retention over the events log (the date-typed sibling of the epoch-bucket cohort_retention — was silently shadowed by it in the registry until the duplicate-key guard caught it): users bucketed by
    first-activity week, active-user counts per week offset. All-integer
    date arithmetic; one user-keyed shuffle + a cohort-matrix-sized
    aggregate (functions/corpus.cohort_retention)."""
    from ..functions.corpus import cohort_retention

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return cohort_retention(ev, "user_id", "ts", unit_days=7).select(
        F.col("cohort").cast("string").alias("cohort"),
        F.col("offset").alias("week_offset"),
        "active_users",
    )


O_COHORT_RETENTION_CALENDAR = """
with f as (
  select user_id, min(cast(ts as date)) as first_day
  from events group by 1
),
c as (
  select user_id,
    date '1970-01-01'
      + cast((datediff('day', date '1970-01-01', first_day) // 7) * 7 as int) as cohort
  from f
),
pu as (
  select distinct e.user_id, c.cohort,
    datediff('day', c.cohort, cast(e.ts as date)) // 7 as wk_off
  from events e join c using (user_id)
)
select cast(cohort as varchar) as cohort, cast(wk_off as int) as week_offset,
  cast(count(*) as bigint) as active_users
from pu group by 1, 2
"""

QUERIES["cohort_retention_calendar"] = q_cohort_retention_calendar
ORACLES["cohort_retention_calendar"] = O_COHORT_RETENTION_CALENDAR


# --- length-bucketed dynamic batching --------------------------------------------

def q_length_batches(spark, sf_dir):
    """Padding-efficient batch assembly: token-length buckets x md5
    shards, fixed-size batches in deterministic md5 order
    (functions/corpus.length_bucketed_batches). The (bucket, shard)
    sharding keeps every window partition bounded at corpus scale."""
    from ..functions.corpus import length_bucketed_batches

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return length_bucketed_batches(
        docs, batch_size=8, bucket_bounds=(16, 64, 256), n_shards=4
    )


O_LENGTH_BATCHES = f"""
with t as (
  select doc_id,
    len(regexp_split_to_array(trim(text), '\\s+')) as tokens,
    md5(cast(doc_id as varchar)) as h
  from documents
),
b as (
  select doc_id, cast(tokens as bigint) as tokens,
    cast((tokens > 16)::int + (tokens > 64)::int + (tokens > 256)::int as int) as bucket,
    cast(({_HEX7}) % 4 as int) as shard,
    h as ord
  from t
)
select doc_id, tokens, bucket, shard,
  cast((row_number() over (partition by bucket, shard order by ord, doc_id) - 1) // 8
       as int) as batch_idx
from b
"""

QUERIES["length_batches"] = q_length_batches
ORACLES["length_batches"] = O_LENGTH_BATCHES


# --- cross-split leakage report --------------------------------------------------

def q_split_leakage(spark, sf_dir):
    """Train/val/test contamination: documents split by md5 doc-id bucket
    (70/15/15), fingerprinted by normalized text; report counts distinct
    fingerprints shared by each split pair (validation.split_leakage_report
    — digest-only shuffles, |splits|^2-row output)."""
    from ..operators.dedup import normalize_text
    from ..validation import split_leakage_report

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 7), 16, 10)
        .cast("long") % 10_000
    )
    # fingerprint on the 6-word normalized prefix (the cheap near-dup key a
    # leakage scan uses) rather than the full text, so shared content is
    # actually observable at test SFs — full-text md5 yields an empty (and
    # therefore vacuous) report on this corpus
    prefix_fp = F.md5(
        F.concat_ws(" ", F.slice(F.split(normalize_text("text"), " "), 1, 6))
    )
    tagged = docs.select(
        prefix_fp.alias("fp"),
        F.when(bucket < 7000, "train")
        .when(bucket < 8500, "val")
        .otherwise("test")
        .alias("split"),
    )
    return split_leakage_report(tagged)


O_SPLIT_LEAKAGE = f"""
with h as (
  select md5(array_to_string(
           (string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '))[1:6],
           ' ')) as fp,
         md5(cast(doc_id as varchar)) as h
  from documents
),
t as (
  select fp,
    case when ({_HEX7}) % 10000 < 7000 then 'train'
         when ({_HEX7}) % 10000 < 8500 then 'val'
         else 'test' end as split
  from h
),
d as (select distinct fp, split from t)
select a.split as split_a, b.split as split_b,
  cast(count(distinct a.fp) as bigint) as shared_fps
from d a join d b on a.fp = b.fp and a.split < b.split
group by 1, 2
"""

QUERIES["split_leakage"] = q_split_leakage
ORACLES["split_leakage"] = O_SPLIT_LEAKAGE


# --- contrastive negative sampling -----------------------------------------------

def q_contrastive_negatives(spark, sf_dir):
    """Deterministic k=3 negative sampling over 32 hash buckets
    (functions/corpus.contrastive_negatives): tiny representative table
    broadcast, corpus side never shuffled."""
    from ..functions.corpus import contrastive_negatives

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return contrastive_negatives(docs, "doc_id", k=3, n_buckets=32)


def _contrastive_oracle() -> str:
    seed_b = {
        i: f"(({_hex7_of(f'''md5('{i}|' || cast(doc_id as varchar))''')}) % 32)"
        for i in range(3)
    }
    probes = "\nunion all\n".join(
        f"select doc_id, {i} as neg_rank, {seed_b[i]} as b from documents"
        for i in range(3)
    )
    return f"""
with reps as (
  select ({_HEX7}) % 32 as b, min(doc_id) as neg_id
  from (select doc_id, md5(cast(doc_id as varchar)) as h from documents)
  group by 1
),
p as ({probes})
select p.doc_id, cast(p.neg_rank as int) as neg_rank, r.neg_id
from p join reps r using (b)
where p.doc_id <> r.neg_id
"""


QUERIES["contrastive_negatives"] = q_contrastive_negatives
ORACLES["contrastive_negatives"] = _contrastive_oracle()


# --- SCD2 point-in-time enrichment -----------------------------------------------

def q_scd2_enrich(spark, sf_dir):
    """Point-in-time join against a slowly-changing dimension built from
    the events log (per-user daily activity versions, valid_from/valid_to
    chained by lead()): every event is enriched with the dimension version
    valid AT its timestamp — zero temporal leakage by construction
    (operators/asof.scd2_enrich: as-of merge shape, ONE shuffle + sort,
    never a ts-range theta join). Oracle uses the equivalent interval-
    containment join."""
    from pyspark.sql import Window

    from ..operators.asof import scd2_enrich

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    day = F.date_trunc("day", F.col("ts"))
    w = Window.partitionBy("user_id").orderBy("valid_from")
    dim = (
        ev.groupBy("user_id", day.alias("valid_from"))
        .agg(F.count(F.lit(1)).cast("long").alias("day_events"))
        .withColumn("valid_to", F.lead("valid_from").over(w))
    )
    out = scd2_enrich(ev, dim, key="user_id", ts="ts")
    return out.select(
        "event_id", "user_id", F.col("day_events_dim").alias("day_events")
    )


O_SCD2_ENRICH = """
with e as (
  select event_id, user_id, cast(ts as timestamp) as ts from events
),
v as (
  select user_id, date_trunc('day', ts) as valid_from,
         cast(count(*) as bigint) as day_events
  from e group by 1, 2
),
dim as (
  select user_id, valid_from, day_events,
         lead(valid_from) over (partition by user_id order by valid_from) as valid_to
  from v
)
select e.event_id, e.user_id, d.day_events
from e join dim d
  on e.user_id = d.user_id
 and e.ts >= d.valid_from
 and (d.valid_to is null or e.ts < d.valid_to)
"""

QUERIES["scd2_enrich"] = q_scd2_enrich
ORACLES["scd2_enrich"] = O_SCD2_ENRICH


# --- salted skew-safe join -------------------------------------------------------

def q_salted_join(spark, sf_dir):
    """Skew-safe salted equi join (operators/skew.salted_join): events
    (big, hot user keys) joined to per-user event counts (small dim,
    replicated x4) on (user_id, salt). The oracle is the PLAIN join —
    salting must not change a single row."""
    from ..operators.skew import salted_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "event_type"
    )
    dim = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("user_events")
    )
    out = salted_join(ev, dim, key="user_id", row_col="event_id", n_salt=4)
    return out.select("event_id", "user_id", "event_type", "user_events")


O_SALTED_JOIN = """
with dim as (
  select user_id, cast(count(*) as bigint) as user_events
  from events group by 1
)
select e.event_id, e.user_id, e.event_type, d.user_events
from events e join dim d using (user_id)
"""

QUERIES["salted_join"] = q_salted_join
ORACLES["salted_join"] = O_SALTED_JOIN


# --- group-aware k-fold ----------------------------------------------------------

def q_group_kfold(spark, sf_dir):
    """5-fold group-aware CV assignment (batch.group_kfold): per-fold conv
    and turn counts plus the no-straddle proof (max distinct folds per
    conv == 1, asserted in-result like group_hash_split)."""
    from ..batch import group_kfold

    t = transcripts_from_events(spark, sf_dir)
    s = group_kfold(t, CFG, k=5)
    per_conv = s.groupBy("conv_id").agg(
        F.count_distinct("fold").alias("_nf"),
        F.first("fold").alias("fold"),
        F.count(F.lit(1)).alias("_turns"),
    )
    return per_conv.groupBy("fold").agg(
        F.count(F.lit(1)).cast("long").alias("n_convs"),
        F.sum("_turns").cast("long").alias("n_turns"),
        F.max("_nf").cast("long").alias("max_folds_per_conv"),
    )


O_GROUP_KFOLD = f"""{_W},
h as (
  select conv_id, md5(conv_id) as h, count(*) as n_turns
  from transcripts group by 1
),
f as (select conv_id, n_turns, cast(({_HEX7}) % 5 as int) as fold from h)
select fold, cast(count(*) as bigint) as n_convs,
  cast(sum(n_turns) as bigint) as n_turns,
  cast(1 as bigint) as max_folds_per_conv
from f group by 1
"""

QUERIES["group_kfold"] = q_group_kfold
ORACLES["group_kfold"] = O_GROUP_KFOLD


# --- CDC merge-apply -------------------------------------------------------------

def q_cdc_apply(spark, sf_dir):
    """Lakehouse MERGE semantics (operators/cdc.apply_cdc): a per-user
    snapshot built from non-multiple-of-3 events is folded with a change
    stream (events with event_id % 3 == 0; op=D on 'error' events, else
    upsert; seq = event_id). One union + one keyed max-seq window — no
    join. Latest change wins; deletes drop the key."""
    from ..operators.cdc import apply_cdc
    from ..operators.ordering import epoch_us

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    base = (
        ev.filter(F.col("event_id") % 3 != 0)
        .groupBy("user_id")
        .agg(F.max(epoch_us("ts")).alias("attr_us"))
    )
    changes = ev.filter(F.col("event_id") % 3 == 0).select(
        "user_id",
        F.col("event_id").alias("seq"),
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
        epoch_us("ts").alias("attr_us"),
    )
    return apply_cdc(base, changes, key="user_id")


O_CDC_APPLY = """
with base as (
  select user_id, cast(-1 as bigint) as seq, 'I' as op,
         max(epoch_us(ts)) as attr_us
  from events where event_id % 3 <> 0 group by user_id
),
chg as (
  select user_id, cast(event_id as bigint) as seq,
         case when event_type = 'error' then 'D' else 'U' end as op,
         epoch_us(ts) as attr_us
  from events where event_id % 3 = 0
),
layered as (select * from base union all select * from chg),
latest as (
  select *, row_number() over (
    partition by user_id order by seq desc, op desc, attr_us desc
  ) as rn
  from layered
)
select user_id, attr_us from latest where rn = 1 and op <> 'D'
"""

QUERIES["cdc_apply"] = q_cdc_apply
ORACLES["cdc_apply"] = O_CDC_APPLY


# --- winnowing fingerprints ------------------------------------------------------

def q_winnow_fingerprints(spark, sf_dir):
    """Winnowing (MOSS) local fingerprints: 3-gram hashes, window-of-4
    minima (operators/dedup.winnow_fingerprints — all array HOFs, no
    shuffle before the final distinct). Shared >= 6-word runs between
    docs are guaranteed to share a fingerprint."""
    from ..operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.winnow_fingerprints(docs, k=3, w=4).select(
        F.col("id").alias("doc_id"), "fp"
    )


_WINNOW_GRAM_H = _hex7_of("md5(array_to_string(ws[i : i + 2], ' '))")
_WINNOW_TEXT_H = _hex7_of(
    "md5(regexp_replace(lower(trim(d.text)), '" + "\\s+" + "', ' ', 'g'))"
)

O_WINNOW = f"""
with wds as (
  select doc_id,
    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') as ws
  from documents
),
g0 as (select doc_id, ws, len(ws) as nw from wds),
g as (
  select doc_id, unnest(range(1, nw - 1)) as i, ws
  from g0 where nw >= 3
),
gr as (
  select doc_id, i,
    ({_WINNOW_GRAM_H}) as h
  from g
),
cnt as (select doc_id, count(*) as n_g from gr group by 1),
win as (
  select gr.doc_id, gr.i,
    min(h) over (partition by gr.doc_id order by gr.i
                 rows between 3 preceding and current row) as mh
  from gr
),
long_docs as (
  select distinct w.doc_id, w.mh as fp
  from win w join cnt using (doc_id)
  where cnt.n_g >= 4 and w.i >= 4
),
short_docs as (
  select gr.doc_id, min(h) as fp
  from gr join cnt using (doc_id)
  where cnt.n_g between 1 and 3
  group by gr.doc_id
),
no_grams as (
  select d.doc_id,
    ({_WINNOW_TEXT_H}) as fp
  from documents d left join cnt on d.doc_id = cnt.doc_id
  where cnt.doc_id is null
)
select doc_id, cast(fp as bigint) as fp from long_docs
union all select doc_id, cast(fp as bigint) from short_docs
union all select doc_id, cast(fp as bigint) from no_grams
"""

QUERIES["winnow_fingerprints"] = q_winnow_fingerprints
ORACLES["winnow_fingerprints"] = O_WINNOW


def q_winnow_pairs(spark, sf_dir):
    """Near-dup candidates from shared winnowing fingerprints (>= 2
    shared, hot-fp cap 1000): integer-digest equi self-join + pair
    count, the MOSS match report."""
    from ..operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.winnow_candidate_pairs(docs, k=3, w=4, min_shared=2)


O_WINNOW_PAIRS = f"""
with fps as ({O_WINNOW.strip()}),
d as (select distinct doc_id, fp from fps),
f as (
  select d.* from d
  join (select fp from d group by fp having count(*) <= 1000) ok using (fp)
)
select a.doc_id as id_a, b.doc_id as id_b,
  cast(count(*) as bigint) as shared_fps
from f a join f b on a.fp = b.fp and a.doc_id < b.doc_id
group by 1, 2
having count(*) >= 2
"""

QUERIES["winnow_pairs"] = q_winnow_pairs
ORACLES["winnow_pairs"] = O_WINNOW_PAIRS


def q_winnow_clusters(spark, sf_dir):
    """Local-fingerprint dup clusters: winnowing candidate pairs ->
    min-label connected components — the third clustering family
    (alongside MinHash-LSH and embedding near-dup) over the same CC
    machinery."""
    from ..operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = dedup.winnow_candidate_pairs(docs, k=3, w=4, min_shared=2).select(
        F.col("id_a"), F.col("id_b")
    )
    cc = dedup.connected_components(pairs)
    return cc.select(
        F.col("id").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


def _winnow_clusters_oracle() -> str:
    body = O_WINNOW.strip()
    assert body.startswith("with")
    body = body[len("with"):]
    cut = body.rindex("select doc_id, cast(fp as bigint) as fp from long_docs")
    ctes, final_select = body[:cut].rstrip(), body[cut:]
    assert ctes.endswith(")")
    return f"""
with recursive {ctes},
fps as ({final_select}),
d as (select distinct doc_id, fp from fps),
f as (
  select d.* from d
  join (select fp from d group by fp having count(*) <= 1000) ok using (fp)
),
pairs as (
  select a.doc_id as id_a, b.doc_id as id_b
  from f a join f b on a.fp = b.fp and a.doc_id < b.doc_id
  group by 1, 2
  having count(*) >= 2
),
sym as (
  select id_a as src, id_b as dst from pairs
  union
  select id_b as src, id_a as dst from pairs
),
reach(src, dst) as (
  select src, dst from sym
  union
  select r.src, s.dst from reach r join sym s on r.dst = s.src
)
select src as doc_id, cast(least(src, min(dst)) as bigint) as cluster_id
from reach group by src
"""


QUERIES["winnow_clusters"] = q_winnow_clusters
ORACLES["winnow_clusters"] = _winnow_clusters_oracle()


# --- recency-weighted activity ---------------------------------------------------

def q_recency_scores(spark, sf_dir):
    """Per-user exponential-decay engagement score at corpus max-T
    (half-life 1 day): one pow+sum pass, broadcast max-T anchor
    (operators/state.recency_weighted_counts)."""
    from ..operators.state import recency_weighted_counts

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = recency_weighted_counts(ev, "user_id", "ts", half_life_s=86_400.0)
    return out.select(
        "user_id", "n_events", _r6x(F.col("recency_score"), "recency_score")
    )


O_RECENCY_SCORES = f"""
with m as (select max(epoch_us(ts)) as tmax from events)
select user_id,
  cast(count(*) as bigint) as n_events,
  {_r6x_sql("sum(power(0.5, (m.tmax - epoch_us(ts)) / 86400000000.0))")} as recency_score
from events, m
group by user_id
"""

QUERIES["recency_scores"] = q_recency_scores
ORACLES["recency_scores"] = O_RECENCY_SCORES


# --- GROUPING SETS report --------------------------------------------------------

def q_grouping_sets(spark, sf_dir):
    """Multi-grain aggregate in one pass via GROUPING SETS ((type, lang-
    analog), (type), (lang), ()) over events — Spark SQL surface parity
    with the warehouse idiom (rollup/pivot siblings already covered)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.createOrReplaceTempView("ev_gs")
    return spark.sql("""
        select event_type,
               cast(user_id % 5 as int) as user_band,
               cast(count(*) as long) as n,
               cast(grouping(event_type) as int) as g_type,
               cast(grouping(user_id % 5) as int) as g_band
        from ev_gs
        group by grouping sets ((event_type, user_id % 5), (event_type),
                                (user_id % 5), ())
    """)


O_GROUPING_SETS = """
select event_type,
       cast(user_id % 5 as int) as user_band,
       cast(count(*) as bigint) as n,
       cast(grouping(event_type) as int) as g_type,
       cast(grouping(user_id % 5) as int) as g_band
from events
group by grouping sets ((event_type, user_id % 5), (event_type),
                        (user_id % 5), ())
"""

QUERIES["grouping_sets"] = q_grouping_sets
ORACLES["grouping_sets"] = O_GROUPING_SETS


# --- tool co-usage graph ---------------------------------------------------------

def q_tool_cousage(spark, sf_dir):
    """Tool co-usage edge list: unordered tool pairs used within the same
    conversation, weighted by co-occurring conversations — the bipartite
    (conv x tool) projection every tool-recommendation / workflow-mining
    pass starts from. Distinct (conv, tool) first, so the self-join is
    over the slim deduplicated relation; output is O(|tools|^2)."""
    t = transcripts_from_events(spark, sf_dir)
    d = t.filter(F.col("tool").isNotNull()).select("conv_id", "tool").distinct()
    a = d.select("conv_id", F.col("tool").alias("tool_a"))
    b = d.select("conv_id", F.col("tool").alias("tool_b"))
    return (
        a.join(b, "conv_id")
        .filter(F.col("tool_a") < F.col("tool_b"))
        .groupBy("tool_a", "tool_b")
        .agg(F.count(F.lit(1)).cast("long").alias("convs"))
    )


O_TOOL_COUSAGE = f"""{_W},
d as (
  select distinct conv_id, tool from transcripts where tool is not null
)
select a.tool as tool_a, b.tool as tool_b,
  cast(count(*) as bigint) as convs
from d a join d b on a.conv_id = b.conv_id and a.tool < b.tool
group by 1, 2
"""

QUERIES["tool_cousage"] = q_tool_cousage
ORACLES["tool_cousage"] = O_TOOL_COUSAGE


# --- content-defined chunking ----------------------------------------------------

def q_cdc_chunks(spark, sf_dir):
    """Content-defined chunking (FastCDC-style boundaries at
    md5(word) % 8 == 0): chunk index, word count and chunk digest per
    document — boundaries move WITH content, so an edit only changes the
    chunk containing it (functions/text.cdc_chunk_documents)."""
    from ..functions.text import cdc_chunk_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return cdc_chunk_documents(docs, divisor=8).select(
        F.col("id").alias("doc_id"), "chunk_idx", "n_words", "chunk_md5"
    )


_CDC_WORD_H = _hex7_of("md5(word)")

O_CDC_CHUNKS = f"""
with wds as (
  select doc_id,
    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') as ws
  from documents
),
g as (
  select doc_id, unnest(range(1, len(ws) + 1)) as pos, ws from wds
),
t as (
  select doc_id, pos, ws[pos] as word,
    case when ({_CDC_WORD_H}) % 8 = 0 then 1 else 0 end as bd
  from g
),
c as (
  select doc_id, pos, word,
    coalesce(sum(bd) over (partition by doc_id order by pos
                           rows between unbounded preceding and 1 preceding), 0)
      as chunk_idx
  from t
)
select doc_id, cast(chunk_idx as bigint) as chunk_idx,
  cast(count(*) as bigint) as n_words,
  md5(string_agg(word, ' ' order by pos)) as chunk_md5
from c group by 1, 2
"""

QUERIES["cdc_chunks"] = q_cdc_chunks
ORACLES["cdc_chunks"] = O_CDC_CHUNKS


# --- k-anonymity suppression -----------------------------------------------------

def q_k_anonymize(spark, sf_dir):
    """k-anonymity release gate (k=5) over the (lang, source) quasi-
    identifier pair of the documents table: rare combinations suppressed
    to '*' in both columns (functions/pii.k_anonymize); output counts by
    released tuple prove no group < 5 survives un-suppressed."""
    from ..functions.pii import k_anonymize

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    anon = k_anonymize(docs, ["lang", "source"], k=5)
    return anon.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


O_K_ANONYMIZE = """
with c as (
  select lang, source, count(*) as qn from documents group by 1, 2
),
a as (
  select case when c.qn < 5 then '*' else d.lang end as lang,
         case when c.qn < 5 then '*' else d.source end as source
  from documents d join c using (lang, source)
)
select lang, source, cast(count(*) as bigint) as n_docs
from a group by 1, 2
"""

QUERIES["k_anonymize"] = q_k_anonymize
ORACLES["k_anonymize"] = O_K_ANONYMIZE


# --- span-corruption pretraining targets -----------------------------------------

def q_span_corruption(spark, sf_dir):
    """T5-style span corruption with hash-seeded (reproducible) masking:
    corrupted-input and decoder-target digests per document
    (functions/corpus.span_corruption_targets, mask rate 1/5)."""
    from ..functions.corpus import span_corruption_targets

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return span_corruption_targets(docs).select(
        F.col("id").alias("doc_id"), "input_md5", "target_md5",
        "n_masked", "n_sentinels",
    )


_SPAN_POS_H = _hex7_of("md5(cast(doc_id as varchar) || '|' || cast(pos - 1 as varchar))")

O_SPAN_CORRUPTION = f"""
with wds as (
  select doc_id,
    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') as ws
  from documents
),
g as (
  select doc_id, unnest(range(1, len(ws) + 1)) as pos, ws from wds
),
m as (
  select doc_id, pos, ws[pos] as word,
    case when ({_SPAN_POS_H}) % 5 = 0 then 1 else 0 end as mk
  from g
),
r as (
  select *, case when mk = 1 and coalesce(
      lag(mk) over (partition by doc_id order by pos), 0) = 0
    then 1 else 0 end as rs
  from m
),
sid as (
  select *, sum(rs) over (partition by doc_id order by pos
                          rows between unbounded preceding and current row) as s
  from r
),
tok as (
  select doc_id, pos, mk, s,
    case when mk = 0 then word
         when rs = 1 then '<X' || cast(s as varchar) || '>' end as in_tok,
    case when mk = 1 and rs = 1 then '<X' || cast(s as varchar) || '> ' || word
         when mk = 1 then word end as tgt_tok
  from sid
)
select doc_id,
  md5(string_agg(in_tok, ' ' order by pos) filter (where in_tok is not null)) as input_md5,
  md5(string_agg(tgt_tok, ' ' order by pos) filter (where tgt_tok is not null)) as target_md5,
  cast(sum(mk) as bigint) as n_masked,
  cast(max(s) as bigint) as n_sentinels
from tok group by 1
"""

QUERIES["span_corruption"] = q_span_corruption
ORACLES["span_corruption"] = O_SPAN_CORRUPTION


# --- int8 embedding quantization -------------------------------------------------

def q_quantize_embeddings(spark, sf_dir):
    """Symmetric int8 embedding quantization (4x storage cut for ANN
    corpora): per-vector max-abs scale, floor(x*127/scale + 0.5) lanes
    (operators/similarity.quantize_embeddings_int8). Emitted as vec_id,
    lane index, quantized value + r6x scale — integer lanes make the
    oracle exact."""
    from ..operators.similarity import quantize_embeddings_int8

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = quantize_embeddings_int8(emb)
    return q.select(
        "vec_id",
        F.posexplode("embedding_q8").alias("lane", "q"),
        _r6x(F.col("embedding_q8_scale"), "scale"),
    )


O_QUANTIZE_EMBEDDINGS = f"""
with e as (
  select vec_id, embedding from embeddings
),
s as (
  select vec_id, embedding,
    (select max(abs(cast(u.x as double))) from unnest(embedding) as u(x)) as mx
  from e
),
x as (
  select vec_id, mx, cast(unnest(embedding) as double) as v,
    generate_subscripts(embedding, 1) - 1 as lane
  from s
)
select vec_id, cast(lane as int) as lane,
  cast(case when mx > 0
    then greatest(-127, least(127, floor(v * 127.0 / mx + 0.5)))
    else 0 end as int) as q,
  {_r6x_sql("mx")} as scale
from x
"""

QUERIES["quantize_embeddings"] = q_quantize_embeddings
ORACLES["quantize_embeddings"] = O_QUANTIZE_EMBEDDINGS


# --- feature-label correlation report --------------------------------------------

def q_feature_label_corr(spark, sf_dir):
    """Screening report: Pearson correlation of three integer features
    (char_len, is_user, turn_idx) against the 'next turn invokes a tool'
    label, computed from six int64 sums per feature (one aggregate, no
    corr() builtin — the closed form over integer sums is engine-exact
    until the final _r6x'd quotient). The pre-training feature-screen
    every label pipeline runs before committing GPU time."""
    from pyspark.sql import Window

    t = transcripts_from_events(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    base = t.select(
        F.length("text").cast("long").alias("char_len"),
        (F.col("role") == "user").cast("long").alias("is_user"),
        F.col("turn_idx").cast("long").alias("ti"),
        F.lead(F.col("tool").isNotNull().cast("long")).over(w).alias("y"),
    ).filter(F.col("y").isNotNull())

    feats = {"char_len": "char_len", "is_user": "is_user", "turn_idx": "ti"}
    aggs = [F.count(F.lit(1)).alias("n"), F.sum("y").alias("sy"),
            F.sum(F.col("y") * F.col("y")).alias("syy")]
    for name, c in feats.items():
        aggs += [
            F.sum(c).alias(f"sx_{name}"),
            F.sum(F.col(c) * F.col(c)).alias(f"sxx_{name}"),
            F.sum(F.col(c) * F.col("y")).alias(f"sxy_{name}"),
        ]
    row = base.agg(*aggs)
    outs = []
    for name in feats:
        n, sx, sy = F.col("n"), F.col(f"sx_{name}"), F.col("sy")
        num = n * F.col(f"sxy_{name}") - sx * sy
        den = F.sqrt(
            (n * F.col(f"sxx_{name}") - sx * sx).cast("double")
            * (n * F.col("syy") - sy * sy).cast("double")
        )
        outs.append(
            F.struct(
                F.lit(name).alias("feature"),
                _r6x(num.cast("double") / (den + F.lit(DIVISION_GUARD_EPS)), "corr"),
            )
        )
    return (
        row.select(F.explode(F.array(*outs)).alias("s"))
        .select("s.feature", "s.corr")
    )


def _flc_oracle() -> str:
    feats = {"char_len": "length(text)", "is_user": "(role = 'user')::int",
             "turn_idx": "turn_idx"}
    arms = []
    for name, expr in feats.items():
        corr = _r6x_sql(
            f"(n * sxy_{name} - sx_{name} * sy) / "
            f"(sqrt(cast(n * sxx_{name} - sx_{name} * sx_{name} as double) "
            f"* cast(n * syy - sy * sy as double)) + {DIVISION_GUARD_EPS})"
        )
        arms.append(f"select '{name}' as feature, {corr} as corr from s")
    sums = ",\n    ".join(
        f"sum({e}) as sx_{n}, sum(({e}) * ({e})) as sxx_{n}, sum(({e}) * y) as sxy_{n}"
        for n, e in feats.items()
    )
    return f"""{_W},
b as (
  select length(text) as char_len, (role = 'user')::int as is_user, turn_idx,
    text, role,
    lead((tool is not null)::int) over (partition by conv_id order by turn_idx) as y
  from transcripts
),
f as (select * from b where y is not null),
s as (
  select cast(count(*) as bigint) as n, sum(y) as sy, sum(y * y) as syy,
    {sums}
  from f
)
{" union all ".join(arms)}
"""


QUERIES["feature_label_corr"] = q_feature_label_corr
ORACLES["feature_label_corr"] = _flc_oracle()


# --- source-pair KL divergence ---------------------------------------------------

def q_source_kl(spark, sf_dir):
    """KL divergence between per-source unigram distributions (add-one
    smoothing over the union vocabulary) — the mixture diagnostic that
    tells you how far each source's language is from the others before
    setting sampling weights. One word-count shuffle (partial-agg), a
    V-row self-join per source pair, integer counts until the final
    _r6x'd log-sum."""
    from ..operators.dedup import normalize_text

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    words = docs.select(
        "source", F.explode(F.split(normalize_text("text"), " ")).alias("w")
    )
    cnt = words.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    vocab_v = words.select("w").distinct().count()
    tot = cnt.groupBy("source").agg(F.sum("c").alias("n"))

    # dense (source x union-vocab) smoothed table via cross of sources
    # with the vocab-side counts (left join fills absent words with c=0)
    vocab = words.select("w").distinct()
    sources = tot
    dense = (
        sources.crossJoin(vocab)
        .join(cnt, ["source", "w"], "left")
        .select(
            "source", "w", "n", F.coalesce(F.col("c"), F.lit(0)).alias("c")
        )
    )
    a = dense.select(
        F.col("source").alias("src_a"), "w",
        ((F.col("c") + 1).cast("double") / (F.col("n") + vocab_v)).alias("pa"),
    )
    b = dense.select(
        F.col("source").alias("src_b"), "w",
        ((F.col("c") + 1).cast("double") / (F.col("n") + vocab_v)).alias("pb"),
    )
    return (
        a.join(b, "w")
        .filter(F.col("src_a") != F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(_r6x(F.sum(F.col("pa") * F.log(F.col("pa") / F.col("pb"))), "kl"))
    )


O_SOURCE_KL = f"""
with wds as (
  select source,
    unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) as w
  from documents
),
cnt as (select source, w, count(*) as c from wds group by 1, 2),
vv as (select count(distinct w) as v from wds),
tot as (select source, sum(c) as n from cnt group by 1),
vocab as (select distinct w from wds),
dense as (
  select t.source, vb.w, t.n, coalesce(c.c, 0) as c
  from tot t cross join vocab vb
  left join cnt c on c.source = t.source and c.w = vb.w
),
p as (
  select source, w,
    cast(c + 1 as double) / (n + (select v from vv)) as pr
  from dense
)
select a.source as src_a, b.source as src_b,
  {_r6x_sql("sum(a.pr * ln(a.pr / b.pr))")} as kl
from p a join p b on a.w = b.w and a.source <> b.source
group by 1, 2
"""

QUERIES["source_kl"] = q_source_kl
ORACLES["source_kl"] = O_SOURCE_KL


# --- vocabulary richness report --------------------------------------------------

def q_vocab_richness(spark, sf_dir):
    """Per-source vocabulary richness: token count, distinct vocabulary,
    hapax legomena (words occurring once — the Heaps'-law tail that
    dominates tokenizer vocab decisions), and the largest word's count.
    Pure integer outputs from one word-count shuffle."""
    from ..operators.dedup import normalize_text

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cnt = (
        docs.select("source", F.explode(F.split(normalize_text("text"), " ")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return cnt.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_vocab"),
        F.sum((F.col("c") == 1).cast("long")).cast("long").alias("n_hapax"),
        F.max("c").cast("long").alias("top_word_count"),
    )


O_VOCAB_RICHNESS = """
with wds as (
  select source,
    unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) as w
  from documents
),
cnt as (select source, w, count(*) as c from wds group by 1, 2)
select source,
  cast(sum(c) as bigint) as n_tokens,
  cast(count(*) as bigint) as n_vocab,
  cast(sum((c = 1)::int) as bigint) as n_hapax,
  cast(max(c) as bigint) as top_word_count
from cnt group by 1
"""

QUERIES["vocab_richness"] = q_vocab_richness
ORACLES["vocab_richness"] = O_VOCAB_RICHNESS


# --- BM25 retrieval scoring -------------------------------------------------------

_BM25_TERMS = ("spark", "merge", "window", "scan")


def q_bm25_scores(spark, sf_dir):
    """Okapi BM25 relevance of every document to a fixed 4-term query —
    the retrieval scorer behind corpus search / RAG-index triage. Integer
    tf/dl/df feed a fixed-order closed-form score (only ln is engine-libm;
    _r6x canonicalized). Matched docs only."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = corpus.bm25_scores(docs, _BM25_TERMS, k1=1.2, b=0.75)
    return out.select(
        F.col("id").alias("doc_id"),
        "dl",
        "tf_total",
        "n_matched",
        _r6x(F.col("bm25"), "bm25"),
    )


def _bm25_oracle() -> str:
    terms = _BM25_TERMS
    idx = range(len(terms))
    in_list = ", ".join(f"'{t}'" for t in terms)
    tf_cols = ",\n    ".join(
        f"sum(case when word = '{terms[i]}' then 1 else 0 end) as tf_{i}" for i in idx
    )
    df_cols = ", ".join(f"sum((tf_{i} > 0)::int) as df_{i}" for i in idx)
    score = " + ".join(
        f"ln(1.0 + (cast(n_docs as double) - cast(df_{i} as double) + 0.5) "
        f"/ (cast(df_{i} as double) + 0.5)) * cast(tf_{i} as double) * 2.2 "
        f"/ (cast(tf_{i} as double) + 1.2 * (0.25 + 0.75 * cast(dl as double) "
        f"/ (cast(len_total as double) / cast(n_docs as double))))"
        for i in idx
    )
    matched = " + ".join(f"(tf_{i} > 0)::int" for i in idx)
    tft = " + ".join(f"tf_{i}" for i in idx)
    return f"""
with {_WORDS_CTE},
ww as (select doc_id, unnest(words) as word from w),
dl as (select doc_id, count(*) as dl from ww group by doc_id),
tf as (
  select doc_id,
    {tf_cols}
  from ww where word in ({in_list}) group by doc_id
),
cs as (select cast(count(*) as bigint) as n_docs, cast(sum(dl) as bigint) as len_total from dl),
dfq as (select {df_cols} from tf)
select tf.doc_id, cast(dl as bigint) as dl,
  cast({tft} as bigint) as tf_total,
  cast({matched} as bigint) as n_matched,
  {_r6x_sql(score)} as bm25
from tf join dl using (doc_id) cross join cs cross join dfq
"""


QUERIES["bm25_scores"] = q_bm25_scores
ORACLES["bm25_scores"] = _bm25_oracle()


# --- PMI collocations -------------------------------------------------------------

def q_pmi_collocations(spark, sf_dir):
    """Top-20 adjacent-pair collocations by corpus frequency with PMI —
    phrase-mining / tokenizer-merge candidates. Integer rank keys pick
    identical rows on every engine; PMI closed-form from integer counts,
    _r6x canonicalized."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = corpus.pmi_collocations(docs, min_count=5, k=20)
    return out.select(
        "rank", "gram", "c_ab", "c_a", "c_b", _r6x(F.col("pmi"), "pmi")
    )


O_PMI_COLLOCATIONS = f"""
with {_WORDS_CTE},
ww as (select doc_id, unnest(words) as word from w),
uni as (select word, count(*) as c_w from ww group by word),
nu as (select cast(sum(c_w) as bigint) as n_uni from uni),
grams as (
  select doc_id,
    unnest([array_to_string(words[i:i+1], ' ') for i in range(1, len(words))]) as gram
  from w
),
bi_all as (select gram, count(*) as c_ab from grams group by gram),
nb as (select cast(sum(c_ab) as bigint) as n_bi from bi_all),
bi as (select gram, c_ab from bi_all where c_ab >= 5),
top as (
  select gram, c_ab, row_number() over (order by c_ab desc, gram asc) as rank
  from bi qualify rank <= 20
)
select cast(rank as bigint) as rank, gram,
  cast(c_ab as bigint) as c_ab,
  cast(ua.c_w as bigint) as c_a,
  cast(ub.c_w as bigint) as c_b,
  {_r6x_sql(
      "ln((cast(c_ab as double) / cast(n_bi as double)) "
      "/ ((cast(ua.c_w as double) / cast(n_uni as double)) "
      "* (cast(ub.c_w as double) / cast(n_uni as double))))"
  )} as pmi
from top
join uni ua on ua.word = string_split(top.gram, ' ')[1]
join uni ub on ub.word = string_split(top.gram, ' ')[2]
cross join nu cross join nb
"""

QUERIES["pmi_collocations"] = q_pmi_collocations
ORACLES["pmi_collocations"] = O_PMI_COLLOCATIONS


# --- cross-source contamination matrix --------------------------------------------

def q_source_overlap(spark, sf_dir):
    """Which sources near-duplicate each other: MinHash-LSH candidate
    pairs decorated with each side's source, folded into an unordered
    source-pair matrix. All-integer cells."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = dedup.minhash_lsh_pairs(docs, k=3, num_hashes=16, bands=4)
    return dedup.cross_source_overlap(docs, pairs, strong_bands=2)


O_SOURCE_OVERLAP = f"""
with cq as ({_minhash_lsh_oracle()})
select least(sa.source, sb.source) as src_x,
  greatest(sa.source, sb.source) as src_y,
  cast(count(*) as bigint) as n_pairs,
  cast(sum((cq.n_bands >= 2)::int) as bigint) as n_strong,
  cast(sum(cq.n_bands) as bigint) as band_mass
from cq
join documents sa on sa.doc_id = cq.id_a
join documents sb on sb.doc_id = cq.id_b
group by 1, 2
"""

QUERIES["source_overlap"] = q_source_overlap
ORACLES["source_overlap"] = O_SOURCE_OVERLAP


# --- embedding label separability --------------------------------------------------

def q_label_separability(spark, sf_dir):
    """Fisher-style class-separability report over the embeddings table:
    per unordered label pair, squared centroid distance, each side's
    within-class scatter, and their ratio — all from integer lane sums
    (decimal-exact), final quotients _r6x'd."""
    from ..operators.similarity import label_separability

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = label_separability(emb)
    return out.select(
        F.col("label_a").cast("long").alias("label_a"),
        F.col("label_b").cast("long").alias("label_b"),
        "n_a",
        "n_b",
        _r6x(F.col("dist2"), "dist2"),
        _r6x(F.col("msd_a"), "msd_a"),
        _r6x(F.col("msd_b"), "msd_b"),
        _r6x(F.col("fisher"), "fisher"),
    )


O_LABEL_SEPARABILITY = f"""
with lanes as (
  select label,
    generate_subscripts(embedding, 1) - 1 as lane,
    cast(floor(cast(unnest(embedding) as double) * 1000000.0 + 0.5) as bigint) as s
  from embeddings
),
per as (
  select label, lane, cast(sum(s) as bigint) as ssum,
    cast(sum(s * s) as bigint) as s2
  from lanes group by 1, 2
),
st as (
  select label,
    sum(cast(ssum as hugeint) * cast(ssum as hugeint)) as ss,
    cast(sum(s2) as bigint) as s2t
  from per group by 1
),
nn as (select label, cast(count(*) as bigint) as n from embeddings group by 1),
m as (
  select st.label,
    (cast(s2t as double) - cast(ss as double) / cast(n as double))
      / cast(n as double) / 1000000000000.0 as msd
  from st join nn using (label)
),
pd as (
  select a.label as la, b.label as lb, na.n as na, nb.n as nb,
    sum(cast(a.ssum * nb.n - b.ssum * na.n as hugeint)
        * cast(a.ssum * nb.n - b.ssum * na.n as hugeint)) as d2i
  from per a
  join per b on a.lane = b.lane and a.label < b.label
  join nn na on na.label = a.label
  join nn nb on nb.label = b.label
  group by 1, 2, 3, 4
),
f as (
  select la, lb, na, nb,
    cast(d2i as double) / (cast(na as double) * cast(nb as double))
      / (cast(na as double) * cast(nb as double)) / 1000000000000.0 as dist2,
    ma.msd as msd_a, mb.msd as msd_b
  from pd
  join m ma on ma.label = pd.la
  join m mb on mb.label = pd.lb
)
select cast(la as bigint) as label_a, cast(lb as bigint) as label_b,
  na as n_a, nb as n_b,
  {_r6x_sql("dist2")} as dist2,
  {_r6x_sql("msd_a")} as msd_a,
  {_r6x_sql("msd_b")} as msd_b,
  {_r6x_sql("dist2 / (msd_a + msd_b)")} as fisher
from f
"""

QUERIES["label_separability"] = q_label_separability
ORACLES["label_separability"] = O_LABEL_SEPARABILITY


# --- diversity-constrained top-k retrieval ----------------------------------------

def q_diversified_topk(spark, sf_dir):
    """RAG-context diversification: global top-20 BM25-matched docs under
    a hard 3-per-source cap. Integer ranking key (tf_total desc, doc_id
    asc) selects identical rows on every engine; bm25 rides as a value
    column."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scored = corpus.bm25_scores(docs, _BM25_TERMS, k1=1.2, b=0.75).select(
        F.col("id").alias("doc_id"), "tf_total", "n_matched", "bm25"
    )
    j = scored.join(docs.select("doc_id", "source"), "doc_id")
    out = corpus.diversified_top_k(
        j, [("tf_total", "desc"), ("doc_id", "asc")], k=20, per_group_cap=3,
        group_col="source",
    )
    return out.select(
        "rank", "doc_id", "source",
        F.col("tf_total").cast("long").alias("tf_total"),
        _r6x(F.col("bm25"), "bm25"),
    )


O_DIVERSIFIED_TOPK = f"""
with bq as ({_bm25_oracle()}),
j as (
  select bq.doc_id, d.source, bq.tf_total, bq.bm25,
    row_number() over (partition by d.source order by bq.tf_total desc, bq.doc_id asc) as gr
  from bq join documents d using (doc_id)
),
c as (select * from j where gr <= 3),
t as (
  select doc_id, source, tf_total, bm25,
    row_number() over (order by tf_total desc, doc_id asc) as rank
  from c qualify rank <= 20
)
select cast(rank as bigint) as rank, doc_id, source,
  cast(tf_total as bigint) as tf_total, bm25
from t
"""

QUERIES["diversified_topk"] = q_diversified_topk
ORACLES["diversified_topk"] = O_DIVERSIFIED_TOPK


# --- length-based curriculum staging ----------------------------------------------

def q_curriculum_stages(spark, sf_dir):
    """Easy-to-hard curriculum schedule: equal-depth ntile stages over
    (token count, doc_id), per-stage doc/token totals. All-integer."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus.curriculum_stages(docs, n_stages=4)


O_CURRICULUM_STAGES = f"""
with {_WORDS_CTE},
toks as (select doc_id as id, len(words) as n_tokens from w),
st as (
  select id, n_tokens,
    ntile(4) over (order by n_tokens asc, id asc) as stage
  from toks
)
select cast(stage as bigint) as stage,
  cast(count(*) as bigint) as n_docs,
  cast(min(n_tokens) as bigint) as tok_min,
  cast(max(n_tokens) as bigint) as tok_max,
  cast(sum(n_tokens) as bigint) as tok_total
from st group by 1
"""

QUERIES["curriculum_stages"] = q_curriculum_stages
ORACLES["curriculum_stages"] = O_CURRICULUM_STAGES


# --- Zipf's-law fit ----------------------------------------------------------------

def q_zipf_fit(spark, sf_dir):
    """One-row Zipf diagnostic: OLS slope/intercept of ln(cnt) on
    ln(rank) over the top-100 vocabulary, from integer nano-log sums."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = corpus.zipf_fit(docs, n_terms=100)
    return out.select(
        "n_terms", _r6x(F.col("slope"), "slope"), _r6x(F.col("intercept"), "intercept")
    )


_ZIPF_SLOPE = (
    "(cast(n as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double))"
    " / (cast(n as double) * cast(sxx as double) - cast(sx as double) * cast(sx as double))"
)

O_ZIPF_FIT = f"""
with {_WORDS_CTE},
wc as (select unnest(words) as word from w),
c as (select word, count(*) as cnt from wc group by word),
r as (select word, cnt, row_number() over (order by cnt desc, word asc) as rank from c),
t as (select rank, cnt from r where rank <= 100),
q as (
  select
    cast(floor(ln(cast(rank as double)) * 1000000000.0 + 0.5) as bigint) as x,
    cast(floor(ln(cast(cnt as double)) * 1000000000.0 + 0.5) as bigint) as y
  from t
),
s as (
  select cast(count(*) as bigint) as n,
    cast(sum(x) as bigint) as sx, cast(sum(y) as bigint) as sy,
    sum(cast(x as hugeint) * cast(x as hugeint)) as sxx,
    sum(cast(x as hugeint) * cast(y as hugeint)) as sxy
  from q
)
select n as n_terms,
  {_r6x_sql(_ZIPF_SLOPE)} as slope,
  {_r6x_sql(f"(cast(sy as double) - ({_ZIPF_SLOPE}) * cast(sx as double)) / cast(n as double) / 1000000000.0")} as intercept
from s
"""

QUERIES["zipf_fit"] = q_zipf_fit
ORACLES["zipf_fit"] = O_ZIPF_FIT


# --- BPE tokenizer merge mining ----------------------------------------------------

def q_bpe_merges(spark, sf_dir):
    """First 6 BPE merge rules learned over the corpus vocabulary —
    greedy-highest-weight each round, pair-asc tiebreak. The merge table
    IS the learned model (driver-held k rows, like k-means centroids);
    all counting is distributed on the (word,freq) vocab."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rules = corpus.bpe_merges(docs, n_merges=6)
    return spark.createDataFrame(
        rules, "merge_idx long, tok_a string, tok_b string, merged string, weight long"
    )


def _bpe_oracle(n_merges: int = 6) -> str:
    parts = [f"""with {_WORDS_CTE},
wc0 as (select unnest(words) as word from w),
wc as (
  select word, count(*) as cnt from wc0
  where regexp_matches(word, '^[a-z]+$') group by word
),
v0 as (
  select '<' || array_to_string(string_split(word, ''), '><') || '><$>' as s,
    cnt as freq
  from wc
)"""]
    for i in range(n_merges):
        parts.append(f"""
tk{i} as (select string_split(s[2:len(s)-1], '><') as toks, freq from v{i}),
pr{i} as (
  select unnest([toks[j] || ' ' || toks[j+1] for j in range(1, len(toks))]) as pair,
    freq
  from tk{i}
),
pc{i} as (select pair, sum(freq) as w from pr{i} group by pair),
m{i} as (
  select pair, w,
    string_split(pair, ' ')[1] as a, string_split(pair, ' ')[2] as b
  from pc{i} order by w desc, pair asc limit 1
),
v{i + 1} as (
  select replace(s, '<' || a || '><' || b || '>', '<' || a || b || '>') as s, freq
  from v{i}, m{i}
)""")
    arms = " union all ".join(
        f"select cast({i} as bigint) as merge_idx, a as tok_a, b as tok_b, "
        f"a || b as merged, cast(w as bigint) as weight from m{i}"
        for i in range(n_merges)
    )
    return ",".join(parts) + "\n" + arms


QUERIES["bpe_merges"] = q_bpe_merges
ORACLES["bpe_merges"] = _bpe_oracle()


# --- signed hashing-trick features ---------------------------------------------------

def q_hashed_features(spark, sf_dir):
    """Sparse signed hashing-trick features, dim 64: word -> md5 bucket,
    independent md5 sign (+/-1) so collisions cancel; only non-zero
    (doc, idx, weight) triplets survive (functions/corpus.
    signed_hashed_features)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = corpus.signed_hashed_features(docs, "doc_id", "text", dim=64)
    return out.select(F.col("id").alias("doc_id"), "idx", "weight")


O_HASHED_FEATURES = f"""
with {_WORDS_CTE},
wx as (select doc_id, unnest(words) as word from w),
t as (
  select doc_id,
    ({_hex7_of("md5(word)")}) % 64 as idx,
    (({_hex7_of("md5('s|' || word)")}) % 2) * 2 - 1 as sgn
  from wx
)
select doc_id, cast(idx as bigint) as idx, cast(sum(sgn) as bigint) as weight
from t group by 1, 2 having sum(sgn) != 0
"""

QUERIES["hashed_features"] = q_hashed_features
ORACLES["hashed_features"] = O_HASHED_FEATURES


# --- exact multi-lag autocorrelation --------------------------------------------------

def q_acf_features(spark, sf_dir):
    """Whole-series ACF at lags 1-3 of `value` per conversation — integer
    centi-quantized Pearson from exact decimal sums, one window pass for
    all lags (operators/volatility.acf_exact)."""
    t = transcripts_from_events(spark, sf_dir)
    return vol_mod.acf_exact(t, CFG, "value", lags=(1, 2, 3), scale=100)


_ACF_NUM = "cast(n2 * sab - sa * sb as double)"
_ACF_DEN = "sqrt(cast(n2 * saa - sa * sa as double)) * sqrt(cast(n2 * sbb - sb * sb as double))"

O_ACF_FEATURES = f"""{_W},
t as (
  select conv_id, cast(floor(value * 100.0 + 0.5) as bigint) as a,
    lead(cast(floor(value * 100.0 + 0.5) as bigint), 1) over ({_OWIN}) as b1,
    lead(cast(floor(value * 100.0 + 0.5) as bigint), 2) over ({_OWIN}) as b2,
    lead(cast(floor(value * 100.0 + 0.5) as bigint), 3) over ({_OWIN}) as b3
  from transcripts
),
s as (
  select conv_id, 1 as lag, a, b1 as b from t where b1 is not null
  union all select conv_id, 2, a, b2 from t where b2 is not null
  union all select conv_id, 3, a, b3 from t where b3 is not null
),
g as (
  select conv_id, lag,
    cast(count(*) as bigint) as n,
    sum(cast(a as hugeint)) as sa, sum(cast(b as hugeint)) as sb,
    sum(cast(a as hugeint) * cast(b as hugeint)) as sab,
    sum(cast(a as hugeint) * cast(a as hugeint)) as saa,
    sum(cast(b as hugeint) * cast(b as hugeint)) as sbb
  from s group by 1, 2
),
f as (select conv_id, lag, n, sa, sb, sab, saa, sbb, cast(n as hugeint) as n2 from g)
select conv_id, cast(lag as int) as lag, n as n_pairs,
  {_r6x_sql(f"case when n2 * saa - sa * sa > 0 and n2 * sbb - sb * sb > 0 then ({_ACF_NUM}) / ({_ACF_DEN}) else 0.0 end")} as acf
from f
"""

QUERIES["acf_features"] = q_acf_features
ORACLES["acf_features"] = O_ACF_FEATURES


# --- classical seasonal decomposition (integer 2xP moving average) -------------------

def q_seasonal_decompose(spark, sf_dir):
    """Additive seasonal decomposition of the hourly event-count series
    (functions/stats.seasonal_decompose_int): densified calendar hours,
    exact-integer 2x24 centered moving-average trend, per-phase seasonal
    sufficient statistics (sum + count of the 48x-scaled detrended
    values). 24 output rows, all int64."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    from ..functions import stats as stats_fn

    hr = F.expr("unix_micros(cast(ts as timestamp)) div 3600000000")
    hours = ev.select(hr.alias("hr")).groupBy("hr").agg(
        F.count(F.lit(1)).alias("y")
    )
    return stats_fn.seasonal_decompose_int(hours, "hr", "y", period=24)


O_SEASONAL_DECOMPOSE = """
with c as (
  select epoch_us(ts) // 3600000000 as hr, cast(count(*) as bigint) as y
  from events group by 1
),
idx as (
  select unnest(generate_series((select min(hr) from c),
                                (select max(hr) from c))) as i
),
dense as (
  select idx.i, coalesce(c.y, 0) as y
  from idx left join c on c.hr = idx.i
),
t as (
  select i, y,
    2 * sum(y) over (order by i rows between 12 preceding and 12 following)
      - lag(y, 12) over (order by i)
      - lead(y, 12) over (order by i) as trend_2p
  from dense
)
select cast(i % 24 as bigint) as phase,
  cast(count(*) as bigint) as n_obs,
  cast(sum(48 * y - trend_2p) as bigint) as seasonal_sum_2p
from t where trend_2p is not null
group by 1
"""

QUERIES["seasonal_decompose"] = q_seasonal_decompose
ORACLES["seasonal_decompose"] = O_SEASONAL_DECOMPOSE


# --- propensity-score matching (ATT, nearest-neighbor with replacement) --------------

def q_propensity_match(spark, sf_dir):
    """1-NN propensity matching with replacement (functions/stats.py
    propensity_match): treated = conversations that invoked any tool,
    score = total text length (integer confounder proxy), outcome =
    turn count, stratified by start day-of-week. Controls collapse to a
    min-id representative per (stratum, score); the match reuses the
    asof 'nearest' single-sort plan — no pairwise score join."""
    from ..functions import stats as stats_fn

    t = _t(spark, sf_dir)
    units = t.groupBy("conv_id").agg(
        F.max(F.col("tool").isNotNull().cast("int")).alias("treated"),
        F.sum(F.length("text")).cast("long").alias("score"),
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        F.expr(
            "(unix_micros(cast(min(ts) as timestamp)) div 86400000000) % 7"
        ).alias("dow"),
    )
    return stats_fn.propensity_match(
        units, "conv_id", "score", "treated", "n_turns", stratum_col="dow"
    )


O_PROPENSITY_MATCH = f"""{_W},
u as (
  select conv_id,
    max(case when tool is not null then 1 else 0 end) as treated,
    cast(sum(length(text)) as bigint) as score,
    cast(count(*) as bigint) as n_turns,
    (epoch_us(min(ts)) // 86400000000) % 7 as dow
  from transcripts group by conv_id
),
ctl as (
  select dow as stratum, score,
    min(conv_id) as control_id,
    arg_min(n_turns, conv_id) as y_c,
    cast(count(*) as bigint) as n_ctl_at_score
  from u where treated = 0 group by 1, 2
),
tr as (
  select conv_id as unit_id, dow as stratum, score, n_turns as y_t
  from u where treated = 1
),
b as (
  select tr.unit_id, tr.stratum, tr.score, tr.y_t,
    c.score as bs, c.control_id as bid, c.y_c as byc, c.n_ctl_at_score as bn
  from tr asof left join ctl c
    on tr.stratum = c.stratum and tr.score >= c.score
),
f as (
  select tr.unit_id,
    c.score as fs, c.control_id as fid, c.y_c as fyc, c.n_ctl_at_score as fn
  from tr asof left join ctl c
    on tr.stratum = c.stratum and tr.score <= c.score
),
j as (
  select b.*, f.fs, f.fid, f.fyc, f.fn,
    (f.fs is null or (b.bs is not null and b.score - b.bs <= f.fs - b.score))
      as useb
  from b join f using (unit_id)
)
select unit_id, cast(stratum as bigint) as stratum, score,
  case when useb then bid else fid end as control_id,
  case when useb then bs else fs end as control_score,
  case when useb then bn else fn end as n_ctl_at_score,
  y_t,
  case when useb then byc else fyc end as y_c,
  y_t - case when useb then byc else fyc end as att_term
from j
"""

QUERIES["propensity_match"] = q_propensity_match
ORACLES["propensity_match"] = O_PROPENSITY_MATCH


# --- Holt double-exponential smoothing (level + trend) -------------------------------

def q_holt_smoothing(spark, sf_dir):
    """Holt level+trend smoothing of `value` per conversation
    (alpha = 1/4, beta = 1/8; operators/rolling.with_holt). The one-step
    forecast level+trend is emitted as its own column — one extra fixed
    expression on both sides."""
    t = transcripts_from_events(spark, sf_dir)
    out = rolling.with_holt(t, CFG, "value", alpha=0.25, beta=0.125)
    return out.select(
        "conv_id", "turn_idx",
        _r6x(F.col("value_holt_level"), "level"),
        _r6x(F.col("value_holt_trend"), "trend"),
        _r6x(F.col("value_holt_level") + F.col("value_holt_trend"), "forecast"),
    )


O_HOLT_SMOOTHING = f"""with recursive {ORACLE_TRANSCRIPTS_CTE},
t as (
  select conv_id, turn_idx, value as x, row_number() over ({_OWIN}) as rn
  from transcripts
),
walk as (
  select conv_id, rn, turn_idx, x as l, cast(0.0 as double) as b
  from t where rn = 1
  union all
  select t.conv_id, t.rn, t.turn_idx,
    0.25 * t.x + 0.75 * (w.l + w.b),
    0.125 * ((0.25 * t.x + 0.75 * (w.l + w.b)) - w.l) + 0.875 * w.b
  from walk w join t on t.conv_id = w.conv_id and t.rn = w.rn + 1
)
select conv_id, turn_idx,
  {_r6x_sql("l")} as level,
  {_r6x_sql("b")} as trend,
  {_r6x_sql("l + b")} as forecast
from walk
"""

QUERIES["holt_smoothing"] = q_holt_smoothing
ORACLES["holt_smoothing"] = O_HOLT_SMOOTHING


# --- table-maintenance planning: compaction bins + zone-map pruning -----------------

def q_compaction_plan(spark, sf_dir):
    """Small-file compaction plan over a synthetic manifest (file per doc,
    partition = source, size = n_chars; target bin 2000 bytes) — greedy
    in-order bin packing via exclusive-prefix-size DIV target
    (operators/layout.compaction_plan)."""
    from ..operators import layout

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    manifest = docs.select(
        F.col("source").alias("partition"),
        F.col("doc_id").alias("file_id"),
        F.col("n_chars").alias("size_bytes"),
    )
    out = layout.compaction_plan(
        manifest, "partition", "file_id", "size_bytes", target_bytes=2000
    )
    return out.select(
        F.col("part").alias("partition"), "bin", "n_files", "total_bytes",
        "first_file", "last_file", "merges",
    )


O_COMPACTION_PLAN = """
with m as (
  select source as part, doc_id as fid, n_chars as sz,
    coalesce(sum(n_chars) over (partition by source order by doc_id
      rows between unbounded preceding and 1 preceding), 0) as cb
  from documents
),
b as (select part, fid, sz, cb // 2000 as bin from m)
select part as partition, cast(bin as bigint) as bin,
  cast(count(*) as bigint) as n_files,
  cast(sum(sz) as bigint) as total_bytes,
  min(fid) as first_file, max(fid) as last_file,
  count(*) > 1 as merges
from b group by 1, 2
"""

QUERIES["compaction_plan"] = q_compaction_plan
ORACLES["compaction_plan"] = O_COMPACTION_PLAN


def q_file_skipping(spark, sf_dir):
    """Zone-map pruning effectiveness: events bucketed into 100-row
    'files', per-file (min, max) of value from stats only, then the exact
    planner prune for predicate value in [120, 200]
    (operators/layout.file_skipping_report)."""
    from ..operators import layout

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    stats = (
        ev.groupBy(F.expr("event_id div 100").cast("long").alias("file_id"))
        .agg(F.min("value").alias("min_v"), F.max("value").alias("max_v"))
    )
    return layout.file_skipping_report(stats, "min_v", "max_v", lo=120.0, hi=200.0)


O_FILE_SKIPPING = """
with s as (
  select event_id // 100 as file_id, min(value) as min_v, max(value) as max_v
  from events group by 1
),
a as (
  select cast(count(*) as bigint) as n_files,
    cast(sum(case when max_v < 120.0 or min_v > 200.0 then 1 else 0 end) as bigint) as n_skippable
  from s
)
select n_files, n_skippable,
  cast(n_files - n_skippable as bigint) as n_scanned,
  floor((cast(n_files - n_skippable as double) / cast(n_files as double)) * 1000000.0 + 0.5) / 1000000.0 as scan_frac
from a
"""

QUERIES["file_skipping"] = q_file_skipping
ORACLES["file_skipping"] = O_FILE_SKIPPING


# --- retrieval-quality evaluation: nDCG@10 / AP@10 / MRR ----------------------------

def q_retrieval_eval(spark, sf_dir):
    """Label-relevance retrieval scorecard: every 20th vector queries the
    exact cosine top-10 (operators/similarity.brute_force_topk), a hit is
    a same-label neighbor, and functions/ranking.retrieval_metrics scores
    nDCG@10 / AP@10 / MRR per query with integer-nano discount weights
    shared verbatim with the oracle."""
    from ..functions import ranking
    from ..operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"), "label"
    )
    queries = emb.where(F.col("vec_id") % 20 == 0)
    top = similarity.brute_force_topk(
        emb.select("vec_id", "embedding"), k=10,
        query=queries.select("vec_id", "embedding"),
    )
    qlab = queries.select(F.col("vec_id").alias("query_id"), F.col("label").alias("ql"))
    nlab = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nl"))
    ranked = (
        top.join(F.broadcast(qlab), "query_id")
        .join(F.broadcast(nlab), "neighbor_id")
        .select(
            "query_id", "rank",
            (F.col("ql") == F.col("nl")).cast("int").alias("rel"),
        )
    )
    lc = emb.groupBy("label").agg(F.count(F.lit(1)).alias("c"))
    totals = queries.join(F.broadcast(lc), "label").select(
        F.col("vec_id").alias("query_id"),
        (F.col("c") - 1).cast("long").alias("n_rel_total"),
    )
    return ranking.retrieval_metrics(ranked, totals, k=10)


def _retrieval_eval_oracle() -> str:
    from ..functions.ranking import dcg_prefix_nano, dcg_weights_nano

    W = dcg_weights_nano(10)
    P = dcg_prefix_nano(10)
    whens_w = " ".join(f"when {i + 1} then {w}" for i, w in enumerate(W))
    whens_p = " ".join(f"when {i + 1} then {p}" for i, p in enumerate(P))
    return f"""
with e as (select vec_id, embedding::DOUBLE[] as v, label from embeddings),
q as (select * from e where vec_id % 20 = 0),
pairs as (
  select q.vec_id as query_id, b.vec_id as neighbor_id,
    list_dot_product(q.v, b.v)
      / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(b.v, b.v)) + {DIVISION_GUARD_EPS}) as cos,
    case when q.label = b.label then 1 else 0 end as rel
  from q, e b where b.vec_id != q.vec_id
),
ranked as (
  select query_id, rel,
    row_number() over (partition by query_id order by cos desc, neighbor_id) as rnk
  from pairs
),
r as (select * from ranked where rnk <= 10),
cum as (
  select query_id, rnk, rel,
    sum(rel) over (partition by query_id order by rnk) as cum_hits
  from r
),
per as (
  select query_id,
    cast(sum(rel) as bigint) as hits,
    cast(sum(rel * (case rnk {whens_w} end)) as bigint) as dcg_nano,
    cast(sum(rel * cast(floor(1000000000.0 * cum_hits / rnk + 0.5) as bigint)) as bigint) as ap_nano,
    min(case when rel = 1 then rnk end) as first_rank
  from cum group by 1
),
tot as (
  select q.vec_id as query_id, cast(lc.c - 1 as bigint) as n_rel_total
  from q join (select label, count(*) as c from e group by label) lc using (label)
)
select per.query_id, per.hits, tot.n_rel_total,
  {_r6x_sql(f"case when n_rel_total > 0 then cast(dcg_nano as double) / cast((case least(n_rel_total, 10) {whens_p} end) as double) else 0.0 end")} as ndcg,
  {_r6x_sql("case when n_rel_total > 0 then cast(ap_nano as double) / (cast(least(n_rel_total, 10) as double) * 1000000000.0) else 0.0 end")} as ap,
  {_r6x_sql("coalesce(floor(1000000000.0 / first_rank + 0.5) / 1000000000.0, 0.0)")} as rr
from per join tot using (query_id)
"""


QUERIES["retrieval_eval"] = q_retrieval_eval
ORACLES["retrieval_eval"] = _retrieval_eval_oracle()


# --- readability scoring ------------------------------------------------------------

def q_readability(spark, sf_dir):
    """Flesch reading-ease per document — heuristic vowel-run syllables,
    fixed 10-word sentences, all-JVM array expressions (functions/text.py
    readability)."""
    from ..functions import text as textfn

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = textfn.readability(docs, "doc_id", "text", words_per_sentence=10)
    return out.select(
        F.col("id").alias("doc_id"), "n_words", "n_sentences", "n_syllables", "flesch"
    )


O_READABILITY = f"""
with b as (
  select doc_id, lower(text) as t, string_split(lower(text), ' ') as ws
  from documents
),
c as (
  select doc_id,
    cast(len(ws) as bigint) as n_words,
    cast(ceil(len(ws) / 10.0) as bigint) as n_sentences,
    cast(len(regexp_extract_all(t, '[aeiou]+'))
         + len(list_filter(ws, x -> not regexp_matches(x, '[aeiou]'))) as bigint)
      as n_syllables
  from b
)
select doc_id, n_words, n_sentences, n_syllables,
  {_r6x_sql("206.835 - 1.015 * (cast(n_words as double) / cast(n_sentences as double)) - 84.6 * (cast(n_syllables as double) / cast(n_words as double))")} as flesch
from c where n_words > 0
"""

QUERIES["readability"] = q_readability
ORACLES["readability"] = O_READABILITY


# --- boilerplate-line detection -------------------------------------------------------

def q_boilerplate_lines(spark, sf_dir):
    """Per-source boilerplate report: 10-word lines occurring in >= 2
    distinct docs of the same source (template chrome), counted by
    distinct lines and by occurrences — only line digests shuffle
    (functions/corpus.boilerplate_stats)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = corpus.boilerplate_stats(docs, "doc_id", "text", "source", 10, 2)
    return out.select(
        F.col("grp").alias("source"),
        "distinct_lines", "boilerplate_lines",
        "occurrences", "boilerplate_occurrences", "boilerplate_frac",
    )


O_BOILERPLATE_LINES = f"""
with w as (
  select doc_id, source, unnest(string_split(lower(text), ' ')) as word,
         generate_subscripts(string_split(lower(text), ' '), 1) as i
  from documents
),
l as (
  select doc_id, source, string_agg(word, ' ' order by i) as line
  from w group by doc_id, source, (i - 1) // 10
),
g as (
  select source as grp, md5(line) as lk,
    count(distinct doc_id) as ndocs, count(*) as occ
  from l group by 1, 2
),
a as (
  select grp,
    cast(count(*) as bigint) as distinct_lines,
    cast(sum(case when ndocs >= 2 then 1 else 0 end) as bigint) as boilerplate_lines,
    cast(sum(occ) as bigint) as occurrences,
    cast(sum(case when ndocs >= 2 then occ else 0 end) as bigint) as boilerplate_occurrences
  from g group by grp
)
select grp as source, distinct_lines, boilerplate_lines, occurrences,
  boilerplate_occurrences,
  {_r6x_sql("cast(boilerplate_occurrences as double) / cast(occurrences as double)")} as boilerplate_frac
from a
"""

QUERIES["boilerplate_lines"] = q_boilerplate_lines
ORACLES["boilerplate_lines"] = O_BOILERPLATE_LINES


# --- graph analytics: triangle counting + clustering coefficients ------------------

def q_graph_triangles(spark, sf_dir):
    """Per-tool triangle count and local clustering coefficient on the
    tool co-usage graph (wedge-closure two-join enumeration, each
    triangle found once in vertex-sorted order; functions/graph.py)."""
    from ..functions import graph

    t = transcripts_from_events(spark, sf_dir)
    d = t.filter(F.col("tool").isNotNull()).select("conv_id", "tool").distinct()
    a = d.select("conv_id", F.col("tool").alias("a"))
    b = d.select("conv_id", F.col("tool").alias("b"))
    edges = (
        a.join(b, "conv_id")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    out = graph.triangle_stats(edges)
    return out.select(
        F.col("node").alias("tool"), "degree", "triangles", "clustering"
    )


O_GRAPH_TRIANGLES = f"""{_W},
d as (
  select distinct conv_id, tool from transcripts where tool is not null
),
e as (
  select distinct a.tool as a, b.tool as b
  from d a join d b on a.conv_id = b.conv_id and a.tool < b.tool
),
tri as (
  select e1.a as x, e1.b as y, e2.b as z
  from e e1
  join e e2 on e1.b = e2.a
  join e e3 on e1.a = e3.a and e2.b = e3.b
),
pn as (
  select node, cast(count(*) as bigint) as triangles
  from (
    select x as node from tri
    union all select y from tri
    union all select z from tri
  ) group by node
),
deg as (
  select node, cast(count(*) as bigint) as degree
  from (select a as node from e union all select b from e)
  group by node
)
select deg.node as tool, deg.degree,
  cast(coalesce(pn.triangles, 0) as bigint) as triangles,
  case when deg.degree >= 2 then
    floor((2.0 * cast(coalesce(pn.triangles, 0) as double)
           / (cast(deg.degree as double) * (cast(deg.degree as double) - 1.0)))
          * 1000000.0 + 0.5) / 1000000.0
  else 0.0 end as clustering
from deg left join pn using (node)
"""

QUERIES["graph_triangles"] = q_graph_triangles
ORACLES["graph_triangles"] = O_GRAPH_TRIANGLES


# --- bipartite link prediction: common neighbors + Resource Allocation ---------------

def q_link_prediction(spark, sf_dir):
    """Common-neighbor count + fixed-point Resource-Allocation index per
    co-used tool pair over the conversation-tool bipartite graph
    (functions/graph.py link_prediction_scores): contexts above the
    degree cap are dropped BEFORE the pair expansion (bounded quadratic
    fan-out), RA terms are exact int64 ``scale div deg``."""
    from ..functions import graph

    t = transcripts_from_events(spark, sf_dir)
    out = graph.link_prediction_scores(
        t, node_col="tool", ctx_col="conv_id", scale=10**6, max_ctx_degree=64
    )
    return out.select(
        F.col("node_a").alias("tool_a"),
        F.col("node_b").alias("tool_b"),
        "common_ctx",
        "ra_fp",
    )


O_LINK_PREDICTION = f"""{_W},
d as (
  select distinct conv_id, tool from transcripts where tool is not null
),
deg as (
  select conv_id, count(*) as dg from d group by conv_id
),
b as (
  select d.conv_id, d.tool, deg.dg
  from d join deg using (conv_id)
  where deg.dg between 2 and 64
),
p as (
  select x.tool as tool_a, y.tool as tool_b, x.dg
  from b x join b y on x.conv_id = y.conv_id and x.tool < y.tool
)
select tool_a, tool_b,
  cast(count(*) as bigint) as common_ctx,
  cast(sum(1000000 // dg) as bigint) as ra_fp
from p group by tool_a, tool_b
"""

QUERIES["link_prediction"] = q_link_prediction
ORACLES["link_prediction"] = O_LINK_PREDICTION


# --- evaluation-metric family: AUC / confusion / calibration / KS / Gini / entropy --

from ..functions import evalmetrics


def _scored_docs(spark, sf_dir):
    """Deterministic scored corpus: score = n_chars, label drawn with
    P(y=1) increasing in length via a fixed integer hash — the synthetic
    stand-in for a quality-classifier score column."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lbl = (
        (F.col("doc_id") * F.lit(2654435761)) % 1000
        < F.least(F.col("n_chars"), F.lit(999))
    ).cast("int")
    return docs.select(F.col("n_chars").alias("s"), lbl.alias("y"))


_SCORED_DOCS_SQL = """select n_chars as s,
  case when (doc_id * 2654435761) % 1000 < least(n_chars, 999) then 1 else 0 end as y
from documents"""


def q_auc_score(spark, sf_dir):
    """Exact tie-aware Mann-Whitney ROC-AUC of the length-correlated
    label vs the length score. Distinct-score collapse first, so the
    ordered pass is O(|distinct scores|)."""
    return evalmetrics.binary_auc(_scored_docs(spark, sf_dir), "s", "y")


O_AUC_SCORE = f"""
with sc as ({_SCORED_DOCS_SQL}),
g as (select s, count(*) as cnt, sum(y) as pos from sc group by s),
c as (select cnt, pos,
  coalesce(sum(cnt) over (order by s rows between unbounded preceding and 1 preceding), 0) as cb
 from g),
a as (select
  sum(cast(pos as hugeint) * (2 * cast(cb as hugeint) + cnt + 1)) as tr,
  cast(sum(pos) as bigint) as n1,
  cast(sum(cnt) - sum(pos) as bigint) as n0
 from c)
select n1 as n_pos, n0 as n_neg,
  {_r6x_sql("cast(tr - cast(n1 as hugeint) * (n1 + 1) as double) / cast(2 * cast(n1 as hugeint) * n0 as double)")} as auc
from a
"""

QUERIES["auc_score"] = q_auc_score
ORACLES["auc_score"] = O_AUC_SCORE


def q_confusion_metrics(spark, sf_dir):
    """Thresholded confusion counts + accuracy/precision/recall/F1 in one
    map-side-combinable aggregate (threshold = 128 chars)."""
    return evalmetrics.confusion_report(_scored_docs(spark, sf_dir), "s", "y", 128)


O_CONFUSION_METRICS = f"""
with sc as ({_SCORED_DOCS_SQL}),
a as (select
  cast(sum(case when s >= 128 and y = 1 then 1 else 0 end) as bigint) as tp,
  cast(sum(case when s >= 128 and y = 0 then 1 else 0 end) as bigint) as fp,
  cast(sum(case when s < 128 and y = 1 then 1 else 0 end) as bigint) as fn,
  cast(sum(case when s < 128 and y = 0 then 1 else 0 end) as bigint) as tn
 from sc)
select tp, fp, fn, tn,
  {_r6x_sql("(cast(tp as double) + cast(tn as double)) / (cast(tp as double) + cast(fp as double) + cast(fn as double) + cast(tn as double))")} as accuracy,
  {_r6x_sql("cast(tp as double) / (cast(tp as double) + cast(fp as double))")} as precision,
  {_r6x_sql("cast(tp as double) / (cast(tp as double) + cast(fn as double))")} as recall,
  {_r6x_sql("2.0 * cast(tp as double) / (2.0 * cast(tp as double) + cast(fp as double) + cast(fn as double))")} as f1
from a
"""

QUERIES["confusion_metrics"] = q_confusion_metrics
ORACLES["confusion_metrics"] = O_CONFUSION_METRICS


def _calib_docs(spark, sf_dir):
    """Rational probability score pnum/999 with a label drawn at exactly
    that rate by a second independent integer hash — a perfectly
    calibrated synthetic classifier, so bin gaps measure only estimator
    noise."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    num = (F.col("doc_id") * F.lit(2654435761)) % 1000
    y = ((F.col("doc_id") * 97 + 13) % 999 < num).cast("int")
    return docs.select(num.alias("pnum"), y.alias("y"))


_CALIB_DOCS_SQL = """select (doc_id * 2654435761) % 1000 as pnum,
  case when (doc_id * 97 + 13) % 999 < (doc_id * 2654435761) % 1000 then 1 else 0 end as y
from documents"""

_CALIB_BIN_SQL = "least(cast(floor(pnum * 10 / 999) as bigint), 9)"


def q_calibration_bins(spark, sf_dir):
    """Reliability-diagram bins (10) for the rational-probability score:
    per-bin count, mean confidence, empirical accuracy, |gap|. Integer
    binning — no float-edge nondeterminism."""
    return evalmetrics.calibration_bins(_calib_docs(spark, sf_dir), "pnum", 999, "y", 10)


O_CALIBRATION_BINS = f"""
with c as ({_CALIB_DOCS_SQL}),
g as (select {_CALIB_BIN_SQL} as bin,
  cast(count(*) as bigint) as n,
  cast(sum(pnum) as bigint) as num_sum,
  cast(sum(y) as bigint) as pos
 from c group by 1)
select bin, n,
  {_r6x_sql("cast(num_sum as double) / (cast(n as double) * 999.0)")} as conf,
  {_r6x_sql("cast(pos as double) / cast(n as double)")} as acc,
  {_r6x_sql("abs(cast(num_sum as double) / (cast(n as double) * 999.0) - cast(pos as double) / cast(n as double))")} as abs_gap
from g
"""

QUERIES["calibration_bins"] = q_calibration_bins
ORACLES["calibration_bins"] = O_CALIBRATION_BINS


def q_calibration_ece(spark, sf_dir):
    """One-row expected calibration error: the whole statistic reduces to
    a single exact-integer sum |pos*den - num_sum| over bins, divided
    once (see evalmetrics.expected_calibration_error)."""
    return evalmetrics.expected_calibration_error(
        _calib_docs(spark, sf_dir), "pnum", 999, "y", 10
    )


O_CALIBRATION_ECE = f"""
with c as ({_CALIB_DOCS_SQL}),
g as (select {_CALIB_BIN_SQL} as bin, count(*) as n, sum(pnum) as num_sum, sum(y) as pos
 from c group by 1),
a as (select cast(sum(n) as bigint) as n_rows, cast(count(*) as bigint) as n_bins_used,
  sum(abs(cast(pos as hugeint) * 999 - cast(num_sum as hugeint))) as gsum
 from g)
select n_rows, n_bins_used,
  {_r6x_sql("cast(gsum as double) / (cast(n_rows as double) * 999.0)")} as ece
from a
"""

QUERIES["calibration_ece"] = q_calibration_ece
ORACLES["calibration_ece"] = O_CALIBRATION_ECE


def q_ks_test(spark, sf_dir):
    """Exact two-sample Kolmogorov-Smirnov D between the en and es
    doc-length distributions — integer cross-multiplied ECDF gap, one
    division at the end."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return evalmetrics.ks_two_sample(docs, "n_chars", "lang", "en", "es")


O_KS_TEST = f"""
with b as (select n_chars as v,
  case when lang = 'en' then 1 else 0 end as ia,
  case when lang = 'es' then 1 else 0 end as ib
 from documents where lang in ('en', 'es')),
g as (select v, sum(ia) as ca, sum(ib) as cb from b group by v),
c as (select
  sum(ca) over (order by v rows between unbounded preceding and current row) as cum_a,
  sum(cb) over (order by v rows between unbounded preceding and current row) as cum_b
 from g),
t as (select cum_a, cum_b, max(cum_a) over () as n_a, max(cum_b) over () as n_b from c),
a as (select
  max(abs(cast(cum_a as hugeint) * n_b - cast(cum_b as hugeint) * n_a)) as mg,
  cast(max(n_a) as bigint) as n_a, cast(max(n_b) as bigint) as n_b
 from t)
select n_a, n_b,
  {_r6x_sql("cast(mg as double) / cast(cast(n_a as hugeint) * n_b as double)")} as d_stat
from a
"""

QUERIES["ks_test"] = q_ks_test
ORACLES["ks_test"] = O_KS_TEST


def q_gini_lengths(spark, sf_dir):
    """Per-source Gini concentration of doc lengths — rank-weighted sum
    form, tie-order free (equal values make the rank weights fungible)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = evalmetrics.gini_by_group(docs, "n_chars", "source")
    return out.select(F.col("grp").alias("source"), "n", "total", "gini")


O_GINI_LENGTHS = f"""
with r as (select source as grp, n_chars as x,
  row_number() over (partition by source order by n_chars asc) as i
 from documents),
g as (select grp, cast(count(*) as bigint) as n,
  sum(cast(x as hugeint)) as s, sum(cast(i as hugeint) * x) as s1
 from r group by grp)
select grp as source, n, cast(s as bigint) as total,
  {_r6x_sql("cast(2 * s1 - (cast(n as hugeint) + 1) * s as double) / cast(cast(n as hugeint) * s as double)")} as gini
from g
"""

QUERIES["gini_lengths"] = q_gini_lengths
ORACLES["gini_lengths"] = O_GINI_LENGTHS


def q_entropy_report(spark, sf_dir):
    """Per-source Shannon entropy (nats) of the language mix — nano-log
    integer weighted sums, two map-side-combinable groupBys, no sorts."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = evalmetrics.entropy_by_group(docs, "lang", "source")
    return out.select(F.col("grp").alias("source"), "n", "k_distinct", "entropy")


O_ENTROPY_REPORT = f"""
with kc as (select source as grp, lang as k, count(*) as cnt
 from documents group by 1, 2),
g as (select grp, cast(sum(cnt) as bigint) as n, cast(count(*) as bigint) as k_distinct,
  sum(cast(cnt as hugeint) * cast(floor(ln(cast(cnt as double)) * 1000000000.0 + 0.5) as hugeint)) as wl
 from kc group by grp)
select grp as source, n, k_distinct,
  {_r6x_sql("floor(ln(cast(n as double)) * 1000000000.0 + 0.5) / 1000000000.0 - cast(wl as double) / cast(n as double) / 1000000000.0")} as entropy
from g
"""

QUERIES["entropy_report"] = q_entropy_report
ORACLES["entropy_report"] = O_ENTROPY_REPORT


# --- reciprocal-rank fusion of exact + quantized retrieval -----------------------------

def q_rrf_fusion(spark, sf_dir):
    """Hybrid-retrieval fusion: exact-cosine top-10 and int8-quantized
    cosine top-10 per query fuse by reciprocal rank (1/(60+rank), integer
    nanos) — the standard two-retriever merge, here doubling as a
    quantization-error recovery pass (functions/ranking.
    reciprocal_rank_fusion). Quantized scoring is all-integer (q lanes),
    so its ranking is engine-exact by construction."""
    from ..functions import ranking

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.where(F.col("vec_id") % 20 == 0)
    exact = similarity.brute_force_topk(
        emb, k=10, query=queries.select("vec_id", "embedding")
    ).select("query_id", F.col("neighbor_id").alias("doc_id"), "rank")

    # Quantized ranking via the same GEMM engine as the exact path (the
    # rbo rationale: int8-code vectors make every dot product an exact
    # float64 integer, so cosine and the (cos desc, doc_id) tie order are
    # bit-identical across engines — and the queries x corpus crossJoin of
    # interpreted HOF cosines disappears; 5.6 -> ~2 s at sf0.1).
    q8 = similarity.quantize_embeddings_int8(emb).select(
        "vec_id",
        F.transform(F.col("embedding_q8"), lambda x: x.cast("double")).alias("qv"),
    )
    qq = q8.where(F.col("vec_id") % 20 == 0)
    quant = similarity.brute_force_topk(
        q8, id_col="vec_id", vec_col="qv", k=10, query=qq
    ).select("query_id", F.col("neighbor_id").alias("doc_id"), "rank")
    return ranking.reciprocal_rank_fusion([exact, quant], k_const=60, top_k=10)


O_RRF_FUSION = f"""
with e as (select vec_id, embedding::DOUBLE[] as v from embeddings),
p1 as (
  select q.vec_id as query_id, b.vec_id as doc_id,
    list_dot_product(q.v, b.v)
      / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(b.v, b.v)) + {DIVISION_GUARD_EPS}) as cos
  from e q, e b where q.vec_id % 20 = 0 and b.vec_id != q.vec_id
),
r1 as (
  select query_id, doc_id,
    row_number() over (partition by query_id order by cos desc, doc_id) as rnk
  from p1
),
qe as (
  select vec_id,
    list_transform(v, x -> cast(case when mx > 0
      then greatest(-127.0, least(127.0, floor(x * 127.0 / mx + 0.5)))
      else 0.0 end as double)) as qv
  from (select vec_id, v, (select max(abs(u.x)) from unnest(v) as u(x)) as mx from e)
),
p2 as (
  select q.vec_id as query_id, b.vec_id as doc_id,
    list_dot_product(q.qv, b.qv)
      / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(b.qv, b.qv)) + {DIVISION_GUARD_EPS}) as cos
  from qe q, qe b where q.vec_id % 20 = 0 and b.vec_id != q.vec_id
),
r2 as (
  select query_id, doc_id,
    row_number() over (partition by query_id order by cos desc, doc_id) as rnk
  from p2
),
u as (
  select query_id, doc_id,
    cast(floor(1000000000.0 / (60 + rnk) + 0.5) as bigint) as c
  from r1 where rnk <= 10
  union all
  select query_id, doc_id,
    cast(floor(1000000000.0 / (60 + rnk) + 0.5) as bigint) as c
  from r2 where rnk <= 10
),
f as (select query_id, doc_id, cast(sum(c) as bigint) as rrf_nano from u group by 1, 2),
fr as (
  select query_id, doc_id, rrf_nano,
    row_number() over (partition by query_id order by rrf_nano desc, doc_id) as fused_rank
  from f
)
select query_id, doc_id, rrf_nano, cast(fused_rank as int) as fused_rank
from fr where fused_rank <= 10
"""

QUERIES["rrf_fusion"] = q_rrf_fusion
ORACLES["rrf_fusion"] = O_RRF_FUSION


# --- incremental aggregate-state maintenance -------------------------------------------

def q_incremental_rollup(spark, sf_dir):
    """Materialized-view maintenance: 90% of events form the standing
    per-user aggregate state, the other 10% arrive as a delta batch and
    MERGE in (full-outer coalesce-arithmetic on the commutative monoid
    (cnt, sum, min, max)) — never rescanning history
    (operators/cdc.partial_aggregate / merge_partial_aggregates)."""
    from ..operators import cdc

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id",
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("cents"),
    )
    state = cdc.partial_aggregate(ev.where(F.col("event_id") % 10 != 0), "user_id", "cents")
    delta = cdc.partial_aggregate(ev.where(F.col("event_id") % 10 == 0), "user_id", "cents")
    out = cdc.merge_partial_aggregates(state, delta)
    return out.select(F.col("key").alias("user_id"), "cnt", "sum_v", "min_v", "max_v")


O_INCREMENTAL_ROLLUP = """
with ev as (
  select event_id, user_id, cast(floor(value * 100.0 + 0.5) as bigint) as cents
  from events
),
s as (
  select user_id as key, count(*) as cnt, sum(cents) as sum_v,
    min(cents) as min_v, max(cents) as max_v
  from ev where event_id % 10 != 0 group by 1
),
d as (
  select user_id as key, count(*) as cnt, sum(cents) as sum_v,
    min(cents) as min_v, max(cents) as max_v
  from ev where event_id % 10 = 0 group by 1
)
select coalesce(s.key, d.key) as user_id,
  cast(coalesce(s.cnt, 0) + coalesce(d.cnt, 0) as bigint) as cnt,
  cast(coalesce(s.sum_v, 0) + coalesce(d.sum_v, 0) as bigint) as sum_v,
  cast(least(coalesce(s.min_v, d.min_v), coalesce(d.min_v, s.min_v)) as bigint) as min_v,
  cast(greatest(coalesce(s.max_v, d.max_v), coalesce(d.max_v, s.max_v)) as bigint) as max_v
from s full outer join d on s.key = d.key
"""

QUERIES["incremental_rollup"] = q_incremental_rollup
ORACLES["incremental_rollup"] = O_INCREMENTAL_ROLLUP


# --- per-conversation MAD outlier flags ------------------------------------------------

def q_mad_outliers(spark, sf_dir):
    """Per-conversation robust outlier flags on `value`:
    |x - median| > 3 * MAD with exact per-group medians over integer
    cents (normalization.mad_outliers_by_group)."""
    from .. import normalization

    t = transcripts_from_events(spark, sf_dir)
    out = normalization.mad_outliers_by_group(
        t.select("conv_id", "turn_idx", "value"), "value", "conv_id", k=3.0, scale=100
    )
    return out.select(
        "conv_id", "turn_idx", "x_int",
        _r6x(F.col("med"), "med"), _r6x(F.col("mad"), "mad"), "is_outlier",
    )


O_MAD_OUTLIERS = f"""{_W},
b as (
  select conv_id, turn_idx,
    cast(floor(value * 100.0 + 0.5) as bigint) as xi
  from transcripts
),
m as (select conv_id, quantile_cont(xi, 0.5) as med from b group by 1),
d as (select b.conv_id, b.turn_idx, b.xi, m.med from b join m using (conv_id)),
md as (select conv_id, quantile_cont(abs(xi - med), 0.5) as mad from d group by 1)
select d.conv_id, d.turn_idx, d.xi as x_int,
  {_r6x_sql("d.med")} as med,
  {_r6x_sql("md.mad")} as mad,
  md.mad > 0 and abs(d.xi - d.med) > 3.0 * md.mad as is_outlier
from d join md using (conv_id)
"""

QUERIES["mad_outliers"] = q_mad_outliers
ORACLES["mad_outliers"] = O_MAD_OUTLIERS


# --- product-quantization codes --------------------------------------------------------

def q_pq_codes(spark, sf_dir):
    """Product quantization: 16-dim embeddings -> 4 subspaces x 4-centroid
    codebooks (spherical kmeans, 1 Lloyd round, deterministic init);
    output is the (vec_id, code_0..code_3) compressed encoding
    (operators/similarity.pq_codes)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    return similarity.pq_codes(emb, m=4, k=4, iters=1, dim=16)


def _pq_oracle(m: int = 4, k: int = 4, iters: int = 1, dim: int = 16) -> str:
    d = dim // m
    subs = []
    for s in range(m):
        source = (
            f"select vec_id, (embedding::DOUBLE[])[{s * d + 1}:{(s + 1) * d}] as v "
            "from embeddings"
        )
        inner = _kmeans_oracle(k=k, iters=iters, source=source, head="with")
        inner = inner.replace(
            "select vec_id, cast(centroid_id as int) as cluster",
            f"select vec_id, cast(centroid_id as int) as code_{s}",
        )
        subs.append(f"q{s} as (\n{inner}\n)")
    joins = "\n".join(f"join q{s} using (vec_id)" for s in range(1, m))
    cols = ", ".join(f"code_{s}" for s in range(m))
    # each subspace keeps its own (scoped) WITH inside its CTE body
    derived = ",\n".join(subs)
    return f"with {derived}\nselect vec_id, {cols} from q0\n{joins}"


QUERIES["pq_codes"] = q_pq_codes
ORACLES["pq_codes"] = _pq_oracle()


# --- chi-squared feature selection ----------------------------------------------------

def q_chi2_features(spark, sf_dir):
    """Word-language chi-squared association screen over the top-100
    vocabulary: presence-based 2x2 per (word, lang), exact decimal
    integer products, zero cells restored by a tiny dimension crossJoin
    (functions/corpus.chi2_feature_selection)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus.chi2_feature_selection(docs, "lang", "doc_id", "text", vocab_k=100)


O_CHI2_FEATURES = f"""
with norm as (
  select doc_id, lang,
    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') as words
  from documents
),
topv as (
  select word from (
    select word, count(*) as cnt
    from (select unnest(words) as word from norm)
    group by word order by cnt desc, word asc limit 100
  )
),
wd as (select doc_id, lang, unnest(list_distinct(words)) as word from norm),
pres as (select wd.doc_id, wd.lang as lbl, wd.word from wd join topv using (word)),
a_cnt as (select word, lbl, count(*) as a from pres group by 1, 2),
w_cnt as (select word, count(distinct doc_id) as w_docs from pres group by 1),
l_cnt as (select lang as lbl, count(*) as l_docs from documents group by 1),
n_tot as (select count(*) as n_docs from documents),
cells as (
  select t.word, l.lbl,
    cast(coalesce(a.a, 0) as hugeint) as a,
    cast(w.w_docs as hugeint) - cast(coalesce(a.a, 0) as hugeint) as b,
    cast(l.l_docs as hugeint) - cast(coalesce(a.a, 0) as hugeint) as c,
    cast(n.n_docs as hugeint) as n
  from topv t
  cross join l_cnt l
  join w_cnt w on w.word = t.word
  left join a_cnt a on a.word = t.word and a.lbl = l.lbl
  cross join n_tot n
),
full_cells as (select word, lbl, a, b, c, n - a - b - c as d, n from cells)
select word, lbl as label, cast(a as bigint) as n_docs_with,
  {_r6x_sql("case when (a + b) * (c + d) * (a + c) * (b + d) > 0 then cast(n * (a * d - b * c) * (a * d - b * c) as double) / cast((a + b) * (c + d) * (a + c) * (b + d) as double) else 0.0 end")} as chi2
from full_cells
"""

QUERIES["chi2_features"] = q_chi2_features
ORACLES["chi2_features"] = O_CHI2_FEATURES


# --- purged chronological split with embargo -----------------------------------------

def q_purged_split(spark, sf_dir):
    """Per-conversation purged walk-forward split: last 1/5 of turns =
    test, the 3 turns before = embargo (excluded — rolling features
    computed at train time would peek into test), rest = train. Exact
    integer DIV rank arithmetic (batch.purged_split)."""
    from .. import batch

    t = transcripts_from_events(spark, sf_dir)
    out = batch.purged_split(t, CFG, test_frac_num=1, test_frac_den=5, embargo_turns=3)
    return out.select("conv_id", "turn_idx", "split")


O_PURGED_SPLIT = f"""{_W},
t as (
  select conv_id, turn_idx,
    row_number() over ({_OWIN}) as i,
    count(*) over (partition by conv_id) as n
  from transcripts
)
select conv_id, turn_idx,
  case when i > n - ((n * 1 + 5 - 1) // 5) then 'test'
       when i > n - ((n * 1 + 5 - 1) // 5) - 3 then 'embargo'
       else 'train' end as split
from t
"""

QUERIES["purged_split"] = q_purged_split
ORACLES["purged_split"] = O_PURGED_SPLIT


# --- Cohen's kappa --------------------------------------------------------------------

def q_cohens_kappa(spark, sf_dir):
    """Chance-corrected agreement between the length-threshold classifier
    and the hash-drawn label — integer-fed po/pe, one aggregate
    (functions/evalmetrics.cohens_kappa)."""
    d = _scored_docs(spark, sf_dir).select(
        (F.col("s") >= 128).cast("int").alias("p"), "y"
    )
    return evalmetrics.cohens_kappa(d, "p", "y")


O_COHENS_KAPPA = f"""
with sc as ({_SCORED_DOCS_SQL}),
c as (select case when s >= 128 then 1 else 0 end as p, y from sc),
a as (select
  cast(sum(p * y) as hugeint) as tp,
  cast(sum(p * (1 - y)) as hugeint) as fp,
  cast(sum((1 - p) * y) as hugeint) as fn,
  cast(sum((1 - p) * (1 - y)) as hugeint) as tn
 from c),
s2 as (select
  tp + fp + fn + tn as n,
  (tp + fp + fn + tn) * (tp + tn) as po_num,
  (tp + fp) * (tp + fn) + (fn + tn) * (fp + tn) as pe_num,
  (tp + fp + fn + tn) * (tp + fp + fn + tn) as n2
 from a)
select cast(n as bigint) as n,
  {_r6x_sql("cast(po_num as double) / cast(n2 as double)")} as po,
  {_r6x_sql("cast(pe_num as double) / cast(n2 as double)")} as pe,
  {_r6x_sql("case when n2 != pe_num then cast(po_num - pe_num as double) / cast(n2 - pe_num as double) else 0.0 end")} as kappa
from s2
"""

QUERIES["cohens_kappa"] = q_cohens_kappa
ORACLES["cohens_kappa"] = O_COHENS_KAPPA


# --- Heaps'-law vocabulary-growth fit ---------------------------------------------------

def q_heaps_fit(spark, sf_dir):
    """Heaps'-law fit V(n) = K*n^beta over doc-id-ordered cumulative
    (tokens, vocab) boundary points — companion diagnostic to zipf_fit
    (functions/corpus.heaps_fit; integer nano-log OLS sums)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = corpus.heaps_fit(docs)
    return out.select(
        "n_points", _r6x(F.col("beta"), "beta"), _r6x(F.col("ln_k"), "ln_k")
    )


_HEAPS_BETA = (
    "(cast(n as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double))"
    " / (cast(n as double) * cast(sxx as double) - cast(sx as double) * cast(sx as double))"
)

O_HEAPS_FIT = f"""
with {_WORDS_CTE},
wx as (select doc_id, unnest(words) as word from w),
tok as (select doc_id, count(*) as toks from wx group by 1),
fo as (select min(doc_id) as doc_id from wx group by word),
nw as (select doc_id, count(*) as newv from fo group by 1),
c as (
  select sum(t.toks) over (order by t.doc_id) as n_cum,
         sum(coalesce(nv.newv, 0)) over (order by t.doc_id) as v_cum
  from tok t left join nw nv using (doc_id)
),
q as (
  select cast(floor(ln(cast(n_cum as double)) * 1000000000.0 + 0.5) as bigint) as x,
         cast(floor(ln(cast(v_cum as double)) * 1000000000.0 + 0.5) as bigint) as y
  from c where n_cum > 0 and v_cum > 0
),
s as (
  select cast(count(*) as bigint) as n,
    cast(sum(x) as bigint) as sx, cast(sum(y) as bigint) as sy,
    sum(cast(x as hugeint) * cast(x as hugeint)) as sxx,
    sum(cast(x as hugeint) * cast(y as hugeint)) as sxy
  from q
)
select n as n_points,
  {_r6x_sql(_HEAPS_BETA)} as beta,
  {_r6x_sql(f"(cast(sy as double) - ({_HEAPS_BETA}) * cast(sx as double)) / cast(n as double) / 1000000000.0")} as ln_k
from s
"""

QUERIES["heaps_fit"] = q_heaps_fit
ORACLES["heaps_fit"] = O_HEAPS_FIT


# --- inverted-index all-pairs TF-IDF cosine ---------------------------------------------

def q_tfidf_cosine_pairs(spark, sf_dir):
    """All-pairs sparse TF-IDF cosine over an inverted-index self-join
    with a fractional hot-term df cap (functions/corpus.
    tfidf_cosine_pairs) — the Bayardo all-pairs shape; pair membership
    decided by an all-integer cross-multiplied threshold, never by a
    float."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus.tfidf_cosine_pairs(docs, threshold_pct=30, max_df_frac=0.1)


O_TFIDF_COSINE_PAIRS = f"""
with {_WORDS_CTE},
wx as (select doc_id as id, unnest(words) as word from w),
tf as (select id, word, cast(count(*) as bigint) as tf from wx group by 1, 2),
nn as (select cast(count(*) as double) as n_docs from documents),
dfq as (
  select word, cast(count(*) as bigint) as df from tf
  group by 1
  having count(*) >= 2
     and cast(count(*) as double) <= 0.1 * (select n_docs from nn)
),
wt as (
  select tf.id, tf.word,
    tf.tf * cast(floor(ln(1.0 + (select n_docs from nn) / cast(dfq.df as double))
                       * 1000.0 + 0.5) as bigint) as wgt
  from tf join dfq using (word)
),
nrm as (select id, sum(cast(wgt as hugeint) * cast(wgt as hugeint)) as nrm2 from wt group by 1),
dots as (
  select a.id as id_a, b.id as id_b,
    sum(cast(a.wgt as hugeint) * cast(b.wgt as hugeint)) as dot
  from wt a join wt b using (word) where a.id < b.id group by 1, 2
),
f as (
  select d.id_a, d.id_b, d.dot, na.nrm2 as na2, nb.nrm2 as nb2
  from dots d
  join nrm na on na.id = d.id_a
  join nrm nb on nb.id = d.id_b
  where d.dot * d.dot * 10000 >= 900 * na.nrm2 * nb.nrm2
)
select id_a, id_b,
  floor(cast(dot as double) / (sqrt(cast(na2 as double)) * sqrt(cast(nb2 as double)))
        * 1000000.0 + 0.5) / 1000000.0 as cosine
from f
"""

QUERIES["tfidf_cosine_pairs"] = q_tfidf_cosine_pairs
ORACLES["tfidf_cosine_pairs"] = O_TFIDF_COSINE_PAIRS


# --- per-user arrival burstiness (Fano moments) -----------------------------------------

def q_event_burstiness(spark, sf_dir):
    """Per-user Fano-factor moment sums over hourly arrival buckets
    (operators/volatility.fano_burstiness) — all-integer output; Fano =
    (sumsq*n - sum^2)/(n*sum) recoverable exactly."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return vol_mod.fano_burstiness(ev, key_col="user_id", ts_col="ts", bucket_s=3600)


O_EVENT_BURSTINESS = """
with b as (
  select user_id, epoch_us(ts) - (epoch_us(ts) % 3600000000) as b
  from events
),
c as (select user_id, b, cast(count(*) as bigint) as c from b group by 1, 2)
select user_id,
  cast(count(*) as bigint) as n_buckets,
  cast(sum(c) as bigint) as cnt_sum,
  cast(sum(cast(c as hugeint) * cast(c as hugeint)) as bigint) as cnt_sumsq
from c group by user_id
"""

QUERIES["event_burstiness"] = q_event_burstiness
ORACLES["event_burstiness"] = O_EVENT_BURSTINESS


# --- TPC-H Q4 analog: semi-join order-priority check ------------------------------------

def q_late_shipment_orders(spark, sf_dir):
    """Orders with at least one line shipped > 60 days after the order
    date, counted per priority — TPC-H Q4's EXISTS shape as a LEFT SEMI
    join (lineitem never fans out the orders side; Catalyst pushes the
    date arithmetic into the join condition). Integer-count output."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    late = orders.join(
        li,
        (orders["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > orders["o_orderdate"] + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("order_count")
    )


O_LATE_SHIPMENT_ORDERS = """
select o.o_orderpriority, cast(count(*) as bigint) as order_count
from orders o
where exists (
  select 1 from lineitem l
  where l.l_orderkey = o.o_orderkey
    and l.l_shipdate > o.o_orderdate + interval 60 day
)
group by o.o_orderpriority
"""

QUERIES["late_shipment_orders"] = q_late_shipment_orders
ORACLES["late_shipment_orders"] = O_LATE_SHIPMENT_ORDERS


# --- TPC-H Q22 analog: anti-join sales opportunity --------------------------------------

def q_sales_opportunity(spark, sf_dir):
    """Customers with above-average positive balance and no RECENT
    orders (none since 2000-01-01), rolled up per nation — TPC-H Q22's
    NOT EXISTS as a LEFT ANTI join plus a 1-row broadcast for the global
    average. The date filter pushes into the anti side's parquet scan;
    the above-average predicate is the exact integer cross-multiplication
    bal_cents * n_pos > sum_pos_cents (no float average ever decides
    row membership)."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_nationkey",
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("bal_c"),
    )
    stats = cust.where(F.col("bal_c") > 0).agg(
        F.sum("bal_c").cast("long").alias("pos_sum"),
        F.count(F.lit(1)).cast("long").alias("pos_n"),
    )
    orders = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .where(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    eligible = (
        cust.crossJoin(F.broadcast(stats))
        .where(F.col("bal_c") * F.col("pos_n") > F.col("pos_sum"))
        .join(orders, cust["c_custkey"] == orders["o_custkey"], "left_anti")
    )
    return eligible.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("numcust"),
        F.sum("bal_c").cast("long").alias("totacctbal_c"),
    )


O_SALES_OPPORTUNITY = """
with c as (
  select c_custkey, c_nationkey, cast(round(c_acctbal * 100, 0) as bigint) as bal_c
  from customer
),
s as (
  select cast(sum(bal_c) as bigint) as pos_sum, cast(count(*) as bigint) as pos_n
  from c where bal_c > 0
),
el as (
  select c.* from c, s
  where c.bal_c * s.pos_n > s.pos_sum
    and not exists (
      select 1 from orders o
      where o.o_custkey = c.c_custkey
        and o.o_orderdate >= timestamp '2000-01-01'
    )
)
select c_nationkey, cast(count(*) as bigint) as numcust,
  cast(sum(bal_c) as bigint) as totacctbal_c
from el group by c_nationkey
"""

QUERIES["sales_opportunity"] = q_sales_opportunity
ORACLES["sales_opportunity"] = O_SALES_OPPORTUNITY


# --- Theil-Sen robust pacing ------------------------------------------------------------

def q_theil_sen_pacing(spark, sf_dir):
    """Robust µs-per-turn pacing per conversation: exact lower median of
    all pairwise (ts_j-ts_i) div (j-i) slopes (operators/volatility.
    theil_sen_pacing) — all-integer Theil-Sen."""
    return vol_mod.theil_sen_pacing(_t(spark, sf_dir), CFG)


O_THEIL_SEN_PACING = f"""{_W},
t as (select conv_id, cast(turn_idx as bigint) as ti, epoch_us(ts) as us from transcripts),
p as (
  select a.conv_id, (b.us - a.us) // (b.ti - a.ti) as slope_us
  from t a join t b on a.conv_id = b.conv_id and a.ti < b.ti
),
r as (
  select conv_id, slope_us,
    row_number() over (partition by conv_id order by slope_us asc) as rn,
    count(*) over (partition by conv_id) as n_pairs
  from p
)
select conv_id, cast(n_pairs as bigint) as n_pairs, slope_us as med_slope_us
from r where rn = (n_pairs + 1) // 2
"""

QUERIES["theil_sen_pacing"] = q_theil_sen_pacing
ORACLES["theil_sen_pacing"] = O_THEIL_SEN_PACING


# --- k-NN label-noise audit -------------------------------------------------------------

def q_knn_label_noise(spark, sf_dir):
    """Label-noise screen: neighborhood label agreement over exact
    cosine k-NN for a deterministic 1/10 sample (operators/similarity.
    knn_label_agreement) — integer votes, cleanlab-style flag."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return similarity.knn_label_agreement(emb, k=5, sample_mod=10)


O_KNN_LABEL_NOISE = f"""
with e as (select vec_id, embedding::DOUBLE[] as v, label from embeddings),
p as (
  select q.vec_id as query_id, b.vec_id as neighbor_id, q.label as q_label,
    b.label as n_label,
    list_dot_product(q.v, b.v)
      / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(b.v, b.v)) + {DIVISION_GUARD_EPS}) as cos
  from e q, e b where q.vec_id % 10 = 0 and b.vec_id != q.vec_id
),
r as (
  select *, row_number() over (partition by query_id order by cos desc, neighbor_id) as rnk
  from p
),
g as (
  select query_id, cast(q_label as bigint) as label,
    cast(count(*) as bigint) as n_neighbors,
    cast(sum(case when n_label = q_label then 1 else 0 end) as bigint) as n_agree
  from r where rnk <= 5 group by 1, 2
)
select query_id, label, n_neighbors, n_agree,
  (n_agree * 2 < n_neighbors) as noise_flag
from g
"""

QUERIES["knn_label_noise"] = q_knn_label_noise
ORACLES["knn_label_noise"] = O_KNN_LABEL_NOISE


# --- top-k event path trigrams ----------------------------------------------------------

def q_event_path_trigrams(spark, sf_dir):
    """Dominant per-user 3-step event paths (operators/sequence.
    path_ngrams) — sequential-pattern mining lite; integer counts,
    lexicographic tie-break."""
    from ..operators import sequence

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sequence.path_ngrams(
        ev, key_col="user_id", step_col="event_type",
        order_cols=("ts", "event_id"), n=3, top_k=20,
    )


O_EVENT_PATH_TRIGRAMS = """
with s as (
  select user_id, event_type,
    lead(event_type, 1) over w as s2,
    lead(event_type, 2) over w as s3
  from events
  window w as (partition by user_id order by ts asc, event_id asc)
),
g as (
  select event_type || '>' || s2 || '>' || s3 as path, cast(count(*) as bigint) as cnt
  from s where s3 is not null and s2 is not null
  group by 1
),
t as (select path, cnt, row_number() over (order by cnt desc, path asc) as rank from g)
select cast(rank as bigint) as rank, path, cnt from t where rank <= 20
"""

QUERIES["event_path_trigrams"] = q_event_path_trigrams
ORACLES["event_path_trigrams"] = O_EVENT_PATH_TRIGRAMS


# --- exact embedding covariance sufficient statistic ------------------------------------

def q_embedding_covariance(spark, sf_dir):
    """Upper-triangular covariance sufficient statistics over
    micro-quantized embedding lanes (operators/similarity.
    embedding_covariance) — the distributed stage of PCA; every sum an
    exact decimal integer."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return similarity.embedding_covariance(emb)


O_EMBEDDING_COVARIANCE = """
with l as (
  select vec_id,
    generate_subscripts(embedding, 1) - 1 as i,
    cast(floor(cast(unnest(embedding) as double) * 1000000.0 + 0.5) as bigint) as q
  from embeddings
),
c as (
  select a.i as i, b.i as j,
    cast(count(*) as bigint) as n,
    cast(sum(a.q) as bigint) as s_i,
    cast(sum(b.q) as bigint) as s_j,
    sum(cast(a.q as hugeint) * cast(b.q as hugeint)) as s_ij
  from l a join l b on a.vec_id = b.vec_id and a.i <= b.i
  group by 1, 2
)
select i, j, n, s_i, s_j, cast(s_ij as varchar) as s_ij,
  floor(cast(cast(n as hugeint) * s_ij - cast(s_i as hugeint) * cast(s_j as hugeint) as double)
        / (cast(n as double) * cast(n as double)) / 1000000000000.0
        * 1000000.0 + 0.5) / 1000000.0 as cov
from c
"""

QUERIES["embedding_covariance"] = q_embedding_covariance
ORACLES["embedding_covariance"] = O_EMBEDDING_COVARIANCE


# --- Efraimidis-Spirakis weighted sampling ----------------------------------------------

def q_weighted_sample(spark, sf_dir):
    """Deterministic weight-proportional sample without replacement
    (functions/corpus.weighted_sample): rank by nano-quantized ln(U)/w,
    U from md5(id) — the size-biased corpus subsample."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus.weighted_sample(docs, k=50, weight_col="n_chars")


_NIB_ES = "strpos('0123456789abcdef', substr(h, {i}, 1)) - 1"
_HEX13 = " + ".join(f"({_NIB_ES.format(i=i + 1)}) * {16 ** (12 - i)}" for i in range(13))

O_WEIGHTED_SAMPLE = f"""
with h as (
  select doc_id as id, greatest(cast(n_chars as double), 1.0) as w,
    md5(cast(doc_id as varchar)) as h
  from documents
),
k as (
  select id,
    cast(floor(ln((cast(({_HEX13}) as double) + 0.5) / {float(1 << 52)!r})
               / w * 1000000000.0) as bigint) as es_key_nano
  from h
),
t as (
  select id, es_key_nano,
    row_number() over (order by es_key_nano desc, id asc) as rank
  from k
)
select cast(rank as bigint) as rank, id, es_key_nano from t where rank <= 50
"""

QUERIES["weighted_sample"] = q_weighted_sample
ORACLES["weighted_sample"] = O_WEIGHTED_SAMPLE


# --- sorted-neighborhood blocking -------------------------------------------------------

def q_sorted_neighborhood(spark, sf_dir):
    """Sorted-neighborhood candidate pairs (operators/dedup.
    sorted_neighborhood_pairs): normalized-key sort order, exploded-offset
    equi-join within 3 ranks, exact-match flag for the verifier."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.sorted_neighborhood_pairs(docs, window=3)


O_SORTED_NEIGHBORHOOD = """
with kx as (
  select doc_id as id,
    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') as k,
    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) as dig
  from documents
),
r as (select id, dig, row_number() over (order by k asc, id asc) as rnk from kx),
o as (select unnest([1, 2, 3]) as off)
select a.id as id_a, b.id as id_b,
  cast(o.off as bigint) as rank_gap,
  (a.dig = b.dig) as same_text
from r a
cross join o
join r b on b.rnk = a.rnk + o.off
"""

QUERIES["sorted_neighborhood"] = q_sorted_neighborhood
ORACLES["sorted_neighborhood"] = O_SORTED_NEIGHBORHOOD


# --- isotonic (PAV) monotone trend fit --------------------------------------------------

def q_isotonic_tool_rate(spark, sf_dir):
    """Per-conversation isotonic regression of the is-tool-turn indicator
    on turn order (normalization.isotonic_fit, O(T) PAV in Arrow
    batches), over a deterministic 10% conversation sample and the first
    32 turns. The oracle is the independent O(T^3) minimax
    characterization iso_i = max_{j<=i} min_{k>=i} mean(y[j..k]) — two
    genuinely different algorithms agreeing is the correctness proof."""
    t = _t(spark, sf_dir).where(F.col("conv_id").like("%0"))
    out = norm.isotonic_fit(
        t, CFG, y_expr=F.expr("case when tool is not null then 1 else 0 end"),
        max_turns=32,
    )
    return out.select(
        "conv_id", "turn_idx", "iso_num", "iso_den",
        _r6x(F.col("iso_num").cast("double") / F.col("iso_den").cast("double"), "iso"),
    )


O_ISOTONIC_TOOL_RATE = f"""{_W},
t0 as (
  select conv_id, turn_idx, ts,
    case when tool is not null then 1 else 0 end as y
  from transcripts where turn_idx < 32 and conv_id like '%0'
),
r as (
  select conv_id, turn_idx, y,
    row_number() over ({_OWIN}) as i,
    sum(y) over ({_CUM}) as p
  from t0
),
tri as (
  select m.conv_id, m.i, m.turn_idx, j.i as j,
    cast(k.p - (j.p - j.y) as double) / cast(k.i - j.i + 1 as double) as mean_jk,
    k.p - (j.p - j.y) as num_jk,
    k.i - j.i + 1 as den_jk
  from r m
  join r j on j.conv_id = m.conv_id and j.i <= m.i
  join r k on k.conv_id = m.conv_id and k.i >= m.i
),
lvl1 as (
  -- pack (num, den) into one value so a tie in mean_jk can never mix the
  -- numerator of one (j,k) with the denominator of another; den <= 32 < 100
  select conv_id, i, turn_idx, j,
    min(mean_jk) as minv,
    arg_min(num_jk * 100 + den_jk, mean_jk) as pk1
  from tri group by 1, 2, 3, 4
),
lvl2 as (
  select conv_id, i, turn_idx,
    max(minv) as iso_d,
    arg_max(pk1, minv) as pk2
  from lvl1 group by 1, 2, 3
),
unpacked as (
  select conv_id, i, turn_idx, pk2 // 100 as num2, pk2 % 100 as den2
  from lvl2
)
select conv_id, turn_idx,
  cast(num2 // greatest(gcd(num2, den2), 1) as bigint) as iso_num,
  cast(den2 // greatest(gcd(num2, den2), 1) as bigint) as iso_den,
  floor(cast(num2 as double) / cast(den2 as double) * 1000000.0 + 0.5) / 1000000.0 as iso
from unpacked
"""

QUERIES["isotonic_tool_rate"] = q_isotonic_tool_rate
ORACLES["isotonic_tool_rate"] = O_ISOTONIC_TOOL_RATE


# --- HyperLogLog register vector: mergeable distinct-count sketch ---------------

def q_hll_distinct(spark, sf_dir):
    """HyperLogLog register vector (p=8, 256 registers) over corpus words
    next to the exact distinct count. Registers are (index, max_rank)
    integers derived purely from md5 hex nibbles (functions/sketch.py
    hll_registers), so any engine rebuilds them bit-identically — unlike
    approx_count_distinct whose JVM-private hashing has no oracle. The
    register groupBy shuffles O(partitions * 256) rows regardless of input
    cardinality, and register vectors from disjoint corpora merge by
    element-wise MAX — the property that makes HLL the standard 100-TB
    distinct-count sketch. Consumers apply hll_estimate (harmonic mean)."""
    from ..functions import sketch
    from ..functions.repetition import normalized_words

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    words = _fan(docs).select(F.explode(normalized_words("text")).alias("word"))
    regs = sketch.hll_registers(words, "word", p=8)
    truth = words.agg(F.count_distinct("word").cast("long").alias("distinct_true"))
    return regs.crossJoin(truth)


O_HLL_DISTINCT = """
with wq as (
  select unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) as word
  from documents
),
dw as (select distinct word from wq),
h as (select md5(cast(word as varchar)) as hx from dw),
r as (
  select
    (strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16
      + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) as register,
    length(regexp_extract(substr(hx, 3, 15), '^(0*)', 1)) as lz,
    substr(substr(hx, 3, 15), length(regexp_extract(substr(hx, 3, 15), '^(0*)', 1)) + 1, 1) as fnz
  from h
),
rr as (
  select register,
    case when lz = 15 then 61
         else lz * 4
              + (case when fnz = '1' then 3
                      when fnz in ('2', '3') then 2
                      when fnz in ('4', '5', '6', '7') then 1
                      else 0 end)
              + 1 end as rank
  from r
),
t as (select cast(count(*) as bigint) as distinct_true from dw)
select cast(register as bigint) as register,
       cast(max(rank) as int) as max_rank,
       t.distinct_true as distinct_true
from rr, t
group by register, t.distinct_true
"""

QUERIES["hll_distinct"] = q_hll_distinct
ORACLES["hll_distinct"] = O_HLL_DISTINCT


# --- HDR histogram: engine-exact mergeable latency quantile state ---------------

def q_hdr_latency_hist(spark, sf_dir):
    """HDR histogram (base-2 octave x 16 linear sub-buckets) of inter-turn
    latency in microseconds. Bucket identity is pure integer arithmetic
    (functions/sketch.py hdr_histogram) — octave = length(bin(v)), lo =
    1 << (octave-1), sub = (v - lo) * 16 div lo — so the histogram is
    engine-exact where float-log DDSketch buckets flip on 1-ulp log()
    differences. Histograms merge by summing counts per bucket: the
    fixed-size (<= 64*16 rows) mergeable quantile state a 100-TB latency
    report needs; relative error of any recovered value <= 1/16."""
    from ..functions import sketch
    from ..sources.transcripts import transcripts_from_events
    from pyspark.sql import Window

    t = transcripts_from_events(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("turn_idx", "ts")
    lat = (
        t.withColumn("_us", F.unix_micros("ts"))
        .withColumn("dt_us", F.col("_us") - F.lag("_us").over(w))
        .filter(F.col("dt_us").isNotNull())
    )
    return sketch.hdr_histogram(lat, "dt_us", sub_buckets=16)


O_HDR_LATENCY_HIST = f"""{_W},
lat as (
  select epoch_us(ts) - lag(epoch_us(ts)) over (
    partition by conv_id order by turn_idx, ts) as v
  from transcripts
),
lv as (select v from lat where v is not null),
b as (
  select
    case when v >= 1 then length(bin(v)) else 0 end as octave,
    case when v >= 1
         then ((v - (1::bigint << (length(bin(v)) - 1))) * 16)
              // (1::bigint << (length(bin(v)) - 1))
         else 0 end as sub,
    case when v >= 1 then (1::bigint << (length(bin(v)) - 1)) else 0 end as lo
  from lv
)
select cast(octave as int) as octave, cast(sub as int) as sub,
       cast(lo as bigint) as lo, cast(count(*) as bigint) as cnt
from b group by 1, 2, 3
"""

QUERIES["hdr_latency_hist"] = q_hdr_latency_hist
ORACLES["hdr_latency_hist"] = O_HDR_LATENCY_HIST


# --- bucket-grid interval joins --------------------------------------------------

def q_interval_point_join(spark, sf_dir):
    """Cross-conversation point-in-interval range join via the bucket-grid
    equi-join (operators/interval.py): which session windows (any conv,
    padded +600 s) contain each turn's timestamp. OSS Spark would plan
    the raw inequality join as BroadcastNestedLoopJoin — the grid turns
    it into a shuffled equi-join, exact after re-filtering, each match
    emitted once because a point owns exactly one bucket. Oracle runs the
    naive inequality join (DuckDB IEJoin)."""
    from ..operators import interval as ivops

    t = transcripts_from_events(spark, sf_dir)
    ivs = ivops.session_intervals(
        t, gap_us=1_800_000_000, pad_us=600_000_000
    ).select(
        F.col("conv_id").alias("i_conv"), "session_id", "start_us", "end_us"
    )
    pts = t.select(
        F.col("conv_id").alias("p_conv"),
        "turn_idx",
        F.unix_micros("ts").alias("eus"),
    )
    joined = ivops.point_in_interval_join(
        pts, ivs, point_col="eus", start_col="start_us", end_col="end_us",
        bucket_width=900_000_000,
    )
    return (
        joined.groupBy("p_conv", "turn_idx")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_containing"),
            F.sum(
                F.when(F.col("i_conv") != F.col("p_conv"), 1).otherwise(0)
            ).cast("long").alias("n_foreign"),
        )
        .select(
            F.col("p_conv").alias("conv_id"), "turn_idx",
            "n_containing", "n_foreign",
        )
    )


O_INTERVAL_POINT_JOIN = f"""{_W},
t as (
  select conv_id, turn_idx, ts, epoch_us(ts) as eus,
    case when lag(epoch_us(ts)) over ({_OWIN}) is null
           or epoch_us(ts) - lag(epoch_us(ts)) over ({_OWIN}) > 1800000000
         then 1 else 0 end as is_start
  from transcripts
),
s as (select *, sum(is_start) over ({_CUM}) - 1 as sid from t),
iv as (
  select conv_id as i_conv, sid, min(eus) as start_us,
         max(eus) + 600000000 as end_us
  from s group by conv_id, sid
),
p as (select conv_id as p_conv, turn_idx, eus from t)
select p_conv as conv_id, turn_idx,
  cast(count(*) as bigint) as n_containing,
  cast(sum(case when i_conv <> p_conv then 1 else 0 end) as bigint) as n_foreign
from p join iv on iv.start_us <= p.eus and p.eus < iv.end_us
group by p_conv, turn_idx
"""

QUERIES["interval_point_join"] = q_interval_point_join
ORACLES["interval_point_join"] = O_INTERVAL_POINT_JOIN


def q_interval_overlap(spark, sf_dir):
    """Interval x interval overlap join between two md5-disjoint session
    populations, deduped structurally by the owner-bucket rule (the pair
    is emitted only from greatest(floor(l_start/b), floor(r_start/b)) —
    provably inside both explosion ranges), then aggregated to per-left
    overlap counts and EXACT integer overlap micros. The naive form is
    O(|L|*|R|) in Spark; the grid join's cost is O(L + R + matches)."""
    from ..functions.corpus import md5_bucket
    from ..operators import interval as ivops

    t = transcripts_from_events(spark, sf_dir)
    s = ivops.session_intervals(t, 1_800_000_000, 600_000_000).withColumn(
        "_mb", md5_bucket("conv_id", 4)
    )
    left = s.filter(F.col("_mb") == 0).select(
        F.col("conv_id").alias("l_conv"),
        F.col("session_id").alias("l_sid"),
        F.col("start_us").alias("l_start_us"),
        F.col("end_us").alias("l_end_us"),
    )
    right = s.filter(F.col("_mb") == 1).select(
        F.col("start_us").alias("r_start_us"),
        F.col("end_us").alias("r_end_us"),
    )
    pairs = ivops.interval_overlap_join(left, right, bucket_width=900_000_000)
    return (
        pairs.groupBy("l_conv", "l_sid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_overlaps"),
            F.sum(
                F.least("l_end_us", "r_end_us")
                - F.greatest("l_start_us", "r_start_us")
            ).cast("long").alias("overlap_us"),
        )
        .select(
            F.col("l_conv").alias("conv_id"),
            F.col("l_sid").cast("long").alias("session_id"),
            "n_overlaps", "overlap_us",
        )
    )


O_INTERVAL_OVERLAP = f"""{_W},
t as (
  select conv_id, turn_idx, ts, epoch_us(ts) as eus,
    case when lag(epoch_us(ts)) over ({_OWIN}) is null
           or epoch_us(ts) - lag(epoch_us(ts)) over ({_OWIN}) > 1800000000
         then 1 else 0 end as is_start
  from transcripts
),
s as (select *, sum(is_start) over ({_CUM}) - 1 as sid from t),
iv0 as (
  select conv_id, sid, min(eus) as start_us, max(eus) + 600000000 as end_us,
         md5(conv_id) as h
  from s group by conv_id, sid
),
iv as (select conv_id, sid, start_us, end_us, ({_HEX7}) % 4 as mb from iv0),
l as (select conv_id as l_conv, sid as l_sid, start_us as l_s, end_us as l_e
      from iv where mb = 0),
r as (select start_us as r_s, end_us as r_e from iv where mb = 1)
select l_conv as conv_id, cast(l_sid as bigint) as session_id,
  cast(count(*) as bigint) as n_overlaps,
  cast(sum(least(l_e, r_e) - greatest(l_s, r_s)) as bigint) as overlap_us
from l join r on l_s < r_e and r_s < l_e
group by l_conv, l_sid
"""

QUERIES["interval_overlap"] = q_interval_overlap
ORACLES["interval_overlap"] = O_INTERVAL_OVERLAP


# --- Fellegi-Sunter record linkage ------------------------------------------------

def q_record_linkage(spark, sf_dir):
    """Blocked probabilistic linkage (operators/linkage.py) between the
    customer table and a deterministically-perturbed copy of itself
    (nation flipped for custkey%11, segment for %5, balance +12.34 for
    %7; id space offset by 10M). Blocking key = last two name chars (a
    real quasi-identifier: 100 blocks, genuine non-match pairs inside
    each); per-field log-odds weights are integer nanos so the pair
    score is a bigint — engine-exact. Only pairs >= the clerical-review
    threshold survive the join stage."""
    from ..operators.linkage import FieldWeight, fellegi_sunter

    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    cents = F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long")
    base = c.select(
        F.col("c_custkey").alias("a_key"),
        F.col("c_name").alias("a_name"),
        F.col("c_nationkey").cast("long").alias("a_nation"),
        F.col("c_mktsegment").alias("a_seg"),
        cents.alias("a_bal"),
    ).withColumn("a_block", F.substring("a_name", -2, 2))
    dirty = c.select(
        (F.col("c_custkey") + F.lit(10_000_000)).alias("b_key"),
        F.col("c_name").alias("b_name"),
        F.when(
            F.col("c_custkey") % 11 == 0,
            (F.col("c_nationkey").cast("long") + 1) % 25,
        ).otherwise(F.col("c_nationkey").cast("long")).alias("b_nation"),
        F.when(F.col("c_custkey") % 5 == 0, F.lit("SYNTH"))
        .otherwise(F.col("c_mktsegment")).alias("b_seg"),
        (
            cents + F.when(F.col("c_custkey") % 7 == 0, 1234).otherwise(0)
        ).alias("b_bal"),
    ).withColumn("b_block", F.substring("b_name", -2, 2))
    fields = [
        FieldWeight("name", "a_name", "b_name", 11_000_000_000, -9_000_000_000),
        FieldWeight("nation", "a_nation", "b_nation", 1_800_000_000, -2_500_000_000),
        FieldWeight("seg", "a_seg", "b_seg", 1_200_000_000, -1_000_000_000),
        FieldWeight("bal", "a_bal", "b_bal", 6_000_000_000, -500_000_000),
    ]
    out = fellegi_sunter(
        base, dirty, "a_block", "b_block", fields,
        t_link_nanos=12_000_000_000, t_possible_nanos=2_000_000_000,
    )
    return out.select("a_key", "b_key", "score_nanos", "decision")


O_RECORD_LINKAGE = """
with a as (
  select c_custkey as a_key, c_name as a_name,
         cast(c_nationkey as bigint) as a_nation, c_mktsegment as a_seg,
         cast(floor(c_acctbal * 100 + 0.5) as bigint) as a_bal,
         substr(c_name, length(c_name) - 1, 2) as a_block
  from customer
),
b as (
  select c_custkey + 10000000 as b_key, c_name as b_name,
         case when c_custkey % 11 = 0
              then (cast(c_nationkey as bigint) + 1) % 25
              else cast(c_nationkey as bigint) end as b_nation,
         case when c_custkey % 5 = 0 then 'SYNTH' else c_mktsegment end as b_seg,
         cast(floor(c_acctbal * 100 + 0.5) as bigint)
           + case when c_custkey % 7 = 0 then 1234 else 0 end as b_bal,
         substr(c_name, length(c_name) - 1, 2) as b_block
  from customer
),
p as (
  select a_key, b_key,
    (case when a_name = b_name then 11000000000 else -9000000000 end)
    + (case when a_nation = b_nation then 1800000000 else -2500000000 end)
    + (case when a_seg = b_seg then 1200000000 else -1000000000 end)
    + (case when a_bal = b_bal then 6000000000 else -500000000 end) as score_nanos
  from a join b on a_block = b_block
)
select a_key, cast(b_key as bigint) as b_key,
  cast(score_nanos as bigint) as score_nanos,
  case when score_nanos >= 12000000000 then 'link' else 'possible' end as decision
from p where score_nanos >= 2000000000
"""

QUERIES["record_linkage"] = q_record_linkage
ORACLES["record_linkage"] = O_RECORD_LINKAGE


# --- exact distributed OLS fit + broadcast predict ---------------------------------

def q_ols_fit_predict(spark, sf_dir):
    """Two-regressor OLS trained by integer normal equations (nine int64
    sums, one aggregate row) and solved by Cramer determinants in
    decimal(38,0) — the coefficients are exact rationals D_i/D identical
    in any engine (DuckDB twin: HUGEINT). Scoring broadcasts the single
    moments row back over the scan; the ONLY float op is the final
    num/den division, canonicalized _r6x. Predicts doc n_chars from
    (word count, distinct word count)."""
    from ..functions.linear import ols2_fit_predict
    from ..functions.repetition import normalized_words

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    feats = docs.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("y"),
        F.size(normalized_words("text")).cast("long").alias("x1"),
        F.size(F.array_distinct(normalized_words("text"))).cast("long").alias("x2"),
    )
    out = ols2_fit_predict(feats, "y", "x1", "x2")
    return out.select(
        "doc_id", "y", "x1", "x2",
        _r6x(F.col("yhat_num").cast("double") / F.col("det_d").cast("double"), "yhat"),
    )


O_OLS_FIT_PREDICT = r"""
with f as (
  select doc_id, cast(n_chars as bigint) as y,
    cast(length(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) as bigint) as x1,
    cast(length(list_distinct(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '))) as bigint) as x2
  from documents
),
m as (
  select cast(count(*) as hugeint) as n,
    cast(sum(x1) as hugeint) as sx1, cast(sum(x2) as hugeint) as sx2,
    cast(sum(x1*x1) as hugeint) as sx11, cast(sum(x1*x2) as hugeint) as sx12,
    cast(sum(x2*x2) as hugeint) as sx22,
    cast(sum(y) as hugeint) as sy, cast(sum(x1*y) as hugeint) as sx1y,
    cast(sum(x2*y) as hugeint) as sx2y
  from f
),
d as (
  select
    n*(sx11*sx22 - sx12*sx12) - sx1*(sx1*sx22 - sx12*sx2)
      + sx2*(sx1*sx12 - sx11*sx2) as det_d,
    sy*(sx11*sx22 - sx12*sx12) - sx1*(sx1y*sx22 - sx12*sx2y)
      + sx2*(sx1y*sx12 - sx11*sx2y) as det_0,
    n*(sx1y*sx22 - sx12*sx2y) - sy*(sx1*sx22 - sx12*sx2)
      + sx2*(sx1*sx2y - sx1y*sx2) as det_1,
    n*(sx11*sx2y - sx1y*sx12) - sx1*(sx1*sx2y - sx1y*sx2)
      + sy*(sx1*sx12 - sx11*sx2) as det_2
  from m
)
select doc_id, y, x1, x2,
  floor(cast(det_0 + det_1*x1 + det_2*x2 as double) / cast(det_d as double)
        * 1000000.0 + 0.5) / 1000000.0 as yhat
from f, d
"""

QUERIES["ols_fit_predict"] = q_ols_fit_predict
ORACLES["ols_fit_predict"] = O_OLS_FIT_PREDICT


# --- cohort retention matrix --------------------------------------------------------

def q_cohort_retention(spark, sf_dir):
    """Weekly cohort retention over the events table: users bucketed by
    first-activity epoch week, counted in every week they return.
    Buckets are integer floor-division of epoch micros (no calendar
    functions — those differ across engines/timezones); retention is
    exact integer ppm of cohort size. Output is O(weeks^2) rows at any
    data scale (operators/sequence.cohort_retention)."""
    from ..operators.sequence import cohort_retention

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    return cohort_retention(ev, "user_id", "ts")


O_COHORT_RETENTION = """
with ub as (
  select user_id as u, epoch_us(ts) // 604800000000 as b
  from events group by 1, 2
),
c as (select *, min(b) over (partition by u) as cohort from ub),
g as (select cohort, b - cohort as off, cast(count(*) as bigint) as n_active
      from c group by 1, 2),
s as (select cohort as c0, n_active as csize from g where off = 0)
select cast(cohort as bigint) as cohort_bucket,
       cast(off as bigint) as bucket_offset,
       n_active,
       cast((n_active * 1000000) // csize as bigint) as retention_ppm
from g join s on g.cohort = s.c0
"""

QUERIES["cohort_retention"] = q_cohort_retention
ORACLES["cohort_retention"] = O_COHORT_RETENTION


# --- deterministic Poisson bootstrap ------------------------------------------------

def q_poisson_bootstrap(spark, sf_dir):
    """32 Poisson-bootstrap replicate means of doc length — the only
    bootstrap that distributes (no global row indexing), made
    DETERMINISTIC: per-(doc, replicate) weights come from md5 ppm draws
    through the exact integer Poisson(1) inverse CDF
    (functions/stats.py), so every replicate aggregate is an int64 sum
    and the confidence interval is byte-identical on re-run. Shuffle
    carries 32 rows per partition regardless of corpus size."""
    from ..functions.stats import poisson_bootstrap_mean

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = poisson_bootstrap_mean(docs, "doc_id", "n_chars", n_replicates=32)
    return out.select(
        F.col("replicate").cast("long").alias("replicate"),
        "w_sum", "wy_sum",
        _r6x(F.col("wy_sum").cast("double") / F.col("w_sum").cast("double"),
             "mean_chars"),
    )


O_POISSON_BOOTSTRAP = f"""
with reps as (select cast(range as bigint) as replicate from range(32)),
e as (
  select reps.replicate, d.n_chars,
    md5(cast(d.doc_id as varchar) || ':' || cast(reps.replicate as varchar)) as h
  from documents d, reps
),
u as (select replicate, n_chars, ({_HEX7}) % 1000000 as up from e),
w as (
  select replicate, n_chars,
    case when up < 367879 then 0 when up < 735758 then 1
         when up < 919698 then 2 when up < 981011 then 3
         when up < 996340 then 4 when up < 999405 then 5
         else 6 end as w
  from u
)
select replicate,
  cast(sum(w) as bigint) as w_sum,
  cast(sum(w * n_chars) as bigint) as wy_sum,
  floor(cast(sum(w * n_chars) as double) / cast(sum(w) as double)
        * 1000000.0 + 0.5) / 1000000.0 as mean_chars
from w group by replicate
"""

QUERIES["poisson_bootstrap"] = q_poisson_bootstrap
ORACLES["poisson_bootstrap"] = O_POISSON_BOOTSTRAP


# --- two-proportion A/B z-test --------------------------------------------------------

def q_ab_ztest(spark, sf_dir):
    """A/B conversion test with md5-deterministic arm assignment (the
    randomization a real experiment framework applies — no rand()):
    per-user conversion flags, exact integer contingency cells, and the
    pooled two-proportion z statistic as a fixed-order float expression
    over those four ints (functions/stats.py). One groupBy(user) + one
    2-cell aggregate at any scale."""
    from ..functions.stats import ab_proportions_ztest

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = ab_proportions_ztest(
        ev, "user_id",
        (F.col("event_type") == "purchase") & (F.col("value") > 150.0),
    )
    return out.select(
        "n_a", "conv_a", "n_b", "conv_b", _r6x(F.col("z"), "z")
    )


O_AB_ZTEST = f"""
with pu as (
  select user_id as uid,
    max(case when event_type = 'purchase' and value > 150.0 then 1 else 0 end) as conv
  from events group by user_id
),
hx as (select conv, md5(cast(uid as varchar)) as h from pu),
arm as (select conv, ({_HEX7}) % 2 as a from hx),
c as (
  select
    cast(sum(case when a = 0 then 1 else 0 end) as bigint) as n_a,
    cast(sum(case when a = 0 then conv else 0 end) as bigint) as conv_a,
    cast(sum(case when a = 1 then 1 else 0 end) as bigint) as n_b,
    cast(sum(case when a = 1 then conv else 0 end) as bigint) as conv_b
  from arm
)
select n_a, conv_a, n_b, conv_b,
  floor(
    ((cast(conv_a as double) / cast(n_a as double)
      - cast(conv_b as double) / cast(n_b as double))
     / sqrt(
         (cast(conv_a + conv_b as double) / cast(n_a + n_b as double))
         * (1.0 - cast(conv_a + conv_b as double) / cast(n_a + n_b as double))
         * (1.0 / cast(n_a as double) + 1.0 / cast(n_b as double))
       )) * 1000000.0 + 0.5) / 1000000.0 as z
from c
"""

QUERIES["ab_ztest"] = q_ab_ztest
ORACLES["ab_ztest"] = O_AB_ZTEST


# --- per-source HLL rollup -------------------------------------------------------------

def q_hll_by_source(spark, sf_dir):
    """Grouped HyperLogLog: one register vector per document source —
    the per-dimension distinct-count rollup (shuffle O(partitions *
    sources * 256)), with the exact per-source distinct alongside.
    Register vectors of different sources merge by element-wise MAX to
    give the union's sketch without rescanning — the property a
    source-level dashboard needs at 100 TB."""
    from ..functions import sketch
    from ..functions.repetition import normalized_words

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    words = _fan(docs).select(
        "source", F.explode(normalized_words("text")).alias("word")
    )
    regs = sketch.hll_registers(words, "word", p=8, group_cols=("source",))
    truth = words.groupBy("source").agg(
        F.count_distinct("word").cast("long").alias("distinct_true")
    )
    return regs.join(truth, "source").select(
        "source",
        F.col("register").cast("long").alias("register"),
        "max_rank", "distinct_true",
    )


O_HLL_BY_SOURCE = r"""
with wq as (
  select source,
    unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) as word
  from documents
),
dw as (select distinct source, word from wq),
h as (select source, md5(cast(word as varchar)) as hx from dw),
r as (
  select source,
    (strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16
      + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) as register,
    length(regexp_extract(substr(hx, 3, 15), '^(0*)', 1)) as lz,
    substr(substr(hx, 3, 15), length(regexp_extract(substr(hx, 3, 15), '^(0*)', 1)) + 1, 1) as fnz
  from h
),
rr as (
  select source, register,
    case when lz = 15 then 61
         else lz * 4
              + (case when fnz = '1' then 3
                      when fnz in ('2', '3') then 2
                      when fnz in ('4', '5', '6', '7') then 1
                      else 0 end)
              + 1 end as rank
  from r
),
t as (select source, cast(count(distinct word) as bigint) as distinct_true
      from dw group by source)
select rr.source, cast(rr.register as bigint) as register,
       cast(max(rr.rank) as int) as max_rank, t.distinct_true
from rr join t on rr.source = t.source
group by rr.source, rr.register, t.distinct_true
"""

QUERIES["hll_by_source"] = q_hll_by_source
ORACLES["hll_by_source"] = O_HLL_BY_SOURCE


# --- Benford data-quality profile -----------------------------------------------------

def q_benford(spark, sf_dir):
    """Benford's-law forensic scan of order totals (validation.py
    benford_profile): per leading digit of the cent amount, observed
    count and exact integer ppm deviation from log10(1+1/d). No float
    log anywhere — the Benford expectations are fixed integer literals,
    the leading digit is a decimal-string substring, and observed shares
    are integer division, so the profile is engine-exact. One <=9-key
    groupBy with map-side combine at any scale."""
    from ..validation import benford_profile

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    return benford_profile(orders, cents).orderBy("digit")


O_BENFORD = """
with c as (
  select cast(floor(o_totalprice * 100 + 0.5) as bigint) as cents from orders
),
d as (
  select cast(substr(cast(cents as varchar), 1, 1) as int) as digit
  from c where cents > 0
),
g as (select digit, cast(count(*) as bigint) as n_obs from d group by digit),
t as (select sum(n_obs) as total from g),
e as (
  select digit, n_obs,
    cast((n_obs * 1000000) // total as bigint) as obs_ppm,
    cast(case digit
      when 1 then 301029 when 2 then 176091 when 3 then 124938
      when 4 then 96910 when 5 then 79181 when 6 then 66946
      when 7 then 57991 when 8 then 51152 when 9 then 45757 end as bigint)
      as benford_ppm
  from g, t
)
select digit, n_obs, obs_ppm, benford_ppm,
  cast(obs_ppm - benford_ppm as bigint) as excess_ppm
from e
"""

QUERIES["benford"] = q_benford
ORACLES["benford"] = O_BENFORD


# --- TextTiling topic segmentation ------------------------------------------------------

def q_topic_boundaries(spark, sf_dir):
    """Topic-shift detection inside conversations: Jaccard similarity of
    the distinct word sets of the 2 turns before vs the 2 turns after
    each candidate boundary, via the offset-explode equi-join shape (no
    per-window set materialization) — operators/sequence.py
    topic_boundaries. Exact integer ppm Jaccard; shuffle O(words * k)."""
    from ..operators.sequence import topic_boundaries

    t = transcripts_from_events(spark, sf_dir)
    out = topic_boundaries(t, k=2, boundary_ppm=150_000)
    return out.select(
        "conv_id",
        F.col("boundary_idx").cast("int").alias("boundary_idx"),
        "n_left", "n_right", "n_both", "jaccard_ppm", "is_boundary",
    )


O_TOPIC_BOUNDARIES = f"""{_W},
wq as (
  select conv_id, turn_idx,
    unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) as word
  from transcripts
),
w0 as (select distinct conv_id, turn_idx, word from wq where word <> ''),
offl as (select cast(range as int) as off from range(1, 3)),
offr as (select cast(range as int) as off from range(0, 2)),
l as (select conv_id, word, turn_idx + off as b, 1 as il, 0 as ir from w0, offl),
r as (select conv_id, word, turn_idx - off as b, 0 as il, 1 as ir from w0, offr),
u as (select * from l union all select * from r),
pres as (
  select conv_id, b, word, max(il) as il, max(ir) as ir
  from u group by conv_id, b, word
),
agg as (
  select conv_id, b,
    sum(il) as nl, sum(ir) as nr, sum(il * ir) as nb
  from pres group by conv_id, b
)
select conv_id, cast(b as int) as boundary_idx,
  cast(nl as bigint) as n_left, cast(nr as bigint) as n_right,
  cast(nb as bigint) as n_both,
  cast((nb * 1000000) // (nl + nr - nb) as bigint) as jaccard_ppm,
  cast(case when (nb * 1000000) // (nl + nr - nb) < 150000
       then 1 else 0 end as int) as is_boundary
from agg where nl > 0 and nr > 0
"""

QUERIES["topic_boundaries"] = q_topic_boundaries
ORACLES["topic_boundaries"] = O_TOPIC_BOUNDARIES




# --- feature-store point-in-time training-set assembly ------------------------------

def q_pit_training_set(spark, sf_dir):
    """Feast-style historical feature retrieval (operators/asof.py
    pit_training_set): a label spine (every assistant turn) enriched from
    TWO independent feature timelines by backward as-of joins with
    per-timeline staleness TTLs — tool-activity value (TTL 3600 s) and
    last user-message length (TTL 900 s). A feature older than its TTL at
    the anchor instant is NULL (online-store expiry semantics); only
    timeline rows at or before the anchor can contribute (zero temporal
    leakage by construction)."""
    t = _t(spark, sf_dir)
    spine = t.filter(F.col("role") == "assistant").select("conv_id", "turn_idx", "ts")
    f1 = (
        t.filter(F.col("role") == "tool")
        .groupBy("conv_id", "ts")
        .agg(F.max(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias("tool_cents"))
    )
    f2 = (
        t.filter(F.col("role") == "user")
        .groupBy("conv_id", "ts")
        .agg(F.max(F.char_length("text")).cast("long").alias("user_chars"))
    )
    out = asof.pit_training_set(spine, [(f1, 3600.0), (f2, 900.0)])
    return out.select("conv_id", "turn_idx", "tool_cents", "user_chars")


O_PIT_TRAINING_SET = f"""{_W},
s as (select conv_id, turn_idx, ts from transcripts where role = 'assistant'),
f1 as (
  select conv_id, ts, max(cast(floor(value * 100 + 0.5) as bigint)) as tool_cents
  from transcripts where role = 'tool' group by 1, 2
),
f2 as (
  select conv_id, ts, max(cast(length(text) as bigint)) as user_chars
  from transcripts where role = 'user' group by 1, 2
),
j1 as (
  select s.conv_id, s.turn_idx, s.ts,
    case when epoch_us(s.ts) - epoch_us(f1.ts) <= 3600000000
         then f1.tool_cents end as tool_cents
  from s asof left join f1 on s.conv_id = f1.conv_id and s.ts >= f1.ts
)
select j1.conv_id, j1.turn_idx, j1.tool_cents,
  case when epoch_us(j1.ts) - epoch_us(f2.ts) <= 900000000
       then f2.user_chars end as user_chars
from j1 asof left join f2 on j1.conv_id = f2.conv_id and j1.ts >= f2.ts
"""

QUERIES["pit_training_set"] = q_pit_training_set
ORACLES["pit_training_set"] = O_PIT_TRAINING_SET


# --- Kaplan-Meier survival over tool-episode durations ------------------------------

def q_kaplan_meier(spark, sf_dir):
    """Right-censored Kaplan-Meier risk table over tool-episode durations
    (operators/survival.py): completed episodes are events at their FIFO
    latency, still-open invocations are censored at the conversation's
    last turn. Durations bucket to whole minutes by exact integer
    floor-division; output is the estimator's full sufficient statistics
    (t, n_risk, d, c) — all int64, no float ever crosses engines."""
    from ..operators import survival

    t = _t(spark, sf_dir)
    d = survival.episode_durations(t, CFG, granularity_s=60)
    return survival.km_risk_table(d, "dur_s", "event")


O_KAPLAN_MEIER = f"""{_W},
evt as (
  select conv_id, tool, turn_idx, ts,
    case when role = 'assistant' then 1 else 0 end as is_inv
  from transcripts
  where tool is not null and role in ('assistant', 'tool')
),
r as (
  select *,
    row_number() over (partition by conv_id, tool, is_inv order by turn_idx, ts) as rnk
  from evt
),
inv as (select conv_id, tool, rnk, ts as invoke_ts from r where is_inv = 1),
res as (select conv_id, tool, rnk, ts as result_ts from r where is_inv = 0),
ce as (select conv_id, max(epoch_us(ts)) as end_us from transcripts group by 1),
ep as (
  select greatest(
      case when res.result_ts is not null
           then epoch_us(res.result_ts) - epoch_us(i.invoke_ts)
           else ce.end_us - epoch_us(i.invoke_ts) end, 0) as dur_us,
    case when res.result_ts is not null then 1 else 0 end as event
  from inv i
  left join res on res.conv_id = i.conv_id and res.tool = i.tool and res.rnk = i.rnk
  join ce on ce.conv_id = i.conv_id
),
a as (
  select dur_us // 60000000 as t_s,
    sum(event) as d_events, sum(1 - event) as c_censored
  from ep group by 1
)
select cast(t_s as bigint) as t_s,
  cast(sum(d_events + c_censored)
       over (order by t_s desc rows between unbounded preceding and current row)
       as bigint) as n_risk,
  cast(d_events as bigint) as d_events,
  cast(c_censored as bigint) as c_censored
from a
"""

QUERIES["kaplan_meier"] = q_kaplan_meier
ORACLES["kaplan_meier"] = O_KAPLAN_MEIER


# --- Nelson-Aalen cumulative hazard over the same risk table -------------------------

def q_nelson_aalen(spark, sf_dir):
    """Nelson-Aalen cumulative-hazard table (operators/survival.py
    nelson_aalen_table) over the Kaplan-Meier risk table: fixed-point
    integer hazard increments (d * 1e9) div n computed in decimal(38,0)
    (never wraps int64), running-summed ascending t, plus the Poisson
    variance proxy (d * 1e9) div n^2. All int64 — no float crosses
    engines; H(t) = h_cum_fp / 1e9 exactly recoverable."""
    from ..operators import survival

    t = _t(spark, sf_dir)
    d = survival.episode_durations(t, CFG, granularity_s=60)
    rt = survival.km_risk_table(d, "dur_s", "event")
    return survival.nelson_aalen_table(rt)


_KM_RISK_CTES = O_KAPLAN_MEIER[: O_KAPLAN_MEIER.rindex("select")].rstrip().rstrip(
    ","
) + """,
rt as (
  select cast(t_s as bigint) as t_s,
    cast(sum(d_events + c_censored)
         over (order by t_s desc rows between unbounded preceding and current row)
         as bigint) as n_risk,
    cast(d_events as bigint) as d_events
  from a
)"""

O_NELSON_AALEN = _KM_RISK_CTES + """,
na as (
  select t_s, n_risk, d_events,
    (cast(d_events as hugeint) * 1000000000) // n_risk as h_inc_fp,
    (cast(d_events as hugeint) * 1000000000)
      // (cast(n_risk as hugeint) * n_risk) as var_inc_fp
  from rt
)
select t_s, n_risk, d_events,
  cast(sum(h_inc_fp) over (order by t_s
       rows between unbounded preceding and current row) as bigint) as h_cum_fp,
  cast(sum(var_inc_fp) over (order by t_s
       rows between unbounded preceding and current row) as bigint) as var_cum_fp
from na
"""

QUERIES["nelson_aalen"] = q_nelson_aalen
ORACLES["nelson_aalen"] = O_NELSON_AALEN


# --- mutual-information feature screen ----------------------------------------------

def q_mi_features(spark, sf_dir):
    """Binary-presence mutual information I(word; lang) per top-100 word
    (functions/corpus.mi_feature_screen) — chi2_features' additive twin.
    Emits the exact integer numerator (sum of count * nano-ln ratio) plus
    n_docs; MI in nats = mi_num_nanos / n_docs / 1e9."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus.mi_feature_screen(docs, "lang", "doc_id", "text", vocab_k=100)


O_MI_FEATURES = f"""
with norm as (
  select doc_id, lang,
    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') as words
  from documents
),
topv as (
  select word from (
    select word, count(*) as cnt
    from (select unnest(words) as word from norm)
    group by word order by cnt desc, word asc limit 100
  )
),
wd as (select doc_id, lang, unnest(list_distinct(words)) as word from norm),
pres as (select wd.doc_id, wd.lang as lbl, wd.word from wd join topv using (word)),
a_cnt as (select word, lbl, count(*) as a from pres group by 1, 2),
w_cnt as (select word, count(distinct doc_id) as w_docs from pres group by 1),
l_cnt as (select lang as lbl, count(*) as l_docs from documents group by 1),
n_tot as (select count(*) as n_docs from documents),
cells as (
  select t.word, l.lbl,
    cast(coalesce(a.a, 0) as hugeint) as a,
    cast(w.w_docs as hugeint) as w_docs,
    cast(l.l_docs as hugeint) as l_docs,
    cast(n.n_docs as hugeint) as n_docs
  from topv t
  cross join l_cnt l
  join w_cnt w on w.word = t.word
  left join a_cnt a on a.word = t.word and a.lbl = l.lbl
  cross join n_tot n
),
terms as (
  select word, w_docs, n_docs,
    (case when a > 0
      then cast(a as bigint) * cast(floor(ln(cast(n_docs * a as double)
             / cast(w_docs * l_docs as double)) * 1000000000.0 + 0.5) as bigint)
      else 0 end)
    + (case when l_docs - a > 0
      then cast(l_docs - a as bigint) * cast(floor(ln(cast(n_docs * (l_docs - a) as double)
             / cast((n_docs - w_docs) * l_docs as double)) * 1000000000.0 + 0.5) as bigint)
      else 0 end) as t
  from cells
)
select word,
  cast(max(w_docs) as bigint) as n_docs_with,
  cast(max(n_docs) as bigint) as n_docs,
  cast(sum(t) as bigint) as mi_num_nanos
from terms group by word
"""

QUERIES["mi_features"] = q_mi_features
ORACLES["mi_features"] = O_MI_FEATURES


# --- Markov role-path log-likelihood ------------------------------------------------

def q_markov_loglik(spark, sf_dir):
    """Per-conversation log-likelihood of the role path under the
    corpus-level Laplace-smoothed first-order Markov model
    (operators/state.markov_role_loglik) — the sequence-anomaly score.
    Per-edge logs quantize to int64 nanos before the sum, so ll_nanos is
    an exact integer aggregate."""
    out = state.markov_role_loglik(_t(spark, sf_dir), CFG)
    return out.select("conv_id", "n_transitions", "ll_nanos")


O_MARKOV_LOGLIK = f"""{_W},
tr as (select conv_id, lag(role) over ({_OWIN}) as prev, role from transcripts),
e as (select conv_id, prev, role from tr where prev is not null),
c as (select prev, role, count(*) as n_pq from e group by 1, 2),
rt as (select prev, count(*) as n_p from e group by 1),
nr as (select count(distinct role) as n_roles from e),
m as (
  select c.prev, c.role,
    cast(floor(ln(cast(c.n_pq + 1 as double) / cast(rt.n_p + nr.n_roles as double))
         * 1000000000.0 + 0.5) as bigint) as ll_nanos_edge
  from c join rt using (prev) cross join nr
)
select e.conv_id, cast(count(*) as bigint) as n_transitions,
  cast(sum(m.ll_nanos_edge) as bigint) as ll_nanos
from e join m on e.prev = m.prev and e.role = m.role
group by 1
"""

QUERIES["markov_loglik"] = q_markov_loglik
ORACLES["markov_loglik"] = O_MARKOV_LOGLIK




# --- DBSCAN density clustering over embeddings ---------------------------------------

def q_dbscan_embeddings(spark, sf_dir):
    """Candidate-graph DBSCAN (operators/density.py): hyperplane-LSH
    buckets generate neighbor candidates (same construction as
    embedding_near_dup_hp — bucket equi-join, never all-pairs), the exact
    INTEGER micro-quantized squared L2 distance keeps true eps-neighbors,
    then density rules: core (>= min_pts incl. self), clusters = connected
    components of the core graph (min-label), borders take their smallest
    core neighbor's cluster, noise = -1. Every clustering decision is
    integer-derived — no float crosses engines."""
    from ..operators import density

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return density.dbscan_embeddings(
        emb, eps_micro=1_300_000, min_pts=3, n_bands=1, planes_per_band=8,
        seed=7, dim=64
    )


def _dbscan_oracle(eps_micro: int = 1_300_000, min_pts: int = 3,
                   n_planes: int = 8, seed: int = 7, dim: int = 64) -> str:
    from ..operators.similarity import hyperplanes

    planes = hyperplanes(dim, n_planes, seed)
    bucket = " + ".join(
        f"(case when list_dot_product(v, [{', '.join(repr(x) for x in h)}]) > 0 "
        f"then {1 << j} else 0 end)"
        for j, h in enumerate(planes)
    )
    return f"""
with recursive
e as (select vec_id, embedding::DOUBLE[] as v from embeddings),
l as (select vec_id, generate_subscripts(v, 1) - 1 as i,
      cast(floor(unnest(v) * 1000000.0 + 0.5) as bigint) as q from e),
b as (select vec_id, {bucket} as bk from e),
cand as (select a.vec_id as ia, c.vec_id as ib
         from b a join b c on a.bk = c.bk and a.vec_id < c.vec_id),
pd as (
  select ia, ib from (
    select ia, ib, sum((x.q - y.q) * (x.q - y.q)) as d2
    from cand
    join l x on x.vec_id = ia
    join l y on y.vec_id = ib and y.i = x.i
    group by 1, 2)
  where d2 <= cast({eps_micro} as bigint) * cast({eps_micro} as bigint)
),
sym as (select ia as src, ib as dst from pd union all select ib, ia from pd),
deg as (select src, count(*) as deg from sym group by 1),
core as (select src as id from deg where deg + 1 >= {min_pts}),
ce as (select src, dst from sym
       where src in (select id from core) and dst in (select id from core)),
reach(src, dst) as (
  select src, dst from ce
  union
  select r.src, s.dst from reach r join ce s on r.dst = s.src
),
cl as (select src as id, least(src, min(dst)) as cluster_id from reach group by src),
core_lbl as (select c.id, coalesce(cl.cluster_id, c.id) as cluster_id
             from core c left join cl using (id)),
border as (
  select s.src as id, min(k.cluster_id) as cluster_id
  from sym s join core_lbl k on k.id = s.dst
  where s.src not in (select id from core)
  group by 1
),
lbl as (
  select id, cluster_id, 1 as is_core from core_lbl
  union all
  select id, cluster_id, 0 as is_core from border
)
select e.vec_id,
  cast(coalesce(lbl.is_core, 0) as int) as is_core,
  cast(coalesce(lbl.cluster_id, -1) as bigint) as cluster_id
from e left join lbl on lbl.id = e.vec_id
"""


O_DBSCAN_EMBEDDINGS = _dbscan_oracle()

QUERIES["dbscan_embeddings"] = q_dbscan_embeddings
ORACLES["dbscan_embeddings"] = O_DBSCAN_EMBEDDINGS




# --- Johnson-Lindenstrauss random projection -----------------------------------------

def q_random_projection(spark, sf_dir):
    """Deterministic ±1 JL projection 64 -> 8 dims
    (operators/similarity.random_projection): per-lane micro-quantization
    then exact int64 signed sums via JVM zip_with/aggregate — the
    shuffle-free dim-reduce before ANN indexing. Engine-exact integers."""
    from ..operators.similarity import random_projection

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return random_projection(emb, out_dim=8, seed=11, dim=64)


def _random_projection_oracle(out_dim: int = 8, seed: int = 11, dim: int = 64) -> str:
    from ..operators.similarity import hyperplanes

    planes = hyperplanes(dim, out_dim, seed)
    rows = ",\n  ".join(
        f"({j}, [{', '.join(str(int(x)) for x in h)}])" for j, h in enumerate(planes)
    )
    return f"""
with e as (
  select vec_id,
    list_transform(embedding::DOUBLE[],
                   x -> cast(floor(x * 1000000.0 + 0.5) as bigint)) as q
  from embeddings
),
p(j, h) as (values
  {rows}
),
lanes as (
  select e.vec_id, p.j,
    generate_subscripts(e.q, 1) as i,
    unnest(e.q) as qv
  from e cross join p
),
signed as (
  select l.vec_id, l.j, l.qv * p.h[l.i] as s
  from lanes l join p on p.j = l.j
)
select vec_id, cast(j as int) as j, cast(sum(s) as bigint) as proj_micro
from signed group by 1, 2
"""


O_RANDOM_PROJECTION = _random_projection_oracle()

QUERIES["random_projection"] = q_random_projection
ORACLES["random_projection"] = O_RANDOM_PROJECTION




# --- streaming point-in-time enrichment (online feature store) -----------------------

def q_streaming_pit(spark, sf_dir):
    """REAL streaming execution of the feature-store PIT join
    (streaming/stream.streaming_pit_enrich): the tagged anchor+feature
    union replayed through readStream -> applyInPandasWithState (state =
    last feature value per conversation, TTL 3600 s) -> availableNow ->
    memory sink. Single-file source => one in-order micro-batch, so the
    DuckDB ASOF JOIN oracle matches exactly."""
    import hashlib
    import uuid
    from pathlib import Path as _P

    from ..streaming import stream as strm

    t = _t(spark, sf_dir)
    tagged = t.filter(F.col("role").isin("assistant", "tool")).select(
        "conv_id",
        "ts",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        F.when(F.col("role") == "assistant", F.lit(1)).otherwise(F.lit(0)).alias("side"),
        F.when(
            F.col("role") == "tool",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"),
        ).alias("fval"),
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = f"/tmp/stream_pit_src_{tag}"
    if not _P(path).exists():
        tagged.coalesce(1).write.mode("overwrite").parquet(path)
    src = spark.readStream.schema(tagged.schema).parquet(path)
    out = strm.streaming_pit_enrich(src, CFG, ttl_s=3600.0, value_col="fval")
    qname = "qsp_" + uuid.uuid4().hex[:12]
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            out.writeStream.format("memory")
            .queryName(qname)
            .trigger(availableNow=True)
            .option("checkpointLocation", f"/dev/shm/spark-tmp/stream_pit_ckpt_{uuid.uuid4().hex[:12]}")
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
    return spark.table(qname).select(
        "conv_id", "turn_idx", F.col("fval").alias("tool_cents")
    )


O_STREAMING_PIT = f"""{_W},
s as (select conv_id, cast(turn_idx as bigint) as turn_idx, ts
      from transcripts where role = 'assistant'),
f as (select conv_id, ts, max(cast(floor(value * 100 + 0.5) as bigint)) as tool_cents
      from transcripts where role = 'tool' group by 1, 2)
select s.conv_id, s.turn_idx,
  case when epoch_us(s.ts) - epoch_us(f.ts) <= 3600000000
       then f.tool_cents end as tool_cents
from s asof left join f on s.conv_id = f.conv_id and s.ts >= f.ts
"""

QUERIES["streaming_pit"] = q_streaming_pit
ORACLES["streaming_pit"] = O_STREAMING_PIT




# --- DBSCAN candidate-graph neighbor recall ------------------------------------------

def q_dbscan_recall(spark, sf_dir):
    """The DBSCAN candidate-graph TUNING TABLE
    (operators/density.neighbor_recall): on a deterministic md5 vertex
    sample (1/2 of points), neighbor-pair recall of TWO candidate
    generators — the cheap single 8-plane band and the amplified 16x4
    banding — vs brute-force exact eps-pairs. On this deliberately
    near-uniform synthetic corpus the row QUANTIFIES the dial: single-band
    sign-LSH recall at wide eps is poor by math (p^8), banding buys it
    back at candidate-volume cost. Same role as ivf_recall / lsh_recall;
    all-integer one-row output."""
    from ..operators import density

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return density.neighbor_recall(
        emb, eps_micro=1_300_000, seed=7, dim=64, sample_buckets=2
    )


def _dbscan_recall_oracle(eps_micro: int = 1_300_000, seed: int = 7,
                          dim: int = 64, sample_buckets: int = 2) -> str:
    from ..operators.similarity import hyperplanes

    def bucket_expr(n_planes, s):
        planes = hyperplanes(dim, n_planes, s)
        return " + ".join(
            f"(case when list_dot_product(v, [{', '.join(repr(x) for x in h)}]) > 0 "
            f"then {1 << j} else 0 end)"
            for j, h in enumerate(planes)
        )

    # single operating point: one 8-plane band (seed+0) — identical to the
    # production dbscan_embeddings default
    single = bucket_expr(8, seed)
    # amplified operating point: 16 bands x 4 planes, seeds seed..seed+15
    banded_selects = "\n  union all\n".join(
        f"  select vec_id, {k} as band, ({bucket_expr(4, seed + k)}) as bk from e"
        for k in range(16)
    )
    lim = f"cast({eps_micro} as bigint) * cast({eps_micro} as bigint)"
    return f"""
with e0 as (
  select vec_id, embedding::DOUBLE[] as v,
    md5(cast(vec_id as varchar)) as h
  from embeddings
),
e as (select vec_id, v from e0 where ({_HEX7}) % {sample_buckets} = 0),
l as (select vec_id, generate_subscripts(v, 1) - 1 as i,
      cast(floor(unnest(v) * 1000000.0 + 0.5) as bigint) as q from e),
pd as (
  select a.vec_id as ia, c.vec_id as ib,
    (select sum((x.q - y.q) * (x.q - y.q))
     from l x join l y on y.i = x.i
     where x.vec_id = a.vec_id and y.vec_id = c.vec_id) as d2
  from e a join e c on a.vec_id < c.vec_id
),
exact as (select ia, ib from pd where d2 <= {lim}),
bs as (select vec_id, ({single}) as bk from e),
single_pairs as (
  select cand.ia, cand.ib from (
    select a.vec_id as ia, c.vec_id as ib
    from bs a join bs c on a.bk = c.bk and a.vec_id < c.vec_id
  ) cand join exact using (ia, ib)
),
melted as (
{banded_selects}
),
banded_pairs as (
  select cand.ia, cand.ib from (
    select distinct a.vec_id as ia, c.vec_id as ib
    from melted a join melted c
      on a.band = c.band and a.bk = c.bk and a.vec_id < c.vec_id
  ) cand join exact using (ia, ib)
),
j as (
  select coalesce(x.ia, s.ia, b.ia) as ia,
    case when x.ia is not null then 1 else 0 end as e_flag,
    case when s.ia is not null then 1 else 0 end as s_flag,
    case when b.ia is not null then 1 else 0 end as b_flag
  from exact x
  full outer join single_pairs s on x.ia = s.ia and x.ib = s.ib
  full outer join banded_pairs b on coalesce(x.ia, s.ia) = b.ia
                                and coalesce(x.ib, s.ib) = b.ib
),
agg as (
  select cast(sum(e_flag) as bigint) as n_exact,
    cast(sum(s_flag) as bigint) as n_single,
    cast(sum(b_flag) as bigint) as n_banded,
    cast(sum(case when e_flag = 1 and s_flag = 1 then 1 else 0 end) as bigint) as inter_single,
    cast(sum(case when e_flag = 1 and b_flag = 1 then 1 else 0 end) as bigint) as inter_banded
  from j
)
select n_exact, n_single, n_banded, inter_single, inter_banded,
  cast(case when n_exact > 0 then inter_single * 1000000 // n_exact
       else 1000000 end as bigint) as recall_single_ppm,
  cast(case when n_exact > 0 then inter_banded * 1000000 // n_exact
       else 1000000 end as bigint) as recall_banded_ppm
from agg
"""


O_DBSCAN_RECALL = _dbscan_recall_oracle()

QUERIES["dbscan_recall"] = q_dbscan_recall
ORACLES["dbscan_recall"] = O_DBSCAN_RECALL


# --- conversation prefix forks (rollout dedup) -----------------------------------

def q_prefix_forks(spark, sf_dir):
    """Fork-rate-by-depth profile of shared (role, text) turn prefixes —
    the branched-rollout dedup tuning view (operators/forks.py). Depth
    capped at 8 (fork points live in the shallow prefix; the cap also
    bounds the cumulative-digest frame for skew safety)."""
    from ..operators import forks

    t = transcripts_from_events(spark, sf_dir)
    return forks.fork_depth_profile(t, CFG, max_depth=8).select(
        "prefix_len",
        "n_prefixes",
        "n_convs",
        "n_forked_convs",
    )


O_PREFIX_FORKS = f"""{_W},
p as (
  select conv_id, turn_idx,
    md5(string_agg(md5(concat(role, chr(31), coalesce(text, ''))), '')
        over ({_CUM})) as prefix_digest
  from transcripts
  where turn_idx < 8
),
g as (
  select turn_idx + 1 as prefix_len, prefix_digest, count(*) as n_convs
  from p group by 1, 2
)
select cast(prefix_len as int) as prefix_len,
  cast(count(*) as bigint) as n_prefixes,
  cast(sum(n_convs) as bigint) as n_convs,
  cast(sum(case when n_convs >= 2 then n_convs else 0 end) as bigint) as n_forked_convs
from g group by 1
"""

QUERIES["prefix_forks"] = q_prefix_forks
ORACLES["prefix_forks"] = O_PREFIX_FORKS


def q_fork_groups(spark, sf_dir):
    """The fork groups themselves at depth <= 4: every (prefix_len,
    prefix_digest) shared by >= 2 conversations, with the keep-first
    representative (operators/forks.fork_groups)."""
    from ..operators import forks

    t = transcripts_from_events(spark, sf_dir)
    return forks.fork_groups(t, CFG, max_depth=4).select(
        "prefix_len", "prefix_digest", "n_convs", "keep_conv_id"
    )


O_FORK_GROUPS = f"""{_W},
p as (
  select conv_id, turn_idx,
    md5(string_agg(md5(concat(role, chr(31), coalesce(text, ''))), '')
        over ({_CUM})) as prefix_digest
  from transcripts
  where turn_idx < 4
)
select cast(turn_idx + 1 as int) as prefix_len, prefix_digest,
  cast(count(*) as bigint) as n_convs,
  min(conv_id) as keep_conv_id
from p
group by 1, 2
having count(*) >= 2
"""

QUERIES["fork_groups"] = q_fork_groups
ORACLES["fork_groups"] = O_FORK_GROUPS


# --- refusal / canned-response flag rates -----------------------------------------

_REFUSAL_PATTERNS = ("error", "cancel")


def q_refusal_rates(spark, sf_dir):
    """Per-conversation flagged-turn stats for a literal substring pattern
    list (functions/text.flag_rates) — the refusal-filtering primitive of
    an SFT curation pipeline (patterns would be "i cannot" / "i'm sorry,
    but" on real assistant turns; event keywords on this synth corpus)."""
    from ..functions import text as tx

    t = transcripts_from_events(spark, sf_dir)
    return tx.flag_rates(t, _REFUSAL_PATTERNS).select(
        "conv_id", "n_turns", "n_flagged", "flag_rate", "first_flag_turn"
    )


O_REFUSAL_RATES = f"""{_W},
f as (
  select conv_id, turn_idx,
    case when instr(lower(coalesce(text, '')), 'error') > 0
           or instr(lower(coalesce(text, '')), 'cancel') > 0
         then 1 else 0 end as flagged
  from transcripts
)
select conv_id,
  cast(count(*) as bigint) as n_turns,
  cast(sum(flagged) as bigint) as n_flagged,
  {_r6x_sql("cast(sum(flagged) as double) / cast(count(*) as double)")} as flag_rate,
  cast(min(case when flagged = 1 then turn_idx end) as int) as first_flag_turn
from f group by conv_id
"""

QUERIES["refusal_rates"] = q_refusal_rates
ORACLES["refusal_rates"] = O_REFUSAL_RATES


# --- tool retry trajectories ------------------------------------------------------

def q_tool_retry(spark, sf_dir):
    """Per-conversation same-tool retry trajectory features
    (operators/lifecycle.tool_retry_stats): retry count/rate and the
    longest consecutive same-tool run."""
    from ..operators import lifecycle

    t = transcripts_from_events(spark, sf_dir)
    return lifecycle.tool_retry_stats(t, CFG).select(
        "conv_id", "n_tool_calls", "n_retries", "retry_rate", "max_retry_streak"
    )


O_TOOL_RETRY = f"""{_W},
tt as (
  select conv_id, turn_idx, ts, tool,
    case when tool = lag(tool) over ({_OWIN}) then 1 else 0 end as is_retry
  from transcripts where tool is not null
),
g as (
  select conv_id, turn_idx, is_retry,
    sum(case when is_retry = 0 then 1 else 0 end) over ({_CUM}) as grp
  from tt
),
runs as (
  select conv_id, grp, count(*) as run_len from g group by 1, 2
),
per_conv as (
  select conv_id, cast(count(*) as bigint) as n_tool_calls,
    cast(sum(is_retry) as bigint) as n_retries
  from g group by conv_id
),
streak as (
  select conv_id, cast(max(run_len) as bigint) as max_retry_streak
  from runs group by conv_id
)
select p.conv_id, p.n_tool_calls, p.n_retries,
  {_r6x_sql("cast(p.n_retries as double) / cast(p.n_tool_calls as double)")} as retry_rate,
  s.max_retry_streak
from per_conv p join streak s on p.conv_id = s.conv_id
"""

QUERIES["tool_retry"] = q_tool_retry
ORACLES["tool_retry"] = O_TOOL_RETRY


# --- SFT pair extraction ----------------------------------------------------------

def q_sft_pairs(spark, sf_dir):
    """(context, response) training-pair extraction for assistant turns
    (functions/corpus.sft_pairs): pair ids + point-in-time context stats
    (every context window ends at the PREVIOUS turn — leakage-safe by
    construction)."""
    from ..functions import corpus as cp

    t = transcripts_from_events(spark, sf_dir)
    return cp.sft_pairs(t, min_context_turns=1).select(
        "pair_id",
        "conv_id",
        "turn_idx",
        "context_turns",
        "context_chars",
        "context_user_turns",
        "response_chars",
    )


O_SFT_PAIRS = f"""{_W},
e as (
  select conv_id, turn_idx, role,
    cast(count(*) over pv as bigint) as context_turns,
    cast(coalesce(sum(length(coalesce(text, ''))) over pv, 0) as bigint) as context_chars,
    cast(coalesce(sum(case when role = 'user' then 1 else 0 end) over pv, 0) as bigint) as context_user_turns,
    cast(length(coalesce(text, '')) as bigint) as response_chars
  from transcripts
  window pv as ({_OWIN} rows between unbounded preceding and 1 preceding)
)
select md5(concat(conv_id, ':', cast(turn_idx as varchar))) as pair_id,
  conv_id, turn_idx, context_turns, context_chars, context_user_turns,
  response_chars
from e
where role = 'assistant' and context_turns >= 1
"""

QUERIES["sft_pairs"] = q_sft_pairs
ORACLES["sft_pairs"] = O_SFT_PAIRS


# --- DPO preference pairs from forked rollouts ------------------------------------

def q_dpo_pairs(spark, sf_dir):
    """Preference-pair dataset from fork groups (operators/forks.dpo_pairs):
    rollouts sharing the depth-1 prefix, ranked by exact integer-cents
    continuation score, best paired against each sibling."""
    from ..operators import forks

    t = transcripts_from_events(spark, sf_dir)
    return forks.dpo_pairs(t, CFG, depth=1).select(
        "prefix_digest",
        "chosen_conv_id",
        "chosen_score_cents",
        "rejected_conv_id",
        "rejected_score_cents",
        "margin_cents",
    )


O_DPO_PAIRS = f"""{_W},
p as (
  select conv_id,
    md5(md5(concat(role, chr(31), coalesce(text, '')))) as prefix_digest
  from transcripts where turn_idx = 0
),
cont as (
  select conv_id,
    cast(sum(floor(value * 100.0 + 0.5)) as bigint) as score_cents
  from transcripts where turn_idx >= 1 group by conv_id
),
m as (
  select p.conv_id, p.prefix_digest, c.score_cents,
    row_number() over (partition by p.prefix_digest
                       order by c.score_cents desc, p.conv_id) as rk
  from p join cont c on p.conv_id = c.conv_id
)
select w.prefix_digest,
  w.conv_id as chosen_conv_id,
  w.score_cents as chosen_score_cents,
  l.conv_id as rejected_conv_id,
  l.score_cents as rejected_score_cents,
  cast(w.score_cents - l.score_cents as bigint) as margin_cents
from m w join m l on w.prefix_digest = l.prefix_digest
where w.rk = 1 and l.rk > 1
"""

QUERIES["dpo_pairs"] = q_dpo_pairs
ORACLES["dpo_pairs"] = O_DPO_PAIRS


# --- corpus-level MinHash: source-vs-source similarity --------------------------------

def q_source_minhash_sim(spark, sf_dir):
    """Corpus-vs-corpus similarity in ONE aggregation pass: per-source
    MinHash signature (min of md5('p|'||shingle) over the source's whole
    shingle set, 16 permutations — the same md5-permutation trick as
    document MinHash, lifted to source granularity), then the pairwise
    matching-coordinate fraction estimates the SOURCE-level shingle
    Jaccard. The 'which sources mirror each other' dashboard at 100 TB:
    the shuffle carries 16 strings per source, and the pair join runs on
    the n_sources-row signature frame, never documents."""
    from ..operators.dedup import word_shingles
    from ..operators.skew import fan_out_small_scan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sh = fan_out_small_scan(docs).select(
        "source", F.explode(word_shingles("text", 3)).alias("shingle")
    )
    sig = sh.groupBy("source").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{p}|"), F.col("shingle"))))
            .alias(f"sig_{p}")
            for p in range(16)
        ]
    )
    a, b = sig.alias("a"), sig.alias("b")
    match = sum(
        (F.col(f"a.sig_{p}") == F.col(f"b.sig_{p}")).cast("long")
        for p in range(16)
    )
    return (
        a.join(b, F.col("a.source") < F.col("b.source"))
        .select(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
            match.alias("n_match"),
        )
        .select(
            "source_a", "source_b", "n_match",
            F.expr("n_match * 1000000 div 16").cast("long")
            .alias("est_jaccard_ppm"),
        )
    )


def _source_minhash_oracle() -> str:
    sigs = ",\n    ".join(
        f"min(md5('{p}|' || shingle)) as sig_{p}" for p in range(16)
    )
    match = " + ".join(
        f"case when a.sig_{p} = b.sig_{p} then 1 else 0 end" for p in range(16)
    )
    return f"""
with sh as (
  select source, unnest(
    case when len(words) >= 3 then
      list_distinct([array_to_string(words[i:i+2], ' ')
                     for i in range(1, len(words) - 1)])
    else [array_to_string(words, ' ')] end
  ) as shingle
  from (
    select source,
      string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') as words
    from documents
  )
),
sig as (
  select source,
    {sigs}
  from sh group by source
)
select a.source as source_a, b.source as source_b,
  cast({match} as bigint) as n_match,
  cast(({match}) * 1000000 // 16 as bigint) as est_jaccard_ppm
from sig a join sig b on a.source < b.source
"""


QUERIES["source_minhash_sim"] = q_source_minhash_sim
ORACLES["source_minhash_sim"] = _source_minhash_oracle()


# --- clustering overlap depth (lakehouse layout meter) -------------------------------

def q_clustering_depth(spark, sf_dir):
    """Read-amplification meter for file layout (operators/layout.
    clustering_depth): per synthetic file (events bucketed by
    event_id div 100, zone-map [min,max] of value), how many OTHER files'
    ranges overlap it. Exact O(n log n) boundary sweeps (two sorted
    running counts over manifest-sized frames) — the oracle cross-checks
    with the independent quadratic join, so the sweep algebra itself is
    what's verified."""
    from ..operators import layout

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    stats = (
        ev.groupBy(F.expr("event_id div 100").cast("long").alias("file_id"))
        .agg(F.min("value").alias("min_v"), F.max("value").alias("max_v"))
    )
    return layout.clustering_depth(stats)


O_CLUSTERING_DEPTH = """
with stats as (
  select event_id // 100 as file_id,
    min(value) as min_v, max(value) as max_v
  from events group by 1
)
select cast(a.file_id as bigint) as file_id,
  cast(count(b.file_id) as bigint) as overlap_depth
from stats a
left join stats b
  on b.file_id <> a.file_id
 and b.min_v <= a.max_v and b.max_v >= a.min_v
group by a.file_id
"""

QUERIES["clustering_depth"] = q_clustering_depth
ORACLES["clustering_depth"] = O_CLUSTERING_DEPTH


# --- peak concurrency (interval sweep) ----------------------------------------------

def q_peak_concurrency(spark, sf_dir):
    """Capacity analytics: maximum number of SIMULTANEOUSLY open
    conversations, by the classic +1/-1 boundary sweep — each conversation
    is the interval [min ts, max ts]; sort all boundaries (ends before
    starts at ties: a conversation ending exactly when another starts does
    NOT overlap it — the half-open convention) and take the running-sum
    max. Exact int64; one row: peak, its first timestamp, totals.

    Shape: per-conv interval aggregate, then a single global ordered
    running sum over 2 rows/conversation — the sweep frame is
    conversations-sized, never turns-sized."""
    t = _t(spark, sf_dir)
    from pyspark.sql.window import Window

    from ..operators.ordering import epoch_us

    iv = t.groupBy("conv_id").agg(
        F.min(epoch_us("ts")).alias("s"), F.max(epoch_us("ts")).alias("e")
    )
    b = iv.select(F.col("s").alias("t"), F.lit(1).alias("d")).unionAll(
        iv.select(F.col("e").alias("t"), F.lit(-1).alias("d"))
    )
    w = (
        Window.orderBy("t", "d")  # d=-1 sorts before +1 at equal t
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = b.withColumn("c", F.sum("d").over(w))
    mx = run.agg(F.max("c").alias("peak"))
    return run.crossJoin(F.broadcast(mx)).agg(
        F.max("peak").cast("long").alias("peak_concurrency"),
        F.min(F.when(F.col("c") == F.col("peak"), F.col("t")))
        .cast("long").alias("peak_first_ts_us"),
        (F.count(F.lit(1)) / 2).cast("long").alias("n_conversations"),
    )


O_PEAK_CONCURRENCY = f"""{_W},
iv as (
  select conv_id, min(epoch_us(ts)) as s, max(epoch_us(ts)) as e
  from transcripts group by conv_id
),
b as (
  select s as t, 1 as d from iv
  union all
  select e as t, -1 as d from iv
),
run as (
  select t, sum(d) over (order by t, d
    rows between unbounded preceding and current row) as c
  from b
),
mx as (select max(c) as peak from run)
select cast(mx.peak as bigint) as peak_concurrency,
  cast((select min(t) from run where c = mx.peak) as bigint)
    as peak_first_ts_us,
  cast((select count(*) / 2 from b) as bigint) as n_conversations
from mx
"""

QUERIES["peak_concurrency"] = q_peak_concurrency
ORACLES["peak_concurrency"] = O_PEAK_CONCURRENCY


# --- DPO length-bias audit ---------------------------------------------------------

def q_dpo_length_bias(spark, sf_dir):
    """Length-bias audit of the preference data (the AlpacaEval-style
    check): among DPO pairs, how often is the CHOSEN continuation also
    the LONGER one, by margin quartile — a rate near 1.0 means the reward
    signal is confounded with verbosity and length-controlled training is
    needed. ntile over the unique (margin, ids) total order keeps the
    bucketing engine-exact; rates in ppm by floor division."""
    from pyspark.sql.window import Window

    from ..operators import forks

    t = transcripts_from_events(spark, sf_dir)
    pairs = forks.dpo_pairs(t, CFG, depth=1)
    chars = (
        t.filter(F.col("turn_idx") >= 1)
        .groupBy("conv_id")
        .agg(F.sum(F.coalesce(F.length("text"), F.lit(0)))
             .cast("long").alias("chars"))
    )
    j = (
        pairs.join(chars.withColumnRenamed("conv_id", "chosen_conv_id")
                   .withColumnRenamed("chars", "chosen_chars"), "chosen_conv_id")
        .join(chars.withColumnRenamed("conv_id", "rejected_conv_id")
              .withColumnRenamed("chars", "rejected_chars"), "rejected_conv_id")
    )
    w = Window.orderBy("margin_cents", "chosen_conv_id", "rejected_conv_id")
    j = j.withColumn("margin_q", F.ntile(4).over(w))
    return (
        j.groupBy("margin_q")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum((F.col("chosen_chars") > F.col("rejected_chars")).cast("long"))
            .cast("long").alias("n_chosen_longer"),
            F.min("margin_cents").cast("long").alias("margin_lo_cents"),
            F.max("margin_cents").cast("long").alias("margin_hi_cents"),
        )
        .select(
            F.col("margin_q").cast("int").alias("margin_q"),
            "n_pairs", "n_chosen_longer", "margin_lo_cents", "margin_hi_cents",
            F.expr("n_chosen_longer * 1000000 div n_pairs")
            .cast("long").alias("longer_rate_ppm"),
        )
    )


O_DPO_LENGTH_BIAS = f"""{_W},
p as (
  select conv_id,
    md5(md5(concat(role, chr(31), coalesce(text, '')))) as prefix_digest
  from transcripts where turn_idx = 0
),
cont as (
  select conv_id,
    cast(sum(floor(value * 100.0 + 0.5)) as bigint) as score_cents,
    cast(sum(coalesce(length(text), 0)) as bigint) as chars
  from transcripts where turn_idx >= 1 group by conv_id
),
m as (
  select p.conv_id, p.prefix_digest, c.score_cents, c.chars,
    row_number() over (partition by p.prefix_digest
                       order by c.score_cents desc, p.conv_id) as rk
  from p join cont c on p.conv_id = c.conv_id
),
pr as (
  select w.conv_id as chosen_conv_id, l.conv_id as rejected_conv_id,
    cast(w.score_cents - l.score_cents as bigint) as margin_cents,
    w.chars as chosen_chars, l.chars as rejected_chars
  from m w join m l on w.prefix_digest = l.prefix_digest
  where w.rk = 1 and l.rk > 1
),
q as (
  select *, ntile(4) over (order by margin_cents, chosen_conv_id,
                           rejected_conv_id) as margin_q
  from pr
)
select cast(margin_q as int) as margin_q,
  cast(count(*) as bigint) as n_pairs,
  cast(sum(case when chosen_chars > rejected_chars then 1 else 0 end)
       as bigint) as n_chosen_longer,
  cast(min(margin_cents) as bigint) as margin_lo_cents,
  cast(max(margin_cents) as bigint) as margin_hi_cents,
  cast(sum(case when chosen_chars > rejected_chars then 1 else 0 end)
       * 1000000 // count(*) as bigint) as longer_rate_ppm
from q group by margin_q
"""

QUERIES["dpo_length_bias"] = q_dpo_length_bias
ORACLES["dpo_length_bias"] = O_DPO_LENGTH_BIAS


# --- training-set construction capstone -------------------------------------------

def q_training_set_pipeline(spark, sf_dir):
    """The SFT capstone (jobs/build_training_sets.py as one declarative
    plan): fork-dedup the rollouts (keep-first at depth 2), drop
    refusal-heavy conversations (flag_rate > 0.5), extract point-in-time
    SFT pairs, split conversation-atomically, and report per-split pair
    counts + context/response volume. Proves the rollout-curation family
    composes."""
    from ..batch import group_hash_split
    from ..functions import corpus as cp
    from ..functions import text as tx
    from ..operators import forks

    t = transcripts_from_events(spark, sf_dir)
    keep = forks.fork_dedup_keep(t, CFG, depth=2)
    t = t.join(keep.filter(F.col("keep")).select("conv_id"), "conv_id")
    rates = tx.flag_rates(t, _REFUSAL_PATTERNS)
    t = t.join(
        rates.filter(F.col("flag_rate") <= 0.5).select("conv_id"), "conv_id"
    )
    pairs = group_hash_split(cp.sft_pairs(t, min_context_turns=1), CFG)
    return pairs.groupBy("split").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum("context_chars").cast("long").alias("total_context_chars"),
        F.sum("response_chars").cast("long").alias("total_response_chars"),
    )


O_TRAINING_SET_PIPELINE = f"""{_W},
p2 as (
  select conv_id, turn_idx,
    md5(string_agg(md5(concat(role, chr(31), coalesce(text, ''))), '')
        over ({_CUM})) as prefix_digest
  from transcripts where turn_idx < 2
),
keepers as (
  select conv_id from (
    select conv_id, row_number() over (partition by prefix_digest
                                       order by conv_id) as rk
    from p2 where turn_idx = 1
  ) where rk = 1
  union all
  select conv_id from transcripts group by conv_id having max(turn_idx) < 1
),
t1 as (select t.* from transcripts t join keepers using (conv_id)),
fr as (
  select conv_id,
    {_r6x_sql("cast(sum(case when instr(lower(coalesce(text, '')), 'error') > 0 or instr(lower(coalesce(text, '')), 'cancel') > 0 then 1 else 0 end) as double) / cast(count(*) as double)")} as flag_rate
  from t1 group by conv_id
),
t2 as (select t1.* from t1 join fr using (conv_id) where fr.flag_rate <= 0.5),
e as (
  select conv_id, turn_idx, role,
    cast(count(*) over pv as bigint) as context_turns,
    cast(coalesce(sum(length(coalesce(text, ''))) over pv, 0) as bigint) as context_chars,
    cast(length(coalesce(text, '')) as bigint) as response_chars
  from t2
  window pv as ({_OWIN} rows between unbounded preceding and 1 preceding)
),
pairs as (
  select * from e where role = 'assistant' and context_turns >= 1
),
b as (
  select conv_id, md5(cast(conv_id as varchar)) as h
  from (select distinct conv_id from pairs)
)
select case when ({_HEX7}) % 10000 < 7000 then 'train'
            when ({_HEX7}) % 10000 < 8500 then 'val'
            else 'test' end as split,
  cast(count(*) as bigint) as n_pairs,
  cast(sum(p.context_chars) as bigint) as total_context_chars,
  cast(sum(p.response_chars) as bigint) as total_response_chars
from pairs p join b using (conv_id)
group by 1
"""

QUERIES["training_set_pipeline"] = q_training_set_pipeline
ORACLES["training_set_pipeline"] = O_TRAINING_SET_PIPELINE


# --- agent-loop detection ----------------------------------------------------------

def q_loop_detection(spark, sf_dir):
    """Stuck-agent loop detection (operators/state.loop_stats): longest
    period-k digest-replay run per conversation, k=1..3, plus the
    two-full-periods loop flag."""
    t = transcripts_from_events(spark, sf_dir)
    return state.loop_stats(t, CFG, max_period=3).select(
        "conv_id", "n_turns", "max_run_p1", "max_run_p2", "max_run_p3",
        F.col("loop_flag").cast("int").alias("loop_flag"),
    )


O_LOOP_DETECTION = f"""{_W},
d as (
  select conv_id, turn_idx, ts,
    md5(concat(role, chr(31), coalesce(text, ''))) as dg
  from transcripts
),
e as (
  select conv_id, turn_idx, ts,
    case when dg = lag(dg, 1) over ({_OWIN}) then 1 else 0 end as eq1,
    case when dg = lag(dg, 2) over ({_OWIN}) then 1 else 0 end as eq2,
    case when dg = lag(dg, 3) over ({_OWIN}) then 1 else 0 end as eq3
  from d
),
g as (
  select conv_id, turn_idx, ts, eq1, eq2, eq3,
    sum(1 - eq1) over ({_CUM}) as g1,
    sum(1 - eq2) over ({_CUM}) as g2,
    sum(1 - eq3) over ({_CUM}) as g3
  from e
),
r as (
  select conv_id, eq1, eq2, eq3,
    case when eq1 = 1 then row_number() over (partition by conv_id, g1 order by turn_idx, ts) - 1 else 0 end as r1,
    case when eq2 = 1 then row_number() over (partition by conv_id, g2 order by turn_idx, ts) - 1 else 0 end as r2,
    case when eq3 = 1 then row_number() over (partition by conv_id, g3 order by turn_idx, ts) - 1 else 0 end as r3
  from g
)
select conv_id,
  cast(count(*) as bigint) as n_turns,
  cast(max(r1) as bigint) as max_run_p1,
  cast(max(r2) as bigint) as max_run_p2,
  cast(max(r3) as bigint) as max_run_p3,
  cast(case when max(r1) >= 2 or max(r2) >= 4 or max(r3) >= 6
       then 1 else 0 end as int) as loop_flag
from r group by conv_id
"""

QUERIES["loop_detection"] = q_loop_detection
ORACLES["loop_detection"] = O_LOOP_DETECTION


# --- canned-response templates ------------------------------------------------------

def q_canned_responses(spark, sf_dir):
    """Cross-conversation template detection (operators/dedup.
    canned_responses): assistant-turn normalized-text hash groups reused
    >= 3 times."""
    t = transcripts_from_events(spark, sf_dir)
    return dedup.canned_responses(t, min_uses=3).select(
        "template_hash", "n_uses", "n_convs", "template_len", "keep_conv_id"
    )


O_CANNED_RESPONSES = f"""{_W},
a as (
  select conv_id,
    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) as template_hash,
    length(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) as tl
  from transcripts where role = 'assistant'
)
select template_hash,
  cast(count(*) as bigint) as n_uses,
  cast(count(distinct conv_id) as bigint) as n_convs,
  cast(min(tl) as bigint) as template_len,
  min(conv_id) as keep_conv_id
from a group by template_hash
having count(*) >= 3
"""

QUERIES["canned_responses"] = q_canned_responses
ORACLES["canned_responses"] = O_CANNED_RESPONSES


# --- conversation-value attribution -------------------------------------------------

def q_tool_attribution(spark, sf_dir):
    """First/last/linear-touch value attribution per tool
    (operators/lifecycle.tool_attribution) — exact integer cents, integer
    `div` for the linear split."""
    from ..operators import lifecycle

    t = transcripts_from_events(spark, sf_dir)
    return lifecycle.tool_attribution(t, CFG).select(
        "tool", "first_touch_cents", "last_touch_cents", "linear_cents",
        "n_convs",
    )


O_TOOL_ATTRIBUTION = f"""{_W},
cv as (
  select conv_id,
    cast(sum(floor(value * 100.0 + 0.5)) as bigint) as conv_cents
  from transcripts group by conv_id
),
tt as (
  select conv_id, tool,
    row_number() over ({_OWIN}) as rk_a,
    row_number() over (partition by conv_id order by turn_idx desc, ts desc) as rk_d
  from transcripts where tool is not null
),
pct as (
  select conv_id, tool,
    cast(count(*) as bigint) as n_tt,
    max(case when rk_a = 1 then 1 else 0 end) as is_first,
    max(case when rk_d = 1 then 1 else 0 end) as is_last
  from tt group by conv_id, tool
),
tot as (select conv_id, cast(count(*) as bigint) as n_tt_total from tt group by conv_id)
select p.tool,
  cast(sum(p.is_first * c.conv_cents) as bigint) as first_touch_cents,
  cast(sum(p.is_last * c.conv_cents) as bigint) as last_touch_cents,
  cast(sum(c.conv_cents * p.n_tt // t.n_tt_total) as bigint) as linear_cents,
  cast(count(distinct p.conv_id) as bigint) as n_convs
from pct p join tot t on p.conv_id = t.conv_id
join cv c on p.conv_id = c.conv_id
group by p.tool
"""

QUERIES["tool_attribution"] = q_tool_attribution
ORACLES["tool_attribution"] = O_TOOL_ATTRIBUTION


# --- conversation abandonment labels -------------------------------------------------

def q_abandonment_labels(spark, sf_dir):
    """Conversation-outcome labels: a conversation whose LAST turn is a
    user turn was abandoned mid-exchange (nobody answered). Per conv:
    turn count, last role, abandoned flag, exact duration in micros."""
    from pyspark.sql import Window

    t = transcripts_from_events(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy(
        F.col("turn_idx").desc(), F.col("ts").desc()
    )
    lastr = t.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") == 1
    ).select("conv_id", F.col("role").alias("last_role"))
    agg = t.groupBy("conv_id").agg(
        F.count("*").cast("long").alias("n_turns"),
        (
            F.max(F.unix_micros(F.col("ts").cast("timestamp")))
            - F.min(F.unix_micros(F.col("ts").cast("timestamp")))
        ).cast("long").alias("duration_us"),
    )
    return agg.join(lastr, "conv_id").select(
        "conv_id", "n_turns", "last_role",
        (F.col("last_role") == "user").cast("int").alias("abandoned"),
        "duration_us",
    )


O_ABANDONMENT_LABELS = f"""{_W},
lr as (
  select conv_id, role as last_role from (
    select conv_id, role,
      row_number() over (partition by conv_id order by turn_idx desc, ts desc) as rk
    from transcripts
  ) where rk = 1
),
a as (
  select conv_id, cast(count(*) as bigint) as n_turns,
    cast(max(epoch_us(ts)) - min(epoch_us(ts)) as bigint) as duration_us
  from transcripts group by conv_id
)
select a.conv_id, a.n_turns, lr.last_role,
  cast(case when lr.last_role = 'user' then 1 else 0 end as int) as abandoned,
  a.duration_us
from a join lr on a.conv_id = lr.conv_id
"""

QUERIES["abandonment_labels"] = q_abandonment_labels
ORACLES["abandonment_labels"] = O_ABANDONMENT_LABELS


# --- ordered tool-pair sequence mining ----------------------------------------------

def q_tool_ordering_pairs(spark, sf_dir):
    """Sequential-pattern mining (PrefixSpan's 2-sequence core): for every
    ordered tool pair (a, b), in how many conversations does a's FIRST use
    precede b's first use. Collapses each conversation to its <= |tools|
    first-use rows (one grouped aggregate) before the pair join — the
    self-join runs on the tiny distinct-tool set, never on turns."""
    t = transcripts_from_events(spark, sf_dir)
    firsts = (
        t.filter(F.col("tool").isNotNull())
        .groupBy("conv_id", "tool")
        .agg(F.min("turn_idx").alias("first_turn"))
    )
    a = firsts.select(
        "conv_id", F.col("tool").alias("tool_a"), F.col("first_turn").alias("fa")
    )
    b = firsts.select(
        "conv_id", F.col("tool").alias("tool_b"), F.col("first_turn").alias("fb")
    )
    return (
        a.join(b, "conv_id")
        .filter(F.col("fa") < F.col("fb"))
        .groupBy("tool_a", "tool_b")
        .agg(F.count("*").cast("long").alias("n_convs"))
    )


O_TOOL_ORDERING_PAIRS = f"""{_W},
firsts as (
  select conv_id, tool, min(turn_idx) as first_turn
  from transcripts where tool is not null
  group by conv_id, tool
)
select a.tool as tool_a, b.tool as tool_b,
  cast(count(*) as bigint) as n_convs
from firsts a join firsts b
  on a.conv_id = b.conv_id and a.first_turn < b.first_turn
group by a.tool, b.tool
"""

QUERIES["tool_ordering_pairs"] = q_tool_ordering_pairs
ORACLES["tool_ordering_pairs"] = O_TOOL_ORDERING_PAIRS


# --- n-gram containment (asymmetric near-dup) ----------------------------------------

def q_ngram_containment(spark, sf_dir):
    """Broder containment pairs (operators/dedup.ngram_containment_pairs):
    the quote/subset detector — exact integer-ppm scores, either direction
    >= 0.3."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.ngram_containment_pairs(docs, k=3, threshold_ppm=300_000).select(
        "id_a", "id_b", "containment_ab_ppm", "containment_ba_ppm"
    )


O_NGRAM_CONTAINMENT = f"""
with {_SHINGLE_SQL},
sizes as (select doc_id, count(*) as n_sh from shingled group by doc_id),
inter as (
  select a.doc_id as id_a, b.doc_id as id_b, count(*) as n_inter
  from shingled a join shingled b using (shingle)
  where a.doc_id < b.doc_id
  group by 1, 2
)
select id_a, id_b,
  cast(n_inter * 1000000 // sa.n_sh as bigint) as containment_ab_ppm,
  cast(n_inter * 1000000 // sb.n_sh as bigint) as containment_ba_ppm
from inter
join sizes sa on sa.doc_id = id_a
join sizes sb on sb.doc_id = id_b
where n_inter * 1000000 // sa.n_sh >= 300000
   or n_inter * 1000000 // sb.n_sh >= 300000
"""

QUERIES["ngram_containment"] = q_ngram_containment
ORACLES["ngram_containment"] = O_NGRAM_CONTAINMENT


# --- streaming SFT pair extraction ---------------------------------------------------

def q_streaming_sft(spark, sf_dir):
    """REAL streaming execution of SFT pair extraction
    (streaming/stream.streaming_sft_pairs): transcripts replayed through
    readStream -> applyInPandasWithState (state = three context counters
    per conversation) -> availableNow -> memory sink. Single-file source
    => in-order micro-batch, so the batch PIT-window oracle matches
    exactly; pair ids added post-sink (pure md5 projection)."""
    import hashlib
    import uuid
    from pathlib import Path as _P

    from ..streaming import stream as strm

    t = transcripts_from_events(spark, sf_dir).select(
        "conv_id", F.col("turn_idx").cast("long").alias("turn_idx"),
        "ts", "role", "text",
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = f"/tmp/stream_sft_src_{tag}"
    if not _P(path).exists():
        t.coalesce(1).write.mode("overwrite").parquet(path)
    src = spark.readStream.schema(t.schema).parquet(path)
    out = strm.streaming_sft_pairs(src, CFG, min_context_turns=1)
    qname = "qss_" + uuid.uuid4().hex[:12]
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            out.writeStream.format("memory")
            .queryName(qname)
            .trigger(availableNow=True)
            .option("checkpointLocation", f"/dev/shm/spark-tmp/stream_sft_ckpt_{uuid.uuid4().hex[:12]}")
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
    return spark.table(qname).select(
        F.md5(F.concat_ws(":", "conv_id", "turn_idx")).alias("pair_id"),
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        "context_turns", "context_chars", "context_user_turns",
        "response_chars",
    )


# identical output contract to the batch operator -> same oracle
O_STREAMING_SFT = O_SFT_PAIRS

QUERIES["streaming_sft"] = q_streaming_sft
ORACLES["streaming_sft"] = O_STREAMING_SFT


# --- Wilson-scored tool success leaderboard -------------------------------------------

def q_tool_success_wilson(spark, sf_dir):
    """Per-tool success rate with Wilson 95% bounds
    (functions/stats.wilson_interval): success = the tool turn's text is
    not an error event. Exact integer (n, k) aggregates; the interval is a
    fixed-order float expression — rank by wilson_lo, not the naive rate."""
    from ..functions.stats import wilson_interval

    t = transcripts_from_events(spark, sf_dir)
    agg = (
        t.filter(F.col("tool").isNotNull())
        .groupBy("tool")
        .agg(
            F.count("*").cast("long").alias("n_calls"),
            F.sum(
                (~F.col("text").startswith("error")).cast("int")
            ).cast("long").alias("n_success"),
        )
    )
    lo, hi = wilson_interval("n_calls", "n_success")
    return agg.select(
        "tool", "n_calls", "n_success",
        F.expr("n_success * 1000000 div n_calls").cast("long").alias("rate_ppm"),
        _r6x(lo, "wilson_lo"),
        _r6x(hi, "wilson_hi"),
    )


O_TOOL_SUCCESS_WILSON = f"""{_W},
a as (
  select tool,
    cast(count(*) as bigint) as n_calls,
    cast(sum(case when text like 'error%' then 0 else 1 end) as bigint) as n_success
  from transcripts where tool is not null group by tool
),
w as (
  select tool, n_calls, n_success,
    cast(n_success as double) / cast(n_calls as double) as p,
    cast(n_calls as double) as n
  from a
)
select tool, n_calls, n_success,
  cast(n_success * 1000000 // n_calls as bigint) as rate_ppm,
  {_r6x_sql("((p + 3.8415999999999997 / (2.0 * n)) - 1.96 * sqrt(p * (1.0 - p) / n + 3.8415999999999997 / (4.0 * n * n))) / (1.0 + 3.8415999999999997 / n)")} as wilson_lo,
  {_r6x_sql("((p + 3.8415999999999997 / (2.0 * n)) + 1.96 * sqrt(p * (1.0 - p) / n + 3.8415999999999997 / (4.0 * n * n))) / (1.0 + 3.8415999999999997 / n)")} as wilson_hi
from w
"""

QUERIES["tool_success_wilson"] = q_tool_success_wilson
ORACLES["tool_success_wilson"] = O_TOOL_SUCCESS_WILSON


# --- daily reply-latency SLA rollup ----------------------------------------------------

def q_daily_sla(spark, sf_dir):
    """Ops-dashboard rollup: per calendar day, user->assistant reply
    latencies as EXPLICIT order statistics (value at rank ceil(q*n) of the
    sorted integer-microsecond multiset — quantile_disc semantics spelled
    out as rank arithmetic so both engines compute the identical integer),
    plus volume and max."""
    from pyspark.sql import Window

    t = transcripts_from_events(spark, sf_dir)
    w = ordering.stable_window(CFG)
    us = ordering.epoch_us("ts")
    d = t.select(
        F.to_date("ts").alias("day"),
        F.lag("role").over(w).alias("_prev_role"),
        (us - F.lag(us).over(w)).alias("_dt_us"),
        "role",
    ).filter((F.col("_prev_role") == "user") & (F.col("role") == "assistant"))
    wd = Window.partitionBy("day").orderBy("_dt_us")
    ranked = d.select(
        "day",
        F.col("_dt_us"),
        F.row_number().over(wd).alias("_rk"),
        F.count("*").over(Window.partitionBy("day")).alias("_n"),
    )
    return ranked.groupBy("day").agg(
        F.max("_n").cast("long").alias("n_replies"),
        F.max(
            F.when(F.col("_rk") == F.ceil(F.col("_n") * 0.5), F.col("_dt_us"))
        ).cast("long").alias("p50_us"),
        F.max(
            F.when(F.col("_rk") == F.ceil(F.col("_n") * 0.95), F.col("_dt_us"))
        ).cast("long").alias("p95_us"),
        F.max("_dt_us").cast("long").alias("max_us"),
    )


O_DAILY_SLA = f"""{_W},
d as (
  select cast(ts as date) as day, role,
    lag(role) over ({_OWIN}) as prev_role,
    (epoch_us(ts) - lag(epoch_us(ts)) over ({_OWIN})) as dt_us
  from transcripts
),
f as (select day, dt_us from d where prev_role = 'user' and role = 'assistant'),
r as (
  select day, dt_us,
    row_number() over (partition by day order by dt_us) as rk,
    count(*) over (partition by day) as n
  from f
)
select day,
  cast(max(n) as bigint) as n_replies,
  cast(max(case when rk = ceil(n * 0.5) then dt_us end) as bigint) as p50_us,
  cast(max(case when rk = ceil(n * 0.95) then dt_us end) as bigint) as p95_us,
  cast(max(dt_us) as bigint) as max_us
from r group by day
"""

QUERIES["daily_sla"] = q_daily_sla
ORACLES["daily_sla"] = O_DAILY_SLA


# --- PIT feature-staleness diagnostics ------------------------------------------------

def q_pit_staleness(spark, sf_dir):
    """Feature-store freshness monitoring: for every anchor (assistant
    turn), the AGE of the backward as-of matched feature row from each of
    two timelines; rolled up per timeline as match coverage + explicit
    rank-arithmetic age percentiles (integer micros). The operational twin
    of pit_training_set — what TTL should be is read off this table."""
    from pyspark.sql import Window

    t = transcripts_from_events(spark, sf_dir)
    spine = t.filter(F.col("role") == "assistant").select("conv_id", "ts")
    outs = []
    for name, role in (("tool_activity", "tool"), ("user_message", "user")):
        tl = (
            t.filter(F.col("role") == role)
            .groupBy("conv_id", "ts")
            .agg(F.max(ordering.epoch_us("ts")).alias("f_us"))
        )
        j = asof.asof_join(spine, tl, key="conv_id", ts="ts", value_cols=["f_us"])
        aged = j.select(
            F.lit(name).alias("timeline"),
            (ordering.epoch_us("ts") - F.col("f_us_asof")).alias("age_us"),
        )
        wd = Window.partitionBy("timeline").orderBy("age_us")
        ranked = aged.filter(F.col("age_us").isNotNull()).select(
            "timeline", "age_us",
            F.row_number().over(wd).alias("rk"),
            F.count("*").over(Window.partitionBy("timeline")).alias("n"),
        )
        roll = ranked.groupBy("timeline").agg(
            F.max("n").cast("long").alias("n_matched"),
            F.max(
                F.when(F.col("rk") == F.ceil(F.col("n") * 0.5), F.col("age_us"))
            ).cast("long").alias("p50_age_us"),
            F.max(
                F.when(F.col("rk") == F.ceil(F.col("n") * 0.95), F.col("age_us"))
            ).cast("long").alias("p95_age_us"),
            F.max("age_us").cast("long").alias("max_age_us"),
        )
        n_anchor = aged.groupBy("timeline").agg(
            F.count("*").cast("long").alias("n_anchors")
        )
        outs.append(n_anchor.join(roll, "timeline"))
    return outs[0].unionByName(outs[1]).select(
        "timeline", "n_anchors", "n_matched",
        "p50_age_us", "p95_age_us", "max_age_us",
    )


O_PIT_STALENESS = f"""{_W},
s as (select conv_id, ts from transcripts where role = 'assistant'),
tl_tool as (
  select conv_id, ts, max(epoch_us(ts)) as f_us
  from transcripts where role = 'tool' group by 1, 2
),
tl_user as (
  select conv_id, ts, max(epoch_us(ts)) as f_us
  from transcripts where role = 'user' group by 1, 2
),
aged as (
  select 'tool_activity' as timeline, epoch_us(s.ts) - t.f_us as age_us
  from s asof left join tl_tool t on s.conv_id = t.conv_id and s.ts >= t.ts
  union all
  select 'user_message' as timeline, epoch_us(s.ts) - t.f_us as age_us
  from s asof left join tl_user t on s.conv_id = t.conv_id and s.ts >= t.ts
),
anchors as (select timeline, cast(count(*) as bigint) as n_anchors from aged group by timeline),
r as (
  select timeline, age_us,
    row_number() over (partition by timeline order by age_us) as rk,
    count(*) over (partition by timeline) as n
  from aged where age_us is not null
),
roll as (
  select timeline,
    cast(max(n) as bigint) as n_matched,
    cast(max(case when rk = ceil(n * 0.5) then age_us end) as bigint) as p50_age_us,
    cast(max(case when rk = ceil(n * 0.95) then age_us end) as bigint) as p95_age_us,
    cast(max(age_us) as bigint) as max_age_us
  from r group by timeline
)
select a.timeline, a.n_anchors, roll.n_matched, roll.p50_age_us,
  roll.p95_age_us, roll.max_age_us
from anchors a join roll on a.timeline = roll.timeline
"""

QUERIES["pit_staleness"] = q_pit_staleness
ORACLES["pit_staleness"] = O_PIT_STALENESS


# --- right-to-be-forgotten purge audit --------------------------------------------------

def q_tombstone_purge(spark, sf_dir):
    """Compliance cascade: a deterministic 5% tombstone set of
    conversations (md5 bucket < 500/10000 — standing in for a deletion
    request table) anti-joined out of the corpus, with the audit counts a
    deletion job must report."""
    t = transcripts_from_events(spark, sf_dir)
    bucket = (
        F.conv(F.substring(F.md5(F.col("conv_id")), 1, 7), 16, 10).cast("long")
        % 10000
    )
    flagged = t.withColumn("_dead", (bucket < 500).cast("int"))
    return flagged.agg(
        F.countDistinct(F.when(F.col("_dead") == 1, F.col("conv_id")))
        .cast("long").alias("n_tombstoned_convs"),
        F.sum("_dead").cast("long").alias("n_purged_turns"),
        F.countDistinct(F.when(F.col("_dead") == 0, F.col("conv_id")))
        .cast("long").alias("n_kept_convs"),
        F.sum(1 - F.col("_dead")).cast("long").alias("n_kept_turns"),
    )


O_TOMBSTONE_PURGE = f"""{_W},
b as (
  select conv_id, md5(conv_id) as h,
    case when ({_HEX7}) % 10000 < 500 then 1 else 0 end as dead
  from transcripts
)
select
  cast(count(distinct case when dead = 1 then conv_id end) as bigint) as n_tombstoned_convs,
  cast(sum(dead) as bigint) as n_purged_turns,
  cast(count(distinct case when dead = 0 then conv_id end) as bigint) as n_kept_convs,
  cast(sum(1 - dead) as bigint) as n_kept_turns
from b
"""

QUERIES["tombstone_purge"] = q_tombstone_purge
ORACLES["tombstone_purge"] = O_TOMBSTONE_PURGE


# --- daily active / new conversations ---------------------------------------------------

def q_daily_actives(spark, sf_dir):
    """Engagement rollup: per calendar day, active conversations, NEW
    conversations (first-ever day), returning = active - new, and turn
    volume. Two grouped aggregates (per-conv first day, then per day) —
    no window over the full corpus."""
    t = transcripts_from_events(spark, sf_dir)
    days = t.select(F.to_date("ts").alias("day"), "conv_id")
    first_day = days.groupBy("conv_id").agg(F.min("day").alias("first_day"))
    per_day = days.groupBy("day").agg(
        F.countDistinct("conv_id").cast("long").alias("active_convs"),
        F.count("*").cast("long").alias("n_turns"),
    )
    new_per_day = first_day.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").cast("long").alias("new_convs")
    )
    return (
        per_day.join(new_per_day, "day", "left")
        .select(
            "day", "active_convs", "n_turns",
            F.coalesce("new_convs", F.lit(0)).cast("long").alias("new_convs"),
            (F.col("active_convs") - F.coalesce("new_convs", F.lit(0)))
            .cast("long").alias("returning_convs"),
        )
    )


O_DAILY_ACTIVES = f"""{_W},
d as (select cast(ts as date) as day, conv_id from transcripts),
fd as (select conv_id, min(day) as first_day from d group by conv_id),
pd as (
  select day, cast(count(distinct conv_id) as bigint) as active_convs,
    cast(count(*) as bigint) as n_turns
  from d group by day
),
nd as (select first_day as day, cast(count(*) as bigint) as new_convs from fd group by 1)
select pd.day, pd.active_convs, pd.n_turns,
  cast(coalesce(nd.new_convs, 0) as bigint) as new_convs,
  cast(pd.active_convs - coalesce(nd.new_convs, 0) as bigint) as returning_convs
from pd left join nd on pd.day = nd.day
"""

QUERIES["daily_actives"] = q_daily_actives
ORACLES["daily_actives"] = O_DAILY_ACTIVES


# --- embedding-table data-quality audit --------------------------------------------------

def q_embedding_audit(spark, sf_dir):
    """ANN-input gate: vector count, dimension consistency, NaN/zero
    vectors, and norm percentiles (exact micro-quantized integers).
    Percentiles come from a cumulative count over the DISTINCT-norm
    aggregate (k-th order statistic = smallest value whose cumulative
    count reaches ceil(q*n)) — the only unpartitioned window runs over
    that collapsed aggregate, never row-level data (the kaplan_meier /
    hdr_latency_hist scale pattern). Runs BEFORE any similarity family —
    a corrupt embedding column silently poisons every downstream index."""
    from pyspark.sql import Window

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    base = emb.select(
        F.size("v").alias("dim"),
        F.exists("v", lambda x: x.isNaN()).cast("int").alias("has_nan"),
        F.aggregate("v", F.lit(0.0), lambda a, x: a + x * x).alias("sq"),
    ).withColumn(
        "norm_micro", F.floor(F.sqrt(F.col("sq")) * F.lit(1e6) + F.lit(0.5)).cast("long")
    )
    stats = base.agg(
        F.count("*").cast("long").alias("n_vectors"),
        F.countDistinct("dim").cast("long").alias("n_dims"),
        F.sum("has_nan").cast("long").alias("n_nan_vectors"),
        F.sum((F.col("norm_micro") == 0).cast("int")).cast("long").alias("n_zero_vectors"),
    )
    g = base.groupBy("norm_micro").agg(F.count("*").alias("cnt"))
    wc = Window.orderBy("norm_micro").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = g.select(
        "norm_micro",
        F.sum("cnt").over(wc).alias("cum"),
        F.sum("cnt").over(Window.partitionBy()).alias("n"),
    )
    pcts = cum.agg(
        F.min(F.when(F.col("cum") >= F.ceil(F.col("n") * 0.5), F.col("norm_micro")))
        .cast("long").alias("p50_norm_micro"),
        F.min(F.when(F.col("cum") >= F.ceil(F.col("n") * 0.95), F.col("norm_micro")))
        .cast("long").alias("p95_norm_micro"),
    )
    return stats.crossJoin(pcts)


O_EMBEDDING_AUDIT = """
with e as (
  select vec_id, embedding::DOUBLE[] as v from embeddings
),
b as (
  select vec_id, len(v) as dim,
    case when exists (select 1 from unnest(v) as u(x) where isnan(x)) then 1 else 0 end as has_nan,
    cast(floor(sqrt(list_dot_product(v, v)) * 1000000.0 + 0.5) as bigint) as norm_micro
  from e
),
stats as (
  select cast(count(*) as bigint) as n_vectors,
    cast(count(distinct dim) as bigint) as n_dims,
    cast(sum(has_nan) as bigint) as n_nan_vectors,
    cast(sum(case when norm_micro = 0 then 1 else 0 end) as bigint) as n_zero_vectors
  from b
),
g as (select norm_micro, count(*) as cnt from b group by norm_micro),
c as (
  select norm_micro,
    sum(cnt) over (order by norm_micro rows between unbounded preceding and current row) as cum,
    sum(cnt) over () as n
  from g
),
p as (
  select
    cast(min(case when cum >= ceil(n * 0.5) then norm_micro end) as bigint) as p50_norm_micro,
    cast(min(case when cum >= ceil(n * 0.95) then norm_micro end) as bigint) as p95_norm_micro
  from c
)
select stats.*, p.* from stats, p
"""

QUERIES["embedding_audit"] = q_embedding_audit
ORACLES["embedding_audit"] = O_EMBEDDING_AUDIT


# --- exact set-similarity join (PPJoin prefix filter) -------------------------------

def q_ppjoin_pairs(spark, sf_dir):
    """EXACT Jaccard >= 0.8 similarity join via lossless prefix filtering
    (operators/dedup.ppjoin_pairs): the deterministic complement to the
    probabilistic MinHash/SimHash candidate generators — recall 1.0 by the
    prefix-filter lemma, precision 1.0 by the exact integer verify. The
    oracle is pure SEMANTICS (all co-occurring pairs, exact Jaccard) — it
    never mirrors the algorithm, so it independently proves losslessness.
    Run on a deterministic md5 quarter-sample of docs: the synthetic
    corpus is template-heavy (7.1M true pairs at tau=0.6, sf0.1), and a
    similarity JOIN's output is quadratic in cluster sizes by nature — the
    sample bounds the certified result the way neighbor_recall bounds its
    truth set, while the operator itself stays full-corpus."""
    from ..functions.corpus import md5_bucket
    from ..operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        md5_bucket("doc_id", 4) == 0
    )
    return dedup.ppjoin_pairs(docs, threshold_pct=80)


O_PPJOIN_PAIRS = f"""
with docs0 as (
  select *, md5(cast(doc_id as varchar)) as h from documents
),
documents_s as (select * exclude (h) from docs0 where ({_HEX7}) % 4 = 0),
{_WORDS_CTE.replace("from documents", "from documents_s")},
tok as (select distinct doc_id, unnest(words) as word from w),
m as (select doc_id, count(*) as m from tok group by 1),
co as (select a.doc_id as id_a, b.doc_id as id_b,
         cast(count(*) as bigint) as inter
       from tok a join tok b on a.word = b.word and a.doc_id < b.doc_id
       group by 1, 2),
j as (select id_a, id_b, inter,
        cast(ma.m + mb.m - inter as bigint) as union_sz
      from co
      join m ma on ma.doc_id = co.id_a
      join m mb on mb.doc_id = co.id_b)
select id_a, id_b, inter, union_sz,
  cast(inter * 1000000 // union_sz as bigint) as jaccard_ppm
from j where 100 * inter >= 80 * union_sz
"""

QUERIES["ppjoin_pairs"] = q_ppjoin_pairs
ORACLES["ppjoin_pairs"] = O_PPJOIN_PAIRS


# --- trailing percentile rank (PIT rank feature) -------------------------------------

def q_rolling_rank(spark, sf_dir):
    """Leakage-safe trailing percentile-rank of each turn's length within
    its own last-8/32/128 history (operators/rolling.with_trailing_rank):
    weak rank, exact integer ppm — (cnt_le − 1)·1e6 div (n − 1), 0 for a
    1-row window. The rank-feature family every PIT training set wants,
    with the same single partition-sort as the rolling block."""
    from ..operators.rolling import with_trailing_rank

    t = transcripts_from_events(spark, sf_dir)
    out = with_trailing_rank(t, CFG)
    return out.select(
        "conv_id", "turn_idx", "rank_ppm_w8", "rank_ppm_w32", "rank_ppm_w128"
    )


def _rolling_rank_oracle(window_sizes=(8, 32, 128)) -> str:
    win = "partition by conv_id order by turn_idx, ts"
    lists = ",\n    ".join(
        f"list(x) over ({win} rows between {ws - 1} preceding and current row)"
        f" as w{ws}"
        for ws in window_sizes
    )
    ranks = ",\n  ".join(
        f"cast(case when len(w{ws}) > 1 then"
        f" (len(list_filter(w{ws}, v -> v <= x)) - 1) * 1000000"
        f" // (len(w{ws}) - 1) else 0 end as bigint) as rank_ppm_w{ws}"
        for ws in window_sizes
    )
    return f"""{_W},
t as (select conv_id, turn_idx, ts, cast(length(text) as bigint) as x
      from transcripts),
v as (
  select conv_id, turn_idx, x,
    {lists}
  from t
)
select conv_id, turn_idx,
  {ranks}
from v
"""


O_ROLLING_RANK = _rolling_rank_oracle()

QUERIES["rolling_rank"] = q_rolling_rank
ORACLES["rolling_rank"] = O_ROLLING_RANK


# --- CUSUM changepoint locator --------------------------------------------------------

def q_changepoint(spark, sf_dir):
    """Per-conversation level-shift locator (operators/state.conv_changepoint):
    argmax_k |n·S_k − k·S_n| over turn lengths, k = left-segment length,
    ties to the smallest k — the division-free CUSUM changepoint. One
    window cascade + one struct-argmax groupBy; companion to cusum_drift
    (the running alarm says "drifting"; this says WHERE)."""
    from ..operators.state import conv_changepoint

    t = transcripts_from_events(spark, sf_dir)
    return conv_changepoint(t, CFG)


O_CHANGEPOINT = f"""{_W},
t as (select conv_id, turn_idx, ts, cast(length(text) as bigint) as x
      from transcripts),
c as (
  select conv_id,
    row_number() over (partition by conv_id order by turn_idx, ts) as k,
    sum(x) over (partition by conv_id order by turn_idx, ts
                 rows between unbounded preceding and current row) as sk,
    sum(x) over (partition by conv_id) as sn,
    count(*) over (partition by conv_id) as n
  from t
),
s as (select conv_id, k, abs(n * sk - k * sn) as stat, n
      from c where k < n and n >= 2),
r as (select conv_id, k, stat, n,
        row_number() over (partition by conv_id order by stat desc, k asc) as rk
      from s)
select conv_id, cast(k as bigint) as cp_k, cast(stat as bigint) as cp_stat,
  cast(n as bigint) as n_turns
from r where rk = 1
"""

QUERIES["changepoint"] = q_changepoint
ORACLES["changepoint"] = O_CHANGEPOINT


# --- association rules (market-basket 2-itemsets) ------------------------------------

def q_tool_rules(spark, sf_dir):
    """Market-basket association rules over per-conversation tool sets
    (functions/corpus.association_rules — the 2-itemset Apriori core):
    directed (a, b) support/confidence/lift in exact integer ppm. The
    curation read: lift >> 1e6 = tools that travel together (bundle
    their few-shot examples), confidence asymmetry = which tool is the
    gateway. Complements tool_ordering_pairs (sequence) and tool_cousage
    (counts) with the normalized rule measures."""
    from ..functions.corpus import association_rules

    t = transcripts_from_events(spark, sf_dir)
    return association_rules(t, group_col="conv_id", item_col="tool")


O_TOOL_RULES = f"""{_W},
gi as (select distinct conv_id, tool from transcripts where tool is not null),
nt as (select count(distinct conv_id) as n_groups from gi),
cnt as (select tool, count(*) as n_item from gi group by 1),
p as (select a.tool as item_a, b.tool as item_b, cast(count(*) as bigint) as n_ab
      from gi a join gi b on a.conv_id = b.conv_id and a.tool <> b.tool
      group by 1, 2)
select item_a, item_b, n_ab,
  cast(ca.n_item as bigint) as n_a,
  cast(cb.n_item as bigint) as n_b,
  cast(nt.n_groups as bigint) as n_groups,
  cast(n_ab * 1000000 // nt.n_groups as bigint) as support_ppm,
  cast(n_ab * 1000000 // ca.n_item as bigint) as confidence_ppm,
  cast(n_ab * nt.n_groups * 1000000 // (ca.n_item * cb.n_item) as bigint)
    as lift_ppm
from p
join cnt ca on ca.tool = p.item_a
join cnt cb on cb.tool = p.item_b, nt
"""

QUERIES["tool_rules"] = q_tool_rules
ORACLES["tool_rules"] = O_TOOL_RULES


# --- embedding drift between sources --------------------------------------------------

def q_embedding_drift(spark, sf_dir):
    """Per-source embedding centroid drift (operators/similarity.
    source_centroid_drift): exact integer micro-unit centroids (floor-div
    corrected for negative lane sums) and pairwise squared centroid L2 —
    the 'did this source/crawl move the distribution' audit run before
    mixing corpora. Lane sums shuffle O(groups * dim), never O(rows)."""
    from ..operators.similarity import source_centroid_drift

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return source_centroid_drift(emb, docs)


O_EMBEDDING_DRIFT = """
with e as (
  select d.source as grp, generate_subscripts(em.v, 1) - 1 as lane,
         cast(floor(unnest(em.v) * 1000000.0 + 0.5) as bigint) as q
  from (select vec_id, embedding::DOUBLE[] as v from embeddings) em
  join documents d on d.doc_id = em.vec_id
),
s as (select grp, lane, sum(q) as s, count(*) as n from e group by 1, 2),
c as (select grp, lane, s // n as c, n from s),
p as (select a.grp as group_a, b.grp as group_b,
        max(a.n) as n_a, max(b.n) as n_b,
        sum((a.c - b.c) * (a.c - b.c)) as d2
      from c a join c b on a.lane = b.lane and a.grp < b.grp
      group by 1, 2)
select group_a, group_b, cast(n_a as bigint) as n_a, cast(n_b as bigint) as n_b,
  cast(d2 as bigint) as centroid_d2_micro2
from p
"""

QUERIES["embedding_drift"] = q_embedding_drift
ORACLES["embedding_drift"] = O_EMBEDDING_DRIFT


# --- cross-source quantile normalization ---------------------------------------------

def q_quantile_normalize(spark, sf_dir):
    """Cross-source quantile normalization of n_chars
    (normalization.quantile_normalize): each source's k-th order statistic
    maps onto the pooled distribution's same-quantile value — the
    batch-effect harmonizer for mixing per-crawl feature scales. Exact
    rank arithmetic (ceil via (rk·N + ng − 1) div ng), pooled order
    statistics resolved against distinct-value cumulative counts (the
    embedding_audit pattern: the only global sort is over distinct
    values) + a broadcast range join."""
    from ..normalization import quantile_normalize

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return quantile_normalize(docs, "n_chars")


O_QUANTILE_NORMALIZE = """
with b as (select doc_id as id, source as grp, cast(n_chars as bigint) as val
           from documents),
nt as (select count(*) as n from b),
r as (select id, grp, val,
        row_number() over (partition by grp order by val, id) as rk,
        count(*) over (partition by grp) as ng
      from b),
rt as (select id, grp, val, (rk * nt.n + ng - 1) // ng as rt from r, nt),
v as (select val as tval, count(*) as cnt from b group by 1),
c as (select tval,
        sum(cnt) over (order by tval) as cum,
        sum(cnt) over (order by tval) - cnt as cum_prev
      from v)
select rt.id as doc_id, rt.grp as source, rt.val as n_chars,
  cast(c.tval as bigint) as n_chars_qnorm
from rt join c on rt.rt > c.cum_prev and rt.rt <= c.cum
"""

QUERIES["quantile_normalize"] = q_quantile_normalize
ORACLES["quantile_normalize"] = O_QUANTILE_NORMALIZE


# --- greedy k-center selection (coreset) ----------------------------------------------

def q_kcenter(spark, sf_dir):
    """Greedy k-center / farthest-point data selection
    (operators/similarity.kcenter_select, Gonzalez 2-approx): 5 picks over
    the embedding table with the radius (coverage) curve. Every pick is
    integer-determined (exact micro-quantized d2, smallest-id ties); the
    oracle unrolls the same greedy loop as chained CTEs — an iterative
    algorithm certified end-to-end, like the CC family."""
    from ..operators.similarity import kcenter_select

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return kcenter_select(emb, k=5)


def _kcenter_oracle(k: int = 5) -> str:
    parts = ["""
l as (
  select vec_id as id, generate_subscripts(v, 1) as i,
         cast(floor(unnest(v) * 1000000.0 + 0.5) as bigint) as x
  from (select vec_id, embedding::DOUBLE[] as v from embeddings)
),
ids as (select distinct id from l),
c1 as (select min(id) as id from ids),
cl1 as (select l.i, l.x from l join c1 on l.id = c1.id),
m1 as (select l.id, sum((l.x - cl1.x) * (l.x - cl1.x)) as mind2
       from l join cl1 on cl1.i = l.i group by l.id)"""]
    for s in range(2, k + 1):
        prev = f"m{s - 1}"
        parts.append(f""",
p{s} as (select id, mind2 from {prev} order by mind2 desc, id asc limit 1),
cl{s} as (select l.i, l.x from l join p{s} on l.id = p{s}.id),
d{s} as (select l.id, sum((l.x - cl{s}.x) * (l.x - cl{s}.x)) as d2
         from l join cl{s} on cl{s}.i = l.i group by l.id),
m{s} as (select {prev}.id, least({prev}.mind2, d{s}.d2) as mind2
         from {prev} join d{s} on d{s}.id = {prev}.id)""")
    unions = [
        "select 1 as step, c1.id as vec_id, cast(0 as bigint) as radius_d2 from c1"
    ]
    for s in range(2, k + 1):
        unions.append(
            f"select {s}, p{s}.id, cast(p{s}.mind2 as bigint) from p{s}"
        )
    return "with " + "".join(parts) + "\n" + "\nunion all\n".join(unions)


O_KCENTER = _kcenter_oracle()

QUERIES["kcenter_select"] = q_kcenter
ORACLES["kcenter_select"] = O_KCENTER


# --- sequential A/B test (Wald SPRT) ---------------------------------------------------

def q_ab_sprt(spark, sf_dir):
    """Wald SPRT per md5-randomized arm (functions/stats.ab_sprt): the
    ONLINE stopping rule an experiment framework pairs with ab_ztest's
    fixed-horizon analysis. All LLR arithmetic is int64 nano units built
    from driver-Python literal constants (sprt_constants) — the literal IS
    the canonicalization, no engine libm runs. Same conversion predicate
    and arm hash as ab_ztest."""
    from ..functions.stats import ab_sprt

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ab_sprt(
        ev, "user_id",
        (F.col("event_type") == "purchase") & (F.col("value") > 150.0),
    )


def _ab_sprt_oracle() -> str:
    from ..functions.stats import sprt_constants

    C = sprt_constants()
    return f"""
with pu as (
  select user_id as uid,
    max(case when event_type = 'purchase' and value > 150.0 then 1 else 0 end) as conv,
    min(ts) as ts0
  from events group by user_id
),
hx as (select uid, conv, ts0, md5(cast(uid as varchar)) as h from pu),
arm as (select uid, conv, ts0, cast(({_HEX7}) % 2 as int) as arm from hx),
c as (
  select arm, conv,
    row_number() over (partition by arm order by ts0, uid) as n,
    sum(conv) over (partition by arm order by ts0, uid
                    rows between unbounded preceding and current row) as k
  from arm
),
l as (
  select arm, conv, n,
    cast(k * {C["succ"]} + (n - k) * {C["fail"]} as bigint) as llr
  from c
),
dec as (
  select arm, min(n) as dn
  from l where llr >= {C["upper"]} or llr <= {C["lower"]}
  group by arm
),
last as (
  select arm, cast(count(*) as bigint) as n_users,
    cast(sum(conv) as bigint) as n_conv,
    cast(sum(conv) * {C["succ"]} + (count(*) - sum(conv)) * {C["fail"]} as bigint)
      as llr_final_nano
  from l group by arm
),
dl as (
  select l.arm, dec.dn, l.llr as dllr
  from dec join l on l.arm = dec.arm and l.n = dec.dn
)
select last.arm, last.n_users, last.n_conv, last.llr_final_nano,
  case when dl.dn is null then 'continue'
       when dl.dllr >= {C["upper"]} then 'h1' else 'h0' end as decision,
  cast(dl.dn as bigint) as n_at_decision,
  cast(dl.dllr as bigint) as llr_at_decision_nano
from last left join dl on dl.arm = last.arm
"""


O_AB_SPRT = _ab_sprt_oracle()

QUERIES["ab_sprt"] = q_ab_sprt
ORACLES["ab_sprt"] = O_AB_SPRT


# --- CUPED variance-reduced A/B effect -------------------------------------------------

def q_cuped(spark, sf_dir):
    """CUPED-adjusted treatment effect (functions/stats.
    cuped_adjusted_effect): pre-period covariate from the integer-midpoint
    time split, exact integer-cent sums, theta and effects as fixed-order
    float algebra over those ints, _r6x boundary canonicalization on the
    three floats. The third leg of the experimentation family
    (ab_ztest fixed-horizon, ab_sprt sequential, cuped variance-reduced)."""
    from ..functions.stats import cuped_adjusted_effect

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = cuped_adjusted_effect(ev, "user_id")
    keep = ["n_a", "n_b", "sx_a", "sx_b", "sy_a", "sy_b"]
    return out.select(
        *keep,
        _r6x(F.col("theta"), "theta"),
        _r6x(F.col("effect_raw_cents"), "effect_raw_cents"),
        _r6x(F.col("effect_cuped_cents"), "effect_cuped_cents"),
    )


O_CUPED = f"""
with b as (
  select user_id as uid, epoch_us(ts) as us,
    cast(floor(value * 100.0 + 0.5) as bigint) as c
  from events
),
rng as (select (min(us) + max(us)) // 2 as cut from b),
pu as (
  select uid,
    cast(sum(case when us < rng.cut then c else 0 end) as bigint) as x,
    cast(sum(case when us >= rng.cut then c else 0 end) as bigint) as y
  from b, rng group by uid
),
arm as (
  select x, y, cast(({_HEX7}) % 2 as int) as a
  from (select x, y, md5(cast(uid as varchar)) as h from pu)
),
g as (
  select cast(count(*) as bigint) as n,
    cast(sum(x) as bigint) as sx, cast(sum(y) as bigint) as sy,
    cast(sum(x * x) as bigint) as sxx, cast(sum(x * y) as bigint) as sxy,
    cast(sum(case when a = 0 then 1 else 0 end) as bigint) as n_a,
    cast(sum(case when a = 0 then x else 0 end) as bigint) as sx_a,
    cast(sum(case when a = 0 then y else 0 end) as bigint) as sy_a,
    cast(sum(case when a = 1 then 1 else 0 end) as bigint) as n_b,
    cast(sum(case when a = 1 then x else 0 end) as bigint) as sx_b,
    cast(sum(case when a = 1 then y else 0 end) as bigint) as sy_b
  from arm
)
select n_a, n_b, sx_a, sx_b, sy_a, sy_b,
  {_r6x_sql("(cast(n as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double)) / (cast(n as double) * cast(sxx as double) - cast(sx as double) * cast(sx as double))")} as theta,
  {_r6x_sql("cast(sy_b as double) / cast(n_b as double) - cast(sy_a as double) / cast(n_a as double)")} as effect_raw_cents,
  {_r6x_sql("(cast(sy_b as double) / cast(n_b as double) - ((cast(n as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double)) / (cast(n as double) * cast(sxx as double) - cast(sx as double) * cast(sx as double))) * (cast(sx_b as double) / cast(n_b as double))) - (cast(sy_a as double) / cast(n_a as double) - ((cast(n as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double)) / (cast(n as double) * cast(sxx as double) - cast(sx as double) * cast(sx as double))) * (cast(sx_a as double) / cast(n_a as double)))")} as effect_cuped_cents
from g
"""

QUERIES["cuped"] = q_cuped
ORACLES["cuped"] = O_CUPED


# --- statistical-audit family: nonparametric tests + privacy gates ---------------------

def q_mann_whitney(spark, sf_dir):
    """Mann-Whitney U between md5 arms on per-user spend cents
    (functions/stats.mann_whitney_u): doubled rank sums keep tie midranks
    in exact int64 — the nonparametric leg of the experimentation family.
    Distinct-value rank arithmetic: the window runs over the distinct
    metric values only, never the corpus."""
    from ..functions.stats import mann_whitney_u

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return mann_whitney_u(ev, "user_id")


O_MANN_WHITNEY = f"""
with pu as (
  select user_id as uid,
    cast(sum(cast(floor(value * 100.0 + 0.5) as bigint)) as bigint) as c
  from events group by user_id
),
arm as (
  select c, cast(({_HEX7}) % 2 as int) as arm
  from (select c, md5(cast(uid as varchar)) as h from pu)
),
g as (
  select c, count(*) as cnt,
    sum(case when arm = 0 then 1 else 0 end) as cnt_a
  from arm group by c
),
r as (
  select cnt, cnt_a,
    2 * (sum(cnt) over (order by c rows between unbounded preceding and current row) - cnt)
      + cnt + 1 as two_midrank
  from g
),
f as (
  select cast(sum(cnt_a) as bigint) as n_a,
    cast(sum(cnt - cnt_a) as bigint) as n_b,
    cast(sum(cnt_a * two_midrank) as bigint) as r2_sum_a,
    cast(sum(cnt * cnt * cnt - cnt) as bigint) as tie_term
  from r
)
select n_a, n_b, r2_sum_a, tie_term,
  cast(r2_sum_a - n_a * (n_a + 1) as bigint) as u2_a
from f
"""

QUERIES["mann_whitney"] = q_mann_whitney
ORACLES["mann_whitney"] = O_MANN_WHITNEY


def q_mann_kendall(spark, sf_dir):
    """Mann-Kendall monotone-trend statistic over the daily event-count
    series (functions/stats.mann_kendall_trend): integer S over day pairs
    plus the exact tie-correction term — the data-quality drift detector.
    Reduce-then-quadratic: the pair join runs on the tiny day frame."""
    from ..functions.stats import mann_kendall_trend

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return mann_kendall_trend(ev)


O_MANN_KENDALL = """
with d as (
  select cast(ts as date) as day, count(*) as cnt from events group by day
),
s as (
  select cast(sum(case when b.cnt > a.cnt then 1 when b.cnt < a.cnt then -1 else 0 end) as bigint) as s_stat,
    cast(count(*) as bigint) as n_pairs
  from d a join d b on a.day < b.day
),
t as (
  select cast(count(*) as bigint) as n_distinct_counts,
    cast(sum(t * (t - 1) * (2 * t + 5)) as bigint) as tie_term
  from (select cnt, count(*) as t from d group by cnt)
),
n as (select cast(count(*) as bigint) as n_days from d)
select s.s_stat, s.n_pairs, t.n_distinct_counts, t.tie_term, n.n_days
from s, t, n
"""

QUERIES["mann_kendall"] = q_mann_kendall
ORACLES["mann_kendall"] = O_MANN_KENDALL


def q_ab_strata(spark, sf_dir):
    """Per-week CMH 2x2 table + integer-exact Simpson's-paradox audit of
    the md5 arms (functions/stats.stratified_ab_audit): direction by int64
    cross-product sign, never a rate division. Same conversion predicate
    and arm hash as ab_ztest/ab_sprt; stratum = week-of-month
    ((dayofmonth-1) div 7), exact on both engines."""
    from ..functions.stats import stratified_ab_audit

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "strat_week", F.expr("(dayofmonth(ts) - 1) div 7").cast("int")
    )
    out = stratified_ab_audit(
        ev, "user_id", "strat_week",
        (F.col("event_type") == "purchase") & (F.col("value") > 150.0),
    )
    return out.withColumnRenamed("stratum", "strat_week")


O_AB_STRATA = f"""
with per as (
  select cast((day(ts) - 1) // 7 as int) as strat_week, user_id as uid,
    max(case when event_type = 'purchase' and value > 150.0 then 1 else 0 end) as conv
  from events group by strat_week, uid
),
arm as (
  select strat_week, conv, cast(({_HEX7}) % 2 as int) as arm
  from (select strat_week, conv, md5(cast(uid as varchar)) as h from per)
),
cells as (
  select strat_week,
    cast(sum(case when arm = 0 then 1 else 0 end) as bigint) as n_a,
    cast(sum(case when arm = 0 then conv else 0 end) as bigint) as conv_a,
    cast(sum(case when arm = 1 then 1 else 0 end) as bigint) as n_b,
    cast(sum(case when arm = 1 then conv else 0 end) as bigint) as conv_b
  from arm group by strat_week
),
c2 as (
  select *,
    cast(case when conv_b * n_a - conv_a * n_b > 0 then 1
              when conv_b * n_a - conv_a * n_b < 0 then -1 else 0 end as int)
      as stratum_sign
  from cells
),
tot as (
  select cast(case when sum(conv_b) * sum(n_a) - sum(conv_a) * sum(n_b) > 0 then 1
                   when sum(conv_b) * sum(n_a) - sum(conv_a) * sum(n_b) < 0 then -1
                   else 0 end as int) as overall_sign
  from cells
)
select c2.strat_week, c2.n_a, c2.conv_a, c2.n_b, c2.conv_b, c2.stratum_sign,
  tot.overall_sign,
  (tot.overall_sign <> 0 and c2.stratum_sign <> 0
   and c2.stratum_sign <> tot.overall_sign) as simpson_flag
from c2, tot
"""

QUERIES["ab_strata"] = q_ab_strata
ORACLES["ab_strata"] = O_AB_STRATA


def q_kanonymity(spark, sf_dir):
    """k-anonymity / l-diversity release gate over the (event_type, day)
    quasi-identifier with user_id as the sensitive attribute
    (functions/privacy.k_anonymity_audit): exact int64 exposure summary —
    the privacy review a corpus export runs next to PII redaction."""
    from ..functions.privacy import k_anonymity_audit

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "day", F.to_date("ts")
    )
    return k_anonymity_audit(
        ev, ["event_type", "day"], "user_id", k_threshold=10, l_threshold=3
    )


O_KANONYMITY = """
with cls as (
  select event_type, cast(ts as date) as day,
    cast(count(*) as bigint) as k,
    cast(count(distinct user_id) as bigint) as l
  from events group by event_type, day
)
select cast(count(*) as bigint) as n_classes,
  cast(min(k) as bigint) as min_k,
  cast(min(l) as bigint) as min_l,
  cast(sum(case when k < 10 then k else 0 end) as bigint) as rows_below_k,
  cast(sum(case when k < 10 then 1 else 0 end) as bigint) as classes_below_k,
  cast(sum(case when l < 3 then 1 else 0 end) as bigint) as classes_below_l,
  cast(sum(k) as bigint) as n_rows
from cls
"""

QUERIES["kanonymity"] = q_kanonymity
ORACLES["kanonymity"] = O_KANONYMITY


def q_randomized_response(spark, sf_dir):
    """Warner randomized-response release per source (functions/privacy.
    randomized_response): each doc reports `lang = 'en'` truthfully with
    p=2/3 else a fair coin — both coins keyed md5, so the local-DP
    mechanism is replayable and engine-exact. Debiased estimate stays in
    int64 (clamped before the floor division). One partial-aggregable
    groupBy; no joins."""
    from ..functions.privacy import randomized_response

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "is_en", (F.col("lang") == "en").cast("int")
    )
    return randomized_response(docs, "is_en", id_col="doc_id", group_col="source")


O_RANDOMIZED_RESPONSE = f"""
with r as (
  select source,
    case when (({_hex7_of("md5(cast(doc_id as varchar) || ':rr1')")}) % 3) = 0
         then cast((({_hex7_of("md5(cast(doc_id as varchar) || ':rr2')")}) % 2) as int)
         else cast(lang = 'en' as int) end as rep
  from documents
),
agg as (
  select source, cast(count(*) as bigint) as n,
         cast(sum(rep) as bigint) as sum_reports
  from r group by source
)
select source, n, sum_reports,
  cast(greatest(6 * sum_reports - n, 0) // 4 as bigint) as est_true,
  cast((greatest(6 * sum_reports - n, 0) * 250000) // n as bigint) as est_rate_ppm
from agg
"""

QUERIES["randomized_response"] = q_randomized_response
ORACLES["randomized_response"] = O_RANDOMIZED_RESPONSE


def q_rake_keywords(spark, sf_dir):
    """RAKE keyword extraction over documents (functions/text.
    rake_keywords): stopword-delimited candidate phrases, integer-ppm
    word scores ((deg*1e6) div freq), exact int64 phrase scores, global
    top-20. All shuffles keyed on bounded vocabulary, never documents^2."""
    from ..functions.text import rake_keywords

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return rake_keywords(docs, top_k=20)


O_RAKE = """
with w as (select doc_id, string_split(text, ' ') as words from documents),
tok0 as (
  select doc_id, unnest(range(1, len(words) + 1)) as pos, unnest(words) as word
  from w
),
tok1 as (
  select doc_id, pos, word,
    (case when word in ('the','a','of','and','to','in','is','that')
      then 1 else 0 end) as stop
  from tok0
),
tok2 as (
  select doc_id, pos, word, stop,
    sum(stop) over (partition by doc_id order by pos
                    rows between unbounded preceding and current row) as phrase_id
  from tok1
),
tok as (
  select doc_id, pos, word, phrase_id from tok2 where stop = 0 and word <> ''
),
tokl as (
  select doc_id, pos, word, phrase_id,
    count(*) over (partition by doc_id, phrase_id) as plen
  from tok
),
ws as (
  select word, cast(count(*) as bigint) as freq, cast(sum(plen) as bigint) as deg
  from tokl group by word
),
ws2 as (select word, cast((deg * 1000000) // freq as bigint) as score_ppm from ws),
inst as (
  select tokl.doc_id, tokl.phrase_id,
    string_agg(tokl.word, ' ' order by tokl.pos) as phrase,
    cast(count(*) as bigint) as n_words,
    cast(sum(ws2.score_ppm) as bigint) as score_ppm
  from tokl join ws2 on ws2.word = tokl.word
  group by tokl.doc_id, tokl.phrase_id
),
agg as (
  select phrase, cast(max(n_words) as bigint) as n_words,
    cast(count(*) as bigint) as n_occurrences,
    cast(max(score_ppm) as bigint) as score_ppm
  from inst group by phrase
)
select phrase, n_words, n_occurrences, score_ppm
from agg order by score_ppm desc, phrase asc limit 20
"""

QUERIES["rake_keywords"] = q_rake_keywords
ORACLES["rake_keywords"] = O_RAKE


def q_qte(spark, sf_dir):
    """Quantile treatment effects between md5 arms (functions/stats.
    quantile_treatment_effects): exact type-1 order statistics of per-user
    cents via per-arm distinct-value rank arithmetic; B-A differences at
    p25/p50/p75. All int64 — no interpolation, no float."""
    from ..functions.stats import quantile_treatment_effects

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return quantile_treatment_effects(ev, "user_id")


O_QTE = f"""
with pu as (
  select user_id as uid,
    cast(sum(cast(floor(value * 100.0 + 0.5) as bigint)) as bigint) as c
  from events group by user_id
),
arm as (
  select c, cast(({_HEX7}) % 2 as int) as arm
  from (select c, md5(cast(uid as varchar)) as h from pu)
),
g as (select arm, c, count(*) as cnt from arm group by arm, c),
r as (
  select arm, c, cnt,
    sum(cnt) over (partition by arm order by c rows between unbounded preceding and current row) as cum,
    sum(cnt) over (partition by arm) as n
  from g
),
k as (
  select arm, c, cnt, cum, n,
    ((n - 1) * 25) // 100 + 1 as k25,
    ((n - 1) * 50) // 100 + 1 as k50,
    ((n - 1) * 75) // 100 + 1 as k75
  from r
)
select
  cast(max(case when arm = 0 then n end) as bigint) as n_a,
  cast(max(case when arm = 1 then n end) as bigint) as n_b,
  cast(min(case when arm = 0 and cum >= k25 and cum - cnt < k25 then c end) as bigint) as p25_a,
  cast(min(case when arm = 1 and cum >= k25 and cum - cnt < k25 then c end) as bigint) as p25_b,
  cast(min(case when arm = 0 and cum >= k50 and cum - cnt < k50 then c end) as bigint) as p50_a,
  cast(min(case when arm = 1 and cum >= k50 and cum - cnt < k50 then c end) as bigint) as p50_b,
  cast(min(case when arm = 0 and cum >= k75 and cum - cnt < k75 then c end) as bigint) as p75_a,
  cast(min(case when arm = 1 and cum >= k75 and cum - cnt < k75 then c end) as bigint) as p75_b,
  cast(min(case when arm = 1 and cum >= k25 and cum - cnt < k25 then c end)
     - min(case when arm = 0 and cum >= k25 and cum - cnt < k25 then c end) as bigint) as qte25,
  cast(min(case when arm = 1 and cum >= k50 and cum - cnt < k50 then c end)
     - min(case when arm = 0 and cum >= k50 and cum - cnt < k50 then c end) as bigint) as qte50,
  cast(min(case when arm = 1 and cum >= k75 and cum - cnt < k75 then c end)
     - min(case when arm = 0 and cum >= k75 and cum - cnt < k75 then c end) as bigint) as qte75
from k
"""

QUERIES["qte"] = q_qte
ORACLES["qte"] = O_QTE


def q_post_stratified(spark, sf_dir):
    """Post-stratified treatment effect across week-of-month strata
    (functions/stats.post_stratified_effect): each stratum's rate gap
    enters as exact int64 micro-units via matched floor division BEFORE
    the cross-stratum sum — the bias-corrected companion to ab_strata's
    Simpson detector. Same predicate and arm hash as ab_ztest/ab_sprt."""
    from ..functions.stats import post_stratified_effect

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "strat_week", F.expr("(dayofmonth(ts) - 1) div 7").cast("int")
    )
    return post_stratified_effect(
        ev, "user_id", "strat_week",
        (F.col("event_type") == "purchase") & (F.col("value") > 150.0),
    )


O_POST_STRATIFIED = f"""
with per as (
  select cast((day(ts) - 1) // 7 as int) as strat_week, user_id as uid,
    max(case when event_type = 'purchase' and value > 150.0 then 1 else 0 end) as conv
  from events group by strat_week, uid
),
arm as (
  select strat_week, conv, cast(({_HEX7}) % 2 as int) as arm
  from (select strat_week, conv, md5(cast(uid as varchar)) as h from per)
),
cells as (
  select strat_week,
    sum(case when arm = 0 then 1 else 0 end) as n_a,
    sum(case when arm = 0 then conv else 0 end) as conv_a,
    sum(case when arm = 1 then 1 else 0 end) as n_b,
    sum(case when arm = 1 then conv else 0 end) as conv_b
  from arm group by strat_week
),
t as (
  select n_a + n_b as n_s,
    case when n_a > 0 and n_b > 0 then
      cast((((n_a + n_b) * 1000000 * conv_b) // n_b) as bigint)
      - cast((((n_a + n_b) * 1000000 * conv_a) // n_a) as bigint)
    else 0 end as term_micro,
    case when n_a > 0 and n_b > 0 then n_a + n_b else 0 end as n_used
  from cells
)
select cast(sum(n_s) as bigint) as n_units,
  cast(count(*) as bigint) as n_strata,
  cast(sum(n_used) as bigint) as n_units_used,
  cast(sum(term_micro) as bigint) as effect_num_micro
from t
"""

QUERIES["post_stratified"] = q_post_stratified
ORACLES["post_stratified"] = O_POST_STRATIFIED


def q_mcnemar(spark, sf_dir):
    """McNemar's paired pre/post conversion test across the integer-
    midpoint time split (functions/stats.mcnemar_paired): exact int64
    flip cells n00/n01/n10/n11 plus integer chi-square pieces — the
    within-user companion to the between-arm tests."""
    from ..functions.stats import mcnemar_paired

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return mcnemar_paired(
        ev, "user_id",
        (F.col("event_type") == "purchase") & (F.col("value") > 150.0),
    )


O_MCNEMAR = """
with b as (
  select user_id as uid, epoch_us(ts) as us,
    case when event_type = 'purchase' and value > 150.0 then 1 else 0 end as s
  from events
),
rng as (select (min(us) + max(us)) // 2 as cut from b),
pu as (
  select uid,
    max(case when us < rng.cut then s else 0 end) as pre,
    max(case when us >= rng.cut then s else 0 end) as post
  from b, rng group by uid
),
cells as (
  select
    cast(sum(case when pre = 0 and post = 0 then 1 else 0 end) as bigint) as n00,
    cast(sum(case when pre = 0 and post = 1 then 1 else 0 end) as bigint) as n01,
    cast(sum(case when pre = 1 and post = 0 then 1 else 0 end) as bigint) as n10,
    cast(sum(case when pre = 1 and post = 1 then 1 else 0 end) as bigint) as n11
  from pu
)
select n00, n01, n10, n11,
  cast((n01 - n10) * (n01 - n10) as bigint) as chi2_num,
  cast(n01 + n10 as bigint) as chi2_den
from cells
"""

QUERIES["mcnemar"] = q_mcnemar
ORACLES["mcnemar"] = O_MCNEMAR


def q_srm(spark, sf_dir):
    """Sample-ratio-mismatch gate (functions/stats.srm_check): exact unit
    counts per md5 arm plus integer chi-square pieces against the uniform
    split — the first sanity check before trusting any effect estimate."""
    from ..functions.stats import srm_check

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return srm_check(ev, "user_id")


O_SRM = f"""
with pu as (select distinct user_id as uid from events),
arm as (
  select cast(({_HEX7}) % 2 as int) as arm
  from (select md5(cast(uid as varchar)) as h from pu)
),
cells as (select arm, cast(count(*) as bigint) as n_units from arm group by arm),
tot as (select cast(sum(n_units) as bigint) as n_total from cells)
select cells.arm, cells.n_units, tot.n_total,
  cast((2 * cells.n_units - tot.n_total) * (2 * cells.n_units - tot.n_total)
    as bigint) as chi2_num_term,
  cast(2 * tot.n_total as bigint) as chi2_den
from cells, tot
"""

QUERIES["srm_check"] = q_srm
ORACLES["srm_check"] = O_SRM


def q_streaming_sprt(spark, sf_dir):
    """REAL streaming execution of the Wald SPRT monitor
    (streaming/stream.streaming_sprt): per-user first-touch rows replayed
    through readStream -> per-arm applyInPandasWithState LLR accumulator ->
    availableNow -> memory sink. Single-file source => one in-order
    micro-batch, so the batch ab_sprt oracle (O_AB_SPRT) matches exactly;
    the cross-batch decision-freeze path is pytest-covered."""
    import hashlib
    import uuid
    from pathlib import Path as _P

    from ..functions.corpus import md5_bucket
    from ..streaming import stream as strm

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    conv = (F.col("event_type") == "purchase") & (F.col("value") > 150.0)
    pu = (
        ev.groupBy(F.col("user_id").alias("uid"))
        .agg(
            F.max(F.when(conv, 1).otherwise(0)).cast("int").alias("conv"),
            F.min("ts").alias("ts0"),
        )
        .select(
            md5_bucket("uid", 2).cast("int").alias("arm"),
            F.col("uid").cast("long").alias("uid"),
            "conv",
            F.unix_micros(F.col("ts0").cast("timestamp")).alias("ts0_us"),
        )
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = f"/tmp/stream_sprt_src_{tag}"
    if not _P(path).exists():
        pu.coalesce(1).write.mode("overwrite").parquet(path)
    src = spark.readStream.schema(pu.schema).parquet(path)
    out = strm.streaming_sprt(src)
    qname = "qss_" + uuid.uuid4().hex[:12]
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            out.writeStream.format("memory")
            .queryName(qname)
            .trigger(availableNow=True)
            .option("checkpointLocation", f"/dev/shm/spark-tmp/stream_sprt_ckpt_{uuid.uuid4().hex[:12]}")
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
    return spark.table(qname)


QUERIES["streaming_sprt"] = q_streaming_sprt
ORACLES["streaming_sprt"] = O_AB_SPRT


# --- perplexity-band pruning (Marion et al. 2023) ---------------------------

def q_perplexity_prune(spark, sf_dir):
    """Middle-band perplexity pruning over the corpus unigram LM: keep
    docs between the 25th and 75th score percentile; membership decided
    by integer rank on micro-unit-quantized scores (engine-exact)."""
    from ..functions import corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = corpus.perplexity_prune(docs)
    return out.select(
        F.col("id").alias("doc_id"), "n_words", "score_micro", "rnk", "kept"
    )


O_PERPLEXITY_PRUNE = f"""
with {_WORDS_CTE},
ww as (select doc_id, unnest(words) as word from w),
wc as (select word, count(*) as cnt from ww group by word),
tot as (select cast(sum(cnt) as double) as n_total, cast(count(*) as double) as n_vocab from wc),
dw as (select doc_id, word, count(*) as k from ww group by 1, 2),
s as (
  select dw.doc_id, dw.k,
    ln((wc.cnt + 1.0) / (tot.n_total + tot.n_vocab)) as lp
  from dw join wc using (word) cross join tot
),
sc as (
  select doc_id,
    cast(sum(k) as bigint) as n_words,
    cast(floor((sum(k * lp) / cast(sum(k) as double)) * 1000000.0 + 0.5) as bigint) as score_micro
  from s group by doc_id
),
rk as (
  select *, cast(row_number() over (order by score_micro, doc_id) as bigint) as rnk,
    count(*) over () as n
  from sc
)
select doc_id, n_words, score_micro, rnk,
  cast(case when rnk > (n * 1) // 4 and rnk <= (n * 3) // 4 then 1 else 0 end as int) as kept
from rk
"""

QUERIES["perplexity_prune"] = q_perplexity_prune
ORACLES["perplexity_prune"] = O_PERPLEXITY_PRUNE


# --- TextRank key-turn centrality (Mihalcea & Tarau 2004) -------------------

def q_textrank_turns(spark, sf_dir):
    """Integer micro-unit PageRank over the within-conversation
    turn-similarity graph (shared distinct normalized words); per-conv
    centrality order `pos` is the key-turn signal. All-int64 arithmetic
    -> the oracle unrolls the same 2 iterations and matches hash-exactly.
    Runs with the PRODUCTION per-conv word-df cap (32): words appearing
    in more turns of one conversation are that conversation's stopwords
    and would blow the pair fan-out quadratically (6.7M -> 1.4M edges at
    sf0.1, 2.6x faster end to end); the cap is mirrored in the oracle."""
    from ..functions import graph

    t = transcripts_from_events(spark, sf_dir)
    return graph.textrank_turns(t, iterations=2, max_word_turn_df=32)


def _textrank_oracle() -> str:
    it = """,
r{t} as (
  select n.node,
    (1000000 * 3) // (20 * (select nn from ncnt))
      + (17 * coalesce(s.c_sum, 0)) // 20 as rank_micro
  from nodes n left join (
    select e.dst as node, sum((r.rank_micro * e.w) // o.out_w) as c_sum
    from edges e
    join r{p} r on r.node = e.src
    join outw o on o.src = e.src
    group by 1
  ) s using (node)
)"""
    return f"""{_W},
tw as (
  select distinct conv_id, turn_idx,
    unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) as word
  from transcripts
),
tw2 as (select * from tw where word <> ''),
-- production per-conv word-df cap: words in > 32 turns of one conversation
-- are that conversation's stopwords (mirrors max_word_turn_df=32)
capok as (
  select conv_id, word from tw2
  group by conv_id, word having count(*) <= 32
),
twc as (select tw2.* from tw2 join capok using (conv_id, word)),
pairs as (
  select a.conv_id, a.turn_idx as ta, b.turn_idx as tb,
    cast(count(*) as bigint) as w
  from twc a join twc b
    on a.conv_id = b.conv_id and a.word = b.word and a.turn_idx < b.turn_idx
  group by 1, 2, 3
),
edges as (
  select conv_id || '#' || ta as src, conv_id || '#' || tb as dst, w from pairs
  union all
  select conv_id || '#' || tb as src, conv_id || '#' || ta as dst, w from pairs
),
nodes as (select src as node from edges union select dst from edges),
ncnt as (select count(*) as nn from nodes),
outw as (select src, sum(w) as out_w from edges group by 1),
r0 as (select node, 1000000 // (select nn from ncnt) as rank_micro from nodes)
{it.format(t=1, p=0)}{it.format(t=2, p=1)}
select
  string_split(node, '#')[1] as conv_id,
  cast(string_split(node, '#')[2] as int) as turn_idx,
  cast(rank_micro as bigint) as rank_micro,
  cast(row_number() over (
    partition by string_split(node, '#')[1]
    order by rank_micro desc, cast(string_split(node, '#')[2] as int)
  ) as int) as pos
from r2
"""


QUERIES["textrank_turns"] = q_textrank_turns
ORACLES["textrank_turns"] = _textrank_oracle()


# --- HITS hubs & authorities (Kleinberg 1999) --------------------------------

def q_hits_scores(spark, sf_dir):
    """HITS over the word-bucket transition digraph: int64 micro-unit
    hub/authority scores with exact decimal(38,0) L1 normalization per
    round — bit-matches the DuckDB hugeint oracle for 3 unrolled
    iterations."""
    from ..functions import graph

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    edges = graph.word_transition_edges(docs, buckets=16)
    return graph.hits_int(edges, iterations=3)


def _hits_oracle() -> str:
    ba = f"(({_hex7_of('md5(a)')}) % 16)"
    bb = f"(({_hex7_of('md5(b)')}) % 16)"
    it = """,
ar{t} as (
  select e.dst as node, sum(cast(e.w as hugeint) * h.h) as raw
  from edges e join h{p} h on h.node = e.src group by 1
),
a{t} as (
  select n.node,
    cast(coalesce(r.raw, 0) * 1000000
         // greatest((select sum(raw) from ar{t}), 1) as bigint) as a
  from nodes n left join ar{t} r using (node)
),
hr{t} as (
  select e.src as node, sum(cast(e.w as hugeint) * a.a) as raw
  from edges e join a{t} a on a.node = e.dst group by 1
),
h{t} as (
  select n.node,
    cast(coalesce(r.raw, 0) * 1000000
         // greatest((select sum(raw) from hr{t}), 1) as bigint) as h
  from nodes n left join hr{t} r using (node)
)"""
    return f"""
with d as (
  select string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') as w
  from documents
),
tr as (
  select unnest(w[1:len(w)-1]) as a, unnest(w[2:len(w)]) as b from d
),
eb as (
  select printf('wb%02d', {ba}) as src,
         printf('wb%02d', {bb}) as dst
  from tr
),
edges as (select src, dst, cast(count(*) as bigint) as w from eb group by 1, 2),
nodes as (select src as node from edges union select dst from edges),
ncnt as (select count(*) as nn from nodes),
h0 as (select node, cast(1000000 // (select nn from ncnt) as bigint) as h from nodes)
{it.format(t=1, p=0)}{it.format(t=2, p=1)}{it.format(t=3, p=2)}
select h3.node, h3.h as hub_micro, a3.a as auth_micro
from h3 join a3 using (node)
"""


QUERIES["hits_scores"] = q_hits_scores
ORACLES["hits_scores"] = _hits_oracle()


# --- event-time lateness audit (watermark tuning) -------------------------------

def q_lateness_audit(spark, sf_dir):
    """Watermark-tuning meter (validation.lateness_audit): per-conversation
    running-max event-time regressions under the stable replay order —
    exact count/max/p50/p95/p99 of lateness in microseconds, the numbers
    that pick a withWatermark delay. One canonical window + a
    distinct-value rank pass."""
    from ..validation import lateness_audit

    t = _t(spark, sf_dir)
    return lateness_audit(t, CFG)


O_LATENESS_AUDIT = f"""{_W},
t as (
  select epoch_us(ts) as us,
    max(epoch_us(ts)) over
      ({_OWIN} rows between unbounded preceding and 1 preceding) as run_max
  from transcripts
),
l as (
  select case when run_max > us then run_max - us else 0 end as late_us from t
),
tot as (
  select cast(count(*) as bigint) as n_events,
    cast(sum(case when late_us > 0 then 1 else 0 end) as bigint) as n_late,
    cast(max(late_us) as bigint) as max_lateness_us
  from l
),
dv as (select late_us, count(*) as c from l where late_us > 0 group by 1),
cum as (
  select late_us,
    sum(c) over (order by late_us
                 rows between unbounded preceding and current row) as cum
  from dv
)
select t.n_events, t.n_late, t.max_lateness_us,
  cast(coalesce((select min(late_us) from cum
                 where cum * 100 >= t.n_late * 50), 0) as bigint) as p50_lateness_us,
  cast(coalesce((select min(late_us) from cum
                 where cum * 100 >= t.n_late * 95), 0) as bigint) as p95_lateness_us,
  cast(coalesce((select min(late_us) from cum
                 where cum * 100 >= t.n_late * 99), 0) as bigint) as p99_lateness_us,
  t.max_lateness_us as suggested_watermark_us
from tot t
"""

QUERIES["lateness_audit"] = q_lateness_audit
ORACLES["lateness_audit"] = O_LATENESS_AUDIT


# --- temperature-scaled source mixing (alpha = 1/2) -----------------------------

def q_temperature_mix(spark, sf_dir):
    """T=2 source rebalance (functions/corpus.temperature_mix): isqrt
    token weights — the one exponent with an engine-exact integer form
    (IEEE sqrt is correctly rounded; floor exact below 2^52). Emits mix
    vs proportional shares and the boost ratio, all int64."""
    from ..functions.corpus import temperature_mix

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return temperature_mix(docs)


O_TEMPERATURE_MIX = """
with per as (
  select source, cast(count(*) as bigint) as n_docs,
    cast(sum(len(regexp_split_to_array(trim(text), '\\s+'))) as bigint) as tokens
  from documents group by source
),
w as (select *, cast(floor(sqrt(tokens)) as bigint) as w from per),
tot as (select cast(sum(tokens) as bigint) as tot_tokens,
               cast(sum(w) as bigint) as tot_w from w)
select source, n_docs, tokens, w,
  cast(w * 1000000 // greatest(tot_w, 1) as bigint) as mix_ppm,
  cast(tokens * 1000000 // greatest(tot_tokens, 1) as bigint) as prop_ppm,
  cast((w * 1000000 // greatest(tot_w, 1)) * 1000000
       // greatest(tokens * 1000000 // greatest(tot_tokens, 1), 1) as bigint)
    as boost_ppm
from w cross join tot
"""

QUERIES["temperature_mix"] = q_temperature_mix
ORACLES["temperature_mix"] = O_TEMPERATURE_MIX


# --- Self-BLEU corpus diversity (ring-pair proxy) -------------------------------

def q_self_bleu(spark, sf_dir):
    """Corpus diversity meter: Self-BLEU (Zhu et al. 2018) on a
    deterministic md5 quarter-sample, RING-PAIR proxy (each sampled doc
    scored against the next sampled doc_id — O(sample) pairs instead of
    the quadratic all-pairs form; the proxy is unbiased for ordering
    corpora by diversity and is the 100-TB shape). Corpus-level modified
    precisions p_n = sum(m_n)*1e6 div sum(c_n) — BLEU's own aggregation
    rule, exact int64 end to end. High p_n = homogeneous corpus."""
    from ..functions.corpus import md5_bucket

    from pyspark.sql.window import Window

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sample = docs.filter(md5_bucket("doc_id", 4) == 0)
    w = Window.orderBy("doc_id")
    pairs = (
        sample.select("doc_id")
        .withColumn("id_b", F.lead("doc_id").over(w))
        .filter(F.col("id_b").isNotNull())
        .select(F.col("doc_id").alias("id_a"), "id_b")
    )
    comp = dedup.bleu_components(pairs, docs, max_n=4)
    aggs = [F.count(F.lit(1)).cast("long").alias("n_pairs")]
    for n in range(1, 5):
        aggs.append(F.sum(f"m{n}").cast("long").alias(f"m{n}_sum"))
        aggs.append(F.sum(f"c{n}").cast("long").alias(f"c{n}_sum"))
    out = comp.agg(*aggs)
    pcols = [
        F.expr(f"m{n}_sum * 1000000 div greatest(c{n}_sum, 1)")
        .cast("long").alias(f"p{n}_ppm")
        for n in range(1, 5)
    ]
    return out.select("*", *pcols)


def _self_bleu_oracle() -> str:
    b = f"(({_HEX7}) % 4)"
    return f"""
with hx as (select doc_id, text, md5(cast(doc_id as varchar)) as h from documents),
samp as (select doc_id, text from hx where {b} = 0),
pairs as (
  select doc_id as id_a, lead(doc_id) over (order by doc_id) as id_b
  from samp qualify id_b is not null
),
pids as (
  select distinct id from (
    select id_a as id from pairs union all select id_b from pairs
  )
),
nw as (
  select doc_id as id,
    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') as w
  from documents join pids on pids.id = documents.doc_id
),
wl as (select id, cast(len(w) as bigint) as wl from nw),
grams as (
  select id, t.n,
    unnest([array_to_string(w[i:i+t.n-1], ' ')
            for i in range(1, len(w) - t.n + 2)]) as gram
  from nw, (select unnest([1, 2, 3, 4]) as n) t
  where len(w) >= t.n
),
cnt as (select id, n, gram, cast(count(*) as bigint) as c
        from grams group by 1, 2, 3),
m as (
  select p.id_a, p.id_b, a.n, sum(least(a.c, b.c)) as m
  from pairs p
  join cnt a on a.id = p.id_a
  join cnt b on b.id = p.id_b and b.n = a.n and b.gram = a.gram
  group by 1, 2, 3
),
per as (
  select p.id_a, p.id_b, lb.wl as cand_len,
    coalesce(sum(case when n = 1 then m end), 0) as m1,
    coalesce(sum(case when n = 2 then m end), 0) as m2,
    coalesce(sum(case when n = 3 then m end), 0) as m3,
    coalesce(sum(case when n = 4 then m end), 0) as m4
  from pairs p
  join wl lb on lb.id = p.id_b
  left join m on m.id_a = p.id_a and m.id_b = p.id_b
  group by 1, 2, 3
),
agg as (
  select cast(count(*) as bigint) as n_pairs,
    cast(sum(m1) as bigint) as m1_sum, cast(sum(greatest(cand_len, 0)) as bigint) as c1_sum,
    cast(sum(m2) as bigint) as m2_sum, cast(sum(greatest(cand_len - 1, 0)) as bigint) as c2_sum,
    cast(sum(m3) as bigint) as m3_sum, cast(sum(greatest(cand_len - 2, 0)) as bigint) as c3_sum,
    cast(sum(m4) as bigint) as m4_sum, cast(sum(greatest(cand_len - 3, 0)) as bigint) as c4_sum
  from per
)
select *,
  cast(m1_sum * 1000000 // greatest(c1_sum, 1) as bigint) as p1_ppm,
  cast(m2_sum * 1000000 // greatest(c2_sum, 1) as bigint) as p2_ppm,
  cast(m3_sum * 1000000 // greatest(c3_sum, 1) as bigint) as p3_ppm,
  cast(m4_sum * 1000000 // greatest(c4_sum, 1) as bigint) as p4_ppm
from agg
"""


QUERIES["self_bleu"] = q_self_bleu
ORACLES["self_bleu"] = _self_bleu_oracle()


# --- blocklist/safety lexicon scorer -------------------------------------------

def q_lexicon_hits(spark, sf_dir):
    """Wordlist-category safety gate over documents (functions/text.
    lexicon_hits, DEFAULT_LEXICON): exact per-category word-hit counts,
    union rate in ppm, flag. Shuffle-free projection; the lists are plan
    literals."""
    from ..functions.text import lexicon_hits

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return lexicon_hits(docs)


def _lexicon_oracle() -> str:
    from ..functions.text import DEFAULT_LEXICON

    cat_cols = ",\n    ".join(
        "cast(len(list_filter(w, x -> list_contains(["
        + ", ".join(f"'{t}'" for t in terms)
        + f"], x))) as bigint) as {cat}_hits"
        for cat, terms in DEFAULT_LEXICON.items()
    )
    any_sum = " + ".join(f"{cat}_hits" for cat in DEFAULT_LEXICON)
    return f"""
with s as (
  select doc_id,
    list_filter(string_split(regexp_replace(lower(coalesce(text, '')),
      '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '') as w
  from documents
),
c as (
  select doc_id, cast(len(w) as bigint) as n_words,
    {cat_cols}
  from s
)
select *, cast({any_sum} as bigint) as any_hits,
  cast(({any_sum}) * 1000000 // greatest(n_words, 1) as bigint) as hit_rate_ppm,
  ({any_sum}) > 0 as flagged
from c
"""


QUERIES["lexicon_hits"] = q_lexicon_hits
ORACLES["lexicon_hits"] = _lexicon_oracle()


# --- Krippendorff alpha (binary reliability) ----------------------------------

def q_krippendorff(spark, sf_dir):
    """Binary Krippendorff alpha over repeated per-user measurements
    (functions/stats.krippendorff_alpha_binary): bit = value > 100 per
    event, units = users with >= 2 events. One per-unit floor-quantized
    division, final quotient in decimal(38,0)/hugeint on nonneg operands."""
    from ..functions.stats import krippendorff_alpha_binary

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "bit", (F.col("value") > 100.0).cast("int")
    )
    return krippendorff_alpha_binary(ev, "user_id", "bit")


O_KRIPPENDORFF = """
with per as (
  select user_id as u, cast(count(*) as bigint) as m,
    cast(sum(case when value > 100.0 then 1 else 0 end) as bigint) as x
  from events group by user_id
),
f as (select * from per where m >= 2),
agg as (
  select cast(count(*) as bigint) as n_units,
    cast(sum(m) as bigint) as n,
    cast(sum(x) as bigint) as p1,
    cast(sum((x * (m - x) * 1000000) // (m - 1)) as bigint) as o_num
  from f
)
select n_units, n, p1, o_num,
  case when (n - p1) * p1 = 0 then cast(1000000 as bigint)
       else cast(1000000 - cast(n - 1 as hugeint) * o_num
                 // (cast(n - p1 as hugeint) * p1) as bigint) end as alpha_ppm
from agg
"""

QUERIES["krippendorff"] = q_krippendorff
ORACLES["krippendorff"] = O_KRIPPENDORFF


# --- difference-in-differences (md5 arms x calendar cutover) ------------------

def q_diff_in_diff(spark, sf_dir):
    """Panel DiD over events (functions/stats.diff_in_differences): per
    (user, pre/post-day-16) spend cells in exact integer cents, cell
    means as micro-cents via matched floor division, DiD = signed sum of
    the four released integers. Two partial-aggregable shuffles."""
    from ..functions.stats import diff_in_differences

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return diff_in_differences(ev, "user_id", cutover_day=16)


O_DIFF_IN_DIFF = f"""
with per as (
  select user_id as uid,
    case when day(ts) >= 16 then 1 else 0 end as post,
    sum(cast(floor(value * 100.0 + 0.5) as bigint)) as c
  from events group by 1, 2
),
hx as (select post, c, md5(cast(uid as varchar)) as h from per),
cell as (
  select ({_HEX7}) % 2 as arm, post,
    cast(count(*) as bigint) as n, cast(sum(c) as bigint) as s
  from hx group by 1, 2
),
wide as (
  select
    coalesce(sum(case when arm = 0 and post = 0 then n end), 0) as n_a_pre,
    coalesce(sum(case when arm = 0 and post = 1 then n end), 0) as n_a_post,
    coalesce(sum(case when arm = 1 and post = 0 then n end), 0) as n_b_pre,
    coalesce(sum(case when arm = 1 and post = 1 then n end), 0) as n_b_post,
    coalesce(sum(case when arm = 0 and post = 0 then s end), 0) as sum_a_pre,
    coalesce(sum(case when arm = 0 and post = 1 then s end), 0) as sum_a_post,
    coalesce(sum(case when arm = 1 and post = 0 then s end), 0) as sum_b_pre,
    coalesce(sum(case when arm = 1 and post = 1 then s end), 0) as sum_b_post
  from cell
),
m as (
  select *,
    sum_a_pre * 1000000 // greatest(n_a_pre, 1) as mean_a_pre_micro,
    sum_a_post * 1000000 // greatest(n_a_post, 1) as mean_a_post_micro,
    sum_b_pre * 1000000 // greatest(n_b_pre, 1) as mean_b_pre_micro,
    sum_b_post * 1000000 // greatest(n_b_post, 1) as mean_b_post_micro
  from wide
)
select cast(n_a_pre as bigint) as n_a_pre, cast(n_a_post as bigint) as n_a_post,
  cast(n_b_pre as bigint) as n_b_pre, cast(n_b_post as bigint) as n_b_post,
  cast(sum_a_pre as bigint) as sum_a_pre, cast(sum_a_post as bigint) as sum_a_post,
  cast(sum_b_pre as bigint) as sum_b_pre, cast(sum_b_post as bigint) as sum_b_post,
  cast(mean_a_pre_micro as bigint) as mean_a_pre_micro,
  cast(mean_a_post_micro as bigint) as mean_a_post_micro,
  cast(mean_b_pre_micro as bigint) as mean_b_pre_micro,
  cast(mean_b_post_micro as bigint) as mean_b_post_micro,
  cast((mean_b_post_micro - mean_b_pre_micro)
       - (mean_a_post_micro - mean_a_pre_micro) as bigint) as did_micro
from m
"""

QUERIES["diff_in_diff"] = q_diff_in_diff
ORACLES["diff_in_diff"] = O_DIFF_IN_DIFF


# --- consecutive same-role turn merge (SFT dialog normalization) --------------

def q_merge_turns(spark, sf_dir):
    """Collapse runs of consecutive same-role turns into single merged
    turns (operators/state.merge_consecutive_turns): gaps-and-islands key
    + ONE groupBy with a sorted struct array — text assembly is JVM
    transform/concat, no UDF, shuffles bounded by conversations."""
    t = _t(spark, sf_dir)
    out = state.merge_consecutive_turns(t, CFG)
    return out.select(
        "conv_id", "turn_idx", "role", "text", "tool",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.unix_micros(F.col("ts_end").cast("timestamp")).alias("ts_end_us"),
        "n_merged", "chars",
    )


O_MERGE_TURNS = f"""{_W},
g as (
  select conv_id, turn_idx, ts, role, text, tool,
    row_number() over ({_OWIN})
      - row_number() over (partition by conv_id, role order by turn_idx, ts)
      as grp
  from transcripts
),
r as (
  select conv_id, role, grp,
    min(turn_idx) as first_ti,
    min(epoch_us(ts)) as ts_us,
    max(epoch_us(ts)) as ts_end_us,
    cast(count(*) as bigint) as n_merged,
    cast(sum(coalesce(length(text), 0)) as bigint) as chars,
    nullif(string_agg(text, chr(10) order by turn_idx, ts), '') as text,
    first(tool order by turn_idx, ts) as tool
  from g group by conv_id, role, grp
)
select conv_id,
  cast(row_number() over (partition by conv_id order by first_ti, ts_us) - 1
       as int) as turn_idx,
  role, text, tool, ts_us, ts_end_us, n_merged, chars
from r
"""

QUERIES["merge_turns"] = q_merge_turns
ORACLES["merge_turns"] = O_MERGE_TURNS


# --- code-vs-prose detection gate ---------------------------------------------

def q_code_detect(spark, sf_dir):
    """Code-detection curation gate over documents (functions/text.
    code_features): exact integer line/keyword/symbol statistics + ppm
    score + routing flag. One narrow projection, no shuffle."""
    from ..functions.text import code_features

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return code_features(docs)


O_CODE_DETECT = """
with t as (
  select doc_id, coalesce(text, '') as t from documents
),
s as (
  select doc_id,
    string_split(t, chr(10)) as lines,
    list_filter(string_split(regexp_replace(lower(t), '[^a-z0-9]+', ' ', 'g'), ' '),
      w -> list_contains(['def', 'return', 'import', 'class', 'function',
                          'var', 'const', 'void', 'int', 'include',
                          'printf', 'lambda', 'public', 'static'], w)) as kw,
    cast(length(t) - length(regexp_replace(t, '[{}();=<>\\[\\]]', '', 'g')) as bigint)
      as sym_chars,
    cast(length(t) as bigint) as n_chars
  from t
),
c as (
  select doc_id,
    cast(len(lines) as bigint) as n_lines,
    cast(len(list_filter(lines,
      l -> substr(l, 1, 4) = '    ' or substr(l, 1, 1) = chr(9))) as bigint)
      as indented_lines,
    cast(len(list_filter(lines,
      l -> substr(rtrim(l), -1, 1) in (';', '{', '}'))) as bigint)
      as punct_end_lines,
    cast(len(kw) as bigint) as kw_hits,
    sym_chars, n_chars
  from s
)
select doc_id, n_lines, indented_lines, punct_end_lines, kw_hits,
  cast(sym_chars * 1000000 // greatest(n_chars, 1) as bigint) as sym_ppm,
  cast((indented_lines + punct_end_lines) * 1000000 // greatest(n_lines, 1)
       as bigint) as code_score_ppm,
  ((indented_lines + punct_end_lines) * 1000000 // greatest(n_lines, 1)
     >= 300000
   or (kw_hits >= 3
       and sym_chars * 1000000 // greatest(n_chars, 1) >= 20000)) as is_code
from c
"""

QUERIES["code_detect"] = q_code_detect
ORACLES["code_detect"] = O_CODE_DETECT


# --- streaming sliding-window turn rates -------------------------------------

def q_streaming_rates(spark, sf_dir):
    """Structured Streaming sliding time-window rates (streaming/stream.
    streaming_turn_rates: window 5 min, slide 1 min) replayed availableNow
    over the corpus, complete-mode memory sink. The batch oracle unnests
    each event into its exactly window/slide = 5 covering windows
    (epoch-aligned starts, [start, end) membership) — Spark's F.window
    assignment rule, reproduced in SQL."""
    import hashlib
    import uuid
    from pathlib import Path as _P

    from ..streaming import stream as strm

    t = transcripts_from_events(spark, sf_dir)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = f"/tmp/stream_rates_src_{tag}"
    if not _P(path).exists():
        t.coalesce(1).write.mode("overwrite").parquet(path)
    src = spark.readStream.schema(t.schema).parquet(path)
    out = strm.streaming_turn_rates(
        src, CFG, window="5 minutes", slide="1 minute", watermark="1 second"
    )
    qname = "qsr_" + uuid.uuid4().hex[:12]
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            out.writeStream.format("memory")
            .queryName(qname)
            .outputMode("complete")
            .trigger(availableNow=True)
            .option("checkpointLocation", f"/dev/shm/spark-tmp/stream_rates_ckpt_{uuid.uuid4().hex[:12]}")
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
    res = spark.table(qname)
    return res.select(
        "conv_id",
        F.unix_micros(F.col("window_start").cast("timestamp")).alias("window_start_us"),
        F.col("turns").cast("long").alias("turns"),
        F.col("tool_turns").cast("long").alias("tool_turns"),
    )


O_STREAMING_RATES = f"""{_W},
e as (
  select conv_id, epoch_us(ts) as t,
    cast(role = 'tool' as int) as is_tool
  from transcripts
),
wins as (
  select conv_id,
    ((t // 60000000) - k) * 60000000 as window_start_us,
    is_tool
  from e, (select unnest([0, 1, 2, 3, 4]) as k)
)
select conv_id, window_start_us,
  cast(count(*) as bigint) as turns,
  cast(sum(is_tool) as bigint) as tool_turns
from wins group by 1, 2
"""

QUERIES["streaming_rates"] = q_streaming_rates
ORACLES["streaming_rates"] = O_STREAMING_RATES


# --- Spearman rank correlation (exact tie-averaged ranks) --------------------

def q_spearman(spark, sf_dir):
    """Spearman rho between conversation length (turns) and char volume
    across conversations (functions/stats.spearman_rho): doubled-midrank
    integers, shifted nonneg quotient in decimal(38,0) — engine-exact
    against the hugeint oracle."""
    from ..functions.stats import spearman_rho

    t = _t(spark, sf_dir)
    conv = t.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        F.sum(F.coalesce(F.length("text"), F.lit(0))).cast("long").alias("chars"),
    )
    return spearman_rho(conv, "n_turns", "chars")


O_SPEARMAN = f"""{_W},
conv as (
  select conv_id, cast(count(*) as bigint) as n_turns,
    cast(sum(coalesce(length(text), 0)) as bigint) as chars
  from transcripts group by conv_id
),
r as (
  select
    2 * rank() over (order by n_turns)
      + count(*) over (partition by n_turns) - 1 as rx2,
    2 * rank() over (order by chars)
      + count(*) over (partition by chars) - 1 as ry2
  from conv
),
agg as (
  select cast(count(*) as bigint) as n,
    cast(sum((rx2 - ry2) * (rx2 - ry2)) as bigint) as sum_d2x4
  from r
)
select n, sum_d2x4,
  case when n >= 2 then cast(
    ((cast(n as hugeint) * n * n - n) * 4 - cast(sum_d2x4 as hugeint) * 3)
    * 1000000 // ((cast(n as hugeint) * n * n - n) * 2) as bigint) end
    as rho_plus1_micro
from agg
"""

QUERIES["spearman"] = q_spearman
ORACLES["spearman"] = O_SPEARMAN


# --- BLEU sufficient statistics over LSH candidate pairs --------------------

def q_bleu_pairs(spark, sf_dir):
    """Clipped modified-precision BLEU components (Papineni 2002) for each
    minhash-LSH candidate pair (operators/dedup.bleu_components): int64
    m1..m4 / c1..c4 / lengths — paraphrase-grade near-dup triage where
    distinct-shingle Jaccard is too coarse. Gram counts built only for ids
    in the pair set (leftsemi); the match join fans out by shared grams,
    never corpus^2."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = dedup.minhash_lsh_pairs(docs, k=3, num_hashes=16, bands=4) \
        .select("id_a", "id_b")
    return dedup.bleu_components(pairs, docs, max_n=4)


def _bleu_pairs_oracle() -> str:
    """LSH-pair head (same generator as edit_distance_pairs), then exact
    per-order clipped gram matching in SQL."""
    lsh = _minhash_lsh_oracle()
    head, _, tail = lsh.rpartition("select a.id as id_a")
    body = "select a.id as id_a" + tail
    return (
        head.rstrip().rstrip(",") + ",\n"
        + "pairs as (\n" + body.strip() + "\n),\n"
        + """pids as (
  select distinct id from (
    select id_a as id from pairs union all select id_b from pairs
  )
),
nw as (
  select doc_id as id,
    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') as w
  from documents join pids on pids.id = documents.doc_id
),
wl as (select id, cast(len(w) as bigint) as wl from nw),
grams as (
  select id, t.n,
    unnest([array_to_string(w[i:i+t.n-1], ' ')
            for i in range(1, len(w) - t.n + 2)]) as gram
  from nw, (select unnest([1, 2, 3, 4]) as n) t
  where len(w) >= t.n
),
cnt as (select id, n, gram, cast(count(*) as bigint) as c
        from grams group by 1, 2, 3),
m as (
  select p.id_a, p.id_b, a.n, sum(least(a.c, b.c)) as m
  from pairs p
  join cnt a on a.id = p.id_a
  join cnt b on b.id = p.id_b and b.n = a.n and b.gram = a.gram
  group by 1, 2, 3
),
mm as (
  select id_a, id_b,
    cast(coalesce(sum(case when n = 1 then m end), 0) as bigint) as m1,
    cast(coalesce(sum(case when n = 2 then m end), 0) as bigint) as m2,
    cast(coalesce(sum(case when n = 3 then m end), 0) as bigint) as m3,
    cast(coalesce(sum(case when n = 4 then m end), 0) as bigint) as m4
  from m group by 1, 2
)
select p.id_a, p.id_b, la.wl as ref_len, lb.wl as cand_len,
  coalesce(mm.m1, 0) as m1, coalesce(mm.m2, 0) as m2,
  coalesce(mm.m3, 0) as m3, coalesce(mm.m4, 0) as m4,
  greatest(lb.wl, 0) as c1,
  greatest(lb.wl - 1, 0) as c2,
  greatest(lb.wl - 2, 0) as c3,
  greatest(lb.wl - 3, 0) as c4
from pairs p
join wl la on la.id = p.id_a
join wl lb on lb.id = p.id_b
left join mm on mm.id_a = p.id_a and mm.id_b = p.id_b
"""
    )


QUERIES["bleu_pairs"] = q_bleu_pairs
ORACLES["bleu_pairs"] = _bleu_pairs_oracle()


def q_minhash_lsh_capped(spark, sf_dir):
    """Hot-band-capped MinHash LSH (operators/dedup.minhash_lsh_pairs with
    max_band_size — VERDICT r3 #2): identical-band-vector groups collapse
    to O(m) star edges (min-id rep -> member, n_bands = bands) instead of
    the m^2 self-join blowup, the banded equi-join runs over representatives
    only, and residual band buckets larger than the cap are dropped (same
    lossy hot-key discipline as ngram_jaccard's max_doc_freq). The oracle
    applies the identical two-tier algebra in SQL."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = dedup.minhash_lsh_pairs(
        docs, k=3, num_hashes=16, bands=4, max_band_size=4
    )
    return out.select("id_a", "id_b", F.col("n_bands").cast("long").alias("n_bands"))


def _minhash_lsh_capped_oracle(
    num_hashes: int = 16, bands: int = 4, cap: int = 4
) -> str:
    rows = num_hashes // bands
    sigs = ",\n    ".join(
        f"min(md5('{s}|' || shingle)) as sig_{s}" for s in range(num_hashes)
    )
    band_keys = ",\n    ".join(
        f"'{b}:' || md5(" + " || '#' || ".join(
            f"sig_{b * rows + r}" for r in range(rows)
        ) + f") as band_{b}"
        for b in range(bands)
    )
    gkey = " || '#' || ".join(f"band_{b}" for b in range(bands))
    unnest = ", ".join(f"band_{b}" for b in range(bands))
    return f"""
with {_SHINGLE_SQL},
sigs as (
  select doc_id as id,
    {sigs}
  from shingled group by doc_id
),
banded as (
  select id,
    {band_keys}
  from sigs
),
g as (select *, md5({gkey}) as gkey from banded),
reps as (select gkey, min(id) as rep from g group by 1),
withrep as (select g.*, reps.rep from g join reps using (gkey)),
star as (
  select rep as id_a, id as id_b, cast({bands} as bigint) as n_bands
  from withrep where id <> rep
),
melted as (
  select id, unnest([{unnest}]) as band_key from withrep where id = rep
),
sizes as (select band_key, count(*) as n from melted group by 1),
kept as (
  select m.id, m.band_key from melted m join sizes using (band_key)
  where n <= {cap}
),
pairs as (
  select a.id as id_a, b.id as id_b, cast(count(*) as bigint) as n_bands
  from kept a join kept b using (band_key)
  where a.id < b.id group by 1, 2
)
select * from pairs union all select * from star
"""


QUERIES["minhash_lsh_capped"] = q_minhash_lsh_capped
ORACLES["minhash_lsh_capped"] = _minhash_lsh_capped_oracle()


# --- two-sample log-rank test over censored tool-episode durations ------------------

def q_logrank_test(spark, sf_dir):
    """Log-rank test (operators/survival.logrank_test) comparing the
    censoring-correct survival curves of even- vs odd-numbered tools:
    O/E/V accumulate as decimal(38,0) fixed-point integers (hugeint twin),
    only the final chi2 is a float computed from two already-summed int64s
    with one identical IEEE op sequence on both engines."""
    from ..operators import survival

    t = _t(spark, sf_dir)
    d = survival.episode_durations(t, CFG, granularity_s=60)
    d = d.withColumn(
        "grp", (F.substring("tool", 2, 1).cast("int") % 2).cast("long")
    )
    out = survival.logrank_test(d, "dur_s", "event", "grp")
    return out.select(
        "n_times", "o1", "o2", "e1_cum_fp", "v_cum_fp",
        _r6x(F.col("chi2_raw"), "chi2"),
    )


_LOGRANK_CHI2 = (
    "case when v_cum_fp > 0 then"
    " (cast(o1 * 1000000000 - e1_cum_fp as double)"
    "  * cast(o1 * 1000000000 - e1_cum_fp as double))"
    " / (cast(v_cum_fp as double) * 1000000000.0) else 0.0 end"
)

O_LOGRANK_TEST = f"""{_W},
evt as (
  select conv_id, tool, turn_idx, ts,
    case when role = 'assistant' then 1 else 0 end as is_inv
  from transcripts
  where tool is not null and role in ('assistant', 'tool')
),
r as (
  select *,
    row_number() over (partition by conv_id, tool, is_inv order by turn_idx, ts) as rnk
  from evt
),
inv as (select conv_id, tool, rnk, ts as invoke_ts from r where is_inv = 1),
res as (select conv_id, tool, rnk, ts as result_ts from r where is_inv = 0),
ce as (select conv_id, max(epoch_us(ts)) as end_us from transcripts group by 1),
ep as (
  select i.tool,
    greatest(
      case when res.result_ts is not null
           then epoch_us(res.result_ts) - epoch_us(i.invoke_ts)
           else ce.end_us - epoch_us(i.invoke_ts) end, 0) as dur_us,
    case when res.result_ts is not null then 1 else 0 end as event
  from inv i
  left join res on res.conv_id = i.conv_id and res.tool = i.tool and res.rnk = i.rnk
  join ce on ce.conv_id = i.conv_id
),
dd as (
  select dur_us // 60000000 as t_s, event,
    cast(substr(tool, 2, 1) as int) % 2 as grp
  from ep
),
a as (
  select t_s, sum(event) as d, sum(1 - event) as c,
    sum(event * grp) as d1, sum((1 - event) * grp) as c1
  from dd group by 1
),
rk as (
  select t_s, d, d1,
    sum(d + c) over (order by t_s desc
      rows between unbounded preceding and current row) as n,
    sum(d1 + c1) over (order by t_s desc
      rows between unbounded preceding and current row) as n1
  from a
),
inc as (
  select d, d1,
    (cast(d as hugeint) * n1 * 1000000000) // n as e1_fp,
    case when n > 1 then
      (cast(d as hugeint) * n1 * (n - n1) * (n - d) * 1000000000)
        // (cast(n as hugeint) * n * (n - 1)) else 0 end as v_fp
  from rk where d > 0
),
tot as (
  select cast(count(*) as bigint) as n_times,
    cast(sum(d1) as bigint) as o1,
    cast(sum(d - d1) as bigint) as o2,
    cast(sum(e1_fp) as bigint) as e1_cum_fp,
    cast(sum(v_fp) as bigint) as v_cum_fp
  from inc
)
select n_times, o1, o2, e1_cum_fp, v_cum_fp,
  {_r6x_sql(_LOGRANK_CHI2)} as chi2
from tot
"""

QUERIES["logrank_test"] = q_logrank_test
ORACLES["logrank_test"] = O_LOGRANK_TEST


# --- Bradley-Terry preference-strength fit over tool "matches" ----------------------

def q_bradley_terry(spark, sf_dir):
    """Bradley-Terry MM fit (functions/stats.bradley_terry) over pairwise
    tool matches: within each conversation every tool pair plays one
    match, won by the tool with the larger exact cents total; the
    aggregated win counts feed 3 scaled-integer MM iterations (bounded
    single-task fast path; decimal(38,0) distributed twin) — the
    leaderboard fit behind RLHF preference-data audits."""
    from ..functions import stats as st

    t = _t(spark, sf_dir)
    ct = (
        t.filter(F.col("tool").isNotNull())
        .groupBy("conv_id", "tool")
        .agg(
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
            .alias("cents")
        )
    )
    a = ct.select(
        "conv_id", F.col("tool").alias("t_a"), F.col("cents").alias("c_a")
    )
    b = ct.select(
        "conv_id", F.col("tool").alias("t_b"), F.col("cents").alias("c_b")
    )
    m = (
        a.join(b, "conv_id")
        .filter(F.col("t_a") < F.col("t_b"))
        .filter(F.col("c_a") != F.col("c_b"))
    )
    pc = m.select(
        F.when(F.col("c_a") > F.col("c_b"), F.col("t_a"))
        .otherwise(F.col("t_b")).alias("winner"),
        F.when(F.col("c_a") > F.col("c_b"), F.col("t_b"))
        .otherwise(F.col("t_a")).alias("loser"),
    ).groupBy("winner", "loser").agg(F.count(F.lit(1)).cast("long").alias("w"))
    return st.bradley_terry(pc, iterations=3)


def _bradley_terry_oracle() -> str:
    it = """,
d{t} as (
  select pl, sum(t) as denom from (
    select np.i as pl,
      (cast(np.n as hugeint) * 1000000) // greatest(pi.p + pj.p, 1) as t
    from np join p{p} pi on pi.pl = np.i join p{p} pj on pj.pl = np.j
    union all
    select np.j as pl,
      (cast(np.n as hugeint) * 1000000) // greatest(pi.p + pj.p, 1) as t
    from np join p{p} pi on pi.pl = np.i join p{p} pj on pj.pl = np.j
  ) group by 1
),
p{t} as (
  select pl.pl,
    (cast(coalesce(wi.wins, 0) as hugeint) * 1000000 * 1000000)
      // greatest(coalesce(d{t}.denom, 1), 1) as p
  from players pl
  left join wi on wi.pl = pl.pl
  left join d{t} on d{t}.pl = pl.pl
)"""
    return f"""{_W},
ct as (
  select conv_id, tool, sum(cast(floor(value * 100 + 0.5) as bigint)) as cents
  from transcripts where tool is not null group by 1, 2
),
m as (
  select case when a.cents > b.cents then a.tool else b.tool end as winner,
         case when a.cents > b.cents then b.tool else a.tool end as loser
  from ct a join ct b on a.conv_id = b.conv_id and a.tool < b.tool
  where a.cents <> b.cents
),
pc as (select winner, loser, cast(count(*) as bigint) as w from m group by 1, 2),
np as (
  select least(winner, loser) as i, greatest(winner, loser) as j,
    sum(w) as n
  from pc group by 1, 2
),
players as (select i as pl from np union select j as pl from np),
wi as (select winner as pl, sum(w) as wins from pc group by 1),
nm as (
  select pl, sum(n) as n_matches from (
    select i as pl, n from np union all select j as pl, n from np
  ) group by 1
),
p0 as (select pl, cast(1000000 as hugeint) as p from players)
{it.format(t=1, p=0)}{it.format(t=2, p=1)}{it.format(t=3, p=2)}
select pl.pl,
  cast(coalesce(wi.wins, 0) as bigint) as wins,
  cast(coalesce(nm.n_matches, 0) as bigint) as n_matches,
  cast(p3.p as bigint) as p_micro
from players pl
left join wi on wi.pl = pl.pl
left join nm on nm.pl = pl.pl
join p3 on p3.pl = pl.pl
"""


QUERIES["bradley_terry"] = q_bradley_terry
ORACLES["bradley_terry"] = _bradley_terry_oracle()


# --- DSIR importance log-weights (target-domain data selection) ----------------------

def q_dsir_weights(spark, sf_dir):
    """DSIR importance resampling log-weights (functions/corpus.
    dsir_log_weights, Xie et al. NeurIPS 2023): every document scored by
    sum_w k_w * (ln p_en(w) - ln p_other(w)) under add-one-smoothed
    unigram models of the English vs non-English corpus slices over the
    pooled vocabulary — the published pretraining data-selection recipe,
    here with exact integer counts and the identical ln expression on
    both engines."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "is_target", (F.col("lang") == "en").cast("int")
    )
    out = corpus.dsir_log_weights(docs)
    return out.select(
        F.col("id").alias("doc_id"),
        "n_words",
        _r6x(F.col("log_weight"), "log_weight"),
    )


O_DSIR_WEIGHTS = f"""
with {_WORDS_CTE},
ww as (select doc_id, unnest(words) as word from w),
tgt as (
  select doc_id, case when lang = 'en' then 1 else 0 end as t from documents
),
wt as (select ww.doc_id, word, t from ww join tgt using (doc_id)),
wc as (select word, sum(t) as c_t, sum(1 - t) as c_s from wt group by word),
tot as (
  select cast(sum(c_t) as double) as n_t,
    cast(sum(c_s) as double) as n_s,
    cast(count(*) as double) as n_vocab
  from wc
),
dw as (select doc_id, word, count(*) as k from ww group by 1, 2),
s as (
  select dw.doc_id, dw.k,
    ln((wc.c_t + 1.0) / (tot.n_t + tot.n_vocab))
      - ln((wc.c_s + 1.0) / (tot.n_s + tot.n_vocab)) as lr
  from dw join wc using (word) cross join tot
)
select doc_id,
  cast(sum(k) as bigint) as n_words,
  floor(sum(k * lr) * 1000000.0 + 0.5) / 1000000.0 as log_weight
from s group by doc_id
"""

QUERIES["dsir_weights"] = q_dsir_weights
ORACLES["dsir_weights"] = O_DSIR_WEIGHTS


# --- fixed-round k-core peel over the word-adjacency graph ---------------------------

def q_kcore_peel(spark, sf_dir):
    """3-round k-core peel (functions/graph.kcore_peel, k=3) over the
    pruned word-adjacency graph (canonical consecutive-word pairs seen
    >= 3 times): per word, its initial degree and the 1-indexed round it
    was peeled (0 = in the surviving core) — the coreness-style
    vocabulary-curation signal, exact integer set arithmetic on both
    engines. Spark builds the edge list; the peel finishes on the
    driver in Python integers (one bounded collect)."""
    from ..functions import graph

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    edges = graph.word_adjacency_edges(docs, min_count=3)
    return graph.kcore_peel(edges, k=3, rounds=3)


def _kcore_oracle(k: int = 3, min_count: int = 3) -> str:
    rnd = """,
e{t} as (
  select a, b from e{p}
  where a in (select node from s{t}) and b in (select node from s{t})
),
deg{t} as (
  select s{t}.node, cast(coalesce(c.deg, 0) as bigint) as deg
  from s{t} left join (
    select node, count(*) as deg from (
      select a as node from e{t} union all select b from e{t}
    ) group by 1
  ) c using (node)
),
s{n} as (select node from deg{t} where deg >= {k})"""
    return f"""
with d as (
  select string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') as w
  from documents
),
tr as (
  select unnest(w[1:len(w)-1]) as x, unnest(w[2:len(w)]) as y from d
),
e0 as (
  select least(x, y) as a, greatest(x, y) as b, count(*) as w
  from tr where x <> y group by 1, 2
),
e as (select a, b from e0 where w >= {min_count}),
deg0 as (
  select node, cast(count(*) as bigint) as deg from (
    select a as node from e union all select b from e
  ) group by 1
),
s1 as (select node from deg0 where deg >= {k})
{rnd.format(t=1, p='', n=2, k=k)}
{rnd.format(t=2, p=1, n=3, k=k)}
select deg0.node, deg0.deg as deg0,
  cast(case
    when deg0.node not in (select node from s1) then 1
    when deg0.node not in (select node from s2) then 2
    when deg0.node not in (select node from s3) then 3
    else 0 end as int) as peel_round
from deg0
"""


QUERIES["kcore_peel"] = q_kcore_peel
ORACLES["kcore_peel"] = _kcore_oracle()


# --- Cochran-Armitage trend test (error rate across value deciles) -------------------

def q_cochran_armitage(spark, sf_dir):
    """Cochran-Armitage trend test (functions/stats.
    cochran_armitage_trend): does the error rate trend with the order
    value band (exact cents div 2500, capped at score 9)? All moments
    are exact decimal(38,0) integers; the z^2 statistic is one identical
    IEEE division of two already-exact big integers on both engines."""
    from ..functions.stats import cochran_armitage_trend

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    scored = ev.select(
        F.expr(
            "least(cast(floor(value * 100 + 0.5) as bigint) div 2500, 9)"
        ).alias("band"),
        (F.col("event_type") == "error").cast("int").alias("is_err"),
    )
    out = cochran_armitage_trend(scored, "band", "is_err")
    return out.select(
        "n_groups", "n_total", "x_total", "t_stat", "s1", "s2",
        _r6x(F.col("z2_raw"), "z2"),
    )


_CA_Z2 = (
    "case when cast(x_total as hugeint) * (n_total - x_total)"
    " * (cast(n_total as hugeint) * s2 - cast(s1 as hugeint) * s1) > 0 then"
    " cast((cast(t_stat as hugeint) * n_total - cast(x_total as hugeint) * s1)"
    "      * (cast(t_stat as hugeint) * n_total - cast(x_total as hugeint) * s1)"
    "      * (n_total - 1) as double)"
    " / cast(cast(x_total as hugeint) * (n_total - x_total)"
    "        * (cast(n_total as hugeint) * s2 - cast(s1 as hugeint) * s1)"
    "        as double)"
    " else 0.0 end"
)

O_COCHRAN_ARMITAGE = f"""
with cells as (
  select least(cast(floor(value * 100 + 0.5) as bigint) // 2500, 9) as g,
    cast(count(*) as bigint) as n_i,
    cast(sum(case when event_type = 'error' then 1 else 0 end) as bigint) as r_i
  from events group by 1
),
tot as (
  select cast(count(*) as bigint) as n_groups,
    cast(sum(n_i) as bigint) as n_total,
    cast(sum(r_i) as bigint) as x_total,
    cast(sum(g * r_i) as bigint) as t_stat,
    cast(sum(g * n_i) as bigint) as s1,
    cast(sum(g * g * n_i) as bigint) as s2
  from cells
)
select n_groups, n_total, x_total, t_stat, s1, s2,
  {_r6x_sql(_CA_Z2)} as z2
from tot
"""

QUERIES["cochran_armitage"] = q_cochran_armitage
ORACLES["cochran_armitage"] = O_COCHRAN_ARMITAGE


# --- Pk segmentation quality: topic boundaries vs role-switch reference --------------

def q_segmentation_pk(spark, sf_dir):
    """Pk segmentation metric (functions/evalmetrics.segmentation_pk,
    Beeferman et al. 1999) grading the TextTiling topic boundaries
    against the role-switch reference segmentation, window k=3: exact
    integer window counts, one IEEE division for the rate."""
    from pyspark.sql import Window
    from ..functions.evalmetrics import segmentation_pk
    from ..operators.sequence import topic_boundaries

    t = _t(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    base = t.select(
        "conv_id", "turn_idx",
        F.when(
            F.lag("role").over(w).isNotNull()
            & (F.col("role") != F.lag("role").over(w)),
            1,
        ).otherwise(0).alias("ref_b"),
    )
    tb = topic_boundaries(t, k=2, boundary_ppm=150_000).select(
        "conv_id",
        F.col("boundary_idx").cast("int").alias("turn_idx"),
        F.col("is_boundary").alias("pred_b0"),
    )
    pr = base.join(tb, ["conv_id", "turn_idx"], "left").withColumn(
        "pred_b", F.coalesce("pred_b0", F.lit(0))
    )
    out = segmentation_pk(pr, k=3)
    return out.select(
        "n_windows", "n_disagree", _r6x(F.col("pk_raw"), "pk")
    )


_TB_CTES = O_TOPIC_BOUNDARIES[: O_TOPIC_BOUNDARIES.rindex("select")].rstrip().rstrip(",")
_TB_FINAL = O_TOPIC_BOUNDARIES[O_TOPIC_BOUNDARIES.rindex("select"):]

O_SEGMENTATION_PK = _TB_CTES + f""",
tb as (
{_TB_FINAL}),
pt as (
  select t.conv_id, t.turn_idx, t.role,
    coalesce(tb.is_boundary, 0) as pred_b
  from transcripts t left join tb
    on tb.conv_id = t.conv_id and tb.boundary_idx = t.turn_idx
),
pr as (
  select conv_id, turn_idx, pred_b,
    case when lag(role) over (partition by conv_id order by turn_idx) is not null
          and role <> lag(role) over (partition by conv_id order by turn_idx)
         then 1 else 0 end as ref_b
  from pt
),
sg as (
  select conv_id, turn_idx,
    sum(pred_b) over (partition by conv_id order by turn_idx
      rows between unbounded preceding and current row) as seg_p,
    sum(ref_b) over (partition by conv_id order by turn_idx
      rows between unbounded preceding and current row) as seg_r
  from pr
),
ld as (
  select conv_id,
    seg_p = lead(seg_p, 3) over (partition by conv_id order by turn_idx) as same_p,
    seg_r = lead(seg_r, 3) over (partition by conv_id order by turn_idx) as same_r
  from sg
),
pkagg as (
  select cast(count(*) as bigint) as n_windows,
    cast(sum(case when same_p <> same_r then 1 else 0 end) as bigint) as n_disagree
  from ld where same_p is not null
)
select n_windows, n_disagree,
  {_r6x_sql("case when n_windows > 0 then cast(n_disagree as double) / cast(n_windows as double) else 0.0 end")} as pk
from pkagg
"""

QUERIES["segmentation_pk"] = q_segmentation_pk
ORACLES["segmentation_pk"] = O_SEGMENTATION_PK


# --- diagonal-Mahalanobis embedding outlier scores -----------------------------------

def q_embedding_outliers(spark, sf_dir):
    """Per-vector diagonal-Mahalanobis outlier score (operators/
    similarity.embedding_outliers): micro-quantized lanes, the n^2
    cancellation makes every lane term a ratio of exact integers —
    fixed-point (n*q - s)^2 * 1e6 div (n*s2 - s^2) in decimal(38,0),
    summed as integers over lanes. The cheap embedding-space anomaly
    gate next to the covariance/PCA stage."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return similarity.embedding_outliers(emb).select(
        F.col("id").alias("vec_id"), "n_lanes", "score_fp"
    )


O_EMBEDDING_OUTLIERS = """
with l as (
  select vec_id,
    generate_subscripts(embedding, 1) - 1 as i,
    cast(floor(cast(unnest(embedding) as double) * 1000000.0 + 0.5) as bigint) as q
  from embeddings
),
st as (
  select i, cast(count(*) as bigint) as n, cast(sum(q) as bigint) as s,
    sum(cast(q as hugeint) * q) as s2
  from l group by 1
),
t as (
  select l.vec_id,
    case when cast(n as hugeint) * s2 - cast(s as hugeint) * s > 0 then
      (cast(n as hugeint) * q - s) * (cast(n as hugeint) * q - s) * 1000000
        // (cast(n as hugeint) * s2 - cast(s as hugeint) * s)
    else 0 end as t_fp
  from l join st using (i)
)
select vec_id, cast(count(*) as bigint) as n_lanes,
  cast(sum(t_fp) as bigint) as score_fp
from t group by 1
"""

QUERIES["embedding_outliers"] = q_embedding_outliers
ORACLES["embedding_outliers"] = O_EMBEDDING_OUTLIERS


# --- Wilcoxon signed-rank: paired pre/post spend per user ----------------------------

def q_wilcoxon_signed(spark, sf_dir):
    """Wilcoxon signed-rank test (functions/stats.wilcoxon_signed_rank)
    on per-user pre/post spend cents around the global integer-midpoint
    timestamp (the mcnemar split, continuous-metric version): doubled
    midranks keep ties exact int64; z^2 is one IEEE division of two
    exact decimal(38,0) integers."""
    from ..functions.stats import wilcoxon_signed_rank

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    b = ev.select(
        F.col("user_id").alias("uid"),
        ordering.epoch_us("ts").alias("us"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("c"),
    )
    rng = b.agg(F.expr("(min(us) + max(us)) div 2").alias("cut"))
    pu = b.crossJoin(F.broadcast(rng)).groupBy("uid").agg(
        F.sum(F.when(F.col("us") < F.col("cut"), F.col("c")).otherwise(0))
        .alias("pre"),
        F.sum(F.when(F.col("us") >= F.col("cut"), F.col("c")).otherwise(0))
        .alias("post"),
    )
    out = wilcoxon_signed_rank(
        pu.select((F.col("post") - F.col("pre")).alias("d"))
    )
    return out.select(
        "n_pairs", "w2_pos", "e2", "tie_term", _r6x(F.col("z2_raw"), "z2")
    )


_WSR_Z2 = (
    "case when cast(2 as hugeint) * n_pairs * (n_pairs + 1)"
    " * (2 * n_pairs + 1) - tie_term > 0 then"
    " cast(cast(w2_pos - e2 as hugeint) * (w2_pos - e2) * 12 as double)"
    " / cast(cast(2 as hugeint) * n_pairs * (n_pairs + 1)"
    "        * (2 * n_pairs + 1) - tie_term as double)"
    " else 0.0 end"
)

O_WILCOXON_SIGNED = f"""
with b as (
  select user_id as uid, epoch_us(ts) as us,
    cast(floor(value * 100 + 0.5) as bigint) as c
  from events
),
rng as (select (min(us) + max(us)) // 2 as cut from b),
pu as (
  select uid,
    sum(case when us < rng.cut then c else 0 end) as pre,
    sum(case when us >= rng.cut then c else 0 end) as post
  from b, rng group by uid
),
dd as (select post - pre as d from pu where post - pre <> 0),
g as (
  select abs(d) as ad, count(*) as cnt,
    sum(case when d > 0 then 1 else 0 end) as cnt_pos
  from dd group by 1
),
r as (
  select cnt, cnt_pos,
    2 * (sum(cnt) over (order by ad
      rows between unbounded preceding and current row) - cnt)
      + cnt + 1 as two_midrank
  from g
),
f as (
  select cast(sum(cnt) as bigint) as n_pairs,
    cast(sum(cnt_pos * two_midrank) as bigint) as w2_pos,
    cast(sum(cnt * cnt * cnt - cnt) as bigint) as tie_term
  from r
),
ff as (
  select n_pairs, w2_pos,
    cast(n_pairs * (n_pairs + 1) // 2 as bigint) as e2, tie_term
  from f
)
select n_pairs, w2_pos, e2, tie_term,
  {_r6x_sql(_WSR_Z2)} as z2
from ff
"""

QUERIES["wilcoxon_signed"] = q_wilcoxon_signed
ORACLES["wilcoxon_signed"] = O_WILCOXON_SIGNED


# --- Kruskal-Wallis sufficient statistics across event types -------------------------

def q_kruskal_wallis(spark, sf_dir):
    """Kruskal-Wallis k-group rank statistics (functions/stats.
    kruskal_wallis) over per-(user, event_type) spend cents: pooled
    doubled midranks, per-group counts and doubled rank sums, global tie
    term — all exact int64, the H statistic derivable by any consumer."""
    from ..functions.stats import kruskal_wallis

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    obs = ev.groupBy(
        F.col("user_id").alias("uid"), F.col("event_type").alias("grp")
    ).agg(
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
        .alias("c")
    )
    return kruskal_wallis(obs, "grp", "c")


O_KRUSKAL_WALLIS = """
with obs as (
  select user_id as uid, event_type as grp,
    sum(cast(floor(value * 100 + 0.5) as bigint)) as c
  from events group by 1, 2
),
gc as (select c, grp, count(*) as cnt_g from obs group by 1, 2),
tot as (select c, count(*) as cnt from obs group by 1),
ranks as (
  select c,
    2 * (sum(cnt) over (order by c
      rows between unbounded preceding and current row) - cnt)
      + cnt + 1 as two_midrank
  from tot
),
pg as (
  select grp, cast(sum(cnt_g) as bigint) as n_g,
    cast(sum(cnt_g * two_midrank) as bigint) as r2_sum
  from gc join ranks using (c) group by grp
),
t as (
  select cast(sum(cnt) as bigint) as n_total,
    cast(sum(cnt * cnt * cnt - cnt) as bigint) as tie_term
  from tot
)
select grp, n_g, r2_sum, n_total, tie_term from pg, t
"""

QUERIES["kruskal_wallis"] = q_kruskal_wallis
ORACLES["kruskal_wallis"] = O_KRUSKAL_WALLIS


# --- lagged cross-correlation: daily purchases vs errors -----------------------------

def q_cross_correlation(spark, sf_dir):
    """Lead/lag detector (functions/stats.cross_correlation): exact
    integer moments of daily purchase counts vs error counts at lags
    0..7; sqrt never crosses engines — the signed r^2 is one IEEE
    division of exact decimal(38,0) integers."""
    from ..functions.stats import cross_correlation

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    daily = ev.groupBy(
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("d")
    ).agg(
        F.sum((F.col("event_type") == "purchase").cast("int"))
        .cast("long").alias("x"),
        F.sum((F.col("event_type") == "error").cast("int"))
        .cast("long").alias("y"),
    )
    out = cross_correlation(daily, "d", "x", "y", max_lag=7)
    return out.select(
        "lag", "n", "sx", "sy", "sxy", "sxx", "syy",
        _r6x(F.col("r2_signed_raw"), "r2_signed"),
    )


_CCF_R2 = (
    "case when cast(n as hugeint) * sxx - cast(sx as hugeint) * sx > 0"
    " and cast(n as hugeint) * syy - cast(sy as hugeint) * sy > 0 then"
    " (case when cast(n as hugeint) * sxy - cast(sx as hugeint) * sy > 0 then 1.0"
    "       when cast(n as hugeint) * sxy - cast(sx as hugeint) * sy < 0 then -1.0"
    "       else 0.0 end)"
    " * cast((cast(n as hugeint) * sxy - cast(sx as hugeint) * sy)"
    "        * (cast(n as hugeint) * sxy - cast(sx as hugeint) * sy) as double)"
    " / cast((cast(n as hugeint) * sxx - cast(sx as hugeint) * sx)"
    "        * (cast(n as hugeint) * syy - cast(sy as hugeint) * sy) as double)"
    " else 0.0 end"
)

O_CROSS_CORRELATION = f"""
with daily as (
  select epoch_us(ts) // 86400000000 as t,
    cast(sum(case when event_type = 'purchase' then 1 else 0 end) as bigint) as x,
    cast(sum(case when event_type = 'error' then 1 else 0 end) as bigint) as y
  from events group by 1
),
lg as (select cast(range as bigint) as lag from range(0, 8)),
j as (
  select l.lag, a.x, b.y
  from daily a cross join lg l join daily b on b.t = a.t + l.lag
),
m as (
  select lag, cast(count(*) as bigint) as n,
    cast(sum(x) as bigint) as sx, cast(sum(y) as bigint) as sy,
    cast(sum(cast(x as hugeint) * y) as bigint) as sxy,
    cast(sum(cast(x as hugeint) * x) as bigint) as sxx,
    cast(sum(cast(y as hugeint) * y) as bigint) as syy
  from j group by 1
)
select cast(lag as int) as lag, n, sx, sy, sxy, sxx, syy,
  {_r6x_sql(_CCF_R2)} as r2_signed
from m
"""

QUERIES["cross_correlation"] = q_cross_correlation
ORACLES["cross_correlation"] = O_CROSS_CORRELATION


# --- signed squared Cohen's d between md5 arms ----------------------------------------

def q_effect_size(spark, sf_dir):
    """Practical-significance companion to ab_ztest (functions/stats.
    effect_size_d2): signed squared Cohen's d on per-user spend cents
    between the md5 arms — exact integer/decimal(38,0) moments, the
    pooled-variance n(n-1) factors cancelled symbolically, one IEEE
    division; |d| = sqrt(|d2|) downstream."""
    from ..functions.stats import effect_size_d2

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = effect_size_d2(ev, "user_id")
    return out.select(
        "n_a", "n_b", "s_a", "s_b", "ss_a", "ss_b",
        _r6x(F.col("d2_signed_raw"), "d2_signed"),
    )


_ES_MD = "(cast(s_a as hugeint) * n_b - cast(s_b as hugeint) * n_a)"
_ES_POOL = (
    "(cast(n_b as hugeint) * (cast(n_a as hugeint) * ss_a"
    "   - cast(s_a as hugeint) * s_a)"
    " + cast(n_a as hugeint) * (cast(n_b as hugeint) * ss_b"
    "   - cast(s_b as hugeint) * s_b))"
)
_ES_D2 = (
    f"case when {_ES_POOL} > 0 and n_a + n_b > 2 then"
    f" (case when {_ES_MD} > 0 then 1.0 when {_ES_MD} < 0 then -1.0 else 0.0 end)"
    f" * cast({_ES_MD} * {_ES_MD} * (n_a + n_b - 2) as double)"
    f" / cast(cast(n_a as hugeint) * n_b * {_ES_POOL} as double)"
    " else 0.0 end"
)

O_EFFECT_SIZE = f"""
with pu as (
  select user_id as uid,
    cast(sum(cast(floor(value * 100.0 + 0.5) as bigint)) as bigint) as c
  from events group by user_id
),
arm as (
  select c, cast(({_HEX7}) % 2 as int) as arm
  from (select c, md5(cast(uid as varchar)) as h from pu)
),
m as (
  select
    cast(sum(case when arm = 0 then 1 else 0 end) as bigint) as n_a,
    cast(sum(case when arm = 1 then 1 else 0 end) as bigint) as n_b,
    cast(sum(case when arm = 0 then c else 0 end) as bigint) as s_a,
    cast(sum(case when arm = 1 then c else 0 end) as bigint) as s_b,
    sum(case when arm = 0 then cast(c as hugeint) * c else 0 end) as ss_a,
    sum(case when arm = 1 then cast(c as hugeint) * c else 0 end) as ss_b
  from arm
)
select n_a, n_b, s_a, s_b,
  cast(ss_a as varchar) as ss_a, cast(ss_b as varchar) as ss_b,
  {_r6x_sql(_ES_D2)} as d2_signed
from m
"""

QUERIES["effect_size"] = q_effect_size
ORACLES["effect_size"] = O_EFFECT_SIZE


# --- Cramér's V^2: event-type x day-of-week association --------------------------------

def q_cramers_v(spark, sf_dir):
    """Squared Cramér's V (functions/stats.cramers_v2) between event
    type and day-of-week: per-cell chi-square contributions as exact
    fixed-point decimal(38,0) integers summed as integers, V^2 one
    identical IEEE expression over the summed int64."""
    from ..functions.stats import cramers_v2

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    o = ev.select(
        "event_type",
        F.expr(
            "(unix_micros(cast(ts as timestamp)) div 86400000000) % 7"
        ).alias("dow"),
    )
    out = cramers_v2(o, "event_type", "dow")
    return out.select(
        "n_rows", "n_cols", "n_total", "chi2_fp", _r6x(F.col("v2_raw"), "v2")
    )


O_CRAMERS_V = f"""
with o as (
  select event_type as a, (epoch_us(ts) // 86400000000) % 7 as b
  from events
),
cells as (select a, b, cast(count(*) as bigint) as o from o group by 1, 2),
rt as (select a, cast(sum(o) as bigint) as rt from cells group by 1),
ct as (select b, cast(sum(o) as bigint) as ct from cells group by 1),
tot as (
  select cast(sum(o) as bigint) as n_total,
    cast(count(distinct a) as bigint) as n_rows,
    cast(count(distinct b) as bigint) as n_cols
  from cells
),
terms as (
  select tot.n_total, tot.n_rows, tot.n_cols,
    cast((cast(cells.o as hugeint) * tot.n_total
            - cast(rt.rt as hugeint) * ct.ct)
         * (cast(cells.o as hugeint) * tot.n_total
            - cast(rt.rt as hugeint) * ct.ct) * 1000000
         // (cast(tot.n_total as hugeint) * rt.rt * ct.ct) as bigint) as t_fp,
    cast(rt.rt as hugeint) * ct.ct as rc
  from cells join rt using (a) join ct using (b) cross join tot
),
agg as (
  select n_rows, n_cols, n_total,
    cast(sum(t_fp)
         + (cast(n_total as hugeint) * n_total - sum(rc)) * 1000000 // n_total
         as bigint) as chi2_fp
  from terms group by 1, 2, 3
)
select n_rows, n_cols, n_total, chi2_fp,
  {_r6x_sql(
      "case when least(n_rows - 1, n_cols - 1) > 0 and n_total > 0 then"
      " cast(chi2_fp as double) / 1000000.0"
      " / cast(n_total * least(n_rows - 1, n_cols - 1) as double)"
      " else 0.0 end"
  )} as v2
from agg
"""

QUERIES["cramers_v"] = q_cramers_v
ORACLES["cramers_v"] = O_CRAMERS_V


# --- logistic quality probe: hard-sigmoid GD classifier over documents ------------------

_LP_RAW = """
  select doc_id, cast(n_chars >= 300 as int) as y,
    cast(((length(text) - length(replace(text, 'data', ''))) {d} 4 * 1000000)
         {d} (length(text) - length(replace(text, ' ', '')) + 1) as {t}) as r1,
    cast(((length(text) - length(replace(text, 'query', ''))) {d} 5 * 1000000)
         {d} (length(text) - length(replace(text, ' ', '')) + 1) as {t}) as r2,
    cast(((length(text) - length(replace(text, 'spark', ''))) {d} 5 * 1000000)
         {d} (length(text) - length(replace(text, ' ', '')) + 1) as {t}) as r3,
    cast(least(length(text), 2000) * 500 as {t}) as r4
  from documents"""


def q_logistic_probe(spark, sf_dir):
    """Linear quality-probe classifier (functions/linear.
    logistic_probe_fit_predict): exact integer standardization + 6
    full-batch hard-sigmoid GD iterations over integer word-rate/length
    features, predicting the long-document class — the fasttext-style
    "reference-class filter" every curation pipeline trains (acc 0.996
    at sf0.01). Training is 8 aggregate-only scans (2 standardization +
    6 gradient, each one tiny collected row); scoring is a shuffle-free
    projection with weights/means/scales as plan literals. Every op is
    integer mul/add/trunc-div, so the unrolled DuckDB hugeint twin
    reproduces each score bit-for-bit."""
    from ..functions.linear import logistic_probe_fit_predict

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    f = docs.selectExpr(
        "doc_id",
        "cast(n_chars >= 300 as int) as y",
        "cast(((length(text) - length(replace(text, 'data', ''))) div 4 * 1000000)"
        " div (length(text) - length(replace(text, ' ', '')) + 1) as long) as r1",
        "cast(((length(text) - length(replace(text, 'query', ''))) div 5 * 1000000)"
        " div (length(text) - length(replace(text, ' ', '')) + 1) as long) as r2",
        "cast(((length(text) - length(replace(text, 'spark', ''))) div 5 * 1000000)"
        " div (length(text) - length(replace(text, ' ', '')) + 1) as long) as r3",
        "cast(least(length(text), 2000) * 500 as long) as r4",
    )
    out = logistic_probe_fit_predict(f, "y", ["r1", "r2", "r3", "r4"])
    return out.select(
        "doc_id",
        F.col("y").cast("int").alias("y"),
        F.col("p_micro").cast("long").alias("p_micro"),
        F.col("pred").cast("int").alias("pred"),
    )


def _lp_oracle(iters: int = 6, lrn: int = 1) -> str:
    """Unrolled DuckDB twin of the 6-iteration standardized GD fit —
    same integer arithmetic (hugeint, // trunc division) CTE by CTE."""
    xs = [f"x{j}" for j in range(5)]
    gsum = lambda e: ", ".join(f"sum(({e}) * {x}) as g{j}" for j, x in enumerate(xs))
    margin = lambda w: " + ".join(f"{w}.w{j} * f.{x}" for j, x in enumerate(xs))
    p = lambda w: (
        f"least(greatest(500000 + ({margin(w)}) // 4000000000,"
        " cast(0 as hugeint)), cast(1000000 as hugeint))"
    )
    ctes = [
        "f0 as (" + _LP_RAW.format(d="//", t="hugeint") + ")",
        "mm as (select "
        + ", ".join(f"sum(r{i})//count(*) as m{i}" for i in range(1, 5))
        + " from f0)",
        "ss as (select "
        + ", ".join(
            f"greatest(sum(abs(r{i}-m{i}))//count(*),1) as s{i}" for i in range(1, 5)
        )
        + " from f0, mm)",
        "f as (select doc_id, y, cast(1000000 as hugeint) as x0, "
        + ", ".join(f"(r{i}-m{i})*1000000//s{i} as x{i}" for i in range(1, 5))
        + " from f0, mm, ss)",
        "nn as (select cast(count(*) as hugeint) as n from f)",
        f"g1 as (select {gsum('cast(500000 - y * 1000000 as hugeint)')} from f)",
        "w1 as (select "
        + ", ".join(f"0 - (g1.g{j} * {lrn}) // (nn.n * 1000) as w{j}" for j in range(5))
        + " from g1, nn)",
    ]
    for it in range(2, iters + 1):
        ctes.append(
            f"g{it} as (select {gsum(p(f'w{it-1}') + ' - y * 1000000')}"
            f" from f, w{it-1})"
        )
        ctes.append(
            f"w{it} as (select "
            + ", ".join(
                f"w{it-1}.w{j} - (g{it}.g{j} * {lrn}) // (nn.n * 1000) as w{j}"
                for j in range(5)
            )
            + f" from w{it-1}, g{it}, nn)"
        )
    return (
        "with "
        + ",\n".join(ctes)
        + f"""
select f.doc_id, f.y, cast({p(f'w{iters}')} as bigint) as p_micro,
  cast({p(f'w{iters}')} >= 500000 as int) as pred from f, w{iters}"""
    )


O_LOGISTIC_PROBE = _lp_oracle()

QUERIES["logistic_probe"] = q_logistic_probe
ORACLES["logistic_probe"] = O_LOGISTIC_PROBE


# --- SFT loss-mask spans: per-turn packed-sequence slices + truncation ------------------

def q_sft_loss_spans(spark, sf_dir):
    """Per-turn SFT loss-mask spans (operators/forks.sft_loss_spans):
    whitespace token counts, cumulative packed-sequence offsets clipped
    to a 128-token truncation budget, 0/1 assistant loss mask, and the
    post-truncation loss-token count — the preprocessing step that sizes
    an SFT run. One window cascade on the shared per-conversation sort;
    all int64, no joins, no Python stages."""
    from ..operators.forks import sft_loss_spans

    t = transcripts_from_events(spark, sf_dir)
    return sft_loss_spans(t, CFG, budget=128).select(
        "conv_id", "turn_idx", "role", "n_tokens",
        "span_start", "span_end", "mask", "loss_tokens",
    )


O_SFT_LOSS_SPANS = f"""{_W},
t as (
  select conv_id, turn_idx, ts, role,
    cast(len(regexp_split_to_array(trim(text), '\\s+')) as bigint) as n_tokens
  from transcripts
),
o as (
  select conv_id, turn_idx, role, n_tokens,
    coalesce(sum(n_tokens) over ({_OWIN}
      rows between unbounded preceding and 1 preceding), 0) as off
  from t
)
select conv_id, turn_idx, role, n_tokens,
  cast(least(off, 128) as bigint) as span_start,
  cast(least(off + n_tokens, 128) as bigint) as span_end,
  cast(role = 'assistant' as int) as mask,
  cast(case when role = 'assistant'
       then least(off + n_tokens, 128) - least(off, 128) else 0 end as bigint)
    as loss_tokens
from o
"""

QUERIES["sft_loss_spans"] = q_sft_loss_spans
ORACLES["sft_loss_spans"] = O_SFT_LOSS_SPANS


# --- label propagation communities over the word-adjacency graph ------------------------

def q_label_propagation(spark, sf_dir):
    """3-round synchronous label propagation (functions/graph.
    label_propagation) over the pruned word-adjacency graph: each word's
    community after three deterministic max-weight / min-label adoption
    rounds — the community-detection leg of the graph-curation family
    (pagerank / HITS / triangles / k-core). Spark builds the edge list;
    the rounds finish on the driver in Python integers (one bounded
    collect)."""
    from ..functions import graph

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    edges = graph.word_adjacency_edges(docs, min_count=3)
    return graph.label_propagation(edges, rounds=3)


def _lpa_cte(rounds: int = 3, min_count: int = 3) -> str:
    """WITH-clause prefix shared by label_propagation and modularity:
    builds the pruned word-adjacency directed edge list ``e`` and the
    round-``rounds`` label frame ``l{rounds}``."""
    rnd = """,
l{n} as (
  select src as node, lab as community from (
    select e.src, l.community as lab, sum(e.w) as s,
      row_number() over (partition by e.src
                         order by sum(e.w) desc, l.community asc) as rn
    from e join l{p} l on e.dst = l.node
    group by e.src, l.community
  ) where rn = 1
)"""
    parts = [
        f"""
with d as (
  select string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') as w
  from documents
),
tr as (
  select unnest(w[1:len(w)-1]) as x, unnest(w[2:len(w)]) as y from d
),
e0 as (
  select least(x, y) as a, greatest(x, y) as b, count(*) as w
  from tr where x <> y group by 1, 2
),
eu as (select a, b, w from e0 where w >= {min_count}),
e as (
  select a as src, b as dst, w from eu
  union all
  select b as src, a as dst, w from eu
),
l0 as (select distinct src as node, src as community from e)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(rnd.format(n=r, p=r - 1))
    return "".join(parts)


def _lpa_oracle(rounds: int = 3, min_count: int = 3) -> str:
    return _lpa_cte(rounds, min_count) + f"\nselect node, community from l{rounds}"


QUERIES["label_propagation"] = q_label_propagation
ORACLES["label_propagation"] = _lpa_oracle()


# --- ROC curve points: exact per-threshold confusion table -------------------------------

def q_roc_curve(spark, sf_dir):
    """Exact ROC curve table (functions/evalmetrics.roc_curve_points):
    one row per distinct quantized score with cumulative TP/FP state and
    TPR/FPR/precision in exact ppm — threshold selection for corpus
    quality gates without re-scoring. Corpus collapses to |distinct
    scores| rows map-side; the ordered pass runs only over that frame."""
    from ..functions.evalmetrics import roc_curve_points

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scored = docs.selectExpr(
        "cast(n_chars div 16 as long) as score",
        "cast(contains(text, 'data') as int) as y",
    )
    return roc_curve_points(scored, "score", "y").select(
        "score", "n_at", "pos_at", "cum_pos", "cum_neg",
        "tpr_ppm", "fpr_ppm", "precision_ppm",
    )


O_ROC_CURVE = """
with s as (
  select cast(n_chars // 16 as bigint) as score,
    cast(contains(text, 'data') as int) as y
  from documents
),
g as (
  select score, cast(count(*) as bigint) as n_at,
    cast(sum(y) as bigint) as pos_at
  from s group by score
),
c as (
  select score, n_at, pos_at,
    sum(pos_at) over (order by score desc
      rows between unbounded preceding and current row) as cum_pos,
    sum(n_at - pos_at) over (order by score desc
      rows between unbounded preceding and current row) as cum_neg,
    sum(pos_at) over () as p, sum(n_at - pos_at) over () as n
  from g
)
select score, n_at, pos_at,
  cast(cum_pos as bigint) as cum_pos, cast(cum_neg as bigint) as cum_neg,
  cast(case when p > 0 then (cum_pos * 1000000) // p else 0 end as bigint) as tpr_ppm,
  cast(case when n > 0 then (cum_neg * 1000000) // n else 0 end as bigint) as fpr_ppm,
  cast((cum_pos * 1000000) // (cum_pos + cum_neg) as bigint) as precision_ppm
from c
"""

QUERIES["roc_curve"] = q_roc_curve
ORACLES["roc_curve"] = O_ROC_CURVE


# --- Brier decomposition: reliability / resolution / uncertainty ------------------------

def q_brier_decomp(spark, sf_dir):
    """Murphy Brier-score decomposition (functions/evalmetrics.
    brier_decomposition) of the deterministic length-probability score
    against the long-document class: exact integer micro^2 reliability /
    resolution / uncertainty over 10 equal-width bins — ONE bin-keyed
    partial-aggregable groupBy plus a <=10-row final aggregate."""
    from ..functions.evalmetrics import brier_decomposition

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scored = docs.selectExpr(
        "cast(least(length(text), 2000) * 500 as long) as p_micro",
        "cast(n_chars >= 300 as int) as y",
    )
    return brier_decomposition(scored, "p_micro", "y", n_bins=10)


O_BRIER_DECOMP = """
with s as (
  select cast(least(length(text), 2000) * 500 as hugeint) as p,
    cast(n_chars >= 300 as int) as y
  from documents
),
g as (
  select least(p // 100000, 9) as b,
    cast(count(*) as hugeint) as n_k,
    sum(p) as sp, cast(sum(y) as hugeint) as sy,
    sum((p - y * 1000000) * (p - y * 1000000)) as ssq
  from s group by 1
),
per as (
  select n_k, sy, ssq,
    n_k * ((sp // n_k) - ((sy * 1000000) // n_k))
        * ((sp // n_k) - ((sy * 1000000) // n_k)) as rel_k,
    (sy * 1000000) // n_k as ybar
  from g
),
tot as (
  select sum(n_k) as n, sum(ssq) as t_ssq, sum(rel_k) as t_rel,
    sum(sy) as t_sy, sum(n_k * ybar) as t_nybar,
    sum(n_k * ybar * ybar) as t_nybar2
  from per
)
select cast(n as bigint) as n,
  cast(t_ssq // n as bigint) as brier_micro2,
  cast(t_rel // n as bigint) as reliability_micro2,
  cast((t_nybar2 - 2 * ((t_sy * 1000000) // n) * t_nybar
        + n * ((t_sy * 1000000) // n) * ((t_sy * 1000000) // n)) // n
       as bigint) as resolution_micro2,
  cast(((t_sy * 1000000) // n) * (1000000 - (t_sy * 1000000) // n)
       as bigint) as uncertainty_micro2
from tot
"""

QUERIES["brier_decomp"] = q_brier_decomp
ORACLES["brier_decomp"] = O_BRIER_DECOMP


# --- l-diversity release audit over quasi-identifier groups -----------------------------

def q_l_diversity(spark, sf_dir):
    """Distinct l-diversity audit (functions/pii.l_diversity_audit) over
    (role, tool) quasi-identifier groups with conv_id as the sensitive
    attribute: per group its size, distinct-sensitive count, and the
    k>=5 / l>=3 gate flags — the homogeneity-attack companion to the
    k-anonymity release gate. One two-level aggregation, no sort/join."""
    from ..functions.pii import l_diversity_audit

    t = transcripts_from_events(spark, sf_dir).selectExpr(
        "role", "coalesce(tool, '-') as tool", "conv_id"
    )
    return l_diversity_audit(t, ["role", "tool"], "conv_id", k=5, l=3)


O_L_DIVERSITY = f"""{_W},
t as (select role, coalesce(tool, '-') as tool, conv_id from transcripts),
pre as (
  select role, tool, conv_id, count(*) as n from t group by 1, 2, 3
)
select role, tool,
  cast(sum(n) as bigint) as k_count,
  cast(count(*) as bigint) as l_distinct,
  cast(sum(n) >= 5 as int) as meets_k,
  cast(count(*) >= 3 as int) as meets_l
from pre group by role, tool
"""

QUERIES["l_diversity"] = q_l_diversity
ORACLES["l_diversity"] = O_L_DIVERSITY


# --- Kneser-Ney smoothed bigram model: exact rational-discount fixed point --------------

def q_kneser_ney(spark, sf_dir):
    """Kneser-Ney bigram probabilities (functions/corpus.
    kneser_ney_bigrams, d = 3/4): per corpus bigram type its count and
    KN-smoothed p(w|v) in exact micro units — continuation counts and
    context masses as groupBys of the bigram-type frame, the 1-row type
    total broadcast (BNLJ allowlist), three trunc divisions on
    non-negative decimal(38,0) operands identical in DuckDB hugeint."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus.kneser_ney_bigrams(docs).select("v", "w", "c_vw", "p_micro")


O_KNESER_NEY = f"""
with {_WORDS_CTE},
grams as (
  select unnest([array_to_string(words[i:i+1], ' ') for i in range(1, len(words))]) as gram
  from w
),
bi as (
  select string_split(gram, ' ')[1] as v, string_split(gram, ' ')[2] as w,
    cast(count(*) as hugeint) as c_vw
  from grams group by gram
),
bim as (
  select v, w, sum(c_vw) as c_vw from bi group by v, w
),
ctx as (
  select v, sum(c_vw) as c_v, cast(count(*) as hugeint) as n1p_v
  from bim group by v
),
cont as (
  select w, cast(count(*) as hugeint) as n1p_w from bim group by w
),
tot as (select cast(count(*) as hugeint) as t_types from bim)
select bim.v, bim.w, cast(bim.c_vw as bigint) as c_vw,
  cast(
    ((4 * bim.c_vw - 3) * 1000000) // (4 * ctx.c_v)
    + (((3 * ctx.n1p_v * 1000000) // (4 * ctx.c_v))
       * ((cont.n1p_w * 1000000) // tot.t_types)) // 1000000
  as bigint) as p_micro
from bim join ctx using (v) join cont using (w) cross join tot
"""

QUERIES["kneser_ney"] = q_kneser_ney
ORACLES["kneser_ney"] = O_KNESER_NEY


# --- Good-Turing count-of-counts smoothing table -----------------------------------------

def q_good_turing(spark, sf_dir):
    """Good-Turing count-of-counts (functions/corpus.good_turing_counts):
    per observed word frequency r, the number of types n_r and the
    Turing-adjusted estimate r* = (r+1)·N_{r+1}·1e6 div N_r — two
    partial-aggregable groupBys plus a self-join of the tiny frequency
    table on r+1; exact integer arithmetic throughout."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus.good_turing_counts(docs).select("r", "n_r", "gt_r_micro")


O_GOOD_TURING = f"""
with {_WORDS_CTE},
ww as (select unnest(words) as word from w),
wc as (select word, cast(count(*) as bigint) as cnt from ww group by word),
cc as (select cnt as r, cast(count(*) as bigint) as n_r from wc group by cnt)
select cc.r, cc.n_r,
  cast(coalesce(
    ((cc.r + 1) * cast(coalesce(nx.n_r, 0) as hugeint) * 1000000)
      // cast(cc.n_r as hugeint), 0) as bigint) as gt_r_micro
from cc left join cc nx on nx.r = cc.r + 1
"""

QUERIES["good_turing"] = q_good_turing
ORACLES["good_turing"] = O_GOOD_TURING


# --- dispersion index: Poisson vs bursty arrivals per event type -------------------------

def q_dispersion_index(spark, sf_dir):
    """Per-event-type index of dispersion (functions/stats.
    dispersion_index) of daily event counts: D = s²/x̄ — the
    overdispersion screen (Poisson D≈1 vs clumped D≫1) that picks the
    arrival model for capacity planning. Daily counts are one groupBy;
    the index is ONE partial-aggregable 3-moment aggregate with a single
    IEEE division of exact integers."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    daily = ev.groupBy(
        "event_type", F.to_date(F.col("ts").cast("timestamp")).alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    from ..functions.stats import dispersion_index

    return dispersion_index(daily, "event_type", "x").select(
        "event_type", "n", "mean_x", "dispersion"
    )


O_DISPERSION_INDEX = """
with daily as (
  select event_type, cast(ts as date) as d, cast(count(*) as hugeint) as x
  from events group by 1, 2
),
g as (
  select event_type, cast(count(*) as bigint) as n,
    sum(x) as s, sum(x * x) as q
  from daily group by event_type
)
select event_type, n,
  floor((cast(s as double) / cast(n as double)) * 1000000.0 + 0.5) / 1000000.0
    as mean_x,
  case when n >= 2 and s > 0 then
    floor((cast(n * q - s * s as double) / cast((n - 1) * s as double))
          * 1000000.0 + 0.5) / 1000000.0
  end as dispersion
from g
"""

QUERIES["dispersion_index"] = q_dispersion_index
ORACLES["dispersion_index"] = O_DISPERSION_INDEX


# --- Cliff's delta: nonparametric effect size between md5 arms --------------------------

def q_cliffs_delta(spark, sf_dir):
    """Cliff's delta between the md5 arms on per-user spend cents
    (functions/stats.cliffs_delta): P[a>b] - P[a<b] derived exactly from
    the doubled Mann-Whitney U — the robust effect-size companion to
    effect_size (Cohen's d) for heavy-tailed metrics. Same distinct-value
    window shape as mann_whitney; one extra 1-row projection with a
    single IEEE division."""
    from ..functions.stats import cliffs_delta

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return cliffs_delta(ev, "user_id")


O_CLIFFS_DELTA = f"""
with pu as (
  select user_id as uid,
    cast(sum(cast(floor(value * 100.0 + 0.5) as bigint)) as bigint) as c
  from events group by user_id
),
arm as (
  select c, cast(({_HEX7}) % 2 as int) as arm
  from (select c, md5(cast(uid as varchar)) as h from pu)
),
g as (
  select c, count(*) as cnt,
    sum(case when arm = 0 then 1 else 0 end) as cnt_a
  from arm group by c
),
r as (
  select cnt, cnt_a,
    2 * (sum(cnt) over (order by c rows between unbounded preceding and current row) - cnt)
      + cnt + 1 as two_midrank
  from g
),
f as (
  select cast(sum(cnt_a) as bigint) as n_a,
    cast(sum(cnt - cnt_a) as bigint) as n_b,
    cast(sum(cnt_a * two_midrank) as bigint) as r2_sum_a
  from r
),
u as (
  select n_a, n_b,
    cast(r2_sum_a - n_a * (n_a + 1) as bigint) as u2_a
  from f
)
select n_a, n_b, u2_a,
  case when n_a > 0 and n_b > 0 then
    floor((cast(cast(u2_a as hugeint) - cast(n_a as hugeint) * n_b as double)
           / cast(cast(n_a as hugeint) * n_b as double)) * 1000000.0 + 0.5)
      / 1000000.0
  end as delta
from u
"""

QUERIES["cliffs_delta"] = q_cliffs_delta
ORACLES["cliffs_delta"] = O_CLIFFS_DELTA


# --- Hill tail-index estimator over conversation lengths --------------------------------

def q_hill_tail(spark, sf_dir):
    """Hill tail-index (functions/stats.hill_tail_index, k=100) over
    per-conversation turn counts: H = mean of ln(x_(i)/x_(k+1)) over the
    top-k order statistics, alpha = 1/H — the heavy-tail screen run
    before trusting mean-based capacity statistics. ln quantized to
    integer nanos per DISTINCT value (zipf_fit convention) so sums are
    exact integers; H and alpha release as trunc divisions. The
    cumulative pass runs over the distinct-length frame only."""
    from ..functions.stats import hill_tail_index

    t = transcripts_from_events(spark, sf_dir)
    lens = t.groupBy("conv_id").agg(F.count(F.lit(1)).cast("long").alias("n_turns"))
    return hill_tail_index(lens, "n_turns", k=100)


O_HILL_TAIL = f"""{_W},
lens as (
  select conv_id, cast(count(*) as bigint) as x from transcripts group by conv_id
),
g as (
  select x, cast(count(*) as bigint) as cnt from lens where x > 0 group by x
),
c as (
  select x, cnt,
    sum(cnt) over (order by x desc rows between unbounded preceding and current row)
      - cnt as cum_before,
    sum(cnt) over (order by x desc rows between unbounded preceding and current row)
      as cum_incl,
    cast(floor(ln(cast(x as double)) * 1000000000.0 + 0.5) as bigint) as lnx_nanos
  from g
),
a as (
  select
    sum(cast(greatest(least(cnt, 100 - cum_before), 0) as hugeint)
        * lnx_nanos) as top_ln_sum,
    max(case when cum_incl >= 101 then x end) as x_threshold,
    max(case when cum_incl >= 101 then lnx_nanos end) as thr_ln,
    cast(sum(cnt) as bigint) as n_total
  from c
)
select cast(100 as bigint) as k, n_total,
  cast(x_threshold as bigint) as x_threshold,
  cast((top_ln_sum - 100 * cast(thr_ln as hugeint)) // 100 as bigint) as h_nanos,
  case when (top_ln_sum - 100 * cast(thr_ln as hugeint)) // 100 > 0 then
    cast((cast(1000000000 as hugeint) * 1000000)
         // ((top_ln_sum - 100 * cast(thr_ln as hugeint)) // 100) as bigint)
  end as alpha_micro
from a
where n_total >= 101
"""

QUERIES["hill_tail"] = q_hill_tail
ORACLES["hill_tail"] = O_HILL_TAIL


# --- distributed PCA: top direction by engine-exact max-norm power iteration -------------

def q_pca_power(spark, sf_dir):
    """Top principal direction of the embedding cloud by max-norm power
    iteration (operators/similarity.pca_power_direction, 3 rounds): the
    fully-distributed, engine-exact PCA twin — micro-quantized lanes,
    exact integer scatter matrix C = (n·Σqq' − SS') div n, sqrt-free
    max-norm rescale each round. One id-keyed d² fan-out with map-side
    partial aggregation; iterations touch only the d² cell frame."""
    from ..operators.similarity import pca_power_direction

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return pca_power_direction(emb, "vec_id", "embedding", iterations=3)


def _pca_power_oracle(iterations: int = 3) -> str:
    ctes = [
        """lanes as (
  select vec_id as id,
    generate_subscripts(embedding, 1) - 1 as j,
    cast(floor(cast(unnest(embedding) as double) * 1000000.0 + 0.5) as hugeint) as q
  from embeddings
)""",
        "nn as (select cast(count(*) as hugeint) as n from embeddings)",
        "s as (select j, sum(q) as s from lanes group by j)",
        """raw as (
  select a.j as j, b.j as k, sum(a.q * b.q) as sum_jk
  from lanes a join lanes b on a.id = b.id group by 1, 2
)""",
        """cells as (
  select raw.j, raw.k, (nn.n * raw.sum_jk - sj.s * sk.s) // nn.n as c
  from raw join s sj on sj.j = raw.j join s sk on sk.j = raw.k cross join nn
)""",
        "v0 as (select j, cast(1000000 as hugeint) as v from s)",
    ]
    for t in range(1, iterations + 1):
        ctes.append(
            f"u{t} as (select cells.j, sum(c * v.v) as u from cells"
            f" join v{t-1} v on v.j = cells.k group by 1)"
        )
        ctes.append(f"m{t} as (select max(abs(u)) as m from u{t})")
        ctes.append(
            f"v{t} as (select j, (u * 1000000) // m as v from u{t}, m{t})"
        )
    return (
        "with " + ",\n".join(ctes)
        + f"\nselect cast(j as int) as j, cast(v as bigint) as v_micro from v{iterations}"
    )


O_PCA_POWER = _pca_power_oracle()

QUERIES["pca_power"] = q_pca_power
ORACLES["pca_power"] = O_PCA_POWER


# --- degree assortativity of the word-adjacency graph ------------------------------------

def q_assortativity(spark, sf_dir):
    """Degree assortativity (functions/graph.degree_assortativity) of the
    pruned word-adjacency graph: Pearson correlation of endpoint degrees
    over both edge orientations, released as the signed square (the
    cross_correlation convention — sqrt never crosses engines). One
    degree count + two node-keyed joins + one 4-moment aggregate, all
    bounded by |edges|."""
    from ..functions import graph

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    edges = graph.word_adjacency_edges(docs, min_count=3)
    out = graph.degree_assortativity(edges)
    return out.select("m2", "sx", "sxx", "sxy", _r6x(F.col("r2_signed_raw"), "r2_signed"))


O_ASSORTATIVITY = f"""
with d as (
  select string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') as w
  from documents
),
tr as (
  select unnest(w[1:len(w)-1]) as x, unnest(w[2:len(w)]) as y from d
),
e0 as (
  select least(x, y) as a, greatest(x, y) as b, count(*) as cw
  from tr where x <> y group by 1, 2
),
eu as (select a, b from e0 where cw >= 3),
bo as (
  select a, b from eu union all select b as a, a as b from eu
),
deg as (select a as node, cast(count(*) as bigint) as deg from bo group by a),
m as (
  select cast(count(*) as bigint) as m2,
    cast(sum(dx.deg) as bigint) as sx,
    sum(cast(dx.deg as hugeint) * dx.deg) as sxx,
    sum(cast(dx.deg as hugeint) * dy.deg) as sxy
  from bo
  join deg dx on dx.node = bo.a
  join deg dy on dy.node = bo.b
),
f as (
  select m2, sx, sxx, sxy,
    cast(m2 as hugeint) * sxy - cast(sx as hugeint) * sx as num,
    cast(m2 as hugeint) * sxx - cast(sx as hugeint) * sx as vx
  from m
)
select m2, sx, cast(sxx as bigint) as sxx, cast(sxy as bigint) as sxy,
  {_r6x_sql("case when vx > 0 then sign(cast(num as double)) * cast(num * num as double) / cast(vx * vx as double) else 0.0 end")}
    as r2_signed
from f
"""

QUERIES["assortativity"] = q_assortativity
ORACLES["assortativity"] = O_ASSORTATIVITY


# --- Jensen-Shannon divergence between source unigram distributions ---------------------

def q_source_js(spark, sf_dir):
    """Symmetric bounded source-distance (functions/corpus.
    source_js_divergence): JS divergence between per-source smoothed
    unigram distributions with per-word contributions quantized to
    integer nanos BEFORE summation (order-free integer sum — stricter
    than source_kl's float sum). One word-count shuffle, V-row dense
    frames, one equi-join per unordered source pair."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus.source_js_divergence(docs).select("src_a", "src_b", "js_nanos")


O_SOURCE_JS = """
with wds as (
  select source,
    unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) as w
  from documents
),
cnt as (select source, w, count(*) as c from wds group by 1, 2),
vv as (select count(distinct w) as v from wds),
tot as (select source, sum(c) as n from cnt group by 1),
vocab as (select distinct w from wds),
dense as (
  select t.source, vb.w,
    cast(coalesce(c.c, 0) + 1 as double) / (t.n + (select v from vv)) as p
  from tot t cross join vocab vb
  left join cnt c on c.source = t.source and c.w = vb.w
),
pairs as (
  select a.source as src_a, b.source as src_b,
    cast(floor((a.p * ln(a.p / ((a.p + b.p) / 2.0))
                + b.p * ln(b.p / ((a.p + b.p) / 2.0))) * 1000000000.0 + 0.5)
         as bigint) as t
  from dense a join dense b on a.w = b.w and a.source < b.source
)
select src_a, src_b, cast(sum(t) // 2 as bigint) as js_nanos
from pairs group by 1, 2
"""

QUERIES["source_js"] = q_source_js
ORACLES["source_js"] = O_SOURCE_JS


# --- sliding HLL merge: trailing-window distinct users per day ---------------------------

def q_hll_sliding(spark, sf_dir):
    """Trailing-7-day distinct-user estimate per day (functions/sketch.
    hll_sliding_distinct): per-day HLL registers explode to the <= 7
    output days they serve (sketch-row fan-out, never data rows),
    element-wise MAX merges each window, and the estimate is ENGINE-EXACT
    — every 2^-rank is the exact integer 2^(61-rank)/2^61, the harmonic
    denominator an exact decimal sum, the release one IEEE division by a
    plan-literal constant."""
    from ..functions.sketch import hll_sliding_distinct

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = hll_sliding_distinct(ev, "user_id", "ts", window_days=7, p=8)
    return out.select(
        "day", "m_set",
        F.col("s_exact").cast("string").alias("s_exact"),
        _r6x(F.col("est"), "est"),
    )


def _hll_sliding_oracle(window_days: int = 7, p: int = 8) -> str:
    from ..functions.sketch import hll_alpha_m2_over_2_61

    m = 1 << p
    lit = hll_alpha_m2_over_2_61(p)
    return f"""
with ev as (select user_id, cast(ts as date) as day from events),
h as (select day, md5(cast(user_id as varchar)) as hx from ev),
r as (
  select day,
    (strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16
      + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) as register,
    length(regexp_extract(substr(hx, 3, 15), '^(0*)', 1)) as lz,
    substr(substr(hx, 3, 15), length(regexp_extract(substr(hx, 3, 15), '^(0*)', 1)) + 1, 1) as fnz
  from h
),
rr as (
  select day, register,
    case when lz = 15 then 61
         else lz * 4
              + (case when fnz = '1' then 3
                      when fnz in ('2', '3') then 2
                      when fnz in ('4', '5', '6', '7') then 1
                      else 0 end)
              + 1 end as rank
  from r
),
regs as (select day, register, max(rank) as max_rank from rr group by 1, 2),
served as (
  select day + cast(tt.i as int) as day2, register, max_rank
  from regs, range(0, {window_days}) tt(i)
),
merged as (select day2 as day, register, max(max_rank) as r from served group by 1, 2),
pd as (
  select day, cast(count(*) as bigint) as m_set,
    sum(cast(power(2, 61 - r) as hugeint)) as s_regs
  from merged group by day
),
f as (
  select day, m_set,
    cast({m} - m_set as hugeint) * cast(power(2, 61) as hugeint) + s_regs as s_exact
  from pd
),
e as (
  select day, m_set, s_exact,
    cast({lit} as double) / cast(s_exact as double) as raw
  from f
)
select day, m_set, cast(s_exact as varchar) as s_exact,
  {_r6x_sql(f"case when raw <= {2.5 * m} and m_set < {m} then {float(m)!r} * ln({float(m)!r} / cast({m} - m_set as double)) else raw end")}
    as est
from e
"""


O_HLL_SLIDING = _hll_sliding_oracle()

QUERIES["hll_sliding"] = q_hll_sliding
ORACLES["hll_sliding"] = O_HLL_SLIDING


# --- Markov stationary distribution of the role-transition chain ------------------------

def q_markov_stationary(spark, sf_dir):
    """Stationary role-occupancy distribution (functions/graph.
    markov_stationary, 4 rounds) of the conversation role-transition
    chain — the long-run companion to markov_loglik over the same
    transition matrix: exact ppm fixed point, one trunc division per
    state per round, matrix and states checkpointed once."""
    from ..functions.graph import markov_stationary

    from pyspark.sql import Window

    t = transcripts_from_events(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("turn_idx", "ts")
    pairs = t.select("role", F.lead("role").over(w).alias("nxt")).filter(
        F.col("nxt").isNotNull()
    )
    edges = pairs.groupBy(
        F.col("role").alias("src"), F.col("nxt").alias("dst")
    ).agg(F.count(F.lit(1)).cast("long").alias("w"))
    return markov_stationary(edges, iterations=4)


O_MARKOV_STATIONARY = f"""{_W},
p0 as (
  select role, lead(role) over ({_OWIN}) as nxt from transcripts
),
e as (
  select role as src, nxt as dst, cast(count(*) as bigint) as c
  from p0 where nxt is not null group by 1, 2
),
outs as (select src, sum(c) as c_src from e group by src),
pm as (
  select e.src, e.dst, (c * 1000000) // c_src as p_ppm
  from e join outs using (src)
),
st as (select src as state from e union select dst from e),
nr as (select count(*) as r from st),
v0 as (select state, 1000000 // r as pi from st, nr),
v1 as (
  select st.state, coalesce(x.pi, 0) as pi from st left join (
    select pm.dst as state, sum(cast(v.pi as hugeint) * pm.p_ppm) // 1000000 as pi
    from pm join v0 v on v.state = pm.src group by pm.dst
  ) x using (state)
),
v2 as (
  select st.state, coalesce(x.pi, 0) as pi from st left join (
    select pm.dst as state, sum(cast(v.pi as hugeint) * pm.p_ppm) // 1000000 as pi
    from pm join v1 v on v.state = pm.src group by pm.dst
  ) x using (state)
),
v3 as (
  select st.state, coalesce(x.pi, 0) as pi from st left join (
    select pm.dst as state, sum(cast(v.pi as hugeint) * pm.p_ppm) // 1000000 as pi
    from pm join v2 v on v.state = pm.src group by pm.dst
  ) x using (state)
),
v4 as (
  select st.state, coalesce(x.pi, 0) as pi from st left join (
    select pm.dst as state, sum(cast(v.pi as hugeint) * pm.p_ppm) // 1000000 as pi
    from pm join v3 v on v.state = pm.src group by pm.dst
  ) x using (state)
)
select state, cast(pi as bigint) as pi_ppm from v4
"""

QUERIES["markov_stationary"] = q_markov_stationary
ORACLES["markov_stationary"] = O_MARKOV_STATIONARY


# --- effective sample size of soft-dedup weights -----------------------------------------

def q_ess_weights(spark, sf_dir):
    """Kish effective sample size (functions/corpus.
    effective_sample_size) of the exact-dup soft weights (weight_ppm =
    1e6 div duplicate-group size by normalized-text md5): the number
    that sizes a soft-deduped corpus — n weighted docs train like ESS
    unweighted ones. One digest groupBy + join-back + one 3-moment
    global aggregate, releases as integer trunc divisions."""
    from ..operators.dedup import normalize_text

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = docs.select("doc_id", F.md5(normalize_text("text")).alias("dg"))
    sizes = d.groupBy("dg").agg(F.count(F.lit(1)).cast("long").alias("csize"))
    w = d.join(sizes, "dg").select(
        F.expr("1000000 div csize").cast("long").alias("weight_ppm")
    )
    return corpus.effective_sample_size(w, "weight_ppm").select(
        "n", "sum_w", "sum_w2", "ess_micro", "ess_ratio_ppm"
    )


O_ESS_WEIGHTS = """
with d as (
  select doc_id,
    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) as dg
  from documents
),
sizes as (select dg, cast(count(*) as bigint) as csize from d group by dg),
w as (
  select cast(1000000 // csize as hugeint) as w
  from d join sizes using (dg)
),
g as (
  select cast(count(*) as bigint) as n, sum(w) as sum_w, sum(w * w) as sum_w2
  from w
)
select n, cast(sum_w as varchar) as sum_w, cast(sum_w2 as varchar) as sum_w2,
  case when sum_w2 > 0 then cast((sum_w * sum_w * 1000000) // sum_w2 as bigint)
       else 0 end as ess_micro,
  case when sum_w2 > 0 and n > 0 then
    cast((sum_w * sum_w * 1000000) // (n * sum_w2) as bigint) else 0 end
    as ess_ratio_ppm
from g
"""

QUERIES["ess_weights"] = q_ess_weights
ORACLES["ess_weights"] = O_ESS_WEIGHTS


# --- empirical-Bayes shrunk tool success rates -------------------------------------------

def q_eb_shrinkage(spark, sf_dir):
    """Beta-binomial empirical-Bayes shrinkage (functions/stats.
    eb_shrunk_rates) of per-tool success rates toward the global prior —
    the leaderboard estimator that de-noises tiny-n tools and kills the
    winner's curse (companion to tool_success_wilson's bounds). Exact
    integer ppm moments; the prior strength M and shrunk rate are one
    fixed-operand-order float expression over those integers."""
    from ..functions.stats import eb_shrunk_rates

    t = transcripts_from_events(spark, sf_dir)
    agg = (
        t.filter(F.col("tool").isNotNull())
        .groupBy("tool")
        .agg(
            F.count("*").cast("long").alias("n_calls"),
            F.sum((~F.col("text").startswith("error")).cast("int"))
            .cast("long").alias("n_success"),
        )
    )
    out = eb_shrunk_rates(agg, "tool", "n_calls", "n_success")
    return out.select(
        "tool", "n", "k", "rate_ppm", _r6x(F.col("shrunk_rate_raw"), "shrunk_rate")
    )


O_EB_SHRINKAGE = f"""{_W},
agg as (
  select tool,
    cast(count(*) as bigint) as n,
    cast(sum(case when text like 'error%' then 0 else 1 end) as bigint) as k
  from transcripts where tool is not null group by tool
),
g as (select tool, n, k, cast((k * 1000000) // n as bigint) as rate_ppm from agg),
tot as (
  select sum(n) as tn, cast((sum(k) * 1000000) // sum(n) as bigint) as mu_ppm
  from g
),
vr as (
  select cast(sum(g.n * cast(g.rate_ppm - tot.mu_ppm as hugeint)
                   * (g.rate_ppm - tot.mu_ppm)) // max(tot.tn) as bigint)
    as var_ppm2
  from g, tot
),
f as (
  select g.tool, g.n, g.k, g.rate_ppm, tot.mu_ppm, vr.var_ppm2,
    cast(tot.mu_ppm as double) as mu, cast(vr.var_ppm2 as double) as v
  from g, tot, vr
)
select tool, n, k, rate_ppm,
  {_r6x_sql(
      "case when var_ppm2 > 0 and (mu * (1000000.0 - mu) / v - 1.0) > 0 then"
      " (cast(k as double) * 1000000.0 + mu * (mu * (1000000.0 - mu) / v - 1.0))"
      " / ((cast(n as double) + (mu * (1000000.0 - mu) / v - 1.0)) * 1000000.0)"
      " else cast(rate_ppm as double) / 1000000.0 end"
  )} as shrunk_rate
from f
"""

QUERIES["eb_shrinkage"] = q_eb_shrinkage
ORACLES["eb_shrinkage"] = O_EB_SHRINKAGE


# --- entropy rate of the role-transition chain -------------------------------------------

def q_entropy_rate(spark, sf_dir):
    """Markov entropy rate H = −Σ π_i p_ij ln p_ij (functions/graph.
    markov_entropy_rate) of the conversation role-transition chain — the
    one-number predictability meter (templated agents score low, varied
    flows high). Exact ppm matrix and occupancy, per-edge nano-quantized
    ln, integer sum; one join + one 1-row aggregate past the stationary
    rounds."""
    from ..functions.graph import markov_entropy_rate
    from pyspark.sql import Window

    t = transcripts_from_events(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("turn_idx", "ts")
    pairs = t.select("role", F.lead("role").over(w).alias("nxt")).filter(
        F.col("nxt").isNotNull()
    )
    edges = pairs.groupBy(
        F.col("role").alias("src"), F.col("nxt").alias("dst")
    ).agg(F.count(F.lit(1)).cast("long").alias("w"))
    return markov_entropy_rate(edges, iterations=4)


O_ENTROPY_RATE = f"""{_W},
p0 as (
  select role, lead(role) over ({_OWIN}) as nxt from transcripts
),
e as (
  select role as src, nxt as dst, cast(count(*) as bigint) as c
  from p0 where nxt is not null group by 1, 2
),
outs as (select src, sum(c) as c_src from e group by src),
pm as (
  select e.src, e.dst, cast((c * 1000000) // c_src as bigint) as p_ppm
  from e join outs using (src)
),
st as (select src as state from e union select dst from e),
nr as (select count(*) as r from st),
v0 as (select state, 1000000 // r as pi from st, nr),
v1 as (
  select st.state, coalesce(x.pi, 0) as pi from st left join (
    select pm.dst as state, sum(cast(v.pi as hugeint) * pm.p_ppm) // 1000000 as pi
    from pm join v0 v on v.state = pm.src group by pm.dst
  ) x using (state)
),
v2 as (
  select st.state, coalesce(x.pi, 0) as pi from st left join (
    select pm.dst as state, sum(cast(v.pi as hugeint) * pm.p_ppm) // 1000000 as pi
    from pm join v1 v on v.state = pm.src group by pm.dst
  ) x using (state)
),
v3 as (
  select st.state, coalesce(x.pi, 0) as pi from st left join (
    select pm.dst as state, sum(cast(v.pi as hugeint) * pm.p_ppm) // 1000000 as pi
    from pm join v2 v on v.state = pm.src group by pm.dst
  ) x using (state)
),
v4 as (
  select st.state, coalesce(x.pi, 0) as pi from st left join (
    select pm.dst as state, sum(cast(v.pi as hugeint) * pm.p_ppm) // 1000000 as pi
    from pm join v3 v on v.state = pm.src group by pm.dst
  ) x using (state)
),
j as (
  select cast((v4.pi * pm.p_ppm) // 1000000 as bigint) as t,
    cast(floor(ln(cast(pm.p_ppm as double) / 1000000.0) * 1000000000.0 + 0.5)
         as bigint) as q
  from pm join v4 on v4.state = pm.src
  where pm.p_ppm > 0
)
select (select cast(count(*) as bigint) from st) as n_states,
  cast(count(*) as bigint) as n_edges,
  cast((0 - sum(cast(t as hugeint) * q)) // 1000000 as bigint) as h_nanos
from j
"""

QUERIES["entropy_rate"] = q_entropy_rate
ORACLES["entropy_rate"] = O_ENTROPY_RATE


# --- exact 1-D Wasserstein distance between source length distributions -----------------

def q_wasserstein(spark, sf_dir):
    """Exact earth-mover distance (functions/stats.wasserstein_1d)
    between src0's and src1's document-length distributions: W1 =
    Σ|cumA·nB − cumB·nA|·gap over the merged distinct-value grid, one
    trunc division — the value-weighted drift metric KS/PSI miss.
    All integer, one bounded window, no joins."""
    from ..functions.stats import wasserstein_1d

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return wasserstein_1d(docs, "source", "n_chars", "src0", "src1")


O_WASSERSTEIN = """
with g as (
  select cast(n_chars as bigint) as x,
    sum(case when source = 'src0' then 1 else 0 end) as ca,
    sum(case when source = 'src1' then 1 else 0 end) as cb
  from documents where source in ('src0', 'src1') group by 1
),
c as (
  select x,
    sum(ca) over (order by x rows between unbounded preceding and current row) as cum_a,
    sum(cb) over (order by x rows between unbounded preceding and current row) as cum_b,
    sum(ca) over () as n_a, sum(cb) over () as n_b,
    lead(x) over (order by x) - x as gap
  from g
)
select cast(max(n_a) as bigint) as n_a, cast(max(n_b) as bigint) as n_b,
  cast((sum(abs(cast(cum_a as hugeint) * n_b - cast(cum_b as hugeint) * n_a) * gap)
        * 1000000) // (max(n_a) * max(n_b)) as bigint) as w1_micro
from c where gap is not null
"""

QUERIES["wasserstein"] = q_wasserstein
ORACLES["wasserstein"] = O_WASSERSTEIN


# --- split-conformal calibration of a nonconformity score -------------------------------

def q_conformal(spark, sf_dir):
    """Split-conformal calibration (functions/stats.
    conformal_calibration, alpha = 0.1) of per-event spend cents: the
    md5-split calibration half yields the exact ceil((n+1)(1−alpha))
    order-statistic threshold q_hat; the held-out half reports achieved
    coverage in exact ppm — the distribution-free interval gate. Order
    statistics ride the distinct-score cumulative frame; no floats."""
    from ..functions.stats import conformal_calibration

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    scored = ev.select(
        "event_id",
        F.expr("cast(floor(value * 100.0 + 0.5) as long)").alias("cents"),
    )
    return conformal_calibration(
        scored, "cents", alpha_num=1, alpha_den=10, id_col="event_id"
    )


O_CONFORMAL = f"""
with marked as (
  select cast(floor(value * 100.0 + 0.5) as bigint) as s,
    cast(({_HEX7}) % 2 = 0 as int) as is_cal
  from (select value, md5(cast(event_id as varchar)) as h from events)
),
ncal as (select cast(count(*) as bigint) as n_cal from marked where is_cal = 1),
g as (select s, count(*) as cnt from marked where is_cal = 1 group by s),
cum as (
  select s,
    sum(cnt) over (order by s rows between unbounded preceding and current row) as cum
  from g
),
ranked as (
  select s, cum,
    ((ncal.n_cal + 1) * 9 + 9) // 10 as k, ncal.n_cal
  from cum, ncal
),
qhat as (
  select cast(min(s) as bigint) as q_hat, cast(max(n_cal) as bigint) as n_cal
  from ranked where cum >= least(k, n_cal)
)
select qhat.n_cal, qhat.q_hat,
  cast(count(*) as bigint) as n_eval,
  cast((sum(cast(m.s <= qhat.q_hat as int)) * 1000000) // count(*) as bigint)
    as coverage_ppm
from marked m, qhat where m.is_cal = 0
group by qhat.n_cal, qhat.q_hat
"""

QUERIES["conformal"] = q_conformal
ORACLES["conformal"] = O_CONFORMAL


# --- V-measure: external validation of k-means clusters against labels -------------------

def q_v_measure(spark, sf_dir):
    """V-measure (functions/evalmetrics.v_measure) of the certified
    2-iteration Lloyd k-means clustering against the embeddings table's
    known labels: homogeneity / completeness / V from nano-quantized
    contingency entropies — the external clustering validation that
    needs no cluster-label matching. Contingency is one groupBy of the
    assignment frame; everything downstream is cells-bounded. r6: the
    label rides through the literal-centroid assignment projection
    (keep_cols) instead of a vec_id equi-join — one exchange fewer,
    identical (cluster, label) rows."""
    from ..functions.evalmetrics import v_measure
    from ..operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"),
        "label",
    )
    out, _cents = similarity.kmeans_lloyd(
        emb, k=4, iters=2, keep_cols=("label",)
    )
    joined = out.select(
        "vec_id", F.col("centroid_id").cast("int").alias("cluster"), "label"
    )
    r = v_measure(joined, "cluster", "label")
    return r.select(
        "n", "hl_nanos", "hc_nanos", "hlk_nanos", "hkl_nanos",
        _r6x(F.col("homogeneity_raw"), "homogeneity"),
        _r6x(F.col("completeness_raw"), "completeness"),
        _r6x(F.col("v_measure_raw"), "v"),
    )


def _v_measure_oracle() -> str:
    km = _kmeans_oracle()
    return f"""
with cl as (select * from ({km})),
lab as (select vec_id, label from embeddings),
cells as (
  select cl.cluster as k, lab.label as c, cast(count(*) as bigint) as n
  from cl join lab using (vec_id) group by 1, 2
),
kmarg as (select k, sum(n) as n_k from cells group by k),
cmarg as (select c, sum(n) as n_c from cells group by c),
tot as (select sum(n) as nn from cells),
s as (
  select max(tot.nn) as n,
    0 - sum(cast(floor((cast(cells.n as double) / tot.nn)
        * ln(cast(cells.n as double) / kmarg.n_k) * 1000000000.0 + 0.5)
      as bigint)) as hlk_nanos,
    0 - sum(cast(floor((cast(cells.n as double) / tot.nn)
        * ln(cast(cells.n as double) / cmarg.n_c) * 1000000000.0 + 0.5)
      as bigint)) as hkl_nanos
  from cells join kmarg using (k) join cmarg using (c) cross join tot
),
hl as (
  select 0 - sum(cast(floor((cast(n_c as double) / tot.nn)
      * ln(cast(n_c as double) / tot.nn) * 1000000000.0 + 0.5) as bigint))
    as hl_nanos
  from cmarg cross join tot
),
hc as (
  select 0 - sum(cast(floor((cast(n_k as double) / tot.nn)
      * ln(cast(n_k as double) / tot.nn) * 1000000000.0 + 0.5) as bigint))
    as hc_nanos
  from kmarg cross join tot
),
f as (
  select s.n, hl.hl_nanos, hc.hc_nanos, s.hlk_nanos, s.hkl_nanos,
    case when hl.hl_nanos > 0
         then 1.0 - cast(s.hlk_nanos as double) / hl.hl_nanos else 1.0 end as h,
    case when hc.hc_nanos > 0
         then 1.0 - cast(s.hkl_nanos as double) / hc.hc_nanos else 1.0 end as c
  from s, hl, hc
)
select cast(n as bigint) as n,
  cast(hl_nanos as bigint) as hl_nanos, cast(hc_nanos as bigint) as hc_nanos,
  cast(hlk_nanos as bigint) as hlk_nanos, cast(hkl_nanos as bigint) as hkl_nanos,
  {_r6x_sql("h")} as homogeneity,
  {_r6x_sql("c")} as completeness,
  {_r6x_sql("case when h + c > 0 then 2.0 * h * c / (h + c) else 0.0 end")} as v
from f
"""


O_V_MEASURE = _v_measure_oracle()

QUERIES["v_measure"] = q_v_measure
ORACLES["v_measure"] = O_V_MEASURE


# --- Adjusted Rand Index of k-means clusters vs labels -----------------------------------

def q_ari(spark, sf_dir):
    """Adjusted Rand Index (functions/evalmetrics.adjusted_rand_index) of
    the certified k-means clustering vs the embeddings labels — the
    chance-corrected pair-counting twin of v_measure, entirely exact
    integer arithmetic (no ln anywhere), one IEEE division at release."""
    from ..functions.evalmetrics import adjusted_rand_index
    from ..operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"),
        "label",
    )
    out, _cents = similarity.kmeans_lloyd(
        emb, k=4, iters=2, keep_cols=("label",)
    )
    joined = out.select(
        "vec_id", F.col("centroid_id").cast("int").alias("cluster"), "label"
    )
    r = adjusted_rand_index(joined, "cluster", "label")
    return r.select("n", "sij", "sa", "sb", _r6x(F.col("ari_raw"), "ari"))


def _ari_oracle() -> str:
    km = _kmeans_oracle()
    return f"""
with cl as (select * from ({km})),
lab as (select vec_id, label from embeddings),
cells as (
  select cl.cluster as k, lab.label as c, cast(count(*) as hugeint) as n
  from cl join lab using (vec_id) group by 1, 2
),
s as (
  select sum(n * (n - 1)) as sij, sum(n) as nn from cells
),
sa as (select sum(a * (a - 1)) as sa from (select sum(n) as a from cells group by k)),
sb as (select sum(b * (b - 1)) as sb from (select sum(n) as b from cells group by c)),
f as (
  select s.nn, s.sij, sa.sa, sb.sb,
    s.nn * (s.nn - 1) * s.sij - sa.sa * sb.sb as num,
    (s.nn * (s.nn - 1) * (sa.sa + sb.sb)) // 2 - sa.sa * sb.sb as den
  from s, sa, sb
)
select cast(nn as bigint) as n, cast(sij as bigint) as sij,
  cast(sa as bigint) as sa, cast(sb as bigint) as sb,
  {_r6x_sql("case when den <> 0 then cast(num as double) / cast(den as double) when num = 0 then 1.0 else 0.0 end")}
    as ari
from f
"""


O_ARI = _ari_oracle()

QUERIES["ari"] = q_ari
ORACLES["ari"] = O_ARI


# --- deterministic permutation test for the arm mean difference -------------------------

def q_permutation_test(spark, sf_dir):
    """Assumption-free permutation test (functions/stats.
    permutation_test, B = 64 md5 re-randomizations) of the md5-arm
    per-user spend difference: p_ppm = add-one rank of the observed
    |S_a·n_b − S_b·n_a| among the pseudo-replicates — exact integers end
    to end, the 'permutations' are md5 re-hashes replayed bit-for-bit by
    the oracle. One unit reduction, one bounded 64-way explode of the
    unit frame, one groupBy(b)."""
    from ..functions.stats import permutation_test

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return permutation_test(ev, "user_id", "value", n_perms=64)


def _perm_oracle(n_perms: int = 64) -> str:
    hexpr = _HEX7
    return f"""
with pu as (
  select user_id as uid,
    cast(sum(cast(floor(value * 100.0 + 0.5) as bigint)) as bigint) as c
  from events group by user_id
),
arm as (
  select uid, c, cast(({hexpr}) % 2 as int) as arm
  from (select uid, c, md5(cast(uid as varchar)) as h from pu)
),
obs as (
  select abs(cast(sum(case when arm = 0 then c end) as hugeint)
             * sum(case when arm = 1 then 1 else 0 end)
           - cast(sum(case when arm = 1 then c end) as hugeint)
             * sum(case when arm = 0 then 1 else 0 end)) as t_obs,
    cast(count(*) as bigint) as n_units
  from arm
),
reps as (
  select uid, c, tt.b,
    cast(({hexpr}) % 2 as int) as parm
  from (
    select uid, c, tt.i + 1 as b,
      md5(concat(cast(uid as varchar), '#', cast(tt.i + 1 as varchar))) as h,
      tt.i
    from pu, range(0, {n_perms}) tt(i)
  ) tt
),
per_b as (
  select b,
    abs(cast(sum(case when parm = 0 then c end) as hugeint)
        * sum(case when parm = 1 then 1 else 0 end)
      - cast(sum(case when parm = 1 then c end) as hugeint)
        * sum(case when parm = 0 then 1 else 0 end)) as t
  from reps group by b
)
select obs.n_units,
  cast(count(*) as bigint) as b,
  cast(sum(cast(per_b.t >= obs.t_obs as int)) as bigint) as n_extreme,
  cast(((1 + sum(cast(per_b.t >= obs.t_obs as int))) * 1000000)
       // ({n_perms} + 1) as bigint) as p_ppm
from per_b, obs
group by obs.n_units
"""


O_PERMUTATION_TEST = _perm_oracle()

QUERIES["permutation_test"] = q_permutation_test
ORACLES["permutation_test"] = O_PERMUTATION_TEST


# --- Cochran-Mantel-Haenszel pooled odds ratio across event-type strata ------------------

def q_cmh_odds(spark, sf_dir):
    """Confounder-adjusted pooled odds ratio (functions/stats.
    cmh_pooled_odds) of high-value outcomes between the md5 arms,
    stratified by event type — the Simpson's-paradox-proof effect
    estimate. Per-stratum 2x2 terms as exact micro trunc divisions
    summed exactly; one groupBy + one 1-row aggregate."""
    from ..functions.corpus import md5_bucket
    from ..functions.stats import cmh_pooled_odds

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    marked = ev.select(
        "event_type",
        md5_bucket("user_id", 2).cast("int").alias("arm"),
        (F.col("value") >= 50.0).cast("int").alias("hi"),
    )
    out = cmh_pooled_odds(marked, "event_type", "arm", "hi")
    return out.select(
        "n_strata", "num_micro", "den_micro", _r6x(F.col("or_cmh_raw"), "or_cmh")
    )


O_CMH_ODDS = f"""
with m as (
  select event_type,
    cast(({_HEX7}) % 2 as int) as arm,
    cast(value >= 50.0 as int) as hi
  from (select event_type, value, md5(cast(user_id as varchar)) as h from events)
),
g as (
  select event_type,
    sum(case when arm = 0 and hi = 1 then 1 else 0 end) as a,
    sum(case when arm = 0 and hi = 0 then 1 else 0 end) as b,
    sum(case when arm = 1 and hi = 1 then 1 else 0 end) as c,
    sum(case when arm = 1 and hi = 0 then 1 else 0 end) as d
  from m group by event_type
),
t as (
  select (cast(a as hugeint) * d * 1000000) // (a + b + c + d) as t_num,
    (cast(b as hugeint) * c * 1000000) // (a + b + c + d) as t_den
  from g
),
f as (
  select cast(count(*) as bigint) as n_strata,
    sum(t_num) as num_micro, sum(t_den) as den_micro
  from t
)
select n_strata, cast(num_micro as bigint) as num_micro,
  cast(den_micro as bigint) as den_micro,
  {_r6x_sql("case when den_micro > 0 then cast(num_micro as double) / cast(den_micro as double) end")}
    as or_cmh
from f
"""

QUERIES["cmh_odds"] = q_cmh_odds
ORACLES["cmh_odds"] = O_CMH_ODDS


# --- rank-biased overlap between exact and int8-quantized retrieval ----------------------

def q_rbo(spark, sf_dir):
    """Truncated rank-biased overlap (functions/ranking.
    rank_biased_overlap, depth 20, p = 0.9) between the exact-cosine and
    int8-quantized top-20 rankings per query — the top-weighted
    agreement meter that quantifies quantization damage where rrf_fusion
    repairs it. Agreement credits are plan-literal integers from the
    micro weight recurrence; one bounded equi-join + groupBy(query)."""
    from ..functions.ranking import rank_biased_overlap

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.where(F.col("vec_id") % 20 == 0)
    exact = similarity.brute_force_topk(
        emb, k=20, query=queries.select("vec_id", "embedding")
    ).select("query_id", F.col("neighbor_id").alias("doc_id"), "rank")

    # The quantized ranking reuses the exact path's GEMM engine instead of
    # a queries x corpus crossJoin of interpreted HOF cosines (5.6 -> ~1 s
    # at sf0.1). Determinism is STRONGER here than for the float ranking:
    # int8-code vectors give integer dot products (<= 127^2*64, exact in
    # float64 under ANY summation order), so the cosine and the
    # (cos desc, doc_id) tie order are bit-identical across engines.
    q8 = similarity.quantize_embeddings_int8(emb).select(
        "vec_id",
        F.transform(F.col("embedding_q8"), lambda x: x.cast("double")).alias("qv"),
    )
    qq = q8.where(F.col("vec_id") % 20 == 0)
    quant = similarity.brute_force_topk(
        q8, id_col="vec_id", vec_col="qv", k=20, query=qq
    ).select("query_id", F.col("neighbor_id").alias("doc_id"), "rank")
    return rank_biased_overlap(exact, quant, depth=20).select(
        "query_id", "n_matches", "rbo_micro"
    )


def _rbo_oracle(depth: int = 20) -> str:
    from ..functions.ranking import rbo_weights

    _w, credit, big_w = rbo_weights(depth)
    arr = "[" + ", ".join(str(c) for c in credit) + "]"
    return f"""
with e as (select vec_id, embedding::DOUBLE[] as v from embeddings),
p1 as (
  select q.vec_id as query_id, b.vec_id as doc_id,
    list_dot_product(q.v, b.v)
      / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(b.v, b.v)) + {DIVISION_GUARD_EPS}) as cos
  from e q, e b where q.vec_id % 20 = 0 and b.vec_id != q.vec_id
),
r1 as (
  select query_id, doc_id,
    row_number() over (partition by query_id order by cos desc, doc_id) as ra
  from p1
),
qe as (
  select vec_id,
    list_transform(v, x -> cast(case when mx > 0
      then greatest(-127.0, least(127.0, floor(x * 127.0 / mx + 0.5)))
      else 0.0 end as double)) as qv
  from (select vec_id, v, (select max(abs(u.x)) from unnest(v) as u(x)) as mx from e)
),
p2 as (
  select q.vec_id as query_id, b.vec_id as doc_id,
    list_dot_product(q.qv, b.qv)
      / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(b.qv, b.qv)) + {DIVISION_GUARD_EPS}) as cos
  from qe q, qe b where q.vec_id % 20 = 0 and b.vec_id != q.vec_id
),
r2 as (
  select query_id, doc_id,
    row_number() over (partition by query_id order by cos desc, doc_id) as rb
  from p2
),
j as (
  select r1.query_id,
    {arr}[greatest(r1.ra, r2.rb)] as c
  from r1 join r2 on r1.query_id = r2.query_id and r1.doc_id = r2.doc_id
  where r1.ra <= {depth} and r2.rb <= {depth}
)
select query_id, cast(count(*) as bigint) as n_matches,
  cast(sum(c) // {big_w} as bigint) as rbo_micro
from j group by query_id
"""


O_RBO = _rbo_oracle()

QUERIES["rbo"] = q_rbo
ORACLES["rbo"] = O_RBO


# --- modularity of the label-propagation communities -------------------------------

def q_modularity(spark, sf_dir):
    """Newman modularity Q of the 3-round label-propagation communities
    over the pruned word-adjacency graph (functions/graph.modularity) —
    the chance-corrected quality meter for the community assignment
    (the graph twin of ari / v_measure for the certified k-means).
    Exact integer numerator sum_c(in_c*M - deg_c^2), one signed trunc
    division releases q_micro; both engines truncate toward zero so the
    row is bit-identical. Both label propagation and modularity finish
    on the driver; the edge list is materialized ONCE (localCheckpoint)
    because both collect it, so the docs scan + word-pair aggregation
    runs once."""
    from ..functions import graph

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    edges = graph.word_adjacency_edges(docs, min_count=3).localCheckpoint(eager=False)
    labels = graph.label_propagation(edges, rounds=3)
    return graph.modularity(edges, labels)


O_MODULARITY = _lpa_cte() + """,
lab as (select node, community from l3),
de as (
  select e.w, ls.community as c_src, ld.community as c_dst
  from e
  join lab ls on e.src = ls.node
  join lab ld on e.dst = ld.node
),
pc as (
  select c_src,
    sum(cast(w as hugeint)) as deg_c,
    sum(case when c_src = c_dst then cast(w as hugeint) else 0 end) as in_c
  from de group by c_src
),
m as (select sum(deg_c) as m2_d from pc)
select
  cast(m2_d as bigint) as m2,
  cast(count(*) as bigint) as n_communities,
  cast(sum(in_c) as bigint) as in_total,
  cast((sum(in_c * m2_d - deg_c * deg_c) * 1000000) // (m2_d * m2_d) as bigint)
    as q_micro
from pc, m
group by m2_d
"""

QUERIES["modularity"] = q_modularity
ORACLES["modularity"] = O_MODULARITY


# --- t-closeness release audit ------------------------------------------------------

def q_t_closeness(spark, sf_dir):
    """t-closeness audit (functions/pii.t_closeness_audit, Li 2007) over
    the (event_type, day) quasi-identifier with the user-id decile
    cohort as the sensitive attribute — the skewness-attack gate that
    k-anonymity and l-diversity miss: per equivalence class the exact
    total-variation distance between its cohort distribution and the
    global one, |c_s*N - g_s*n_ec| cell terms in decimal(38,0) with the
    cramers_v closed-form zero-cell mass, released by ONE nonnegative
    trunc division as tvd_ppm."""
    from ..functions.pii import t_closeness_audit

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type",
        F.to_date("ts").alias("day"),
        (F.col("user_id") % 10).cast("long").alias("cohort"),
    )
    return t_closeness_audit(ev, ["event_type", "day"], "cohort", t_ppm=200_000)


O_T_CLOSENESS = """
with e as (
  select event_type, cast(ts as date) as day,
    cast(user_id % 10 as bigint) as sv
  from events
),
cells as (
  select event_type, day, sv, cast(count(*) as hugeint) as c
  from e group by 1, 2, 3
),
gcnt as (select sv, sum(c) as g from cells group by sv),
perq as (select event_type, day, sum(c) as nec from cells group by 1, 2),
n as (select sum(g) as nn from gcnt),
d as (
  select c.event_type, c.day, c.c, g.g, p.nec, n.nn
  from cells c
  join gcnt g using (sv)
  join perq p using (event_type, day)
  cross join n
),
agg as (
  select event_type, day,
    cast(max(nec) as bigint) as k_count,
    cast(((sum(abs(c * nn - g * nec)) + (max(nn) - sum(g)) * max(nec)) * 1000000)
         // (2 * max(nec) * max(nn)) as bigint) as tvd_ppm
  from d group by event_type, day
)
select event_type, day, k_count, tvd_ppm,
  cast(tvd_ppm <= 200000 as int) as meets_t
from agg
"""

QUERIES["t_closeness"] = q_t_closeness
ORACLES["t_closeness"] = O_T_CLOSENESS


# --- exact decision stump (best 1-D Gini split per feature) -------------------------

def q_decision_stump(spark, sf_dir):
    """Exact CART decision stump per text feature (functions/stats.
    gini_best_split): the threshold on n_chars / n_words / n_distinct /
    max_wlen best separating English documents by Gini purity — the
    actionable companion to mi_features/chi2_features for quality-filter
    threshold tuning. Candidate splits are the distinct feature values;
    the purity criterion (sL2*nR + sR2*nL)/(nL*nR*n) is released by one
    trunc division in decimal(38,0) and the per-feature argmax is
    (purity DESC, v ASC) — engine-exact end to end. One cell aggregate +
    distinct-value-frame windows, no joins, no Python."""
    from ..functions.stats import gini_best_split

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.split(F.trim("text"), r"\s+")
    feat = docs.select(
        F.col("n_chars").cast("long").alias("n_chars"),
        F.size(toks).cast("long").alias("n_words"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        F.array_max(F.transform(toks, lambda x: F.length(x)))
        .cast("long")
        .alias("max_wlen"),
        (F.col("lang") == "en").cast("long").alias("y"),
    )
    return gini_best_split(
        feat, ["n_chars", "n_words", "n_distinct", "max_wlen"], "y"
    )


O_DECISION_STUMP = """
with f0 as (
  select n_chars, regexp_split_to_array(trim(text), '\\s+') as w,
    cast(lang = 'en' as bigint) as y
  from documents
),
base as (
  select cast(n_chars as bigint) as n_chars,
    cast(len(w) as bigint) as n_words,
    cast(len(list_distinct(w)) as bigint) as n_distinct,
    cast(list_max(list_transform(w, x -> length(x))) as bigint) as max_wlen,
    y
  from f0
),
fv as (
  select 'n_chars' as feature, n_chars as v, y from base
  union all select 'n_words', n_words, y from base
  union all select 'n_distinct', n_distinct, y from base
  union all select 'max_wlen', max_wlen, y from base
),
cells as (select feature, v, count(*) as cnt, sum(y) as pos from fv group by 1, 2),
cum as (
  select feature, v,
    sum(cnt) over (partition by feature order by v) as nl,
    sum(pos) over (partition by feature order by v) as posl,
    sum(cnt) over (partition by feature) as n,
    sum(pos) over (partition by feature) as npos
  from cells
),
scored as (
  select feature, v, nl, posl, n, npos,
    cast((((cast(posl as hugeint) * posl
            + cast(nl - posl as hugeint) * (nl - posl)) * (n - nl)
           + (cast(npos - posl as hugeint) * (npos - posl)
              + cast((n - nl) - (npos - posl) as hugeint)
                * ((n - nl) - (npos - posl))) * nl) * 1000000)
         // (cast(nl as hugeint) * (n - nl) * n) as bigint) as purity_micro
  from cum where nl < n
),
rk as (
  select *, row_number() over (
    partition by feature order by purity_micro desc, v asc) as rn
  from scored
)
select feature, cast(v as bigint) as threshold,
  cast(nl as bigint) as n_left, cast(n - nl as bigint) as n_right,
  cast(posl as bigint) as pos_left, cast(npos - posl as bigint) as pos_right,
  purity_micro
from rk where rn = 1
"""

QUERIES["decision_stump"] = q_decision_stump
ORACLES["decision_stump"] = O_DECISION_STUMP


# --- jackknife (delete-1 cluster) variance of the ratio metric ----------------------

def q_jackknife_ratio(spark, sf_dir):
    """Leave-one-user-out jackknife variance of the value-per-event
    ratio metric (functions/stats.jackknife_ratio_var) — the
    cluster-robust uncertainty for ratio metrics that per-row SEs
    understate when rows within a user are correlated. Pseudo-ratios
    (S - s_g)/(N - n_g) as matched trunc divisions in scaled integer
    cents, spread in the cleared-denominator decimal(38,0) form,
    var_jk = ((G-1)·T) div G³ — engine-exact end to end."""
    from ..functions.stats import jackknife_ratio_var

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return jackknife_ratio_var(ev, "user_id", "value")


O_JACKKNIFE_RATIO = """
with pg as (
  select user_id as g,
    sum(cast(floor(value * 100.0 + 0.5) as bigint)) as s_g,
    count(*) as n_g
  from events group by user_id
),
tot as (
  select sum(s_g) as s, sum(n_g) as n, count(*) as gc from pg
),
pseudo as (
  select pg.s_g, pg.n_g, t.s, t.n, t.gc,
    ((cast(t.s as hugeint) - pg.s_g) * 1000000) // (t.n - pg.n_g) as r_g
  from pg cross join tot t
),
sr as (select sum(r_g) as sr from pseudo)
select
  cast(max(p.gc) as bigint) as g_clusters,
  cast(max(p.n) as bigint) as n_events,
  cast(max(p.s) as bigint) as sum_cents,
  cast((cast(max(p.s) as hugeint) * 1000000) // max(p.n) as bigint) as ratio_micro,
  cast(((max(p.gc) - 1) * sum((p.gc * p.r_g - s.sr) * (p.gc * p.r_g - s.sr)))
       // (cast(max(p.gc) as hugeint) * max(p.gc) * max(p.gc)) as bigint)
    as jk_var_micro2
from pseudo p cross join sr s
"""

QUERIES["jackknife_ratio"] = q_jackknife_ratio
ORACLES["jackknife_ratio"] = O_JACKKNIFE_RATIO


# --- Benjamini-Hochberg FDR over per-segment permutation tests ----------------------

def q_bh_fdr(spark, sf_dir):
    """Benjamini-Hochberg step-up FDR control (functions/stats.
    bh_fdr_permutation) over the family of per-event-type exact
    permutation tests of the md5-arm value difference — the
    multiple-testing correction a per-segment experiment readout needs.
    Every stratum's add-one p is an exact ppm trunc division over B=64
    md5 pseudo-arms the oracle replays bit-for-bit; the BH comparison
    clears denominators to the pure-integer p_ppm*m <= rank*q_ppm."""
    from ..functions.stats import bh_fdr_permutation

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return bh_fdr_permutation(
        ev, "event_type", "user_id", "value", n_perms=64, q_ppm=100_000
    )


def _bh_fdr_oracle(n_perms: int = 64, q_ppm: int = 100_000) -> str:
    hexpr = _HEX7
    t_expr = (
        "abs(cast(sum(case when {a} = 0 then c end) as hugeint)"
        " * sum(case when {a} = 1 then 1 else 0 end)"
        " - cast(sum(case when {a} = 1 then c end) as hugeint)"
        " * sum(case when {a} = 0 then 1 else 0 end))"
    )
    return f"""
with pu as (
  select event_type as grp, user_id as uid,
    cast(sum(cast(floor(value * 100.0 + 0.5) as bigint)) as bigint) as c
  from events group by 1, 2
),
arm as (
  select grp, uid, c, cast(({hexpr}) % 2 as int) as arm
  from (select grp, uid, c, md5(cast(uid as varchar)) as h from pu)
),
obs as (
  select grp, {t_expr.format(a='arm')} as t_obs,
    cast(count(*) as bigint) as n_units
  from arm group by grp
),
reps as (
  select grp, uid, c, b, cast(({hexpr}) % 2 as int) as parm
  from (
    select grp, uid, c, tt.i + 1 as b,
      md5(concat(cast(uid as varchar), '#', cast(tt.i + 1 as varchar))) as h
    from pu, range(0, {n_perms}) tt(i)
  )
),
per_b as (
  select grp, b, {t_expr.format(a='parm')} as t
  from reps group by grp, b
),
p as (
  select o.grp, o.n_units,
    cast(sum(cast(pb.t >= o.t_obs as int)) as bigint) as n_extreme,
    cast(((1 + sum(cast(pb.t >= o.t_obs as int))) * 1000000)
         // ({n_perms} + 1) as bigint) as p_ppm
  from per_b pb join obs o using (grp)
  group by o.grp, o.n_units
),
rk as (
  select *, row_number() over (order by p_ppm asc, grp asc) as bh_rank,
    count(*) over () as m_tests
  from p
),
ks as (
  select *, max(case when p_ppm * m_tests <= bh_rank * {q_ppm}
                     then bh_rank else 0 end) over () as k_star
  from rk
)
select grp as event_type, n_units, n_extreme, p_ppm,
  cast(bh_rank as bigint) as bh_rank, cast(m_tests as bigint) as m_tests,
  cast(k_star as bigint) as k_star,
  cast(bh_rank <= k_star as int) as reject
from ks
"""


O_BH_FDR = _bh_fdr_oracle()

QUERIES["bh_fdr"] = q_bh_fdr
ORACLES["bh_fdr"] = O_BH_FDR


# --- off-policy evaluation by replay -------------------------------------------------

def q_replay_ope(spark, sf_dir):
    """Off-policy evaluation by replay (functions/stats.
    replay_policy_eval, Li 2011): fit the greedy best event_type per
    user-cohort context on the md5-even half of the log, replay it on
    the held-out half keeping only events whose logged arm equals the
    policy arm — the unbiased offline bandit-policy estimate. Matched
    trunc divisions in scaled cents; the oracle replays the md5 split
    and the (mean desc, arm asc) argmax bit-for-bit."""
    from ..functions.stats import replay_policy_eval

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "cohort", (F.col("user_id") % 4).cast("long")
    )
    return replay_policy_eval(ev, "cohort", "event_type", "value", "event_id")


def _replay_ope_oracle() -> str:
    hexpr = _HEX7
    return f"""
with base as (
  select cast(user_id % 4 as bigint) as ctx, event_type as arm,
    cast(floor(value * 100.0 + 0.5) as bigint) as c,
    cast(({hexpr}) % 2 as int) as s
  from (select *, md5(cast(event_id as varchar)) as h from events)
),
est as (
  select ctx, arm, sum(c) as sv, count(*) as n,
    (cast(sum(c) as hugeint) * 1000000) // count(*) as mean_micro
  from base where s = 0 group by ctx, arm
),
pol as (
  select ctx, arm as arm_star, cast(mean_micro as bigint) as train_mean_micro
  from (
    select *, row_number() over (
      partition by ctx order by mean_micro desc, arm asc) as rn
    from est
  ) where rn = 1
),
ev2 as (
  select b.ctx, b.arm, b.c, p.arm_star, p.train_mean_micro
  from base b join pol p using (ctx) where b.s = 1
)
select ctx as cohort,
  max(arm_star) as arm_star,
  max(train_mean_micro) as train_mean_micro,
  cast(count(*) as bigint) as n_eval,
  cast(sum(cast(arm = arm_star as int)) as bigint) as n_matched,
  cast(case when sum(cast(arm = arm_star as int)) = 0 then 0 else
    (cast(sum(case when arm = arm_star then c else 0 end) as hugeint) * 1000000)
    // sum(cast(arm = arm_star as int)) end as bigint) as replay_mean_micro
from ev2 group by ctx
"""


O_REPLAY_OPE = _replay_ope_oracle()

QUERIES["replay_ope"] = q_replay_ope
ORACLES["replay_ope"] = O_REPLAY_OPE


# --- linear CKA between exact and int8-quantized embeddings -------------------------

def q_cka_quantization(spark, sf_dir):
    """Linear Centered Kernel Alignment (operators/similarity.
    linear_cka_quantization, Kornblith 2019) between the exact embedding
    matrix and its int8-quantized codes — the representation-level
    quantization-damage meter next to rbo (ranking level) and ivf_recall
    (retrieval level). Cleared-denominator integer moments
    n·Σab − S_a·S_b per lane pair in decimal(38,0)/hugeint, squared
    alignment released as ONE fixed-order IEEE expression; the O(d²)
    scatter shuffle never touches O(rows)."""
    from ..operators.similarity import linear_cka_quantization

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return linear_cka_quantization(emb, "vec_id", "embedding")


O_CKA_QUANTIZATION = """
with e as (select vec_id as id, embedding from embeddings),
nn as (select count(*) as n from e),
s0 as (
  select id, embedding,
    (select max(abs(cast(u.x as double))) from unnest(embedding) as u(x)) as mx
  from e
),
lanes as (
  select id, 'x' as rep, generate_subscripts(embedding, 1) - 1 as j,
    cast(floor(cast(unnest(embedding) as double) * 1000.0 + 0.5) as bigint) as q
  from s0
  union all
  select id, 'y' as rep, generate_subscripts(embedding, 1) - 1 as j,
    cast(case when mx > 0 then greatest(-127, least(127,
      floor(cast(unnest(embedding) as double) * 127.0 / mx + 0.5)))
      else 0 end as bigint) as q
  from s0
),
s as (select rep, j, sum(cast(q as hugeint)) as sv from lanes group by rep, j),
cells0 as (
  select a.rep as ra, b.rep as rb, a.j as j, b.j as k,
    sum(cast(a.q as hugeint) * b.q) as sum_jk
  from lanes a join lanes b using (id)
  where a.rep <= b.rep
  group by 1, 2, 3, 4
),
cells as (
  select c.ra, c.rb,
    cast(nn.n as hugeint) * c.sum_jk - sj.sv * sk.sv as m
  from cells0 c
  join s sj on sj.rep = c.ra and sj.j = c.j
  join s sk on sk.rep = c.rb and sk.j = c.k
  cross join nn
),
agg as (
  select
    sum(case when ra = 'x' and rb = 'y' then m * m else 0 end) as num,
    sum(case when ra = 'x' and rb = 'x' then m * m else 0 end) as dx,
    sum(case when ra = 'y' and rb = 'y' then m * m else 0 end) as dy
  from cells
)
select cast(nn.n as bigint) as n_vecs,
  case when agg.dx > 0 and agg.dy > 0
    then (cast(agg.num as double) * cast(agg.num as double))
         / (cast(agg.dx as double) * cast(agg.dy as double))
    else 0.0 end as cka2_raw
from agg cross join nn
"""

QUERIES["cka_quantization"] = q_cka_quantization
ORACLES["cka_quantization"] = O_CKA_QUANTIZATION


# --- hubness of the k-NN graph -------------------------------------------------------

def q_ann_hubness(spark, sf_dir):
    """k-occurrence hubness (operators/similarity.knn_hubness,
    Radovanović 2010): skewness of the in-degree distribution of the
    exact cosine 5-NN graph — the high-dimensional failure-mode
    diagnostic (a few hub vectors dominating every neighbor list) next
    to ivf_recall and cka_quantization. Integer in-degree moments with
    cleared denominators B = n²S3 − 3nS1S2 + 2S1³, A = nS2 − S1²;
    skewness released as the signed square B²/A³ in one fixed-order
    IEEE expression."""
    from ..operators.similarity import knn_hubness

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    return knn_hubness(emb, k=5)


O_ANN_HUBNESS = f"""
with e as (select vec_id, embedding::DOUBLE[] as v from embeddings),
pairs as (
  select a.vec_id as query_id, b.vec_id as neighbor_id,
    list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))
         + {DIVISION_GUARD_EPS}) as cos
  from e a, e b where a.vec_id != b.vec_id
),
ranked as (
  select *, row_number() over (
    partition by query_id order by cos desc, neighbor_id) as rank
  from pairs
),
indeg as (
  select neighbor_id as node, count(*) as c from ranked where rank <= 5
  group by neighbor_id
),
deg as (
  select coalesce(i.c, 0) as c from e left join indeg i on e.vec_id = i.node
),
m as (
  select cast(count(*) as bigint) as n,
    cast(sum(c) as bigint) as s1,
    sum(cast(c as hugeint) * c) as s2,
    sum(cast(c as hugeint) * c * c) as s3,
    cast(max(c) as bigint) as max_indeg,
    cast(sum(cast(c = 0 as int)) as bigint) as n_orphans
  from deg
)
select n as n_vecs, 5 as k, max_indeg, n_orphans,
  case when (cast(n as hugeint) * s2 - cast(s1 as hugeint) * s1) > 0 then
    sign(cast(cast(n as hugeint) * n * s3 - 3 * cast(n as hugeint) * s1 * s2
              + 2 * cast(s1 as hugeint) * s1 * s1 as double))
    * (cast(cast(n as hugeint) * n * s3 - 3 * cast(n as hugeint) * s1 * s2
            + 2 * cast(s1 as hugeint) * s1 * s1 as double)
       * cast(cast(n as hugeint) * n * s3 - 3 * cast(n as hugeint) * s1 * s2
              + 2 * cast(s1 as hugeint) * s1 * s1 as double))
    / (cast(cast(n as hugeint) * s2 - cast(s1 as hugeint) * s1 as double)
       * cast(cast(n as hugeint) * s2 - cast(s1 as hugeint) * s1 as double)
       * cast(cast(n as hugeint) * s2 - cast(s1 as hugeint) * s1 as double))
  else 0.0 end as g1_sq_signed_raw
from m
"""

QUERIES["ann_hubness"] = q_ann_hubness
ORACLES["ann_hubness"] = O_ANN_HUBNESS


# --- leave-one-out target encoding ---------------------------------------------------

def q_loo_target_encoding(spark, sf_dir):
    """Leave-one-out target encoding of the tool category
    (operators/encoding.loo_target_encoding): every turn gets the mean
    `value` over all OTHER turns of its tool, (S − s_i)/(n − 1) — the
    fit-time encoding standard that kills self-leakage, complementing
    the expanding point-in-time form (target_encoding). Integer-cent
    sums, one fixed-order IEEE division per row; NULL tools form a real
    group (eqNullSafe join = SQL group-by-NULL semantics); singletons
    get NULL. One map-side-combinable groupBy + AQE-broadcastable join,
    no window over raw rows."""
    from ..operators import encoding

    t = transcripts_from_events(spark, sf_dir)
    out = encoding.loo_target_encoding(t, "tool", "value")
    return out.select(
        "conv_id", "turn_idx", "tool",
        F.col("tool_peers"),
        _r6x(F.col("tool_loo_te"), "tool_loo_te"),
    )


O_LOO_TARGET_ENCODING = f"""{_W},
pc as (
  select tool as cc,
    sum(cast(round(value * 100, 0) as bigint)) as s,
    count(*) as n
  from transcripts group by tool
)
select t.conv_id, t.turn_idx, t.tool,
  cast(pc.n - 1 as bigint) as tool_peers,
  case when pc.n - 1 > 0 then
    {_r6x_sql("(pc.s - cast(round(t.value * 100, 0) as bigint))"
              " / (100.0 * (pc.n - 1))")}
  end as tool_loo_te
from transcripts t join pc on t.tool is not distinct from pc.cc
"""

QUERIES["loo_target_encoding"] = q_loo_target_encoding
ORACLES["loo_target_encoding"] = O_LOO_TARGET_ENCODING


# --- cumulative gains / lift table ---------------------------------------------------

def q_lift_table(spark, sf_dir):
    """Decile cumulative-gains/lift table of the length-correlated label
    vs the length score (functions/evalmetrics.gains_table) — the
    targeting-decision view beside auc_score/roc_curve: per decile of
    the (score desc, doc_id asc) ranking, positives captured so far and
    cumulative lift over the base rate, both exact ppm trunc divisions.
    Global positions come from distinct-score offsets + a score-
    partitioned row_number (no single-task global window); the bucket is
    the closed-form ((rn−1)·10) div N + 1 on both engines."""
    from ..functions.evalmetrics import gains_table

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lbl = (
        (F.col("doc_id") * F.lit(2654435761)) % 1000
        < F.least(F.col("n_chars"), F.lit(999))
    ).cast("int")
    sc = docs.select(F.col("n_chars").alias("s"), lbl.alias("y"), "doc_id")
    return gains_table(sc, "s", "y", "doc_id", n_buckets=10)


O_LIFT_TABLE = f"""
with sc as (
  select n_chars as s,
    case when (doc_id * 2654435761) % 1000 < least(n_chars, 999)
         then 1 else 0 end as y,
    doc_id as rid
  from documents
),
g as (select s, count(*) as cnt from sc group by s),
off as (
  select s, coalesce(sum(cnt) over (
    order by s desc rows between unbounded preceding and 1 preceding), 0) as cb
  from g
),
tot as (select count(*) as nn, sum(y) as pp from sc),
pos as (
  select sc.y, t.nn, t.pp,
    cast(((o.cb + row_number() over (partition by sc.s order by sc.rid) - 1)
          * 10) // t.nn + 1 as int) as bucket
  from sc join off o using (s) cross join tot t
),
per_b as (
  select bucket, count(*) as n, sum(y) as n_pos, max(nn) as nn, max(pp) as pp
  from pos group by bucket
),
cum as (
  select bucket, n, n_pos, nn, pp,
    sum(n) over (order by bucket rows between unbounded preceding
                 and current row) as cum_n,
    sum(n_pos) over (order by bucket rows between unbounded preceding
                     and current row) as cum_pos
  from per_b
)
select bucket, cast(n as bigint) as n, cast(n_pos as bigint) as n_pos,
  cast(cum_n as bigint) as cum_n, cast(cum_pos as bigint) as cum_pos,
  cast(case when pp > 0 then (cum_pos * 1000000) // pp else 0 end as bigint)
    as capture_ppm,
  cast(case when pp > 0 and cum_n > 0 then
    (cast(cum_pos as hugeint) * nn * 1000000) // (cast(cum_n as hugeint) * pp)
    else 0 end as bigint) as lift_ppm
from cum
"""

QUERIES["lift_table"] = q_lift_table
ORACLES["lift_table"] = O_LIFT_TABLE




# --- Ljung-Box portmanteau whiteness test over the daily event series ------------------

def q_ljung_box(spark, sf_dir):
    """Ljung-Box portmanteau test (functions/stats.ljung_box) of the
    densified daily event-count series at lags 1-7 — the whiteness gate
    run before trusting iid CIs on daily metrics, completing the
    autocorrelation family (acf_features: per-conv values;
    cross_correlation: lead/lag between two series; this: one series vs
    its own past, aggregated into the chi-square(7) statistic). All
    moments are exact decimal(38,0)/hugeint integers of the n-cleared
    centered series u_t = n*y_t - S; each released float is one
    fixed-order IEEE expression, the Q sum is order-free (nano-quantized
    integer terms)."""
    from ..functions.stats import ljung_box

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    daily = ev.groupBy(
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    return ljung_box(daily, "d", "y", lags=7)


_LB_RK = "(cast(ck as double) / cast(c0 as double))"
_LB_TERM = (
    f"({_LB_RK} * {_LB_RK} * cast(n * (n + 2) as double)"
    " / cast(n - lag as double))"
)

O_LJUNG_BOX = f"""
with c as (
  select epoch_us(ts) // 86400000000 as d, cast(count(*) as bigint) as y
  from events group by 1
),
idx as (
  select unnest(generate_series((select min(d) from c),
                                (select max(d) from c))) as i
),
dense as (
  select idx.i, coalesce(c.y, 0) as y from idx left join c on c.d = idx.i
),
tot as (
  select cast(count(*) as bigint) as n, cast(sum(y) as bigint) as s
  from dense
),
u as (
  select i, t.n, cast(t.n * y - t.s as hugeint) as u0,
    cast(t.n * lead(y, 1) over (order by i) - t.s as hugeint) as u1,
    cast(t.n * lead(y, 2) over (order by i) - t.s as hugeint) as u2,
    cast(t.n * lead(y, 3) over (order by i) - t.s as hugeint) as u3,
    cast(t.n * lead(y, 4) over (order by i) - t.s as hugeint) as u4,
    cast(t.n * lead(y, 5) over (order by i) - t.s as hugeint) as u5,
    cast(t.n * lead(y, 6) over (order by i) - t.s as hugeint) as u6,
    cast(t.n * lead(y, 7) over (order by i) - t.s as hugeint) as u7
  from dense, tot t
),
g as (
  select max(n) as n, sum(u0 * u0) as c0,
    sum(u0 * u1) as c1,
    sum(u0 * u2) as c2,
    sum(u0 * u3) as c3,
    sum(u0 * u4) as c4,
    sum(u0 * u5) as c5,
    sum(u0 * u6) as c6,
    sum(u0 * u7) as c7
  from u
),
per as (
  select n, c0, 1 as lag, c1 as ck from g
  union all select n, c0, 2 as lag, c2 as ck from g
  union all select n, c0, 3 as lag, c3 as ck from g
  union all select n, c0, 4 as lag, c4 as ck from g
  union all select n, c0, 5 as lag, c5 as ck from g
  union all select n, c0, 6 as lag, c6 as ck from g
  union all select n, c0, 7 as lag, c7 as ck from g
)
select cast(lag as int) as lag, cast(n as bigint) as n,
  cast(n - lag as bigint) as n_pairs,
  case when c0 > 0 then floor({_LB_RK} * 1000000.0 + 0.5) / 1000000.0
       else 0.0 end as acf,
  cast(case when c0 > 0 then floor({_LB_TERM} * 1000000000.0)
       else 0 end as bigint) as lb_term_nano,
  cast(sum(cast(case when c0 > 0 then floor({_LB_TERM} * 1000000000.0)
                else 0 end as bigint))
       over (order by lag rows between unbounded preceding and current row)
       as bigint) as q_nano
from per
"""

QUERIES["ljung_box"] = q_ljung_box
ORACLES["ljung_box"] = O_LJUNG_BOX


# --- Kendall tau-b between the daily purchase and error series -------------------------

def q_kendall_tau(spark, sf_dir):
    """Kendall tau-b (functions/stats.kendall_tau) between daily
    purchase and error counts — the tie-robust monotone-association
    companion to spearman/cross_correlation: exact concordant /
    discordant / tie pair counts over the calendar-bounded days^2
    bounded-broadcast pair join, tau-b released as the house signed
    square (one IEEE division of exact integers, sqrt never crosses
    engines)."""
    from ..functions.stats import kendall_tau

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    daily = ev.groupBy(
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("d")
    ).agg(
        F.sum((F.col("event_type") == "purchase").cast("int"))
        .cast("long").alias("x"),
        F.sum((F.col("event_type") == "error").cast("int"))
        .cast("long").alias("y"),
    )
    return kendall_tau(daily, "d", "x", "y")


O_KENDALL_TAU = """
with daily as (
  select epoch_us(ts) // 86400000000 as d,
    cast(sum(case when event_type = 'purchase' then 1 else 0 end) as bigint) as x,
    cast(sum(case when event_type = 'error' then 1 else 0 end) as bigint) as y
  from events group by 1
),
p as (
  select a.x - b.x as dx, a.y - b.y as dy
  from daily a join daily b on a.d < b.d
),
g as (
  select cast(count(*) as bigint) as n_pairs,
    cast(sum(case when dx * dy > 0 then 1 else 0 end) as bigint) as nc,
    cast(sum(case when dx * dy < 0 then 1 else 0 end) as bigint) as nd,
    cast(sum(case when dx <> 0 then 1 else 0 end) as bigint) as n_dx,
    cast(sum(case when dy <> 0 then 1 else 0 end) as bigint) as n_dy
  from p
)
select n_pairs, nc, nd, n_dx, n_dy,
  case when n_dx > 0 and n_dy > 0 then
    floor((
      (case when nc - nd > 0 then 1.0 when nc - nd < 0 then -1.0 else 0.0 end)
      * cast(cast(nc - nd as hugeint) * (nc - nd) as double)
      / cast(cast(n_dx as hugeint) * n_dy as double)
    ) * 1000000.0 + 0.5) / 1000000.0
  else 0.0 end as tau_b2_signed
from g
"""

QUERIES["kendall_tau"] = q_kendall_tau
ORACLES["kendall_tau"] = O_KENDALL_TAU


# --- RFM quintile segmentation of the user base -----------------------------------------

def q_rfm_segments(spark, sf_dir):
    """RFM segmentation (functions/evalmetrics.rfm_segments): every user
    coded 1-5 on recency (1 = most recent), frequency and monetary
    (1 = heaviest), segments reported with exact integer cents — the
    classical user-triage grid beside lift_table (ranking one score)
    and cohort_retention (time view). Each code uses the engine-exact
    closed-form ntile over a BOUNDED distinct-value frame (recency is
    calendar-bounded, frequency count-bounded, monetary quantized to
    whole units), ties broken by user id."""
    from ..functions.evalmetrics import rfm_segments

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return rfm_segments(ev)


O_RFM_SEGMENTS = """
with pu as (
  select user_id as uid,
    max(cast(ts as date)) as last_d,
    cast(count(*) as bigint) as freq,
    cast(sum(case when event_type = 'purchase'
        then cast(floor(value * 100.0 + 0.5) as bigint) else 0 end)
      as bigint) as mon_cents
  from events group by 1
),
mx as (select max(cast(ts as date)) as mx_d from events),
u as (
  select uid,
    cast(date_diff('day', last_d, mx_d) as bigint) as rec,
    freq, mon_cents, mon_cents // 100 as mon_u
  from pu, mx
),
tot as (select cast(count(*) as bigint) as nn from u),
coded as (
  select uid, mon_cents,
    cast(((row_number() over (order by rec asc, uid asc) - 1) * 5)
         // t.nn + 1 as int) as r_q,
    cast(((row_number() over (order by freq desc, uid asc) - 1) * 5)
         // t.nn + 1 as int) as f_q,
    cast(((row_number() over (order by mon_u desc, uid asc) - 1) * 5)
         // t.nn + 1 as int) as m_q
  from u, tot t
)
select r_q, f_q, m_q,
  cast(count(*) as bigint) as n_users,
  cast(sum(mon_cents) as bigint) as total_cents,
  cast(sum(mon_cents) // count(*) as bigint) as mean_cents
from coded group by 1, 2, 3
"""

QUERIES["rfm_segments"] = q_rfm_segments
ORACLES["rfm_segments"] = O_RFM_SEGMENTS


# --- ecological diversity profile of each source's word distribution -------------------

def q_diversity_indices(spark, sf_dir):
    """Per-source lexical diversity (functions/corpus.diversity_indices):
    bias-corrected Chao1 richness estimate (exact integer micro),
    Simpson concentration lambda (exact ppm trunc division), Shannon
    word entropy (nano-quantized ln, order-free integer reduction) —
    the composition triage beside vocab_richness (observed counts) and
    entropy_report (language-mix entropy). One vocabulary-bounded
    (group, word) shuffle + one map-side-combinable groupBy."""
    from ..functions.corpus import diversity_indices

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return diversity_indices(docs, "source")


O_DIVERSITY_INDICES = """
with ww as (
  select source as grp,
    unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                        ' ')) as w
  from documents
),
wc as (
  select grp, w, cast(count(*) as bigint) as c
  from ww where w <> '' group by 1, 2
),
g as (
  select grp, cast(sum(c) as bigint) as n_tokens,
    cast(count(*) as bigint) as v_distinct,
    cast(sum(case when c = 1 then 1 else 0 end) as bigint) as f1,
    cast(sum(case when c = 2 then 1 else 0 end) as bigint) as f2,
    sum(cast(c as hugeint) * c) as cc,
    sum(cast(c as hugeint)
        * cast(floor(ln(cast(c as double)) * 1000000000.0 + 0.5) as hugeint))
      as wl
  from wc group by 1
)
select grp as source, n_tokens, v_distinct, f1, f2,
  cast(v_distinct * 1000000
       + (cast(f1 as hugeint) * (f1 - 1) * 1000000) // (2 * (f2 + 1))
       as bigint) as chao1_micro,
  cast(case when n_tokens >= 2 then
    ((cc - n_tokens) * 1000000)
      // (cast(n_tokens as hugeint) * (n_tokens - 1))
    else 0 end as bigint) as simpson_ppm,
  floor((floor(ln(cast(n_tokens as double)) * 1000000000.0 + 0.5)
           / 1000000000.0
         - cast(wl as double) / cast(n_tokens as double) / 1000000000.0)
        * 1000000.0 + 0.5) / 1000000.0 as entropy
from g
"""

QUERIES["diversity_indices"] = q_diversity_indices
ORACLES["diversity_indices"] = O_DIVERSITY_INDICES


# --- Granger lag-1 causality between the daily purchase and error series ----------------

def q_granger_lag1(spark, sf_dir):
    """Granger causality at lag 1, both directions (functions/stats.
    granger_lag1), purchase vs error daily counts: does yesterday's
    purchase volume predict today's errors beyond errors' own history
    (and vice versa)? The RSS gap collapses to a perfect square, so the
    F statistic is ONE fixed-order IEEE expression over exact
    decimal(38,0)/hugeint centered moments of the densified calendar
    series — the predictive upgrade over cross_correlation's
    association view."""
    from ..functions.stats import granger_lag1

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    daily = ev.groupBy(
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("d")
    ).agg(
        F.sum((F.col("event_type") == 'purchase').cast("int"))
        .cast("long").alias("x"),
        F.sum((F.col("event_type") == 'error').cast("int"))
        .cast("long").alias("y"),
    )
    return granger_lag1(daily, "d", "x", "y")


_GR_F = (
    "cast(n - 3 as double) * (cast(t as double) * cast(t as double))"
    " / (cast(c11 as double)"
    "    * (cast(cyy as double) * cast(det as double) - cast(q as double)))"
)

O_GRANGER_LAG1 = f"""
with c as (
  select epoch_us(ts) // 86400000000 as d,
    cast(sum(case when event_type = 'purchase' then 1 else 0 end) as bigint)
      as x,
    cast(sum(case when event_type = 'error' then 1 else 0 end) as bigint) as y
  from events group by 1
),
idx as (
  select unnest(generate_series((select min(d) from c),
                                (select max(d) from c))) as i
),
dense as (
  select idx.i, coalesce(c.x, 0) as x, coalesce(c.y, 0) as y
  from idx left join c on c.d = idx.i
),
lagged as (
  select x, y,
    lag(x, 1) over (order by i) as xl,
    lag(y, 1) over (order by i) as yl
  from dense
),
dirs as (
  select 'x_to_y' as direction, y as dep, yl as own, xl as xc
  from lagged where xl is not null
  union all
  select 'y_to_x', x, xl, yl from lagged where xl is not null
),
g as (
  select direction, cast(count(*) as bigint) as n,
    sum(cast(dep as hugeint)) as sy, sum(cast(own as hugeint)) as s1,
    sum(cast(xc as hugeint)) as s2,
    sum(cast(dep as hugeint) * dep) as pyy,
    sum(cast(own as hugeint) * own) as p11,
    sum(cast(xc as hugeint) * xc) as p22,
    sum(cast(own as hugeint) * xc) as p12,
    sum(cast(own as hugeint) * dep) as p1y,
    sum(cast(xc as hugeint) * dep) as p2y
  from dirs group by 1
),
m as (
  select direction, n,
    n * pyy - sy * sy as cyy, n * p11 - s1 * s1 as c11,
    n * p22 - s2 * s2 as c22, n * p12 - s1 * s2 as c12,
    n * p1y - s1 * sy as c1y, n * p2y - s2 * sy as c2y
  from g
),
f as (
  select direction, n, cyy, c11, c22, c12, c1y, c2y,
    c2y * c11 - c1y * c12 as t,
    c11 * c22 - c12 * c12 as det,
    c1y * c1y * c22 - 2 * c1y * c2y * c12 + c2y * c2y * c11 as q
  from m
)
select direction, n,
  cast(cyy as bigint) as syy, cast(c11 as bigint) as s11,
  cast(c22 as bigint) as s22, cast(c12 as bigint) as s12,
  cast(c1y as bigint) as s1y, cast(c2y as bigint) as s2y,
  floor((case when n > 3 and det > 0
         and cast(cyy as double) * cast(det as double) - cast(q as double) > 0
         then {_GR_F} else 0.0 end) * 1000000.0 + 0.5) / 1000000.0 as f_stat
from f
"""

QUERIES["granger_lag1"] = q_granger_lag1
ORACLES["granger_lag1"] = O_GRANGER_LAG1


# --- Haar multiresolution energy of the daily event series ------------------------------

def q_haar_energy(spark, sf_dir):
    """Haar wavelet energy decomposition (functions/stats.haar_energy) of
    the densified daily event-count series, levels 1-4 — which timescale
    (1-day jitter, 2-day, 4-day, 8-day swings) carries the variation:
    every Haar coefficient is an exact integer (pair difference of pair
    sums), energies are exact decimal(38,0) sums, the share is an exact
    ppm trunc division. The integer-exact periodogram substitute."""
    from ..functions.stats import haar_energy

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    daily = ev.groupBy(
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    return haar_energy(daily, "d", "y", levels=4)


O_HAAR_ENERGY = """
with c as (
  select epoch_us(ts) // 86400000000 as d, cast(count(*) as bigint) as y
  from events group by 1
),
idx as (
  select unnest(generate_series((select min(d) from c),
                                (select max(d) from c))) as i
),
l0 as (
  select idx.i, coalesce(c.y, 0) as y from idx left join c on c.d = idx.i
),
p1 as (
  select i // 2 as i2, count(*) as cnt,
    sum(case when i % 2 = 0 then y end) as a,
    sum(case when i % 2 <> 0 then y end) as b
  from l0 group by 1 having count(*) = 2
),
l1 as (select i2 as i, a + b as y from p1),
p2 as (
  select i // 2 as i2, count(*) as cnt,
    sum(case when i % 2 = 0 then y end) as a,
    sum(case when i % 2 <> 0 then y end) as b
  from l1 group by 1 having count(*) = 2
),
l2 as (select i2 as i, a + b as y from p2),
p3 as (
  select i // 2 as i2, count(*) as cnt,
    sum(case when i % 2 = 0 then y end) as a,
    sum(case when i % 2 <> 0 then y end) as b
  from l2 group by 1 having count(*) = 2
),
l3 as (select i2 as i, a + b as y from p3),
p4 as (
  select i // 2 as i2, count(*) as cnt,
    sum(case when i % 2 = 0 then y end) as a,
    sum(case when i % 2 <> 0 then y end) as b
  from l3 group by 1 having count(*) = 2
),
e as (
  select 1 as level, cast(count(*) as bigint) as n_pairs,
    coalesce(sum(cast(a - b as hugeint) * (a - b)), 0) as energy from p1
  union all
  select 2, cast(count(*) as bigint),
    coalesce(sum(cast(a - b as hugeint) * (a - b)), 0) from p2
  union all
  select 3, cast(count(*) as bigint),
    coalesce(sum(cast(a - b as hugeint) * (a - b)), 0) from p3
  union all
  select 4, cast(count(*) as bigint),
    coalesce(sum(cast(a - b as hugeint) * (a - b)), 0) from p4
)
select cast(level as int) as level, n_pairs, cast(energy as bigint) as energy,
  cast(case when sum(energy) over () > 0 then (energy * 1000000)
       // sum(energy) over () else 0 end as bigint) as energy_ppm
from e
"""

QUERIES["haar_energy"] = q_haar_energy
ORACLES["haar_energy"] = O_HAAR_ENERGY


# --- entity-level churn labeling (PIT feature/holdout split) ----------------------------

def q_churn_labels(spark, sf_dir):
    """Per-user churn training set (labeling/churn.churn_labels):
    cutoff = max day - 7; exact-integer features from rows at or before
    the cutoff ONLY (events, active days, cents, recency), label = zero
    rows after it — the turn-level zero-leakage contract applied at
    entity level. One max broadcast + one conditional-aggregate
    groupBy(user); users with no pre-cutoff rows are excluded."""
    from ..labeling.churn import churn_labels

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return churn_labels(ev, horizon_days=7)


O_CHURN_LABELS = """
with mx as (
  select max(epoch_us(ts) // 86400000000) as mx_d from events
),
r as (
  select user_id,
    epoch_us(ts) // 86400000000 as d,
    cast(floor(value * 100.0 + 0.5) as bigint) as cents,
    m.mx_d - 7 as cut
  from events, mx m
),
g as (
  select user_id,
    cast(sum(case when d <= cut then 1 else 0 end) as bigint) as n_events_pre,
    cast(count(distinct case when d <= cut then d end) as bigint)
      as active_days_pre,
    cast(coalesce(sum(case when d <= cut then cents end), 0) as bigint)
      as spend_cents_pre,
    max(case when d <= cut then d end) as last_pre,
    max(cut) as cut_max,
    cast(sum(case when d > cut then 1 else 0 end) as bigint) as n_post
  from r group by 1
)
select user_id, n_events_pre, active_days_pre, spend_cents_pre,
  cast(cut_max - last_pre as bigint) as recency_days_pre,
  cast(case when n_post = 0 then 1 else 0 end as int) as churned
from g where n_events_pre > 0
"""

QUERIES["churn_labels"] = q_churn_labels
ORACLES["churn_labels"] = O_CHURN_LABELS


# --- Qini uplift curve over md5 arms ----------------------------------------------------

def q_qini_curve(spark, sf_dir):
    """Qini uplift curve (functions/evalmetrics.qini_curve): users ranked
    by pre-cutoff activity (events with day <= max-7, the churn_labels
    feature window), md5 arms, response = any post-cutoff purchase; per
    decile the exact-integer incremental responders
    cumR_t - cumR_c*cumN_t/cumN_c in micro units — the uplift companion
    to lift_table (which cannot net out the control base rate)."""
    from ..functions.corpus import md5_bucket
    from ..functions.evalmetrics import qini_curve

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    d = F.expr("unix_micros(cast(ts as timestamp)) div 86400000000")
    mx = ev.agg(F.max(d).alias("_mx"))
    units = (
        ev.select(F.col("user_id").alias("uid"), d.alias("_d"), "event_type")
        .crossJoin(F.broadcast(mx))
        .groupBy("uid")
        .agg(
            F.sum((F.col("_d") <= F.col("_mx") - 7).cast("long"))
            .cast("long").alias("score"),
            F.max(
                ((F.col("_d") > F.col("_mx") - 7)
                 & (F.col("event_type") == "purchase")).cast("long")
            ).cast("long").alias("resp"),
        )
        .withColumn("arm", md5_bucket("uid", 2).cast("int"))
    )
    return qini_curve(units, "score", "arm", "resp", "uid", n_buckets=10)


O_QINI_CURVE = f"""
with mx as (select max(epoch_us(ts) // 86400000000) as mx_d from events),
pu as (
  select user_id as uid,
    cast(sum(case when epoch_us(ts) // 86400000000 <= m.mx_d - 7
             then 1 else 0 end) as bigint) as score,
    cast(max(case when epoch_us(ts) // 86400000000 > m.mx_d - 7
             and event_type = 'purchase' then 1 else 0 end) as bigint) as resp
  from events, mx m group by 1, m.mx_d
),
hx as (select uid, score, resp, md5(cast(uid as varchar)) as h from pu),
u as (select uid, score, resp, cast(({_HEX7}) % 2 as int) as arm from hx),
tot as (select cast(count(*) as bigint) as nn from u),
coded as (
  select arm, resp,
    cast(((row_number() over (order by score desc, uid asc) - 1) * 10)
         // t.nn + 1 as int) as bucket
  from u, tot t
),
per_b as (
  select bucket,
    cast(sum(case when arm = 0 then 1 else 0 end) as bigint) as n_t,
    cast(sum(case when arm <> 0 then 1 else 0 end) as bigint) as n_c,
    cast(sum(case when arm = 0 then resp else 0 end) as bigint) as r_t,
    cast(sum(case when arm <> 0 then resp else 0 end) as bigint) as r_c
  from coded group by 1
),
cum as (
  select bucket, n_t, n_c, r_t, r_c,
    cast(sum(n_t) over w as bigint) as cum_n_t,
    cast(sum(n_c) over w as bigint) as cum_n_c,
    cast(sum(r_t) over w as bigint) as cum_r_t,
    cast(sum(r_c) over w as bigint) as cum_r_c
  from per_b
  window w as (order by bucket rows between unbounded preceding
               and current row)
)
select bucket, n_t, n_c, r_t, r_c, cum_n_t, cum_n_c, cum_r_t, cum_r_c,
  cast(case when cum_n_c > 0 then cum_r_t * 1000000
       - (cast(cum_r_c as hugeint) * cum_n_t * 1000000) // cum_n_c
       else cum_r_t * 1000000 end as bigint) as qini_micro
from cum
"""

QUERIES["qini_curve"] = q_qini_curve
ORACLES["qini_curve"] = O_QINI_CURVE


# --- exact two-sided trimmed mean per event type ----------------------------------------

def q_trimmed_mean(spark, sf_dir):
    """10%-per-side trimmed mean of value cents per event type
    (functions/stats.trimmed_mean): the robust location the dashboards
    should quote — distinct-value frame + integer clipping, no per-row
    ranks, release one exact trunc division to micro units."""
    from ..functions.stats import trimmed_mean

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cents = ev.select(
        "event_type",
        F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
        .cast("long").alias("cents"),
    )
    return trimmed_mean(cents, "event_type", "cents", trim_ppm=100_000)


O_TRIMMED_MEAN = """
with vals as (
  select event_type as grp,
    cast(floor(value * 100.0 + 0.5) as bigint) as v
  from events
),
g as (select grp, v, cast(count(*) as bigint) as cnt from vals group by 1, 2),
c as (
  select grp, v, cnt,
    coalesce(sum(cnt) over (partition by grp order by v
      rows between unbounded preceding and 1 preceding), 0) as cb,
    sum(cnt) over (partition by grp) as n
  from g
),
kc as (
  select grp, v, cnt, cb, n, (n * 100000) // 1000000 as k from c
),
kept as (
  select grp, n, k,
    greatest(0, least(cb + cnt, n - k) - greatest(cb, k)) as kv, v
  from kc
)
select grp as event_type, cast(max(n) as bigint) as n,
  cast(max(k) as bigint) as k_trimmed,
  cast(sum(kv) as bigint) as n_kept,
  cast(case when max(n) - 2 * max(k) > 0 then
    (sum(cast(kv as hugeint) * v) * 1000000) // (max(n) - 2 * max(k))
    else null end as bigint) as trimmed_mean_micro
from kept group by grp
"""

QUERIES["trimmed_mean"] = q_trimmed_mean
ORACLES["trimmed_mean"] = O_TRIMMED_MEAN


# --- two-sample Anderson-Darling drift test between md5 arms ----------------------------

def q_anderson_darling(spark, sf_dir):
    """Tail-weighted two-sample Anderson-Darling A2_akN (Scholz-Stephens
    midrank version; functions/stats.anderson_darling_2s) of per-event
    value cents between the md5 user arms — completes the drift family:
    ks_test fires on the middle, wasserstein on value mass, THIS on the
    tails. Doubled midrank cumulatives keep everything integer; each
    term is one fixed-order IEEE expression nano-quantized before the
    order-free sum; the (N-1)/N factor is an exact trunc division."""
    from ..functions.corpus import md5_bucket
    from ..functions.stats import anderson_darling_2s

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    d = ev.select(
        md5_bucket("user_id", 2).cast("int").alias("arm"),
        F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
        .cast("long").alias("cents"),
    )
    return anderson_darling_2s(d, "arm", "cents")


O_ANDERSON_DARLING = f"""
with hx as (
  select md5(cast(user_id as varchar)) as h,
    cast(floor(value * 100.0 + 0.5) as bigint) as v
  from events
),
vals as (
  select case when ({_HEX7}) % 2 = 0 then 1 else 0 end as isa, v from hx
),
g as (
  select v, cast(count(*) as bigint) as l, cast(sum(isa) as bigint) as fa
  from vals group by 1
),
cum as (
  select v, l, fa,
    coalesce(sum(l) over (order by v
      rows between unbounded preceding and 1 preceding), 0) as bprev,
    coalesce(sum(fa) over (order by v
      rows between unbounded preceding and 1 preceding), 0) as maprev
  from g
),
tot as (
  select cast(count(*) as bigint) as nn, cast(sum(isa) as bigint) as na
  from vals
),
j as (
  select l, t.nn, t.na, t.nn - t.na as nb,
    2 * bprev + l as bb,
    2 * maprev + fa as mma,
    2 * (bprev - maprev) + (l - fa) as mmb,
    cast(2 * bprev + l as hugeint) * (2 * t.nn - (2 * bprev + l))
      - cast(t.nn as hugeint) * l as dc
  from cum, tot t
),
terms as (
  select nn, na, nb,
    (case when dc > 0 and na > 0 then cast(floor(
      cast(l as double)
      * (cast(cast(nn as hugeint) * mma - cast(na as hugeint) * bb as double)
         * cast(cast(nn as hugeint) * mma - cast(na as hugeint) * bb
                as double))
      / (cast(na as double) * cast(nn as double) * cast(dc as double))
      * 1000000000.0) as bigint) else 0 end)
    + (case when dc > 0 and nb > 0 then cast(floor(
      cast(l as double)
      * (cast(cast(nn as hugeint) * mmb - cast(nb as hugeint) * bb as double)
         * cast(cast(nn as hugeint) * mmb - cast(nb as hugeint) * bb
                as double))
      / (cast(nb as double) * cast(nn as double) * cast(dc as double))
      * 1000000000.0) as bigint) else 0 end) as t
  from j
)
select cast(max(na) as bigint) as n_a, cast(max(nb) as bigint) as n_b,
  cast(count(*) as bigint) as n_distinct,
  cast(((max(nn) - 1) * sum(cast(t as hugeint))) // max(nn) as bigint)
    as a2_nano
from terms
"""

QUERIES["anderson_darling"] = q_anderson_darling
ORACLES["anderson_darling"] = O_ANDERSON_DARLING


# --- Theil T inequality of document lengths per source ----------------------------------

def q_theil_index(spark, sf_dir):
    """Theil T inequality (functions/stats.theil_index) of document
    lengths per source — the decomposable concentration measure beside
    gini_lengths: T = (sum x ln x)/S - ln(S/n) with per-distinct-value
    nano-quantized ln (order-free integer reduction) and one fixed-order
    closing expression."""
    from ..functions.stats import theil_index

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return theil_index(docs, "source", "n_chars")


O_THEIL_INDEX = """
with vals as (
  select source as grp, cast(n_chars as bigint) as x
  from documents where n_chars > 0
),
g as (select grp, x, cast(count(*) as bigint) as c from vals group by 1, 2),
a as (
  select grp,
    sum(cast(c as hugeint) * x) as s,
    cast(sum(c) as bigint) as n,
    sum(cast(c as hugeint) * x
        * cast(floor(ln(cast(x as double)) * 1000000000.0 + 0.5) as hugeint))
      as wl
  from g group by 1
)
select grp as source, n, cast(s as bigint) as total,
  floor((cast(wl as double) / cast(s as double) / 1000000000.0
         - floor(ln(cast(s as double) / cast(n as double)) * 1000000000.0
                 + 0.5) / 1000000000.0)
        * 1000000.0 + 0.5) / 1000000.0 as theil_t
from a
"""

QUERIES["theil_index"] = q_theil_index
ORACLES["theil_index"] = O_THEIL_INDEX


# --- seasonal-naive MASE of the daily event series --------------------------------------

def q_mase_seasonal(spark, sf_dir):
    """Seasonal-naive MASE (functions/stats.mase_seasonal) on the
    densified daily event counts: is "same as last week" better than
    "same as yesterday"? Both error sums pure integers over the shared
    t >= 7 support, the ratio one exact ppm trunc division — the
    scale-free forecastability gate beside seasonal_decompose (which
    fits the pattern) and ljung_box (which tests whiteness)."""
    from ..functions.stats import mase_seasonal

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    daily = ev.groupBy(
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    return mase_seasonal(daily, "d", "y", period=7)


O_MASE_SEASONAL = """
with c as (
  select epoch_us(ts) // 86400000000 as d, cast(count(*) as bigint) as y
  from events group by 1
),
idx as (
  select unnest(generate_series((select min(d) from c),
                                (select max(d) from c))) as i
),
dense as (
  select idx.i, coalesce(c.y, 0) as y from idx left join c on c.d = idx.i
),
lagged as (
  select y, lag(y, 1) over (order by i) as l1,
    lag(y, 7) over (order by i) as lp
  from dense
)
select cast(count(*) as bigint) as n_scored,
  cast(sum(abs(y - l1)) as bigint) as sum_abs_naive1,
  cast(sum(abs(y - lp)) as bigint) as sum_abs_seasonal,
  cast(case when sum(abs(y - l1)) > 0 then
    (cast(sum(abs(y - lp)) as hugeint) * 1000000) // sum(abs(y - l1))
    else null end as bigint) as mase_ppm
from lagged where lp is not null
"""

QUERIES["mase_seasonal"] = q_mase_seasonal
ORACLES["mase_seasonal"] = O_MASE_SEASONAL


# --- cohort LTV curve --------------------------------------------------------------------

def q_ltv_curve(spark, sf_dir):
    """Cohort LTV curve (functions/stats.ltv_curve): users cohorted by
    first-event epoch week, cumulative purchase cents by cohort age,
    per-user LTV as an exact micro trunc division — the revenue
    companion to cohort_retention. One groupBy(user) + one join back +
    one (cohort, age) aggregate + an age-bounded cumulative window."""
    from ..functions.stats import ltv_curve

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ltv_curve(ev)


O_LTV_CURVE = """
with ev as (
  select user_id as uid,
    epoch_us(ts) // 604800000000 as wk,
    case when event_type = 'purchase'
         then cast(floor(value * 100.0 + 0.5) as bigint) else 0 end as cents
  from events
),
cohorts as (select uid, min(wk) as cwk from ev group by 1),
sizes as (
  select cwk, cast(count(*) as bigint) as cohort_users from cohorts group by 1
),
per_age as (
  select c.cwk, e.wk - c.cwk as age_weeks,
    cast(sum(e.cents) as bigint) as spend
  from ev e join cohorts c using (uid)
  group by 1, 2
),
cum as (
  select cwk, age_weeks, spend,
    cast(sum(spend) over (partition by cwk order by age_weeks
      rows between unbounded preceding and current row) as bigint)
      as cum_spend_cents
  from per_age
)
select cast(cum.cwk as bigint) as cohort_week,
  cast(age_weeks as bigint) as age_weeks,
  s.cohort_users,
  spend as spend_cents, cum_spend_cents,
  cast((cast(cum_spend_cents as hugeint) * 1000000) // s.cohort_users
       as bigint) as ltv_micro
from cum join sizes s using (cwk)
"""

QUERIES["ltv_curve"] = q_ltv_curve
ORACLES["ltv_curve"] = O_LTV_CURVE


# --- referential-integrity audit over the warehouse schema ------------------------------

def q_fk_orphan_audit(spark, sf_dir):
    """Whole-schema foreign-key audit (validation.fk_orphan_audit):
    orphan and NULL-key counts with exact ppm rates for the four core
    relations (lineitem->orders, orders->customer, customer->nation,
    supplier->nation) — the ingestion gate that catches a broken
    upstream export before features silently lose rows. One left-anti
    join per relation (the join IS the certificate), unioned."""
    from ..validation import fk_orphan_audit

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    od = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cu = spark.read.parquet(f"{sf_dir}/customer.parquet")
    na = spark.read.parquet(f"{sf_dir}/nation.parquet")
    su = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    out = fk_orphan_audit(li, od, "l_orderkey", "o_orderkey",
                          "lineitem->orders")
    out = out.unionByName(fk_orphan_audit(od, cu, "o_custkey", "c_custkey",
                                          "orders->customer"))
    out = out.unionByName(fk_orphan_audit(cu, na, "c_nationkey",
                                          "n_nationkey", "customer->nation"))
    out = out.unionByName(fk_orphan_audit(su, na, "s_nationkey",
                                          "n_nationkey", "supplier->nation"))
    return out


O_FK_ORPHAN_AUDIT = """
with rel as (
  select 'lineitem->orders' as relation,
    cast((select count(*) from lineitem) as bigint) as n_child,
    cast((select count(*) from lineitem where l_orderkey is null) as bigint)
      as n_null_keys,
    cast((select count(*) from lineitem l
          where l.l_orderkey is not null
          and not exists (select 1 from orders o
                          where o.o_orderkey = l.l_orderkey)) as bigint)
      as n_orphans
  union all
  select 'orders->customer',
    cast((select count(*) from orders) as bigint),
    cast((select count(*) from orders where o_custkey is null) as bigint),
    cast((select count(*) from orders o
          where o.o_custkey is not null
          and not exists (select 1 from customer c
                          where c.c_custkey = o.o_custkey)) as bigint)
  union all
  select 'customer->nation',
    cast((select count(*) from customer) as bigint),
    cast((select count(*) from customer where c_nationkey is null) as bigint),
    cast((select count(*) from customer c
          where c.c_nationkey is not null
          and not exists (select 1 from nation n
                          where n.n_nationkey = c.c_nationkey)) as bigint)
  union all
  select 'supplier->nation',
    cast((select count(*) from supplier) as bigint),
    cast((select count(*) from supplier where s_nationkey is null) as bigint),
    cast((select count(*) from supplier s
          where s.s_nationkey is not null
          and not exists (select 1 from nation n
                          where n.n_nationkey = s.s_nationkey)) as bigint)
)
select relation, n_child, n_null_keys, n_orphans,
  cast(case when n_child - n_null_keys > 0 then
    (cast(n_orphans as hugeint) * 1000000) // (n_child - n_null_keys)
    else 0 end as bigint) as orphan_ppm
from rel
"""

QUERIES["fk_orphan_audit"] = q_fk_orphan_audit
ORACLES["fk_orphan_audit"] = O_FK_ORPHAN_AUDIT


# --- cold-start exposure under the serving-time temporal split --------------------------

def q_coldstart_coverage(spark, sf_dir):
    """Cold-start coverage (validation.coldstart_coverage): under the
    temporal split serving actually faces (cutoff = max day - 7, the
    churn/qini window), how much of each holdout-active entity
    population — tools, users, event types — is FIRST SEEN after the
    cutoff and therefore featureless at serving time. Exact counts +
    ppm trunc divisions; one groupBy(entity) per dimension."""
    from ..validation import coldstart_coverage

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    t = _t(spark, sf_dir)
    out = coldstart_coverage(t, "tool", "ts", "tool")
    out = out.unionByName(coldstart_coverage(ev, "user_id", "ts", "user"))
    out = out.unionByName(
        coldstart_coverage(ev, "event_type", "ts", "event_type")
    )
    return out


O_COLDSTART_COVERAGE = f"""{_W},
dims as (
  select 'tool' as entity, cast(tool as varchar) as e,
    epoch_us(ts) // 86400000000 as d
  from transcripts where tool is not null
  union all
  select 'user', cast(user_id as varchar), epoch_us(ts) // 86400000000
  from events where user_id is not null
  union all
  select 'event_type', event_type, epoch_us(ts) // 86400000000
  from events where event_type is not null
),
mx as (select entity, max(d) as mxd from dims group by 1),
per_e as (
  select dims.entity, e, min(d) as first_d, max(d) as last_d,
    max(m.mxd) - 7 as cut
  from dims join mx m using (entity) group by dims.entity, e
)
select entity,
  cast(sum(case when first_d <= cut then 1 else 0 end) as bigint)
    as n_train_entities,
  cast(sum(case when last_d > cut then 1 else 0 end) as bigint)
    as n_holdout_active,
  cast(sum(case when first_d > cut then 1 else 0 end) as bigint)
    as n_coldstart,
  cast(case when sum(case when last_d > cut then 1 else 0 end) > 0 then
    (cast(sum(case when first_d > cut then 1 else 0 end) as hugeint)
     * 1000000) // sum(case when last_d > cut then 1 else 0 end)
    else 0 end as bigint) as coldstart_ppm
from per_e group by entity
"""

QUERIES["coldstart_coverage"] = q_coldstart_coverage
ORACLES["coldstart_coverage"] = O_COLDSTART_COVERAGE


# --- Chapman capture-recapture vocabulary estimate --------------------------------------

def q_capture_recapture(spark, sf_dir):
    """Chapman capture-recapture vocabulary estimate per source
    (functions/corpus.capture_recapture): each source is one "capture",
    the rest of the corpus the other; N-hat = ((n1+1)(n2+1)) div (m+1)
    - 1 in exact micro units — the cross-source coverage meter beside
    diversity_indices' within-source Chao1."""
    from ..functions.corpus import capture_recapture

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return capture_recapture(docs, "source")


O_CAPTURE_RECAPTURE = """
with sw as (
  select distinct source as grp, w from (
    select source,
      unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ',
                                         'g'), ' ')) as w
    from documents
  ) where w <> ''
),
shares as (select w, cast(count(*) as bigint) as k from sw group by 1),
tot as (select cast(count(*) as bigint) as vt from shares),
per_s as (
  select grp, cast(count(*) as bigint) as n1,
    cast(sum(case when k >= 2 then 1 else 0 end) as bigint) as m
  from sw join shares using (w) group by 1
)
select grp as source, n1,
  cast(t.vt - (n1 - m) as bigint) as n2, m, t.vt as v_total,
  cast(((cast(n1 as hugeint) + 1) * ((t.vt - (n1 - m)) + 1) * 1000000)
       // (m + 1) - 1000000 as bigint) as chapman_micro
from per_s, tot t
"""

QUERIES["capture_recapture"] = q_capture_recapture
ORACLES["capture_recapture"] = O_CAPTURE_RECAPTURE


# --- Fisher class-separability of the embedding cloud -----------------------------------

def q_fisher_separability(spark, sf_dir):
    """Fisher LDA-style separability ratio J = between/within scatter of
    the labeled embeddings (operators/similarity.fisher_separability):
    micro-quantized lanes, every per-class division an exact trunc
    division so B and W are order-free integer sums, one IEEE division
    at release — "will a linear probe find these classes" beside
    cka_quantization and embedding_drift."""
    from ..operators.similarity import fisher_separability

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return fisher_separability(emb, "vec_id", "embedding", "label")


O_FISHER_SEPARABILITY = """
with lanes as (
  select label as c,
    generate_subscripts(embedding, 1) - 1 as j,
    cast(floor(cast(unnest(embedding) as double) * 1000000.0 + 0.5)
         as bigint) as q
  from embeddings
),
cells as (
  select c, j, cast(count(*) as bigint) as nc,
    sum(cast(q as hugeint)) as s1,
    sum(cast(q as hugeint) * q) as s2
  from lanes group by 1, 2
),
per_lane as (
  select j, cast(sum(nc) as bigint) as n, cast(count(*) as bigint) as k,
    sum(s1) as s1g, sum(s2) as s2g,
    sum((s1 * s1) // nc) as tsum
  from cells group by 1
),
lt as (
  select n, k, tsum - (s1g * s1g) // n as b, s2g - tsum as w
  from per_lane
)
select cast(max(n) as bigint) as n, cast(count(*) as bigint) as d,
  cast(max(k) as bigint) as n_classes,
  cast(sum(b) as bigint) as between_sum,
  cast(sum(w) as bigint) as within_sum,
  case when sum(w) > 0 then
    floor((cast(sum(b) as double) / cast(sum(w) as double))
          * 1000000.0 + 0.5) / 1000000.0
  else 0.0 end as fisher_ratio
from lt
"""

QUERIES["fisher_separability"] = q_fisher_separability
ORACLES["fisher_separability"] = O_FISHER_SEPARABILITY


# --- multi-level ROLLUP revenue report over the warehouse dims ---------------------------

def q_revenue_rollup(spark, sf_dir):
    """Region/nation ROLLUP revenue report — the multi-level aggregation
    surface (Spark rollup == SQL GROUP BY ROLLUP) over the TPC-H star:
    lineitem revenue in exact cents (floor(price*(1-disc)*100 + 0.5),
    one fixed-order IEEE expression per row, then pure integer sums)
    joined through orders->customer->nation->region; nation subtotals,
    region subtotals and the grand total in ONE pass with grouping_id
    disambiguating the levels — no per-level rescan."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    od = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cu = spark.read.parquet(f"{sf_dir}/customer.parquet")
    na = spark.read.parquet(f"{sf_dir}/nation.parquet")
    re = spark.read.parquet(f"{sf_dir}/region.parquet")
    rev = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        * F.lit(100.0) + F.lit(0.5)
    ).cast("long")
    j = (
        li.select("l_orderkey", rev.alias("_cents"))
        .join(od.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cu.select("c_custkey", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(na.select("n_nationkey", "n_regionkey",
                                    F.col("n_name").alias("nation"))),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(re.select("r_regionkey",
                                    F.col("r_name").alias("region"))),
              F.col("n_regionkey") == F.col("r_regionkey"))
    )
    out = j.rollup("region", "nation").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum("_cents").cast("long").alias("revenue_cents"),
        F.grouping_id().cast("int").alias("gid"),
    )
    return out.select("region", "nation", "gid", "n_items", "revenue_cents")


O_REVENUE_ROLLUP = """
select r.r_name as region, n.n_name as nation,
  cast(grouping(r.r_name) * 2 + grouping(n.n_name) as int) as gid,
  cast(count(*) as bigint) as n_items,
  cast(sum(cast(floor(l.l_extendedprice * (1.0 - l.l_discount) * 100.0 + 0.5)
       as bigint)) as bigint) as revenue_cents
from lineitem l
join orders o on o.o_orderkey = l.l_orderkey
join customer c on c.c_custkey = o.o_custkey
join nation n on n.n_nationkey = c.c_nationkey
join region r on r.r_regionkey = n.n_regionkey
group by rollup(r.r_name, n.n_name)
"""

QUERIES["revenue_rollup"] = q_revenue_rollup
ORACLES["revenue_rollup"] = O_REVENUE_ROLLUP


# --- measured recall of banded MinHash vs the exact Jaccard truth ------------------------

def q_minhash_recall(spark, sf_dir):
    """LSH honesty meter (operators/dedup.minhash_recall): realized
    recall and precision-proxy of the 16-hash/4-band MinHash candidate
    generator against the EXACT shingle-Jaccard >= 0.8 truth set —
    full corpus: 3-shingles are discriminative here (max shingle
    doc-freq 25 at sf0.1, self-join 2.8M rows), so the exact truth join
    is cheap without sampling — completing the approximation-meter family beside
    ivf_recall and dbscan_recall. Both rates exact ppm trunc
    divisions."""
    from ..operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.minhash_recall(docs, k=3, num_hashes=16,
                                bands=4, threshold_pct=80)


O_MINHASH_RECALL = f"""
with shingled as (
  select doc_id, unnest(
    case when len(words) >= 3 then
      list_distinct([array_to_string(words[i:i+2], ' ')
                     for i in range(1, len(words) - 1)])
    else [array_to_string(words, ' ')] end
  ) as shingle
  from (
    select doc_id,
      string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                   ' ') as words
    from documents
  )
),
m as (select doc_id, cast(count(*) as bigint) as msz from shingled group by 1),
co as (
  select a.doc_id as id_a, b.doc_id as id_b, cast(count(*) as bigint) as inter
  from shingled a join shingled b
    on a.shingle = b.shingle and a.doc_id < b.doc_id
  group by 1, 2
),
truth as (
  select id_a, id_b from co
  join m ma on ma.doc_id = co.id_a
  join m mb on mb.doc_id = co.id_b
  where cast(inter as double)
        / cast(ma.msz + mb.msz - inter as double) >= 0.8
),
sigs as (
  select doc_id as id,
    min(md5('0|' || shingle)) as sig_0,
    min(md5('1|' || shingle)) as sig_1,
    min(md5('2|' || shingle)) as sig_2,
    min(md5('3|' || shingle)) as sig_3,
    min(md5('4|' || shingle)) as sig_4,
    min(md5('5|' || shingle)) as sig_5,
    min(md5('6|' || shingle)) as sig_6,
    min(md5('7|' || shingle)) as sig_7,
    min(md5('8|' || shingle)) as sig_8,
    min(md5('9|' || shingle)) as sig_9,
    min(md5('10|' || shingle)) as sig_10,
    min(md5('11|' || shingle)) as sig_11,
    min(md5('12|' || shingle)) as sig_12,
    min(md5('13|' || shingle)) as sig_13,
    min(md5('14|' || shingle)) as sig_14,
    min(md5('15|' || shingle)) as sig_15
  from shingled group by doc_id
),
banded as (
  select id,
    '0:' || md5(sig_0 || '#' || sig_1 || '#' || sig_2 || '#' || sig_3) as band_0,
    '1:' || md5(sig_4 || '#' || sig_5 || '#' || sig_6 || '#' || sig_7) as band_1,
    '2:' || md5(sig_8 || '#' || sig_9 || '#' || sig_10 || '#' || sig_11) as band_2,
    '3:' || md5(sig_12 || '#' || sig_13 || '#' || sig_14 || '#' || sig_15) as band_3
  from sigs
),
melted as (select id, unnest([band_0, band_1, band_2, band_3]) as band_key from banded),
cand as (
  select distinct a.id as id_a, b.id as id_b
  from melted a join melted b using (band_key)
  where a.id < b.id
),
ht as (
  select cast(count(*) as bigint) as n_truth,
    cast(coalesce(sum(case when c.id_a is not null then 1 else 0 end), 0)
         as bigint) as n_hit
  from truth t left join cand c
    on c.id_a = t.id_a and c.id_b = t.id_b
),
nc as (select cast(count(*) as bigint) as n_candidates from cand)
select ht.n_truth, nc.n_candidates, ht.n_hit,
  cast(case when ht.n_truth > 0 then
    (cast(ht.n_hit as hugeint) * 1000000) // ht.n_truth else 0 end as bigint)
    as recall_ppm,
  cast(case when nc.n_candidates > 0 then
    (cast(ht.n_hit as hugeint) * 1000000) // nc.n_candidates
    else 0 end as bigint) as precision_proxy_ppm
from ht, nc
"""

QUERIES["minhash_recall"] = q_minhash_recall
ORACLES["minhash_recall"] = O_MINHASH_RECALL


# --- TPC-H Q13 analog: customer order-count distribution --------------------------------

def q_customer_distribution(spark, sf_dir):
    """Histogram of customers by order count, zeros included — TPC-H
    Q13's LEFT OUTER + double aggregation. The orders side is
    pre-aggregated to customer cardinality BEFORE the outer join (one
    map-side-combinable groupBy on o_custkey), so the join never fans
    out and the second aggregation runs over exactly |customer| rows.
    All counts pure integers."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select("c_custkey")
    per_cust = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    counts = cust.join(
        per_cust, cust["c_custkey"] == per_cust["o_custkey"], "left_outer"
    ).select(F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("c_count"))
    return counts.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("long").alias("custdist")
    )


O_CUSTOMER_DISTRIBUTION = """
select c_count, cast(count(*) as bigint) as custdist
from (
  select cast(coalesce(o.cnt, 0) as bigint) as c_count
  from customer c
  left join (select o_custkey, count(*) as cnt from orders group by 1) o
    on o.o_custkey = c.c_custkey
)
group by c_count
"""

QUERIES["customer_distribution"] = q_customer_distribution
ORACLES["customer_distribution"] = O_CUSTOMER_DISTRIBUTION


# --- TPC-H Q17 analog: small-quantity revenue per brand ---------------------------------

def q_small_quantity_revenue(spark, sf_dir):
    """Revenue sitting in below-one-fifth-of-average-quantity line items,
    per part brand — TPC-H Q17's correlated-average predicate with the
    division cleared: q < sum_q / (5*n)  ⇔  5*q*n < sum_q, exact because
    quantities are integral. One groupBy(l_partkey) builds the per-part
    moment table (same cardinality as part), joined back on the shuffle
    key it was built on; price cents via the house fixed-order
    floor(p*100+0.5); final rollup per brand is a tiny aggregate."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_partkey",
        F.col("l_quantity").cast("long").alias("qty"),
        F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long").alias("cents"),
    )
    per_part = li.groupBy("l_partkey").agg(
        F.sum("qty").cast("long").alias("sum_q"),
        F.count(F.lit(1)).cast("long").alias("n_q"),
    )
    below = (
        li.join(per_part.withColumnRenamed("l_partkey", "pk"),
                F.col("l_partkey") == F.col("pk"))
        .where(F.lit(5) * F.col("qty") * F.col("n_q") < F.col("sum_q"))
    )
    part = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        "p_partkey", "p_brand"
    )
    return (
        below.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
    )


O_SMALL_QUANTITY_REVENUE = """
with li as (
  select l_partkey, cast(l_quantity as bigint) as qty,
    cast(floor(l_extendedprice * 100.0 + 0.5) as bigint) as cents
  from lineitem
),
pp as (
  select l_partkey as pk, cast(sum(qty) as bigint) as sum_q,
    cast(count(*) as bigint) as n_q
  from li group by 1
)
select p.p_brand, cast(count(*) as bigint) as n_items,
  cast(sum(li.cents) as bigint) as revenue_cents
from li
join pp on pp.pk = li.l_partkey
join part p on p.p_partkey = li.l_partkey
where 5 * li.qty * pp.n_q < pp.sum_q
group by p.p_brand
"""

QUERIES["small_quantity_revenue"] = q_small_quantity_revenue
ORACLES["small_quantity_revenue"] = O_SMALL_QUANTITY_REVENUE


# --- TPC-H Q18 analog: large-volume customers --------------------------------------------

def q_large_volume_customers(spark, sf_dir):
    """Orders whose total line quantity exceeds 250, with the customer
    who placed them — TPC-H Q18's GROUP BY + HAVING pushed BELOW the
    joins: lineitem collapses to per-order quantity totals first, the
    HAVING filter drops ~97% of orders before any join, and only the
    survivors touch orders/customer. Quantities are integral so the
    threshold decision is pure integer."""
    per_order = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("total_qty"))
        .where(F.col("total_qty") > 250)
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long").alias("totalprice_cents"),
    )
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_name"
    )
    return (
        per_order.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "c_name", "o_orderkey", "orderdate",
                "totalprice_cents", "total_qty")
    )


O_LARGE_VOLUME_CUSTOMERS = """
with po as (
  select l_orderkey, cast(sum(cast(l_quantity as bigint)) as bigint) as total_qty
  from lineitem group by 1
  having sum(cast(l_quantity as bigint)) > 250
)
select c.c_custkey, c.c_name, o.o_orderkey,
  strftime(o.o_orderdate, '%Y-%m-%d') as orderdate,
  cast(floor(o.o_totalprice * 100.0 + 0.5) as bigint) as totalprice_cents,
  po.total_qty
from po
join orders o on o.o_orderkey = po.l_orderkey
join customer c on c.c_custkey = o.o_custkey
"""

QUERIES["large_volume_customers"] = q_large_volume_customers
ORACLES["large_volume_customers"] = O_LARGE_VOLUME_CUSTOMERS


# --- TPC-H Q21 analog: suppliers who kept multi-supplier orders waiting ------------------

def q_waiting_suppliers(spark, sf_dir):
    """Per supplier: multi-supplier orders where THIS supplier shipped
    late (> 75 days after the order date) and no co-supplier did —
    TPC-H Q21's EXISTS + NOT EXISTS as a LEFT SEMI then LEFT ANTI join,
    both equi on l_orderkey with the supplier-inequality as a residual
    condition (never a cartesian). The late set is built once from one
    lineitem⋈orders pass and reused on both sides of the anti join;
    counts pure integers."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    od = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderdate"
    )
    late = (
        li.join(od, li["l_orderkey"] == od["o_orderkey"])
        .where(F.col("l_shipdate")
               > F.col("o_orderdate") + F.expr("INTERVAL 75 DAYS"))
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    all_pairs = li.select("l_orderkey", "l_suppkey").distinct()
    o2 = all_pairs.select(
        F.col("l_orderkey").alias("ok2"), F.col("l_suppkey").alias("sk2")
    )
    l3 = late.select(
        F.col("l_orderkey").alias("ok3"), F.col("l_suppkey").alias("sk3")
    )
    waiting = (
        late.join(
            o2,
            (late["l_orderkey"] == o2["ok2"]) & (late["l_suppkey"] != o2["sk2"]),
            "left_semi",
        )
        .join(
            l3,
            (late["l_orderkey"] == l3["ok3"]) & (late["l_suppkey"] != l3["sk3"]),
            "left_anti",
        )
    )
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        "s_suppkey", "s_name"
    )
    return (
        waiting.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
    )


O_WAITING_SUPPLIERS = """
with late as (
  select distinct l.l_orderkey, l.l_suppkey
  from lineitem l join orders o on o.o_orderkey = l.l_orderkey
  where l.l_shipdate > o.o_orderdate + interval 75 day
)
select s.s_name, cast(count(*) as bigint) as numwait
from late l1
join supplier s on s.s_suppkey = l1.l_suppkey
where exists (
    select 1 from lineitem l2
    where l2.l_orderkey = l1.l_orderkey and l2.l_suppkey <> l1.l_suppkey
  )
  and not exists (
    select 1 from late l3
    where l3.l_orderkey = l1.l_orderkey and l3.l_suppkey <> l1.l_suppkey
  )
group by s.s_name
"""

QUERIES["waiting_suppliers"] = q_waiting_suppliers
ORACLES["waiting_suppliers"] = O_WAITING_SUPPLIERS


# --- TPC-H Q7 generalized: international trade-flow matrix -------------------------------

def q_trade_flow(spark, sf_dir):
    """Cross-nation revenue matrix (supplier nation → customer nation,
    per ship year) — TPC-H Q7 generalized from one nation pair to the
    full trade-flow matrix so every SF has non-trivial support. The two
    fact-sized joins (lineitem⋈orders, orders⋈customer) carry ONLY keys
    + the c4 revenue term; nation names arrive via two broadcast-sized
    dim joins AFTER the matrix has collapsed to ≤ nations²·years rows.
    Revenue sums in decimal(38,0) (c4 × corpus rows wraps int64 at the
    100-TB point), released via the house fixed-order r6x."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    ).select(
        "l_orderkey", "l_suppkey",
        F.year("l_shipdate").cast("long").alias("ship_year"),
        _rev_c4().alias("rev_c4"),
    )
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        "s_suppkey", F.col("s_nationkey").alias("supp_nk")
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", F.col("c_nationkey").alias("cust_nk")
    )
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        "n_nationkey", "n_name"
    )
    cells = (
        li.join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .where(F.col("supp_nk") != F.col("cust_nk"))
        .groupBy("supp_nk", "cust_nk", "ship_year")
        .agg(
            F.sum(F.col("rev_c4").cast("decimal(38,0)")).alias("rev_c4"),
            F.count(F.lit(1)).cast("long").alias("n_items"),
        )
    )
    return (
        cells.join(F.broadcast(nation), F.col("supp_nk") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("supp_nation"), "cust_nk", "ship_year",
            "rev_c4", "n_items",
        )
        .join(F.broadcast(nation), F.col("cust_nk") == F.col("n_nationkey"))
        .select(
            "supp_nation", F.col("n_name").alias("cust_nation"), "ship_year",
            _r6x(F.col("rev_c4").cast("double") / F.lit(1.0e4), "revenue"),
            "n_items",
        )
    )


O_TRADE_FLOW = """
with cells as (
  select s.s_nationkey as supp_nk, c.c_nationkey as cust_nk,
    cast(year(l.l_shipdate) as bigint) as ship_year,
    sum(cast(round(l.l_extendedprice * 100, 0) as hugeint)
        * (100 - cast(round(l.l_discount * 100, 0) as bigint))) as rev_c4,
    cast(count(*) as bigint) as n_items
  from lineitem l
  join supplier s on s.s_suppkey = l.l_suppkey
  join orders o on o.o_orderkey = l.l_orderkey
  join customer c on c.c_custkey = o.o_custkey
  where l.l_shipdate >= timestamp '1996-01-01'
    and l.l_shipdate < timestamp '1998-01-01'
    and s.s_nationkey <> c.c_nationkey
  group by 1, 2, 3
)
select ns.n_name as supp_nation, nc.n_name as cust_nation, ship_year,
  floor((cast(rev_c4 as double) / 1e4) * 1000000.0 + 0.5) / 1000000.0 as revenue,
  n_items
from cells
join nation ns on ns.n_nationkey = cells.supp_nk
join nation nc on nc.n_nationkey = cells.cust_nk
"""

QUERIES["trade_flow"] = q_trade_flow
ORACLES["trade_flow"] = O_TRADE_FLOW


# --- TPC-H Q8 analog: supplier-region market share ---------------------------------------

def q_market_share(spark, sf_dir):
    """Per ship year, each supplier REGION's share of the revenue that
    ASIA customers spent on PROMO parts — TPC-H Q8's share-of-total
    nested aggregation with the single nation widened to the five
    supplier regions (non-trivial at every SF). Facts shuffle once into
    (year, supp_region) cells in decimal(38,0); the per-year total is a
    ≤years-row aggregate joined back broadcast; the share is ONE exact
    ppm trunc division of nonnegative integers — no float crosses
    engines until the r6x revenue release."""
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        "n_nationkey", "n_regionkey"
    )
    region = spark.read.parquet(f"{sf_dir}/region.parquet").select(
        "r_regionkey", "r_name"
    )
    asia_nk = nation.join(
        F.broadcast(region.where(F.col("r_name") == "ASIA")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select(F.col("n_nationkey").alias("asia_nk"))
    cust = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .join(F.broadcast(asia_nk), F.col("c_nationkey") == F.col("asia_nk"))
        .select("c_custkey")
    )
    promo = spark.read.parquet(f"{sf_dir}/part.parquet").where(
        F.col("p_type") == "PROMO"
    ).select("p_partkey")
    supp_reg = (
        spark.read.parquet(f"{sf_dir}/supplier.parquet")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", F.col("r_name").alias("supp_region"))
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        F.year("l_shipdate").cast("long").alias("ship_year"),
        _rev_c4().alias("rev_c4"),
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    cells = (
        li.join(promo, li["l_partkey"] == promo["p_partkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(supp_reg), li["l_suppkey"] == supp_reg["s_suppkey"])
        .groupBy("ship_year", "supp_region")
        .agg(F.sum(F.col("rev_c4").cast("decimal(38,0)")).alias("rev_c4"))
    )
    totals = cells.groupBy("ship_year").agg(
        F.sum("rev_c4").alias("tot_c4")
    )
    return (
        cells.join(F.broadcast(totals), "ship_year")
        .select(
            "ship_year", "supp_region",
            _r6x(F.col("rev_c4").cast("double") / F.lit(1.0e4), "revenue"),
            F.expr("cast(rev_c4 * 1000000 div tot_c4 as long)").alias("share_ppm"),
        )
    )


O_MARKET_SHARE = """
with asia_cust as (
  select c.c_custkey
  from customer c
  join nation n on n.n_nationkey = c.c_nationkey
  join region r on r.r_regionkey = n.n_regionkey
  where r.r_name = 'ASIA'
),
supp_reg as (
  select s.s_suppkey, r.r_name as supp_region
  from supplier s
  join nation n on n.n_nationkey = s.s_nationkey
  join region r on r.r_regionkey = n.n_regionkey
),
cells as (
  select cast(year(l.l_shipdate) as bigint) as ship_year, sr.supp_region,
    sum(cast(round(l.l_extendedprice * 100, 0) as hugeint)
        * (100 - cast(round(l.l_discount * 100, 0) as bigint))) as rev_c4
  from lineitem l
  join part p on p.p_partkey = l.l_partkey and p.p_type = 'PROMO'
  join orders o on o.o_orderkey = l.l_orderkey
  join asia_cust c on c.c_custkey = o.o_custkey
  join supp_reg sr on sr.s_suppkey = l.l_suppkey
  group by 1, 2
),
tot as (
  select ship_year, sum(rev_c4) as tot_c4 from cells group by 1
)
select cells.ship_year, cells.supp_region,
  floor((cast(rev_c4 as double) / 1e4) * 1000000.0 + 0.5) / 1000000.0 as revenue,
  cast((rev_c4 * 1000000) // tot_c4 as bigint) as share_ppm
from cells join tot on tot.ship_year = cells.ship_year
"""

QUERIES["market_share"] = q_market_share
ORACLES["market_share"] = O_MARKET_SHARE


# --- TPC-H Q19 analog: disjunctive-predicate discounted revenue --------------------------

def q_disjunctive_revenue(spark, sf_dir):
    """Revenue under an OR of three (type, quantity-range, size-range)
    conjunctions — TPC-H Q19's disjunctive join predicate. The part
    attributes needed by the OR ride a broadcast of the PRE-FILTERED
    part rows (any branch's size window), so the disjunction evaluates
    as a residual on a broadcast hash join — never a fan-out or a
    cartesian; one branch tag per row lets the rollup stay per-branch.
    Quantities/sizes integral → the predicate is pure integer."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_partkey",
        F.col("l_quantity").cast("long").alias("qty"),
        _rev_c4().alias("rev_c4"),
    )
    part = spark.read.parquet(f"{sf_dir}/part.parquet").where(
        F.col("p_type").isin("SMALL", "MEDIUM", "LARGE")
    ).select("p_partkey", "p_type", F.col("p_size").cast("long").alias("psize"))
    j = li.join(part, li["l_partkey"] == part["p_partkey"])
    branch = (
        F.when(
            (F.col("p_type") == "SMALL")
            & F.col("qty").between(1, 15) & F.col("psize").between(1, 20),
            F.lit("small"),
        )
        .when(
            (F.col("p_type") == "MEDIUM")
            & F.col("qty").between(10, 25) & F.col("psize").between(11, 30),
            F.lit("medium"),
        )
        .when(
            (F.col("p_type") == "LARGE")
            & F.col("qty").between(20, 35) & F.col("psize").between(21, 40),
            F.lit("large"),
        )
    )
    return (
        j.select(branch.alias("branch"), "rev_c4")
        .where(F.col("branch").isNotNull())
        .groupBy("branch")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            _r6x(
                F.sum(F.col("rev_c4").cast("decimal(38,0)")).cast("double")
                / F.lit(1.0e4),
                "revenue",
            ),
        )
    )


O_DISJUNCTIVE_REVENUE = """
with j as (
  select
    case
      when p.p_type = 'SMALL' and l.l_quantity between 1 and 15
        and p.p_size between 1 and 20 then 'small'
      when p.p_type = 'MEDIUM' and l.l_quantity between 10 and 25
        and p.p_size between 11 and 30 then 'medium'
      when p.p_type = 'LARGE' and l.l_quantity between 20 and 35
        and p.p_size between 21 and 40 then 'large'
    end as branch,
    cast(round(l.l_extendedprice * 100, 0) as hugeint)
      * (100 - cast(round(l.l_discount * 100, 0) as bigint)) as rev_c4
  from lineitem l
  join part p on p.p_partkey = l.l_partkey
  where p.p_type in ('SMALL', 'MEDIUM', 'LARGE')
)
select branch, cast(count(*) as bigint) as n_items,
  floor((cast(sum(rev_c4) as double) / 1e4) * 1000000.0 + 0.5) / 1000000.0
    as revenue
from j where branch is not null
group by branch
"""

QUERIES["disjunctive_revenue"] = q_disjunctive_revenue
ORACLES["disjunctive_revenue"] = O_DISJUNCTIVE_REVENUE


# --- TPC-H Q15 analog: top supplier by quarterly revenue ----------------------------------

def q_top_supplier(spark, sf_dir):
    """Supplier(s) with the maximum 1996-Q1 revenue — TPC-H Q15's
    view + correlated max as: one per-supplier aggregate (map-side
    combinable, decimal(38,0)), a 1-row max aggregate of THAT tiny
    frame, and an equi join back on revenue equality (broadcast, ties
    preserved — the SQL correlated-subquery semantics exactly). The
    fact table is filtered to the quarter at the scan; no window over
    raw rows, no global sort."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    ).select("l_suppkey", _rev_c4().alias("rev_c4"))
    per_supp = li.groupBy("l_suppkey").agg(
        F.sum(F.col("rev_c4").cast("decimal(38,0)")).alias("rev_c4")
    )
    mx = per_supp.agg(F.max("rev_c4").alias("max_c4"))
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        "s_suppkey", "s_name"
    )
    return (
        per_supp.join(F.broadcast(mx), per_supp["rev_c4"] == mx["max_c4"])
        .join(F.broadcast(supp), F.col("l_suppkey") == supp["s_suppkey"])
        .select(
            "s_name",
            _r6x(F.col("rev_c4").cast("double") / F.lit(1.0e4), "total_revenue"),
        )
    )


O_TOP_SUPPLIER = """
with ps as (
  select l_suppkey,
    sum(cast(round(l_extendedprice * 100, 0) as hugeint)
        * (100 - cast(round(l_discount * 100, 0) as bigint))) as rev_c4
  from lineitem
  where l_shipdate >= timestamp '1996-01-01'
    and l_shipdate < timestamp '1996-04-01'
  group by 1
)
select s.s_name,
  floor((cast(ps.rev_c4 as double) / 1e4) * 1000000.0 + 0.5) / 1000000.0
    as total_revenue
from ps
join supplier s on s.s_suppkey = ps.l_suppkey
where ps.rev_c4 = (select max(rev_c4) from ps)
"""

QUERIES["top_supplier"] = q_top_supplier
ORACLES["top_supplier"] = O_TOP_SUPPLIER


# --- TPC-H Q6 analog: forecast revenue change ---------------------------------------------

def q_forecast_revenue(spark, sf_dir):
    """Discounted revenue that would have been gained by dropping the
    discount on small-quantity 1996 shipments — TPC-H Q6, the pure
    scan-predicate query: every filter (ship-year range, discount band,
    quantity cap) is pushable to the parquet scan and the whole plan is
    one partial-aggregable 1-row sum. The forecast term itself
    (price × discount) is exact c4 integer arithmetic."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & (F.col("l_discount") >= F.lit(0.03))
        & (F.col("l_discount") <= F.lit(0.07))
        & (F.col("l_quantity") < F.lit(25))
    )
    gain_c4 = (
        F.round(F.col("l_extendedprice") * 100, 0).cast("long")
        * F.round(F.col("l_discount") * 100, 0).cast("long")
    )
    return li.agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        _r6x(
            F.sum(gain_c4.cast("decimal(38,0)")).cast("double") / F.lit(1.0e4),
            "forecast_gain",
        ),
    )


O_FORECAST_REVENUE = """
select cast(count(*) as bigint) as n_items,
  floor((cast(sum(cast(round(l_extendedprice * 100, 0) as hugeint)
                  * cast(round(l_discount * 100, 0) as bigint)) as double)
         / 1e4) * 1000000.0 + 0.5) / 1000000.0 as forecast_gain
from lineitem
where l_shipdate >= timestamp '1996-01-01'
  and l_shipdate < timestamp '1997-01-01'
  and l_discount >= 0.03 and l_discount <= 0.07
  and l_quantity < 25
"""

QUERIES["forecast_revenue"] = q_forecast_revenue
ORACLES["forecast_revenue"] = O_FORECAST_REVENUE


# --- Multinomial Naive Bayes corpus router ------------------------------------------------

def q_naive_bayes(spark, sf_dir):
    """Multinomial NB language router (functions/corpus.
    naive_bayes_confusion): add-one-smoothed count model fit on the
    md5-even half of `documents`, held-out confusion matrix on the odd
    half — the count-based sibling of logistic_probe. Every weight is a
    nano-quantized ln of a ratio of exact integers, scores are pure
    int64 sums, argmax ties break (score desc, label asc); the oracle
    replays the identical model CTE by CTE."""
    from ..functions.corpus import naive_bayes_confusion

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return naive_bayes_confusion(docs, "lang")


O_NAIVE_BAYES = f"""
with tok0 as (
  select doc_id as _id, lang as _y,
    (({_HEX7}) % 2 = 0) as _train, w
  from (
    select doc_id, lang, md5(cast(doc_id as varchar)) as h,
      unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
             ' ')) as w
    from documents
  )
  where w <> ''
),
tok as (
  select _id, _y, _train, w, cast(count(*) as bigint) as cnt
  from tok0 group by 1, 2, 3, 4
),
train as (select * from tok where _train),
cls as (
  select _y, cast(count(distinct _id) as bigint) as docs_c,
    cast(sum(cnt) as bigint) as n_c
  from train group by 1
),
vocab as (select distinct w from train),
v_tot as (select cast(count(*) as bigint) as v from vocab),
docs_tot as (select cast(count(distinct _id) as bigint) as docs_tot from train),
cls_full as (
  select _y,
    cast(floor(ln(cast(docs_c as double) / cast(docs_tot as double))
         * 1000000000.0 + 0.5) as bigint) as prior_nano,
    cast(floor(ln(1.0 / cast(n_c + v as double)) * 1000000000.0 + 0.5)
         as bigint) as default_nano,
    cast(n_c + v as bigint) as denom
  from cls, v_tot, docs_tot
),
model as (
  select wc.w, wc._y,
    cast(floor(ln(cast(c_wc + 1 as double) / cast(denom as double))
         * 1000000000.0 + 0.5) as bigint) as w_nano
  from (
    select w, _y, cast(sum(cnt) as bigint) as c_wc
    from train group by 1, 2
  ) wc
  join cls_full cf on cf._y = wc._y
),
test as (
  select t.* from tok t semi join vocab v on v.w = t.w where not t._train
),
known as (
  select _id, _y, cast(sum(cnt) as bigint) as known_tokens
  from test group by 1, 2
),
matched as (
  select t._id, m._y as _c,
    cast(sum(t.cnt * m.w_nano) as bigint) as m_sum,
    cast(sum(t.cnt) as bigint) as m_cnt
  from test t join model m on m.w = t.w
  group by 1, 2
),
scored as (
  select k._id, k._y, c._y as _c,
    c.prior_nano + coalesce(m.m_sum, 0)
      + (k.known_tokens - coalesce(m.m_cnt, 0)) * c.default_nano as score
  from known k
  cross join cls_full c
  left join matched m on m._id = k._id and m._c = c._y
),
pred as (
  select _id, _y, _c,
    row_number() over (partition by _id order by score desc, _c asc) as rn
  from scored
)
select _y as label_true, _c as label_pred,
  cast(count(*) as bigint) as n_docs
from pred where rn = 1
group by 1, 2
"""

QUERIES["naive_bayes"] = q_naive_bayes
ORACLES["naive_bayes"] = O_NAIVE_BAYES


# --- Jarque-Bera normality gate ------------------------------------------------------------

def q_jarque_bera(spark, sf_dir):
    """Per-source Jarque-Bera normality test of document lengths
    (functions/stats.jarque_bera): truncated-mean origin shift kills
    the raw-magnitude blowup, residual power sums in decimal(38,0)/
    hugeint, the origin-invariant cleared moments A2/A3/A4 exact
    integers, and b1/b2/JB each ONE fixed-order IEEE expression —
    the distribution-shape gate before trusting z-scores on a metric."""
    from ..functions.stats import jarque_bera

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return jarque_bera(docs, "source", "n_chars")


O_JARQUE_BERA = """
with v as (select source as _g, cast(n_chars as bigint) as _y from documents),
means as (
  select _g, cast(count(*) as bigint) as _n, cast(sum(_y) as bigint) as _s1
  from v group by 1
),
mm as (select _g, _n, _s1 // _n as _c from means),
d as (
  select v._g, mm._n, cast(v._y - mm._c as hugeint) as _d
  from v join mm on mm._g = v._g
),
s as (
  select _g, _n, sum(_d) as d1, sum(_d*_d) as d2,
    sum(_d*_d*_d) as d3, sum(_d*_d*_d*_d) as d4
  from d group by 1, 2
),
m as (
  select _g, _n,
    cast(_n as hugeint)*d2 - d1*d1 as a2,
    cast(_n as hugeint)*_n*d3 - 3*_n*d1*d2 + 2*d1*d1*d1 as a3,
    cast(_n as hugeint)*_n*_n*d4 - 4*_n*_n*d1*d3
      + 6*_n*d1*d1*d2 - 3*d1*d1*d1*d1 as a4
  from s
)
select _g as source, _n as n,
  case when a2 > 0 and _n >= 8 then
    floor(((cast(a3 as double) * cast(a3 as double))
           / (cast(a2 as double) * cast(a2 as double) * cast(a2 as double)))
          * 1000000.0 + 0.5) / 1000000.0 end as skew2,
  case when a2 > 0 and _n >= 8 then
    floor((cast(a4 as double) / (cast(a2 as double) * cast(a2 as double)))
          * 1000000.0 + 0.5) / 1000000.0 end as kurtosis,
  case when a2 > 0 and _n >= 8 then
    floor((cast(_n as double)
           * ((cast(a3 as double) * cast(a3 as double))
              / (cast(a2 as double) * cast(a2 as double) * cast(a2 as double))
              / 6.0
              + (cast(a4 as double) / (cast(a2 as double) * cast(a2 as double))
                 - 3.0)
                * (cast(a4 as double) / (cast(a2 as double) * cast(a2 as double))
                   - 3.0) / 24.0))
          * 1000000.0 + 0.5) / 1000000.0 end as jb_stat
from m
"""

QUERIES["jarque_bera"] = q_jarque_bera
ORACLES["jarque_bera"] = O_JARQUE_BERA


# --- Single-source BFS hop layers ----------------------------------------------------------

def q_bfs_hops(spark, sf_dir):
    """BFS hop distances (functions/graph.bfs_hops) over the tool
    co-usage graph from the max-weighted-degree tool (ties → name asc)
    — the reachability probe of the graph family; first visit IS the
    minimum hop, so the unrolled frontier expansion needs no min pass.
    Spark builds the co-usage edge list; the layers finish on the driver
    (one bounded collect). The oracle replays them as ONE DuckDB WITH
    RECURSIVE over the same undirected adjacency — the driver-loop ↔
    recursive-SQL equivalence certificate."""
    from ..functions.graph import bfs_hops

    t = transcripts_from_events(spark, sf_dir)
    d = t.filter(F.col("tool").isNotNull()).select("conv_id", "tool").distinct()
    a = d.select("conv_id", F.col("tool").alias("tool_a"))
    b = d.select("conv_id", F.col("tool").alias("tool_b"))
    edges = (
        a.join(b, "conv_id")
        .filter(F.col("tool_a") < F.col("tool_b"))
        .groupBy("tool_a", "tool_b")
        .agg(F.count(F.lit(1)).cast("long").alias("convs"))
    )
    out = bfs_hops(edges, "tool_a", "tool_b", weight_col="convs", max_depth=4)
    return out.select(F.col("node").alias("tool"), "dist")


O_BFS_HOPS = _W.replace("with ", "with recursive ", 1) + """,
dt as (select distinct conv_id, tool from transcripts where tool is not null),
e as (
  select a.tool as ta, b.tool as tb, cast(count(*) as bigint) as w
  from dt a join dt b on a.conv_id = b.conv_id and a.tool < b.tool
  group by 1, 2
),
und as (
  select ta as src, tb as dst, w from e
  union all
  select tb as src, ta as dst, w from e
),
adj as (select distinct src, dst from und),
deg as (select src as node, cast(sum(w) as bigint) as dw from und group by 1),
seed as (select node from deg order by dw desc, node asc limit 1),
bfs(node, dist) as (
  select node, 0 from seed
  union
  select a.dst, b.dist + 1
  from bfs b join adj a on a.src = b.node
  where b.dist < 4
)
select node as tool, cast(min(dist) as bigint) as dist
from bfs group by 1
"""

QUERIES["bfs_hops"] = q_bfs_hops
ORACLES["bfs_hops"] = O_BFS_HOPS


# --- Laplace-mechanism DP histogram ---------------------------------------------------------

def q_dp_histogram(spark, sf_dir):
    """ε-DP daily event-type histogram (functions/privacy.dp_histogram,
    Dwork 2006): per-cell count + Laplace(1/ε) noise from a keyed md5
    uniform through the exact inverse CDF — deterministic (replayable,
    oracle-exact) by design; the docstring states loudly that a
    production release swaps the md5 coin for real entropy. Completes
    the privacy ladder (k-anon / l-div / t-closeness / randomized
    response / tombstone) with the central-DP release mechanism. The
    true count never appears in the output."""
    from ..functions.privacy import dp_histogram

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", F.to_date("ts").alias("day")
    )
    return dp_histogram(ev, ["event_type", "day"])


O_DP_HISTOGRAM = f"""
with c as (
  select event_type, cast(ts as date) as day,
    cast(count(*) as bigint) as n
  from events group by 1, 2
),
hx as (
  select event_type, day, n,
    md5('dp' || event_type || cast(day as varchar)) as h
  from c
),
u as (
  select event_type, day, n,
    (cast(({_HEX7}) as double) + 0.5) / 268435456.0 - 0.5 as uu
  from hx
)
select event_type, day,
  n * 1000 + cast(floor(((-(1000000.0 / 1000000.0) * sign(uu))
    * ln(1.0 - 2.0 * abs(uu))) * 1000.0 + 0.5) as bigint) as noisy_milli,
  cast(1000000 as bigint) as epsilon_micro
from u
"""

QUERIES["dp_histogram"] = q_dp_histogram
ORACLES["dp_histogram"] = O_DP_HISTOGRAM


# --- TPC-H Q1 analog: pricing summary report ----------------------------------------------

def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1, the canonical pricing-summary scan-aggregate (reference
    analog: the per-regime summary tables of README.md:430-460): one
    filtered scan of lineitem, one map-side-combinable groupBy on the
    2x2 (returnflag, linestatus) grid — no join, no window, no shuffle
    beyond 4 cells. All money is exact integer arithmetic until release:
    base price in cents (c2), discounted price in c4 = cents*(100-d),
    charge in c6 = cents*(100-d)*(100+t); sums in decimal(38,0) (hugeint
    on the oracle), averages as fixed-order IEEE divisions of exact
    integer sums so both engines produce bit-identical doubles."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").where(
        F.col("l_shipdate") <= F.lit("1998-09-02")
    )
    qty = F.round(F.col("l_quantity"), 0).cast("long")
    ep_c = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    d = F.round(F.col("l_discount") * 100, 0).cast("long")
    t = F.round(F.col("l_tax") * 100, 0).cast("long")
    disc_c4 = ep_c * (100 - d)
    charge_c6 = ep_c * (100 - d) * (100 + t)
    dec = "decimal(38,0)"
    return (
        li.select(
            "l_returnflag",
            "l_linestatus",
            qty.alias("qty"),
            ep_c.alias("ep_c"),
            d.alias("d"),
            disc_c4.alias("disc_c4"),
            charge_c6.alias("charge_c6"),
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("qty").cast("long").alias("sum_qty"),
            _r6x(
                F.sum(F.col("ep_c").cast(dec)).cast("double") / F.lit(100.0),
                "sum_base_price",
            ),
            _r6x(
                F.sum(F.col("disc_c4").cast(dec)).cast("double") / F.lit(1.0e4),
                "sum_disc_price",
            ),
            _r6x(
                F.sum(F.col("charge_c6").cast(dec)).cast("double") / F.lit(1.0e6),
                "sum_charge",
            ),
            _r6x(
                F.sum("qty").cast("double") / F.count(F.lit(1)).cast("double"),
                "avg_qty",
            ),
            _r6x(
                F.sum(F.col("ep_c").cast(dec)).cast("double")
                / F.count(F.lit(1)).cast("double")
                / F.lit(100.0),
                "avg_price",
            ),
            _r6x(
                F.sum("d").cast("double")
                / F.count(F.lit(1)).cast("double")
                / F.lit(100.0),
                "avg_disc",
            ),
            F.count(F.lit(1)).cast("long").alias("count_order"),
        )
    )


O_PRICING_SUMMARY = """
with c as (
  select l_returnflag, l_linestatus,
    cast(round(l_quantity, 0) as bigint) as qty,
    cast(round(l_extendedprice * 100, 0) as bigint) as ep_c,
    cast(round(l_discount * 100, 0) as bigint) as d,
    cast(round(l_tax * 100, 0) as bigint) as t
  from lineitem where l_shipdate <= timestamp '1998-09-02'
)
select l_returnflag, l_linestatus,
  cast(sum(qty) as bigint) as sum_qty,
  floor((cast(sum(cast(ep_c as hugeint)) as double) / 100.0)
    * 1000000.0 + 0.5) / 1000000.0 as sum_base_price,
  floor((cast(sum(cast(ep_c as hugeint) * (100 - d)) as double) / 1e4)
    * 1000000.0 + 0.5) / 1000000.0 as sum_disc_price,
  floor((cast(sum(cast(ep_c as hugeint) * (100 - d) * (100 + t)) as double)
    / 1e6) * 1000000.0 + 0.5) / 1000000.0 as sum_charge,
  floor((cast(sum(qty) as double) / cast(count(*) as double))
    * 1000000.0 + 0.5) / 1000000.0 as avg_qty,
  floor((cast(sum(cast(ep_c as hugeint)) as double)
    / cast(count(*) as double) / 100.0)
    * 1000000.0 + 0.5) / 1000000.0 as avg_price,
  floor((cast(sum(d) as double) / cast(count(*) as double) / 100.0)
    * 1000000.0 + 0.5) / 1000000.0 as avg_disc,
  cast(count(*) as bigint) as count_order
from c group by 1, 2
"""

QUERIES["pricing_summary"] = q_pricing_summary
ORACLES["pricing_summary"] = O_PRICING_SUMMARY


# --- TPC-H Q12 analog: shipping priority split by return flag -----------------------------

def q_priority_shipping(spark, sf_dir):
    """TPC-H Q12 re-expressed over the columns this warehouse carries
    (no l_shipmode/l_commitdate/l_receiptdate — documented analog):
    lines shipped in 1996 MORE than 30 days after their order date,
    counted per return flag and split into high-priority (1-URGENT /
    2-HIGH) vs low-priority orders. The join is equi on orderkey with
    the lateness inequality as a residual (never a cartesian); counts
    are conditional integer sums, partial-aggregable."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    ).select("l_orderkey", "l_returnflag", "l_shipdate")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    j = li.join(
        orders,
        (li["l_orderkey"] == orders["o_orderkey"])
        & (li["l_shipdate"] > orders["o_orderdate"] + F.expr("INTERVAL 30 DAYS")),
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long")
    return j.groupBy("l_returnflag").agg(
        F.sum(hi).cast("long").alias("high_line_count"),
        F.sum(1 - hi).cast("long").alias("low_line_count"),
    )


O_PRIORITY_SHIPPING = """
select l.l_returnflag,
  cast(sum(case when o.o_orderpriority in ('1-URGENT', '2-HIGH')
    then 1 else 0 end) as bigint) as high_line_count,
  cast(sum(case when o.o_orderpriority in ('1-URGENT', '2-HIGH')
    then 0 else 1 end) as bigint) as low_line_count
from lineitem l
join orders o on o.o_orderkey = l.l_orderkey
  and l.l_shipdate > o.o_orderdate + interval 30 day
where l.l_shipdate >= timestamp '1996-01-01'
  and l.l_shipdate < timestamp '1997-01-01'
group by 1
"""

QUERIES["priority_shipping"] = q_priority_shipping
ORACLES["priority_shipping"] = O_PRIORITY_SHIPPING


# --- TPC-H Q16 analog: supplier count per part cell ----------------------------------------

def q_supplier_part_counts(spark, sf_dir):
    """TPC-H Q16 over the realized (part, supplier) relationships in
    lineitem (this warehouse has no partsupp table — documented analog):
    distinct supplier count per (brand, type, size) cell for a size
    whitelist, excluding one brand, one type prefix, and every supplier
    with a negative account balance (the 'customer complaints' NOT IN —
    here a LEFT ANTI against a tiny broadcast exclusion frame). The
    (partkey, suppkey) pairs are deduplicated BEFORE the part join so
    the join input is bounded by the relationship count, not the fact
    count; part is broadcast; count_distinct runs on the collapsed
    pairs."""
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    part = spark.read.parquet(f"{sf_dir}/part.parquet").where(
        (F.col("p_brand") != "Brand#5")
        & (~F.col("p_type").startswith("MEDIUM"))
        & F.col("p_size").isin(1, 9, 15, 23, 31, 40, 47, 50)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad_supp = spark.read.parquet(f"{sf_dir}/supplier.parquet").where(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(
            F.broadcast(bad_supp),
            li["l_suppkey"] == bad_supp["s_suppkey"],
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").cast("long").alias("supplier_cnt"))
        .select(
            "p_brand",
            "p_type",
            F.col("p_size").cast("long").alias("p_size"),
            "supplier_cnt",
        )
    )


O_SUPPLIER_PART_COUNTS = """
with rel as (
  select distinct l_partkey, l_suppkey from lineitem
)
select p.p_brand, p.p_type, cast(p.p_size as bigint) as p_size,
  cast(count(distinct r.l_suppkey) as bigint) as supplier_cnt
from rel r
join part p on p.p_partkey = r.l_partkey
where p.p_brand <> 'Brand#5'
  and p.p_type not like 'MEDIUM%'
  and p.p_size in (1, 9, 15, 23, 31, 40, 47, 50)
  and r.l_suppkey not in (
    select s_suppkey from supplier where s_acctbal < 0)
group by 1, 2, 3
"""

QUERIES["supplier_part_counts"] = q_supplier_part_counts
ORACLES["supplier_part_counts"] = O_SUPPLIER_PART_COUNTS


# --- TPC-H Q9 analog: product-line profit by nation and year -------------------------------

def q_product_profit(spark, sf_dir):
    """TPC-H Q9 over the columns this warehouse carries (no partsupp
    supplycost — the cost proxy is qty * p_retailprice, documented
    analog): profit per supplier nation per ship year for parts whose
    name contains 'red'. Profit per line is EXACT c4 integer
    arithmetic: rev_c4 - qty * retail_cents * 100 (both terms in units
    of 1e-4 dollars), summed in decimal(38,0)/hugeint, one fixed-order
    IEEE release. Part (name-filtered, broadcast) prunes lineitem
    first; supplier and nation are broadcast dims; the aggregate
    collapses to nations x years cells."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_partkey",
        "l_suppkey",
        F.round(F.col("l_quantity"), 0).cast("long").alias("qty"),
        _rev_c4().alias("rev_c4"),
        F.year(F.col("l_shipdate")).cast("long").alias("ship_year"),
    )
    part = spark.read.parquet(f"{sf_dir}/part.parquet").where(
        F.col("p_name").contains("red")
    ).select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100, 0).cast("long").alias("retail_c"),
    )
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        "s_suppkey", "s_nationkey"
    )
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        "n_nationkey", "n_name"
    )
    profit_c4 = (
        F.col("rev_c4").cast("decimal(38,0)")
        - (F.col("qty") * F.col("retail_c") * 100).cast("decimal(38,0)")
    )
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"])
        .select("n_name", "ship_year", profit_c4.alias("profit_c4"))
        .groupBy("n_name", "ship_year")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            _r6x(F.sum("profit_c4").cast("double") / F.lit(1.0e4), "profit"),
        )
    )


O_PRODUCT_PROFIT = """
with j as (
  select n.n_name, cast(year(l.l_shipdate) as bigint) as ship_year,
    cast(round(l.l_extendedprice * 100, 0) as hugeint)
      * (100 - cast(round(l.l_discount * 100, 0) as bigint))
    - cast(round(l.l_quantity, 0) as hugeint)
      * cast(round(p.p_retailprice * 100, 0) as bigint) * 100 as profit_c4
  from lineitem l
  join part p on p.p_partkey = l.l_partkey and p.p_name like '%red%'
  join supplier s on s.s_suppkey = l.l_suppkey
  join nation n on n.n_nationkey = s.s_nationkey
)
select n_name, ship_year, cast(count(*) as bigint) as n_items,
  floor((cast(sum(profit_c4) as double) / 1e4) * 1000000.0 + 0.5)
    / 1000000.0 as profit
from j group by 1, 2
"""

QUERIES["product_profit"] = q_product_profit
ORACLES["product_profit"] = O_PRODUCT_PROFIT




# --- two-sample Cramér–von Mises drift statistic -------------------------------------------

def q_cramer_von_mises(spark, sf_dir):
    """Exact two-sample Cramér–von Mises T (functions/stats.
    cramer_von_mises_2s) between src0's and src1's document-length
    distributions — the integrated-squared-gap member of the drift
    family (ks_test: max gap; wasserstein: value-weighted L1; this:
    shape-sensitive L2 over the empirical CDFs). All integer on the
    merged distinct-value grid, one bounded window, one trunc-division
    release; no joins."""
    from ..functions.stats import cramer_von_mises_2s

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return cramer_von_mises_2s(docs, "source", "n_chars", "src0", "src1")


O_CRAMER_VON_MISES = """
with g as (
  select cast(n_chars as bigint) as x,
    sum(case when source = 'src0' then 1 else 0 end) as ca,
    sum(case when source = 'src1' then 1 else 0 end) as cb
  from documents where source in ('src0', 'src1') group by 1
),
c as (
  select ca + cb as cnt,
    sum(ca) over (order by x rows between unbounded preceding and current row) as cum_a,
    sum(cb) over (order by x rows between unbounded preceding and current row) as cum_b,
    sum(ca) over () as n_a, sum(cb) over () as n_b
  from g
)
select cast(max(n_a) as bigint) as n_a, cast(max(n_b) as bigint) as n_b,
  cast((sum(cast(cnt as hugeint)
        * (cast(cum_a as hugeint) * n_b - cast(cum_b as hugeint) * n_a)
        * (cast(cum_a as hugeint) * n_b - cast(cum_b as hugeint) * n_a))
        * 1000000)
    // (max(n_a) * max(n_b)
        * (max(n_a) + max(n_b)) * (max(n_a) + max(n_b))) as bigint) as t_micro
from c
"""

QUERIES["cramer_von_mises"] = q_cramer_von_mises
ORACLES["cramer_von_mises"] = O_CRAMER_VON_MISES


# --- Cochran's Q over first-day event-type exposure ----------------------------------------

def q_cochran_q(spark, sf_dir):
    """Cochran's Q (functions/stats.cochran_q) over users' FIRST-DAY
    event-type exposure: blocks = users, k = 5 event types, x_ij = 1
    iff the user triggered that type on the first calendar day — the
    k-treatment generalization of mcnemar (are the five types equally
    likely to appear in a user's first day, matched per user?). Pure
    integer statistic, one distinct collapse + two tiny aggregates
    joined on a constant key; the day filter is pushed to the scan."""
    from ..functions.stats import cochran_q

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").where(
        F.col("ts").cast("timestamp") < F.lit("2024-01-02")
    )
    return cochran_q(
        ev, "user_id", "event_type",
        ["click", "error", "purchase", "signup", "view"],
    )


O_COCHRAN_Q = """
with p as (
  select distinct user_id as b, event_type as t
  from events
  where cast(ts as timestamp) < timestamp '2024-01-02'
    and event_type in ('click', 'error', 'purchase', 'signup', 'view')
),
ct as (
  select cast(sum(tj) as bigint) as s_total,
    cast(sum(cast(tj as hugeint) * tj) as hugeint) as sum_t2
  from (select t, count(*) as tj from p group by 1)
),
rt as (
  select cast(count(*) as bigint) as n_blocks,
    cast(sum(cast(ri as hugeint) * ri) as hugeint) as sum_r2
  from (select b, count(*) as ri from p group by 1)
)
select cast(5 as bigint) as k, rt.n_blocks, ct.s_total,
  case when 5 * cast(ct.s_total as hugeint) - rt.sum_r2 > 0 then
    cast((4 * (5 * ct.sum_t2
               - cast(ct.s_total as hugeint) * ct.s_total) * 1000000)
      // (5 * cast(ct.s_total as hugeint) - rt.sum_r2) as bigint)
  end as q_micro
from ct, rt
"""

QUERIES["cochran_q"] = q_cochran_q
ORACLES["cochran_q"] = O_COCHRAN_Q


# --- Durbin–Watson on the daily trend residuals --------------------------------------------

def q_durbin_watson(spark, sf_dir):
    """Durbin–Watson (functions/stats.durbin_watson_trend) of the
    residuals from the least-squares linear trend of the daily event
    count — the detrended lag-1 serial-correlation gate beside
    ljung_box's raw-series portmanteau. Residuals are EXACT integers by
    denominator clearing (Dx·e_t), the DW ratio is Dx²-invariant, one
    trunc division releases dw_micro."""
    from ..functions.stats import durbin_watson_trend

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    daily = ev.groupBy(
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    return durbin_watson_trend(daily, "d", "y")


O_DURBIN_WATSON = """
with daily as (
  select epoch_us(cast(ts as timestamp)) // 86400000000 as d,
    cast(count(*) as bigint) as y
  from events group by 1
),
r as (
  select cast(row_number() over (order by d) - 1 as hugeint) as t,
    cast(y as hugeint) as y
  from daily
),
m as (
  select cast(count(*) as hugeint) as n, sum(t) as st, sum(t * t) as stt,
    sum(y) as sy, sum(t * y) as sty
  from r
),
e as (
  select r.t,
    (m.n * m.stt - m.st * m.st) * r.y
      - (m.sy * m.stt - m.st * m.sty)
      - (m.n * m.sty - m.st * m.sy) * r.t as e
  from r, m
),
l as (
  select e, e - lag(e) over (order by t) as de from e
)
select cast(count(*) as bigint) as n,
  case when sum(e * e) > 0 then
    cast((sum(de * de) * 1000000) // (sum(e * e)) as bigint)
  end as dw_micro
from l
"""

QUERIES["durbin_watson"] = q_durbin_watson
ORACLES["durbin_watson"] = O_DURBIN_WATSON


# --- Yule's K lexical concentration per source ---------------------------------------------

def q_yule_k(spark, sf_dir):
    """Yule's characteristic K per source (functions/stats.yule_k) —
    the length-invariant repeat-rate: K = 10^4*(S2 - N)/N^2 over the
    shared normalized_words tokenization. Completes the lexical panel
    (vocab_richness: Chao1/Simpson/Shannon) with the classic
    concentration statistic corpus QA compares across sources of
    different sizes. Pure integers, one explode + two map-side
    combinable aggregates, one trunc division per source."""
    from ..functions.stats import yule_k

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return yule_k(docs)


O_YULE_K = r"""
with w as (
  select source,
    unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) as word
  from documents
),
c as (
  select source, word, cast(count(*) as bigint) as c
  from w group by 1, 2
)
select source,
  cast(sum(c) as bigint) as n_tokens,
  cast(count(*) as bigint) as n_types,
  cast(((sum(cast(c as hugeint) * c) - sum(c)) * 10000000)
    // (cast(sum(c) as hugeint) * sum(c)) as bigint) as k_milli
from c group by 1
"""

QUERIES["yule_k"] = q_yule_k
ORACLES["yule_k"] = O_YULE_K


# --- Goodman–Kruskal gamma / Somers' D between ordinal buckets -----------------------------

def q_gk_gamma(spark, sf_dir):
    """Goodman–Kruskal gamma and Somers' D_yx (functions/stats.
    gk_gamma) between documents' length bucket (n_chars div 100, capped
    at 5) and word-count bucket (tokens div 20, capped at 5) — the
    ordinal-association pair for bucketed features: gamma on untied
    pairs, Somers' D charging Y-ties. Pure integer pair counting on the
    6x6 contingency table (ONE groupBy collapse; the pair enumeration
    is a broadcast self-join of 36 cells, never rows^2); signed trunc
    divisions release both statistics."""
    from ..functions.repetition import normalized_words
    from ..functions.stats import gk_gamma

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.size(normalized_words("text")).cast("long").alias("_nw"),
        F.col("n_chars").cast("long").alias("_nc"),
    ).select(
        F.least(F.expr("_nc div 100"), F.lit(5).cast("long")).alias("xb"),
        F.least(F.expr("_nw div 20"), F.lit(5).cast("long")).alias("yb"),
    )
    return gk_gamma(docs, "xb", "yb")


O_GK_GAMMA = r"""
with f as (
  select least(cast(n_chars as bigint) // 100, 5) as x,
    least(cast(length(string_split(
      regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) as bigint)
      // 20, 5) as y
  from documents
),
cells as (
  select x, y, cast(count(*) as bigint) as n from f group by 1, 2
),
pr as (
  select cast(sum(case when a.y < b.y then cast(a.n as hugeint) * b.n else 0 end) as hugeint) as c,
    cast(sum(case when a.y > b.y then cast(a.n as hugeint) * b.n else 0 end) as hugeint) as d,
    cast(sum(case when a.y = b.y then cast(a.n as hugeint) * b.n else 0 end) as hugeint) as ty
  from cells a join cells b on a.x < b.x
)
select cast(c as bigint) as n_pairs_c, cast(d as bigint) as n_pairs_d,
  cast(ty as bigint) as ties_y,
  case when c + d > 0 then
    cast(((c - d) * 1000000) // (c + d) as bigint) end as gamma_micro,
  case when c + d + ty > 0 then
    cast(((c - d) * 1000000) // (c + d + ty) as bigint) end as somers_micro
from pr
"""

QUERIES["gk_gamma"] = q_gk_gamma
ORACLES["gk_gamma"] = O_GK_GAMMA




# --- Lo–MacKinlay variance ratio of the daily series ---------------------------------------

def q_variance_ratio(spark, sf_dir):
    """VR(2) (functions/stats.variance_ratio) of the daily event-count
    series — the random-walk diagnostic in variance units (VR>1
    momentum, VR<1 mean reversion), completing the serial-dependence
    panel beside durbin_watson (trend residuals) and ljung_box
    (portmanteau). Cleared integer moments, one trunc division."""
    from ..functions.stats import variance_ratio

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    daily = ev.groupBy(
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    return variance_ratio(daily, "d", "y", q=2)


O_VARIANCE_RATIO = """
with daily as (
  select epoch_us(cast(ts as timestamp)) // 86400000000 as d,
    cast(count(*) as bigint) as y
  from events group by 1
),
x as (
  select y,
    y - lag(y, 1) over (order by d) as d1,
    y - lag(y, 2) over (order by d) as dq
  from daily
),
m as (
  select cast(count(*) as bigint) as n,
    cast(count(d1) as hugeint) as m1,
    cast(sum(cast(d1 as hugeint) * d1) as hugeint) as sd1sq,
    cast(sum(d1) as hugeint) as sd1,
    cast(count(dq) as hugeint) as mq,
    cast(sum(cast(dq as hugeint) * dq) as hugeint) as sdqsq,
    cast(sum(dq) as hugeint) as sdq
  from x
)
select n,
  case when m1 * sd1sq - sd1 * sd1 > 0 then
    cast(((mq * sdqsq - sdq * sdq) * m1 * m1 * 1000000)
      // (2 * (m1 * sd1sq - sd1 * sd1) * mq * mq) as bigint)
  end as vr_micro
from m
"""

QUERIES["variance_ratio"] = q_variance_ratio
ORACLES["variance_ratio"] = O_VARIANCE_RATIO


# --- turning-points randomness test ---------------------------------------------------------

def q_turning_points(spark, sf_dir):
    """Turning-points test (functions/stats.turning_points) of the
    daily event-count series: strict local extrema count T vs the iid
    expectation 2(n−2)/3 — the assumption-free randomness gate
    complementing mann_kendall (a trend SUPPRESSES turning points).
    Integer T, one fixed-order IEEE z release."""
    from ..functions.stats import turning_points

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    daily = ev.groupBy(
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    return turning_points(daily, "d", "y")


O_TURNING_POINTS = """
with daily as (
  select epoch_us(cast(ts as timestamp)) // 86400000000 as d,
    cast(count(*) as bigint) as y
  from events group by 1
),
x as (
  select y, lag(y) over (order by d) as yp, lead(y) over (order by d) as yn
  from daily
),
m as (
  select cast(count(*) as bigint) as n,
    cast(sum(case when yp is not null and yn is not null
      and ((yp < y and y > yn) or (yp > y and y < yn))
      then 1 else 0 end) as bigint) as t_count
  from x
)
select n, t_count,
  floor(((cast(t_count as double) - 2.0 * (cast(n as double) - 2.0) / 3.0)
    / sqrt((16.0 * cast(n as double) - 29.0) / 90.0))
    * 1000000.0 + 0.5) / 1000000.0 as z
from m
"""

QUERIES["turning_points"] = q_turning_points
ORACLES["turning_points"] = O_TURNING_POINTS


# --- embedding anisotropy -------------------------------------------------------------------

def q_anisotropy(spark, sf_dir):
    """Embedding anisotropy A = ||sum x||^2/(n*sum||x||^2) (operators/
    similarity.embedding_anisotropy) — the narrow-cone health check run
    before any cosine retrieval (Ethayarajh 2019); exact micro-lane
    integers, one posexplode + one d-cell groupBy + one trunc-division
    release."""
    from ..operators.similarity import embedding_anisotropy

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embedding_anisotropy(emb)


O_ANISOTROPY = """
with l as (
  select vec_id,
    generate_subscripts(embedding, 1) - 1 as i,
    cast(floor(cast(unnest(embedding) as double) * 1000000.0 + 0.5) as bigint) as q
  from embeddings
),
p as (
  select i, cast(count(*) as bigint) as cnt,
    cast(sum(q) as hugeint) as s,
    cast(sum(cast(q as hugeint) * q) as hugeint) as t
  from l group by 1
)
select cast(max(cnt) as bigint) as n, cast(count(*) as bigint) as dim,
  case when sum(t) > 0 then
    cast((sum(s * s) * 1000000) // (max(cnt) * sum(t)) as bigint)
  end as a_ppm
from p
"""

QUERIES["anisotropy"] = q_anisotropy
ORACLES["anisotropy"] = O_ANISOTROPY


# --- Burrows' Delta stylometric source distance ---------------------------------------------

def q_burrows_delta(spark, sf_dir):
    """Burrows' Delta (functions/corpus.burrows_delta) between every
    source pair over the corpus's top-30 words — the stylometric
    distance (z-scored function-word frequencies, mean |z_a − z_b|)
    complementing the topic-dominated source_kl/source_js. Exact ppm
    frequencies on the dense top-m × sources grid, integer cleared
    spreads, micro-quantized fixed-order word terms, order-free int64
    pair sums."""
    from ..functions.corpus import burrows_delta

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return burrows_delta(docs)


O_BURROWS_DELTA = r"""
with w as (
  select source,
    unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) as word
  from documents
),
counts as (
  select source, word, cast(count(*) as bigint) as c from w group by 1, 2
),
totals as (
  select source, cast(sum(c) as bigint) as n_s from counts group by 1
),
topw as (
  select word from (
    select word, row_number() over (order by sum(c) desc, word asc) as r
    from counts group by word
  ) where r <= 30
),
f as (
  select t.source, tw.word,
    cast((coalesce(c.c, 0) * 1000000) // t.n_s as bigint) as f
  from totals t
  cross join topw tw
  left join counts c on c.source = t.source and c.word = tw.word
),
ws as (
  select word, cast(count(*) as bigint) as s,
    cast(count(*) as hugeint) * sum(cast(f as hugeint) * f)
      - cast(sum(f) as hugeint) * sum(f) as dv
  from f group by 1
),
pr as (
  select a.source as src_a, b.source as src_b,
    cast(floor((cast(abs(a.f - b.f) as double) * cast(ws.s as double))
      / sqrt(cast(ws.dv as double)) * 1000000.0 + 0.5) as bigint) as t
  from f a
  join f b on a.word = b.word and a.source < b.source
  join ws on ws.word = a.word and ws.dv > 0
)
select src_a, src_b, cast(count(*) as bigint) as m_words,
  cast(sum(t) // count(*) as bigint) as delta_micro
from pr group by 1, 2
"""

QUERIES["burrows_delta"] = q_burrows_delta
ORACLES["burrows_delta"] = O_BURROWS_DELTA




# --- Wald–Wolfowitz runs test ----------------------------------------------------------------

def q_runs_test(spark, sf_dir):
    """Runs test (functions/stats.runs_test_median) of the daily event
    count against its lower median — sign-run clustering, the third
    assumption-free randomness gate beside turning_points and
    mann_kendall. Integer median/runs/counts, one fixed-order IEEE z."""
    from ..functions.stats import runs_test_median

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    daily = ev.groupBy(
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    return runs_test_median(daily, "d", "y")


O_RUNS_TEST = """
with daily as (
  select epoch_us(cast(ts as timestamp)) // 86400000000 as d,
    cast(count(*) as bigint) as y
  from events group by 1
),
g as (select y, count(*) as c from daily group by 1),
cum as (
  select y,
    sum(c) over (order by y rows between unbounded preceding and current row) as cum,
    sum(c) over () as n
  from g
),
med as (select min(y) as med from cum where cum >= (n + 1) // 2),
s as (
  select d, case when y > med then 1 else 0 end as s
  from daily, med where y <> med
),
r as (
  select s,
    case when lag(s) over (order by d) is null then 1
         when lag(s) over (order by d) <> s then 1 else 0 end as new_run
  from s
),
a as (
  select cast(sum(s) as bigint) as n1,
    cast(sum(1 - s) as bigint) as n2,
    cast(sum(new_run) as bigint) as r_count
  from r
)
select n1, n2, r_count,
  case when n1 > 0 and n2 > 0 and n1 + n2 > 1 then
    floor(((cast(r_count as double)
      - (2.0 * n1 * n2 / (cast(n1 as double) + n2) + 1.0))
      / sqrt(2.0 * n1 * n2 * (2.0 * cast(n1 as double) * n2 - (cast(n1 as double) + n2))
        / ((cast(n1 as double) + n2) * (cast(n1 as double) + n2)
           * ((cast(n1 as double) + n2) - 1.0))))
      * 1000000.0 + 0.5) / 1000000.0
  end as z
from a
"""

QUERIES["runs_test"] = q_runs_test
ORACLES["runs_test"] = O_RUNS_TEST


# --- Brown–Forsythe homogeneity of variance --------------------------------------------------

def q_brown_forsythe(spark, sf_dir):
    """Brown–Forsythe robust variance-homogeneity F across sources'
    document lengths (functions/stats.brown_forsythe) — the gate before
    pooled-variance source comparisons; deviations from exact per-group
    lower medians, micro-quantized trunc divisions before order-free
    integer sums, one trunc-division release."""
    from ..functions.stats import brown_forsythe

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return brown_forsythe(docs, "source", "n_chars")


O_BROWN_FORSYTHE = """
with v as (select source as grp, cast(n_chars as bigint) as x from documents),
g as (select grp, x, count(*) as c from v group by 1, 2),
cum as (
  select grp, x,
    sum(c) over (partition by grp order by x rows between unbounded preceding and current row) as cum,
    sum(c) over (partition by grp) as ng
  from g
),
med as (select grp, min(x) as med from cum where cum >= (ng + 1) // 2 group by 1),
z as (
  select v.grp, abs(v.x - med.med) as z
  from v join med on v.grp = med.grp
),
per as (
  select grp, cast(count(*) as hugeint) as ng,
    cast(sum(z) as hugeint) as sg,
    cast(sum(cast(z as hugeint) * z) as hugeint) as qg
  from z group by 1
),
a as (
  select cast(count(*) as bigint) as k,
    sum(ng) as n_total, sum(sg) as s, sum(qg) as q,
    sum((sg * sg * 1000000) // ng) as u
  from per
)
select k, cast(n_total as bigint) as n_total,
  case when k > 1 and q * 1000000 - u > 0 then
    cast((((n_total - k) * (u - (s * s * 1000000) // n_total)) * 1000000)
      // ((k - 1) * (q * 1000000 - u)) as bigint)
  end as f_micro
from a
"""

QUERIES["brown_forsythe"] = q_brown_forsythe
ORACLES["brown_forsythe"] = O_BROWN_FORSYTHE


# --- Grubbs per-source max-outlier score -----------------------------------------------------

def q_grubbs(spark, sf_dir):
    """Grubbs' single-worst-outlier statistic per source over document
    lengths (functions/stats.grubbs_max_outlier): cleared integer
    moments maxdev = max|n·x − S| and A = n·Σx² − S², G one fixed-order
    IEEE expression — the per-group extreme-value gate beside
    mad_outliers/robust_zscore."""
    from ..functions.stats import grubbs_max_outlier

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return grubbs_max_outlier(docs, "source", "n_chars")


O_GRUBBS = """
with v as (select source as grp, cast(n_chars as bigint) as x from documents),
m as (
  select grp, cast(count(*) as hugeint) as n,
    cast(sum(x) as hugeint) as s,
    cast(sum(cast(x as hugeint) * x) as hugeint) as q
  from v group by 1
),
d as (
  select v.grp, m.n, m.s, m.q,
    max(abs(m.n * v.x - m.s)) as maxdev
  from v join m on v.grp = m.grp
  group by 1, 2, 3, 4
)
select grp as source, cast(n as bigint) as n,
  case when n >= 3 and n * q - s * s > 0 then
    floor((cast(maxdev as double)
      / sqrt(cast(n as double) * cast(n * q - s * s as double)
             / (cast(n as double) - 1.0)))
      * 1000000.0 + 0.5) / 1000000.0
  end as g_stat
from d
"""

QUERIES["grubbs"] = q_grubbs
ORACLES["grubbs"] = O_GRUBBS


# --- Atkinson inequality index ----------------------------------------------------------------

def q_atkinson(spark, sf_dir):
    """Atkinson index (eps=1) of document lengths per source
    (functions/stats.atkinson_index): A = 1 − GM/AM via per-distinct
    nano-quantized ln (order-free integer reduction), one fixed-order
    IEEE release — the welfare-weighted member of the inequality panel
    beside gini_lengths and theil_index."""
    from ..functions.stats import atkinson_index

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return atkinson_index(docs, "source", "n_chars")


O_ATKINSON = """
with v as (
  select source as grp, cast(n_chars as bigint) as x
  from documents where n_chars > 0
),
g as (select grp, x, cast(count(*) as bigint) as c from v group by 1, 2),
a as (
  select grp,
    cast(sum(cast(c as hugeint) * x) as hugeint) as s,
    cast(sum(c) as bigint) as n,
    cast(sum(cast(c as hugeint)
      * cast(floor(ln(cast(x as double)) * 1000000000.0 + 0.5) as bigint)) as hugeint) as l
  from g group by 1
)
select grp as source, n, cast(s as bigint) as total,
  floor((1.0 - cast(n as double)
    * exp(cast(l as double) / cast(n as double) / 1000000000.0)
    / cast(s as double))
    * 1000000.0 + 0.5) / 1000000.0 as atkinson
from a
"""

QUERIES["atkinson"] = q_atkinson
ORACLES["atkinson"] = O_ATKINSON


# --- hapax-legomena profile per source ---------------------------------------------------------

def q_hapax_profile(spark, sf_dir):
    """Hapax profile per source (functions/corpus.hapax_profile): V1/V2
    counts, exact ppm shares, Sichel's S and Honoré's R — the
    frequency-spectrum vocabulary characteristics beside yule_k and
    vocab_richness; template-stuck crawls show collapsing V1/V."""
    from ..functions.corpus import hapax_profile

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return hapax_profile(docs)


O_HAPAX_PROFILE = r"""
with w as (
  select source,
    unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) as word
  from documents
),
c as (select source, word, cast(count(*) as bigint) as c from w group by 1, 2),
a as (
  select source, cast(sum(c) as bigint) as n_tokens,
    cast(count(*) as bigint) as v_types,
    cast(sum(case when c = 1 then 1 else 0 end) as bigint) as v1,
    cast(sum(case when c = 2 then 1 else 0 end) as bigint) as v2
  from c group by 1
)
select source, n_tokens, v_types, v1, v2,
  cast((v1 * 1000000) // v_types as bigint) as hapax_ppm,
  cast((v2 * 1000000) // v_types as bigint) as sichel_ppm,
  case when v1 < v_types then
    floor((100.0 * ln(cast(n_tokens as double))
      / (1.0 - cast(v1 as double) / cast(v_types as double)))
      * 1000000.0 + 0.5) / 1000000.0
  end as honore_r
from a
"""

QUERIES["hapax_profile"] = q_hapax_profile
ORACLES["hapax_profile"] = O_HAPAX_PROFILE


# --- TPC-H final wave: Q2 / Q11 / Q20 analogs ------------------------------------------------
#
# Completes the 22-query decision-support suite (Q4 and Q22 already live
# as late_shipment_orders / sales_opportunity). The missing partsupp
# table is replaced by the DOCUMENTED analog of the earlier waves:
# realized (part, supplier) relationships from lineitem (as in
# Q16/supplier_part_counts).


def q_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 minimum-cost supplier over the realized supply
    relationships (no partsupp table — supply cost proxy is the MINIMUM
    realized line price in exact cents per (part, supplier), a
    deterministic integer): for every SMALL-type part, the EUROPE
    supplier(s) achieving the part's minimum cost, ties preserved by an
    equality join back (the correlated-subquery semantics, as Q15).
    lineitem collapses to the bounded relationship frame FIRST; part
    and the region-filtered supplier dim are broadcast; money stays
    integer cents until the release divisions."""
    rel = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select(
            "l_partkey",
            "l_suppkey",
            F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("ep_c"),
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("ep_c").alias("cost_c"))
    )
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    reg = spark.read.parquet(f"{sf_dir}/region.parquet").where(
        F.col("r_name") == "EUROPE"
    )
    eu = (
        spark.read.parquet(f"{sf_dir}/supplier.parquet")
        .join(F.broadcast(nat), F.col("s_nationkey") == nat["n_nationkey"])
        .join(F.broadcast(reg), nat["n_regionkey"] == reg["r_regionkey"])
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    part = spark.read.parquet(f"{sf_dir}/part.parquet").where(
        F.col("p_type") == "SMALL"
    ).select("p_partkey", "p_name")
    er = (
        rel.join(F.broadcast(eu), rel["l_suppkey"] == eu["s_suppkey"])
        .join(F.broadcast(part), rel["l_partkey"] == part["p_partkey"])
        .select("p_partkey", "p_name", "s_name", "s_acctbal", "n_name", "cost_c")
    )
    mn = er.groupBy(F.col("p_partkey").alias("_pk")).agg(
        F.min("cost_c").alias("min_c")
    )
    return (
        er.join(
            mn,
            (er["p_partkey"] == mn["_pk"]) & (er["cost_c"] == mn["min_c"]),
        )
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            "n_name",
            _r6x(F.col("s_acctbal"), "s_acctbal"),
            _r6x(F.col("cost_c").cast("double") / 100.0, "supply_cost"),
        )
    )


O_MIN_COST_SUPPLIER = """
with rel as (
  select l_partkey, l_suppkey,
    min(cast(round(l_extendedprice * 100, 0) as bigint)) as cost_c
  from lineitem group by 1, 2
),
eu as (
  select s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
  from supplier s
  join nation n on s.s_nationkey = n.n_nationkey
  join region r on n.n_regionkey = r.r_regionkey
  where r.r_name = 'EUROPE'
),
er as (
  select p.p_partkey, p.p_name, e.s_name, e.s_acctbal, e.n_name, rel.cost_c
  from rel
  join eu e on rel.l_suppkey = e.s_suppkey
  join part p on rel.l_partkey = p.p_partkey
  where p.p_type = 'SMALL'
),
mn as (select p_partkey as pk, min(cost_c) as min_c from er group by 1)
select er.p_partkey, er.p_name, er.s_name, er.n_name,
  floor(er.s_acctbal * 1000000.0 + 0.5) / 1000000.0 as s_acctbal,
  floor((cast(er.cost_c as double) / 100.0) * 1000000.0 + 0.5) / 1000000.0
    as supply_cost
from er join mn on er.p_partkey = mn.pk and er.cost_c = mn.min_c
"""

QUERIES["min_cost_supplier"] = q_min_cost_supplier
ORACLES["min_cost_supplier"] = O_MIN_COST_SUPPLIER


def q_important_stock(spark, sf_dir):
    """TPC-H Q11 important stock: per-part realized supply value from
    EUROPE suppliers (value proxy = exact cents of extended price, the
    partsupp analog), keeping parts whose value exceeds 1.5x the MEAN
    part value — TPC-H scales Q11's share fraction with SF precisely
    because a fixed share degenerates as the part count grows; the
    mean-multiple form is the scale-free equivalent, cleared to the
    pure integer predicate 2*value_c*n_parts > 3*total_c (no division
    until release). One fact collapse to (part) cells, a 1-row
    (total, count) broadcast back."""
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    reg = spark.read.parquet(f"{sf_dir}/region.parquet").where(
        F.col("r_name") == "EUROPE"
    )
    eu = (
        spark.read.parquet(f"{sf_dir}/supplier.parquet")
        .join(F.broadcast(nat), F.col("s_nationkey") == nat["n_nationkey"])
        .join(F.broadcast(reg), nat["n_regionkey"] == reg["r_regionkey"])
        .select("s_suppkey")
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_partkey",
        "l_suppkey",
        F.round(F.col("l_extendedprice") * 100, 0)
        .cast("long")
        .cast("decimal(38,0)")
        .alias("ep_c"),
    )
    per_part = (
        li.join(F.broadcast(eu), li["l_suppkey"] == eu["s_suppkey"])
        .groupBy("l_partkey")
        .agg(F.sum("ep_c").cast("decimal(38,0)").alias("val_c"))
    )
    tot = per_part.agg(
        F.sum("val_c").cast("decimal(38,0)").alias("tot_c"),
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n_parts"),
    )
    return (
        per_part.crossJoin(F.broadcast(tot))
        .filter(F.lit(2) * F.col("val_c") * F.col("n_parts") > F.lit(3) * F.col("tot_c"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            _r6x(F.col("val_c").cast("double") / 100.0, "value"),
        )
    )


O_IMPORTANT_STOCK = """
with eu as (
  select s.s_suppkey
  from supplier s
  join nation n on s.s_nationkey = n.n_nationkey
  join region r on n.n_regionkey = r.r_regionkey
  where r.r_name = 'EUROPE'
),
pp as (
  select l.l_partkey,
    sum(cast(round(l.l_extendedprice * 100, 0) as hugeint)) as val_c
  from lineitem l join eu on l.l_suppkey = eu.s_suppkey
  group by 1
)
select l_partkey as p_partkey,
  floor((cast(val_c as double) / 100.0) * 1000000.0 + 0.5) / 1000000.0 as value
from pp
where 2 * val_c * (select count(*) from pp) > 3 * (select sum(val_c) from pp)
"""

QUERIES["important_stock"] = q_important_stock
ORACLES["important_stock"] = O_IMPORTANT_STOCK


def q_potential_promotion(spark, sf_dir):
    """TPC-H Q20 potential part promotion: ASIA suppliers who in 1996
    shipped MORE THAN HALF of some 'red…' part's total 1996 quantity
    (the availqty > 0.5·sum(qty) analog over realized flows — the
    nested-subquery structure intact: name-filtered parts prune the
    fact scan via a broadcast semi join, quantities collapse to
    (part, supplier) cells, the per-part total joins back, and the
    half-share HAVING is the pure integer predicate 2·q_ps > q_p).
    Returns each qualifying supplier with their qualifying-part
    count."""
    red = spark.read.parquet(f"{sf_dir}/part.parquet").where(
        F.col("p_name").startswith("red")
    ).select("p_partkey")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    ).select(
        "l_partkey",
        "l_suppkey",
        F.round(F.col("l_quantity"), 0).cast("long").alias("qty"),
    )
    ps = (
        li.join(F.broadcast(red), li["l_partkey"] == red["p_partkey"], "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("qty").cast("long").alias("q_ps"))
    )
    pt = ps.groupBy(F.col("l_partkey").alias("_pk")).agg(
        F.sum("q_ps").cast("long").alias("q_p")
    )
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    reg = spark.read.parquet(f"{sf_dir}/region.parquet").where(
        F.col("r_name") == "ASIA"
    )
    asia = (
        spark.read.parquet(f"{sf_dir}/supplier.parquet")
        .join(F.broadcast(nat), F.col("s_nationkey") == nat["n_nationkey"])
        .join(F.broadcast(reg), nat["n_regionkey"] == reg["r_regionkey"])
        .select("s_suppkey", "s_name")
    )
    qual = ps.join(pt, ps["l_partkey"] == pt["_pk"]).filter(
        F.lit(2) * F.col("q_ps") > F.col("q_p")
    )
    return (
        qual.join(F.broadcast(asia), qual["l_suppkey"] == asia["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("n_qualifying_parts"))
    )


O_POTENTIAL_PROMOTION = """
with red as (select p_partkey from part where p_name like 'red%'),
ps as (
  select l.l_partkey, l.l_suppkey,
    cast(sum(cast(round(l.l_quantity, 0) as bigint)) as bigint) as q_ps
  from lineitem l
  where l.l_shipdate >= timestamp '1996-01-01'
    and l.l_shipdate < timestamp '1997-01-01'
    and l.l_partkey in (select p_partkey from red)
  group by 1, 2
),
pt as (select l_partkey, cast(sum(q_ps) as bigint) as q_p from ps group by 1),
asia as (
  select s.s_suppkey, s.s_name
  from supplier s
  join nation n on s.s_nationkey = n.n_nationkey
  join region r on n.n_regionkey = r.r_regionkey
  where r.r_name = 'ASIA'
)
select a.s_name, cast(count(*) as bigint) as n_qualifying_parts
from ps
join pt on ps.l_partkey = pt.l_partkey
join asia a on ps.l_suppkey = a.s_suppkey
where 2 * ps.q_ps > pt.q_p
group by 1
"""

QUERIES["potential_promotion"] = q_potential_promotion
ORACLES["potential_promotion"] = O_POTENTIAL_PROMOTION


# --- Mood's median test ----------------------------------------------------------------------

def q_mood_median(spark, sf_dir):
    """Mood's median test (functions/stats.mood_median) of document
    lengths across sources — the assumption-free location gate beside
    brown_forsythe's spread gate and kruskal_wallis' rank test:
    dichotomize every length at the corpus-wide exact lower median,
    2xk chi-square entirely in cleared integers."""
    from ..functions.stats import mood_median

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return mood_median(docs, "source", "n_chars")


O_MOOD_MEDIAN = """
with vals as (select source as grp, cast(n_chars as bigint) as x from documents),
g as (select x, count(*) as c from vals group by 1),
cum as (
  select x,
    sum(c) over (order by x rows between unbounded preceding and current row) as cum,
    sum(c) over () as n
  from g
),
med as (select min(x) as med from cum where cum >= (n + 1) // 2),
per as (
  select grp, cast(count(*) as bigint) as ng,
    cast(sum(case when x > (select med from med) then 1 else 0 end) as bigint) as ag
  from vals group by 1
),
tot as (
  select cast(count(*) as bigint) as k, cast(sum(ng) as bigint) as n_total,
    cast(sum(ag) as bigint) as a
  from per
),
terms as (
  select t.k, t.n_total, t.a,
    sum(((cast(p.ag as hugeint) * t.n_total - cast(p.ng as hugeint) * t.a)
         * (cast(p.ag as hugeint) * t.n_total - cast(p.ng as hugeint) * t.a)
         * 1000000) // p.ng) as s
  from per p cross join tot t
  group by 1, 2, 3
)
select k, n_total,
  case when a > 0 and n_total - a > 0 then
    cast(s // (cast(a as hugeint) * (n_total - a)) as bigint)
  end as chi2_micro
from terms
"""

QUERIES["mood_median"] = q_mood_median
ORACLES["mood_median"] = O_MOOD_MEDIAN


# --- Jonckheere-Terpstra ordered trend -------------------------------------------------------

def q_jonckheere(spark, sf_dir):
    """Jonckheere–Terpstra ordered-alternative trend test
    (functions/stats.jonckheere_terpstra) of daily event counts across
    epoch-weeks — "is activity increasing week over week", the
    a-priori-ordering upgrade over kruskal_wallis; doubled integer JT2
    over the (week, count)-collapsed pair join, classic no-ties null
    moments, one fixed-order IEEE z."""
    from ..functions.stats import jonckheere_terpstra

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    daily = ev.groupBy(
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    weekly = daily.select((F.col("d") / 7).cast("long").alias("w"), "y")
    return jonckheere_terpstra(weekly, "w", "y")


O_JONCKHEERE = """
with daily as (
  select epoch_us(cast(ts as timestamp)) // 86400000000 as d,
    cast(count(*) as bigint) as y
  from events group by 1
),
v as (select cast(d // 7 as bigint) as grp, y as x from daily),
g as (select grp, x, cast(count(*) as bigint) as c from v group by 1, 2),
jt as (
  select cast(sum(case when a.x < b.x then 2 * a.c * b.c
                       when a.x = b.x then a.c * b.c
                       else 0 end) as bigint) as jt2
  from g a join g b on a.grp < b.grp
),
sz as (select grp, cast(count(*) as bigint) as ng from v group by 1),
m as (
  select cast(count(*) as bigint) as k, cast(sum(ng) as bigint) as n_total,
    cast(sum(ng * ng) as bigint) as sn2,
    cast(sum(ng * ng * (2 * ng + 3)) as bigint) as sn23
  from sz
)
select m.k, m.n_total, jt.jt2,
  case when (cast(m.n_total as double) * m.n_total * (2.0 * m.n_total + 3.0)
             - m.sn23) / 72.0 > 0 then
    floor(((cast(jt.jt2 as double)
      - (cast(m.n_total as double) * m.n_total - m.sn2) / 2.0)
      / (2.0 * sqrt((cast(m.n_total as double) * m.n_total
          * (2.0 * m.n_total + 3.0) - m.sn23) / 72.0)))
      * 1000000.0 + 0.5) / 1000000.0
  end as z
from jt, m
"""

QUERIES["jonckheere"] = q_jonckheere
ORACLES["jonckheere"] = O_JONCKHEERE


# --- partial correlation ---------------------------------------------------------------------

def q_partial_correlation(spark, sf_dir):
    """Partial correlation (functions/stats.partial_correlation)
    between daily purchase and click counts CONTROLLING for total
    daily volume — the confounder-netted association the raw
    pearson/spearman panel cannot give (busy days inflate both
    series); cleared integer scatter terms, one fixed-order IEEE
    release."""
    from ..functions.stats import partial_correlation

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    daily = ev.groupBy(
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("d")
    ).agg(
        F.sum((F.col("event_type") == "purchase").cast("int"))
        .cast("long").alias("x"),
        F.sum((F.col("event_type") == "click").cast("int"))
        .cast("long").alias("y"),
        F.count(F.lit(1)).cast("long").alias("z"),
    )
    return partial_correlation(daily, "x", "y", "z")


O_PARTIAL_CORRELATION = """
with daily as (
  select epoch_us(cast(ts as timestamp)) // 86400000000 as d,
    cast(sum(case when event_type = 'purchase' then 1 else 0 end) as bigint) as x,
    cast(sum(case when event_type = 'click' then 1 else 0 end) as bigint) as y,
    cast(count(*) as bigint) as z
  from events group by 1
),
m as (
  select cast(count(*) as hugeint) as n,
    cast(sum(x) as hugeint) as sx, cast(sum(y) as hugeint) as sy,
    cast(sum(z) as hugeint) as sz,
    cast(sum(cast(x as hugeint) * x) as hugeint) as sxx,
    cast(sum(cast(y as hugeint) * y) as hugeint) as syy,
    cast(sum(cast(z as hugeint) * z) as hugeint) as szz,
    cast(sum(cast(x as hugeint) * y) as hugeint) as sxy,
    cast(sum(cast(x as hugeint) * z) as hugeint) as sxz,
    cast(sum(cast(y as hugeint) * z) as hugeint) as syz
  from daily
)
select cast(n as bigint) as n,
  case when (cast(n * sxx - sx * sx as double) * cast(n * szz - sz * sz as double)
             - cast(n * sxz - sx * sz as double) * cast(n * sxz - sx * sz as double)) > 0
        and (cast(n * syy - sy * sy as double) * cast(n * szz - sz * sz as double)
             - cast(n * syz - sy * sz as double) * cast(n * syz - sy * sz as double)) > 0
  then floor(((cast(n * sxy - sx * sy as double) * cast(n * szz - sz * sz as double)
               - cast(n * sxz - sx * sz as double) * cast(n * syz - sy * sz as double))
    / sqrt((cast(n * sxx - sx * sx as double) * cast(n * szz - sz * sz as double)
            - cast(n * sxz - sx * sz as double) * cast(n * sxz - sx * sz as double))
         * (cast(n * syy - sy * sy as double) * cast(n * szz - sz * sz as double)
            - cast(n * syz - sy * sz as double) * cast(n * syz - sy * sz as double))))
    * 1000000.0 + 0.5) / 1000000.0
  end as r_partial
from m
"""

QUERIES["partial_correlation"] = q_partial_correlation
ORACLES["partial_correlation"] = O_PARTIAL_CORRELATION


# --- Chow structural break -------------------------------------------------------------------

def q_chow_break(spark, sf_dir):
    """Chow structural-break F (functions/stats.chow_break) of the
    linear daily-count trend at the series midpoint day — "did the
    trend change mid-sample"; additive exact integer power sums per
    segment, pooled moments by summation, cleared RSS closed forms,
    one fixed-order IEEE F."""
    from ..functions.stats import chow_break

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    daily = ev.groupBy(
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    mid = daily.agg(
        F.expr("cast((min(d) + max(d) + 1) div 2 as bigint)").alias("m")
    ).collect()[0].m
    return chow_break(daily, "d", "y", int(mid))


O_CHOW_BREAK = """
with daily as (
  select epoch_us(cast(ts as timestamp)) // 86400000000 as d,
    cast(count(*) as bigint) as y
  from events group by 1
),
cut as (select (min(d) + max(d) + 1) // 2 as m from daily),
seg as (
  select case when d >= (select m from cut) then 1 else 0 end as seg,
    d as x, y
  from daily
),
m as (
  select
    cast(sum(case when seg = 0 then 1 else 0 end) as hugeint) as n0,
    cast(sum(case when seg = 0 then x else 0 end) as hugeint) as sx0,
    cast(sum(case when seg = 0 then y else 0 end) as hugeint) as sy0,
    cast(sum(case when seg = 0 then cast(x as hugeint) * x else 0 end) as hugeint) as sxx0,
    cast(sum(case when seg = 0 then cast(x as hugeint) * y else 0 end) as hugeint) as sxy0,
    cast(sum(case when seg = 0 then cast(y as hugeint) * y else 0 end) as hugeint) as syy0,
    cast(sum(case when seg = 1 then 1 else 0 end) as hugeint) as n1,
    cast(sum(case when seg = 1 then x else 0 end) as hugeint) as sx1,
    cast(sum(case when seg = 1 then y else 0 end) as hugeint) as sy1,
    cast(sum(case when seg = 1 then cast(x as hugeint) * x else 0 end) as hugeint) as sxx1,
    cast(sum(case when seg = 1 then cast(x as hugeint) * y else 0 end) as hugeint) as sxy1,
    cast(sum(case when seg = 1 then cast(y as hugeint) * y else 0 end) as hugeint) as syy1
  from seg
),
r as (
  select cast(n0 as bigint) as n1_out, cast(n1 as bigint) as n2_out,
    (cast(n0 * sxx0 - sx0 * sx0 as double) * cast(n0 * syy0 - sy0 * sy0 as double)
     - cast(n0 * sxy0 - sx0 * sy0 as double) * cast(n0 * sxy0 - sx0 * sy0 as double))
      / (cast(n0 as double) * cast(n0 * sxx0 - sx0 * sx0 as double)) as rss0,
    (cast(n1 * sxx1 - sx1 * sx1 as double) * cast(n1 * syy1 - sy1 * sy1 as double)
     - cast(n1 * sxy1 - sx1 * sy1 as double) * cast(n1 * sxy1 - sx1 * sy1 as double))
      / (cast(n1 as double) * cast(n1 * sxx1 - sx1 * sx1 as double)) as rss1,
    (cast((n0 + n1) * (sxx0 + sxx1) - (sx0 + sx1) * (sx0 + sx1) as double)
       * cast((n0 + n1) * (syy0 + syy1) - (sy0 + sy1) * (sy0 + sy1) as double)
     - cast((n0 + n1) * (sxy0 + sxy1) - (sx0 + sx1) * (sy0 + sy1) as double)
       * cast((n0 + n1) * (sxy0 + sxy1) - (sx0 + sx1) * (sy0 + sy1) as double))
      / (cast(n0 + n1 as double)
         * cast((n0 + n1) * (sxx0 + sxx1) - (sx0 + sx1) * (sx0 + sx1) as double)) as rssp,
    cast(n0 * sxx0 - sx0 * sx0 as double) as axx0,
    cast(n1 * sxx1 - sx1 * sx1 as double) as axx1,
    cast((n0 + n1) * (sxx0 + sxx1) - (sx0 + sx1) * (sx0 + sx1) as double) as axxp,
    cast(n0 + n1 as double) as np
  from m
)
select n1_out as n1, n2_out as n2,
  case when n1_out >= 3 and n2_out >= 3 and axx0 > 0 and axx1 > 0 and axxp > 0
        and rss0 + rss1 > 0 then
    floor((((rssp - rss0 - rss1) / 2.0) / ((rss0 + rss1) / (np - 4.0)))
      * 1000000.0 + 0.5) / 1000000.0
  end as f_stat
from r
"""

QUERIES["chow_break"] = q_chow_break
ORACLES["chow_break"] = O_CHOW_BREAK


# --- Lorenz curve of user revenue ------------------------------------------------------------

def q_lorenz_revenue(spark, sf_dir):
    """Lorenz curve of per-user purchase revenue by population decile
    — the curve behind a single Gini number ("the bottom 50% of users
    carry X% of revenue"), the revenue-concentration companion to
    gini_lengths (documents) and the ASCENDING mirror of lift_table's
    descending gains. Users rank by (revenue cents asc, user_id asc);
    global positions come from distinct-value cumulative offsets + a
    value-partitioned row_number (ntile semantics with NO single-task
    global window); the decile is the closed form ((rn−1)·10 div N)+1
    on both engines; cumulative user and revenue shares release as
    exact ppm trunc divisions of integer sums."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").where(
        F.col("event_type") == "purchase"
    )
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long"))
        .cast("long")
        .alias("rev_c")
    )
    g = per_user.groupBy("rev_c").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    woff = Window.orderBy("rev_c").rowsBetween(
        Window.unboundedPreceding, -1
    )
    off = g.select(
        "rev_c", F.coalesce(F.sum("cnt").over(woff), F.lit(0)).alias("cb")
    )
    tot = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("nn"),
        F.sum("rev_c").cast("decimal(38,0)").alias("tot_c"),
    )
    wrn = Window.partitionBy("rev_c").orderBy("user_id")
    pos = (
        per_user.join(off, "rev_c")
        .crossJoin(F.broadcast(tot))
        .select(
            "rev_c",
            "nn",
            "tot_c",
            (((F.col("cb") + F.row_number().over(wrn) - 1) * 10)
             / F.col("nn")).cast("long").alias("bkt"),
        )
        .withColumn("decile", F.col("bkt") + 1)
    )
    per_b = pos.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(F.col("rev_c").cast("decimal(38,0)")).alias("rev_c"),
        F.max("nn").alias("nn"),
        F.max("tot_c").alias("tot_c"),
    )
    wcum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per_b.select(
        "decile",
        "n_users",
        F.sum("n_users").over(wcum).alias("cum_users"),
        F.sum("rev_c").over(wcum).alias("cum_rev"),
        "nn",
        "tot_c",
    )
    return cum.select(
        "decile",
        "n_users",
        F.expr("cast((cum_users * 1000000) div nn as bigint)").alias("cum_user_ppm"),
        F.when(
            F.col("tot_c") > 0,
            F.expr("cast((cum_rev * 1000000) div tot_c as bigint)"),
        ).otherwise(F.lit(0)).alias("cum_rev_ppm"),
    )


O_LORENZ_REVENUE = """
with pu as (
  select user_id,
    cast(sum(cast(round(value * 100, 0) as bigint)) as bigint) as rev_c
  from events where event_type = 'purchase' group by 1
),
g as (select rev_c, cast(count(*) as bigint) as cnt from pu group by 1),
off as (
  select rev_c, coalesce(sum(cnt) over (
    order by rev_c rows between unbounded preceding and 1 preceding), 0) as cb
  from g
),
tot as (
  select cast(count(*) as bigint) as nn, cast(sum(rev_c) as hugeint) as tot_c
  from pu
),
pos as (
  select pu.rev_c, t.nn, t.tot_c,
    ((o.cb + row_number() over (partition by pu.rev_c order by pu.user_id) - 1)
     * 10) // t.nn + 1 as decile
  from pu join off o using (rev_c) cross join tot t
),
per_b as (
  select decile, cast(count(*) as bigint) as n_users,
    cast(sum(cast(rev_c as hugeint)) as hugeint) as rev_c,
    max(nn) as nn, max(tot_c) as tot_c
  from pos group by 1
),
cum as (
  select decile, n_users,
    sum(n_users) over (order by decile rows between unbounded preceding
                       and current row) as cum_users,
    sum(rev_c) over (order by decile rows between unbounded preceding
                     and current row) as cum_rev,
    nn, tot_c
  from per_b
)
select cast(decile as bigint) as decile, n_users,
  cast((cum_users * 1000000) // nn as bigint) as cum_user_ppm,
  cast(case when tot_c > 0 then (cum_rev * 1000000) // tot_c else 0 end
       as bigint) as cum_rev_ppm
from cum
"""

QUERIES["lorenz_revenue"] = q_lorenz_revenue
ORACLES["lorenz_revenue"] = O_LORENZ_REVENUE


# --- retrieval ranking quality: NDCG@10 / MAP@10 of IVF vs exact -----------------------------
#
# The position-weighted upgrade over ivf_recall's set overlap and rbo's
# rank correlation: NDCG grades WHERE the approximate index puts the true
# neighbors. Logarithmic discounts are PLAN LITERALS (floor(1e9/log2(p+1)
# + 0.5) precomputed in Python), so every per-term value is a pure
# integer on both engines — no cross-engine libm log2 ever runs; AP@10's
# rational precision terms clear exactly through LCM(1..10) = 2520.

_NDCG_W = [1000000000, 630929754, 500000000, 430676558, 386852807,
           356207187, 333333333, 315464877, 301029996, 289064826]


def q_retrieval_metrics(spark, sf_dir):
    """NDCG@10, MAP@10, and mean precision@10 of the IVF index against
    the brute-force cosine top-10 truth. Per candidate at IVF position
    p with truth rank t: graded relevance rel = 11 − t (0 if not a true
    neighbor), DCG term = rel·W_p with the integer literal discount
    table W; IDCG composes the same integers from the truth list; AP's
    precision-at-hit terms clear to hit·cumhits·(2520 div p). Per-query
    ratios and the final means are exact ppm trunc divisions — every
    number released is an integer. Queries the IVF misses entirely
    (singleton clusters) count as zero, not dropped."""
    from pyspark.sql import Window

    from ..operators import similarity as sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    truth = sim.brute_force_topk(emb, k=10).select(
        "query_id", "neighbor_id", F.col("rank").cast("int").alias("rank_t")
    )
    cand = sim.ivf_topk(emb, k=10, n_centroids=8).select(
        "query_id", "neighbor_id", F.col("rank").cast("int").alias("rank_c")
    )
    w_arr = F.array(*[F.lit(w) for w in _NDCG_W])
    j = cand.join(truth, ["query_id", "neighbor_id"], "left").select(
        "query_id",
        "rank_c",
        F.when(F.col("rank_t").isNotNull(), F.lit(11) - F.col("rank_t"))
        .otherwise(F.lit(0)).cast("long").alias("rel"),
        F.col("rank_t").isNotNull().cast("long").alias("hit"),
    )
    wcum = (
        Window.partitionBy("query_id")
        .orderBy("rank_c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    jh = j.select(
        "query_id",
        (F.col("rel") * F.element_at(w_arr, F.col("rank_c")).cast("long"))
        .alias("dcg_term"),
        (F.col("hit") * F.sum("hit").over(wcum)
         * F.expr("2520 div rank_c")).alias("ap_term"),
        "hit",
    )
    perq = jh.groupBy("query_id").agg(
        F.sum("dcg_term").cast("long").alias("dcg_nano"),
        F.sum("ap_term").cast("long").alias("ap_scaled"),
        F.sum("hit").cast("long").alias("hits"),
    )
    idcg = truth.groupBy("query_id").agg(
        F.sum((F.lit(11) - F.col("rank_t")).cast("long")
              * F.element_at(w_arr, F.col("rank_t")).cast("long"))
        .cast("long").alias("idcg_nano"),
        F.count(F.lit(1)).cast("long").alias("t_cnt"),
    )
    per = idcg.join(perq, "query_id", "left").select(
        F.expr("cast((coalesce(dcg_nano, 0) * 1000000) div idcg_nano as bigint)")
        .alias("ndcg_ppm"),
        F.expr(
            "cast((coalesce(ap_scaled, 0) * 1000000)"
            " div (2520 * least(t_cnt, 10)) as bigint)"
        ).alias("ap_ppm"),
        (F.coalesce(F.col("hits"), F.lit(0)) * F.lit(100000)).alias("prec_ppm"),
    )
    return per.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.expr("cast(sum(ndcg_ppm) div count(*) as bigint)").alias("mean_ndcg_ppm"),
        F.expr("cast(sum(ap_ppm) div count(*) as bigint)").alias("mean_ap_ppm"),
        F.expr("cast(sum(prec_ppm) div count(*) as bigint)").alias("mean_prec10_ppm"),
    )


_NDCG_W_SQL = "[" + ", ".join(str(w) for w in _NDCG_W) + "]"

O_RETRIEVAL_METRICS = f"""{_IVF_CTES},
tpairs as (
  select a.vec_id as query_id, b.vec_id as neighbor_id,
    list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))
         + {DIVISION_GUARD_EPS}) as cos
  from e a, e b where a.vec_id != b.vec_id
),
truth as (
  select query_id, neighbor_id, cast(rank as int) as rank_t from (
    select *, row_number() over (partition by query_id
      order by cos desc, neighbor_id) as rank
    from tpairs
  ) where rank <= 10
),
cpairs as (
  select a.vec_id as query_id, b.vec_id as neighbor_id,
    list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))
         + {DIVISION_GUARD_EPS}) as cos
  from asg a join asg b using (centroid_id)
  where a.vec_id <> b.vec_id
),
cand as (
  select query_id, neighbor_id, cast(rank as int) as rank_c from (
    select *, row_number() over (partition by query_id
      order by cos desc, neighbor_id) as rank
    from cpairs
  ) where rank <= 10
),
wt as (select {_NDCG_W_SQL}::BIGINT[] as w),
j as (
  select c.query_id, c.rank_c,
    cast(case when t.rank_t is not null then 11 - t.rank_t else 0 end
         as bigint) as rel,
    cast(case when t.rank_t is not null then 1 else 0 end as bigint) as hit
  from cand c left join truth t using (query_id, neighbor_id)
),
jh as (
  select query_id,
    rel * (select w from wt)[rank_c] as dcg_term,
    hit * sum(hit) over (partition by query_id order by rank_c
      rows between unbounded preceding and current row)
      * (2520 // rank_c) as ap_term,
    hit
  from j
),
perq as (
  select query_id, cast(sum(dcg_term) as bigint) as dcg_nano,
    cast(sum(ap_term) as bigint) as ap_scaled,
    cast(sum(hit) as bigint) as hits
  from jh group by 1
),
idcg as (
  select query_id,
    cast(sum((11 - rank_t) * (select w from wt)[rank_t]) as bigint) as idcg_nano,
    cast(count(*) as bigint) as t_cnt
  from truth group by 1
),
per as (
  select (coalesce(p.dcg_nano, 0) * 1000000) // i.idcg_nano as ndcg_ppm,
    (coalesce(p.ap_scaled, 0) * 1000000) // (2520 * least(i.t_cnt, 10)) as ap_ppm,
    coalesce(p.hits, 0) * 100000 as prec_ppm
  from idcg i left join perq p using (query_id)
)
select cast(count(*) as bigint) as n_queries,
  cast(sum(ndcg_ppm) // count(*) as bigint) as mean_ndcg_ppm,
  cast(sum(ap_ppm) // count(*) as bigint) as mean_ap_ppm,
  cast(sum(prec_ppm) // count(*) as bigint) as mean_prec10_ppm
from per
"""

QUERIES["retrieval_metrics"] = q_retrieval_metrics
ORACLES["retrieval_metrics"] = O_RETRIEVAL_METRICS


# --- classifier summary: multiclass MCC + macro-F1 of the NB router --------------------------

def q_nb_quality(spark, sf_dir):
    """Multiclass Matthews correlation (Gorodkin R_k) and macro-F1 of
    the Naive Bayes router's held-out confusion matrix — the
    chance-corrected single numbers the per-cell confusion cannot give
    (accuracy flatters imbalanced label mixes; MCC does not). From
    integer confusion counts: c = trace, s = total, t_k/p_k the
    true/predicted class masses; MCC = (c·s − Σp_k·t_k)/√((s²−Σp²)
    (s²−Σt²)) is ONE fixed-order IEEE expression of exact integers
    (NULL when either factor is 0); per-class F1 = 2TP·10⁶ div
    (2TP+FP+FN) exact ppm over the UNION of true/predicted classes
    (absent-side counts coalesce to 0), macro-F1 = the trunc-division
    mean."""
    from ..functions.corpus import naive_bayes_confusion

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # |langs|²-bounded: materialize ONCE so the t/p/d branches don't each
    # re-execute the full classifier lineage (r5 materialize-once pattern)
    cm = naive_bayes_confusion(docs, "lang").localCheckpoint(eager=False)
    t = cm.groupBy(F.col("label_true").alias("cls")).agg(
        F.sum("n_docs").cast("long").alias("t_k")
    )
    p = cm.groupBy(F.col("label_pred").alias("cls")).agg(
        F.sum("n_docs").cast("long").alias("p_k")
    )
    d = cm.filter(F.col("label_true") == F.col("label_pred")).select(
        F.col("label_true").alias("cls"), F.col("n_docs").alias("tp")
    )
    per_cls = (
        t.join(p, "cls", "full")
        .join(d, "cls", "left")
        .select(
            "cls",
            F.coalesce(F.col("t_k"), F.lit(0)).alias("t_k"),
            F.coalesce(F.col("p_k"), F.lit(0)).alias("p_k"),
            F.coalesce(F.col("tp"), F.lit(0)).alias("tp"),
        )
    )
    agg = per_cls.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("tp").cast("long").alias("c"),
        F.sum("t_k").cast("long").alias("s"),
        F.sum(F.col("p_k").cast("decimal(38,0)") * F.col("t_k"))
        .cast("decimal(38,0)").alias("spt"),
        F.sum(F.col("p_k").cast("decimal(38,0)") * F.col("p_k"))
        .cast("decimal(38,0)").alias("sp2"),
        F.sum(F.col("t_k").cast("decimal(38,0)") * F.col("t_k"))
        .cast("decimal(38,0)").alias("st2"),
        F.sum(
            F.expr("cast((2 * tp * 1000000) div"
                   " nullif(2 * tp + (p_k - tp) + (t_k - tp), 0) as bigint)")
        ).cast("long").alias("f1_sum"),
    )
    cd = F.col("c").cast("double") * F.col("s").cast("double") \
        - F.col("spt").cast("double")
    d1 = F.col("s").cast("double") * F.col("s").cast("double") \
        - F.col("sp2").cast("double")
    d2 = F.col("s").cast("double") * F.col("s").cast("double") \
        - F.col("st2").cast("double")
    return agg.select(
        "k",
        F.col("s").cast("long").alias("n_docs"),
        F.when(
            (d1 > 0) & (d2 > 0),
            F.floor(cd / F.sqrt(d1 * d2) * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6),
        ).alias("mcc"),
        F.expr("cast(coalesce(f1_sum, 0) div k as bigint)").alias("macro_f1_ppm"),
    )


O_NB_QUALITY = f"""
with cm as ({O_NAIVE_BAYES}),
t as (select label_true as cls, cast(sum(n_docs) as bigint) as t_k from cm group by 1),
p as (select label_pred as cls, cast(sum(n_docs) as bigint) as p_k from cm group by 1),
d as (select label_true as cls, n_docs as tp from cm where label_true = label_pred),
per_cls as (
  select coalesce(t.cls, p.cls) as cls,
    coalesce(t.t_k, 0) as t_k, coalesce(p.p_k, 0) as p_k,
    coalesce(d.tp, 0) as tp
  from t full join p on t.cls = p.cls
  left join d on coalesce(t.cls, p.cls) = d.cls
),
a as (
  select cast(count(*) as bigint) as k,
    cast(sum(tp) as bigint) as c,
    cast(sum(t_k) as bigint) as s,
    cast(sum(cast(p_k as hugeint) * t_k) as hugeint) as spt,
    cast(sum(cast(p_k as hugeint) * p_k) as hugeint) as sp2,
    cast(sum(cast(t_k as hugeint) * t_k) as hugeint) as st2,
    cast(sum((2 * tp * 1000000)
             // nullif(2 * tp + (p_k - tp) + (t_k - tp), 0)) as bigint) as f1_sum
  from per_cls
)
select k, s as n_docs,
  case when (cast(s as double) * s - cast(sp2 as double)) > 0
        and (cast(s as double) * s - cast(st2 as double)) > 0 then
    floor(((cast(c as double) * cast(s as double) - cast(spt as double))
      / sqrt((cast(s as double) * cast(s as double) - cast(sp2 as double))
           * (cast(s as double) * cast(s as double) - cast(st2 as double))))
      * 1000000.0 + 0.5) / 1000000.0
  end as mcc,
  cast(coalesce(f1_sum, 0) // k as bigint) as macro_f1_ppm
from a
"""

QUERIES["nb_quality"] = q_nb_quality
ORACLES["nb_quality"] = O_NB_QUALITY


# --- Welch's t ------------------------------------------------------------------------------

def q_welch_t(spark, sf_dir):
    """Welch's unequal-variance t (functions/stats.welch_t) between the
    en and es document-length distributions — the default two-group
    mean comparison (pooled Student assumes the variance homogeneity
    brown_forsythe tests); cleared integer moments, t and the
    Welch–Satterthwaite df each one fixed-order IEEE expression."""
    from ..functions.stats import welch_t

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return welch_t(docs, "lang", "n_chars", "en", "es")


O_WELCH_T = """
with v as (
  select case when lang = 'en' then 1 else 0 end as ia,
    cast(n_chars as bigint) as x
  from documents where lang in ('en', 'es')
),
m as (
  select
    cast(sum(ia) as hugeint) as n_a,
    cast(sum(ia * x) as hugeint) as s_a,
    cast(sum(ia * cast(x as hugeint) * x) as hugeint) as q_a,
    cast(sum(1 - ia) as hugeint) as n_b,
    cast(sum((1 - ia) * x) as hugeint) as s_b,
    cast(sum((1 - ia) * cast(x as hugeint) * x) as hugeint) as q_b
  from v
),
r as (
  select cast(n_a as bigint) as n_a, cast(n_b as bigint) as n_b,
    cast(n_a * q_a - s_a * s_a as double) as aa,
    cast(n_b * q_b - s_b * s_b as double) as ab,
    cast(n_a as double) as nad, cast(n_b as double) as nbd,
    cast(s_a as double) as sad, cast(s_b as double) as sbd
  from m
),
x as (
  select n_a, n_b, nad, nbd, sad, sbd, aa, ab,
    aa / (nad * nad * (nad - 1.0)) as va,
    ab / (nbd * nbd * (nbd - 1.0)) as vb
  from r
)
select n_a, n_b,
  case when n_a >= 2 and n_b >= 2 and (aa > 0 or ab > 0) then
    floor(((sad / nad - sbd / nbd) / sqrt(va + vb)) * 1000000.0 + 0.5)
      / 1000000.0
  end as t_stat,
  case when n_a >= 2 and n_b >= 2 and (aa > 0 or ab > 0) then
    floor(((va + vb) * (va + vb)
      / (va * va / (nad - 1.0) + vb * vb / (nbd - 1.0)))
      * 1000000.0 + 0.5) / 1000000.0
  end as df
from x
"""

QUERIES["welch_t"] = q_welch_t
ORACLES["welch_t"] = O_WELCH_T


# --- Cronbach's alpha -----------------------------------------------------------------------

_CRONBACH_ITEMS = ["click", "purchase", "error", "signup", "view"]


def q_cronbach(spark, sf_dir):
    """Cronbach's alpha (functions/stats.cronbach_alpha) of users'
    five event-type counts — "do the activity dimensions move together
    enough to average into one engagement score"; the shared case
    count cancels out of every variance numerator, so alpha is exact
    in integers with one signed micro trunc division."""
    from ..functions.stats import cronbach_alpha

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "event_type", F.lit(1).alias("one")
    )
    return cronbach_alpha(ev, "user_id", "event_type", "one", _CRONBACH_ITEMS)


_CRON_PIV = ", ".join(
    f"cast(sum(case when event_type = '{it}' then 1 else 0 end) as bigint)"
    f" as it_{i}"
    for i, it in enumerate(_CRONBACH_ITEMS)
)
_CRON_Q = " + ".join(
    f"cast(n * q_{i} - s_{i} * s_{i} as hugeint)" for i in range(5)
)
_CRON_MOMS = ", ".join(
    f"cast(sum(it_{i}) as hugeint) as s_{i},"
    f" cast(sum(cast(it_{i} as hugeint) * it_{i}) as hugeint) as q_{i}"
    for i in range(5)
)

O_CRONBACH = f"""
with piv as (
  select user_id, {_CRON_PIV}
  from events group by 1
),
pv as (
  select *, it_0 + it_1 + it_2 + it_3 + it_4 as row_tot from piv
),
m as (
  select cast(count(*) as hugeint) as n, {_CRON_MOMS},
    cast(sum(row_tot) as hugeint) as s_t,
    cast(sum(cast(row_tot as hugeint) * row_tot) as hugeint) as q_t
  from pv
)
select cast(5 as bigint) as k, cast(n as bigint) as n_cases,
  case when n * q_t - s_t * s_t > 0 then
    cast((5 * ((n * q_t - s_t * s_t) - ({_CRON_Q})) * 1000000)
         // (4 * (n * q_t - s_t * s_t)) as bigint)
  end as alpha_micro
from m
"""

QUERIES["cronbach"] = q_cronbach
ORACLES["cronbach"] = O_CRONBACH


# --- PACF lag 2 -----------------------------------------------------------------------------

def q_pacf2(spark, sf_dir):
    """Durbin–Levinson partial autocorrelation at lag 2
    (functions/stats.pacf_lag2) of the densified daily event counts —
    the AR-order evidence ljung_box's portmanteau cannot localize
    (AR(1) has phi22 ~ 0 even with r2 != 0); n-cleared integer lag
    covariances, the ratio clears to (C2*C0 - C1^2)/(C0^2 - C1^2)."""
    from ..functions.stats import pacf_lag2

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    daily = ev.groupBy(
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    return pacf_lag2(daily, "d", "y")


O_PACF2 = """
with daily as (
  select epoch_us(cast(ts as timestamp)) // 86400000000 as d,
    cast(count(*) as bigint) as y
  from events group by 1
),
cal as (
  select unnest(generate_series((select min(d) from daily),
                                (select max(d) from daily))) as i
),
dense as (
  select cal.i, coalesce(daily.y, 0) as y
  from cal left join daily on cal.i = daily.d
),
tot as (select cast(count(*) as bigint) as n, cast(sum(y) as bigint) as s from dense),
u as (
  select cast(t.n * d.y - t.s as hugeint) as u0,
    cast(t.n * lead(d.y, 1) over (order by d.i) - t.s as hugeint) as u1,
    cast(t.n * lead(d.y, 2) over (order by d.i) - t.s as hugeint) as u2,
    t.n
  from dense d cross join tot t
),
cm as (
  select max(n) as n,
    cast(sum(u0 * u0) as hugeint) as c0,
    cast(sum(u0 * u1) as hugeint) as c1,
    cast(sum(u0 * u2) as hugeint) as c2
  from u
)
select cast(n as bigint) as n,
  case when cast(c0 as double) * cast(c0 as double)
            - cast(c1 as double) * cast(c1 as double) <> 0 then
    floor(((cast(c2 as double) * cast(c0 as double)
            - cast(c1 as double) * cast(c1 as double))
      / (cast(c0 as double) * cast(c0 as double)
         - cast(c1 as double) * cast(c1 as double)))
      * 1000000.0 + 0.5) / 1000000.0
  end as phi22
from cm
"""

QUERIES["pacf2"] = q_pacf2
ORACLES["pacf2"] = O_PACF2


# --- Kuiper two-sample ----------------------------------------------------------------------

def q_kuiper(spark, sf_dir):
    """Two-sample Kuiper V (functions/stats.kuiper_two_sample) between
    the en and es doc-length distributions — D+ + D- keeps power in
    the tails where KS's single max gap under-weights crossing
    distributions; exact cleared-integer excursions, one ppm trunc
    division."""
    from ..functions.stats import kuiper_two_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return kuiper_two_sample(docs, "n_chars", "lang", "en", "es")


O_KUIPER = """
with b as (select cast(n_chars as bigint) as v,
  case when lang = 'en' then 1 else 0 end as ia,
  case when lang = 'es' then 1 else 0 end as ib
 from documents where lang in ('en', 'es')),
g as (select v, cast(sum(ia) as bigint) as ca, cast(sum(ib) as bigint) as cb
 from b group by v),
c as (select
  sum(ca) over (order by v rows between unbounded preceding and current row) as cum_a,
  sum(cb) over (order by v rows between unbounded preceding and current row) as cum_b,
  sum(ca) over () as n_a, sum(cb) over () as n_b
 from g),
a as (select
  greatest(max(cast(cum_a as hugeint) * n_b - cast(cum_b as hugeint) * n_a),
           0::hugeint) as m_pos,
  greatest(max(cast(cum_b as hugeint) * n_a - cast(cum_a as hugeint) * n_b),
           0::hugeint) as m_neg,
  cast(max(n_a) as bigint) as n_a, cast(max(n_b) as bigint) as n_b
 from c)
select n_a, n_b,
  case when n_a > 0 and n_b > 0 then
    cast(((m_pos + m_neg) * 1000000) // (cast(n_a as hugeint) * n_b) as bigint)
  end as v_ppm
from a
"""

QUERIES["kuiper"] = q_kuiper
ORACLES["kuiper"] = O_KUIPER


# --- Ansari-Bradley scale test --------------------------------------------------------------

def q_ansari_bradley(spark, sf_dir):
    """Ansari–Bradley rank scale test (functions/stats.ansari_bradley)
    between the en and es doc-length distributions — the dispersion
    member of the rank panel (mann_whitney: location; this: spread);
    tie-exact center-distance scores via closed-form range sums, the
    conditional permutation moments from the realized tie structure,
    one fixed-order IEEE z."""
    from ..functions.stats import ansari_bradley

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return ansari_bradley(docs, "n_chars", "lang", "en", "es")


O_ANSARI_BRADLEY = """
with b as (select cast(n_chars as bigint) as v,
  case when lang = 'en' then 1 else 0 end as ia,
  case when lang = 'es' then 1 else 0 end as ib
 from documents where lang in ('en', 'es')),
g as (select v, cast(sum(ia) as bigint) as ca, cast(sum(ib) as bigint) as cb
 from b group by v),
fr as (select ca, cb, ca + cb as c,
  sum(ca + cb) over (order by v rows between unbounded preceding and current row) as hi,
  sum(ca) over () as n_a, sum(cb) over () as n_b
 from g),
fr2 as (select ca, cb, c, hi, hi - c + 1 as lo, n_a, n_b, n_a + n_b as nn from fr),
terms as (
  select ca, cb, c, n_a, n_b, nn,
    (case when least(hi, (nn + 1) // 2) >= lo then
       (cast(least(hi, (nn + 1) // 2) as hugeint)
          * (least(hi, (nn + 1) // 2) + 1)
        - cast(lo - 1 as hugeint) * lo) // 2
     else 0 end)
    +
    (case when (nn + 1 - greatest(lo, (nn + 1) // 2 + 1)) >= (nn + 1 - hi) then
       (cast(nn + 1 - greatest(lo, (nn + 1) // 2 + 1) as hugeint)
          * (nn + 2 - greatest(lo, (nn + 1) // 2 + 1))
        - cast(nn - hi as hugeint) * (nn + 1 - hi)) // 2
     else 0 end) as s1
  from fr2
),
a as (
  select cast(max(n_a) as bigint) as n_a, cast(max(n_b) as bigint) as n_b,
    cast(max(nn) as bigint) as nn,
    cast(sum((cb * s1 * 1000000) // c) as hugeint) as ab_micro,
    cast(sum(s1) as hugeint) as s_tot,
    cast(sum((s1 * s1 * 1000000) // c) as hugeint) as sq_micro
  from terms
)
select n_a, n_b, cast(ab_micro as bigint) as ab_micro,
  case when cast(n_a as double) * n_b
        * (nn * (cast(sq_micro as double) / 1e6)
           - cast(s_tot as double) * cast(s_tot as double))
        / (cast(nn as double) * nn * (nn - 1.0)) > 0 then
    floor(((cast(ab_micro as double) / 1e6
            - cast(n_b as double) * cast(s_tot as double) / nn)
      / sqrt(cast(n_a as double) * n_b
          * (nn * (cast(sq_micro as double) / 1e6)
             - cast(s_tot as double) * cast(s_tot as double))
          / (cast(nn as double) * nn * (nn - 1.0))))
      * 1000000.0 + 0.5) / 1000000.0
  end as z
from a
"""

QUERIES["ansari_bradley"] = q_ansari_bradley
ORACLES["ansari_bradley"] = O_ANSARI_BRADLEY


# --- paired sign test -----------------------------------------------------------------------

def q_sign_test(spark, sf_dir):
    """Paired sign test (functions/stats.sign_test_paired) of daily
    purchase vs error counts — the weakest-assumption paired
    comparison (survives any monotone transform of either series,
    unlike wilcoxon_signed's magnitude ranks); ties dropped, integer
    counts, one fixed-order IEEE z."""
    from ..functions.stats import sign_test_paired

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    daily = ev.groupBy(
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("d")
    ).agg(
        F.sum((F.col("event_type") == "purchase").cast("int"))
        .cast("long").alias("x"),
        F.sum((F.col("event_type") == "error").cast("int"))
        .cast("long").alias("y"),
    )
    return sign_test_paired(daily, "x", "y")


O_SIGN_TEST = """
with daily as (
  select epoch_us(cast(ts as timestamp)) // 86400000000 as d,
    cast(sum(case when event_type = 'purchase' then 1 else 0 end) as bigint) as x,
    cast(sum(case when event_type = 'error' then 1 else 0 end) as bigint) as y
  from events group by 1
),
a as (
  select cast(sum(case when x > y then 1 else 0 end) as bigint) as n_pos,
    cast(sum(case when x < y then 1 else 0 end) as bigint) as n_neg
  from daily
)
select n_pos, n_neg,
  case when n_pos + n_neg > 0 then
    floor(((2.0 * n_pos - cast(n_pos + n_neg as double))
      / sqrt(cast(n_pos + n_neg as double))) * 1000000.0 + 0.5) / 1000000.0
  end as z
from a
"""

QUERIES["sign_test"] = q_sign_test
ORACLES["sign_test"] = O_SIGN_TEST


# --- Moran's I / Geary's C over the tool co-usage graph --------------------------------------

def q_moran_geary(spark, sf_dir):
    """Moran's I + Geary's C (functions/graph.moran_geary) of tool
    POPULARITY over the co-usage graph — "are popular tools used
    together with popular tools" (assortative popularity mixing), the
    attribute-level companion to assortativity's degree-degree
    correlation; cleared integers end to end, signed micro trunc
    releases."""
    from ..functions.graph import moran_geary

    t = transcripts_from_events(spark, sf_dir)
    d = t.filter(F.col("tool").isNotNull()).select("conv_id", "tool").distinct()
    a = d.select("conv_id", F.col("tool").alias("src"))
    b = d.select("conv_id", F.col("tool").alias("dst"))
    edges = (
        a.join(b, "conv_id")
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    nodes = d.groupBy(F.col("tool").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    return moran_geary(edges, nodes)


O_MORAN_GEARY = f"""{_W},
d as (select distinct conv_id, tool from transcripts where tool is not null),
edges as (
  select a.tool as src, b.tool as dst, cast(count(*) as bigint) as w
  from d a join d b on a.conv_id = b.conv_id and a.tool < b.tool
  group by 1, 2
),
nodes as (select tool as id, cast(count(*) as bigint) as x from d group by 1),
tot as (select cast(count(*) as bigint) as n, cast(sum(x) as bigint) as s from nodes),
u as (select id, cast(t.n * nodes.x - t.s as hugeint) as u, t.n
  from nodes cross join tot t),
uu as (select cast(sum(u * u) as hugeint) as uu from u),
a as (
  select cast(max(ua.n) as bigint) as n,
    cast(sum(e.w) as hugeint) as wh,
    cast(sum(e.w * ua.u * ub.u) as hugeint) as p,
    cast(sum(e.w * (ua.u - ub.u) * (ua.u - ub.u)) as hugeint) as q
  from edges e
  join u ua on e.src = ua.id
  join u ub on e.dst = ub.id
)
select n as n_nodes, cast(wh as bigint) as w_half,
  case when (select uu from uu) > 0 and wh > 0 then
    cast((n * p * 1000000) // (wh * (select uu from uu)) as bigint)
  end as moran_micro,
  case when (select uu from uu) > 0 and wh > 0 then
    cast(((n - 1) * q * 1000000) // (2 * wh * (select uu from uu)) as bigint)
  end as geary_micro
from a
"""

QUERIES["moran_geary"] = q_moran_geary
ORACLES["moran_geary"] = O_MORAN_GEARY


# --- Friedman test --------------------------------------------------------------------------

def q_friedman(spark, sf_dir):
    """Friedman repeated-measures rank test (functions/stats.
    friedman_test): days as blocks, the five event types as
    treatments — "do the activity dimensions rank consistently day
    after day" (cochran_q's sibling for counts); doubled closed-form
    midranks over the dense pivot, the tie-corrected Conover statistic
    entirely in integers."""
    from ..functions.stats import friedman_test

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("d"),
        "event_type",
        F.lit(1).alias("one"),
    )
    return friedman_test(ev, "d", "event_type", "one", _CRONBACH_ITEMS)


def _friedman_sql() -> str:
    k = 5
    piv = ", ".join(
        f"cast(sum(case when event_type = '{it}' then 1 else 0 end) as bigint)"
        f" as it_{i}"
        for i, it in enumerate(_CRONBACH_ITEMS)
    )
    r2 = []
    for i in range(k):
        less = " + ".join(
            f"(case when it_{j} < it_{i} then 1 else 0 end)"
            for j in range(k) if j != i
        )
        ties = " + ".join(
            f"(case when it_{j} = it_{i} then 1 else 0 end)"
            for j in range(k) if j != i
        )
        r2.append(f"2 + 2 * ({less}) + ({ties}) as r2_{i}")
    b2 = ", ".join(
        f"cast(sum(r2_{i}) as hugeint) as b2_{i}" for i in range(k)
    )
    sr2 = " + ".join(
        f"cast(sum(cast(r2_{i} as hugeint) * r2_{i}) as hugeint)"
        for i in range(k)
    )
    dsq = " + ".join(
        f"(b2_{i} - cast(b as hugeint) * {k + 1})"
        f" * (b2_{i} - cast(b as hugeint) * {k + 1})"
        for i in range(k)
    )
    return f"""
with piv as (
  select epoch_us(cast(ts as timestamp)) // 86400000000 as d, {piv}
  from events group by 1
),
rk as (select {', '.join(f'r2_{i}' for i in range(k))} from (
  select *, {', '.join(r2)} from piv
)),
m as (
  select cast(count(*) as bigint) as b, {b2}, {sr2} as sr2 from rk
)
select cast({k} as bigint) as k, b as n_blocks,
  case when sr2 - cast(b as hugeint) * {k} * {(k + 1) ** 2} > 0 then
    cast(({k - 1} * ({dsq}) * 1000000)
         // (sr2 - cast(b as hugeint) * {k} * {(k + 1) ** 2}) as bigint)
  end as chi2_micro
from m
"""


O_FRIEDMAN = _friedman_sql()

QUERIES["friedman"] = q_friedman
ORACLES["friedman"] = O_FRIEDMAN


# --- Hurst exponent (aggregated variance) ---------------------------------------------------

def q_hurst(spark, sf_dir):
    """Aggregated-variance Hurst exponent (functions/stats.
    hurst_varagg) of the daily event counts over dyadic blocks 1/2/4/8
    — the long-range-dependence summary beside variance_ratio's
    two-scale VR(2); exact integer cleared variances per level,
    nano-ln quantization, the dyadic x-grid closed-forms the OLS slope
    to one integer trunc division."""
    from ..functions.stats import hurst_varagg

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    daily = ev.groupBy(
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    return hurst_varagg(daily, "d", "y")


def _hurst_sql() -> str:
    lvl = []
    for j, kk in enumerate([1, 2, 4, 8]):
        lvl.append(f"""
  select {j} as j, cast(count(*) as bigint) as m,
    cast(count(*) as hugeint) * sum(cast(bs as hugeint) * bs)
      - cast(sum(bs) as hugeint) * sum(bs) as a
  from (
    select (t // {kk}) as blk, count(*) as cnt, cast(sum(y) as bigint) as bs
    from base group by 1
  ) where cnt = {kk}""")
    levels = " union all ".join(lvl)
    l2 = 693147181
    return f"""
with daily as (
  select epoch_us(cast(ts as timestamp)) // 86400000000 as d,
    cast(count(*) as bigint) as y
  from events group by 1
),
base as (select d - (select min(d) from daily) as t, y from daily),
nrow as (select cast(count(*) as bigint) as n from base),
lv as ({levels}),
terms as (
  select j, m, a,
    (2 * j - 3) * (
      cast(floor(ln(cast(a as double)) * 1000000000.0 + 0.5) as bigint)
      - 2 * cast(floor(ln(cast(m as double)) * 1000000000.0 + 0.5) as bigint)
      - 2 * j * cast({l2} as bigint)
    ) as wy
  from lv
),
fin as (
  select min(m) as min_m, min(a) as min_a,
    cast(sum(wy) as bigint) as swy, count(*) as n_lv
  from terms
)
select (select n from nrow) as n,
  case when min_m >= 2 and min_a > 0 and n_lv = 4 then
    1000000 + cast((swy * 1000000) // (20 * cast({l2} as bigint)) as bigint)
  end as h_micro
from fin
"""


O_HURST = _hurst_sql()

QUERIES["hurst"] = q_hurst
ORACLES["hurst"] = O_HURST


# --- deterministic epoch shuffle -------------------------------------------------------------

def q_epoch_shuffle(spark, sf_dir):
    """Seeded deterministic epoch shuffle of the document corpus into
    training shards — the reproducible global permutation every
    dataloader needs (hash_sample decides WHO is in; this decides WHERE
    and in WHAT ORDER): shard = md5(seed ‖ id) mod 8, position = rank
    of the same md5 within the shard. Same seed → identical permutation
    on any engine or cluster size; changing the seed literal reshuffles
    everything. The rank window is PARTITIONED by shard (no single-task
    global sort); collisions tie-break by doc_id for total determinism.

    Returns (doc_id, shard, pos)."""
    from pyspark.sql import Window

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    h = F.md5(F.concat(F.lit("epoch0#"), F.col("doc_id").cast("string")))
    shard = (
        F.conv(F.substring(h, 1, 7), 16, 10).cast("long") % 8
    ).alias("shard")
    d = docs.select("doc_id", shard, h.alias("_h"))
    w = Window.partitionBy("shard").orderBy("_h", "doc_id")
    return d.select(
        "doc_id", "shard", F.row_number().over(w).cast("long").alias("pos")
    )


O_EPOCH_SHUFFLE = f"""
with d as (
  select doc_id, md5('epoch0#' || cast(doc_id as varchar)) as h
  from documents
),
s as (
  select doc_id, cast(({_HEX7}) % 8 as bigint) as shard, h
  from d
)
select doc_id, shard,
  cast(row_number() over (partition by shard order by h, doc_id) as bigint) as pos
from s
"""

QUERIES["epoch_shuffle"] = q_epoch_shuffle
ORACLES["epoch_shuffle"] = O_EPOCH_SHUFFLE


# --- Lin's concordance correlation -----------------------------------------------------------

def q_ccc(spark, sf_dir):
    """Lin's concordance CCC (functions/stats.concordance_ccc) between
    daily purchase and click counts — AGREEMENT, not association
    (pearson rewards y = 2x with r = 1; CCC penalizes the scale bias);
    denominator clearing collapses it to one signed micro trunc
    division of exact integers."""
    from ..functions.stats import concordance_ccc

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    daily = ev.groupBy(
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("d")
    ).agg(
        F.sum((F.col("event_type") == "purchase").cast("int"))
        .cast("long").alias("x"),
        F.sum((F.col("event_type") == "click").cast("int"))
        .cast("long").alias("y"),
    )
    return concordance_ccc(daily, "x", "y")


O_CCC = """
with daily as (
  select epoch_us(cast(ts as timestamp)) // 86400000000 as d,
    cast(sum(case when event_type = 'purchase' then 1 else 0 end) as bigint) as x,
    cast(sum(case when event_type = 'click' then 1 else 0 end) as bigint) as y
  from events group by 1
),
m as (
  select cast(count(*) as hugeint) as n,
    cast(sum(x) as hugeint) as sx, cast(sum(y) as hugeint) as sy,
    cast(sum(cast(x as hugeint) * x) as hugeint) as sxx,
    cast(sum(cast(y as hugeint) * y) as hugeint) as syy,
    cast(sum(cast(x as hugeint) * y) as hugeint) as sxy
  from daily
)
select cast(n as bigint) as n,
  case when (n * sxx - sx * sx) + (n * syy - sy * sy)
            + (sx - sy) * (sx - sy) <> 0 then
    cast((2 * (n * sxy - sx * sy) * 1000000)
         // ((n * sxx - sx * sx) + (n * syy - sy * sy)
             + (sx - sy) * (sx - sy)) as bigint)
  end as ccc_micro
from m
"""

QUERIES["ccc"] = q_ccc
ORACLES["ccc"] = O_CCC


# --- Bland-Altman agreement band -------------------------------------------------------------

def q_bland_altman(spark, sf_dir):
    """Bland–Altman bias + 95% limits of agreement
    (functions/stats.bland_altman) between daily purchase and click
    counts — the band companion to ccc's single agreement number;
    exact integer bias, fixed-order IEEE limits."""
    from ..functions.stats import bland_altman

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    daily = ev.groupBy(
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("d")
    ).agg(
        F.sum((F.col("event_type") == "purchase").cast("int"))
        .cast("long").alias("x"),
        F.sum((F.col("event_type") == "click").cast("int"))
        .cast("long").alias("y"),
    )
    return bland_altman(daily, "x", "y")


O_BLAND_ALTMAN = """
with daily as (
  select epoch_us(cast(ts as timestamp)) // 86400000000 as d,
    cast(sum(case when event_type = 'purchase' then 1 else 0 end) as bigint)
      - cast(sum(case when event_type = 'click' then 1 else 0 end) as bigint)
      as d_diff
  from events group by 1
),
m as (
  select cast(count(*) as hugeint) as n, cast(sum(d_diff) as hugeint) as sd,
    cast(sum(cast(d_diff as hugeint) * d_diff) as hugeint) as qd
  from daily
)
select cast(n as bigint) as n,
  cast((sd * 1000000) // n as bigint) as bias_micro,
  case when n >= 2 and n * qd - sd * sd > 0 then
    floor((cast(sd as double) / cast(n as double)
      - 1.96 * sqrt(cast(n * qd - sd * sd as double)
          / (cast(n as double) * cast(n as double) * (cast(n as double) - 1.0))
          * cast(n as double)))
      * 1000000.0 + 0.5) / 1000000.0
  end as loa_low,
  case when n >= 2 and n * qd - sd * sd > 0 then
    floor((cast(sd as double) / cast(n as double)
      + 1.96 * sqrt(cast(n * qd - sd * sd as double)
          / (cast(n as double) * cast(n as double) * (cast(n as double) - 1.0))
          * cast(n as double)))
      * 1000000.0 + 0.5) / 1000000.0
  end as loa_high
from m
"""

QUERIES["bland_altman"] = q_bland_altman
ORACLES["bland_altman"] = O_BLAND_ALTMAN


# --- Newey-West long-run variance ------------------------------------------------------------

def q_newey_west(spark, sf_dir):
    """Newey–West long-run variance inflation
    (functions/stats.newey_west_lrv) of the densified daily event
    counts, Bartlett kernel lags 1-5 — the CI-width correction to
    apply when ljung_box rejects whiteness; clearing the Bartlett
    weights by (L+1) keeps the whole statistic integer, released as
    one signed micro trunc division with NO IEEE anywhere."""
    from ..functions.stats import newey_west_lrv

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    daily = ev.groupBy(
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    return newey_west_lrv(daily, "d", "y", max_lag=5)


O_NEWEY_WEST = """
with daily as (
  select epoch_us(cast(ts as timestamp)) // 86400000000 as d,
    cast(count(*) as bigint) as y
  from events group by 1
),
cal as (
  select unnest(generate_series((select min(d) from daily),
                                (select max(d) from daily))) as i
),
dense as (
  select cal.i, coalesce(daily.y, 0) as y
  from cal left join daily on cal.i = daily.d
),
tot as (select cast(count(*) as bigint) as n, cast(sum(y) as bigint) as s
  from dense),
u as (
  select t.n,
    cast(t.n * d.y - t.s as hugeint) as u0,
    cast(t.n * lead(d.y, 1) over (order by d.i) - t.s as hugeint) as u1,
    cast(t.n * lead(d.y, 2) over (order by d.i) - t.s as hugeint) as u2,
    cast(t.n * lead(d.y, 3) over (order by d.i) - t.s as hugeint) as u3,
    cast(t.n * lead(d.y, 4) over (order by d.i) - t.s as hugeint) as u4,
    cast(t.n * lead(d.y, 5) over (order by d.i) - t.s as hugeint) as u5
  from dense d cross join tot t
),
cm as (
  select max(n) as n,
    cast(sum(u0 * u0) as hugeint) as c0,
    cast(sum(u0 * u1) as hugeint) as c1,
    cast(sum(u0 * u2) as hugeint) as c2,
    cast(sum(u0 * u3) as hugeint) as c3,
    cast(sum(u0 * u4) as hugeint) as c4,
    cast(sum(u0 * u5) as hugeint) as c5
  from u
)
select cast(n as bigint) as n,
  case when c0 > 0 then
    cast(((6 * c0 + 2 * (5 * c1 + 4 * c2 + 3 * c3 + 2 * c4 + 1 * c5))
          * 1000000) // (6 * c0) as bigint)
  end as lrv_ratio_micro
from cm
"""

QUERIES["newey_west"] = q_newey_west
ORACLES["newey_west"] = O_NEWEY_WEST


# --- curation fairness audit ----------------------------------------------------------------

def q_fairness_audit(spark, sf_dir):
    """Disparate-impact audit of the quality keep-gate across source
    cohorts — WHICH sources the curation filter disproportionately
    drops (the 80%-rule view of text_quality's score): keep is the
    EXACT INTEGER form of quality_score == 1 (20 ≤ chars ≤ 20000,
    2·words ≤ chars ≤ 12·words, 5·punct ≤ chars — cleared of the
    float ratios so both engines decide identically); per-source keep
    rates release as exact ppm, and di_vs_best_ppm = the cohort's rate
    over the best cohort's rate (the disparate-impact ratio a 4/5ths
    policy reads). One scan, one groupBy, a 1-row max broadcast."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = F.length("text")
    nw = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    np_ = F.length("text") - F.length(
        F.regexp_replace(F.col("text"), r"[^\w\s]", "")
    )
    keep = (
        (n >= 20) & (n <= 20000)
        & (F.lit(2) * nw <= n) & (n <= F.lit(12) * nw)
        & (F.lit(5) * np_ <= n)
    ).cast("long")
    per = docs.select("source", keep.alias("k")).groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("k").cast("long").alias("n_kept"),
    ).withColumn(
        "keep_ppm", F.expr("cast((n_kept * 1000000) div n_docs as bigint)")
    )
    best = per.agg(F.max("keep_ppm").alias("best_ppm"))
    return per.crossJoin(F.broadcast(best)).select(
        "source",
        "n_docs",
        "n_kept",
        "keep_ppm",
        F.when(
            F.col("best_ppm") > 0,
            F.expr("cast((keep_ppm * 1000000) div best_ppm as bigint)"),
        ).otherwise(F.lit(0)).alias("di_vs_best_ppm"),
    )


O_FAIRNESS_AUDIT = r"""
with q as (
  select source,
    case when len(text) >= 20 and len(text) <= 20000
      and 2 * len(regexp_split_to_array(trim(text), '\s+')) <= len(text)
      and len(text) <= 12 * len(regexp_split_to_array(trim(text), '\s+'))
      and 5 * (len(text) - len(regexp_replace(text, '[^a-zA-Z0-9_\s]', '', 'g')))
          <= len(text)
    then 1 else 0 end as k
  from documents
),
per as (
  select source, cast(count(*) as bigint) as n_docs,
    cast(sum(k) as bigint) as n_kept,
    cast((sum(k) * 1000000) // count(*) as bigint) as keep_ppm
  from q group by 1
),
best as (select max(keep_ppm) as best_ppm from per)
select source, n_docs, n_kept, keep_ppm,
  cast(case when best_ppm > 0 then (keep_ppm * 1000000) // best_ppm
       else 0 end as bigint) as di_vs_best_ppm
from per, best
"""

QUERIES["fairness_audit"] = q_fairness_audit
ORACLES["fairness_audit"] = O_FAIRNESS_AUDIT


# --- Poisson dispersion ---------------------------------------------------------------------

def q_poisson_dispersion(spark, sf_dir):
    """Poisson dispersion of the daily event counts: the
    variance-to-mean ratio VMR = A/((n−1)·S) and the chi-square
    dispersion statistic Σ(y−ȳ)²/ȳ = Σu²/(n·S) — both pure integer
    trunc divisions of the n-cleared moments (Σu² = n·A identity
    keeps everything in one aggregate). VMR ≫ 1 is the
    overdispersion that invalidates Poisson CIs on daily counts —
    the distributional companion to newey_west's serial correction."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    daily = ev.groupBy(
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    dec = "decimal(38,0)"
    agg = daily.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("y").cast(dec).alias("s"),
        F.sum(F.col("y").cast(dec) * F.col("y")).cast(dec).alias("q"),
    )
    a = F.col("n") * F.col("q") - F.col("s") * F.col("s")
    return agg.withColumn("_a", a.cast(dec)).select(
        F.col("n").cast("long").alias("n"),
        F.when(
            (F.col("n") > 1) & (F.col("s") > 0),
            F.expr("cast((_a * 1000000) div ((n - 1) * s) as bigint)"),
        ).alias("vmr_micro"),
        F.when(
            F.col("s") > 0,
            F.expr("cast((_a * 1000000) div s as bigint)"),
        ).alias("chi2_micro"),
    )


O_POISSON_DISPERSION = """
with daily as (
  select epoch_us(cast(ts as timestamp)) // 86400000000 as d,
    cast(count(*) as bigint) as y
  from events group by 1
),
m as (
  select cast(count(*) as hugeint) as n, cast(sum(y) as hugeint) as s,
    cast(sum(cast(y as hugeint) * y) as hugeint) as q
  from daily
)
select cast(n as bigint) as n,
  case when n > 1 and s > 0 then
    cast(((n * q - s * s) * 1000000) // ((n - 1) * s) as bigint)
  end as vmr_micro,
  case when s > 0 then
    cast(((n * q - s * s) * 1000000) // s as bigint)
  end as chi2_micro
from m
"""

QUERIES["poisson_dispersion"] = q_poisson_dispersion
ORACLES["poisson_dispersion"] = O_POISSON_DISPERSION


# --- interarrival exponentiality gate --------------------------------------------------------

def q_interarrival_cv(spark, sf_dir):
    """Pooled within-user interarrival CV² — the exponentiality gate
    for arrival modeling (a Poisson process has CV = 1; CV² ≫ 1 is
    burstiness, ≪ 1 is pacing): per-user consecutive event gaps in
    SECONDS (integer micros div 10⁶ — documented quantization; keeps
    the cleared spread inside decimal(38,0) at the 100-TB bound),
    CV² = A·n/((n−1)·S²) one trunc division of exact integers; ties
    (same-second events) contribute zero gaps and stay in the pool.
    One user-partitioned lag window, one aggregate."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id",
        F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    gaps = ev.select(
        ((F.col("us") - F.lag("us").over(w)) / 1000000)
        .cast("long").alias("g")
    ).filter(F.col("g").isNotNull())
    dec = "decimal(38,0)"
    agg = gaps.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("g").cast(dec).alias("s"),
        F.sum(F.col("g").cast(dec) * F.col("g")).cast(dec).alias("q"),
    )
    a = F.col("n") * F.col("q") - F.col("s") * F.col("s")
    return agg.withColumn("_a", a.cast(dec)).select(
        F.col("n").cast("long").alias("n_gaps"),
        F.when(
            (F.col("n") > 1) & (F.col("s") > 0),
            F.expr("cast((_a * n * 1000000) div ((n - 1) * s * s) as bigint)"),
        ).alias("cv2_micro"),
    )


O_INTERARRIVAL_CV = """
with ev as (
  select user_id, epoch_us(cast(ts as timestamp)) as us, event_id
  from events
),
g as (
  select (us - lag(us) over (partition by user_id order by us, event_id))
         // 1000000 as g
  from ev
),
m as (
  select cast(count(*) as hugeint) as n, cast(sum(g) as hugeint) as s,
    cast(sum(cast(g as hugeint) * g) as hugeint) as q
  from g where g is not null
)
select cast(n as bigint) as n_gaps,
  case when n > 1 and s > 0 then
    cast(((n * q - s * s) * n * 1000000) // ((n - 1) * s * s) as bigint)
  end as cv2_micro
from m
"""

QUERIES["interarrival_cv"] = q_interarrival_cv
ORACLES["interarrival_cv"] = O_INTERARRIVAL_CV


# --- Kaplan-Meier curve with Greenwood CIs ---------------------------------------------------

def q_km_greenwood(spark, sf_dir):
    """Kaplan–Meier SURVIVAL CURVE with Greenwood standard errors over
    the tool-episode durations — kaplan_meier releases the sufficient
    statistics; this releases the estimator itself plus the pointwise
    uncertainty a publication-quality curve needs. Engine-exact:
    ln(1 − d/n) = nano-ln(n−d) − nano-ln(n) per time (each ln floored
    separately — order-free integer terms), cumulated by one time
    window, S(t) = exp(cum/10⁹) one fixed-order IEEE per row;
    Greenwood's Σ d/(n(n−d)) cumulates PICO-quantized integer terms,
    se = S·√(cum/10¹²) one IEEE per row. A time absorbing everyone
    (d = n) releases the exact S = 0 with NULL se."""
    from pyspark.sql import Window

    from ..operators import survival

    t = _t(spark, sf_dir)
    d = survival.episode_durations(t, CFG, granularity_s=60)
    rt = survival.km_risk_table(d, "dur_s")
    safe = F.col("d_events") < F.col("n_risk")
    ln_term = F.when(
        F.col("d_events") == 0, F.lit(0).cast("long")
    ).when(
        safe,
        (
            F.floor(F.log((F.col("n_risk") - F.col("d_events")).cast("double"))
                    * F.lit(1e9) + F.lit(0.5))
            - F.floor(F.log(F.col("n_risk").cast("double"))
                      * F.lit(1e9) + F.lit(0.5))
        ).cast("long"),
    )
    gw_term = F.when(
        safe,
        F.expr(
            "cast((d_events * 1000000000000)"
            " div (n_risk * (n_risk - d_events)) as bigint)"
        ),
    ).otherwise(F.lit(0).cast("long"))
    w = Window.orderBy("t_s").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base = rt.select(
        "t_s", "n_risk", "d_events",
        ln_term.alias("_ln"), gw_term.alias("_gw"),
        (F.col("d_events") == F.col("n_risk")).alias("_dead"),
    ).select(
        "t_s", "n_risk", "d_events",
        F.sum("_ln").over(w).alias("_cln"),
        F.sum("_gw").over(w).alias("_cgw"),
        F.max(F.col("_dead").cast("int")).over(w).alias("_anydead"),
    )
    s_t = F.exp(F.col("_cln").cast("double") / F.lit(1e9))
    se = s_t * F.sqrt(F.col("_cgw").cast("double") / F.lit(1e12))
    return base.select(
        "t_s",
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d_events").cast("long").alias("d_events"),
        F.when(F.col("_anydead") == 1, F.lit(0.0))
        .otherwise(F.floor(s_t * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6))
        .alias("s_t"),
        F.when(F.col("_anydead") == 0,
               F.floor(se * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6))
        .alias("greenwood_se"),
    )


O_KM_GREENWOOD = f"""{_W},
evt as (
  select conv_id, tool, turn_idx, ts,
    case when role = 'assistant' then 1 else 0 end as is_inv
  from transcripts
  where tool is not null and role in ('assistant', 'tool')
),
r as (
  select *,
    row_number() over (partition by conv_id, tool, is_inv order by turn_idx, ts) as rnk
  from evt
),
inv as (select conv_id, tool, rnk, ts as invoke_ts from r where is_inv = 1),
res as (select conv_id, tool, rnk, ts as result_ts from r where is_inv = 0),
ce as (select conv_id, max(epoch_us(ts)) as end_us from transcripts group by 1),
ep as (
  select greatest(
      case when res.result_ts is not null
           then epoch_us(res.result_ts) - epoch_us(i.invoke_ts)
           else ce.end_us - epoch_us(i.invoke_ts) end, 0) as dur_us,
    case when res.result_ts is not null then 1 else 0 end as event
  from inv i
  left join res on res.conv_id = i.conv_id and res.tool = i.tool and res.rnk = i.rnk
  join ce on ce.conv_id = i.conv_id
),
a as (
  select dur_us // 60000000 as t_s,
    sum(event) as d_events, sum(1 - event) as c_censored
  from ep group by 1
),
rt as (
  select cast(t_s as bigint) as t_s,
    cast(sum(d_events + c_censored)
         over (order by t_s desc rows between unbounded preceding and current row)
         as bigint) as n_risk,
    cast(d_events as bigint) as d_events
  from a
),
terms as (
  select t_s, n_risk, d_events,
    case when d_events = 0 then 0
         when d_events < n_risk then
      cast(floor(ln(cast(n_risk - d_events as double)) * 1000000000.0 + 0.5)
           as bigint)
      - cast(floor(ln(cast(n_risk as double)) * 1000000000.0 + 0.5) as bigint)
    end as lnterm,
    case when d_events < n_risk then
      cast((d_events * 1000000000000) // (n_risk * (n_risk - d_events))
           as bigint)
    else 0 end as gwterm,
    case when d_events = n_risk then 1 else 0 end as dead
  from rt
),
cum as (
  select t_s, n_risk, d_events,
    sum(lnterm) over (order by t_s rows between unbounded preceding
                      and current row) as cln,
    sum(gwterm) over (order by t_s rows between unbounded preceding
                      and current row) as cgw,
    max(dead) over (order by t_s rows between unbounded preceding
                    and current row) as anydead
  from terms
)
select t_s, n_risk, d_events,
  case when anydead = 1 then 0.0
       else floor(exp(cast(cln as double) / 1e9) * 1000000.0 + 0.5)
            / 1000000.0 end as s_t,
  case when anydead = 0 then
    floor((exp(cast(cln as double) / 1e9)
           * sqrt(cast(cgw as double) / 1e12)) * 1000000.0 + 0.5) / 1000000.0
  end as greenwood_se
from cum
"""

QUERIES["km_greenwood"] = q_km_greenwood
ORACLES["km_greenwood"] = O_KM_GREENWOOD


# --- Holm-Bonferroni step-down ---------------------------------------------------------------

def q_holm(spark, sf_dir):
    """Holm–Bonferroni step-down FWER control
    (functions/stats.holm_bonferroni_permutation) over the per-event-
    type exact permutation family — the family-wise guarantee beside
    bh_fdr's FDR screen; the oracle wraps the verified BH SQL and
    replays the pure-integer step-down prefix."""
    from ..functions.stats import holm_bonferroni_permutation

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return holm_bonferroni_permutation(
        ev, "event_type", "user_id", "value", n_perms=64, alpha_ppm=50_000
    )


O_HOLM = f"""
with bh as ({_bh_fdr_oracle(64, 1)})
select event_type, p_ppm, bh_rank as holm_rank, m_tests,
  cast(least(max(p_ppm * (m_tests - bh_rank + 1))
    over (order by bh_rank rows between unbounded preceding and current row),
    1000000) as bigint) as holm_adj_ppm,
  cast(case when max(p_ppm * (m_tests - bh_rank + 1))
    over (order by bh_rank rows between unbounded preceding and current row)
    <= 50000 then 1 else 0 end as int) as reject
from bh
"""

QUERIES["holm"] = q_holm
ORACLES["holm"] = O_HOLM


# --- Dunn's post-hoc ------------------------------------------------------------------------

def q_dunn(spark, sf_dir):
    """Dunn's post-hoc pairwise z (functions/stats.dunn_posthoc) of
    document lengths across sources — WHICH sources differ once
    kruskal_wallis says some do, on the shared pooled midranks with
    the exact tie correction; doubled integer midranks, one
    fixed-order IEEE z per pair."""
    from ..functions.stats import dunn_posthoc

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dunn_posthoc(docs, "source", "n_chars")


O_DUNN = """
with gv as (
  select source as grp, cast(n_chars as bigint) as v,
    cast(count(*) as bigint) as cg
  from documents group by 1, 2
),
merged as (select v, cast(sum(cg) as bigint) as c from gv group by 1),
mid as (
  select v, c,
    2 * coalesce(sum(c) over (order by v rows between unbounded preceding
                              and 1 preceding), 0) + c + 1 as mid2
  from merged
),
per as (
  select grp, cast(sum(cg) as bigint) as n_g,
    cast(sum(cast(cg as hugeint) * mid2) as hugeint) as r2
  from gv join mid using (v) group by 1
),
tot as (
  select cast(sum(c) as bigint) as nn,
    cast(sum(cast(c as hugeint) * c * c - c) as hugeint) as t_corr
  from merged
)
select a.grp as group_a, b.grp as group_b, a.n_g as n_a, b.n_g as n_b,
  case when (cast(nn as double) * (nn + 1.0) * (nn - 1.0)
             - cast(t_corr as double)) / (12.0 * (nn - 1.0)) > 0 then
    floor(((cast(a.r2 as double) / (2.0 * a.n_g)
            - cast(b.r2 as double) / (2.0 * b.n_g))
      / sqrt(((cast(nn as double) * (nn + 1.0) * (nn - 1.0)
               - cast(t_corr as double)) / (12.0 * (nn - 1.0)))
             * (1.0 / a.n_g + 1.0 / b.n_g)))
      * 1000000.0 + 0.5) / 1000000.0
  end as z
from per a join per b on a.grp < b.grp, tot
"""

QUERIES["dunn"] = q_dunn
ORACLES["dunn"] = O_DUNN


# --- ordered funnel conversion ---------------------------------------------------------------

def q_user_funnel(spark, sf_dir):
    """Ordered view → click → purchase funnel per user — the classic
    product-analytics conversion readout with STRICT event ordering
    (a purchase before any click does not count as a stage-3
    conversion): stage timestamps are computed by three cascaded
    conditional aggregates (t₁ = first view; t₂ = first click AFTER
    t₁; t₃ = first purchase AFTER t₂ — each stage joins the previous
    stage's user frame back, bounded by USERS not events); stage
    counts and step conversions release as exact ppm."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "event_type",
        F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
    )
    s1 = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("us").alias("t1")
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("us") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("us") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t3"))
    )
    n1 = s1.agg(F.count(F.lit(1)).cast("long").alias("n_view")) \
        .withColumn("_k", F.lit(1))
    n2 = s2.agg(F.count(F.lit(1)).cast("long").alias("n_click")) \
        .withColumn("_k", F.lit(1))
    n3 = s3.agg(F.count(F.lit(1)).cast("long").alias("n_purchase")) \
        .withColumn("_k", F.lit(1))
    return (
        n1.join(n2, "_k").join(n3, "_k")
        .select(
            "n_view", "n_click", "n_purchase",
            F.expr("cast(case when n_view > 0 then (n_click * 1000000)"
                   " div n_view else 0 end as bigint)").alias("view_to_click_ppm"),
            F.expr("cast(case when n_click > 0 then (n_purchase * 1000000)"
                   " div n_click else 0 end as bigint)")
            .alias("click_to_purchase_ppm"),
            F.expr("cast(case when n_view > 0 then (n_purchase * 1000000)"
                   " div n_view else 0 end as bigint)").alias("overall_ppm"),
        )
    )


O_USER_FUNNEL = """
with ev as (
  select user_id, event_type, epoch_us(cast(ts as timestamp)) as us from events
),
s1 as (select user_id, min(us) as t1 from ev where event_type = 'view'
  group by 1),
s2 as (
  select ev.user_id, min(ev.us) as t2
  from ev join s1 on ev.user_id = s1.user_id
  where ev.event_type = 'click' and ev.us > s1.t1
  group by 1
),
s3 as (
  select ev.user_id, min(ev.us) as t3
  from ev join s2 on ev.user_id = s2.user_id
  where ev.event_type = 'purchase' and ev.us > s2.t2
  group by 1
),
c as (
  select (select cast(count(*) as bigint) from s1) as n_view,
    (select cast(count(*) as bigint) from s2) as n_click,
    (select cast(count(*) as bigint) from s3) as n_purchase
)
select n_view, n_click, n_purchase,
  cast(case when n_view > 0 then (n_click * 1000000) // n_view
       else 0 end as bigint) as view_to_click_ppm,
  cast(case when n_click > 0 then (n_purchase * 1000000) // n_click
       else 0 end as bigint) as click_to_purchase_ppm,
  cast(case when n_view > 0 then (n_purchase * 1000000) // n_view
       else 0 end as bigint) as overall_ppm
from c
"""

QUERIES["user_funnel"] = q_user_funnel
ORACLES["user_funnel"] = O_USER_FUNNEL


# --- day-of-week uniformity chi-square -------------------------------------------------------

def q_dow_uniformity(spark, sf_dir):
    """Chi-square goodness-of-fit of event day-of-week counts against
    the uniform law — "is traffic actually flat across the week"
    (seasonality SHOWS the profile; this scores its deviation):
    clearing the expected count N/7 collapses the statistic to
    χ² = (7·Σo² − N²)/N, a pure integer trunc division in micro.
    Weekday index is the epoch-day mod 7 (engine-identical integer,
    no locale-dependent date function)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    dow = ev.select(
        (F.expr("unix_micros(cast(ts as timestamp)) div 86400000000") % 7)
        .alias("dow")
    )
    per = dow.groupBy("dow").agg(F.count(F.lit(1)).cast("long").alias("o"))
    dec = "decimal(38,0)"
    agg = per.agg(
        F.count(F.lit(1)).cast("long").alias("k_days"),
        F.sum("o").cast(dec).alias("n"),
        F.sum(F.col("o").cast(dec) * F.col("o")).cast(dec).alias("q"),
    )
    return agg.select(
        "k_days",
        F.col("n").cast("long").alias("n_events"),
        F.when(
            F.col("n") > 0,
            F.expr("cast(((7 * q - n * n) * 1000000) div n as bigint)"),
        ).alias("chi2_micro"),
    )


O_DOW_UNIFORMITY = """
with d as (
  select (epoch_us(cast(ts as timestamp)) // 86400000000) % 7 as dow
  from events
),
per as (select dow, cast(count(*) as bigint) as o from d group by 1),
m as (
  select cast(count(*) as bigint) as k_days, cast(sum(o) as hugeint) as n,
    cast(sum(cast(o as hugeint) * o) as hugeint) as q
  from per
)
select k_days, cast(n as bigint) as n_events,
  case when n > 0 then
    cast(((7 * q - n * n) * 1000000) // n as bigint)
  end as chi2_micro
from m
"""

QUERIES["dow_uniformity"] = q_dow_uniformity
ORACLES["dow_uniformity"] = O_DOW_UNIFORMITY


# --- availability gap audit ------------------------------------------------------------------

def q_availability_gaps(spark, sf_dir):
    """Event-stream availability audit: the largest silent gap, the
    count of gaps above one hour, the p99 gap (exact order statistic
    ceil(99n/100) on the distinct-gap frame — no approximate
    percentile), and total silent time above the threshold — the
    SLA/ingest-health readout interarrival_cv's shape statistic does
    not give. All integers in seconds."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.expr("unix_micros(cast(ts as timestamp))").alias("us"), "event_id"
    )
    w = Window.orderBy("us", "event_id")
    gaps = ev.select(
        ((F.col("us") - F.lag("us").over(w)) / 1000000).cast("long").alias("g")
    ).filter(F.col("g").isNotNull())
    gf = gaps.groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wc = Window.orderBy("g").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.orderBy("g").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    p99 = (
        gf.select(
            "g",
            F.sum("c").over(wc).alias("cum"),
            F.sum("c").over(wall).alias("n"),
        )
        .filter(F.expr("cum * 100 >= 99 * n"))
        .agg(F.min("g").alias("p99_gap_s"))
        .withColumn("_k", F.lit(1))
    )
    tot = gaps.agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.max("g").cast("long").alias("max_gap_s"),
        F.sum((F.col("g") > 3600).cast("long")).cast("long").alias("n_over_1h"),
        F.sum(F.when(F.col("g") > 3600, F.col("g")).otherwise(F.lit(0)))
        .cast("long").alias("silent_s_over_1h"),
    ).withColumn("_k", F.lit(1))
    return tot.join(F.broadcast(p99), "_k").select(
        "n_gaps", "max_gap_s", "n_over_1h", "silent_s_over_1h", "p99_gap_s"
    )


O_AVAILABILITY_GAPS = """
with ev as (
  select epoch_us(cast(ts as timestamp)) as us, event_id from events
),
g as (
  select (us - lag(us) over (order by us, event_id)) // 1000000 as g
  from ev
),
gg as (select g from g where g is not null),
gf as (select g, cast(count(*) as bigint) as c from gg group by 1),
cum as (
  select g,
    sum(c) over (order by g rows between unbounded preceding and current row) as cum,
    sum(c) over () as n
  from gf
),
p99 as (select min(g) as p99_gap_s from cum where cum * 100 >= 99 * n),
tot as (
  select cast(count(*) as bigint) as n_gaps,
    cast(max(g) as bigint) as max_gap_s,
    cast(sum(case when g > 3600 then 1 else 0 end) as bigint) as n_over_1h,
    cast(sum(case when g > 3600 then g else 0 end) as bigint) as silent_s_over_1h
  from gg
)
select n_gaps, max_gap_s, n_over_1h, silent_s_over_1h,
  cast(p99_gap_s as bigint) as p99_gap_s
from tot, p99
"""

QUERIES["availability_gaps"] = q_availability_gaps
ORACLES["availability_gaps"] = O_AVAILABILITY_GAPS


# --- Cliff's delta / Vargha-Delaney A --------------------------------------------------------

def q_cliffs_delta_groups(spark, sf_dir):
    """Cliff's delta + Vargha–Delaney A (functions/stats.cliffs_delta)
    between en and es doc lengths — the robust ordinal effect sizes
    after mann_whitney's significance; tie-exact pure-integer pair
    counts on the merged distinct-value grid."""
    from ..functions.stats import cliffs_delta_groups

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return cliffs_delta_groups(docs, "n_chars", "lang", "en", "es")


O_CLIFFS_DELTA_GROUPS = """
with b as (select cast(n_chars as bigint) as v,
  case when lang = 'en' then 1 else 0 end as ia,
  case when lang = 'es' then 1 else 0 end as ib
 from documents where lang in ('en', 'es')),
g as (select v, cast(sum(ia) as bigint) as ca, cast(sum(ib) as bigint) as cb
 from b group by v),
fr as (select ca, cb,
  coalesce(sum(cb) over (order by v rows between unbounded preceding
                         and 1 preceding), 0) as cb_below,
  sum(ca) over () as n_a, sum(cb) over () as n_b
 from g),
a as (
  select cast(max(n_a) as bigint) as n_a, cast(max(n_b) as bigint) as n_b,
    cast(sum(cast(ca as hugeint) * cb_below) as hugeint) as gt,
    cast(sum(cast(ca as hugeint) * cb) as hugeint) as eq
  from fr
)
select n_a, n_b,
  case when n_a > 0 and n_b > 0 then
    cast(((gt - (cast(n_a as hugeint) * n_b - gt - eq)) * 1000000)
         // (cast(n_a as hugeint) * n_b) as bigint)
  end as delta_micro,
  case when n_a > 0 and n_b > 0 then
    cast(((2 * gt + eq) * 1000000)
         // (2 * cast(n_a as hugeint) * n_b) as bigint)
  end as vda_micro
from a
"""

QUERIES["cliffs_delta_groups"] = q_cliffs_delta_groups
ORACLES["cliffs_delta_groups"] = O_CLIFFS_DELTA_GROUPS


# --- Kendall's W coefficient of concordance --------------------------------------------------

def q_kendalls_w(spark, sf_dir):
    """Kendall's W concordance of the five event types' within-day
    rankings — "how consistently do days agree on the activity
    ordering" in [0, 1] units a cross-study reader compares (the
    normalized view of friedman's chi-square: W = χ²/(b·(k−1)) with
    the same tie-exact doubled midranks). One extra integer trunc
    division over the friedman machinery."""
    from ..functions.stats import friedman_test

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("d"),
        "event_type",
        F.lit(1).alias("one"),
    )
    fr = friedman_test(ev, "d", "event_type", "one", _CRONBACH_ITEMS)
    return fr.select(
        "k",
        "n_blocks",
        F.when(
            F.col("chi2_micro").isNotNull() & (F.col("n_blocks") > 0),
            F.expr("cast(chi2_micro div (n_blocks * (k - 1)) as bigint)"),
        ).alias("w_micro"),
    )


def _kendalls_w_sql() -> str:
    inner = _friedman_sql().strip()
    return f"""
with fr as ({inner})
select k, n_blocks,
  case when chi2_micro is not null and n_blocks > 0 then
    cast(chi2_micro // (n_blocks * (k - 1)) as bigint)
  end as w_micro
from fr
"""


O_KENDALLS_W = _kendalls_w_sql()

QUERIES["kendalls_w"] = q_kendalls_w
ORACLES["kendalls_w"] = O_KENDALLS_W


# --- Benjamini-Yekutieli under dependence ----------------------------------------------------

def q_by_fdr(spark, sf_dir):
    """Benjamini–Yekutieli FDR control under ARBITRARY dependence over
    the same permutation family as bh_fdr — the conservative variant
    for correlated segments (BH's independence assumption rarely holds
    across event types sharing users): the harmonic correction c(m) =
    Σ1/k enters as the DEFINED quantization H_nano = Σ(10⁹ div k) —
    a pure integer both engines compute identically — and the step-up
    test clears to p_ppm·m·H_nano ≤ rank·q_ppm·10⁹."""
    from pyspark.sql import Window as W_

    from ..functions.stats import bh_fdr_permutation

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    base = bh_fdr_permutation(
        ev, "event_type", "user_id", "value", n_perms=64, q_ppm=1
    ).select("event_type", "p_ppm", F.col("bh_rank").alias("by_rank"), "m_tests")
    wh = W_.orderBy("by_rank").rowsBetween(W_.unboundedPreceding, W_.currentRow)
    h_nano = F.sum(F.expr("1000000000 div by_rank")).over(
        W_.orderBy("by_rank").rowsBetween(W_.unboundedPreceding, W_.unboundedFollowing)
    )
    q_ppm = 100_000
    base2 = base.withColumn("h_nano", h_nano.cast("long"))
    ok = (
        F.col("p_ppm") * F.col("m_tests") * F.col("h_nano")
        <= F.col("by_rank") * F.lit(q_ppm) * F.lit(1_000_000_000).cast("long")
    ).cast("int")
    wall = W_.orderBy("by_rank").rowsBetween(
        W_.unboundedPreceding, W_.unboundedFollowing
    )
    out = base2.withColumn("_ok", ok).withColumn(
        "k_star",
        F.max(F.when(F.col("_ok") == 1, F.col("by_rank")).otherwise(0))
        .over(wall).cast("long"),
    )
    return out.select(
        "event_type", "p_ppm", "by_rank", "m_tests", "h_nano",
        (F.col("by_rank") <= F.col("k_star")).cast("int").alias("reject"),
    )


O_BY_FDR = f"""
with bh as ({_bh_fdr_oracle(64, 1)}),
h as (
  select *, cast(sum(1000000000 // bh_rank) over () as bigint) as h_nano
  from bh
),
k as (
  select *,
    max(case when p_ppm * m_tests * h_nano
              <= bh_rank * 100000 * cast(1000000000 as bigint)
         then bh_rank else 0 end) over () as k_star
  from h
)
select event_type, p_ppm, bh_rank as by_rank, m_tests, h_nano,
  cast(case when bh_rank <= k_star then 1 else 0 end as int) as reject
from k
"""

QUERIES["by_fdr"] = q_by_fdr
ORACLES["by_fdr"] = O_BY_FDR


# --- simplified silhouette of the certified k-means ------------------------------------------

def q_silhouette(spark, sf_dir):
    """Simplified (centroid-based) silhouette of the certified 2-round
    Lloyd k-means — the INTERNAL clustering validity number beside the
    external v_measure/ari (those need labels; this doesn't): with
    cosine dissimilarity a = 1 − cos(x, own centroid) and b = 1 − cos
    (x, runner-up centroid), s = (b − a)/max(a, b) = (cc₁ − cc₂)/
    max(1−cc₁, 1−cc₂) per point. Each point's s quantizes to micro
    BEFORE the per-cluster mean (order-free integer sum, trunc-division
    mean); s = 0 when both dissimilarities vanish. The oracle composes
    the unrolled k-means SQL and reuses its final scoring frame. r6: the
    (own, runner-up) centroid pair comes from elements 1 and 2 of the
    per-row sorted score array over the 1-row broadcast centroid table —
    a pure projection with bit-identical cc values (double negation
    round-trip) and the same (cos DESC, centroid_id ASC) order,
    replacing the k-row crossJoin + per-vec window rank + self-join;
    the whole query is one lazy plan."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    _asg, cents = similarity.kmeans_lloyd(emb, k=4, iters=2)
    scored = F.array_sort(F.transform(
        F.col("_cents"),
        lambda c: F.struct(
            (-similarity.cosine(F.col("embedding"), c["_cv"])).alias("_negc"),
            c["centroid_id"].alias("centroid_id"),
        ),
    ))
    pt = emb.crossJoin(F.broadcast(similarity._cents_as_array(cents))).select(
        "vec_id",
        F.element_at(scored, 1)["centroid_id"].alias("cluster"),
        (-F.element_at(scored, 1)["_negc"]).alias("cc1"),
        (-F.element_at(scored, 2)["_negc"]).alias("cc2"),
    ).where(F.col("cc2").isNotNull())
    denom = F.greatest(F.lit(1.0) - F.col("cc1"), F.lit(1.0) - F.col("cc2"))
    s_micro = F.when(
        denom > 0,
        F.floor((F.col("cc1") - F.col("cc2")) / denom * F.lit(1e6) + F.lit(0.5))
        .cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    return pt.select(F.col("cluster").cast("int").alias("cluster"),
                     s_micro.alias("s")).groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.expr("cast(sum(s) div count(*) as bigint)").alias("mean_sil_micro"),
    )


O_SILHOUETTE = _kmeans_oracle().rsplit("select vec_id", 1)[0] + """,
rk as (
  select vec_id, centroid_id, cc,
    row_number() over (partition by vec_id order by cc desc, centroid_id) as r
  from sc3
),
pt as (
  select a.vec_id, a.centroid_id as cluster, a.cc as cc1, b.cc as cc2
  from rk a join rk b on a.vec_id = b.vec_id and a.r = 1 and b.r = 2
),
sil as (
  select cluster,
    case when greatest(1.0 - cc1, 1.0 - cc2) > 0 then
      cast(floor(((cc1 - cc2) / greatest(1.0 - cc1, 1.0 - cc2))
                 * 1000000.0 + 0.5) as bigint)
    else 0 end as s
  from pt
)
select cast(cluster as int) as cluster, cast(count(*) as bigint) as n_points,
  cast(sum(s) // count(*) as bigint) as mean_sil_micro
from sil group by 1
"""

QUERIES["silhouette"] = q_silhouette
ORACLES["silhouette"] = O_SILHOUETTE


# --- TOST equivalence + MDE ------------------------------------------------------------------

def q_tost_mde(spark, sf_dir):
    """TOST equivalence test and minimum-detectable-effect for the
    en-vs-es mean document length — the experiment-DESIGN pair a
    significance test can't give ("are they the same within ±20
    chars" and "how small a shift could this sample even see"): on
    the Welch standard error from cleared integer moments, t_lower =
    (diff + 20)/se, t_upper = (diff − 20)/se, equivalent iff t_lower
    ≥ 1.644854 AND t_upper ≤ −1.644854 (one-sided 95% literals), and
    MDE = (1.959964 + 0.841621)·se (α = 5% two-sided, 80% power) —
    every float one fixed-order IEEE expression of the six exact
    integers."""
    dec = "decimal(38,0)"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("lang").isin("en", "es")
    ).select(
        (F.col("lang") == "en").cast("int").alias("ia"),
        F.col("n_chars").cast("long").alias("x"),
    )
    def moms(flag, tag):
        p = F.when(F.col("ia") == flag, F.lit(1)).otherwise(F.lit(0)).cast(dec)
        return [
            F.sum(p).cast(dec).alias(f"n_{tag}"),
            F.sum(p * F.col("x")).cast(dec).alias(f"s_{tag}"),
            F.sum(p * F.col("x") * F.col("x")).cast(dec).alias(f"q_{tag}"),
        ]
    agg = docs.agg(*(moms(1, "a") + moms(0, "b")))
    c = F.col
    aa = (c("n_a") * c("q_a") - c("s_a") * c("s_a")).cast("double")
    ab = (c("n_b") * c("q_b") - c("s_b") * c("s_b")).cast("double")
    na, nb = c("n_a").cast("double"), c("n_b").cast("double")
    se = F.sqrt(
        aa / (na * na * (na - F.lit(1.0))) + ab / (nb * nb * (nb - F.lit(1.0)))
    )
    diff = c("s_a").cast("double") / na - c("s_b").cast("double") / nb
    margin = F.lit(20.0)
    t_lo = (diff + margin) / se
    t_hi = (diff - margin) / se
    z1 = F.lit(1.644854)
    mde = (F.lit(1.959964) + F.lit(0.841621)) * se
    ok = (c("n_a") >= 2) & (c("n_b") >= 2) & ((aa > 0) | (ab > 0))
    return agg.select(
        c("n_a").cast("long").alias("n_a"),
        c("n_b").cast("long").alias("n_b"),
        F.when(ok, F.floor(t_lo * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6))
        .alias("t_lower"),
        F.when(ok, F.floor(t_hi * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6))
        .alias("t_upper"),
        F.when(ok, ((t_lo >= z1) & (t_hi <= -z1)).cast("int"))
        .alias("equivalent"),
        F.when(ok, F.floor(mde * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6))
        .alias("mde_chars"),
    )


O_TOST_MDE = """
with v as (
  select case when lang = 'en' then 1 else 0 end as ia,
    cast(n_chars as bigint) as x
  from documents where lang in ('en', 'es')
),
m as (
  select
    cast(sum(ia) as hugeint) as n_a,
    cast(sum(ia * x) as hugeint) as s_a,
    cast(sum(ia * cast(x as hugeint) * x) as hugeint) as q_a,
    cast(sum(1 - ia) as hugeint) as n_b,
    cast(sum((1 - ia) * x) as hugeint) as s_b,
    cast(sum((1 - ia) * cast(x as hugeint) * x) as hugeint) as q_b
  from v
),
r as (
  select cast(n_a as bigint) as n_a, cast(n_b as bigint) as n_b,
    cast(n_a * q_a - s_a * s_a as double) as aa,
    cast(n_b * q_b - s_b * s_b as double) as ab,
    cast(n_a as double) as nad, cast(n_b as double) as nbd,
    cast(s_a as double) as sad, cast(s_b as double) as sbd
  from m
),
x as (
  select n_a, n_b, aa, ab,
    sqrt(aa / (nad * nad * (nad - 1.0)) + ab / (nbd * nbd * (nbd - 1.0))) as se,
    sad / nad - sbd / nbd as diff
  from r
)
select n_a, n_b,
  case when n_a >= 2 and n_b >= 2 and (aa > 0 or ab > 0) then
    floor(((diff + 20.0) / se) * 1000000.0 + 0.5) / 1000000.0
  end as t_lower,
  case when n_a >= 2 and n_b >= 2 and (aa > 0 or ab > 0) then
    floor(((diff - 20.0) / se) * 1000000.0 + 0.5) / 1000000.0
  end as t_upper,
  case when n_a >= 2 and n_b >= 2 and (aa > 0 or ab > 0) then
    cast(case when (diff + 20.0) / se >= 1.644854
               and (diff - 20.0) / se <= -1.644854
         then 1 else 0 end as int)
  end as equivalent,
  case when n_a >= 2 and n_b >= 2 and (aa > 0 or ab > 0) then
    floor(((1.959964 + 0.841621) * se) * 1000000.0 + 0.5) / 1000000.0
  end as mde_chars
from x
"""

QUERIES["tost_mde"] = q_tost_mde
ORACLES["tost_mde"] = O_TOST_MDE


# --- Huber one-step robust location ----------------------------------------------------------

def q_huber_location(spark, sf_dir):
    """One-step Huber M-location of document lengths per source
    (functions/stats.huber_location) — the robust center that uses the
    data trimmed_mean discards; defined one-step from the exact median
    + MAD with micro-quantized Huber weights, released as one trunc
    division."""
    from ..functions.stats import huber_location

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return huber_location(docs, "source", "n_chars")


O_HUBER_LOCATION = """
with vals as (select source as grp, cast(n_chars as bigint) as x from documents),
g1 as (select grp, x, cast(count(*) as bigint) as c from vals group by 1, 2),
m1 as (
  select grp, min(x) as m0 from (
    select grp, x,
      sum(c) over (partition by grp order by x
        rows between unbounded preceding and current row) as cum,
      sum(c) over (partition by grp) as n
    from g1
  ) where cum >= (n + 1) // 2
  group by 1
),
dev as (
  select v.grp, v.x, abs(v.x - m1.m0) as d, m1.m0
  from vals v join m1 on v.grp = m1.grp
),
g2 as (select grp, d, cast(count(*) as bigint) as c from dev group by 1, 2),
m2 as (
  select grp, min(d) as mad from (
    select grp, d,
      sum(c) over (partition by grp order by d
        rows between unbounded preceding and current row) as cum,
      sum(c) over (partition by grp) as n
    from g2
  ) where cum >= (n + 1) // 2
  group by 1
),
wts as (
  select dev.grp, dev.x, dev.m0, m2.mad,
    case when 1000 * dev.d <= 1345 * m2.mad then cast(1000000 as bigint)
         else cast((1345 * m2.mad * 1000000) // (1000 * dev.d) as bigint)
    end as w
  from dev join m2 on dev.grp = m2.grp
)
select grp as source, cast(count(*) as bigint) as n,
  cast(max(m0) as bigint) as m0, cast(max(mad) as bigint) as mad,
  case when sum(w) > 0 then
    cast((sum(cast(w as hugeint) * x) * 1000000)
         // cast(sum(cast(w as hugeint)) as hugeint) as bigint)
  end as huber_micro
from wts group by 1
"""

QUERIES["huber_location"] = q_huber_location
ORACLES["huber_location"] = O_HUBER_LOCATION


# --- upper tail dependence -------------------------------------------------------------------

def q_tail_dependence(spark, sf_dir):
    """Empirical upper-tail dependence between daily purchase and
    click counts — "when one series spikes, does the other" (the
    JOINT-extremes question partial_correlation's whole-body
    covariance cannot answer; independent series give λ ≈ 0.1 at the
    q90 threshold, comonotone give 1): thresholds are the exact
    integer order statistics min{v : 10·cum ≥ 9·n} per series,
    exceedance and co-exceedance counts pure integers,
    λ = co·10⁶ div n_x one trunc division."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    daily = ev.groupBy(
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("d")
    ).agg(
        F.sum((F.col("event_type") == "purchase").cast("int"))
        .cast("long").alias("x"),
        F.sum((F.col("event_type") == "click").cast("int"))
        .cast("long").alias("y"),
    )

    def q90(col):
        from pyspark.sql import Window as W_
        g = daily.groupBy(col).agg(F.count(F.lit(1)).cast("long").alias("c"))
        wc = W_.orderBy(col).rowsBetween(W_.unboundedPreceding, W_.currentRow)
        wa = W_.orderBy(col).rowsBetween(
            W_.unboundedPreceding, W_.unboundedFollowing
        )
        return (
            g.select(
                F.col(col),
                F.sum("c").over(wc).alias("cum"),
                F.sum("c").over(wa).alias("n"),
            )
            .filter(F.col("cum") * 10 >= F.col("n") * 9)
            .agg(F.min(col).alias(f"u_{col}"))
            .withColumn("_k", F.lit(1))
        )

    ux, uy = q90("x"), q90("y")
    j = daily.withColumn("_k", F.lit(1)) \
        .join(F.broadcast(ux), "_k").join(F.broadcast(uy), "_k")
    agg = j.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum((F.col("x") > F.col("u_x")).cast("long")).cast("long")
        .alias("n_x_exceed"),
        F.sum(((F.col("x") > F.col("u_x")) & (F.col("y") > F.col("u_y")))
              .cast("long")).cast("long").alias("n_co_exceed"),
    )
    return agg.select(
        "n_days",
        "n_x_exceed",
        "n_co_exceed",
        F.when(
            F.col("n_x_exceed") > 0,
            F.expr("cast((n_co_exceed * 1000000) div n_x_exceed as bigint)"),
        ).alias("lambda_u_ppm"),
    )


O_TAIL_DEPENDENCE = """
with daily as (
  select epoch_us(cast(ts as timestamp)) // 86400000000 as d,
    cast(sum(case when event_type = 'purchase' then 1 else 0 end) as bigint) as x,
    cast(sum(case when event_type = 'click' then 1 else 0 end) as bigint) as y
  from events group by 1
),
gx as (select x as v, count(*) as c from daily group by 1),
qx as (
  select min(v) as u_x from (
    select v, sum(c) over (order by v rows between unbounded preceding
      and current row) as cum, sum(c) over () as n
    from gx
  ) where cum * 10 >= n * 9
),
gy as (select y as v, count(*) as c from daily group by 1),
qy as (
  select min(v) as u_y from (
    select v, sum(c) over (order by v rows between unbounded preceding
      and current row) as cum, sum(c) over () as n
    from gy
  ) where cum * 10 >= n * 9
),
a as (
  select cast(count(*) as bigint) as n_days,
    cast(sum(case when x > (select u_x from qx) then 1 else 0 end) as bigint)
      as n_x_exceed,
    cast(sum(case when x > (select u_x from qx)
              and y > (select u_y from qy) then 1 else 0 end) as bigint)
      as n_co_exceed
  from daily
)
select n_days, n_x_exceed, n_co_exceed,
  case when n_x_exceed > 0 then
    cast((n_co_exceed * 1000000) // n_x_exceed as bigint)
  end as lambda_u_ppm
from a
"""

QUERIES["tail_dependence"] = q_tail_dependence
ORACLES["tail_dependence"] = O_TAIL_DEPENDENCE


# --- peaks over threshold --------------------------------------------------------------------

def q_peaks_over_threshold(spark, sf_dir):
    """Peaks-over-threshold summary of the daily event counts at the
    exact q90 order statistic — the extreme-value view (mean excess ≈
    GPD scale; n_exceed per year ≈ return frequency) that a capacity
    planner reads where variance-based stats saturate: threshold,
    exceedance count, mean excess (exact micro trunc), and the max —
    all pure integers."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    daily = ev.groupBy(
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    from pyspark.sql import Window as W_
    g = daily.groupBy("y").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wc = W_.orderBy("y").rowsBetween(W_.unboundedPreceding, W_.currentRow)
    wa = W_.orderBy("y").rowsBetween(W_.unboundedPreceding, W_.unboundedFollowing)
    u = (
        g.select(
            "y",
            F.sum("c").over(wc).alias("cum"),
            F.sum("c").over(wa).alias("n"),
        )
        .filter(F.col("cum") * 10 >= F.col("n") * 9)
        .agg(F.min("y").alias("u"))
        .withColumn("_k", F.lit(1))
    )
    j = daily.withColumn("_k", F.lit(1)).join(F.broadcast(u), "_k")
    agg = j.agg(
        F.max("u").cast("long").alias("threshold"),
        F.sum((F.col("y") > F.col("u")).cast("long")).cast("long")
        .alias("n_exceed"),
        F.sum(F.when(F.col("y") > F.col("u"), F.col("y") - F.col("u"))
              .otherwise(F.lit(0))).cast("long").alias("sum_excess"),
        F.max("y").cast("long").alias("max_daily"),
    )
    return agg.select(
        "threshold",
        "n_exceed",
        F.when(
            F.col("n_exceed") > 0,
            F.expr("cast((sum_excess * 1000000) div n_exceed as bigint)"),
        ).alias("mean_excess_micro"),
        "max_daily",
    )


O_PEAKS_OVER_THRESHOLD = """
with daily as (
  select epoch_us(cast(ts as timestamp)) // 86400000000 as d,
    cast(count(*) as bigint) as y
  from events group by 1
),
g as (select y, count(*) as c from daily group by 1),
q as (
  select min(y) as u from (
    select y, sum(c) over (order by y rows between unbounded preceding
      and current row) as cum, sum(c) over () as n
    from g
  ) where cum * 10 >= n * 9
),
a as (
  select (select u from q) as threshold,
    cast(sum(case when y > (select u from q) then 1 else 0 end) as bigint)
      as n_exceed,
    cast(sum(case when y > (select u from q) then y - (select u from q)
              else 0 end) as bigint) as sum_excess,
    cast(max(y) as bigint) as max_daily
  from daily
)
select cast(threshold as bigint) as threshold, n_exceed,
  case when n_exceed > 0 then
    cast((sum_excess * 1000000) // n_exceed as bigint)
  end as mean_excess_micro,
  max_daily
from a
"""

QUERIES["peaks_over_threshold"] = q_peaks_over_threshold
ORACLES["peaks_over_threshold"] = O_PEAKS_OVER_THRESHOLD


# --- ARCH-LM volatility clustering -----------------------------------------------------------

def q_arch_lm(spark, sf_dir):
    """Engle ARCH-LM lag-1 (functions/stats.arch_lm) on the densified
    daily counts — do MAGNITUDES remember where ljung_box asks whether
    levels do; first differences keep everything integer with no mean
    clearing, LM = n·R² one fixed-order IEEE expression."""
    from ..functions.stats import arch_lm

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    daily = ev.groupBy(
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    return arch_lm(daily, "d", "y")


O_ARCH_LM = """
with daily as (
  select epoch_us(cast(ts as timestamp)) // 86400000000 as d,
    cast(count(*) as bigint) as y
  from events group by 1
),
cal as (
  select unnest(generate_series((select min(d) from daily),
                                (select max(d) from daily))) as i
),
dense as (
  select cal.i, coalesce(daily.y, 0) as y
  from cal left join daily on cal.i = daily.d
),
dd as (
  select i, y - lag(y) over (order by i) as d from dense
),
x as (
  select i, cast(d as hugeint) * d as x from dd where d is not null
),
p as (
  select x as xt, lag(x) over (order by i) as xl from x
),
m as (
  select cast(count(*) as hugeint) as n,
    cast(sum(xt) as hugeint) as st, cast(sum(xl) as hugeint) as sl,
    cast(sum(xt * xt) as hugeint) as qt,
    cast(sum(xl * xl) as hugeint) as ql,
    cast(sum(xt * xl) as hugeint) as qc
  from p where xl is not null
)
select cast(n as bigint) as n_pairs,
  case when cast(n * ql - sl * sl as double) > 0
        and cast(n * qt - st * st as double) > 0 then
    floor((cast(n as double)
      * (cast(n * qc - sl * st as double) * cast(n * qc - sl * st as double))
      / (cast(n * ql - sl * sl as double) * cast(n * qt - st * st as double)))
      * 1000000.0 + 0.5) / 1000000.0
  end as lm_stat
from m
"""

QUERIES["arch_lm"] = q_arch_lm
ORACLES["arch_lm"] = O_ARCH_LM


# --- record-breaking count test --------------------------------------------------------------

def q_records_test(spark, sf_dir):
    """Record-breaking count test (functions/stats.records_test) of
    the daily series — the distribution-free randomness gate needing
    NO moments at all (any iid law gives the same record statistics);
    strict running-max records vs the harmonic-number expectation,
    both harmonic terms DEFINED integer quantizations."""
    from ..functions.stats import records_test

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    daily = ev.groupBy(
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    return records_test(daily, "d", "y")


O_RECORDS_TEST = """
with daily as (
  select epoch_us(cast(ts as timestamp)) // 86400000000 as d,
    cast(count(*) as bigint) as y
  from events group by 1
),
f as (
  select y,
    max(y) over (order by d rows between unbounded preceding
                 and 1 preceding) as pm,
    row_number() over (order by d) as rk
  from daily
),
a as (
  select cast(count(*) as bigint) as n,
    cast(sum(case when pm is null or y > pm then 1 else 0 end) as bigint)
      as n_records,
    cast(sum(1000000000 // rk) as bigint) as h_nano,
    cast(sum(1000000000 // (rk * rk)) as bigint) as h2_nano
  from f
)
select n, n_records,
  case when cast(h_nano - h2_nano as double) / 1e9 > 0 then
    floor(((cast(n_records as double) - cast(h_nano as double) / 1e9)
      / sqrt(cast(h_nano - h2_nano as double) / 1e9)) * 1000000.0 + 0.5)
      / 1000000.0
  end as z
from a
"""

QUERIES["records_test"] = q_records_test
ORACLES["records_test"] = O_RECORDS_TEST


# --- Gumbel moments of weekly maxima ---------------------------------------------------------

def q_gumbel(spark, sf_dir):
    """Gumbel location/scale fit to weekly maxima of the daily counts
    (functions/stats.gumbel_moments) — the return-level model
    complementing peaks_over_threshold's exceedance view; exact
    integer block maxima and cleared spread, two fixed-order IEEE
    releases with the sqrt6/pi and Euler-gamma literals."""
    from ..functions.stats import gumbel_moments

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    daily = ev.groupBy(
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    return gumbel_moments(daily, "d", "y", block_days=7)


O_GUMBEL = """
with daily as (
  select epoch_us(cast(ts as timestamp)) // 86400000000 as d,
    cast(count(*) as bigint) as y
  from events group by 1
),
blocks as (
  select d // 7 as b, cast(max(y) as bigint) as m from daily group by 1
),
a as (
  select cast(count(*) as hugeint) as k, cast(sum(m) as hugeint) as s,
    cast(sum(cast(m as hugeint) * m) as hugeint) as q
  from blocks
)
select cast(k as bigint) as n_blocks,
  case when k >= 2 and cast(k * q - s * s as double) > 0 then
    floor((cast(s as double) / cast(k as double)
      - 0.5772157 * (sqrt(cast(k * q - s * s as double)
          / (cast(k as double) * (cast(k as double) - 1.0))) * 0.7796968))
      * 1000000.0 + 0.5) / 1000000.0
  end as mu,
  case when k >= 2 and cast(k * q - s * s as double) > 0 then
    floor((sqrt(cast(k * q - s * s as double)
        / (cast(k as double) * (cast(k as double) - 1.0))) * 0.7796968)
      * 1000000.0 + 0.5) / 1000000.0
  end as sigma
from a
"""

QUERIES["gumbel"] = q_gumbel
ORACLES["gumbel"] = O_GUMBEL


# --- Bowker symmetry of the confusion matrix -------------------------------------------------

def q_bowker_symmetry(spark, sf_dir):
    """Bowker's test of confusion-matrix SYMMETRY for the NB router —
    McNemar's k×k generalization: are misroutes en→es as common as
    es→en, or does the classifier have directional bias nb_quality's
    single numbers average away? χ² = Σ_{i<j}(n_ij − n_ji)²/(n_ij +
    n_ji) over off-diagonal pairs — per-pair micro trunc divisions
    summed order-free, pure integers; pairs with n_ij + n_ji = 0 drop
    (zero df contribution), df = the number of contributing pairs."""
    from ..functions.corpus import naive_bayes_confusion

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # |langs|²-bounded: materialize ONCE so the a/b branches don't each
    # re-execute the full classifier lineage (r5 materialize-once pattern)
    cm = naive_bayes_confusion(docs, "lang").localCheckpoint(eager=False)
    a = cm.filter(F.col("label_true") < F.col("label_pred")).select(
        F.col("label_true").alias("i"),
        F.col("label_pred").alias("j"),
        F.col("n_docs").alias("nij"),
    )
    b = cm.filter(F.col("label_true") > F.col("label_pred")).select(
        F.col("label_pred").alias("i"),
        F.col("label_true").alias("j"),
        F.col("n_docs").alias("nji"),
    )
    pairs = a.join(b, ["i", "j"], "full").select(
        F.coalesce(F.col("nij"), F.lit(0)).alias("nij"),
        F.coalesce(F.col("nji"), F.lit(0)).alias("nji"),
    )
    term = F.expr(
        "cast(((nij - nji) * (nij - nji) * 1000000) div (nij + nji) as bigint)"
    )
    agg = pairs.filter(F.col("nij") + F.col("nji") > 0).agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum(term).cast("long").alias("chi2_micro"),
    )
    return agg.select(
        F.coalesce(F.col("df"), F.lit(0)).alias("df"),
        F.coalesce(F.col("chi2_micro"), F.lit(0)).alias("chi2_micro"),
    )


O_BOWKER_SYMMETRY = f"""
with cm as ({O_NAIVE_BAYES}),
a as (
  select label_true as i, label_pred as j, n_docs as nij
  from cm where label_true < label_pred
),
b as (
  select label_pred as i, label_true as j, n_docs as nji
  from cm where label_true > label_pred
),
p as (
  select coalesce(a.nij, 0) as nij, coalesce(b.nji, 0) as nji
  from a full join b using (i, j)
),
m as (
  select cast(count(*) as bigint) as df,
    cast(sum(((nij - nji) * (nij - nji) * 1000000) // (nij + nji)) as bigint)
      as chi2_micro
  from p where nij + nji > 0
)
select coalesce(df, 0) as df, coalesce(chi2_micro, 0) as chi2_micro from m
"""

QUERIES["bowker_symmetry"] = q_bowker_symmetry
ORACLES["bowker_symmetry"] = O_BOWKER_SYMMETRY


# --- day-of-week eta-squared -----------------------------------------------------------------

def q_dow_eta_squared(spark, sf_dir):
    """η² of daily TOTALS across day-of-week groups — how much of the
    day-to-day variance the weekly cycle explains (dow_uniformity
    scores raw event counts against uniform; this is the ANOVA
    effect-size view on the day level): with per-dow micro-quantized
    u_g = (S_g²·10⁶) div n_g (the brown_forsythe discipline),
    SSB_micro = Σu_g − (S²·10⁶) div n and SST_micro = 10⁶·ΣQ −
    (S²·10⁶) div n are exact integers and η²_ppm releases as one trunc
    division; NULL when SST = 0."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    daily = ev.groupBy(
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    per = daily.groupBy((F.col("d") % 7).alias("dow")).agg(
        F.count(F.lit(1)).cast("long").alias("ng"),
        F.sum("y").cast("decimal(38,0)").alias("sg"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y"))
        .cast("decimal(38,0)").alias("qg"),
    )
    agg = per.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("ng").cast("decimal(38,0)").alias("n"),
        F.sum("sg").cast("decimal(38,0)").alias("s"),
        F.sum("qg").cast("decimal(38,0)").alias("q"),
        F.sum(F.expr("(sg * sg * 1000000) div ng"))
        .cast("decimal(38,0)").alias("u"),
    )
    ssb = F.col("u") - F.expr("(s * s * 1000000) div n")
    sst = F.col("q") * 1000000 - F.expr("(s * s * 1000000) div n")
    return agg.withColumn("_ssb", ssb.cast("decimal(38,0)")) \
        .withColumn("_sst", sst.cast("decimal(38,0)")) \
        .select(
            "k",
            F.col("n").cast("long").alias("n_days"),
            F.when(
                F.col("_sst") > 0,
                F.expr("cast((_ssb * 1000000) div _sst as bigint)"),
            ).alias("eta2_ppm"),
        )


O_DOW_ETA_SQUARED = """
with daily as (
  select epoch_us(cast(ts as timestamp)) // 86400000000 as d,
    cast(count(*) as bigint) as y
  from events group by 1
),
per as (
  select d % 7 as dow, cast(count(*) as bigint) as ng,
    cast(sum(y) as hugeint) as sg,
    cast(sum(cast(y as hugeint) * y) as hugeint) as qg
  from daily group by 1
),
m as (
  select cast(count(*) as bigint) as k, cast(sum(ng) as hugeint) as n,
    cast(sum(sg) as hugeint) as s, cast(sum(qg) as hugeint) as q,
    cast(sum((sg * sg * 1000000) // ng) as hugeint) as u
  from per
)
select k, cast(n as bigint) as n_days,
  case when q * 1000000 - (s * s * 1000000) // n > 0 then
    cast(((u - (s * s * 1000000) // n) * 1000000)
         // (q * 1000000 - (s * s * 1000000) // n) as bigint)
  end as eta2_ppm
from m
"""

QUERIES["dow_eta_squared"] = q_dow_eta_squared
ORACLES["dow_eta_squared"] = O_DOW_ETA_SQUARED


# --- direct-standardized rate comparison -----------------------------------------------------

def q_standardized_rate(spark, sf_dir):
    """Directly-standardized purchase rates per md5 arm — the
    epidemiology-classic confounder adjustment beside CUPED/ab_strata:
    both arms' per-activity-stratum purchase rates are re-weighted to
    the CORPUS user-mix, so a treatment that merely lands more heavy
    users stops looking like a lift. Strata are user total-event
    terciles from exact integer order statistics (3·cum ≥ k·n);
    per-stratum rates quantize to ppm by trunc division BEFORE the
    weighted sum (order-free integers); the standardized rate is one
    final trunc division by the corpus size."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    from ..functions.corpus import md5_bucket

    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_ev"),
        F.sum((F.col("event_type") == "purchase").cast("int"))
        .cast("long").alias("n_buy"),
    ).withColumn("arm", md5_bucket("user_id", 2).cast("int"))
    from pyspark.sql import Window as W_
    g = per_user.groupBy("n_ev").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wc = W_.orderBy("n_ev").rowsBetween(W_.unboundedPreceding, W_.currentRow)
    wa = W_.orderBy("n_ev").rowsBetween(
        W_.unboundedPreceding, W_.unboundedFollowing
    )
    cuts = g.select(
        "n_ev",
        F.sum("c").over(wc).alias("cum"),
        F.sum("c").over(wa).alias("n"),
    )
    t1 = cuts.filter(F.col("cum") * 3 >= F.col("n")).agg(
        F.min("n_ev").alias("t1")
    ).withColumn("_k", F.lit(1))
    t2 = cuts.filter(F.col("cum") * 3 >= F.col("n") * 2).agg(
        F.min("n_ev").alias("t2")
    ).withColumn("_k", F.lit(1))
    u = (
        per_user.withColumn("_k", F.lit(1))
        .join(F.broadcast(t1), "_k").join(F.broadcast(t2), "_k")
        .withColumn(
            "stratum",
            F.when(F.col("n_ev") <= F.col("t1"), F.lit(0))
            .when(F.col("n_ev") <= F.col("t2"), F.lit(1))
            .otherwise(F.lit(2)),
        )
    )
    w_h = u.groupBy("stratum").agg(
        F.count(F.lit(1)).cast("long").alias("w")
    )
    cell = u.groupBy("arm", "stratum").agg(
        F.count(F.lit(1)).cast("long").alias("n_h"),
        F.sum("n_buy").cast("long").alias("b_h"),
    )
    j = cell.join(F.broadcast(w_h), "stratum").withColumn(
        "rate_ppm", F.expr("cast((b_h * 1000000) div n_h as bigint)")
    )
    tot = u.agg(F.count(F.lit(1)).cast("long").alias("n_tot")) \
        .withColumn("_k", F.lit(1))
    out = (
        j.groupBy("arm")
        .agg(
            F.sum("n_h").cast("long").alias("n_users"),
            F.sum(F.expr("cast(w as decimal(38,0)) * rate_ppm"))
            .cast("decimal(38,0)").alias("wsum"),
        )
        .withColumn("_k", F.lit(1))
        .join(F.broadcast(tot), "_k")
    )
    return out.select(
        "arm",
        "n_users",
        F.expr("cast(wsum div n_tot as bigint)").alias("std_rate_ppm"),
    )


O_STANDARDIZED_RATE = f"""
with pu0 as (
  select user_id, cast(count(*) as bigint) as n_ev,
    cast(sum(case when event_type = 'purchase' then 1 else 0 end) as bigint)
      as n_buy,
    md5(cast(user_id as varchar)) as h
  from events group by user_id
),
pu as (
  select user_id, n_ev, n_buy, cast(({_HEX7}) % 2 as int) as arm
  from pu0
),
g as (select n_ev, cast(count(*) as bigint) as c from pu group by 1),
cuts as (
  select n_ev,
    sum(c) over (order by n_ev rows between unbounded preceding
                 and current row) as cum,
    sum(c) over () as n
  from g
),
t1 as (select min(n_ev) as t1 from cuts where cum * 3 >= n),
t2 as (select min(n_ev) as t2 from cuts where cum * 3 >= n * 2),
u as (
  select pu.*,
    case when n_ev <= (select t1 from t1) then 0
         when n_ev <= (select t2 from t2) then 1
         else 2 end as stratum
  from pu
),
wh as (select stratum, cast(count(*) as bigint) as w from u group by 1),
cell as (
  select arm, stratum, cast(count(*) as bigint) as n_h,
    cast(sum(n_buy) as bigint) as b_h
  from u group by 1, 2
),
j as (
  select cell.arm, cell.n_h,
    cast(wh.w as hugeint) * ((cell.b_h * 1000000) // cell.n_h) as wr
  from cell join wh using (stratum)
),
tot as (select cast(count(*) as bigint) as n_tot from u)
select arm, cast(sum(n_h) as bigint) as n_users,
  cast(sum(wr) // (select n_tot from tot) as bigint) as std_rate_ppm
from j group by arm
"""

QUERIES["standardized_rate"] = q_standardized_rate
ORACLES["standardized_rate"] = O_STANDARDIZED_RATE


# --- top-k churn week over week --------------------------------------------------------------

def q_topk_churn(spark, sf_dir):
    """Week-over-week churn of the top-10 tool leaderboard — "is the
    dashboard stable or noise" (a ranking that reshuffles every week
    is sampling error, not signal): per epoch-week the top-10 tools by
    usage (rank ties broken by tool name — total determinism), then
    for every consecutive week pair the exact Jaccard of the two
    10-sets as a ppm trunc division. Ranks come from a week-partitioned
    window (bounded by tools); the pair join is week-keyed."""
    from pyspark.sql import Window as W_

    t = transcripts_from_events(spark, sf_dir)
    wk = t.filter(F.col("tool").isNotNull()).select(
        F.expr("unix_micros(cast(ts as timestamp)) div 604800000000")
        .alias("week"),
        "tool",
    )
    cnt = wk.groupBy("week", "tool").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w = W_.partitionBy("week").orderBy(F.col("c").desc(), "tool")
    top = cnt.withColumn("r", F.row_number().over(w)).filter(F.col("r") <= 10)
    a = top.select(F.col("week").alias("w1"), F.col("tool").alias("t1"))
    b = top.select((F.col("week") - 1).alias("w1b"), F.col("tool").alias("t2"))
    inter = (
        a.join(b, (F.col("w1") == F.col("w1b")) & (F.col("t1") == F.col("t2")))
        .groupBy("w1").agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    sizes_a = a.groupBy("w1").agg(F.count(F.lit(1)).cast("long").alias("n_a"))
    sizes_b = b.groupBy(F.col("w1b").alias("w1")).agg(
        F.count(F.lit(1)).cast("long").alias("n_b")
    )
    j = (
        sizes_a.join(sizes_b, "w1")
        .join(inter, "w1", "left")
        .select(
            F.col("w1").alias("week"),
            F.coalesce(F.col("n_common"), F.lit(0)).alias("n_common"),
            "n_a",
            "n_b",
        )
    )
    return j.select(
        "week",
        "n_common",
        F.expr(
            "cast((n_common * 1000000) div (n_a + n_b - n_common) as bigint)"
        ).alias("jaccard_ppm"),
    )


O_TOPK_CHURN = f"""{_W},
wk as (
  select epoch_us(cast(ts as timestamp)) // 604800000000 as week, tool
  from transcripts where tool is not null
),
cnt as (select week, tool, cast(count(*) as bigint) as c from wk group by 1, 2),
top as (
  select week, tool from (
    select *, row_number() over (partition by week order by c desc, tool) as r
    from cnt
  ) where r <= 10
),
a as (select week as w1, tool as t1 from top),
b as (select week - 1 as w1, tool as t2 from top),
inter as (
  select a.w1, cast(count(*) as bigint) as n_common
  from a join b on a.w1 = b.w1 and a.t1 = b.t2
  group by 1
),
sa as (select w1, cast(count(*) as bigint) as n_a from a group by 1),
sb as (select w1, cast(count(*) as bigint) as n_b from b group by 1),
j as (
  select sa.w1 as week, coalesce(inter.n_common, 0) as n_common, n_a, n_b
  from sa join sb on sa.w1 = sb.w1
  left join inter on inter.w1 = sa.w1
)
select cast(week as bigint) as week, cast(n_common as bigint) as n_common,
  cast((n_common * 1000000) // (n_a + n_b - n_common) as bigint) as jaccard_ppm
from j
"""

QUERIES["topk_churn"] = q_topk_churn
ORACLES["topk_churn"] = O_TOPK_CHURN


# --- Gumbel return levels --------------------------------------------------------------------
#
# x_T = mu - sigma * ln(-ln(1 - 1/T)); the Gumbel quantile factors
# q_T = -ln(-ln(1 - 1/T)) are PLAN LITERALS precomputed in Python
# (T = 4, 13, 52 weeks), so both engines only ever multiply exact-moment
# IEEE terms by the same decimal constants — no runtime ln of data.

_RETURN_T = [(4, 1.245899), (13, 2.525195), (52, 3.94155)]


def q_return_levels(spark, sf_dir):
    """Gumbel return levels of the weekly daily-count maxima — "the
    daily volume exceeded once a month / quarter / year on average",
    the capacity-planning number the gumbel fit exists to produce:
    x_T = μ + σ·q_T with the quantile factors q_T = −ln(−ln(1 − 1/T))
    as fixed literals for T = 4/13/52 weeks; μ, σ from the same
    method-of-moments machinery as `gumbel` (exact integer block
    maxima, cleared spread), one IEEE expression per level."""
    from ..functions.stats import gumbel_moments

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    daily = ev.groupBy(
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    gm = gumbel_moments(daily, "d", "y", block_days=7)
    cols = [F.col("n_blocks")]
    for t, q in _RETURN_T:
        lvl = F.col("mu") + F.col("sigma") * F.lit(q)
        cols.append(
            F.when(
                F.col("mu").isNotNull(),
                F.floor(lvl * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6),
            ).alias(f"level_{t}w")
        )
    return gm.select(*cols)


def _return_levels_sql() -> str:
    inner = O_GUMBEL.strip()
    lvls = ", ".join(
        f"case when mu is not null then"
        f" floor((mu + sigma * {q}) * 1000000.0 + 0.5) / 1000000.0"
        f" end as level_{t}w"
        for t, q in _RETURN_T
    )
    return f"""
with g as ({inner})
select n_blocks, {lvls} from g
"""


O_RETURN_LEVELS = _return_levels_sql()

QUERIES["return_levels"] = q_return_levels
ORACLES["return_levels"] = O_RETURN_LEVELS


# --- mean residual life curve ----------------------------------------------------------------

def q_mean_residual_life(spark, sf_dir):
    """Mean-residual-life curve of the daily counts at the q50..q90
    decile thresholds — THE threshold-selection diagnostic for
    peaks_over_threshold (a generalized-Pareto tail makes this curve
    linear above the right threshold; curvature below says the
    threshold is too low): each threshold is the exact integer order
    statistic min{v : 100·cum ≥ q·n}, each mean excess an exact micro
    trunc division. The 5-row threshold frame broadcasts into one
    conditional aggregate over the day-bounded series."""
    from pyspark.sql import Window as W_

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    daily = ev.groupBy(
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    g = daily.groupBy("y").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wc = W_.orderBy("y").rowsBetween(W_.unboundedPreceding, W_.currentRow)
    wa = W_.orderBy("y").rowsBetween(W_.unboundedPreceding, W_.unboundedFollowing)
    cum = g.select(
        "y",
        F.sum("c").over(wc).alias("cum"),
        F.sum("c").over(wa).alias("n"),
    )
    thr = None
    for q in (50, 60, 70, 80, 90):
        t = cum.filter(F.col("cum") * 100 >= F.col("n") * q).agg(
            F.lit(q).alias("q"), F.min("y").alias("u")
        )
        thr = t if thr is None else thr.unionByName(t)
    j = daily.crossJoin(F.broadcast(thr))
    agg = j.groupBy("q", "u").agg(
        F.sum((F.col("y") > F.col("u")).cast("long")).cast("long")
        .alias("n_exceed"),
        F.sum(F.when(F.col("y") > F.col("u"), F.col("y") - F.col("u"))
              .otherwise(F.lit(0))).cast("long").alias("sum_excess"),
    )
    return agg.select(
        F.col("q").cast("long").alias("q"),
        F.col("u").cast("long").alias("threshold"),
        "n_exceed",
        F.when(
            F.col("n_exceed") > 0,
            F.expr("cast((sum_excess * 1000000) div n_exceed as bigint)"),
        ).alias("mean_excess_micro"),
    )


O_MEAN_RESIDUAL_LIFE = """
with daily as (
  select epoch_us(cast(ts as timestamp)) // 86400000000 as d,
    cast(count(*) as bigint) as y
  from events group by 1
),
g as (select y, count(*) as c from daily group by 1),
cum as (
  select y,
    sum(c) over (order by y rows between unbounded preceding and current row) as cum,
    sum(c) over () as n
  from g
),
thr as (
  select 50 as q, min(y) as u from cum where cum * 100 >= n * 50
  union all
  select 60, min(y) from cum where cum * 100 >= n * 60
  union all
  select 70, min(y) from cum where cum * 100 >= n * 70
  union all
  select 80, min(y) from cum where cum * 100 >= n * 80
  union all
  select 90, min(y) from cum where cum * 100 >= n * 90
),
a as (
  select t.q, t.u,
    cast(sum(case when d.y > t.u then 1 else 0 end) as bigint) as n_exceed,
    cast(sum(case when d.y > t.u then d.y - t.u else 0 end) as bigint)
      as sum_excess
  from daily d cross join thr t
  group by 1, 2
)
select cast(q as bigint) as q, cast(u as bigint) as threshold, n_exceed,
  case when n_exceed > 0 then
    cast((sum_excess * 1000000) // n_exceed as bigint)
  end as mean_excess_micro
from a
"""

QUERIES["mean_residual_life"] = q_mean_residual_life
ORACLES["mean_residual_life"] = O_MEAN_RESIDUAL_LIFE


# --- Dunning keyness G2 ----------------------------------------------------------------------

def q_keyness_g2(spark, sf_dir):
    """Dunning log-likelihood keyness (1993): the top-20 words whose
    usage RATE most distinguishes the en corpus from the es corpus —
    the corpus-linguistics standard where tf-idf ranks within-corpus
    salience and burrows_delta whole-profile style: per word with
    counts (a, b) and corpus sizes (N_a, N_b),
    G² = 2·[a·ln(a·N/((a+b)·N_a)) + b·ln(b·N/((a+b)·N_b))].

    Engine-exact: every ln is a nano-quantized ln of an exact integer
    (ln a + ln N − ln(a+b) − ln N_a per side — four quantized terms,
    fixed combination), so each word's G² is a pure int64 and the
    top-20 ranking (G² desc, word asc) is deterministic integer
    ordering; zero-count sides contribute zero (lim x·ln x = 0).
    One (word, lang) collapse bounded by vocabulary, a 1-row totals
    broadcast, one rank window on the word frame."""
    from pyspark.sql import Window as W_

    from ..functions.repetition import normalized_words

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("lang").isin("en", "es")
    )
    words = _fan(docs).select(
        (F.col("lang") == "en").cast("long").alias("ia"),
        F.explode(normalized_words("text")).alias("w"),
    )
    wc = words.groupBy("w").agg(
        F.sum("ia").cast("long").alias("a"),
        F.sum(F.lit(1) - F.col("ia")).cast("long").alias("b"),
    )
    tot = wc.agg(
        F.sum("a").cast("long").alias("na"),
        F.sum("b").cast("long").alias("nb"),
    )
    j = wc.crossJoin(F.broadcast(tot)).withColumn(
        "nn", F.col("na") + F.col("nb")
    )

    def nln(c):
        return F.floor(F.log(c.cast("double")) * F.lit(1e9) + F.lit(0.5)) \
            .cast("long")

    term_a = F.when(
        F.col("a") > 0,
        F.col("a") * (nln(F.col("a")) + nln(F.col("nn"))
                      - nln(F.col("a") + F.col("b")) - nln(F.col("na"))),
    ).otherwise(F.lit(0).cast("long"))
    term_b = F.when(
        F.col("b") > 0,
        F.col("b") * (nln(F.col("b")) + nln(F.col("nn"))
                      - nln(F.col("a") + F.col("b")) - nln(F.col("nb"))),
    ).otherwise(F.lit(0).cast("long"))
    scored = j.select(
        "w", "a", "b", (F.lit(2) * (term_a + term_b)).alias("g2_nano")
    )
    rk = W_.orderBy(F.col("g2_nano").desc(), "w")
    return scored.withColumn("rank", F.row_number().over(rk)) \
        .filter(F.col("rank") <= 20) \
        .select("rank", "w", "a", "b", "g2_nano")


O_KEYNESS_G2 = r"""
with docs as (select lang, text from documents where lang in ('en', 'es')),
words as (
  select case when lang = 'en' then 1 else 0 end as ia,
    unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '))
      as w
  from docs
),
wc as (
  select w, cast(sum(ia) as bigint) as a,
    cast(sum(1 - ia) as bigint) as b
  from words group by 1
),
tot as (select cast(sum(a) as bigint) as na, cast(sum(b) as bigint) as nb
  from wc),
j as (select wc.*, tot.na, tot.nb, tot.na + tot.nb as nn from wc, tot),
scored as (
  select w, a, b,
    2 * (
      (case when a > 0 then
        a * (cast(floor(ln(cast(a as double)) * 1000000000.0 + 0.5) as bigint)
             + cast(floor(ln(cast(nn as double)) * 1000000000.0 + 0.5) as bigint)
             - cast(floor(ln(cast(a + b as double)) * 1000000000.0 + 0.5) as bigint)
             - cast(floor(ln(cast(na as double)) * 1000000000.0 + 0.5) as bigint))
       else 0 end)
      +
      (case when b > 0 then
        b * (cast(floor(ln(cast(b as double)) * 1000000000.0 + 0.5) as bigint)
             + cast(floor(ln(cast(nn as double)) * 1000000000.0 + 0.5) as bigint)
             - cast(floor(ln(cast(a + b as double)) * 1000000000.0 + 0.5) as bigint)
             - cast(floor(ln(cast(nb as double)) * 1000000000.0 + 0.5) as bigint))
       else 0 end)
    ) as g2_nano
  from j
)
select cast(rank as bigint) as rank, w, a, b, g2_nano
from (
  select *, row_number() over (order by g2_nano desc, w) as rank from scored
) where rank <= 20
"""

QUERIES["keyness_g2"] = q_keyness_g2
ORACLES["keyness_g2"] = O_KEYNESS_G2


# --- Rayleigh circular uniformity (hour-of-day clock) --------------------------


def q_rayleigh_hours(spark, sf_dir):
    """Rayleigh test of diurnal concentration (functions/stats.
    rayleigh_hour_uniformity): are events pulled toward one time of day?
    The circular twin of dow_uniformity — hour 23 and hour 0 are
    neighbors here, not opposite categories. The 24 cos/sin directions
    are micro-quantized plan literals (no runtime trig); resultant
    components exact integers over the 24-row hour histogram; R_bar^2
    and Z released as floor ppm/micro on square (nonneg) operands."""
    from ..functions.stats import rayleigh_hour_uniformity

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return rayleigh_hour_uniformity(ev)


def _rayleigh_oracle() -> str:
    import math

    ct = [int(math.floor(math.cos(2 * math.pi * h / 24) * 1e6 + 0.5)) for h in range(24)]
    st = [int(math.floor(math.sin(2 * math.pi * h / 24) * 1e6 + 0.5)) for h in range(24)]
    return f"""
with hh as (
  select cast((epoch_us(cast(ts as timestamp)) // 3600000000) % 24 as int) as h
  from events
),
per as (select h, cast(count(*) as bigint) as c from hh group by 1),
m as (
  select cast(sum(c) as hugeint) as n,
    cast(sum(cast(c as hugeint) * list_extract({ct}, h + 1)) as hugeint) as cc,
    cast(sum(cast(c as hugeint) * list_extract({st}, h + 1)) as hugeint) as ss
  from per
)
select cast(n as bigint) as n_events,
  cast(cc as bigint) as c_micro, cast(ss as bigint) as s_micro,
  case when n > 0 then cast((cc * cc + ss * ss) // (n * n * 1000000) as bigint) end as r2_ppm,
  case when n > 0 then cast((cc * cc + ss * ss) // (n * 1000000) as bigint) end as z_micro
from m
"""


QUERIES["rayleigh_hours"] = q_rayleigh_hours
ORACLES["rayleigh_hours"] = _rayleigh_oracle()


# --- Fleiss' kappa (3 deterministic binary raters over users) -------------------


def q_fleiss_kappa(spark, sf_dir):
    """Fleiss' multi-rater kappa (functions/stats.fleiss_kappa_binary)
    over users rated by three independent binary quality heuristics —
    total spend > 100.00, activity >= 5 events, breadth >= 3 distinct
    event types. Near-zero kappa says the heuristics measure different
    things; the 3-sum aggregate and ppm releases are exact integers."""
    from ..functions.stats import fleiss_kappa_binary

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    per = ev.groupBy("user_id").agg(
        F.sum(F.expr("cast(floor(value * 100.0 + 0.5) as bigint)")).alias("cents"),
        F.count(F.lit(1)).alias("n_ev"),
        F.countDistinct("event_type").alias("n_types"),
    )
    items = per.select(
        (F.col("cents") > 10000).cast("int").alias("r1"),
        (F.col("n_ev") >= 5).cast("int").alias("r2"),
        (F.col("n_types") >= 3).cast("int").alias("r3"),
    )
    return fleiss_kappa_binary(items)


O_FLEISS_KAPPA = """
with per as (
  select user_id,
    sum(cast(floor(value * 100.0 + 0.5) as bigint)) as cents,
    cast(count(*) as bigint) as n_ev,
    cast(count(distinct event_type) as bigint) as n_types
  from events group by 1
),
it as (
  select (case when cents > 10000 then 1 else 0 end)
       + (case when n_ev >= 5 then 1 else 0 end)
       + (case when n_types >= 3 then 1 else 0 end) as n1
  from per
),
agg as (
  select cast(count(*) as hugeint) as nn, cast(sum(n1) as hugeint) as s1,
    cast(sum(n1 * n1 + (3 - n1) * (3 - n1) - 3) as hugeint) as pnum
  from it
),
rel as (
  select cast(nn as bigint) as n_items, cast(3 as bigint) as m_raters,
    cast(s1 as bigint) as s1,
    cast((pnum * 1000000) // (nn * 6) as bigint) as p_bar_ppm,
    cast(((s1 * s1 + (3 * nn - s1) * (3 * nn - s1)) * 1000000)
         // ((3 * nn) * (3 * nn)) as bigint) as pe_ppm
  from agg
)
select n_items, m_raters, s1, p_bar_ppm, pe_ppm,
  case when pe_ppm < 1000000 then
    cast((case when p_bar_ppm > pe_ppm then 1
               when p_bar_ppm < pe_ppm then -1 else 0 end)
      * ((abs(cast(p_bar_ppm as hugeint) - pe_ppm) * 1000000)
         // cast(1000000 - pe_ppm as hugeint)) as bigint)
  end as kappa_ppm
from rel
"""

QUERIES["fleiss_kappa"] = q_fleiss_kappa
ORACLES["fleiss_kappa"] = O_FLEISS_KAPPA


# --- rich-club coefficient of the tool co-usage graph ---------------------------


def q_rich_club(spark, sf_dir):
    """Rich-club coefficient phi(k) of the tool co-usage graph
    (functions/graph.rich_club): do the most-connected tools interlock
    into a dense core, or does each hub serve its own spokes? Degree
    thresholds k = 1,2,4,8; exact integer counts, one ppm floor per k.
    Edge decoration is two node-keyed joins; thresholds ride a constant
    4-fold explode, never a re-scan."""
    from ..functions.graph import rich_club

    t = transcripts_from_events(spark, sf_dir)
    d = t.filter(F.col("tool").isNotNull()).select("conv_id", "tool").distinct()
    a = d.select("conv_id", F.col("tool").alias("tool_a"))
    b = d.select("conv_id", F.col("tool").alias("tool_b"))
    edges = (
        a.join(b, "conv_id")
        .filter(F.col("tool_a") < F.col("tool_b"))
        .select("tool_a", "tool_b")
        .distinct()
    )
    return rich_club(edges, "tool_a", "tool_b")


O_RICH_CLUB = f"""{_W},
d as (
  select distinct conv_id, tool from transcripts where tool is not null
),
e as (
  select distinct a.tool as a, b.tool as b
  from d a join d b on a.conv_id = b.conv_id and a.tool < b.tool
),
orient2 as (select a, b from e union all select b as a, a as b from e),
deg as (select a as node, cast(count(*) as bigint) as deg from orient2 group by 1),
ks as (select unnest([1, 2, 4, 8]) as k),
nk as (
  select k, cast(sum(case when deg > k then 1 else 0 end) as bigint) as n_nodes
  from deg, ks group by k
),
ek as (
  select k,
    cast(sum(case when least(da.deg, db.deg) > k then 1 else 0 end) as bigint)
      as n_edges
  from e join deg da on e.a = da.node join deg db on e.b = db.node, ks
  group by k
)
select cast(nk.k as bigint) as k, n_nodes, n_edges,
  case when n_nodes >= 2
       then (2 * n_edges * 1000000) // (n_nodes * (n_nodes - 1)) end as phi_ppm
from nk join ek on nk.k = ek.k
order by 1
"""

QUERIES["rich_club"] = q_rich_club
ORACLES["rich_club"] = O_RICH_CLUB


# --- Spiegelhalter calibration Z (per-type forecasts, md5 split) ----------------


def q_spiegelhalter(spark, sf_dir):
    """Spiegelhalter's calibration Z test (functions/stats.
    spiegelhalter_z): per-event-type success rates fit on the md5-even
    half of events forecast the md5-odd half; the test asks whether the
    held-out deviation from those exact ppm forecasts exceeds binomial
    noise — the significance companion to calibration_ece. Forecast dim
    is the tiny event_type table (broadcast); one global integer
    aggregate."""
    from ..functions.corpus import md5_bucket
    from ..functions.stats import spiegelhalter_z

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("event_type").alias("et"),
        (F.col("value") > 100.0).cast("long").alias("y"),
        md5_bucket("event_id", 2).alias("arm"),
    )
    train = ev.filter(F.col("arm") == 0).groupBy("et").agg(
        F.sum("y").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
    ).select("et", F.expr("cast((s * 1000000) div n as bigint)").alias("p_ppm"))
    scored = ev.filter(F.col("arm") == 1).join(F.broadcast(train), "et")
    return spiegelhalter_z(scored, "y", "p_ppm")


O_SPIEGELHALTER = f"""
with hx as (
  select event_type as et,
    case when value > 100.0 then 1 else 0 end as y,
    md5(cast(event_id as varchar)) as h
  from events
),
t as (select et, y, ({_HEX7}) % 2 as arm from hx),
tr as (
  select et, cast((sum(y) * 1000000) // count(*) as hugeint) as p
  from t where arm = 0 group by 1
),
te as (select t.y, tr.p from t join tr on t.et = tr.et where t.arm = 1),
agg as (
  select cast(count(*) as bigint) as n,
    sum((cast(y as hugeint) * 1000000 - p) * (1000000 - 2 * p)) as num,
    sum((1000000 - 2 * p) * (1000000 - 2 * p) * p * (1000000 - p)) as den2
  from te
),
rel as (
  select n,
    case when num > 0 then 1 when num < 0 then -1 else 0 end as z_sign,
    abs(num) // 1000000 as anm,
    den2 // 1000000000000 as var_micro6
  from agg
)
select n, cast(z_sign * anm as bigint) as num_micro,
  cast(var_micro6 as bigint) as var_micro6, cast(z_sign as bigint) as z_sign,
  case when var_micro6 > 0
       then cast((anm * anm * 1000000) // var_micro6 as bigint) end as z2_ppm
from rel
"""

QUERIES["spiegelhalter"] = q_spiegelhalter
ORACLES["spiegelhalter"] = O_SPIEGELHALTER


# --- OLS influence diagnostics (leverage + Cook's distance top-k) ---------------


def q_ols_influence(spark, sf_dir):
    """Top-20 most influential users in the activity->spend regression
    (functions/stats.ols_influence_topk): leverage ppm and Cook's
    distance micro for y = total cents ~ a + b * n_events per user —
    WHICH entities own the fit ols_fit_predict reports. Exact integer
    sufficient statistics broadcast as a 1-row crossJoin; top-k is
    TakeOrdered, never a driver sort."""
    from ..functions.stats import ols_influence_topk

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    per = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("x"),
        F.sum(F.expr("cast(floor(value * 100.0 + 0.5) as bigint)")).alias("y"),
    )
    return ols_influence_topk(
        per, id_col="user_id", x_col="x", y_col="y", k=20
    ).withColumnRenamed("id", "user_id")


O_OLS_INFLUENCE = """
with per as (
  select user_id as id, cast(count(*) as bigint) as x,
    sum(cast(floor(value * 100.0 + 0.5) as bigint)) as y
  from events group by 1
),
st as (
  select cast(count(*) as hugeint) as n,
    cast(sum(x) as hugeint) as sx, cast(sum(y) as hugeint) as sy,
    cast(sum(cast(x as hugeint) * x) as hugeint) as sxx,
    cast(sum(cast(x as hugeint) * y) as hugeint) as sxy
  from per
),
st2 as (
  select n, sx, sy, n * sxx - sx * sx as bden, n * sxy - sx * sy as bnum
  from st
),
j as (
  select id, x, y, n, sx, sy, bden, bnum,
    (1000000 // n) + (((n * x - sx) * (n * x - sx) * 1000000) // (n * bden))
      as h_ppm,
    case when bden * (n * y - sy) - bnum * (n * x - sx) >= 0 then 1 else -1 end
      as es,
    abs(bden * (n * y - sy) - bnum * (n * x - sx)) // (n * bden) as ea
  from per, st2
  where n > 2 and bden > 0
),
p2 as (select id, x, y, h_ppm, es * ea as e_q, ea from j),
s2 as (
  select cast(sum(cast(e_q as hugeint) * e_q) // (max(nn) - 2) as hugeint) as s2q
  from (select e_q, (select n from st) as nn from p2)
),
fin as (
  select id, x, y, e_q, cast(h_ppm as bigint) as h_ppm,
    case when s2q > 0 and h_ppm < 1000000 then
      cast((cast(e_q as hugeint) * e_q * h_ppm * 1000000000000)
           // (2 * s2q * cast(1000000 - h_ppm as hugeint) * (1000000 - h_ppm))
        as bigint) end as cook_micro
  from p2, s2
)
select id as user_id, x, cast(y as bigint) as y, cast(e_q as bigint) as e_q,
  h_ppm, cook_micro
from fin
order by cook_micro desc nulls last, id asc
limit 20
"""

QUERIES["ols_influence"] = q_ols_influence
ORACLES["ols_influence"] = O_OLS_INFLUENCE


# --- linear-kernel MMD^2 between embedding label groups -------------------------


def q_embedding_mmd(spark, sf_dir):
    """Linear-kernel MMD^2 between even- and odd-label embeddings
    (operators/similarity.embedding_group_mmd): the squared distance
    between group mean vectors — the one-scalar two-sample drift read
    over the embedding table. Means quantized per dim BEFORE
    differencing, so every release is bigint-safe at any corpus size;
    shuffle is O(dims), never O(rows)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return similarity.embedding_group_mmd(
        emb.select("embedding", F.col("label").alias("grp"))
    )


O_EMBEDDING_MMD = """
with l as (
  select cast(label as int) % 2 as g,
    generate_subscripts(embedding, 1) - 1 as d,
    cast(floor(cast(unnest(embedding) as double) * 1000000.0 + 0.5) as bigint) as q
  from embeddings where embedding is not null
),
per as (
  select d,
    cast(sum(case when g = 0 then q else 0 end) as hugeint) as s0,
    cast(sum(case when g = 1 then q else 0 end) as hugeint) as s1,
    cast(sum(case when g = 0 then 1 else 0 end) as hugeint) as n0,
    cast(sum(case when g = 1 then 1 else 0 end) as hugeint) as n1
  from l group by 1
),
f as (select * from per where n0 > 0 and n1 > 0),
m as (
  select n0, n1,
    (case when s0 >= 0 then abs(s0) // n0 else -(abs(s0) // n0) end)
    - (case when s1 >= 0 then abs(s1) // n1 else -(abs(s1) // n1) end) as delta
  from f
),
agg as (
  select cast(max(n0) as bigint) as n_a, cast(max(n1) as bigint) as n_b,
    cast(count(*) as bigint) as dims,
    cast(sum(cast(delta as hugeint) * delta) as hugeint) as sq
  from m
)
select n_a, n_b, dims, cast(sq as bigint) as mmd2_micro2_sum,
  cast(sq // 1000000 as bigint) as mmd2_micro
from agg
"""

QUERIES["embedding_mmd"] = q_embedding_mmd
ORACLES["embedding_mmd"] = O_EMBEDDING_MMD


# --- Watson U^2 circular omnibus (hour-of-day clock) ----------------------------


def q_watson_u2(spark, sf_dir):
    """Watson's U^2 on the 24-hour clock in the grouped discrete form
    (functions/stats.watson_u2_hours) — the rotation-invariant omnibus
    circular test beside rayleigh_hours: Rayleigh only reads the first
    circular moment (a bimodal 9am/9pm day cancels to R=0); U^2 catches
    any departure from flatness. One 24-key shuffle + 24-row windows;
    the single floor division rides nonneg operands."""
    from ..functions.stats import watson_u2_hours

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return watson_u2_hours(ev)


O_WATSON_U2 = """
with hh as (
  select cast((epoch_us(cast(ts as timestamp)) // 3600000000) % 24 as int) as h
  from events
),
per as (select h, cast(count(*) as bigint) as c from hh group by 1),
grid as (select cast(range as int) as h from range(24)),
f as (
  select g.h, coalesce(per.c, 0) as c from grid g left join per on g.h = per.h
),
nh as (
  select
    24 * sum(c) over (order by h rows between unbounded preceding and current row)
      - sum(c) over () * (h + 1) as nh,
    sum(c) over () as n
  from f
),
agg as (
  select max(n) as n, sum(cast(nh as hugeint)) as sn,
    sum(cast(nh as hugeint) * nh) as sn2
  from nh
)
select cast(n as bigint) as n_events,
  case when n > 0 then
    cast(((24 * sn2 - sn * sn) * 1000000) // (331776 * cast(n as hugeint)) as bigint)
  end as u2_micro
from agg
"""

QUERIES["watson_u2"] = q_watson_u2
ORACLES["watson_u2"] = O_WATSON_U2


# --- Page-Hinkley running-mean drift sequence -----------------------------------


def q_page_hinkley(spark, sf_dir):
    """Page-Hinkley drift trajectory over daily event counts
    (functions/stats.page_hinkley): deviation-from-RUNNING-mean CUSUM —
    detects level drift with no calibration period, the streaming-drift
    standard (PHT) beside cusum_drift's fixed-reference chart. The
    corpus-sized stage is the daily groupBy; the trajectory is two
    window passes over the bounded day frame, bit-identical floors."""
    from ..functions.stats import page_hinkley

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    daily = ev.groupBy(
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    return page_hinkley(daily, idx_col="d", y_col="x")


O_PAGE_HINKLEY = """
with daily as (
  select epoch_us(cast(ts as timestamp)) // 86400000000 as d,
    cast(count(*) as bigint) as x
  from events group by 1
),
st as (
  select d, x,
    sum(x) over (order by d rows between unbounded preceding and current row)
      // row_number() over (order by d) as mean_q
  from daily
),
mt as (
  select d, x, cast(mean_q as bigint) as mean_q,
    cast(sum(x - mean_q) over
      (order by d rows between unbounded preceding and current row) as bigint)
      as m_t
  from st
)
select cast(d as bigint) as d, x, mean_q, m_t,
  cast(m_t - min(m_t) over
    (order by d rows between unbounded preceding and current row) as bigint)
    as ph_t
from mt
"""

QUERIES["page_hinkley"] = q_page_hinkley
ORACLES["page_hinkley"] = O_PAGE_HINKLEY


# --- Hoeffding's D (any-shape dependence, user activity vs spend) ---------------


def q_hoeffding_d(spark, sf_dir):
    """Hoeffding's D between per-user activity and spend
    (functions/stats.hoeffding_d): the rank statistic that detects
    NON-monotone association spearman/kendall_tau read as zero. Ties
    break on the deterministic (value, id) order. The O(n^2) dominance
    count is a deliberate exact meter over the bounded per-user frame
    (counted first, fail-fast cap) — one Arrow kernel emits ranks, the
    moments aggregate order-free in Catalyst."""
    from ..functions.stats import hoeffding_d

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    per = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("x"),
        F.sum(F.expr("cast(floor(value * 100.0 + 0.5) as bigint)")).alias("y"),
    )
    return hoeffding_d(per, id_col="user_id", x_col="x", y_col="y")


O_HOEFFDING_D = """
with per as (
  select user_id as id, cast(count(*) as bigint) as x,
    sum(cast(floor(value * 100.0 + 0.5) as bigint)) as y
  from events group by 1
),
rk as (
  select id,
    row_number() over (order by x, id) as r,
    row_number() over (order by y, id) as s
  from per
),
qq as (
  select a.id, a.r, a.s, 1 + count(b.id) as q
  from rk a left join rk b on b.r < a.r and b.s < a.s
  group by a.id, a.r, a.s
),
m as (
  select cast(count(*) as hugeint) as n,
    cast(sum((q - 1) * (q - 2)) as hugeint) as d1,
    cast(sum((r - 1) * (r - 2) * (s - 1) * (s - 2)) as hugeint) as d2,
    cast(sum((r - 2) * (s - 2) * (q - 1)) as hugeint) as d3
  from qq
)
select cast(n as bigint) as n, cast(d1 as bigint) as d1,
  cast(d2 as bigint) as d2, cast(d3 as bigint) as d3,
  case when n >= 5 then
    cast((case when 30 * ((n - 2) * (n - 3) * d1 + d2 - 2 * (n - 2) * d3) >= 0
               then 1 else -1 end)
      * ((abs(30 * ((n - 2) * (n - 3) * d1 + d2 - 2 * (n - 2) * d3)) * 1000000)
         // (n * (n - 1) * (n - 2) * (n - 3) * (n - 4))) as bigint)
  end as d_micro
from m
"""

QUERIES["hoeffding_d"] = q_hoeffding_d
ORACLES["hoeffding_d"] = O_HOEFFDING_D


# --- Breusch-Pagan heteroscedasticity (user activity -> spend residuals) --------


def q_breusch_pagan(spark, sf_dir):
    """Breusch-Pagan (Koenker n*R^2) heteroscedasticity test for
    per-user spend ~ activity (functions/stats.breusch_pagan): does
    residual variance grow with activity? The constant-variance half of
    the OLS health check beside durbin_watson's autocorrelation half.
    Residuals ride the exact ols_influence integer algebra; the
    auxiliary e^2-on-x regression releases exact moments (stringified
    past bigint) plus the assortativity-convention IEEE r2/lm."""
    from ..functions.stats import breusch_pagan

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    per = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("x"),
        F.sum(F.expr("cast(floor(value * 100.0 + 0.5) as bigint)")).alias("y"),
    )
    return breusch_pagan(per, x_col="x", y_col="y")


O_BREUSCH_PAGAN = """
with per as (
  select cast(count(*) as bigint) as x,
    sum(cast(floor(value * 100.0 + 0.5) as bigint)) as y
  from events group by user_id
),
st as (
  select cast(count(*) as hugeint) as n,
    cast(sum(x) as hugeint) as sx, cast(sum(y) as hugeint) as sy,
    cast(sum(cast(x as hugeint) * x) as hugeint) as sxx,
    cast(sum(cast(x as hugeint) * y) as hugeint) as sxy
  from per
),
st2 as (
  select n, sx, sy, sxx,
    n * sxx - sx * sx as bden, n * sxy - sx * sy as bnum
  from st
),
j as (
  select x, n, sx, sxx, bden,
    (case when bden * (n * y - sy) - bnum * (n * x - sx) >= 0 then 1 else -1 end)
      * (abs(bden * (n * y - sy) - bnum * (n * x - sx)) // (n * bden)) as e_q
  from per, st2
  where n > 2 and bden > 0
),
z as (select x, n, sx, sxx, bden, cast(e_q as hugeint) * e_q as z from j),
m as (
  select n, sx, bden,
    cast(sum(z) as hugeint) as sz,
    cast(sum(cast(x as hugeint) * z) as hugeint) as sxz,
    cast(sum(z * z) as hugeint) as szz
  from z group by n, sx, bden
),
d as (
  select cast(n as bigint) as n, cast(sx as bigint) as sx,
    cast(sz as varchar) as sz_str, cast(sxz as varchar) as sxz_str,
    cast(n as double) * cast(sxz as double)
      - cast(sx as double) * cast(sz as double) as numd,
    cast(bden as double) as vx,
    cast(n as double) * cast(szz as double)
      - cast(sz as double) * cast(sz as double) as vz
  from m
)
select n, sx, sz_str, sxz_str,
  (case when numd > 0 then 1.0 when numd < 0 then -1.0 else 0.0 end)
    * (case when vz > 0 then numd * numd / (vx * vz) else 0.0 end)
    as r2_signed_raw,
  cast(floor(cast(n as double)
    * (case when vz > 0 then numd * numd / (vx * vz) else 0.0 end)
    * 1000000.0 + 0.5) as bigint) as lm_micro
from d
"""

QUERIES["breusch_pagan"] = q_breusch_pagan
ORACLES["breusch_pagan"] = O_BREUSCH_PAGAN


# --- Kupiec proportion-of-failures backtest (p95 threshold coverage) ------------


def q_kupiec_pof(spark, sf_dir):
    """Kupiec POF coverage backtest (functions/stats.kupiec_pof): the
    p95 spend threshold fit as the EXACT integer order statistic on the
    md5-even half must produce ~5% exceedances on the md5-odd half; the
    binomial likelihood ratio says whether the realized rate breaks
    coverage. ln(p)/ln(1-p) are nano plan literals; data lns are
    keyness-convention nano integers; no division anywhere."""
    from ..functions.corpus import md5_bucket
    from ..functions.stats import kupiec_pof

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.expr("cast(floor(value * 100.0 + 0.5) as bigint)").alias("v"),
        md5_bucket("event_id", 2).alias("arm"),
    )
    return kupiec_pof(ev, v_col="v", arm_col="arm", p_ppm=50000)


def _kupiec_oracle() -> str:
    import math

    lnp = int(math.floor(math.log(0.05) * 1e9 + 0.5))
    lnq = int(math.floor(math.log(0.95) * 1e9 + 0.5))
    nln = "cast(floor(ln(cast({c} as double)) * 1000000000.0 + 0.5) as bigint)"
    return f"""
with hx as (
  select cast(floor(value * 100.0 + 0.5) as bigint) as v,
    md5(cast(event_id as varchar)) as h
  from events
),
t as (select v, ({_HEX7}) % 2 as arm from hx),
tr as (select v, cast(count(*) as bigint) as c from t where arm = 0 group by 1),
cum as (
  select v,
    sum(c) over (order by v rows between unbounded preceding and current row)
      as cum,
    sum(c) over () as nt
  from tr
),
th as (
  select cast(max(nt) as bigint) as n_train,
    min(case when cum * 1000000 >= nt * 950000 then v end) as thr
  from cum
),
te as (
  select max(th.n_train) as n_train, max(th.thr) as thr,
    cast(count(*) as bigint) as n,
    cast(sum(case when t.v > th.thr then 1 else 0 end) as bigint) as x
  from t, th where t.arm = 1
)
select n_train, thr, n as n_test, x as x_exceptions,
  cast(50000 as bigint) as p_ppm,
  case when n > 0 then cast(-2 * (
    (n - x) * {lnq} + x * {lnp}
    - ((case when n - x > 0
             then (n - x) * ({nln.format(c='n - x')} - {nln.format(c='n')})
             else 0 end)
       + (case when x > 0
               then x * ({nln.format(c='x')} - {nln.format(c='n')})
               else 0 end))
  ) as bigint) end as lr_nano
from te
"""


QUERIES["kupiec_pof"] = q_kupiec_pof
ORACLES["kupiec_pof"] = _kupiec_oracle()


# --- Gwet's AC1 (paradox-resistant multi-rater agreement) -----------------------


def q_gwet_ac1(spark, sf_dir):
    """Gwet's AC1 over the SAME three binary user-quality raters as
    fleiss_kappa (functions/stats.gwet_ac1_binary) — the
    prevalence-skew-resistant chance correction: when almost every user
    rates the same way, Fleiss' kappa collapses (the kappa paradox)
    while AC1 stays interpretable; the fleiss-vs-AC1 gap IS the skew
    diagnostic. Same exact integer path, different chance term."""
    from ..functions.stats import gwet_ac1_binary

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    per = ev.groupBy("user_id").agg(
        F.sum(F.expr("cast(floor(value * 100.0 + 0.5) as bigint)")).alias("cents"),
        F.count(F.lit(1)).alias("n_ev"),
        F.countDistinct("event_type").alias("n_types"),
    )
    items = per.select(
        (F.col("cents") > 10000).cast("int").alias("r1"),
        (F.col("n_ev") >= 5).cast("int").alias("r2"),
        (F.col("n_types") >= 3).cast("int").alias("r3"),
    )
    return gwet_ac1_binary(items)


O_GWET_AC1 = """
with per as (
  select user_id,
    sum(cast(floor(value * 100.0 + 0.5) as bigint)) as cents,
    cast(count(*) as bigint) as n_ev,
    cast(count(distinct event_type) as bigint) as n_types
  from events group by 1
),
it as (
  select (case when cents > 10000 then 1 else 0 end)
       + (case when n_ev >= 5 then 1 else 0 end)
       + (case when n_types >= 3 then 1 else 0 end) as n1
  from per
),
agg as (
  select cast(count(*) as hugeint) as nn, cast(sum(n1) as hugeint) as s1,
    cast(sum(n1 * n1 + (3 - n1) * (3 - n1) - 3) as hugeint) as pnum
  from it
),
rel as (
  select cast(nn as bigint) as n_items, cast(3 as bigint) as m_raters,
    cast(s1 as bigint) as s1,
    cast((pnum * 1000000) // (nn * 6) as bigint) as p_bar_ppm,
    cast((2 * s1 * (3 * nn - s1) * 1000000)
         // ((3 * nn) * (3 * nn)) as bigint) as pe_gwet_ppm
  from agg
)
select n_items, m_raters, s1, p_bar_ppm, pe_gwet_ppm,
  case when pe_gwet_ppm < 1000000 then
    cast((case when p_bar_ppm > pe_gwet_ppm then 1
               when p_bar_ppm < pe_gwet_ppm then -1 else 0 end)
      * ((abs(cast(p_bar_ppm as hugeint) - pe_gwet_ppm) * 1000000)
         // cast(1000000 - pe_gwet_ppm as hugeint)) as bigint)
  end as ac1_ppm
from rel
"""

QUERIES["gwet_ac1"] = q_gwet_ac1
ORACLES["gwet_ac1"] = O_GWET_AC1


# --- Taylor's law (variance-mean fluctuation scaling across event types) --------


def q_taylor_law(spark, sf_dir):
    """Taylor's law slope across event types (functions/stats.
    taylor_law): does daily-count variance scale as mean^b with b > 1
    (correlated bursts) or b ~ 1 (Poisson arrivals)? The cross-group
    fluctuation-scaling companion to event_burstiness. Exact integer
    mean/var per type quantized BEFORE the keyness-convention nano ln;
    one integer OLS over the tiny group frame."""
    from ..functions.stats import taylor_law

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return taylor_law(ev)


O_TAYLOR_LAW = """
with daily as (
  select event_type as g,
    epoch_us(cast(ts as timestamp)) // 86400000000 as d,
    cast(count(*) as bigint) as c
  from events group by 1, 2
),
per as (
  select cast(count(*) as hugeint) as k, cast(sum(c) as hugeint) as s,
    cast(sum(cast(c as hugeint) * c) as hugeint) as q
  from daily group by g
),
mv as (
  select cast((s * 1000000) // k as bigint) as mean_micro,
    cast(((k * q - s * s) * 1000000) // (k * k) as bigint) as var_micro
  from per
),
f as (select * from mv where mean_micro > 0 and var_micro > 0),
pts as (
  select
    cast(floor(ln(cast(mean_micro as double)) * 1000000000.0 + 0.5) as bigint)
      as x,
    cast(floor(ln(cast(var_micro as double)) * 1000000000.0 + 0.5) as bigint)
      as y
  from f
),
agg as (
  select cast(count(*) as hugeint) as k,
    cast(sum(x) as hugeint) as sx, cast(sum(y) as hugeint) as sy,
    cast(sum(cast(x as hugeint) * x) as hugeint) as sxx,
    cast(sum(cast(x as hugeint) * y) as hugeint) as sxy
  from pts
)
select cast(k as bigint) as n_groups,
  case when k >= 2 and (k * sxx - sx * sx) > 0 then
    cast((case when k * sxy - sx * sy >= 0 then 1 else -1 end)
      * ((abs(k * sxy - sx * sy) * 1000000) // (k * sxx - sx * sx)) as bigint)
  end as slope_micro
from agg
"""

QUERIES["taylor_law"] = q_taylor_law
ORACLES["taylor_law"] = O_TAYLOR_LAW


# --- Dickey-Fuller unit root (daily count series) -------------------------------


def q_dickey_fuller(spark, sf_dir):
    """Dickey-Fuller unit-root regression over daily event counts
    (functions/stats.dickey_fuller): do volume shocks decay (rho < 0,
    stationary) or persist (random walk)? The direct stationarity test
    beside variance_ratio/hurst's scaling reads. Fully exact-integer:
    t^2's denominator is Cauchy-Schwarz-nonnegative, so the release is
    one floor division — no IEEE anywhere."""
    from ..functions.stats import dickey_fuller

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    daily = ev.groupBy(
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    return dickey_fuller(daily, idx_col="d", y_col="y")


O_DICKEY_FULLER = """
with daily as (
  select epoch_us(cast(ts as timestamp)) // 86400000000 as d,
    cast(count(*) as bigint) as y
  from events group by 1
),
lagged as (
  select lag(y) over (order by d) as x, y
  from daily
),
f as (select x, y - x as dy from lagged where x is not null),
agg as (
  select cast(count(*) as hugeint) as k,
    cast(sum(x) as hugeint) as sx, cast(sum(dy) as hugeint) as sy,
    cast(sum(cast(x as hugeint) * x) as hugeint) as sxx,
    cast(sum(cast(x as hugeint) * dy) as hugeint) as sxy,
    cast(sum(cast(dy as hugeint) * dy) as hugeint) as syy
  from f
),
c as (
  select k, k * sxx - sx * sx as sxx_c, k * sxy - sx * sy as sxy_c,
    k * syy - sy * sy as syy_c
  from agg
)
select cast(k as bigint) as n_obs,
  case when sxx_c > 0 then
    cast((case when sxy_c >= 0 then 1 else -1 end)
      * ((abs(sxy_c) * 1000000) // sxx_c) as bigint) end as rho_micro,
  case when k > 2 and (sxx_c * syy_c - sxy_c * sxy_c) > 0 then
    cast(case when sxy_c > 0 then 1 when sxy_c < 0 then -1 else 0 end as bigint)
  end as t_sign,
  case when k > 2 and (sxx_c * syy_c - sxy_c * sxy_c) > 0 then
    cast(((k - 2) * sxy_c * sxy_c * 1000000)
         // (sxx_c * syy_c - sxy_c * sxy_c) as bigint)
  end as t2_micro
from c
"""

QUERIES["dickey_fuller"] = q_dickey_fuller
ORACLES["dickey_fuller"] = O_DICKEY_FULLER


# --- seasonal Mann-Kendall (weekly-cycle-robust trend) --------------------------


def q_seasonal_mann_kendall(spark, sf_dir):
    """Seasonal Mann-Kendall trend over daily counts (functions/stats.
    seasonal_mann_kendall, Hirsch-Slack): pairs restricted to matching
    day-of-week seasons, so a strong weekly cycle can't masquerade as
    (or drown) a monotone trend the way it can in plain mann_kendall.
    Season rides the pair join as an EQUI key; exact int64 S and tie
    terms, variance left to the caller per the MK convention."""
    from ..functions.stats import seasonal_mann_kendall

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return seasonal_mann_kendall(ev, period=7)


O_SEASONAL_MANN_KENDALL = """
with d as (
  select epoch_us(cast(ts as timestamp)) // 86400000000 as day,
    cast(count(*) as bigint) as cnt
  from events group by 1
),
s as (select day, cnt, day % 7 as season from d),
pairs as (
  select case when b.cnt > a.cnt then 1 when b.cnt < a.cnt then -1 else 0 end
    as sgn
  from s a join s b on a.season = b.season and a.day < b.day
),
sp as (
  select cast(coalesce(sum(sgn), 0) as bigint) as s_stat,
    cast(count(*) as bigint) as n_pairs
  from pairs
),
ties as (
  select cast(sum(t * (t - 1) * (2 * t + 5)) as bigint) as tie_term
  from (select season, cnt, cast(count(*) as bigint) as t
        from s group by 1, 2)
),
n as (
  select cast(count(distinct season) as bigint) as n_seasons,
    cast(count(*) as bigint) as n_days
  from s
)
select n_seasons, n_days, s_stat, n_pairs, tie_term
from n, sp, ties
"""

QUERIES["seasonal_mann_kendall"] = q_seasonal_mann_kendall
ORACLES["seasonal_mann_kendall"] = O_SEASONAL_MANN_KENDALL


# --- streaming Page-Hinkley drift (stateful stream, oracle-checked) -------------


def q_streaming_drift(spark, sf_dir):
    """REAL streaming execution of the Page-Hinkley drift monitor:
    events replayed through readStream -> applyInPandasWithState (five
    integers of group state per event type) -> availableNow -> memory
    sink. The live twin of the batch page_hinkley query — per-type
    running-mean CUSUM over per-event cents in (ts, event_id) order,
    integer-exact, so the final row per type matches the batch window
    SQL oracle bit-for-bit (the streaming_state pattern)."""
    import hashlib
    import uuid
    from pathlib import Path as _P

    from ..streaming import stream as strm

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type",
        F.expr("cast(floor(value * 100.0 + 0.5) as bigint)").alias("v"),
        "ts", "event_id",
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = f"/tmp/stream_drift_src_{tag}"
    if not _P(path).exists():
        ev.coalesce(1).write.mode("overwrite").parquet(path)
    src = spark.readStream.schema(ev.schema).parquet(path)
    out = strm.streaming_page_hinkley(src, key_col="event_type", value_col="v")
    qname = "qsd_" + uuid.uuid4().hex[:12]
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            out.writeStream.format("memory")
            .queryName(qname)
            .trigger(availableNow=True)
            .option(
                "checkpointLocation",
                f"/dev/shm/spark-tmp/stream_drift_ckpt_{uuid.uuid4().hex[:12]}",
            )
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
    res = spark.table(qname)
    return res.select(
        F.col("key").alias("event_type"),
        F.col("n").cast("long").alias("n"),
        F.col("m_t").cast("long").alias("m_t"),
        F.col("ph_t").cast("long").alias("ph_t"),
    )


O_STREAMING_DRIFT = """
with t as (
  select event_type as key, cast(floor(value * 100.0 + 0.5) as bigint) as v,
    ts, event_id
  from events
),
o as (
  select key, v,
    row_number() over w as rn,
    sum(v) over w as cum
  from t
  window w as (partition by key order by ts, event_id
               rows between unbounded preceding and current row)
),
d as (select key, rn, v - (cum // rn) as dev from o),
m as (
  select key, rn,
    sum(dev) over (partition by key order by rn
                   rows between unbounded preceding and current row) as m
  from d
),
p as (
  select key, rn, m,
    m - min(m) over (partition by key order by rn
                     rows between unbounded preceding and current row) as ph
  from m
),
last as (
  select key, rn, m, ph,
    row_number() over (partition by key order by rn desc) as rr
  from p
)
select key as event_type, cast(rn as bigint) as n,
  cast(m as bigint) as m_t, cast(ph as bigint) as ph_t
from last where rr = 1
"""

QUERIES["streaming_drift"] = q_streaming_drift
ORACLES["streaming_drift"] = O_STREAMING_DRIFT


# --- average precision (PR-AUC, imbalance-robust ranking metric) ----------------


def q_average_precision(spark, sf_dir):
    """Step-wise average precision over the same scored frame as
    roc_curve/auc_score (functions/evalmetrics.average_precision): the
    PR-curve scalar that stays informative under class imbalance where
    ROC-AUC saturates. Per-block terms floor-quantized then summed —
    bit-identical on both engines; same collapsed |distinct scores|
    shape as the ROC table."""
    from ..functions.evalmetrics import average_precision

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scored = docs.selectExpr(
        "cast(n_chars div 16 as long) as score",
        "cast(contains(text, 'data') as int) as y",
    )
    return average_precision(scored, "score", "y")


O_AVERAGE_PRECISION = """
with s as (
  select cast(n_chars // 16 as bigint) as score,
    cast(contains(text, 'data') as int) as y
  from documents
),
g as (
  select score, cast(count(*) as bigint) as n_at,
    cast(sum(y) as bigint) as pos_at
  from s group by score
),
c as (
  select pos_at,
    sum(pos_at) over (order by score desc
                      rows between unbounded preceding and current row)
      as cum_pos,
    sum(n_at) over (order by score desc
                    rows between unbounded preceding and current row)
      as cum_all,
    sum(pos_at) over () as tot_pos
  from g
),
agg as (
  select tot_pos, cast(count(*) as bigint) as n_thresholds,
    cast(sum((cast(pos_at as hugeint) * cum_pos * 1000000) // cum_all)
      as hugeint) as tsum
  from c group by tot_pos
)
select n_thresholds, cast(tot_pos as bigint) as total_pos,
  case when tot_pos > 0 then cast(tsum // tot_pos as bigint) else 0 end
    as ap_ppm
from agg
"""

QUERIES["average_precision"] = q_average_precision
ORACLES["average_precision"] = O_AVERAGE_PRECISION


# --- Youden J operating point ---------------------------------------------------


def q_youden_j(spark, sf_dir):
    """Youden's J threshold over the exact ROC table (functions/
    evalmetrics.youden_threshold): the distinct score maximizing
    TPR - FPR in released ppm units — the equal-cost operating point
    for a quality gate, smallest qualifying score on ties (gate in
    more)."""
    from ..functions.evalmetrics import youden_threshold

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scored = docs.selectExpr(
        "cast(n_chars div 16 as long) as score",
        "cast(contains(text, 'data') as int) as y",
    )
    return youden_threshold(scored, "score", "y")


O_YOUDEN_J = """
with s as (
  select cast(n_chars // 16 as bigint) as score,
    cast(contains(text, 'data') as int) as y
  from documents
),
g as (
  select score, cast(count(*) as bigint) as n_at,
    cast(sum(y) as bigint) as pos_at
  from s group by score
),
c as (
  select score,
    sum(pos_at) over w as cum_pos,
    sum(n_at) over w - sum(pos_at) over w as cum_neg,
    sum(pos_at) over () as p, sum(n_at) over () - sum(pos_at) over () as n
  from g
  window w as (order by score desc
               rows between unbounded preceding and current row)
),
r as (
  select score,
    cast(case when p > 0 then (cum_pos * 1000000) // p else 0 end as bigint)
      as tpr_ppm,
    cast(case when n > 0 then (cum_neg * 1000000) // n else 0 end as bigint)
      as fpr_ppm
  from c
),
j as (
  select score as best_score, tpr_ppm, fpr_ppm,
    tpr_ppm - fpr_ppm as j_ppm,
    row_number() over (order by tpr_ppm - fpr_ppm desc, score asc) as rk,
    cast(count(*) over () as bigint) as n_thresholds
  from r
)
select best_score, tpr_ppm, fpr_ppm, cast(j_ppm as bigint) as j_ppm,
  n_thresholds
from j where rk = 1
"""

QUERIES["youden_j"] = q_youden_j
ORACLES["youden_j"] = O_YOUDEN_J


# --- Chao1 / jackknife vocabulary-richness floors -------------------------------


def q_richness(spark, sf_dir):
    """Chao1 and first-order jackknife unseen-vocabulary floors
    (functions/corpus.richness_estimators) from the good_turing
    frequency-of-frequencies frame: how many types did sampling miss?
    The abundance-based lower bounds beside heaps_fit's power-law
    extrapolation. Exact integers off two partial-aggregable groupBys;
    one floor division per estimate."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus.richness_estimators(docs)


O_RICHNESS = f"""
with {_WORDS_CTE},
ww as (select unnest(words) as word from w),
wc as (select word, cast(count(*) as bigint) as cnt from ww group by word),
agg as (
  select cast(sum(cnt) as hugeint) as n, cast(count(*) as hugeint) as d,
    cast(sum(case when cnt = 1 then 1 else 0 end) as hugeint) as f1,
    cast(sum(case when cnt = 2 then 1 else 0 end) as hugeint) as f2
  from wc
)
select cast(n as bigint) as n_tokens, cast(d as bigint) as d_types,
  cast(f1 as bigint) as f1, cast(f2 as bigint) as f2,
  case when f2 > 0 then
    cast(d * 1000000 + (f1 * f1 * 1000000) // (2 * f2) as bigint)
  end as chao1_micro,
  cast(d * 1000000 + (f1 * (f1 - 1) * 1000000) // (2 * (f2 + 1)) as bigint)
    as chao1_bc_micro,
  case when n > 0 then
    cast(d * 1000000 + (f1 * (n - 1) * 1000000) // n as bigint)
  end as jack1_micro
from agg
"""

QUERIES["richness"] = q_richness
ORACLES["richness"] = O_RICHNESS


# --- Lorenz asymmetry (which tail owns the inequality) --------------------------


def q_lorenz_asymmetry(spark, sf_dir):
    """Lorenz asymmetry coefficient S = F(mu) + L(mu) over per-user
    total spend (functions/stats.lorenz_asymmetry): gini/lorenz_revenue
    say HOW MUCH inequality, this says WHERE it lives — many small
    users (S < 1) or a few dominant ones (S > 1). Below-mean is the
    integer predicate n*v < T (the mean never floats); one 1-row total
    broadcast + one conditional aggregate."""
    from ..functions.stats import lorenz_asymmetry

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    per = ev.groupBy("user_id").agg(
        F.sum(F.expr("cast(floor(value * 100.0 + 0.5) as bigint)")).alias("v")
    )
    return lorenz_asymmetry(per, v_col="v")


O_LORENZ_ASYMMETRY = """
with per as (
  select sum(cast(floor(value * 100.0 + 0.5) as bigint)) as v
  from events group by user_id
),
tot as (
  select cast(count(*) as hugeint) as n, cast(sum(v) as hugeint) as t from per
),
agg as (
  select n, t,
    cast(sum(case when n * v < t then 1 else 0 end) as hugeint) as m,
    cast(sum(case when n * v < t then v else 0 end) as hugeint) as sb
  from per, tot group by n, t
)
select cast(n as bigint) as n, cast(t as bigint) as total,
  cast(m as bigint) as m_below, cast(sb as bigint) as sum_below,
  case when n > 0 and t > 0 then
    cast((m * 1000000) // n + (sb * 1000000) // t as bigint)
  end as s_ppm
from agg
"""

QUERIES["lorenz_asymmetry"] = q_lorenz_asymmetry
ORACLES["lorenz_asymmetry"] = O_LORENZ_ASYMMETRY


# --- Theil U decomposition of the seasonal-naive forecast -----------------------


def q_forecast_decomp(spark, sf_dir):
    """Theil's U_M/U_S/U_C decomposition of the 7-day seasonal-naive
    forecast of daily spend (functions/stats.forecast_error_decomp):
    mase_seasonal scores HOW BIG the error is, this says WHY — level
    shift vs amplitude mismatch vs phase error, each pointing at a
    different fix. MSE/MAE and the bias share are pure integer floors;
    the two sqrt-bearing shares ride the assortativity-convention
    fixed-order IEEE release."""
    from ..functions.stats import forecast_error_decomp

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    daily = ev.groupBy(
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("d")
    ).agg(
        F.sum(F.expr("cast(floor(value * 100.0 + 0.5) as bigint)")).alias("y")
    )
    return forecast_error_decomp(daily, idx_col="d", y_col="y", lag=7)


O_FORECAST_DECOMP = """
with daily as (
  select epoch_us(cast(ts as timestamp)) // 86400000000 as d,
    sum(cast(floor(value * 100.0 + 0.5) as bigint)) as y
  from events group by 1
),
p as (
  select y as a, lag(y, 7) over (order by d) as f
  from daily
),
fp as (select a, f from p where f is not null),
agg as (
  select cast(count(*) as hugeint) as n,
    cast(sum(a) as hugeint) as sa, cast(sum(f) as hugeint) as sf,
    cast(sum(cast(a as hugeint) * a) as hugeint) as saa,
    cast(sum(cast(f as hugeint) * f) as hugeint) as sff,
    cast(sum(cast(f as hugeint) * a) as hugeint) as sfa,
    cast(sum(cast(f - a as hugeint) * (f - a)) as hugeint) as sdd,
    cast(sum(abs(f - a)) as hugeint) as sad
  from fp
),
rel as (
  select n, sdd,
    cast((sdd * 1000000) // n as bigint) as mse_micro,
    cast((sad * 1000000) // n as bigint) as mae_micro,
    case when sdd > 0 then
      cast(((sf - sa) * (sf - sa) * 1000000) // (n * sdd) as bigint)
    else 0 end as u_m_ppm,
    sqrt(cast(n * sff - sf * sf as double)) as sfd,
    sqrt(cast(n * saa - sa * sa as double)) as sad_,
    cast(n * sfa - sf * sa as double) as cov,
    cast(n * sdd as double) as nden
  from agg
)
select cast(n as bigint) as n, mse_micro, mae_micro, u_m_ppm,
  case when sdd > 0 then
    cast(floor((sfd - sad_) * (sfd - sad_) / nden * 1000000.0 + 0.5)
      as bigint) else 0 end as u_s_q,
  case when sdd > 0 then
    cast(floor(2.0 * (sfd * sad_ - cov) / nden * 1000000.0 + 0.5)
      as bigint) else 0 end as u_c_q
from rel
"""

QUERIES["forecast_decomp"] = q_forecast_decomp
ORACLES["forecast_decomp"] = O_FORECAST_DECOMP


# --- generalized ESD (Rosner) multiple-outlier trajectory -----------------------


def q_rosner_esd(spark, sf_dir):
    """Rosner's generalized ESD over per-user spend (functions/stats.
    rosner_esd): the 3-round removal trajectory with the exact squared
    studentized deviate per round — the multiple-outlier test grubbs
    cannot be iterated into by hand (each removal changes the proper
    critical value; ESD publishes the whole trajectory). R^2 is one
    floor division on nonneg operands per round — no sqrt, no IEEE;
    argmax ties break on smallest id."""
    from ..functions.stats import rosner_esd

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    per = ev.groupBy("user_id").agg(
        F.sum(F.expr("cast(floor(value * 100.0 + 0.5) as bigint)")).alias("v")
    )
    return rosner_esd(per, id_col="user_id", v_col="v", k=3)


def _rosner_oracle(k: int = 3) -> str:
    parts = ["""
with per0 as (
  select user_id as id, sum(cast(floor(value * 100.0 + 0.5) as bigint)) as v
  from events group by 1
)"""]
    for r in range(1, k + 1):
        prev = f"per{r - 1}"
        parts.append(f""",
s{r} as (
  select cast(count(*) as hugeint) as n, cast(sum(v) as hugeint) as s,
    cast(sum(cast(v as hugeint) * v) as hugeint) as q
  from {prev}
),
c{r} as (
  select id, v, n, (n * v - s) * (n * v - s) as dev2,
    cast(((n - 1) * (n * v - s) * (n * v - s) * 1000000)
         // (n * (n * q - s * s)) as bigint) as r2
  from {prev}, s{r} where n >= 3 and n * q - s * s > 0
),
t{r} as (
  select cast({r} as bigint) as round, id as outlier_id, v,
    cast(n as bigint) as n_remaining, r2 as r2_ppm,
    row_number() over (order by dev2 desc, id asc) as rk
  from c{r}
),
per{r} as (
  select id, v from {prev}
  where id != (select outlier_id from t{r} where rk = 1)
)""")
    sel = "\nunion all\n".join(
        f"select round, outlier_id, cast(v as bigint) as v, n_remaining, r2_ppm from t{r} where rk = 1"
        for r in range(1, k + 1)
    )
    parts.append("\n" + sel)
    return "".join(parts)


QUERIES["rosner_esd"] = q_rosner_esd
ORACLES["rosner_esd"] = _rosner_oracle()


def _reorder_registry() -> None:
    global QUERIES, ORACLES
    missing = [n for n in _CERTIFIED_FIRST if n not in QUERIES]
    assert not missing, f"_CERTIFIED_FIRST names not in registry: {missing}"
    ordered = list(_CERTIFIED_FIRST) + [n for n in QUERIES if n not in _CERTIFIED_FIRST]
    QUERIES = {n: QUERIES[n] for n in ordered}
    ORACLES = {n: ORACLES[n] for n in ordered if n in ORACLES}


_reorder_registry()
