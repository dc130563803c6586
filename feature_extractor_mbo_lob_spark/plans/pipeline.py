"""End-to-end feature plans.

The reference's Pipeline::process loop (src/pipeline.rs:606-736) restated as
one declarative DataFrame pipeline: scan -> filter -> frame-bound features
(one numpy bucket stage, operators/order_stats.py) -> stateful window columns
-> rolling prefix sums -> label frames. Catalyst owns the physical plan;
every window shares the identical partitionBy(conv_id).orderBy(turn_idx, ts)
spec so the whole window cascade is ONE shuffle + sort followed by fused
window execs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import contract
from ..config import PipelineConfig
from ..labeling import tlob_labels
from ..operators import order_stats, rolling, state


def r6(c):
    """Half-away-from-zero rounding at 6 decimals via pure float algebra —
    bit-identical between Spark expressions and the numpy kernel
    (plans/vectorized.py), unlike F.round (BigDecimal HALF_UP) vs np.round
    (half-to-even), which disagree on representable ties."""
    pos = F.floor(c * 1e6 + F.lit(0.5)) / 1e6
    neg = -(F.floor(-c * 1e6 + F.lit(0.5)) / 1e6)
    return F.when(c >= 0, pos).otherwise(neg).cast("double")


def clean_input(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Invalid-row filter (reference: src/pipeline.rs:609-612 drops system
    messages). Transcript analog: drop rows with null key/order/ts. Pushed to
    the scan by Catalyst."""
    return df.filter(
        F.col(cfg.key_col).isNotNull()
        & F.col(cfg.ts_col).isNotNull()
        & F.col("turn_idx").isNotNull()
    )


def build_features(df: DataFrame, cfg: PipelineConfig,
                   narrow: bool = False) -> DataFrame:
    """Full point-in-time feature frame: contract columns + passthrough keys.

    Zero temporal leakage by construction: every feature window frame ends at
    the current row (cumulative / trailing); only labeling uses forward frames.

    narrow=True drops the text payload before the shuffle (char_len is
    pre-computed at the scan) — the window sort then moves ~40-byte rows
    instead of ~150-byte rows. Use when downstream doesn't need raw text
    (memory bandwidth is the scaling ceiling of the window stage).

    The order-stats Arrow stage (FlatMapGroupsInPandas) blocks filter and
    projection pushdown: a filter or select applied to the result stays
    above it, so the scan reads every input column (only narrow=True prunes)
    and every conversation. Filter the input first to compute fewer.
    """
    df = clean_input(df, cfg)
    char_len = F.coalesce(F.length("text"), F.lit(0)).cast("double")
    if narrow:
        df = df.select(cfg.key_col, *cfg.order_cols, "role", char_len.alias("char_len"))
    elif "char_len" not in df.columns:
        df = df.withColumn("char_len", char_len)
    # hottest computation first, vectorized numpy per conversation bucket
    # (frame-bound features) — then the JVM window cascade
    df = order_stats.with_order_stats_pandas(df, cfg)
    df = state.with_state_features(df, cfg)
    df = state.with_sessions(df, cfg)
    df = state.with_time_regime(df, cfg)
    df = rolling.with_rolling_features(df, cfg)
    contract.validate_feature_frame(df.columns, cfg.window_sizes)
    return df


def max_conv_turns(df: DataFrame) -> int:
    """Longest conversation in the corpus: the skew routing probe of
    plans.vectorized.kernel_routed (the job and vectorized_flagship).
    turn_idx is dense 0-based per conversation (transcript contract), so
    max(turn_idx)+1 answers it without a groupBy.

    Only the fast path is free: when df is backed by local parquet files
    (≤256 of them), the max comes straight from the parquet FOOTER column
    statistics on the driver — zero Spark jobs, ~1 ms/file. Footer stats
    bound the UNFILTERED data, so for a filtered df this can only
    over-estimate — which at worst costs the route one small collect of the
    long conversations' ids, never the reverse. Otherwise it is one Spark
    job: a map-side-combined max over the pruned int column, which scans the
    column (parquet is a v1 source here, so no aggregate is pushed into the
    scan; ~0.15 s on a 600K-row corpus)."""
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    def _strip(f: str) -> str:
        if f.startswith("file://"):
            return f[7:]
        if f.startswith("file:"):
            return f[5:]
        return f

    local = [_strip(f) for f in files
             if (f.startswith("file:") or f.startswith("/")) and f.endswith(".parquet")]
    if files and len(local) == len(files) and len(local) <= 256:
        try:
            import pyarrow.parquet as pq

            mx = -1
            for f in local:
                md = pq.ParquetFile(f).metadata
                col = next(
                    (i for i in range(md.num_columns)
                     if md.schema.column(i).name == "turn_idx"), None)
                if col is None:
                    raise ValueError("no turn_idx column in footer")
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(col).statistics
                    if st is None or st.max is None:
                        raise ValueError("missing footer stats")
                    mx = max(mx, int(st.max))
            return mx + 1
        except Exception:
            pass
    row = df.agg(F.max("turn_idx")).first()
    return int(row[0] or 0) + 1


def flagship_pipeline(
    df: DataFrame,
    cfg: PipelineConfig | None = None,
    price_col: str = "char_len",
) -> DataFrame:
    """The minimum-slice end-to-end query (SURVEY §7): features + TLOB
    labels on the per-turn scalar timeline, aligned per (conv_id, turn_idx).

    Label forward-frames share the feature stage's partitionBy/orderBy, so
    Catalyst folds everything into ONE shuffle+sort — no second scan, no
    join. Labels that come from a different table are aligned with the
    as-of join operator (operators/asof.py) instead.

    This is the unchunked specification: a conversation is one Window
    partition whatever its length (AQE cannot split Window execs). The
    engine that cuts mega conversations into chunks is
    plans.vectorized.kernel_routed, tested equal to this on every row.
    """
    cfg = cfg or PipelineConfig()
    # narrow when the label timeline derives from char_len (output carries no
    # raw text, so the window sort never has to move it)
    feats = build_features(df, cfg, narrow=(price_col == "char_len"))
    price = F.col("char_len") if price_col == "char_len" else F.col(price_col)
    out = tlob_labels(feats.withColumn("_p", price), cfg, price_col="_p").filter(
        F.col("label").isNotNull()
    )
    return out.select(
        cfg.key_col,
        "turn_idx",
        cfg.ts_col,
        *[r6(F.col(c)).alias(c) for c in cfg.feature_columns()],
        "label",
        r6(F.col("label_pct_change")).alias("label_pct_change"),
    )
