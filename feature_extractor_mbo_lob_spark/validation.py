"""Validation gates (reference: src/validation.rs:156-330 FeatureValidator,
src/export_aligned/validation.rs:27-118 NaN/Inf scan + contract check).

Spark restatement: audit columns + aggregate gates computed in ONE pass with
``df.agg`` (or attached via ``observe`` so the gate costs nothing extra on
the write path). A hard gate raises before anything is written.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .config import PipelineConfig
from .operators import ordering


class ValidationError(RuntimeError):
    pass


def bad_value_count(c: str) -> Column:
    """Aggregate: rows whose column c is NaN, +/-Inf or null."""
    return F.sum(
        (F.isnan(c) | F.col(c).isNull() | (F.abs(F.col(c)) == float("inf"))).cast("long")
    )


def nan_inf_counts(df: DataFrame, cols: list[str]) -> dict[str, int]:
    """Per-column NaN/Inf/null counts in one aggregate pass (reference:
    scan_for_nan_inf, export_aligned/validation.rs:27-95)."""
    aggs = [bad_value_count(c).alias(c) for c in cols]
    row = df.agg(*aggs).collect()[0]
    return {c: int(row[c] or 0) for c in cols}


def assert_no_nan_inf(df: DataFrame, cols: list[str]) -> None:
    """Hard gate before export — any NaN/Inf/null in a feature column aborts
    the write (reference hard-errors the day)."""
    bad = {c: n for c, n in nan_inf_counts(df, cols).items() if n > 0}
    if bad:
        raise ValidationError(f"NaN/Inf/null in feature columns: {bad}")


def assert_feature_contract(df: DataFrame, cfg: PipelineConfig) -> None:
    """Width/shape gate (reference: validation.rs:101-118 — only configured
    widths accepted)."""
    from . import contract

    contract.validate_feature_frame(df.columns, cfg.window_sizes)


def monotonicity_violations(df: DataFrame, cfg: PipelineConfig) -> int:
    """Count of rows whose ts regresses under the stable order (reference:
    validate_timestamps, src/lib.rs:132-134)."""
    w = ordering.stable_window(cfg)
    prev = F.lag(cfg.ts_col).over(w)
    return (
        df.select((prev > F.col(cfg.ts_col)).cast("long").alias("v"))
        .agg(F.sum("v").alias("n"))
        .collect()[0]["n"]
        or 0
    )


def profile_table(df, cols: list[str] | None = None):
    """Deequ-style single-pass data profile: per column, the row count,
    null count, distinct count, and numeric min/max — the completeness /
    uniqueness summary a curation pipeline checks before training export.

    One aggregation job; multiple COUNT(DISTINCT) columns go through
    Spark's expand strategy (rows x distinct-cols), the standard exact
    plan — swap in approx_count_distinct at 100 TB if exactness is not
    required. min/max are computed on the NATIVE type (never a string
    cast, whose lexicographic order would be wrong for numerics) and
    emitted as double for numeric columns, NULL otherwise, so the output
    schema is uniform long format: (column, n_rows, n_nulls, n_distinct,
    min_val, max_val).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import NumericType

    cols = cols or df.columns
    numeric = {f.name for f in df.schema.fields if isinstance(f.dataType, NumericType)}
    aggs = [F.count(F.lit(1)).alias("_rows")]
    for c in cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"_nulls_{c}"),
            F.count_distinct(F.col(c)).alias(f"_nd_{c}"),
        ]
        if c in numeric:
            aggs += [
                F.min(F.col(c)).cast("double").alias(f"_min_{c}"),
                F.max(F.col(c)).cast("double").alias(f"_max_{c}"),
            ]
    row = df.agg(*aggs)
    pieces = F.array(*[
        F.struct(
            F.lit(c).alias("column"),
            F.col("_rows").cast("long").alias("n_rows"),
            F.col(f"_nulls_{c}").cast("long").alias("n_nulls"),
            F.col(f"_nd_{c}").cast("long").alias("n_distinct"),
            (F.col(f"_min_{c}") if c in numeric else F.lit(None).cast("double")).alias("min_val"),
            (F.col(f"_max_{c}") if c in numeric else F.lit(None).cast("double")).alias("max_val"),
        )
        for c in cols
    ])
    return row.select(F.explode(pieces).alias("p")).select("p.*")


def psi_drift(df, value_col: str, ts_col: str = "ts",
              split_q: float = 0.5, k: int = 10, exact: bool = True):
    """Population Stability Index between the chronologically earlier and
    later parts of the data — the standard train-vs-serving drift metric.

    Recipe (all declarative, two tiny aggregates + one broadcast):
    * split at the split_q percentile of event time,
    * k equal-frequency bins from the REFERENCE (earlier) side's
      percentile cutpoints (``exact=True``: exact interpolated percentile —
      the DuckDB oracle twin, whose buffer is O(n) on one reducer, test SFs
      only; ``exact=False``: bounded-memory GK sketch, the scale path),
    * per bin: p = reference fraction, q = current fraction,
      contribution = (q - p) * ln((q + eps)/(p + eps)).

    Output is one row PER BIN (bin, n_ref, n_cur, p_ref, q_cur, psi_term)
    — deliberately NOT summed to a scalar inside the engine: a cross-bin
    float sum has engine-dependent association order, while every per-bin
    term is a pure expression on exact integer counts. Consumers sum the k
    terms in a defined order.
    """
    from pyspark.sql import Window, functions as F

    from .contract import DIVISION_GUARD_EPS

    from .normalization import _pctl

    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    cut = df.agg(_pctl(us, F.lit(split_q), exact).alias("_tcut"))
    d = df.join(F.broadcast(cut)).withColumn("_ref", (us < F.col("_tcut")).cast("int"))

    qs = [i / k for i in range(1, k)]
    ref_val = F.when(F.col("_ref") == 1, F.col(value_col))
    cuts = d.agg(_pctl(ref_val, F.array(*[F.lit(x) for x in qs]), exact).alias("_cuts"))
    d = d.join(F.broadcast(cuts))
    b = F.aggregate(
        F.col("_cuts"), F.lit(0),
        lambda acc, c: acc + F.when(F.col(value_col) > c, 1).otherwise(0),
    )
    d = d.withColumn("_bin", F.when(F.col(value_col).isNotNull(), b))

    per = d.filter(F.col("_bin").isNotNull()).groupBy("_bin").agg(
        F.sum("_ref").cast("long").alias("n_ref"),
        F.sum(1 - F.col("_ref")).cast("long").alias("n_cur"),
    )
    w = Window.partitionBy()  # k rows only — never the raw table
    p = F.col("n_ref").cast("double") / F.sum("n_ref").over(w)
    q = F.col("n_cur").cast("double") / F.sum("n_cur").over(w)
    eps = F.lit(DIVISION_GUARD_EPS)
    return per.select(
        F.col("_bin").alias("bin"),
        "n_ref", "n_cur",
        p.alias("p_ref"),
        q.alias("q_cur"),
        ((q - p) * F.log((q + eps) / (p + eps))).alias("psi_term"),
    )


def key_skew_report(df: DataFrame, key_col: str, top_k: int = 10) -> DataFrame:
    """Shuffle-key skew diagnostics: the top-k hottest keys with their row
    counts and corpus share in ppm (integer micro-fractions — engine-exact),
    plus each key's rank. The pre-flight check before any
    groupBy/join/Window on ``key_col``: a key holding >> 1/tasks of the
    rows is the straggler that motivates operators/skew.py chunking, AQE
    skew-join, or salting.

    One partial-aggregable count shuffle (O(distinct keys)), then a
    TakeOrderedAndProject top-k — the hot-key table never materializes a
    global sort. Ties break by key string so the report is deterministic.
    """
    cnt = df.groupBy(F.col(key_col).cast("string").alias("key")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    tot = cnt.agg(
        F.sum("cnt").cast("long").alias("total_rows"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
    )
    top = cnt.orderBy(F.col("cnt").desc(), F.col("key")).limit(top_k)
    w = Window.orderBy(F.col("cnt").desc(), F.col("key"))
    return (
        top.withColumn("rank", F.row_number().over(w).cast("long"))
        .crossJoin(F.broadcast(tot))
        .select(
            "rank",
            "key",
            "cnt",
            "total_rows",
            "n_keys",
            F.expr("(cnt * 1000000) div total_rows").cast("long").alias("share_ppm"),
        )
    )


def split_leakage_report(
    df, split_col: str = "split", fp_col: str = "fp"
) -> "DataFrame":
    """Cross-split contamination report: content fingerprints appearing in
    MORE than one train/val/test split. A near-duplicate that lands in
    train and test inflates eval — this is the check a split pipeline
    runs after group_hash_split/chronological_split, on the same
    normalized-text fingerprint the dedup stage uses.

    Returns one row per unordered split pair (split_a < split_b) with
    ``shared_fps`` = distinct fingerprints present in both. All shuffles
    carry (fingerprint digest, split) pairs only — 32 bytes + a tag per
    distinct content, never documents; the pair join runs on the
    deduplicated digest set and the output is at most |splits|^2 rows.
    """
    d = df.select(fp_col, split_col).distinct()
    a = d.select(F.col(fp_col).alias("_fp"), F.col(split_col).alias("split_a"))
    b = d.select(F.col(fp_col).alias("_fp"), F.col(split_col).alias("split_b"))
    return (
        a.join(b, "_fp")
        .filter(F.col("split_a") < F.col("split_b"))
        .groupBy("split_a", "split_b")
        .agg(F.count_distinct("_fp").cast("long").alias("shared_fps"))
    )


def benford_profile(df: DataFrame, cents_col) -> DataFrame:
    """Benford's-law data-quality profile over a positive integer amount
    column: per leading digit, the observed count and the exact integer
    ppm deviation from Benford's log10(1 + 1/d) expectation. Fabricated
    or unit-mangled monetary columns show up as large |excess_ppm| on
    digits 1/9 — the classic forensic scan a 100-TB ingest audit runs.

    All-integer output (counts, observed ppm via integer division,
    Benford ppm as fixed literals), so the profile is engine-exact; the
    leading digit is the first character of the decimal string — the
    same cast in any engine, no float log10 anywhere. One groupBy over
    at most 9 keys, map-side combined.
    """
    import math

    benford_ppm = {
        d: int(math.floor(math.log10(1.0 + 1.0 / d) * 1_000_000))
        for d in range(1, 10)
    }
    c = cents_col if not isinstance(cents_col, str) else F.col(cents_col)
    digit = F.substring(c.cast("string"), 1, 1).cast("int")
    counts = (
        df.filter(c > 0)
        .groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_obs"))
    )
    total = counts.agg(F.sum("n_obs").alias("_total"))
    expected = F.create_map(
        *[F.lit(x) for kv in benford_ppm.items() for x in kv]
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .withColumn("obs_ppm", F.expr("(n_obs * 1000000) div _total"))
        .withColumn("benford_ppm", expected[F.col("digit")].cast("long"))
        .withColumn("excess_ppm", F.col("obs_ppm") - F.col("benford_ppm"))
        .select("digit", "n_obs", "obs_ppm", "benford_ppm", "excess_ppm")
    )


def lateness_audit(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Watermark-tuning meter: how disordered are event-time arrivals when
    replayed in the stable (turn_idx, ts) order? For each conversation the
    ARRIVAL order is turn_idx; an event is LATE if its ts is behind the
    running event-time maximum of its conversation — exactly the condition
    under which Structured Streaming would drop it for a given watermark
    delay. Released per corpus (one row, all int64):

      n_events, n_late              late = ts < running max(ts) so far
      max_lateness_us               worst running-max regression
      p50/p95/p99_lateness_us       exact type-1 order statistics of the
                                    nonzero lateness distribution
      suggested_watermark_us        = max_lateness_us (the delay that
                                    would have dropped nothing)

    This is the number a real pipeline reads before setting
    ``withWatermark`` — too small drops data, too large holds state.
    Shape: one window over the conv sort (same canonical spec as every
    feature) + a distinct-value rank pass bounded by distinct lateness
    values, never the corpus.
    """
    us = ordering.epoch_us(cfg.ts_col)
    w = ordering.stable_window(cfg).rowsBetween(Window.unboundedPreceding, -1)
    t = df.select(
        us.alias("_us"),
        F.max(us).over(w).alias("_run_max"),
    ).select(
        (F.when(F.col("_run_max") > F.col("_us"),
                F.col("_run_max") - F.col("_us")).otherwise(0)).alias("late_us")
    )
    late = t.filter(F.col("late_us") > 0)
    # exact type-1 percentiles via distinct-value rank arithmetic (the same
    # trick as qte): cumulative count per distinct lateness value
    dv = late.groupBy("late_us").agg(F.count(F.lit(1)).alias("c"))
    wv = Window.orderBy("late_us").rowsBetween(Window.unboundedPreceding, 0)
    dv = dv.withColumn("cum", F.sum("c").over(wv))
    # coalesce the sum/max: over an EMPTY input they are NULL, which would
    # drop the zero-branch row below (n_late == 0 filter) and violate the
    # one-row contract
    totals = t.agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.coalesce(F.sum((F.col("late_us") > 0).cast("long")), F.lit(0))
        .cast("long").alias("n_late"),
        F.coalesce(F.max("late_us"), F.lit(0)).cast("long").alias("max_lateness_us"),
    )

    def pctl(p):
        # smallest distinct value whose cumulative count >= ceil(p*n/100)
        # (type-1 / lower order statistic)
        return F.min(
            F.when(
                F.col("cum") * 100 >= F.col("n_late") * p, F.col("late_us")
            )
        ).cast("long").alias(f"p{p}_lateness_us")

    joined = dv.crossJoin(F.broadcast(totals))
    pick = joined.groupBy("n_events", "n_late", "max_lateness_us").agg(
        pctl(50), pctl(95), pctl(99)
    )
    # an all-on-time corpus leaves dv empty -> pick has no rows; the zero
    # branch supplies the single row instead (exactly one of the two unions
    # is ever non-empty)
    zero = totals.filter(F.col("n_late") == 0).select(
        "n_events", "n_late",
        F.coalesce(F.col("max_lateness_us"), F.lit(0)).alias("max_lateness_us"),
        *[F.lit(0).cast("long").alias(f"p{p}_lateness_us") for p in (50, 95, 99)],
    )
    out = pick.unionByName(zero)
    return out.select(
        "n_events", "n_late", "max_lateness_us",
        "p50_lateness_us", "p95_lateness_us", "p99_lateness_us",
        F.col("max_lateness_us").alias("suggested_watermark_us"),
    )


def fk_orphan_audit(
    child: "DataFrame",
    parent: "DataFrame",
    child_key: str,
    parent_key: str,
    relation: str,
) -> "DataFrame":
    """Referential-integrity audit of one foreign-key relation — the
    ingestion gate that catches a broken upstream join BEFORE features
    silently lose rows: counts child rows whose key is NULL and child
    rows whose key has no parent (orphans), releasing the orphan rate
    as an exact ppm trunc division.

    Scale shape: one conditional aggregate over the child for the NULL
    split, one left-anti join (AQE broadcasts a small parent; both
    sides shuffle on the key otherwise — the join IS the audit, there
    is no cheaper certificate), one 1-row aggregate. Compose several
    relations with unionByName for a whole-schema report.
    """
    keyed = child.select(F.col(child_key).alias("_k"))
    base = keyed.agg(
        F.count(F.lit(1)).cast("long").alias("n_child"),
        F.sum(F.col("_k").isNull().cast("long")).cast("long")
        .alias("n_null_keys"),
    )
    orphans = (
        keyed.filter(F.col("_k").isNotNull())
        .join(parent.select(F.col(parent_key).alias("_k")), "_k", "left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orphans"))
    )
    out = base.crossJoin(F.broadcast(orphans))
    return out.select(
        F.lit(relation).alias("relation"),
        "n_child", "n_null_keys", "n_orphans",
        F.expr(
            "cast(case when n_child - n_null_keys > 0 then"
            " (cast(n_orphans as decimal(38,0)) * 1000000)"
            " div (n_child - n_null_keys) else 0 end as bigint)"
        ).alias("orphan_ppm"),
    )


def coldstart_coverage(
    df: "DataFrame",
    entity_col: str,
    ts_col: str,
    kind: str,
    horizon_days: int = 7,
) -> "DataFrame":
    """Cold-start exposure of one entity dimension under the temporal
    split every serving system actually faces: cutoff = corpus max day
    - ``horizon_days`` (the churn_labels / qini_curve window); an
    entity FIRST SEEN after the cutoff is cold — a model trained on the
    pre-cutoff window has no history for it. Reports, per entity kind,
    how much of the holdout's active population is cold
    (coldstart_ppm = cold * 1e6 div holdout-active, exact trunc).

    Scale shape: 1-row max broadcast + one groupBy(entity) for
    (first_day, last_day) + one 4-cell aggregate. Rows with NULL
    entities are ignored (they cannot be keyed at serving time either).
    """
    d = F.expr(f"unix_micros(cast({ts_col} as timestamp)) div 86400000000")
    rows = df.filter(F.col(entity_col).isNotNull()).select(
        F.col(entity_col).alias("_e"), d.alias("_d")
    )
    mx = rows.agg(F.max("_d").alias("_mx"))
    per_e = (
        rows.crossJoin(F.broadcast(mx))
        .withColumn("_cut", F.col("_mx") - F.lit(int(horizon_days)))
        .groupBy("_e")
        .agg(
            F.min("_d").alias("_first"),
            F.max("_d").alias("_last"),
            F.max("_cut").alias("_c"),
        )
    )
    g = per_e.agg(
        F.sum((F.col("_first") <= F.col("_c")).cast("long")).cast("long")
        .alias("n_train_entities"),
        F.sum((F.col("_last") > F.col("_c")).cast("long")).cast("long")
        .alias("n_holdout_active"),
        F.sum((F.col("_first") > F.col("_c")).cast("long")).cast("long")
        .alias("n_coldstart"),
    )
    return g.select(
        F.lit(kind).alias("entity"),
        "n_train_entities", "n_holdout_active", "n_coldstart",
        F.expr(
            "cast(case when n_holdout_active > 0 then"
            " (cast(n_coldstart as decimal(38,0)) * 1000000)"
            " div n_holdout_active else 0 end as bigint)"
        ).alias("coldstart_ppm"),
    )
