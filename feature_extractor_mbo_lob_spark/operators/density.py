"""Density clustering (DBSCAN) over embedding columns — the scalable,
candidate-graph form.

Classic DBSCAN needs every point's eps-neighborhood; computing that exactly
is an all-pairs O(n^2) join, fatal at web scale. The production form (as in
every large-scale implementation) runs DBSCAN over an ANN candidate graph:
neighbor pairs come from the engine's existing hyperplane-LSH bucketing
(operators/similarity.py), the exact distance check keeps only true
eps-neighbors among candidates, and the density rules (core / border /
noise, cluster = connected component of core points) are applied on that
graph. With enough planes/bands the candidate graph contains every true
neighbor pair with high probability; recall is tunable exactly like the
near-dup family (lsh_recall measures it).

Engine-exactness: neighborhood membership is an INTEGER predicate —
lanes micro-quantize via floor(x*1e6 + 0.5) and the squared L2 distance is
an exact int64 sum, compared against eps_micro^2. Degrees, core flags and
cluster labels are therefore integer-derived end to end; no float ever
decides a cluster boundary (the round-2 canonicalization rule).

Scale shape: one bucket equi-join bounded by LSH bucket sizes (never a
CartesianProduct — plan-audited like the near-dup family), one groupBy for
degrees, and the O(log diameter) pointer-doubling connected-components
rounds from operators/dedup.py for the core graph. Border assignment is one
more equi-join onto the (small) core-cluster map.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..guards import collect_at_most
from .dedup import connected_components

NOISE = -1


def micro_quantize(v) -> F.Column:
    """Per-lane micro-quantization of a float-array column:
    floor(x*1e6 + 0.5) as int64 — THE engine-exact lane representation
    every integer-distance operator in this repo shares (change it here
    and the DuckDB oracles' floor(x*1000000.0+0.5) twins together)."""
    col = F.col(v) if isinstance(v, str) else v
    return F.transform(
        col, lambda x: F.floor(x.cast("double") * 1e6 + F.lit(0.5)).cast("long")
    )


def int_sq_dist(qa, qb) -> F.Column:
    """Exact int64 squared L2 distance between two ALREADY-quantized
    int64-array columns (NULL if the arrays' lengths differ — zip_with
    would otherwise null-pad and silently yield NULL through the sum)."""
    d = F.zip_with(qa, qb, lambda x, y: (x - y) * (x - y))
    s = F.aggregate(d, F.lit(0).cast("long"), lambda acc, x: acc + x)
    return F.when(F.size(qa) == F.size(qb), s)


def quantized_sq_dist(a, b) -> F.Column:
    """Exact integer squared L2 distance between two float-array columns
    after per-lane micro-quantization (floor(x*1e6 + 0.5)): lanes in
    [-1, 1] quantize to |q| <= 1e6, so a 64-lane squared sum is < 2.6e14
    — comfortably int64, and bit-identical on any engine."""
    d = F.zip_with(
        micro_quantize(a), micro_quantize(b), lambda x, y: (x - y) * (x - y)
    )
    return F.aggregate(d, F.lit(0).cast("long"), lambda acc, x: acc + x)


def dbscan_from_pairs(
    points: DataFrame,
    pairs: DataFrame,
    id_col: str = "vec_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    min_pts: int = 3,
) -> DataFrame:
    """DBSCAN given a symmetric-closed-under-swap neighbor PAIR relation
    (each undirected eps-neighbor pair once, id_a < id_b) and the full
    point universe. Returns (id, is_core, cluster_id):

    * core      — |N_eps(p)| >= min_pts counting p itself;
    * cluster   — connected component of the core-core subgraph (label =
                  smallest member id; a core with no core neighbor is its
                  own singleton cluster);
    * border    — non-core with >= 1 core neighbor joins its SMALLEST
                  core neighbor's cluster (the deterministic tie rule —
                  plain DBSCAN leaves this order-dependent);
    * noise     — everything else, cluster_id = -1.
    """
    # materialize the (typically LSH + exact-verify) pair pipeline ONCE —
    # it feeds both unionAll branches here, and sym feeds the degree
    # count, the core-edge join, and the border labeling; without the
    # checkpoint each of those consumers re-ran candidate generation
    pairs = pairs.localCheckpoint(eager=True)
    sym = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst")).unionAll(
        pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    )
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    core = deg.filter(F.col("deg") + 1 >= min_pts).select(F.col("src").alias("id"))

    core_edges = (
        sym.join(core.withColumnRenamed("id", "src"), "src")
        .join(core.withColumnRenamed("id", "dst"), "dst")
        .filter(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("id_a"), F.col("dst").alias("id_b"))
    )
    cc = connected_components(core_edges, "id_a", "id_b")
    core_lbl = core.join(cc, "id", "left").select(
        "id", F.coalesce(F.col("cluster_id"), F.col("id")).alias("cluster_id")
    )

    # border: smallest cluster among core neighbors
    border_lbl = (
        sym.join(core_lbl.withColumnRenamed("id", "dst"), "dst")
        .join(core.withColumnRenamed("id", "src"), "src", "left_anti")
        .groupBy(F.col("src").alias("id"))
        .agg(F.min("cluster_id").alias("cluster_id"))
    )

    lbl = core_lbl.withColumn("is_core", F.lit(1)).unionByName(
        border_lbl.withColumn("is_core", F.lit(0))
    )
    return (
        points.select(F.col(id_col).cast("long").alias("id"))
        .join(lbl, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("is_core"), F.lit(0)).cast("int").alias("is_core"),
            F.coalesce(F.col("cluster_id"), F.lit(NOISE)).cast("long").alias("cluster_id"),
        )
    )


def banded_candidate_pairs(
    e: DataFrame,
    n_bands: int = 16,
    planes_per_band: int = 4,
    seed: int = 7,
    dim: int = 64,
) -> DataFrame:
    """CANDIDATE pairs (id_a < id_b, deduped) from banded hyperplane LSH:
    band k hashes every vector with its own ``planes_per_band``
    hyperplanes (seed + k); a pair is a candidate if ANY band agrees —
    the classic OR-of-ANDs LSH amplification (exactly the minhash banding
    trick, on the sign hash). For agreement probability p per plane,
    candidate recall is 1-(1-p^r)^b.

    ``e`` carries (id, v). Scale shape: one melted (id, band, bucket)
    frame, one equi-join on (band, bucket), a pair-key dedup groupBy —
    ids shuffle, no CartesianProduct ever."""
    from .similarity import hyperplane_signs

    bands = []
    for k in range(n_bands):
        bucket, _ = hyperplane_signs(
            F.col("v"), dim=dim, n_planes=planes_per_band, seed=seed + k
        )
        bands.append(
            F.struct(F.lit(k).cast("int").alias("band"), bucket.alias("bk"))
        )
    from .skew import fan_out_small_scan

    melted = fan_out_small_scan(e).select(
        "id", F.explode(F.array(*bands)).alias("m")
    ).select("id", F.col("m.band").alias("band"), F.col("m.bk").alias("bk"))
    return (
        melted.alias("a")
        .join(melted.alias("c"), ["band", "bk"])
        .filter(F.col("a.id") < F.col("c.id"))
        .select(F.col("a.id").alias("id_a"), F.col("c.id").alias("id_b"))
        .distinct()
    )


def banded_neighbor_pairs(
    e: DataFrame,
    eps_micro: int,
    n_bands: int = 16,
    planes_per_band: int = 4,
    seed: int = 7,
    dim: int = 64,
) -> DataFrame:
    """True eps-neighbor pairs from banded hyperplane LSH: the
    ``banded_candidate_pairs`` graph filtered by the EXACT integer
    quantized-distance predicate, so precision is 1.0 — banding only
    affects recall (at cosine 0.35, p = 0.61 per plane: a single 8-plane
    band catches 2% of true pairs; 16 bands x 4 planes catch 91% —
    dbscan_recall measures this exactly).

    Scale shape: the candidate bucket join plus one id-keyed join to
    fetch vectors for the exact check — vectors ride equi-joins, no
    CartesianProduct ever."""
    cand = banded_candidate_pairs(
        e, n_bands=n_bands, planes_per_band=planes_per_band, seed=seed, dim=dim
    )
    va = e.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    vb = e.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .filter(
            quantized_sq_dist(F.col("va"), F.col("vb"))
            <= F.lit(int(eps_micro) * int(eps_micro))
        )
        .select("id_a", "id_b")
    )


def exact_eps_pairs(
    e: DataFrame,
    eps_micro: int,
    method: str = "gemm",
    max_broadcast_rows: int = 1_000_000,
) -> DataFrame:
    """ALL true eps-neighbor pairs (id_a < id_b) by brute force — the
    sampled-truth baseline behind ``neighbor_recall``. Quadratic IN THE
    INPUT, so callers pass a bounded sample (the meter's cost is set by
    the sample size, independent of corpus size), never the corpus.
    The gemm path counts the sample, then collects it as its broadcast
    index (``guards.collect_at_most``), so it FAILS FAST (clear error, not
    a silent OOM) past ``max_broadcast_rows`` — at that size use a larger
    ``sample_buckets`` in the caller or ``method="join"`` (fully
    distributed).

    ``method="gemm"``: collect the (sampled) quantized matrix as a
    broadcast index (the similarity.py brute-force pattern) and evaluate
    the integer squared L2 distance blockwise with one float64 BLAS GEMM
    per Arrow batch inside ``mapInPandas``. BIT-EXACT equivalence with the
    int64 HOF sum: lanes quantize to |q| <= ~1e6, so every lane product
    (<= ~1e12), every GEMM partial sum (<= ~6.4e13 at dim 64), and the
    final d2 (<= ~2.6e14) is an integer below 2^53 — exactly
    representable in float64, so BLAS blocking/FMA order cannot change
    the result.

    ``method="join"``: the fully declarative crossJoin + zip_with twin
    (no driver collect), kept as the reference plan and for corpora too
    wide to broadcast."""
    import numpy as np
    import pandas as pd

    lim = int(eps_micro) * int(eps_micro)
    if method == "join":
        a = e.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
        c = e.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
        return (
            a.crossJoin(c)
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(quantized_sq_dist(F.col("va"), F.col("vb")) <= F.lit(lim))
            .select("id_a", "id_b")
        )

    # vector rows are wide: size the sample column-free before collecting it
    n_sample = e.count()
    rows = None
    if n_sample <= max_broadcast_rows:
        rows = collect_at_most(e.select("id", "v"), max_broadcast_rows, "exact_eps_pairs")
    if rows is None:
        raise ValueError(
            f"exact_eps_pairs gemm path: sample has {n_sample} rows > "
            f"max_broadcast_rows={max_broadcast_rows}; raise the caller's "
            "sample_buckets or use method='join' (distributed)."
        )
    if not rows:
        return e.sparkSession.createDataFrame([], "id_a long, id_b long")
    rows.sort(key=lambda r: r[0])
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    M = np.floor(
        np.array([list(r[1]) for r in rows], dtype=np.float64) * 1e6 + 0.5
    )
    msq = (M * M).sum(axis=1)
    spark = e.sparkSession
    b_ids = spark.sparkContext.broadcast(ids)
    b_m = spark.sparkContext.broadcast(M)
    b_msq = spark.sparkContext.broadcast(msq)

    def gen(batches):
        ids_all, X, xsq = b_ids.value, b_m.value, b_msq.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qids = pdf["id"].to_numpy(dtype=np.int64)
            Q = np.floor(
                np.array([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
                * 1e6 + 0.5
            )
            d2 = (Q * Q).sum(axis=1)[:, None] + xsq[None, :] - 2.0 * (Q @ X.T)
            mask = (d2 <= lim) & (qids[:, None] < ids_all[None, :])
            ai, bi = np.nonzero(mask)
            yield pd.DataFrame({"id_a": qids[ai], "id_b": ids_all[bi]})

    return e.mapInPandas(gen, schema="id_a long, id_b long")


def dbscan_embeddings(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eps_micro: int = 1_300_000,
    min_pts: int = 3,
    n_bands: int = 1,
    planes_per_band: int = 8,
    seed: int = 7,
    dim: int = 64,
) -> DataFrame:
    """End-to-end DBSCAN over an embedding column: (banded) hyperplane-LSH
    generates candidates — a bucket equi-join, never all-pairs — the exact
    integer quantized distance keeps true eps-neighbors, then
    dbscan_from_pairs applies the density rules. eps is in micro-units of
    L2 distance (1e6 = distance 1.0 between unit vectors).

    Recall/cost dial (measured by dbscan_recall, the companion metric):
    the default single 8-plane band is the cheapest candidate generator;
    on embeddings with real manifold structure it catches dense near-dup
    groups, while on adversarially-uniform vectors sign-LSH recall at wide
    eps is poor BY MATH (p^8 for per-plane agreement p) — the metric
    exposes exactly that before anyone trusts the clusters. Raising
    (n_bands, planes_per_band) buys recall at candidate-volume cost
    (OR-of-ANDs amplification); the right operating point is data-set
    specific, which is why the dial and the meter ship together."""
    e = emb.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    pairs = banded_neighbor_pairs(
        e, eps_micro, n_bands=n_bands, planes_per_band=planes_per_band,
        seed=seed, dim=dim,
    )
    return dbscan_from_pairs(
        emb.select(F.col(id_col).cast("long").alias(id_col)),
        pairs,
        id_col=id_col,
        min_pts=min_pts,
    )


def neighbor_recall(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eps_micro: int = 1_300_000,
    seed: int = 7,
    dim: int = 64,
    sample_buckets: int = 2,
) -> DataFrame:
    """The DBSCAN candidate-graph TUNING TABLE (the role ivf_recall /
    lsh_recall play for ANN): on a deterministic md5 vertex sample
    (1/``sample_buckets`` of points), measure neighbor-pair recall of TWO
    operating points of the candidate generator against brute-force exact
    eps-pairs — the cheap single 8-plane band and the amplified 16x4
    banding (OR-of-ANDs). The neighbor relation restricted to a vertex
    subset is exact, so the sampled recalls are unbiased; a real pipeline
    reads this row and picks its (n_bands, planes_per_band) from the true
    pairs each operating point recovers (n_single / n_banded). One
    all-integer row.

    Scale: brute-force truth is quadratic IN THE SAMPLE only (its cost is
    set by sample_buckets, independent of corpus size) and evaluated as
    one GEMM (exact_eps_pairs); both LSH sides are production bucket
    joins, and because the exact-filtered LSH pair set IS candidates ∩
    truth, the meter needs no per-candidate distance pass at all — the
    two intersections are plain pair-key joins."""
    from ..functions.corpus import md5_bucket

    # the sampled frame feeds the GEMM truth AND both LSH operating
    # points, and the GEMM truth is consumed three times (two candidate
    # intersections + the full-outer base) — materialize each ONCE or
    # the quadratic exact pass re-runs per consumer
    # fan out the single-split scan BEFORE checkpointing: localCheckpoint
    # preserves partitioning, and a 1-partition sample would serialize the
    # GEMM truth pass and both LSH hashing stages on one core (r6)
    from .skew import fan_out_small_scan

    e = fan_out_small_scan(
        emb.select(
            F.col(id_col).cast("long").alias("id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        ).filter(md5_bucket("id", sample_buckets) == 0)
    ).localCheckpoint(eager=True)

    exact = exact_eps_pairs(e, eps_micro).localCheckpoint(eager=True)

    keys = ["id_a", "id_b"]
    single = banded_candidate_pairs(
        e, n_bands=1, planes_per_band=8, seed=seed, dim=dim
    ).join(exact, keys)
    banded = banded_candidate_pairs(
        e, n_bands=16, planes_per_band=4, seed=seed, dim=dim
    ).join(exact, keys)

    j = (
        exact.withColumn("_e", F.lit(1))
        .join(single.withColumn("_s", F.lit(1)), ["id_a", "id_b"], "full_outer")
        .join(banded.withColumn("_b", F.lit(1)), ["id_a", "id_b"], "full_outer")
    )
    flag = lambda col: F.sum(F.coalesce(F.col(col), F.lit(0))).cast("long")
    inter = lambda col: F.sum(
        F.when(F.col("_e").isNotNull() & F.col(col).isNotNull(), 1).otherwise(0)
    ).cast("long")
    return j.agg(
        flag("_e").alias("n_exact"),
        flag("_s").alias("n_single"),
        flag("_b").alias("n_banded"),
        inter("_s").alias("inter_single"),
        inter("_b").alias("inter_banded"),
    ).select(
        "n_exact", "n_single", "n_banded", "inter_single", "inter_banded",
        # exact integer floor-div (both engines agree for nonnegatives;
        # never a float quotient — the canonicalization rule)
        F.when(
            F.col("n_exact") > 0, F.expr("inter_single * 1000000 div n_exact")
        ).otherwise(F.lit(1_000_000)).cast("long").alias("recall_single_ppm"),
        F.when(
            F.col("n_exact") > 0, F.expr("inter_banded * 1000000 div n_exact")
        ).otherwise(F.lit(1_000_000)).cast("long").alias("recall_banded_ppm"),
    )
