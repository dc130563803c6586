"""Similarity search over embedding columns (array<float>).

* brute-force cosine top-k — the correctness baseline. Two physical paths:
  - ``method="matrix"`` (default): broadcast the corpus as one dense
    float64 matrix to every executor and compute all cosines per Arrow
    batch with a single GEMM inside ``mapInPandas``. One BLAS call per
    ~1k queries replaces millions of per-pair higher-order-function
    evaluations; the corpus matrix is the "small dim table" being
    broadcast (15k x 64 doubles ~ 8 MB). At 100 TB corpus scale you
    shard the index with IVF below — the broadcast path is the exact
    oracle for moderate corpora.
  - ``method="join"``: fully declarative crossJoin + zip_with/aggregate —
    quadratic, kept as the engine-native formulation.
* IVF (inverted-file) — the scale path: assign every vector to its nearest
  of K deterministic centroids (broadcast join), then search only within the
  probed cluster (nprobe=1) via one GEMM per cluster in ``applyInPandas``.
  Shuffle is O(n) data instead of O(n^2); skewed clusters would be
  sub-sharded at real scale.
* near-dup pairs — exact (all-pairs >= threshold, matrix blocks) and
  bucketed (IVF same-cluster candidates only; the deterministic centroids
  make the bucketing DuckDB-reproducible for the correctness gate).

These GEMM kernels are sanctioned vectorized pandas UDFs (SURVEY §2.10):
Arrow-batched, numpy-only inner loops, never per-row Python arithmetic.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..contract import DIVISION_GUARD_EPS
from ..guards import collect_at_most

_BLOCK = 1024  # query rows per GEMM block (bounds the score matrix memory)

# Fail-fast budget for the exact GEMM paths' driver collect+broadcast —
# 2M rows of 64-dim float64 ≈ 1 GiB. Same bounded-state discipline as
# operators/density.exact_eps_pairs (density.py:245) and the reference's
# capped order tracker (/root/reference/src/features/mbo_features/
# order_tracker.rs:204-223): past the cap the operators either auto-route
# to their bucketed scale path (IVF / hyperplane LSH) or raise with the
# routing hint — never a silent driver OOM.
MAX_BROADCAST_ROWS = 2_000_000


def dot(a, b) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm(a) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a, b) -> Column:
    return (dot(a, b) / (norm(a) * norm(b) + F.lit(DIVISION_GUARD_EPS))).cast("double")


# --------------------------------------------------------------------------
# numpy kernels (shared by the matrix paths)
# --------------------------------------------------------------------------

def _collect_corpus(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    max_broadcast_rows: int = MAX_BROADCAST_ROWS,
    n: int | None = None,
    what: str = "exact GEMM path",
):
    """Corpus as (sorted ids, float64 matrix, norms) — a broadcastable index.

    Vector rows are wide, so the corpus is sized first with a column-free
    ``count()`` (pass ``n`` when the caller has counted it to route) and
    its rows are collected (``guards.collect_at_most``) only within
    ``max_broadcast_rows``; past it this raises with the routing hint."""
    n = df.count() if n is None else n
    rows = None
    if n <= max_broadcast_rows:
        rows = collect_at_most(df.select(id_col, vec_col), max_broadcast_rows, what)
    if rows is None:
        raise ValueError(
            f"{what}: corpus has {n} rows > max_broadcast_rows="
            f"{max_broadcast_rows}; this would collect+broadcast the whole "
            "corpus onto the driver. Use ivf_topk / hyperplane_near_dup "
            "(bucketed scale paths), method='join' (distributed), or "
            "raise max_broadcast_rows if the driver really has the memory."
        )
    rows.sort(key=lambda r: r[0])
    ids = np.array([r[0] for r in rows])
    M = np.array([list(r[1]) for r in rows], dtype=np.float64)
    norms = np.sqrt((M * M).sum(axis=1))
    return ids, M, norms


def _stack(series: pd.Series) -> np.ndarray:
    return np.array([np.asarray(v, dtype=np.float64) for v in series], dtype=np.float64)


def _topk_rows(ids: np.ndarray, S: np.ndarray, qids: np.ndarray, k: int):
    """Exact top-k per score-matrix row with (cos desc, id asc) tie order and
    self-exclusion by id value. Returns flat (qid, nid, cos, rank) arrays."""
    out_q, out_n, out_c, out_r = [], [], [], []
    n = len(ids)
    for i in range(S.shape[0]):
        row = S[i]
        self_pos = np.searchsorted(ids, qids[i])
        excl = self_pos < n and ids[self_pos] == qids[i]
        eff_n = n - (1 if excl else 0)
        kk = min(k, eff_n)
        if kk <= 0:
            continue
        if excl:
            row = row.copy()
            row[self_pos] = -np.inf
        if eff_n > kk:
            kth = np.partition(row, n - kk)[n - kk]
            cand = np.nonzero(row >= kth)[0]
        else:
            cand = np.nonzero(row > -np.inf)[0]
        order = cand[np.lexsort((ids[cand], -row[cand]))][:kk]
        out_q.extend([qids[i]] * kk)
        out_n.extend(ids[order])
        out_c.extend(row[order])
        out_r.extend(range(1, kk + 1))
    return out_q, out_n, out_c, out_r


def _cos_block(Q: np.ndarray, M: np.ndarray, mnorm: np.ndarray) -> np.ndarray:
    qn = np.sqrt((Q * Q).sum(axis=1))
    return (Q @ M.T) / (qn[:, None] * mnorm[None, :] + DIVISION_GUARD_EPS)


# --------------------------------------------------------------------------
# brute-force top-k
# --------------------------------------------------------------------------

def brute_force_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    query: DataFrame | None = None,
    method: str = "matrix",
    max_broadcast_rows: int = MAX_BROADCAST_ROWS,
    on_oversize: str = "route",
) -> DataFrame:
    """Top-k cosine neighbors for every query vector (defaults to self-join
    all-pairs, excluding self). Returns (query_id, neighbor_id, cos, rank).

    The matrix path broadcasts the corpus, so it is capped at
    ``max_broadcast_rows``; past the cap the self-top-k form auto-routes to
    ``ivf_topk`` with ~sqrt(n) centroids and sub-sharded clusters
    (on_oversize='route', approximate by design — the documented scale
    path), or raises with that hint (on_oversize='raise')."""
    if method == "join":
        base = df.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_nv"))
        q = (query if query is not None else df).select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
        )
        pairs = q.crossJoin(base).filter(F.col("query_id") != F.col("neighbor_id"))
        scored = pairs.select(
            "query_id", "neighbor_id", cosine(F.col("_qv"), F.col("_nv")).alias("cos")
        )
        w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
        return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)

    spark = df.sparkSession
    n_corpus = df.count()
    if n_corpus > max_broadcast_rows and on_oversize == "route" and query is None:
        return ivf_topk(
            df, id_col, vec_col, k=k,
            n_centroids=max(int(n_corpus ** 0.5), 16),
            max_cluster_rows=max_broadcast_rows,
        )
    bc = spark.sparkContext.broadcast(
        _collect_corpus(
            df, id_col, vec_col, max_broadcast_rows, n_corpus, "brute_force_topk"
        )
    )
    qdf = (query if query is not None else df).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    id_type = dict(df.dtypes)[id_col]
    schema = f"query_id {id_type}, neighbor_id {id_type}, cos double, rank int"

    def gen(batches):
        ids_, M_, n_ = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qids = pdf["query_id"].to_numpy()
            Q = _stack(pdf["_qv"])
            for s in range(0, len(pdf), _BLOCK):
                e = min(s + _BLOCK, len(pdf))
                S = _cos_block(Q[s:e], M_, n_)
                oq, on, oc, orank = _topk_rows(ids_, S, qids[s:e], k)
                yield pd.DataFrame(
                    {"query_id": oq, "neighbor_id": on, "cos": oc, "rank": orank}
                )

    return qdf.mapInPandas(gen, schema=schema)


# --------------------------------------------------------------------------
# exact near-dup pairs (all pairs above a cosine threshold)
# --------------------------------------------------------------------------

def near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    method: str = "matrix",
    max_broadcast_rows: int = MAX_BROADCAST_ROWS,
    on_oversize: str = "route",
) -> DataFrame:
    """All (id_a < id_b) pairs with cosine >= threshold — exact. Matrix path
    broadcasts the corpus and emits thresholded pairs per GEMM block.

    Capped at ``max_broadcast_rows``: past the cap it auto-routes to
    ``hyperplane_near_dup`` (random-hyperplane LSH bucket join, approximate
    by design — the documented scale path) or raises with that hint
    (on_oversize='raise')."""
    if method == "join":
        a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
        b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
        pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
        return (
            pairs.select("id_a", "id_b", cosine(F.col("_va"), F.col("_vb")).alias("cos"))
            .filter(F.col("cos") >= threshold)
        )

    spark = df.sparkSession
    n_corpus = df.count()
    if n_corpus > max_broadcast_rows and on_oversize == "route":
        return hyperplane_near_dup(df, id_col, vec_col, threshold=threshold)
    bc = spark.sparkContext.broadcast(
        _collect_corpus(
            df, id_col, vec_col, max_broadcast_rows, n_corpus, "near_dup_pairs"
        )
    )
    qdf = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_qv"))
    id_type = dict(df.dtypes)[id_col]
    schema = f"id_a {id_type}, id_b {id_type}, cos double"
    thr = float(threshold)

    def gen(batches):
        ids_, M_, n_ = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qids = pdf["id_a"].to_numpy()
            Q = _stack(pdf["_qv"])
            for s in range(0, len(pdf), _BLOCK):
                e = min(s + _BLOCK, len(pdf))
                S = _cos_block(Q[s:e], M_, n_)
                # keep only id_a < id_b and cos >= threshold, fully vectorized
                mask = (S >= thr) & (ids_[None, :] > qids[s:e, None])
                r, c = np.nonzero(mask)
                yield pd.DataFrame(
                    {"id_a": qids[s:e][r], "id_b": ids_[c], "cos": S[r, c]}
                )

    return qdf.mapInPandas(gen, schema=schema)


# --------------------------------------------------------------------------
# IVF: deterministic centroids, assignment, clustered search
# --------------------------------------------------------------------------

def deterministic_centroids(df: DataFrame, id_col: str, vec_col: str, n: int) -> DataFrame:
    """First n vectors by id — deterministic 'trained' centroids (stand-in
    for k-means; the assignment/probe machinery is identical)."""
    return (
        df.orderBy(id_col)
        .limit(n)
        .select(
            F.row_number().over(Window.orderBy(id_col)).alias("centroid_id"),
            F.col(vec_col).alias("_cv"),
        )
    )


def _cents_as_array(centroids: DataFrame) -> DataFrame:
    """Collapse a parameter-bounded centroid table (centroid_id, _cv) to a
    ONE-ROW frame holding the whole table as a sorted array of structs —
    the broadcastable form that turns nearest-centroid assignment into a
    pure projection (no per-vector exchange, no window sort)."""
    return centroids.agg(
        F.array_sort(
            F.collect_list(F.struct("centroid_id", "_cv"))
        ).alias("_cents")
    )


def _nearest_centroid(vec_col: str) -> Column:
    """argmin over struct(-cos, centroid_id) == the engine's canonical
    (cos DESC, centroid_id ASC) nearest-centroid choice, evaluated inline
    over the broadcast ``_cents`` array — bit-identical tie-breaking to
    the historical window-rank form (double negation is IEEE-exact)."""
    return F.array_min(
        F.transform(
            F.col("_cents"),
            lambda c: F.struct(
                (-cosine(F.col(vec_col), c["_cv"])).alias("_negc"),
                c["centroid_id"].alias("centroid_id"),
            ),
        )
    )


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its nearest centroid by cosine.

    The centroid table is parameter-bounded (k rows — broadcast-budget
    contract), so it is collapsed to a 1-row array-of-structs broadcast
    and the (cos DESC, centroid_id ASC) argmax is evaluated as a PURE
    PROJECTION per vector: zero per-vector exchanges, zero window sorts,
    and the whole assignment stays lazy (no driver action). Results are
    bit-identical to the historical broadcast-join + rank form."""
    return (
        df.crossJoin(F.broadcast(_cents_as_array(centroids)))
        .select(
            id_col, vec_col,
            _nearest_centroid(vec_col)["centroid_id"].alias("centroid_id"),
        )
    )


def ivf_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 8,
    method: str = "matrix",
    max_cluster_rows: int | None = None,
) -> DataFrame:
    """Approximate top-k: search only within the query's own cluster
    (nprobe=1). Returns (query_id, neighbor_id, cos, rank). Recall depends
    on clustering; the brute-force operator is the oracle. Matrix path runs
    one GEMM per cluster group (applyInPandas on centroid_id).

    max_cluster_rows (matrix path): sub-shard skewed clusters — a hot
    centroid otherwise lands its whole cluster in ONE task (the straggler
    AQE cannot split, since the boundary is an applyInPandas group). Rows
    of an oversize cluster are replicated into ceil(size/cap) sub-groups as
    NEIGHBORS and hashed into exactly one as QUERIES, so each task computes
    its query slice against the full cluster — results identical to the
    unsharded plan (driver-certified: ivf_topk_sharded shares ivf_topk's
    oracle), task work bounded by ~cap query rows. Trade: shuffle volume
    for the skewed cluster multiplies by its sub-count; normal-size
    clusters (_nsub=1) are untouched."""
    cents = deterministic_centroids(df, id_col, vec_col, n_centroids)
    assigned = ivf_assign(df, cents, id_col, vec_col)
    if method == "join":
        a = assigned.select(
            "centroid_id", F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
        )
        b = assigned.select(
            "centroid_id", F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_nv")
        )
        pairs = a.join(b, on="centroid_id").filter(F.col("query_id") != F.col("neighbor_id"))
        scored = pairs.select(
            "query_id", "neighbor_id", cosine(F.col("_qv"), F.col("_nv")).alias("cos")
        )
        w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
        return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)

    id_type = dict(df.dtypes)[id_col]
    schema = f"query_id {id_type}, neighbor_id {id_type}, cos double, rank int"

    if max_cluster_rows is not None:
        sizes = assigned.groupBy("centroid_id").agg(F.count(F.lit(1)).alias("_csz"))
        tagged = assigned.join(F.broadcast(sizes), "centroid_id").withColumn(
            "_nsub",
            F.greatest(
                F.ceil(F.col("_csz") / F.lit(max_cluster_rows)), F.lit(1)
            ).cast("int"),
        )
        replicated = (
            tagged.withColumn(
                "_qsub",
                F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.col("_nsub")).cast("int"),
            )
            .withColumn("_sub", F.explode(F.sequence(F.lit(0), F.col("_nsub") - 1)))
            .withColumn("_isq", (F.col("_sub") == F.col("_qsub")).cast("int"))
        )

        def per_subcluster(pdf: pd.DataFrame) -> pd.DataFrame:
            order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
            ids_ = pdf[id_col].to_numpy()[order]
            M_ = _stack(pdf[vec_col].iloc[order])
            n_ = np.sqrt((M_ * M_).sum(axis=1))
            qidx = np.flatnonzero(pdf["_isq"].to_numpy()[order] == 1)
            oq, on, oc, orank = [], [], [], []
            for s in range(0, len(qidx), _BLOCK):
                sel = qidx[s:s + _BLOCK]
                S = _cos_block(M_[sel], M_, n_)
                q, nb, c, r = _topk_rows(ids_, S, ids_[sel], k)
                oq.extend(q); on.extend(nb); oc.extend(c); orank.extend(r)
            return pd.DataFrame(
                {"query_id": oq, "neighbor_id": on, "cos": oc, "rank": orank}
            )

        return replicated.groupBy("centroid_id", "_sub").applyInPandas(
            per_subcluster, schema=schema
        )

    def per_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
        ids_ = pdf[id_col].to_numpy()[order]
        M_ = _stack(pdf[vec_col].iloc[order])
        n_ = np.sqrt((M_ * M_).sum(axis=1))
        oq, on, oc, orank = [], [], [], []
        for s in range(0, len(ids_), _BLOCK):
            e = min(s + _BLOCK, len(ids_))
            S = _cos_block(M_[s:e], M_, n_)
            q, nb, c, r = _topk_rows(ids_, S, ids_[s:e], k)
            oq.extend(q); on.extend(nb); oc.extend(c); orank.extend(r)
        return pd.DataFrame({"query_id": oq, "neighbor_id": on, "cos": oc, "rank": orank})

    return assigned.groupBy("centroid_id").applyInPandas(per_cluster, schema=schema)


def hyperplanes(dim: int, n_planes: int = 8, seed: int = 7) -> list[list[float]]:
    """Deterministic ±1 hyperplanes: h_j[d] from md5(seed|j|d) parity — the
    same literals are embedded in the DuckDB oracle."""
    import hashlib

    return [
        [
            1.0 if int(hashlib.md5(f"{seed}|{j}|{d}".encode()).hexdigest(), 16) % 2 == 0
            else -1.0
            for d in range(dim)
        ]
        for j in range(n_planes)
    ]


def hyperplane_signs(
    vec_col,
    dim: int,
    n_planes: int = 8,
    seed: int = 7,
):
    """Random-hyperplane sign bucket (embedding SimHash): bit j of the
    bucket = [dot(v, h_j) > 0]. Returns (bucket int column, planes).

    The whole bucket is built as ONE parsed SQL expression when the vector
    is a plain column reference: the former per-plane Column construction
    (n_planes HOF lambdas through py4j) dominated plan-build time for the
    banded generators (r6). The parsed tree is the identical
    aggregate/zip_with fold in the identical order, so results are
    bit-identical."""
    planes = hyperplanes(dim, n_planes, seed)
    name = vec_col if isinstance(vec_col, str) else None
    if name is None:
        # unwrap a bare column reference like F.col("v")
        try:
            expr_str = vec_col._jc.toString()
            if expr_str.replace("`", "").isidentifier():
                name = expr_str.replace("`", "")
        except Exception:
            name = None
    if name is not None:
        terms = []
        for j, h in enumerate(planes):
            arr = ", ".join(f"{x:.1f}D" for x in h)
            dotj = (
                f"aggregate(zip_with(`{name}`, array({arr}), (x, y) -> x * y), "
                f"cast(0.0 as double), (acc, v) -> acc + v)"
            )
            terms.append(f"(case when {dotj} > 0 then {1 << j} else 0 end)")
        return F.expr("cast((0 + " + " + ".join(terms) + ") as int)"), planes
    bucket = F.lit(0)
    for j, h in enumerate(planes):
        hcol = F.lit(h)
        bucket = bucket + F.when(dot(vec_col, hcol) > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return bucket.cast("int"), planes


def hyperplane_near_dup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    n_planes: int = 8,
    seed: int = 7,
    dim: int | None = None,
) -> DataFrame:
    """Random-hyperplane LSH near-dup: candidates share the full sign bucket
    (equi join on an int key — 2^n_planes buckets). P[same bucket] =
    (1 - theta/pi)^n_planes, so high-cosine pairs survive; approximate by
    design, exactly reproducible (deterministic planes). The third scale
    path next to the exact GEMM and IVF-bucketed variants."""
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    from .skew import fan_out_small_scan

    bucket, _ = hyperplane_signs(F.col(vec_col), dim, n_planes, seed)
    tagged = fan_out_small_scan(df).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("_v"),
        bucket.alias("_b"))
    a = tagged.select(F.col("id").alias("id_a"), F.col("_v").alias("_va"), "_b")
    b = tagged.select(F.col("id").alias("id_b"), F.col("_v").alias("_vb"), "_b")
    pairs = a.join(b, on="_b").filter(F.col("id_a") < F.col("id_b"))
    return (
        pairs.select("id_a", "id_b", cosine(F.col("_va"), F.col("_vb")).alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def ivf_near_dup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    n_centroids: int = 8,
) -> DataFrame:
    """Bucketed near-dup: candidates are same-IVF-cluster pairs only — an
    equi join on centroid_id, never a cross join. Approximate (cross-cluster
    near-dups are missed by design, like any single-probe LSH); the
    deterministic centroids make the bucketing exactly reproducible in the
    DuckDB oracle. Returns (id_a < id_b, cos >= threshold)."""
    cents = deterministic_centroids(df, id_col, vec_col, n_centroids)
    assigned = ivf_assign(df, cents, id_col, vec_col)
    id_type = dict(df.dtypes)[id_col]
    schema = f"id_a {id_type}, id_b {id_type}, cos double"
    thr = float(threshold)

    def per_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
        ids_ = pdf[id_col].to_numpy()[order]
        M_ = _stack(pdf[vec_col].iloc[order])
        n_ = np.sqrt((M_ * M_).sum(axis=1))
        frames = []
        for s in range(0, len(ids_), _BLOCK):
            e = min(s + _BLOCK, len(ids_))
            S = _cos_block(M_[s:e], M_, n_)
            mask = (S >= thr) & (ids_[None, :] > ids_[s:e, None])
            r, c = np.nonzero(mask)
            frames.append(
                pd.DataFrame({"id_a": ids_[s:e][r], "id_b": ids_[c], "cos": S[r, c]})
            )
        if not frames:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos": []})
        return pd.concat(frames, ignore_index=True)

    return assigned.groupBy("centroid_id").applyInPandas(per_cluster, schema=schema)


def kmeans_lloyd(
    df: DataFrame,
    k: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: tuple = (),
):
    """Distributed Lloyd k-means over an embedding column.

    Deterministic init (first-k-by-id, same as the IVF stand-in
    centroids), then `iters` rounds of assign -> recompute. The centroid
    update is posexplode(vec) -> per-(cluster, dim) avg -> re-assemble via
    array_sort(collect_list(struct(i, m))) — two keyed partial-aggregated
    shuffles, never a driver-side collect of vectors. Assignment broadcasts
    the K-row centroid table (ivf_assign). localCheckpoint per round keeps
    the plan bounded, exactly like connected_components.

    Returns (assignments DataFrame (id [, keep_cols], centroid_id),
    centroids DataFrame (centroid_id, _cv)). The fixed deterministic
    iteration count makes the whole computation expressible in SQL for
    the oracle gate.

    Optimization shape (r6): the whole fit is ONE LAZY PLAN — no
    localCheckpoint actions, no driver collects. Each round's assignment
    is a pure projection against the 1-row broadcast centroid array
    (_cents_as_array / _nearest_centroid: no per-vector exchange, no
    window sort); each round's update is the same posexplode →
    partial-aggregated (centroid, dim) avg as before, so every float
    lands from the identical expression and results are bit-identical to
    the checkpointed join+window form — pinned by
    test_kmeans_lloyd_partition_invariant / _matches_naive_reference.
    With 2 rounds the unrolled lineage is shallow; consumers pay a
    single action for fit + downstream instead of 3+.
    """
    cents = deterministic_centroids(df, id_col, vec_col, k)
    for _ in range(iters):
        asg = df.crossJoin(F.broadcast(_cents_as_array(cents))).select(
            id_col, vec_col,
            _nearest_centroid(vec_col)["centroid_id"].alias("centroid_id"),
        )
        dims = asg.select("centroid_id", F.posexplode(vec_col).alias("i", "v"))
        means = dims.groupBy("centroid_id", "i").agg(F.avg("v").alias("m"))
        cents = (
            means.groupBy("centroid_id")
            .agg(F.array_sort(F.collect_list(F.struct("i", "m"))).alias("_s"))
            .select("centroid_id", F.transform("_s", lambda s: s["m"]).alias("_cv"))
        )
    out = df.crossJoin(F.broadcast(_cents_as_array(cents))).select(
        id_col, *keep_cols,
        _nearest_centroid(vec_col)["centroid_id"].alias("centroid_id"),
    )
    return out, cents


def quantize_embeddings_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "embedding_q8",
) -> DataFrame:
    """Symmetric int8 vector quantization: per-vector scale = max|x|,
    q_i = floor(x_i * 127 / scale + 0.5) clamped to [-127, 127] — 4x
    smaller embedding storage (the difference between an ANN corpus
    fitting executor memory or not at 10^9+ vectors), with the exact
    per-vector scale kept alongside for dequantization / asymmetric
    scoring.

    Pure JVM array HOFs; engine-exact by the repo's canonicalization
    rule (floor(x + 0.5) is the same IEEE op sequence everywhere,
    unlike round()). Zero vectors quantize to all-zero with scale 0.
    """
    v = F.col(vec_col)
    mx = F.array_max(F.transform(v, lambda x: F.abs(x)))
    q = F.when(mx > 0, F.transform(
        v,
        lambda x: F.greatest(
            F.lit(-127),
            F.least(F.lit(127), F.floor(x * 127.0 / mx + 0.5).cast("int")),
        ),
    )).otherwise(F.transform(v, lambda x: F.lit(0)))
    return df.withColumn(out_col, q).withColumn(f"{out_col}_scale", mx)


def label_separability(
    emb: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    scale: float = 1e6,
) -> DataFrame:
    """Embedding-space class separability: for every unordered label pair,
    the squared centroid distance, each side's within-class mean squared
    scatter, and the Fisher-style ratio dist2 / (msd_a + msd_b) — the
    report that says whether labels are linearly separable BEFORE anyone
    trains a probe on 100 TB of embeddings.

    Exactness strategy (the cross-engine float discipline): lanes are
    quantized once to integers (floor(v*scale + 0.5)); everything until
    the final quotients is integer sums —

      S_l[d]  = sum of lane d over label l        (int64)
      S2_l    = sum of squared lanes              (int64)
      SS_l    = sum_d S_l[d]^2                    (decimal: > 64 bits)
      D2_ab   = sum_d (S_a[d]*n_b - S_b[d]*n_a)^2 (decimal)

    msd_l = (S2_l - SS_l/n)/n / scale^2 and dist2 = D2/(n_a*n_b)^2/scale^2
    are then fixed-order double expressions over exact operands, so any
    engine computes bit-identical values. Decimal lanes make the integer
    sums order-free (no float-summation nondeterminism at any width).

    Scale shape: one explode -> (label, lane) partial-agg shuffle over
    |labels|*dim rows, one |labels|-row aggregate, and a lane-keyed join
    of two |labels|*dim frames — nothing grows with corpus size after the
    first map-side combine.
    """
    lanes = emb.select(
        F.col(label_col).alias("lbl"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("lane", "v"),
    ).withColumn("s", F.floor(F.col("v") * F.lit(scale) + F.lit(0.5)).cast("long"))
    per = lanes.groupBy("lbl", "lane").agg(
        F.sum("s").alias("ssum"), F.sum(F.col("s") * F.col("s")).alias("s2"),
    )
    dec = lambda c: c.cast("decimal(18,0)")
    stats = per.groupBy("lbl").agg(
        F.sum(dec(F.col("ssum")) * dec(F.col("ssum"))).alias("ss"),
        F.sum("s2").alias("s2"),
    )
    n = emb.groupBy(F.col(label_col).alias("lbl")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    side = F.broadcast(stats.join(n, "lbl"))
    msd = (
        (F.col("s2").cast("double") - F.col("ss").cast("double") / F.col("n").cast("double"))
        / F.col("n").cast("double") / F.lit(scale * scale)
    )
    side = side.withColumn("msd", msd)

    a = per.select(F.col("lbl").alias("la"), "lane", F.col("ssum").alias("sa"))
    b = per.select(F.col("lbl").alias("lb"), "lane", F.col("ssum").alias("sb"))
    na = n.select(F.col("lbl").alias("la"), F.col("n").alias("na"))
    nb = n.select(F.col("lbl").alias("lb"), F.col("n").alias("nb"))
    diff = dec(F.col("sa") * F.col("nb") - F.col("sb") * F.col("na"))
    d2 = (
        a.join(b, "lane")
        .filter(F.col("la") < F.col("lb"))
        .join(F.broadcast(na), "la")
        .join(F.broadcast(nb), "lb")
        .groupBy("la", "lb", "na", "nb")
        .agg(F.sum(diff * diff).alias("d2i"))
    )
    dist2 = (
        F.col("d2i").cast("double")
        / (F.col("na").cast("double") * F.col("nb").cast("double"))
        / (F.col("na").cast("double") * F.col("nb").cast("double"))
        / F.lit(scale * scale)
    )
    sa_side = side.select(F.col("lbl").alias("la"), F.col("msd").alias("msd_a"))
    sb_side = side.select(F.col("lbl").alias("lb"), F.col("msd").alias("msd_b"))
    out = (
        d2.join(F.broadcast(sa_side), "la")
        .join(F.broadcast(sb_side), "lb")
        .withColumn("dist2", dist2)
    )
    return out.select(
        F.col("la").alias("label_a"),
        F.col("lb").alias("label_b"),
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        "dist2",
        "msd_a",
        "msd_b",
        (F.col("dist2") / (F.col("msd_a") + F.col("msd_b"))).alias("fisher"),
    )


def pq_codes(
    df: DataFrame,
    m: int = 4,
    k: int = 4,
    iters: int = 1,
    dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization codes: the vector splits into ``m`` contiguous
    subvectors; each subspace learns its own k-centroid codebook
    (kmeans_lloyd above — spherical/cosine variant, matching this engine's
    cosine ANN metric) and every vector is encoded as its nearest-centroid
    id per subspace. m codebooks of k centroids compress a float vector to
    m small ints — the memory step that makes billion-vector ANN feasible
    (IVF-PQ); the asymmetric-distance scan is a lookup-table sum over
    these codes.

    Shape: m independent codebook fits over narrow slice projections
    (each is the documented kmeans shape: broadcast k-row centroid table,
    keyed partial-agg updates), then an m-way id-keyed join of the code
    columns — co-partitioned on id after the first shuffle. Deterministic
    first-k-by-id init per subspace, fixed iteration count, so the whole
    encoding is SQL-expressible for the oracle gate.
    """
    assert dim % m == 0, "dim must split evenly into m subspaces"
    d = dim // m
    out = None
    for s in range(m):
        sub = df.select(
            F.col(id_col),
            F.slice(F.col(vec_col), s * d + 1, d).alias(vec_col),
        )
        asg, _cents = kmeans_lloyd(sub, k=k, iters=iters, id_col=id_col, vec_col=vec_col)
        asg = asg.select(
            id_col, F.col("centroid_id").cast("int").alias(f"code_{s}")
        )
        out = asg if out is None else out.join(asg, id_col)
    return out


def embedding_covariance(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Exact upper-triangular covariance sufficient statistics of the
    embedding matrix: per lane pair (i <= j) the integer sums
    (n, s_i, s_j, s_ij) over micro-quantized lanes q = floor(x*1e6 + 0.5),
    plus cov_ij = (n*s_ij - s_i*s_j) / n^2 / 1e12 back in original units.

    This is the "reduce 100 TB to a d*d sufficient statistic" PCA stage.
    r6 shape: the integer Gram + lane-sum partials come from the
    _int_gram_partials numpy-GEMM stage (exact int64 per batch, exact
    decimal accumulation across batches — the pca_power engine) instead
    of the O(rows·d²) id-keyed lane self-join; the d²-bounded aggregate
    is collected and the released cov replays the identical IEEE
    expression (int→double casts, two divisions, micro floor) on the
    driver. Exact integer sufficient statistics are unchanged;
    2.6 → ~0.8 s at sf0.1.
    """
    import math

    n = df.filter(F.col(vec_col).isNotNull()).count()
    parts = _int_gram_partials(
        df,
        vec_col,
        lambda M: np.floor(M * 1e6 + 0.5).astype(np.int64),
    )
    agg = [
        (int(r["j"]), int(r["k"]), int(r["sp"]))
        for r in parts.groupBy("j", "k")
        .agg(F.sum(F.col("p").cast("decimal(38,0)")).alias("sp"))
        .collect()
    ]
    s = {j: sp for j, k, sp in agg if k == -1}
    rows = []
    for i, j, s_ij in sorted((j, k, sp) for j, k, sp in agg if k >= 0):
        if i > j:
            continue
        num = n * s_ij - s[i] * s[j]
        cov = float(num) / (float(n) * float(n)) / 1e12
        rows.append(
            (i, j, n, s[i], s[j], str(s_ij),
             math.floor(cov * 1e6 + 0.5) / 1e6)
        )
    return df.sparkSession.createDataFrame(
        rows,
        schema="i int, j int, n long, s_i long, s_j long, s_ij string, cov double",
    )


def pca_top_component(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> tuple:
    """Top principal component of the embedding cloud: the distributed
    stage reduces the data to the exact d*d covariance sufficient
    statistic (embedding_covariance), which is then eigen-decomposed on
    the driver — d*d is tiny regardless of corpus size, so this is the
    scale-correct PCA split (statistics distributed, eigensolve local).

    Returns (eigvec: list[float] with sign fixed so the largest-|.|
    component is positive, explained_variance_ratio: float).
    """
    rows = embedding_covariance(df, id_col, vec_col).collect()
    d = max(r.j for r in rows) + 1
    C = np.zeros((d, d))
    for r in rows:
        n = float(r.n)
        c = (n * float(r.s_ij) - float(r.s_i) * float(r.s_j)) / (n * n) / 1e12
        C[r.i, r.j] = c
        C[r.j, r.i] = c
    vals, vecs = np.linalg.eigh(C)
    v = vecs[:, -1]
    v = v if v[np.argmax(np.abs(v))] >= 0 else -v
    ratio = float(vals[-1] / max(vals.sum(), 1e-300))
    return v.tolist(), ratio


def knn_label_agreement(
    df: DataFrame,
    k: int = 5,
    sample_mod: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Label-noise audit: for a deterministic 1/``sample_mod`` sample of
    labeled vectors, how many of the k exact-cosine nearest neighbors
    share the query's label. A point whose neighborhood out-votes its
    label (n_agree*2 < k) is a mislabel candidate — the cleanlab-style
    consistency screen a labeled training set needs before the labels
    feed a loss.

    Output is all-integer (n_agree of k) plus the boolean flag, so the
    audit is engine-exact given the neighbor sets. Shape: reuses
    brute_force_topk on the sampled query block (swap in ivf_topk at
    corpus scale — same contract), one broadcast-size label join back.
    """
    base = df.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("embedding"),
    )
    queries = base.where(F.col("vec_id") % sample_mod == 0)
    nn = brute_force_topk(base, id_col="vec_id", vec_col="embedding", k=k, query=queries)
    lbl = df.select(F.col(id_col).alias("_id"), F.col(label_col).alias("_lbl"))
    out = (
        nn.join(lbl.withColumnRenamed("_id", "query_id").withColumnRenamed("_lbl", "q_label"), "query_id")
        .join(lbl.withColumnRenamed("_id", "neighbor_id").withColumnRenamed("_lbl", "n_label"), "neighbor_id")
        .groupBy("query_id", "q_label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_neighbors"),
            F.sum(F.when(F.col("n_label") == F.col("q_label"), 1).otherwise(0))
            .cast("long").alias("n_agree"),
        )
    )
    return out.select(
        "query_id", F.col("q_label").cast("long").alias("label"),
        "n_neighbors", "n_agree",
        (F.col("n_agree") * 2 < F.col("n_neighbors")).alias("noise_flag"),
    )


def random_projection(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_dim: int = 8,
    seed: int = 11,
    dim: int = 64,
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction with deterministic
    ±1 sign matrices (Achlioptas 2001: sign projections satisfy the JL
    lemma with the same distortion bounds as Gaussians) — the cheap
    dim-reduce a 100-TB pipeline runs before ANN indexing or clustering
    when PCA's covariance pass is too expensive.

    Output is LONG (vec_id, j, proj_micro): lanes micro-quantize via
    floor(x*1e6 + 0.5) and each projection is an exact int64 signed sum —
    engine-exact in any evaluation order (sums of ints), unlike a float
    GEMM. One narrow map stage per row; no shuffle, no UDF (JVM
    zip_with/aggregate higher-order functions).
    """
    planes = hyperplanes(dim, out_dim, seed)
    q = F.transform(
        F.col(vec_col).cast("array<double>"),
        lambda x: F.floor(x * 1e6 + F.lit(0.5)).cast("long"),
    )
    projs = []
    for j, h in enumerate(planes):
        hcol = F.lit([int(x) for x in h]).cast("array<bigint>")
        signed = F.zip_with(q, hcol, lambda a, s: a * s)
        projs.append(
            F.struct(
                F.lit(j).cast("int").alias("j"),
                F.aggregate(signed, F.lit(0).cast("long"), lambda acc, x: acc + x).alias(
                    "proj_micro"
                ),
            )
        )
    return emb.select(
        F.col(id_col), F.explode(F.array(*projs)).alias("p")
    ).select(id_col, F.col("p.j").alias("j"), F.col("p.proj_micro").alias("proj_micro"))


def source_centroid_drift(
    emb: DataFrame,
    docs: DataFrame,
    id_col: str = "vec_id",
    doc_id_col: str = "doc_id",
    group_col: str = "source",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space drift between document groups (sources, crawls,
    time slices): per-group centroid in exact micro-units, then every
    group pair's squared centroid L2 distance — the "did crawl N+1 move
    the distribution" / "does source X live in its own region" audit a
    multi-source corpus runs before mixing.

    Engine-exact integers end to end: lanes micro-quantize (floor(x*1e6
    + 0.5), int64 sums), each centroid lane is the TRUNCATED quotient
    s div n — lane sums can be negative, and MEASURED on this container
    both engines truncate toward zero (Spark `div` by definition; DuckDB
    `//` gives -7 // 2 = -3, i.e. truncation too, despite floor-division
    folklore — do not "fix" either side to floor). The pair distance is
    an int64 sum of squared lane diffs (lanes <= 1e6 so d2 <=
    dim * 4e12 — comfortable). No float crosses engines.

    Scale shape: one equi join emb->docs on id, one posexplode + groupBy
    (group, lane) for the lane sums (shuffle O(groups * dim), never
    O(rows * dim) past the map-side combine), a groups*dim -> groups
    array_agg, and a tiny centroid self-join (groups², groups is small
    by definition). Lane order is pinned by sorting on lane index inside
    a struct collect + array_sort — never collect_list order. Dirty-data
    honesty: with ragged vector dims inside a group, each lane keeps its
    OWN count n (one centroid row per group regardless — grouping is by
    grp alone, never by a count that would split it), n_a reports the
    deepest lane, and a cross-group dim mismatch yields a NULL
    centroid_d2_micro2 (int_sq_dist's length guard) instead of a
    silently null-padded sum."""
    from .density import int_sq_dist, micro_quantize

    j = emb.alias("e").join(
        docs.select(F.col(doc_id_col).alias("_did"), F.col(group_col).alias("grp")),
        F.col(f"e.{id_col}") == F.col("_did"),
    )
    lanes = j.select(
        "grp",
        F.posexplode(
            micro_quantize(F.col(vec_col).cast("array<double>"))
        ).alias("lane", "q"),
    )
    sums = lanes.groupBy("grp", "lane").agg(
        F.sum("q").alias("s"), F.count(F.lit(1)).alias("n")
    )
    cent = (
        sums.select(
            "grp", "n",
            F.struct(
                "lane", F.expr("s div n").cast("long").alias("c")
            ).alias("lc"),
        )
        .groupBy("grp")
        .agg(
            F.max("n").alias("n"),
            F.transform(
                F.array_sort(F.collect_list("lc")), lambda st: st["c"]
            ).alias("centroid"),
        )
    )
    a = cent.select(
        F.col("grp").alias("group_a"), F.col("n").alias("n_a"),
        F.col("centroid").alias("ca"),
    )
    b = cent.select(
        F.col("grp").alias("group_b"), F.col("n").alias("n_b"),
        F.col("centroid").alias("cb"),
    )
    return (
        # broadcast the O(groups)-row side: the pair expansion is bounded
        # (groups² rows, groups small by definition) and planning it as a
        # BroadcastNestedLoopJoin instead of a shuffle CartesianProduct
        # keeps the package-wide "no CartesianProduct anywhere" invariant
        # machine-checkable (tests/test_plan_lint.py).
        a.join(F.broadcast(b), F.col("group_a") < F.col("group_b"))
        .select(
            "group_a", "group_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            int_sq_dist(F.col("ca"), F.col("cb")).alias("centroid_d2_micro2"),
        )
    )


def kcenter_select(
    emb: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center (farthest-point) selection — THE coreset baseline
    for training-data selection: pick the smallest-id point, then k−1
    times the point FARTHEST from everything chosen so far (2-approx of
    the optimal k-center cover; Gonzalez 1985, public algorithm). The
    emitted radius curve (each pick's distance to the previous centers)
    is the coverage diagnostic a curation pipeline reads to choose k.

    Engine-exact: lanes micro-quantize (floor(x*1e6 + 0.5) int64), d2 is
    the exact int64 squared L2, argmax ties break to the smallest id —
    every pick is integer-determined.

    Scale shape per round: ONE map over the corpus computing d2 to the
    single newest center (a broadcast literal — 64 int64s), folded into
    the running min via least(), then one struct-argmax aggregate. k
    rounds = k linear passes, no pairwise join anywhere; the only driver
    materialization is the 1-row argmax per round (k rows total). The
    running min column rides a localCheckpoint so plans stay bounded.

    Returns (step, vec_id, radius_d2) — step 1..k in pick order;
    radius_d2 is the pick's min-distance to prior centers (0 for step 1).
    """
    from .density import micro_quantize

    spark = emb.sparkSession
    q = micro_quantize(F.col(vec_col).cast("array<double>"))
    base = emb.select(F.col(id_col).cast("long").alias("id"), q.alias("q"))
    base = base.localCheckpoint(eager=True)

    # k > n would re-pick covered points (their min-distance is 0) — clamp
    k = min(int(k), base.count())
    if k <= 0:
        return spark.createDataFrame([], "step long, vec_id long, radius_d2 long")
    first = base.select(F.min("id").alias("id")).first()["id"]
    center_vec = base.filter(F.col("id") == first).first()["q"]
    picks = [(1, first, 0)]

    def d2_to(vec):
        lit = F.lit([int(x) for x in vec]).cast("array<bigint>")
        return F.aggregate(
            F.zip_with("q", lit, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    cur = base.select("id", "q", d2_to(center_vec).alias("mind2"))
    for step in range(2, int(k) + 1):
        cur = cur.localCheckpoint(eager=True)
        top = (
            cur.select(F.max(F.struct(F.col("mind2"), (-F.col("id")).alias("nid"))).alias("m"))
            .select(F.col("m.mind2").alias("d2"), (-F.col("m.nid")).alias("id"))
            .first()
        )
        picks.append((step, top["id"], top["d2"]))
        center_vec = base.filter(F.col("id") == top["id"]).first()["q"]
        cur = cur.select(
            "id", "q", F.least("mind2", d2_to(center_vec)).alias("mind2")
        )

    return spark.createDataFrame(
        [(int(s), int(i), int(d)) for s, i, d in picks],
        "step long, vec_id long, radius_d2 long",
    )


def embedding_outliers(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector outlier score: diagonal-Mahalanobis distance to the
    corpus centroid, sum_i (x_i - mu_i)^2 / var_i — the standard cheap
    embedding-space anomaly gate (whitened distance with a diagonal
    covariance; full-matrix Mahalanobis needs the eigen step that lives
    downstream of embedding_covariance).

    Engine-exactness: lanes micro-quantize to q = floor(x*1e6 + 0.5) and
    the n^2 factors CANCEL —

        (q - s/n)^2 / ((n*s2 - s^2)/n^2)  =  (n*q - s)^2 / (n*s2 - s^2)

    so each lane term is a ratio of exact integers, emitted as the
    fixed-point ``((n*q - s)^2 * 1e6) div (n*s2 - s^2)`` in decimal(38,0)
    (hugeint twin) and SUMMED AS INTEGERS over lanes — order-free, never
    an engine-ordered float sum. Zero-variance lanes contribute 0.

    Scale shape: one posexplode + one groupBy(lane) producing the d-row
    moment table, broadcast back onto the lane rows, then one
    partial-aggregable groupBy(id). Shuffle O(rows * d) digests with
    map-side combine; no self-join, no driver collect.
    """
    lanes = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("i", "x"),
    ).select(
        "id", "i",
        F.floor(F.col("x") * F.lit(1e6) + F.lit(0.5)).cast("long").alias("q"),
    )
    dec = lambda c: F.col(c).cast("decimal(20,0)")
    stats = lanes.groupBy("i").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("q").cast("long").alias("s"),
        F.sum(dec("q") * dec("q")).cast("decimal(38,0)").alias("s2"),
    )
    term = F.expr(
        "case when cast(n as decimal(38,0)) * s2"
        "        - cast(s as decimal(38,0)) * s > 0 then"
        " (cast(n as decimal(38,0)) * q - s)"
        " * (cast(n as decimal(38,0)) * q - s) * 1000000"
        " div (cast(n as decimal(38,0)) * s2 - cast(s as decimal(38,0)) * s)"
        " else 0 end"
    )
    return (
        lanes.join(F.broadcast(stats), "i")
        .select("id", term.cast("decimal(38,0)").alias("t_fp"))
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lanes"),
            F.sum("t_fp").cast("long").alias("score_fp"),
        )
    )


def _int_gram_partials(df: DataFrame, vec_col: str, build_q, tag: str = "g"):
    """Per-Arrow-batch EXACT integer Gram + lane-sum partials of a
    quantized embedding matrix — the vectorized engine under
    pca_power_direction and linear_cka_quantization.

    ``build_q`` maps the batch's float64 matrix (n, d_in) to an int64
    matrix Q (n, width); the stage emits, per batch, the full width²
    Gram block G = QᵀQ as rows (j, k >= 0, p) plus lane sums as rows
    (j, k = -1, p). Exactness: within one Arrow batch (bounded by
    spark.sql.execution.arrow.maxRecordsPerBatch, default 10k rows) the
    int64 GEMM cannot overflow for |q| <= ~3e6 (3e6² · 10⁴ = 9e16 <<
    2⁶³); CROSS-batch accumulation happens Spark-side in decimal(38,0),
    so the totals are the same order-free exact integers the previous
    id-keyed self-join produced — bit-identical oracle behavior, at
    numpy-GEMM speed instead of an O(rows·d²) exploded join (measured
    at sf0.1: cka_quantization 9.8 -> 1.0 s, pca_power 6.6 -> 2.0 s). Null vectors contribute
    nothing, matching posexplode semantics; RAGGED corpora raise in
    np.asarray rather than silently mis-summing — length-filter first
    (the contract embeddings tables satisfy by construction). Shuffle
    stays O(batches·d²), never O(rows)."""

    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            vecs = [v for v in pdf[vec_col] if v is not None]
            if not vecs:
                continue
            M = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in vecs]
            )
            Q = build_q(M)
            # runtime guard on the documented no-overflow bound (ADVICE
            # r5): |q|^2 * batch_rows must stay inside int64 — a larger
            # arrow batch conf or larger-magnitude vectors would
            # otherwise wrap silently instead of failing
            qmax = int(np.max(np.abs(Q))) if Q.size else 0
            if qmax and qmax * qmax * len(vecs) >= (1 << 63):
                raise ValueError(
                    f"_int_gram_partials int64 GEMM bound exceeded: "
                    f"max|q|={qmax}, batch_rows={len(vecs)} — lower "
                    "spark.sql.execution.arrow.maxRecordsPerBatch or "
                    "rescale the quantizer"
                )
            G = Q.T @ Q
            S = Q.sum(axis=0)
            d = Q.shape[1]
            jj, kk = np.meshgrid(
                np.arange(d, dtype=np.int32),
                np.arange(d, dtype=np.int32),
                indexing="ij",
            )
            yield pd.DataFrame(
                {
                    "j": np.concatenate([jj.ravel(), np.arange(d, dtype=np.int32)]),
                    "k": np.concatenate(
                        [kk.ravel(), np.full(d, -1, dtype=np.int32)]
                    ),
                    "p": np.concatenate([G.ravel(), S]),
                }
            )

    # NOTE(r6): fan_out_small_scan here measured SLOWER on every consumer
    # (the numpy GEMM is trivial per batch; splitting one batch into 32
    # multiplies the O(batches·d²) partial-row volume and adds an
    # exchange) — the plain scan stays.
    return df.select(F.col(vec_col).cast("array<double>").alias(vec_col)) \
        .mapInPandas(gen, schema="j int, k int, p long")


def pca_power_direction(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iterations: int = 3,
) -> DataFrame:
    """Top principal DIRECTION of the embedding cloud by max-norm power
    iteration — the fully-distributed, ENGINE-EXACT twin of
    pca_top_component (whose numpy eigensolve runs on the driver and
    cannot be oracle-verified). Every step is integer arithmetic, so a
    DuckDB hugeint twin reproduces each component bit-for-bit:

    * lanes quantize to micro ints q = floor(x*1e6 + 0.5);
    * the centered scatter C_jk = (n·Σ q_j q_k − S_j S_k) div n is an
      exact trunc division (scale-free for the eigenvector);
    * v_0 = 1e6 in every lane; each round v <- C v rescaled by
      (u_j · 1e6) div max|u| — max-norm instead of the usual L2 norm
      precisely because it needs no sqrt (both engines truncate
      identically on signed operands, the _tdiv contract).

    Fixed ``iterations`` (the bounded-iteration rule): deterministic
    plan depth; with a reasonable eigengap 3 rounds give the direction
    to ~1e-3, and the output is a pure function of the input either way.

    Scale shape: ONE Arrow-vectorized stage (_int_gram_partials) reduces
    each partition's Arrow batches to exact int64 Gram + lane-sum
    partials via numpy GEMM — shuffle O(batches·d²), never O(rows) —
    and decimal(38,0) Spark aggregation restores the same order-free
    exact scatter the previous id-keyed d²-fan-out self-join computed
    (bit-identical, 6.6 -> 2.0 s at sf0.1); every iteration then joins the
    d^2-cell frame with the d-row vector (broadcast) and re-aggregates d
    rows; max|u| is a broadcast 1-row aggregate (BNLJ allowlist).
    Magnitude bound: |C_jk| <~ n·1e12 and |u_j| <= d·|C|·1e6 — inside
    decimal(38,0) to n ~ 1e12 vectors at d = 64 (documented bound,
    COVERAGE broadcast-budget table).

    Returns ``DataFrame[j: int, v_micro: long]`` — the direction in
    micro units, max-norm scaled (the largest-|.| component is ±1e6).
    """
    n = df.count()
    if not n:
        return df.sparkSession.createDataFrame([], "j int, v_micro long")
    # ONE aggregation job reduces the GEMM partials to the d lane sums
    # (k = -1) plus the d^2 Gram cells — a d-bounded frame (documented
    # bound) collected to the driver, where the scatter build and the
    # fixed-round iteration run as exact Python integers (arbitrary
    # precision covers decimal(38,0); _tdiv replicated as sign-aware
    # trunc division). r6: replaces a second localCheckpoint plus
    # 3 rounds of join/aggregate/broadcast stages with O(d^2) driver
    # arithmetic; released v_micro values are bit-identical by the
    # all-integer spec.
    parts = _int_gram_partials(
        df,
        vec_col,
        lambda M: np.floor(M * 1e6 + 0.5).astype(np.int64),
    )
    agg = [
        (int(r["j"]), int(r["k"]), int(r["sp"]))
        for r in parts.groupBy("j", "k")
        .agg(F.sum(F.col("p").cast("decimal(38,0)")).alias("sp"))
        .collect()
    ]
    s = {j: sp for j, k, sp in agg if k == -1}

    def tdiv(a: int, b: int) -> int:
        # trunc-toward-zero division on signed ints (the _tdiv contract)
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    cells = [
        (j, k, tdiv(n * sp - s[j] * s[k], n)) for j, k, sp in agg if k >= 0
    ]
    v = {j: 1_000_000 for j in s}
    for _ in range(int(iterations)):
        u: dict = {}
        for j, k, c in cells:
            u[j] = u.get(j, 0) + c * v[k]
        m = max(abs(x) for x in u.values())
        v = {j: tdiv(x * 1_000_000, m) for j, x in u.items()}
    return df.sparkSession.createDataFrame(
        sorted(v.items()), "j int, v_micro long"
    )


def linear_cka_quantization(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    x_scale: int = 1_000,
) -> DataFrame:
    """Linear Centered Kernel Alignment (Kornblith 2019) between the
    exact embedding matrix X and its stored int8-quantized codes Q —
    the REPRESENTATION-level answer to "how much geometry survives int8
    storage", complementing rbo (ranking-level damage) and ivf_recall
    (retrieval-level damage):

        CKA(X, Q) = ||cov(X, Q)||_F^2 / (||cov(X)||_F · ||cov(Q)||_F).

    Engine-exact spec: X lanes quantize to milli ints
    floor(x·1e3 + 0.5); Q lanes are quantize_embeddings_int8's exact
    int8 codes (same IEEE clamp/floor sequence on both engines); every
    centered moment is the cleared-denominator integer
    M_jk = n·Σ a_j b_k − S_j S_k in decimal(38,0) (the n-powers cancel
    between numerator and denominator, so no division happens until
    release); the release is the SQUARED alignment
    cka2_raw = (num/√(dx·dy))² = num²/(dx·dy) as one fixed-order IEEE
    expression of decimal-cast doubles — sqrt never crosses an engine
    (the assortativity convention). Magnitude bound: block cells stay
    inside 38 digits to n ≈ 1e6 vectors at d = 64; beyond that run on
    an md5 vector sample (hash_sample), which leaves the estimator
    unbiased.

    Scale shape: ONE Arrow-vectorized stage (_int_gram_partials) builds
    the stacked Z = [X_milli | Q_int8] (width 2d) per batch and reduces
    it to exact int64 Gram + lane-sum partials via numpy GEMM — both
    quantizations reproduce the engine spec op-for-op in float64
    (floor(x·1e3 + 0.5); floor((x·127.0)/max|x| + 0.5) clamped), so the
    decimal(38,0) Spark re-aggregation restores the identical exact
    moments the previous tagged id-keyed self-join computed
    (bit-identical oracle behavior); shuffle O(batches·(2d)²), never
    O(rows); two bounded 2d-row joins decorate cells with lane sums;
    ONE final 1-row aggregate.

    Returns one row: ``(n_vecs, cka2_raw)`` with cka2 in [0, 1]
    (1 = geometry fully preserved).
    """
    nd_row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.max(F.size(F.col(vec_col).cast("array<double>"))).alias("d"),
    ).first()
    n, d = int(nd_row["n"] or 0), int(nd_row["d"] or 0)
    if not n:
        return df.sparkSession.createDataFrame([], "n_vecs long, cka2_raw double")

    def build_z(M):
        qx = np.floor(M * float(x_scale) + 0.5).astype(np.int64)
        mx = np.max(np.abs(M), axis=1)
        safe = np.where(mx > 0, mx, 1.0)
        qy = np.clip(np.floor((M * 127.0) / safe[:, None] + 0.5), -127, 127)
        qy[mx == 0] = 0.0
        return np.hstack([qx, qy.astype(np.int64)])

    # r6: ONE aggregation job reduces the GEMM partials to the (2d)^2-cell
    # frame (d-bounded, documented); the centered block moments and the
    # single release expression finish on the driver in exact Python
    # integers (⊇ decimal(38,0)) with the identical int→double casts —
    # removes a localCheckpoint plus two cell joins and a final aggregate.
    parts = _int_gram_partials(df, vec_col, build_z)
    agg = [
        (int(r["j"]), int(r["k"]), int(r["sp"]))
        for r in parts.groupBy("j", "k")
        .agg(F.sum(F.col("p").cast("decimal(38,0)")).alias("sp"))
        .collect()
    ]
    s = {j: sp for j, k, sp in agg if k == -1}
    num = dx = dy = 0
    for j, k, sum_jk in agg:
        if k < 0:
            continue
        ra = "x" if j < d else "y"
        rb = "x" if k < d else "y"
        if ra > rb:
            continue  # drop the transposed yx block
        m = n * sum_jk - s[j] * s[k]
        mm = m * m
        if ra == "x" and rb == "y":
            num += mm
        elif ra == "x":
            dx += mm
        else:
            dy += mm
    if dx > 0 and dy > 0:
        cka2 = (float(num) * float(num)) / (float(dx) * float(dy))
    else:
        cka2 = 0.0
    return df.sparkSession.createDataFrame(
        [(n, cka2)], "n_vecs long, cka2_raw double"
    )


def knn_hubness(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    method: str = "matrix",
) -> DataFrame:
    """Hubness of the k-NN graph (Radovanović 2010): the skewness of the
    k-occurrence distribution N_k(x) = "how many other points name x a
    top-k neighbor". High positive skew means a few hub vectors dominate
    every neighbor list — the classic high-dimensional ANN failure mode
    that silently degrades retrieval diversity and near-dup recall; the
    structural diagnostic to run beside ivf_recall (accuracy) and
    rbo/cka (quantization damage).

    Engine-exact release: in-degrees are pure integer counts (vectors
    never retrieved enter as the zero row via a left join from the id
    frame); with raw moments S1/S2/S3 the third central moment clears to
    B = n²S3 − 3nS1S2 + 2S1³ and the variance to A = nS2 − S1², giving
    skewness g1 = B/A^{3/2} — released as the SIGNED SQUARE
    sign(B)·B²/A³ in one fixed-order IEEE expression of decimal-cast
    doubles (the assortativity convention; sqrt never crosses engines).

    Scale shape: the k-NN edge list comes from brute_force_topk, which
    auto-routes to IVF above the broadcast cap; the in-degree reduction
    is one partial-aggregable groupBy over the EDGE list (n·k rows); the
    moment aggregate is 1-row. S1 = n·k by construction (every query
    emits k edges) — asserted in tests.

    Returns one row: ``(n_vecs, k, max_indeg, n_orphans,
    g1_sq_signed_raw)``.
    """
    nn = brute_force_topk(df, id_col=id_col, vec_col=vec_col, k=k, method=method)
    ids = df.select(F.col(id_col).alias("node"))
    indeg = nn.groupBy(F.col("neighbor_id").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    deg = ids.join(indeg, "node", "left").select(
        F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c")
    )
    dec = lambda e: e.cast("decimal(38,0)")
    m = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("s1"),
        F.sum(dec(F.col("c")) * F.col("c")).cast("decimal(38,0)").alias("s2"),
        F.sum(dec(F.col("c")) * F.col("c") * F.col("c"))
        .cast("decimal(38,0)").alias("s3"),
        F.max("c").cast("long").alias("max_indeg"),
        F.sum((F.col("c") == 0).cast("int")).cast("long").alias("n_orphans"),
    )
    withm = m.withColumn(
        "_b",
        F.expr(
            "cast(n as decimal(38,0)) * n * s3"
            " - 3 * cast(n as decimal(38,0)) * s1 * s2"
            " + 2 * cast(s1 as decimal(38,0)) * s1 * s1"
        ),
    ).withColumn(
        "_a", F.expr("cast(n as decimal(38,0)) * s2 - cast(s1 as decimal(38,0)) * s1")
    )
    g1sq = F.when(
        F.col("_a") > 0,
        F.signum(F.col("_b").cast("double"))
        * (F.col("_b").cast("double") * F.col("_b").cast("double"))
        / (F.col("_a").cast("double") * F.col("_a").cast("double")
           * F.col("_a").cast("double")),
    ).otherwise(F.lit(0.0))
    return withm.select(
        F.col("n").alias("n_vecs"),
        F.lit(int(k)).cast("int").alias("k"),
        "max_indeg",
        "n_orphans",
        g1sq.alias("g1_sq_signed_raw"),
    )


def fisher_separability(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Fisher class-separability ratio of the embedding cloud — the
    LDA-style "are the labels linearly separable in this representation"
    meter beside cka_quantization (representation damage) and
    embedding_drift (distribution shift): J = B/W with
    B = sum_j [ sum_c S1_cj^2/n_c - S1_j^2/n ]   (between-class scatter)
    W = sum_j [ S2_j - sum_c S1_cj^2/n_c ]       (within-class scatter)
    summed over lanes j and classes c. J >> 0 means a linear probe will
    find the classes; J ~ 0 means the embedding has collapsed them.

    Engine-exact spec: lanes quantize to micro ints (the pca_power
    contract); every per-class division is the exact trunc division
    t_cj = (S1_cj * S1_cj) div n_c on decimal(38,0)/hugeint, so B and W
    are order-free INTEGER sums of quantized terms (micro^2 units) and
    the only float is the final one-division release. NULL labels form
    their own class (eqNullSafe semantics via grouping on the raw
    column).

    Scale shape: one lane explode with map-side partial aggregation
    into (label, lane) cells — shuffle O(classes * d), never O(rows) —
    then one d-cell reduce and one global 1-row aggregate. Magnitude
    bound: S2_j <= n * 1e12, t_cj <= n_c * 1e12 — int64-safe past 1e6
    vectors, decimal(38,0) internally.
    """
    lanes = df.select(
        F.col(label_col).alias("_c"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("_j", "_x"),
    ).select(
        "_c", "_j",
        F.floor(F.col("_x") * F.lit(1e6) + F.lit(0.5)).cast("long").alias("_q"),
    )
    cells = lanes.groupBy("_c", "_j").agg(
        F.count(F.lit(1)).cast("long").alias("_nc"),
        F.sum(F.col("_q").cast("decimal(38,0)")).alias("_s1"),
        F.sum(F.col("_q").cast("decimal(38,0)") * F.col("_q")).alias("_s2"),
    )
    per_lane = cells.groupBy("_j").agg(
        F.sum("_nc").cast("long").alias("_n"),
        F.count(F.lit(1)).cast("long").alias("_k"),
        F.sum("_s1").alias("_s1g"),
        F.sum("_s2").alias("_s2g"),
        F.sum(F.expr("(_s1 * _s1) div _nc")).alias("_tsum"),
    )
    lane_terms = per_lane.select(
        "_n", "_k",
        (F.col("_tsum") - F.expr("(_s1g * _s1g) div _n")).alias("_b"),
        (F.col("_s2g") - F.col("_tsum")).alias("_w"),
    )
    g = lane_terms.agg(
        F.max("_n").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("d"),
        F.max("_k").cast("long").alias("n_classes"),
        F.sum("_b").alias("_bs"),
        F.sum("_w").alias("_ws"),
    )
    j = F.col("_bs").cast("double") / F.col("_ws").cast("double")
    return g.select(
        "n", "d", "n_classes",
        F.col("_bs").cast("long").alias("between_sum"),
        F.col("_ws").cast("long").alias("within_sum"),
        F.when(
            F.col("_ws") > 0, F.floor(j * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
        ).otherwise(F.lit(0.0)).alias("fisher_ratio"),
    )


def embedding_anisotropy(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Anisotropy of an embedding collection (Ethayarajh 2019's
    observation that contextual embeddings occupy a narrow cone):
    A = ‖Σᵢxᵢ‖² / (n·Σᵢ‖xᵢ‖²) ∈ [0, 1] — 0 when vectors cancel
    (isotropic around the origin), 1 when all vectors share one
    direction. THE one-number health check run before cosine-based
    retrieval: high anisotropy means raw cosine similarity is dominated
    by the common direction and the index needs centering — the
    diagnostic companion to embedding_audit (norms), ann_hubness
    (k-NN degree skew) and pca_power (the dominant direction itself).

    EXACT integer arithmetic on micro-quantized lanes q = floor(x·1e6
    + 0.5): per-lane sums S_j = Σq and square totals T_j = Σq² collapse
    in ONE map-side-combinable groupBy (d cells, never rows); the
    release a_ppm = (ΣS_j²·1e6) div (n·ΣT_j) is one trunc division of
    decimal(38,0)/hugeint integers — bit-identical on any engine, and
    the 1e12 quantization factors cancel exactly. NULL when every
    vector is zero.

    Returns one row: (n, dim, a_ppm: long).
    """
    lanes = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("i", "x"),
    ).select(
        "i",
        F.floor(F.col("x") * F.lit(1e6) + F.lit(0.5)).cast("long").alias("q"),
    )
    per_lane = lanes.groupBy("i").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("q").cast("decimal(38,0)").alias("s"),
        F.sum(F.col("q").cast("decimal(38,0)") * F.col("q"))
        .cast("decimal(38,0)")
        .alias("t"),
    )
    agg = per_lane.agg(
        F.max("cnt").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("dim"),
        F.sum(F.col("s") * F.col("s")).cast("decimal(38,0)").alias("num"),
        F.sum("t").cast("decimal(38,0)").alias("den"),
    )
    return agg.select(
        "n",
        "dim",
        F.when(
            F.col("den") > 0,
            F.expr("cast((num * 1000000) div (n * den) as bigint)"),
        ).alias("a_ppm"),
    )


def embedding_group_mmd(
    df: DataFrame, vec_col: str = "embedding", grp_col: str = "grp"
) -> DataFrame:
    """Linear-kernel MMD^2 between two groups of embeddings — the
    squared distance between group mean vectors, the cheapest exact
    two-sample test on a 100-TB embedding table (Gretton et al.'s MMD
    with k(x,y) = <x,y>, where MMD^2 collapses to |mu_a - mu_b|^2):
    "did the label-0 and label-1 populations drift apart in embedding
    space?" — the scalar companion to embedding_drift's per-centroid
    view.

    Exact path: micro-quantized lanes q = floor(x*1e6 + 0.5); per
    (dim, group) integer sums; per-dim quantized means via sign
    decomposition (Spark trunc-div and DuckDB floor-div agree on the
    nonnegative |s| div n); delta_d = m0_d - m1_d in micro units, and
    mmd2_micro = sum_d delta_d^2 div 1e6. Because the means are
    quantized BEFORE differencing, every released value is bigint-safe
    at any corpus size (|delta| <= 2e6 per dim).

    Scale shape: one posexplode, ONE groupBy(dim) with conditional
    partial-aggregable sums (shuffle O(dims), never O(rows)), then a
    dims-row global aggregate.

    Returns one row: (n_a, n_b, dims, mmd2_micro2_sum, mmd2_micro).
    """
    lanes = df.filter(F.col(vec_col).isNotNull()).select(
        (F.col(grp_col).cast("int") % 2).alias("g"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("d", "x"),
    ).select(
        "g", "d",
        F.floor(F.col("x") * F.lit(1e6) + F.lit(0.5)).cast("long").alias("q"),
    )
    dec = "decimal(38,0)"
    per = lanes.groupBy("d").agg(
        F.sum(F.when(F.col("g") == 0, F.col("q")).otherwise(0)).cast(dec).alias("s0"),
        F.sum(F.when(F.col("g") == 1, F.col("q")).otherwise(0)).cast(dec).alias("s1"),
        F.sum(F.when(F.col("g") == 0, 1).otherwise(0)).cast(dec).alias("n0"),
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).cast(dec).alias("n1"),
    ).filter((F.col("n0") > 0) & (F.col("n1") > 0))
    m0 = F.expr(
        "cast(case when s0 >= 0 then abs(s0) div n0"
        " else -(abs(s0) div n0) end as bigint)"
    )
    m1 = F.expr(
        "cast(case when s1 >= 0 then abs(s1) div n1"
        " else -(abs(s1) div n1) end as bigint)"
    )
    d = per.select(
        F.col("n0").cast("long").alias("n0"),
        F.col("n1").cast("long").alias("n1"),
        (m0 - m1).alias("delta"),
    )
    agg = d.agg(
        F.max("n0").alias("n_a"),
        F.max("n1").alias("n_b"),
        F.count(F.lit(1)).cast("long").alias("dims"),
        F.sum(F.col("delta").cast(dec) * F.col("delta")).cast(dec).alias("sq"),
    )
    return agg.select(
        "n_a", "n_b", "dims",
        F.col("sq").cast("long").alias("mmd2_micro2_sum"),
        F.expr("cast(sq div 1000000 as bigint)").alias("mmd2_micro"),
    )
