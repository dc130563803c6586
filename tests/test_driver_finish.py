"""The bounded driver finish (``guards.collect_at_most``) and its users.

* ``collect_at_most`` itself: rows up to the cap, None past it, caller's
  job description restored.
* Forced-branch parity: the routing user (``connected_components``:
  driver union-find below its cap, Pregel-style loop past it) gives
  bit-identical output on both branches, degenerate rows included.
* Degenerate input on the driver finishes: null endpoints are dropped, a
  zero-out-weight source still counts as a node, and an empty edge list
  gives no rows (one all-null row for the one-row modularity).
* Guards: the operators that always finish on the driver raise a
  ValueError naming themselves past their module-level cap.
* Vector corpora (GEMM index, DBSCAN sample) are sized column-free and
  never collected past their cap, whether they route or raise.
* libm boundary: the driver's floor(x·1e9 + 0.5) nano quantization of
  ln-terms equals DuckDB evaluating the oracle SQL on cells whose x·1e9
  sits at (or, where no such cell exists, nearest to) a .5 boundary.
"""

import math

import pytest
from pyspark.sql import functions as F

from feature_extractor_mbo_lob_spark import guards
from feature_extractor_mbo_lob_spark.functions import evalmetrics, graph, stats
from feature_extractor_mbo_lob_spark.operators import dedup, density, similarity

# ---------------------------------------------------------------------------
# collect_at_most
# ---------------------------------------------------------------------------


def test_collect_at_most_rows_up_to_cap_none_past(spark):
    df = spark.range(5)
    assert sorted(r.id for r in guards.collect_at_most(df, 5, "t")) == list(range(5))
    assert guards.collect_at_most(df, 4, "t") is None
    assert guards.collect_at_most(df.filter("id < 0"), 0, "t") == []
    assert guards.collect_at_most(df, 0, "t") is None
    assert sorted(guards.collect_at_most(df, 5, "t", to_pandas=True).id) == list(range(5))
    assert guards.collect_at_most(df, 4, "t", to_pandas=True) is None


def test_collect_at_most_restores_job_description(spark):
    from feature_extractor_mbo_lob_spark.batch import JobHandle

    sc = spark.sparkContext
    handle = JobHandle(spark, "driver-finish-test", "outer job")
    handle.activate()
    try:
        guards.collect_at_most(spark.range(3), 10, "probe")
        assert sc.getLocalProperty("spark.job.description") == "outer job"
        assert sc.getLocalProperty("spark.jobGroup.id") == "driver-finish-test"
    finally:
        handle.clear()
    sc.setJobDescription(None)
    guards.collect_at_most(spark.range(3), 10, "probe")
    assert sc.getLocalProperty("spark.job.description") is None


# ---------------------------------------------------------------------------
# degenerate input; forced-branch parity of connected_components
# ---------------------------------------------------------------------------

# a 3-cycle with a chord, a source whose whole out-weight is 0 (z), and one
# null endpoint on each side
_EDGES = [
    ("a", "b", 3), ("b", "c", 1), ("c", "a", 2), ("a", "c", 1),
    ("z", "a", 0), (None, "b", 5), ("c", None, 4),
]
_PAIR_WINS = [
    ("a", "b", 3), ("b", "a", 1), ("b", "c", 2), ("c", "a", 1),
    ("d", "a", 0), (None, "a", 7), ("b", None, 2),
]
_CC_PAIRS = [(1, 2), (2, 3), (5, 6), (9, 9), (None, 4), (7, None)]


def _pagerank(spark):
    df = spark.createDataFrame(_EDGES, "src string, dst string, w long")
    return graph.pagerank_int(df, iterations=3)


def _hits(spark):
    df = spark.createDataFrame(_EDGES, "src string, dst string, w long")
    return graph.hits_int(df, iterations=3)


def _bradley_terry(spark):
    df = spark.createDataFrame(_PAIR_WINS, "winner string, loser string, w long")
    return stats.bradley_terry(df, iterations=3)


def _components(spark):
    df = spark.createDataFrame(_CC_PAIRS, "id_a long, id_b long")
    return dedup.connected_components(df)


# the undirected graph finishes, on an (a, b, w) edge frame
_UNDIRECTED = {
    "kcore_peel": lambda e: graph.kcore_peel(e),
    "label_propagation": lambda e: graph.label_propagation(e),
    "bfs_hops": lambda e: graph.bfs_hops(e, weight_col="w"),
    "modularity": lambda e: graph.modularity(e, graph.label_propagation(e)),
}


def _undirected(name, rows):
    return lambda spark: _UNDIRECTED[name](
        spark.createDataFrame(rows, "a string, b string, w long")
    )


# driver finish -> (frame factory, output keys after dropping null rows)
_DRIVER_ONLY = {
    "pagerank_int": (_pagerank, {"a", "b", "c", "z"}),
    "hits_int": (_hits, {"a", "b", "c", "z"}),
    "bradley_terry": (_bradley_terry, {"a", "b", "c", "d"}),
    "kcore_peel": (_undirected("kcore_peel", _EDGES), {"a", "b", "c", "z"}),
    "label_propagation": (
        _undirected("label_propagation", _EDGES), {"a", "b", "c", "z"}
    ),
    # the null node would tie b at weighted degree 9 and seed the search
    "bfs_hops": (_undirected("bfs_hops", _EDGES), {"a", "b", "c", "z"}),
    # m2 = 2 * (3 + 1 + 2 + 1 + 0): the null-endpoint weights are not counted
    "modularity": (_undirected("modularity", _EDGES), {14}),
}
_ROUTED = {
    "connected_components": (_components, dedup, "MAX_DRIVER_PAIRS", {1, 2, 3, 5, 6, 9}),
}


@pytest.mark.parametrize("name", sorted(_DRIVER_ONLY))
def test_driver_finish_degenerate_keys(spark, name):
    build, keys = _DRIVER_ONLY[name]
    # null endpoints are dropped; a zero-weight source still counts as a node
    assert {r[0] for r in build(spark).collect()} == keys


def test_kcore_peel_degrees_ignore_null_endpoints(spark):
    rows = _undirected("kcore_peel", _EDGES)(spark).collect()
    # a-b, b-c, c-a, a-c, z-a: multi-edges count once per occurrence
    assert {r.node: r.deg0 for r in rows} == {"a": 4, "b": 2, "c": 3, "z": 1}


@pytest.mark.parametrize("name", ["bfs_hops", "label_propagation", "modularity"])
def test_graph_finish_null_weight_adds_nothing(spark, name):
    null_w = _undirected(name, _EDGES + [("b", "z", None)])(spark).collect()
    assert null_w == _undirected(name, _EDGES + [("b", "z", 0)])(spark).collect()


@pytest.mark.parametrize(
    "name, rows",
    [
        ("bfs_hops", []),
        ("kcore_peel", []),
        ("label_propagation", []),
        ("modularity", []),
    ],
)
def test_graph_finish_empty_edge_list(spark, name, rows):
    assert [tuple(r) for r in _undirected(name, [])(spark).collect()] == rows


def test_modularity_query_empty_graph_matches_oracle(spark, tmp_path):
    """No word pair reaches min_count: the query and its DuckDB oracle both
    return no row."""
    import duckdb

    from feature_extractor_mbo_lob_spark.plans.driver_queries import ORACLES, QUERIES

    docs = tmp_path / "documents.parquet"
    spark.createDataFrame(
        [(1, "a b"), (2, "c d e"), (3, "b a f")], "doc_id long, text string"
    ).write.parquet(str(docs))
    got = [tuple(r) for r in QUERIES["modularity"](spark, str(tmp_path)).collect()]
    con = duckdb.connect()
    con.execute(f"create view documents as select * from read_parquet('{docs}/*.parquet')")
    want = con.execute(ORACLES["modularity"]).fetchall()
    con.close()
    assert got == want == []


@pytest.mark.parametrize("name", sorted(_ROUTED))
def test_routed_branches_bit_identical(spark, monkeypatch, name):
    """Default cap (driver finish) vs cap = 0 (distributed route)."""
    build, module, cap, keys = _ROUTED[name]
    driver = build(spark)
    rows = sorted(map(tuple, driver.collect()))
    monkeypatch.setattr(module, cap, 0)
    forced = build(spark)
    assert forced.dtypes == driver.dtypes
    assert rows == sorted(map(tuple, forced.collect()))
    # null endpoints are dropped
    assert {r[0] for r in rows} == keys


# ---------------------------------------------------------------------------
# guards on the always-driver finishes
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "module, cap, fn",
    [
        (graph, "MAX_DRIVER_EDGES", "pagerank_int"),
        (graph, "MAX_DRIVER_EDGES", "hits_int"),
        (graph, "MAX_DRIVER_EDGES", "markov_stationary"),
        (graph, "MAX_DRIVER_EDGES", "markov_entropy_rate"),
        (graph, "MAX_DRIVER_EDGES", "kcore_peel"),
        (graph, "MAX_DRIVER_EDGES", "label_propagation"),
        (graph, "MAX_DRIVER_EDGES", "bfs_hops"),
        (graph, "MAX_DRIVER_EDGES", "modularity"),
        (stats, "MAX_BT_PAIRS", "bradley_terry"),
        (evalmetrics, "MAX_CONTINGENCY_CELLS", "v_measure"),
        (evalmetrics, "MAX_CONTINGENCY_CELLS", "adjusted_rand_index"),
    ],
)
def test_driver_finish_raises_past_cap(spark, monkeypatch, module, cap, fn):
    kw = {}
    if module is evalmetrics:
        df = spark.createDataFrame([(0, "x"), (1, "y")], "k int, c string")
        args = (df, "k", "c")
    else:
        df = spark.createDataFrame(
            [("a", "b", 1), ("b", "a", 1)], "src string, dst string, w long"
        )
        # bradley_terry reads its (winner, loser) pairs from src, dst
        args = (df,) if module is graph else (df, "src", "dst")
        if fn in _UNDIRECTED:  # these read their endpoints from a_col, b_col
            kw = {"a_col": "src", "b_col": "dst"}
        if fn == "modularity":
            labels = spark.createDataFrame(
                [("a", "a"), ("b", "a")], "node string, community string"
            )
            args = (df, labels)
    getattr(module, fn)(*args, **kw).collect()  # within the default cap
    monkeypatch.setattr(module, cap, 0)
    with pytest.raises(ValueError, match=fn):
        getattr(module, fn)(*args, **kw)


# ---------------------------------------------------------------------------
# vector corpora: sized column-free, never collected past the cap
# ---------------------------------------------------------------------------


def test_vector_corpus_not_collected_past_cap(spark, monkeypatch):
    vecs = spark.createDataFrame(
        [(i, [1.0, float(i), 0.5]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    sample = vecs.select(F.col("vec_id").alias("id"), F.col("embedding").alias("v"))
    calls = []

    def spy(df, cap, what, **kw):
        calls.append(what)
        return guards.collect_at_most(df, cap, what, **kw)

    monkeypatch.setattr(similarity, "collect_at_most", spy)
    monkeypatch.setattr(density, "collect_at_most", spy)
    similarity.brute_force_topk(vecs, k=2, max_broadcast_rows=3).collect()
    similarity.near_dup_pairs(vecs, threshold=0.9, max_broadcast_rows=3).collect()
    for fn in (similarity.brute_force_topk, similarity.near_dup_pairs):
        with pytest.raises(ValueError, match="max_broadcast_rows=3"):
            fn(vecs, max_broadcast_rows=3, on_oversize="raise")
    with pytest.raises(ValueError, match="max_broadcast_rows=3"):
        density.exact_eps_pairs(sample, 10**5, max_broadcast_rows=3)
    assert calls == []
    # within the cap the same entrypoints do collect through the spy
    similarity.brute_force_topk(vecs, k=2, max_broadcast_rows=6).collect()
    density.exact_eps_pairs(sample, 10**5, max_broadcast_rows=6).collect()
    assert calls == ["brute_force_topk", "exact_eps_pairs"]


# ---------------------------------------------------------------------------
# libm boundary: driver nano quantization == DuckDB on the oracle SQL
# ---------------------------------------------------------------------------

# (n, n_k, N) with x = (n/N)·ln(n/n_k)·1e9 at most one ulp from a .5
# boundary (0 = exactly on it), found by exhaustive search over N < 1200
_VM_BOUNDARY = [(163, 336, 395), (53, 456, 484), (105, 283, 516), (160, 244, 531)]

# ppm transition probabilities p whose ln(p/1e6)·1e9 is nearest a .5
# boundary among all p in [1, 1e6) (4-6 ulps; none is within one)
_MARKOV_BOUNDARY = [208835, 362135, 7921, 869964]


def _off_half_ulps(x: float) -> float:
    return abs(x - (math.floor(x) + 0.5)) / math.ulp(x)


def _duckdb(sql: str):
    duckdb = pytest.importorskip("duckdb")
    con = duckdb.connect()
    try:
        return con.execute(sql).fetchall()
    finally:
        con.close()


@pytest.mark.parametrize("n, n_k, nn", _VM_BOUNDARY)
def test_v_measure_quantization_matches_duckdb_at_half_boundary(spark, n, n_k, nn):
    from feature_extractor_mbo_lob_spark.plans.driver_queries import O_V_MEASURE

    assert _off_half_ulps((n / nn) * math.log(n / n_k) * 1e9) <= 1
    # cluster 0 = n rows of label 0 + (n_k - n) of label 1; cluster 1 = rest
    cells = [(0, 0, n), (0, 1, n_k - n), (1, 2, nn - n_k)]
    df = spark.range(nn).select(
        F.when(F.col("id") < n_k, 0).otherwise(1).alias("k"),
        F.when(F.col("id") < n, 0).when(F.col("id") < n_k, 1).otherwise(2).alias("c"),
    )
    got = evalmetrics.v_measure(df, "k", "c").collect()[0]
    values = ", ".join(f"({k}, {c}, {m})" for k, c, m in cells)
    sql = (
        "with cells as (select k, c, cast(n as bigint) as n\n"
        f"  from (values {values}) t(k, c, n)),\n"
        + O_V_MEASURE[O_V_MEASURE.index("kmarg as (") :]
    )
    want = _duckdb(sql)[0]
    assert (got.n, got.hl_nanos, got.hc_nanos, got.hlk_nanos, got.hkl_nanos) == want[:5]


def test_markov_entropy_quantization_matches_duckdb_on_every_ppm():
    """Every ppm cell the driver can quantize: the driver expression of
    graph.markov_entropy_rate against DuckDB's oracle expression."""
    py = [math.floor(math.log(p / 1e6) * 1e9 + 0.5) for p in range(1, 1_000_000)]
    db = _duckdb(
        "select cast(floor(ln(cast(p as double) / 1000000.0) * 1000000000.0 + 0.5)"
        " as bigint) from range(1, 1000000) t(p) order by p"
    )
    assert py == [r[0] for r in db]
    assert all(_off_half_ulps(math.log(p / 1e6) * 1e9) <= 6 for p in _MARKOV_BOUNDARY)


def test_markov_entropy_rate_matches_duckdb_oracle_at_boundary(spark):
    from feature_extractor_mbo_lob_spark.plans.driver_queries import O_ENTROPY_RATE

    # every source's out-count is 1e6, so p_ppm is exactly the count
    a, b, c, d = _MARKOV_BOUNDARY
    edges = [
        ("a", "b", a), ("a", "c", 10**6 - a),
        ("b", "c", b), ("b", "d", 10**6 - b),
        ("c", "d", c), ("c", "a", 10**6 - c),
        ("d", "a", d), ("d", "b", 10**6 - d),
    ]
    df = spark.createDataFrame(edges, "src string, dst string, w long")
    got = tuple(graph.markov_entropy_rate(df, iterations=4).collect()[0])
    values = ", ".join(f"('{s}', '{t}', {w})" for s, t, w in edges)
    sql = (
        "with e as (select src, dst, cast(c as bigint) as c\n"
        f"  from (values {values}) t(src, dst, c)),\n"
        + O_ENTROPY_RATE[O_ENTROPY_RATE.index("outs as (") :]
    )
    assert got == tuple(_duckdb(sql)[0])
