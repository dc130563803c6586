"""Triangle counting / clustering coefficient on hand-built graphs."""

from feature_extractor_mbo_lob_spark.functions import graph


def _stats(spark, edges):
    df = spark.createDataFrame(edges, "a string, b string")
    return {r.node: r for r in graph.triangle_stats(df).collect()}


def test_triangle_k3(spark):
    out = _stats(spark, [("a", "b"), ("a", "c"), ("b", "c")])
    for n in "abc":
        assert out[n].degree == 2
        assert out[n].triangles == 1
        assert out[n].clustering == 1.0


def test_triangle_k4_minus_edge(spark):
    # K4 without (c,d): triangles abc and abd; c,d have degree 2, cc=1;
    # a,b have degree 3, 2 triangles each, cc = 2*2/(3*2) = 0.666667
    edges = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d")]
    out = _stats(spark, edges)
    assert out["a"].triangles == 2 and out["b"].triangles == 2
    assert out["c"].triangles == 1 and out["d"].triangles == 1
    assert out["a"].clustering == 0.666667
    assert out["c"].clustering == 1.0


def test_triangle_free_path(spark):
    out = _stats(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    assert all(r.triangles == 0 for r in out.values())
    assert out["a"].clustering == 0.0  # degree 1
    assert out["b"].clustering == 0.0  # degree 2, no triangle


def test_unordered_and_duplicate_edges_ignored(spark):
    # (b,a) violates canonical order -> dropped; dup (a,b) deduped
    out = _stats(spark, [("a", "b"), ("a", "b"), ("b", "a"), ("a", "c"), ("b", "c")])
    assert out["a"].degree == 2 and out["a"].triangles == 1


def _transcripts(spark, rows):
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    data = [
        (c, i, "user", txt, None, t0 + datetime.timedelta(seconds=i))
        for (c, i, txt) in rows
    ]
    return spark.createDataFrame(
        data, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )


def test_textrank_turns_centrality_order(spark):
    # star graph inside one conv: turn 0 shares a word with every other
    # turn; the satellites share nothing with each other -> turn 0 is
    # the most central turn
    t = _transcripts(spark, [
        ("c1", 0, "hub one two three"),
        ("c1", 1, "one apple"),
        ("c1", 2, "two banana"),
        ("c1", 3, "three cherry"),
    ])
    out = {r.turn_idx: r for r in graph.textrank_turns(t, iterations=2).collect()}
    assert out[0].pos == 1
    assert out[0].rank_micro > max(out[i].rank_micro for i in (1, 2, 3))
    # satellites are symmetric -> equal ranks, pos ties broken by turn_idx
    assert out[1].rank_micro == out[2].rank_micro == out[3].rank_micro
    assert [out[i].pos for i in (1, 2, 3)] == [2, 3, 4]


def test_textrank_isolated_turns_absent(spark):
    t = _transcripts(spark, [
        ("c1", 0, "alpha beta"),
        ("c1", 1, "alpha gamma"),
        ("c1", 2, "zzz"),
    ])
    out = graph.textrank_turns(t).collect()
    assert sorted(r.turn_idx for r in out) == [0, 1]


def _hits_naive(edges, iterations=3, scale=1_000_000):
    # exact integer replica of graph.hits_int: floor-div L1 normalization
    nodes = sorted({u for u, _, _ in edges} | {v for _, v, _ in edges})
    n = len(nodes)
    h = {v: scale // n for v in nodes}
    a = {v: scale // n for v in nodes}
    for _ in range(iterations):
        raw = {v: 0 for v in nodes}
        for u, v, w in edges:
            raw[v] += w * h[u]
        tot = max(sum(raw.values()), 1)
        a = {v: raw[v] * scale // tot for v in nodes}
        raw = {v: 0 for v in nodes}
        for u, v, w in edges:
            raw[u] += w * a[v]
        tot = max(sum(raw.values()), 1)
        h = {v: raw[v] * scale // tot for v in nodes}
    return h, a


def test_hits_int_matches_integer_naive(spark):
    edges = [
        ("h1", "a1", 1), ("h1", "a2", 2), ("h1", "a3", 1),
        ("h2", "a1", 3), ("a1", "a2", 1),
    ]
    df = spark.createDataFrame(edges, "src string, dst string, w long")
    out = {r.node: (r.hub_micro, r.auth_micro)
           for r in graph.hits_int(df, iterations=3).collect()}
    h, a = _hits_naive(edges)
    assert out == {v: (h[v], a[v]) for v in h}
    # h2 carries the heaviest edge into the strongest authority (a1);
    # a2/a3 have no out-edges -> hub 0
    assert out["h2"][0] == max(v[0] for v in out.values())
    assert out["a1"][1] == max(v[1] for v in out.values())
    assert out["a2"][0] == 0 and out["a3"][0] == 0
    # L1 mass bounded by scale on both sides of the floor division
    assert sum(v[0] for v in out.values()) <= 1_000_000
    assert sum(v[1] for v in out.values()) <= 1_000_000


def test_hits_int_empty_graph(spark):
    df = spark.createDataFrame([], "src string, dst string, w long")
    assert graph.hits_int(df).collect() == []


def test_hits_int_huge_weights_no_int64_wrap(spark):
    """ADVICE r3: raw hub/authority mass must be summed in decimal(38,0) —
    with edge weights ~1e13 and scores up to 1e6 the int64 sum wraps
    (non-ANSI) and silently diverges from the arbitrary-precision naive."""
    edges = [
        ("h1", "a1", 10**13), ("h2", "a1", 10**13), ("h3", "a1", 10**13),
        ("h1", "a2", 7), ("a2", "a3", 1),
    ]
    df = spark.createDataFrame(edges, "src string, dst string, w long")
    out = {r.node: (r.hub_micro, r.auth_micro)
           for r in graph.hits_int(df, iterations=2).collect()}
    h, a = _hits_naive(edges, iterations=2)
    assert out == {v: (h[v], a[v]) for v in h}
    assert all(v[0] >= 0 and v[1] >= 0 for v in out.values())


def test_link_prediction_hand_case(spark):
    from feature_extractor_mbo_lob_spark.functions.graph import link_prediction_scores

    # ctx c1 has tools {a, b, c} (deg 3); c2 has {a, b} (deg 2);
    # c3 has {a} (deg 1, dropped); duplicate rows must not double-count.
    rows = [
        ("c1", "a"), ("c1", "b"), ("c1", "c"), ("c1", "a"),
        ("c2", "a"), ("c2", "b"),
        ("c3", "a"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, tool string")
    out = {
        (r["node_a"], r["node_b"]): r
        for r in link_prediction_scores(
            df, node_col="tool", ctx_col="conv_id", scale=10**6
        ).collect()
    }
    assert set(out) == {("a", "b"), ("a", "c"), ("b", "c")}
    ab = out[("a", "b")]
    assert ab["common_ctx"] == 2
    assert ab["ra_fp"] == 10**6 // 3 + 10**6 // 2  # one deg-3 + one deg-2 ctx
    assert out[("a", "c")]["ra_fp"] == 10**6 // 3
    assert out[("b", "c")]["common_ctx"] == 1


def test_link_prediction_degree_cap(spark):
    from feature_extractor_mbo_lob_spark.functions.graph import link_prediction_scores

    # a hub context with 5 tools is dropped entirely at cap 4
    rows = [("hub", f"t{i}") for i in range(5)] + [("c", "t0"), ("c", "t1")]
    df = spark.createDataFrame(rows, "conv_id string, tool string")
    out = link_prediction_scores(
        df, node_col="tool", ctx_col="conv_id", max_ctx_degree=4
    ).collect()
    assert len(out) == 1
    assert (out[0]["node_a"], out[0]["node_b"]) == ("t0", "t1")
    assert out[0]["ra_fp"] == 10**6 // 2


# --- k-core peel ---------------------------------------------------------------------


def _kcore_edges(spark, pairs):
    return spark.createDataFrame(pairs, "a string, b string")


def test_kcore_peel_triangle_with_pendant(spark):
    from feature_extractor_mbo_lob_spark.functions.graph import kcore_peel

    e = _kcore_edges(spark, [("a", "b"), ("b", "c"), ("a", "c"), ("a", "d")])
    out = {r.node: r for r in kcore_peel(e, k=2, rounds=3).collect()}
    assert out["a"].deg0 == 3 and out["d"].deg0 == 1
    assert out["d"].peel_round == 1
    assert all(out[n].peel_round == 0 for n in ("a", "b", "c"))


def test_kcore_peel_cascade(spark):
    from feature_extractor_mbo_lob_spark.functions.graph import kcore_peel

    # k=3: b, c, d fall in round 1; a (degree then 0) falls in round 2
    e = _kcore_edges(spark, [("a", "b"), ("b", "c"), ("a", "c"), ("a", "d")])
    out = {r.node: r.peel_round for r in kcore_peel(e, k=3, rounds=3).collect()}
    assert out == {"a": 2, "b": 1, "c": 1, "d": 1}


def test_label_propagation_two_cliques(spark):
    # two triangles joined by one weak bridge: each triangle converges to
    # its own min-label community
    edges = [
        ("a", "b", 5), ("a", "c", 5), ("b", "c", 5),
        ("x", "y", 5), ("x", "z", 5), ("y", "z", 5),
        ("c", "x", 1),
    ]
    df = spark.createDataFrame(edges, "a string, b string, w long")
    out = {r.node: r.community for r in graph.label_propagation(df, rounds=3).collect()}
    assert out["a"] == out["b"] == out["c"]
    assert out["x"] == out["y"] == out["z"]
    assert out["a"] != out["x"]


def test_label_propagation_tie_breaks_min_label(spark):
    # single round, node m sees labels 'a' and 'z' with equal weight ->
    # adopts the lexicographically smaller 'a'
    df = spark.createDataFrame(
        [("a", "m", 2), ("m", "z", 2)], "a string, b string, w long"
    )
    out = {r.node: r.community for r in graph.label_propagation(df, rounds=1).collect()}
    assert out["m"] == "a"
    # endpoints adopt their only neighbor's label
    assert out["a"] == "m" and out["z"] == "m"


def test_label_propagation_weight_beats_count(spark):
    # m has two light edges into the 'x' side but one heavy edge to 'a'
    df = spark.createDataFrame(
        [("m", "x", 1), ("m", "y", 1), ("m", "a", 3),
         ("x", "y", 9)],
        "a string, b string, w long",
    )
    out = {r.node: r.community for r in graph.label_propagation(df, rounds=1).collect()}
    assert out["m"] == "a"


def test_assortativity_star_is_minus_one(spark):
    # star K_{1,3}: every edge joins deg-3 hub to deg-1 leaf -> r = -1
    df = spark.createDataFrame(
        [("c", "a"), ("c", "b"), ("c", "d")], "a string, b string"
    )
    r = graph.degree_assortativity(df).collect()[0]
    assert r.m2 == 6
    assert r.r2_signed_raw == -1.0


def test_assortativity_regular_graph_is_zero_guard(spark):
    # 4-cycle: every degree is 2, variance 0 -> guarded 0.0 release
    df = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("a", "d")], "a string, b string"
    )
    r = graph.degree_assortativity(df).collect()[0]
    assert r.r2_signed_raw == 0.0


def _naive_modularity_micro(edges, assign):
    # exact integer reference: trunc((1e6 * sum_c(in_c*M - deg_c^2)) / M^2)
    M = 2 * sum(w for _, _, w in edges)
    comms = set(assign.values())
    num = 0
    for c in comms:
        deg_c = sum(
            w for a, b, w in edges for n in (a, b) if assign[n] == c
        )
        in_c = 2 * sum(w for a, b, w in edges if assign[a] == c and assign[b] == c)
        num += in_c * M - deg_c * deg_c
    q = (1_000_000 * num) / (M * M)
    return int(q)  # trunc toward zero


def test_modularity_two_triangles(spark):
    # two unit-weight triangles + bridge, LPA communities = the triangles:
    # Q = 2*(6/14 - (7/14)^2) = 5/14 -> 357142 micro
    edges = [
        ("a", "b", 1), ("a", "c", 1), ("b", "c", 1),
        ("x", "y", 1), ("x", "z", 1), ("y", "z", 1),
        ("c", "x", 1),
    ]
    df = spark.createDataFrame(edges, "a string, b string, w long")
    labs = graph.label_propagation(df, rounds=3)
    r = graph.modularity(df, labs).collect()[0]
    assert (r.m2, r.n_communities, r.in_total, r.q_micro) == (14, 2, 12, 357142)


def test_modularity_adversarial_assignment_matches_naive(spark):
    # an assignment that cuts both triangles scores below the LPA one,
    # and the signed trunc-div release matches the naive integer form
    edges = [
        ("a", "b", 1), ("a", "c", 1), ("b", "c", 1),
        ("x", "y", 1), ("x", "z", 1), ("y", "z", 1),
        ("c", "x", 1),
    ]
    assign = {"a": "p", "x": "p", "b": "q", "y": "q", "c": "r", "z": "r"}
    df = spark.createDataFrame(edges, "a string, b string, w long")
    labs = spark.createDataFrame(
        list(assign.items()), "node string, community string"
    )
    r = graph.modularity(df, labs).collect()[0]
    expect = _naive_modularity_micro(edges, assign)
    assert r.q_micro == expect
    assert r.q_micro < 0  # worse than chance: all triangle edges cut


def test_bfs_hops_layers_seed_and_unreachable(spark):
    from feature_extractor_mbo_lob_spark.functions.graph import bfs_hops

    # weighted degree: b = 10+1 = 11 (seed); e/f disconnected
    edges = spark.createDataFrame(
        [("a", "b", 10), ("b", "c", 1), ("c", "d", 1), ("e", "f", 1)],
        "a string, b string, w long",
    )
    got = {r.node: r.dist for r in
           bfs_hops(edges, weight_col="w", max_depth=4).collect()}
    assert got == {"b": 0, "a": 1, "c": 1, "d": 2}

    # depth truncation: path graph, seed at max-degree middle node
    path = spark.createDataFrame(
        [("n1", "n2"), ("n2", "n3"), ("n3", "n4"), ("n4", "n5"), ("n5", "n6")],
        "a string, b string",
    )
    # unweighted degrees: n2..n5 = 2 (tie -> n2), n1/n6 = 1
    got2 = {r.node: r.dist for r in bfs_hops(path, max_depth=2).collect()}
    assert got2 == {"n2": 0, "n1": 1, "n3": 1, "n4": 2}


def test_rich_club_clique_plus_leaf(spark):
    from feature_extractor_mbo_lob_spark.functions.graph import rich_club

    # K4 on {a,b,c,d} plus leaf e attached to a: deg a=4, b=c=d=3, e=1
    edges = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
             ("c", "d"), ("a", "e")]
    df = spark.createDataFrame(edges, "a string, b string")
    rows = {r.k: r for r in rich_club(df).collect()}
    assert set(rows) == {1, 2, 4, 8}
    # k=1 and k=2: the club is the K4 -> fully wired, phi = 1e6 exactly
    for k in (1, 2):
        assert rows[k].n_nodes == 4 and rows[k].n_edges == 6
        assert rows[k].phi_ppm == 10 ** 6
    # k=4: nobody clears deg > 4 -> phi NULL
    assert rows[4].n_nodes == 0 and rows[4].n_edges == 0
    assert rows[4].phi_ppm is None and rows[8].phi_ppm is None

    # half-wired club: path a-b-c-d plus pendant edges to give mid nodes
    # degree 3 (b: a,c,x; c: b,d,y) -> club at k=2 is {b,c}, 1 of 1 edge
    edges2 = [("a", "b"), ("b", "c"), ("c", "d"), ("b", "x"), ("c", "y")]
    df2 = spark.createDataFrame(edges2, "a string, b string")
    rows2 = {r.k: r for r in rich_club(df2).collect()}
    assert rows2[2].n_nodes == 2 and rows2[2].n_edges == 1
    assert rows2[2].phi_ppm == 10 ** 6
    # k=1: club {a?,b,c,d?}: degrees a=1,d=1,x=1,y=1 -> club {b,c}, same
    assert rows2[1].n_nodes == 2 and rows2[1].n_edges == 1


# --- driver finishes vs the DuckDB oracles on random graphs with structure --------


def _random_graph(seed):
    """6-25 nodes in 1-3 dense groups with sparse bridges; integer weights
    in {3, 4, 5}, so weight sums and weighted degrees tie often."""
    import random

    rng = random.Random(seed)
    n = rng.randint(6, 25)
    groups = rng.randint(1, 3)
    names = [f"w{i:02d}" for i in range(n)]
    edges = []
    for i in range(n):
        for j in range(i + 1, n):
            p = 0.5 if i % groups == j % groups else 0.06
            if rng.random() < p:
                edges.append((names[i], names[j], rng.choice((3, 3, 4, 5))))
    return rng, edges


def _duckdb_rows(sql, **tables):
    import pandas as pd
    import pytest

    duckdb = pytest.importorskip("duckdb")
    con = duckdb.connect()
    try:
        for name, rows in tables.items():
            con.register(name, pd.DataFrame(rows[1], columns=rows[0]))
        return sorted(con.execute(sql).fetchall())
    finally:
        con.close()


def test_graph_finishes_match_duckdb_oracles_on_random_graphs(spark):
    """Each edge (x, y, w) is w documents "x y" (or "y x"), so the Spark
    query path word_adjacency_edges(min_count=3) -> function and the
    registry oracles read the same graph from the same documents."""
    from feature_extractor_mbo_lob_spark.plans.driver_queries import (
        O_BFS_HOPS,
        O_MODULARITY,
        _kcore_oracle,
        _lpa_oracle,
    )

    bfs_tail = "with recursive e as (select a as ta, b as tb, w from edges),\n"
    bfs_tail += O_BFS_HOPS[O_BFS_HOPS.index("und as ("):]
    max_communities = max_peel = 0
    for seed in range(10):
        rng, pairs = _random_graph(seed)
        assert pairs
        texts = [
            f"{x} {y}" if rng.random() < 0.5 else f"{y}  {x}"
            for x, y, w in pairs for _ in range(w)
        ]
        docs = spark.createDataFrame([(t,) for t in texts], "text string")
        edges = graph.word_adjacency_edges(docs, min_count=3).localCheckpoint()
        documents = (("text",), [(t,) for t in texts])
        got = lambda df: sorted(tuple(r) for r in df.collect())

        kcore = got(graph.kcore_peel(edges, k=3, rounds=3))
        assert kcore == _duckdb_rows(_kcore_oracle(), documents=documents), seed
        labels = graph.label_propagation(edges, rounds=3)
        lpa = got(labels)
        assert lpa == _duckdb_rows(_lpa_oracle(), documents=documents), seed
        mod = got(graph.modularity(edges, labels))
        assert mod == _duckdb_rows(O_MODULARITY, documents=documents), seed
        bfs = got(graph.bfs_hops(edges, weight_col="w", max_depth=4))
        assert bfs == _duckdb_rows(bfs_tail, edges=(("a", "b", "w"), pairs)), seed

        max_communities = max(max_communities, mod[0][1])
        max_peel = max(max_peel, max(r[2] for r in kcore))
    # the graphs exercise the tie-breaks and the peel order, not one community
    assert max_communities >= 2
    assert max_peel >= 2
