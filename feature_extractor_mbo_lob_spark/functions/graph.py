"""Corpus link-graph analytics: transition-graph construction + PageRank.

A web-scale curation pipeline ranks sources/domains by link structure
(quality weighting, crawl prioritization, spam demotion). The synthetic
corpus carries no hyperlinks, so the graph here is the word-bucket
transition digraph — consecutive-token transitions hashed into a fixed
set of bucket nodes: an edge-list aggregation (groupBy with map-side
combine, O(buckets^2) result regardless of corpus size) followed by
fixed rank-propagation rounds.

PageRank is computed in INTEGER micro-units end to end: ranks are int64
(sum ~ `scale`), every division is floor integer division, damping is
the rational 17/20. Cross-engine floats killed round 2's one red row
(lifecycle_pit); integer arithmetic is bit-exact by construction on any
engine, so the DuckDB oracle unrolls the same iterations and matches
hash-for-hash. Mass lost to floor() and to dangling nodes is part of
the deterministic spec, not an approximation bug.

Scale shape (100 TB): the edge list never leaves O(buckets^2) rows after
the first aggregation, so the rounds finish on the driver in exact
Python integers after one bounded collect (``_collect_edges``, cap
``MAX_DRIVER_EDGES``, ValueError past it) — no per-document work after
edge extraction. The same finish serves every fixed-round graph
iteration here: pagerank_int, hits_int, the Markov chain, k-core peel,
label propagation, modularity and BFS hop layers each collect their
edge list once, iterate in Python integers and return one local
relation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..guards import collect_at_most
from ..operators.dedup import normalize_text

# Edge lists the graph finishes collect to the driver (pagerank_int,
# hits_int, the Markov chain, kcore_peel, label_propagation, modularity,
# bfs_hops); every caller passes an aggregated bucket, role, tool or
# pruned word-adjacency graph, O(nodes²) rows by construction.
MAX_DRIVER_EDGES = 200_000


def _collect_edges(edges: DataFrame, what: str) -> list:
    """All rows of a small edge list (``guards.collect_at_most``), or a
    ValueError naming ``what`` past ``MAX_DRIVER_EDGES``."""
    rows = collect_at_most(edges, MAX_DRIVER_EDGES, what)
    if rows is None:
        raise ValueError(
            f"{what}: more than MAX_DRIVER_EDGES={MAX_DRIVER_EDGES} edges; "
            "the graph finishes on the driver, so coarsen the nodes before "
            "calling."
        )
    return rows


def _collect_pairs(
    edges: DataFrame, a_col: str, b_col: str, w_col: str | None, what: str
):
    """(node type, [(a, b, w)]) of an edge list: rows with a null endpoint
    dropped, then ``_collect_edges``; ``w`` is the long-cast ``w_col`` (a
    null weight adds nothing, as in a SQL sum: 0), or 1 when ``w_col`` is
    None."""
    w = F.coalesce(F.col(w_col).cast("long"), F.lit(0)) if w_col else F.lit(1)
    rows = _collect_edges(
        edges.filter(F.col(a_col).isNotNull() & F.col(b_col).isNotNull())
        .select(F.col(a_col).alias("a"), F.col(b_col).alias("b"), w.alias("w")),
        what,
    )
    node_type = edges.select(a_col).schema[0].dataType.simpleString()
    return node_type, [(r["a"], r["b"], r["w"]) for r in rows]


def _bucket(c: F.Column, buckets: int) -> F.Column:
    # repo-standard md5 bucket (corpus.md5_bucket), column-object form
    return (
        F.conv(F.substring(F.md5(c.cast("string")), 1, 7), 16, 10).cast("long")
        % buckets
    )


def word_transition_edges(
    df: DataFrame,
    text_col: str = "text",
    buckets: int = 16,
) -> DataFrame:
    """Weighted edge list of consecutive-word bucket transitions.

    Tokenizes the normalized text, maps each word to a bucket node
    ``wb<k>`` via the repo-standard md5 bucket (first 7 hex chars mod
    ``buckets``), and counts ordered pairs (bucket of word i -> bucket
    of word i+1) across the whole corpus. Pure JVM: split + transform
    (per-word bucket) + slice + arrays_zip + explode, then one
    partial-aggregable groupBy whose result is at most buckets^2 rows.
    The bucket hash is applied to the word ARRAY once before pairing —
    each occurrence is hashed once, not twice (as pair-left and
    pair-right), and the zip/slice/explode then move longs instead of
    strings. Self-loops are kept — they are real transitions and the
    rank iteration handles them naturally.

    Returns ``DataFrame[src: string, dst: string, w: long]``.
    """
    base = df.select(
        F.transform(
            F.split(normalize_text(text_col), " "),
            lambda w: _bucket(w, buckets),
        ).alias("_b")
    )
    k = F.greatest(F.size(F.col("_b")) - 1, F.lit(0))
    pairs = F.arrays_zip(
        F.slice(F.col("_b"), 1, k).alias("a"),
        F.slice(F.col("_b"), 2, k).alias("b"),
    )
    out = (
        base.select(F.explode(pairs).alias("p"))
        .select(
            F.col("p.a").alias("_sb"),
            F.col("p.b").alias("_db"),
        )
        .groupBy("_sb", "_db")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
        .select(
            F.format_string("wb%02d", F.col("_sb").cast("int")).alias("src"),
            F.format_string("wb%02d", F.col("_db").cast("int")).alias("dst"),
            "w",
        )
    )
    return out


def pagerank_int(
    edges: DataFrame,
    iterations: int = 3,
    scale: int = 1_000_000,
    damping_num: int = 17,
    damping_den: int = 20,
) -> DataFrame:
    """Weighted PageRank over an edge list, integer micro-unit arithmetic.

    r_0(v) = scale DIV N for the N distinct nodes; each round
    r_{t+1}(v) = (scale * (den-num)) DIV (den * N)
                 + (num * sum_{u->v} ((r_t(u) * w(u,v)) DIV W(u))) DIV den
    with W(u) the total out-weight of u. Every op is integer floor
    division on non-negative operands (Python ``//`` == DuckDB ``//``),
    so results are engine-exact. Dangling-node mass is dropped
    (documented spec). Degenerate input: edges with a null endpoint are
    dropped; a source whose total out-weight is 0 contributes 0 (DuckDB
    ``// 0`` is NULL) and still counts in N.

    Scale shape: the edge list (every bucket graph is O(buckets²) rows)
    finishes on the driver in exact Python integers (``_collect_edges``,
    cap ``MAX_DRIVER_EDGES``, ValueError past it).

    Returns ``DataFrame[node: string, rank_micro: long]``.
    """
    node_type, e = _collect_pairs(edges, "src", "dst", "w", "pagerank_int")
    spark = edges.sparkSession
    schema = f"node {node_type}, rank_micro long"
    if not e:
        return spark.createDataFrame([], schema=schema)
    out_w: dict = {}
    for s, _d, w in e:
        out_w[s] = out_w.get(s, 0) + w
    node_set = sorted({s for s, _, _ in e} | {d for _, d, _ in e})
    n = len(node_set)
    base = (scale * (damping_den - damping_num)) // (damping_den * n)
    rank = {v: scale // n for v in node_set}
    for _ in range(int(iterations)):
        acc: dict = {}
        for s, d, w in e:
            if out_w[s]:
                acc[d] = acc.get(d, 0) + (rank[s] * w) // out_w[s]
        rank = {
            v: base + (damping_num * acc.get(v, 0)) // damping_den
            for v in node_set
        }
    return spark.createDataFrame(
        [(v, rank[v]) for v in node_set], schema=schema
    )


def triangle_stats(edges: DataFrame, a_col: str = "a", b_col: str = "b") -> DataFrame:
    """Per-node triangle count + local clustering coefficient over an
    undirected edge list (canonical ``a < b`` expected; deduplicated here).

    Distributed shape: the classic two-join wedge closure. Enumerate
    ordered wedges a<b<c by joining e(a,b) with e(b,c) on the middle
    node, then close against e(a,c). Each triangle is found exactly once
    (its vertices in sorted order), then exploded to credit all three
    corners. Both joins shuffle on a single node id; for skewed degree
    distributions the standard mitigation is degree-ordered orientation
    (orient each edge low-degree -> high-degree), which bounds wedge
    fan-out by sqrt(|E|) — with lexicographic orientation the shape is
    identical, so the swap is a one-line change left documented rather
    than hard-coded (the oracle must mirror whichever orientation runs).

    Returns one row per node: (node, degree, triangles, clustering) where
    clustering = 2*t / (d*(d-1)), 0 for degree < 2 — integer-fed, one
    division.
    """
    e = (
        edges.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
        .where(F.col("a") < F.col("b"))
        .distinct()
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e1.a") == F.col("e3.a")) & (F.col("e2.b") == F.col("e3.b")),
        )
        .select(
            F.col("e1.a").alias("x"),
            F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
        )
    )
    per_node = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("triangles"))
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    out = deg.join(per_node, "node", "left").select(
        "node",
        "degree",
        F.coalesce(F.col("triangles"), F.lit(0)).cast("long").alias("triangles"),
    )
    d = F.col("degree").cast("double")
    t = F.col("triangles").cast("double")
    cc = F.when(
        F.col("degree") >= 2,
        F.floor(
            (F.lit(2.0) * t / (d * (d - F.lit(1.0)))) * F.lit(1e6) + F.lit(0.5)
        )
        / F.lit(1e6),
    ).otherwise(F.lit(0.0))
    return out.select("node", "degree", "triangles", cc.alias("clustering"))


def _turn_pair_weights(
    t: DataFrame, min_shared: int = 1, max_word_turn_df: int | None = None
) -> DataFrame:
    """Within-conversation turn-similarity pair weights for TextRank: one
    row per unordered turn pair (ta < tb) of the SAME conversation,
    weighted by the count of distinct normalized words they share
    (Mihalcea & Tarau 2004's overlap weight, un-normalized so it stays
    integer-exact). Returns ``DataFrame[conv_id, ta, tb, w: long]``.

    Distributed shape: explode -> distinct, then a self-equi-join keyed on
    (conv_id, word) — never a cross join; Catalyst shuffles both sides on
    the composite key, so pair generation is local to each (conv, word)
    group. Pairs per word are bounded by turns-per-conversation^2, and a
    mega-conversation is exactly the skew the optional ``max_word_turn_df``
    cap bounds: words appearing in more than that many turns of one
    conversation (stopwords of that conv) are dropped before the join, the
    same hot-key cap ngram_jaccard_capped applies to shingles.
    """
    from .repetition import normalized_words

    # per-turn word dedup happens ROW-LOCAL (array_distinct before the
    # explode) — the distinct() this replaces was a full shuffle of the
    # exploded table, the single most expensive stage of the old plan
    words = (
        t.select(
            "conv_id",
            "turn_idx",
            F.explode(F.array_distinct(normalized_words("text"))).alias("word"),
        )
        .where(F.col("word") != "")
    )
    if max_word_turn_df is not None:
        df_cap = (
            words.groupBy("conv_id", "word")
            .agg(F.count(F.lit(1)).alias("tdf"))
            .where(F.col("tdf") <= max_word_turn_df)
            .select("conv_id", "word")
        )
        words = words.join(df_cap, ["conv_id", "word"])
    # one groupBy replaces the classic self-join: per (conv, word) collect
    # the sorted turn list once and expand i<j pairs with JVM HOFs —
    # identical output, HALF the shuffle volume (the words table moves
    # once, not twice, and there's no join build side). Pairs per word
    # stay bounded by turns-per-conversation^2 exactly as before.
    grp = words.groupBy("conv_id", "word").agg(
        F.sort_array(F.collect_list("turn_idx")).alias("ts")
    )
    pair_arr = F.flatten(
        F.transform(
            "ts",
            lambda x, i: F.transform(
                F.slice(F.col("ts"), i + 2, F.size("ts") - i - 1),
                lambda y: F.struct(x.alias("ta"), y.alias("tb")),
            ),
        )
    )
    pairs = (
        grp.select("conv_id", F.explode(pair_arr).alias("p"))
        .groupBy(
            "conv_id",
            F.col("p.ta").alias("ta"),
            F.col("p.tb").alias("tb"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
        .where(F.col("w") >= min_shared)
    )
    return pairs


def textrank_turns(
    t: DataFrame,
    iterations: int = 2,
    min_shared: int = 1,
    max_word_turn_df: int | None = None,
) -> DataFrame:
    """TextRank key-turn extraction (Mihalcea & Tarau, EMNLP 2004): run
    integer micro-unit PageRank over the within-conversation
    turn-similarity graph and rank each conversation's turns by centrality
    — the classic extractive-summarization signal, here used to pick the
    load-bearing turns of a transcript for curation / SFT mining.

    Semantics: turns with no similarity edge to any sibling turn are
    unranked (absent), per the original paper's connected-graph setup. The
    PageRank base constant uses the GLOBAL node count (pagerank_int's
    contract); conversations are disjoint components so relative order
    within a conversation — the signal — is unaffected.

    Everything is int64 (shared-word counts, micro-unit ranks, floor
    division), so the DuckDB oracle unrolls the same ``iterations`` and
    matches hash-exactly; ``pos`` breaks rank ties by turn_idx.

    Plan shape: conversations are DISJOINT graph components, so the whole
    rank iteration runs vectorized inside ONE applyInPandas over conv_id —
    numpy int64 floor division replicating pagerank_int's update exactly
    (bit-identical output, asserted by tests). pagerank_int finishes on
    the driver within ``MAX_DRIVER_EDGES``; the 1.4M-edge sf0.1 turn
    graph is past it, and this path is one shuffle after the edge build.
    The per-conv group size is bounded by the ``max_word_turn_df`` cap
    exactly as the old pair fan-out was.

    Returns ``DataFrame[conv_id, turn_idx, rank_micro: long, pos: int]``.
    """
    import numpy as np
    import pandas as pd

    scale, damping_num, damping_den = 1_000_000, 17, 20
    pairs = _turn_pair_weights(
        t, min_shared=min_shared, max_word_turn_df=max_word_turn_df
    ).localCheckpoint(eager=True)
    # global node count (pagerank_int's base-constant contract) — disjoint
    # components, so it must still be computed over the whole corpus
    n = (
        pairs.select("conv_id", F.col("ta").alias("ti"))
        .unionAll(pairs.select("conv_id", F.col("tb").alias("ti")))
        .distinct()
        .count()
    )
    schema = "conv_id string, turn_idx int, rank_micro long, pos int"
    if n == 0:
        return t.sparkSession.createDataFrame([], schema)
    base = (scale * (damping_den - damping_num)) // (damping_den * n)
    init = scale // n
    iters = iterations

    def per_conv(pdf: pd.DataFrame) -> pd.DataFrame:
        ta = pdf["ta"].to_numpy(dtype=np.int64)
        tb = pdf["tb"].to_numpy(dtype=np.int64)
        w = pdf["w"].to_numpy(dtype=np.int64)
        src = np.concatenate([ta, tb])
        dst = np.concatenate([tb, ta])
        ww = np.concatenate([w, w])
        nodes, src_i = np.unique(src, return_inverse=True)
        dst_i = np.searchsorted(nodes, dst)  # symmetric graph: dst ⊆ nodes
        out_w = np.zeros(len(nodes), dtype=np.int64)
        np.add.at(out_w, src_i, ww)
        r = np.full(len(nodes), init, dtype=np.int64)
        for _ in range(iters):
            c = (r[src_i] * ww) // out_w[src_i]
            s = np.zeros(len(nodes), dtype=np.int64)
            np.add.at(s, dst_i, c)
            r = base + (damping_num * s) // damping_den
        order = np.lexsort((nodes, -r))  # rank desc, turn_idx asc
        pos = np.empty(len(nodes), dtype=np.int32)
        pos[order] = np.arange(1, len(nodes) + 1, dtype=np.int32)
        return pd.DataFrame(
            {
                "conv_id": pdf["conv_id"].iloc[0],
                "turn_idx": nodes.astype(np.int32),
                "rank_micro": r,
                "pos": pos,
            }
        )

    return pairs.groupBy("conv_id").applyInPandas(per_conv, schema)


def hits_int(
    edges: DataFrame,
    iterations: int = 3,
    scale: int = 1_000_000,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg, JACM 1999) in integer
    micro-units — the link-analysis complement to pagerank_int for
    crawl-frontier scoring (a good HUB links to many good authorities;
    a good AUTHORITY is linked from many good hubs).

    Update per round, all int64:
        a'(v) = sum_{u->v} w(u,v) * h(u);  a(v) = a'(v)*scale DIV sum(a')
        h'(u) = sum_{u->v} w(u,v) * a(v);  h(u) = h'(u)*scale DIV sum(h')
    L1 normalization by floor division keeps every score in [0, scale]
    and is engine-exact; mass lost to floor() is deterministic spec.
    raw*scale can pass int64 (raw ~ total_edge_weight * scale); Python
    integers are unbounded, so every step, greatest(tot, 1) guard
    included, bit-matches DuckDB hugeint ``//`` (tested).

    Scale shape: like pagerank_int, the edge list (every bucket graph)
    finishes on the driver in exact Python integers (``_collect_edges``,
    cap ``MAX_DRIVER_EDGES``, ValueError past it). Edges with a null
    endpoint are dropped first.

    Returns ``DataFrame[node, hub_micro: long, auth_micro: long]``.
    """
    node_type, e = _collect_pairs(edges, "src", "dst", "w", "hits_int")
    spark = edges.sparkSession
    schema = f"node {node_type}, hub_micro long, auth_micro long"
    if not e:
        return spark.createDataFrame([], schema=schema)
    src, dst, w = zip(*e)
    nodes = sorted(set(src) | set(dst))
    init = scale // len(nodes)
    h = {v: init for v in nodes}
    a = {v: init for v in nodes}
    for _ in range(iterations):
        raw = {}
        for s, d, ww in zip(src, dst, w):
            raw[d] = raw.get(d, 0) + ww * h[s]
        tot = max(sum(raw.values()), 1)
        a = {v: (raw.get(v, 0) * scale) // tot for v in nodes}
        raw = {}
        for s, d, ww in zip(src, dst, w):
            raw[s] = raw.get(s, 0) + ww * a[d]
        tot = max(sum(raw.values()), 1)
        h = {v: (raw.get(v, 0) * scale) // tot for v in nodes}
    return spark.createDataFrame(
        [(v, h[v], a[v]) for v in nodes], schema=schema
    )


def link_prediction_scores(
    df: DataFrame,
    node_col: str = "tool",
    ctx_col: str = "conv_id",
    scale: int = 10**6,
    max_ctx_degree: int = 64,
) -> DataFrame:
    """Bipartite link-prediction scores between ``node_col`` values that
    co-occur in the same ``ctx_col`` context: common-neighbor count plus
    the Resource-Allocation index (Zhou, Lu & Zhang 2009) — the standard
    pair of local similarity predictors. RA down-weights promiscuous
    contexts: RA(a,b) = sum over shared contexts of 1/deg(ctx).

    The reference's institutional co-occurrence analytics stop at
    per-window counts (src/features/experimental/institutional_v2.rs:49-61);
    this is the pairwise-graph extension a recommendation/routing layer
    needs ("which tools predict each other").

    Engine-exactness: RA terms are FIXED-POINT integers ``scale div deg``
    (deg <= max_ctx_degree so the per-term error is the documented
    quantization, and sums are exact int64 — a pair would need ~9e12
    shared contexts to wrap).

    Scale shape: contexts are deduped to (ctx, node) once, context degree
    rides along from a groupBy of the SAME deduped relation, and contexts
    above ``max_ctx_degree`` distinct nodes are dropped BEFORE the
    within-context pair expansion (the TextRank stopword-cap lesson:
    quadratic fan-out must be bounded by construction, and the oracle
    mirrors the cap). Pair fan-out is therefore <= max_ctx_degree^2 per
    context; the joins shuffle on the context key, the final aggregate on
    the (a, b) pair.
    """
    nodes = (
        df.where(F.col(node_col).isNotNull())
        .select(F.col(ctx_col).alias("_ctx"), F.col(node_col).alias("_node"))
        .distinct()
    )
    deg = nodes.groupBy("_ctx").agg(F.count(F.lit(1)).alias("_deg"))
    bounded = nodes.join(
        deg.where((F.col("_deg") >= 2) & (F.col("_deg") <= int(max_ctx_degree))),
        "_ctx",
    )
    a, b = bounded.alias("la"), bounded.alias("lb")
    pairs = a.join(
        b,
        (F.col("la._ctx") == F.col("lb._ctx"))
        & (F.col("la._node") < F.col("lb._node")),
    ).select(
        F.col("la._node").alias("node_a"),
        F.col("lb._node").alias("node_b"),
        F.expr(f"cast({int(scale)} as bigint) div la._deg").alias("_ra_fp"),
    )
    return (
        pairs.groupBy("node_a", "node_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("common_ctx"),
            F.sum("_ra_fp").cast("long").alias("ra_fp"),
        )
    )


def word_adjacency_edges(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 3,
) -> DataFrame:
    """Undirected word-adjacency edge list: canonical (least, greatest)
    consecutive-word pairs over the normalized corpus, self-pairs
    dropped, pruned to pairs seen >= ``min_count`` times. Pure JVM
    (split + slice + arrays_zip + explode) into one partial-aggregable
    groupBy; output is |co-occurring vocab pairs| rows — bounded by the
    pruned vocabulary, never by corpus size (the TextRank word-df
    lesson).

    Returns ``DataFrame[a: string, b: string, w: long]`` with a < b.
    """
    from ..operators.skew import fan_out_small_scan

    base = fan_out_small_scan(df).select(
        F.split(normalize_text(text_col), " ").alias("_w")
    )
    k = F.greatest(F.size(F.col("_w")) - 1, F.lit(0))
    pairs = F.arrays_zip(
        F.slice(F.col("_w"), 1, k).alias("x"),
        F.slice(F.col("_w"), 2, k).alias("y"),
    )
    return (
        base.select(F.explode(pairs).alias("p"))
        .select(
            F.least("p.x", "p.y").alias("a"),
            F.greatest("p.x", "p.y").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
        .filter(F.col("w") >= int(min_count))
    )


def kcore_peel(
    edges: DataFrame,
    k: int = 3,
    rounds: int = 3,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Fixed-round k-core peel (Seidman 1983; Batagelj & Zaversnik 2003)
    over an undirected edge list: round r removes every node whose degree
    within the current surviving subgraph is < k, then recomputes
    degrees. ``rounds`` is fixed and unrolled — the graph-curation
    analog of the repo's bounded-iteration rule (pagerank_int,
    hits_int): deterministic depth, no convergence test. With enough
    rounds this converges to the exact k-core; the per-node
    ``peel_round`` (1-indexed removal round, 0 = survived all rounds) is
    itself the useful curation signal — a coreness-style centrality used
    to keep well-connected vocabulary / drop stragglers.

    Degree semantics: every edge row counts once per endpoint occurrence
    (multi-edges count each time); a surviving node that loses every edge
    has degree 0. Edges with a null endpoint are dropped first.

    Engine-exactness: pure integer degree counts and set membership —
    any engine reproduces every row bit-identically.

    Scale shape: the edge list (a pruned vocabulary-pair graph) finishes
    on the driver: one bounded collect (``_collect_edges``, cap
    ``MAX_DRIVER_EDGES``, ValueError past it), the rounds in Python
    integers, one local relation out.

    Returns ``DataFrame[node, deg0: long, peel_round: int]``.
    """
    node_type, e = _collect_pairs(edges, a_col, b_col, None, "kcore_peel")

    def degrees(ed: list, nodes) -> dict:
        deg = dict.fromkeys(nodes, 0)
        for a, b, _w in ed:
            deg[a] += 1
            deg[b] += 1
        return deg

    deg0 = degrees(e, {v for a, b, _w in e for v in (a, b)})
    surv, peeled = deg0, {}
    for r in range(1, int(rounds) + 1):
        keep = {v for v, d in surv.items() if d >= k}
        peeled.update((v, r) for v in surv.keys() - keep)
        e = [x for x in e if x[0] in keep and x[1] in keep]
        surv = degrees(e, keep)
    return edges.sparkSession.createDataFrame(
        [(v, deg0[v], peeled.get(v, 0)) for v in sorted(deg0)],
        schema=f"node {node_type}, deg0 long, peel_round int",
    )


def label_propagation(
    edges: DataFrame,
    rounds: int = 3,
    a_col: str = "a",
    b_col: str = "b",
    w_col: str = "w",
) -> DataFrame:
    """Fixed-round synchronous label propagation (Raghavan 2007) over an
    undirected weighted edge list — the community-detection sibling of
    pagerank_int / kcore_peel in the graph-curation family (the
    reference's graph analog is the order-book "level community" of
    src/features/mbo_features/order_tracker.rs; here communities group
    co-occurring vocabulary / tools for curation and topic rollups).

    Every node starts labeled with itself; each synchronous round a node
    adopts the label with the greatest total incident edge weight among
    its neighbors' current labels, ties broken by the lexicographically
    SMALLEST label — fully deterministic, no RNG, no convergence test
    (the bounded-iteration rule shared by pagerank_int/hits_int/
    kcore_peel). Fixed rounds make synchronous oscillation harmless: the
    output is a pure function of the input. Edges with a null endpoint
    are dropped first.

    Engine-exactness: integer weight sums + (sum DESC, label ASC)
    argmax; Python string order is Spark's UTF-8 byte order, so any
    engine reproduces every row bit-identically.

    Scale shape: the edge list (bounded by the pruned vocabulary, never
    corpus rows) finishes on the driver: one bounded collect
    (``_collect_edges``, cap ``MAX_DRIVER_EDGES``, ValueError past it),
    the rounds in Python integers, one local relation out.

    Returns ``DataFrame[node, community]``.
    """
    node_type, e = _collect_pairs(edges, a_col, b_col, w_col, "label_propagation")
    both = e + [(b, a, w) for a, b, w in e]
    label = {s: s for s, _d, _w in both}
    for _ in range(int(rounds)):
        score: dict = {}
        for s, d, w in both:
            score[s, label[d]] = score.get((s, label[d]), 0) + w
        best: dict = {}
        for (s, lab), tot in score.items():
            if s not in best or (-tot, lab) < best[s]:
                best[s] = (-tot, lab)
        label = {s: lab for s, (_neg, lab) in best.items()}
    return edges.sparkSession.createDataFrame(
        sorted(label.items()), schema=f"node {node_type}, community {node_type}"
    )


def modularity(
    edges: DataFrame,
    labels: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    w_col: str = "w",
    node_col: str = "node",
    community_col: str = "community",
) -> DataFrame:
    """Newman modularity Q of a community assignment over an undirected
    weighted edge list — the quality meter for label_propagation (as
    ari / v_measure grade the certified k-means): "how much better than
    chance do these communities capture the edge mass". Complements the
    structural fingerprints (triangle_stats, kcore_peel, assortativity)
    with an assignment-conditional score.

    Exact integer form: with the directed view (both orientations) of the
    edges whose endpoints both carry a label, M = 2m = total directed
    weight, deg_c = total strength of nodes in community c, in_c =
    directed weight with BOTH endpoints in c,

        Q = sum_c (in_c/M - (deg_c/M)^2)
          = [ sum_c (in_c * M - deg_c^2) ] / M^2.

    The numerator is an exact Python integer (hugeint on the oracle
    side); the release is ONE signed division truncated toward zero,
    q_micro = (1e6 * num) div M^2 (similarity.py:878 convention), so the
    row is bit-identical on both engines. No edge with two labelled
    endpoints: no row, as the oracle's aggregate over no communities.

    Scale shape: the edge list and the label table finish on the driver,
    each through one bounded collect (``_collect_edges``, cap
    ``MAX_DRIVER_EDGES``, ValueError past it); the per-community sums
    run in Python integers, one local relation out.

    Returns at most one row ``(m2, n_communities, in_total, q_micro)``.
    """
    _node_type, e = _collect_pairs(edges, a_col, b_col, w_col, "modularity")
    lab = dict(
        _collect_edges(labels.select(node_col, community_col), "modularity")
    )
    deg_c: dict = {}
    in_c: dict = {}
    for a, b, w in e:
        for s, d in ((a, b), (b, a)):
            if s in lab and d in lab:
                c = lab[s]
                deg_c[c] = deg_c.get(c, 0) + w
                # a null community is its own group but never "inside" it
                inside = c is not None and c == lab[d]
                in_c[c] = in_c.get(c, 0) + (w if inside else 0)
    rows = []
    if deg_c:
        m2 = sum(deg_c.values())
        num = sum(in_c[c] * m2 - deg_c[c] * deg_c[c] for c in deg_c)
        q = None
        if m2:
            q = abs(num) * 1_000_000 // (m2 * m2) * (1 if num >= 0 else -1)
        rows.append((m2, len(deg_c), sum(in_c.values()), q))
    return edges.sparkSession.createDataFrame(
        rows, schema="m2 long, n_communities long, in_total long, q_micro long"
    )


def degree_assortativity(
    edges: DataFrame, a_col: str = "a", b_col: str = "b"
) -> DataFrame:
    """Degree assortativity (Newman 2002) of an undirected edge list:
    the Pearson correlation of endpoint degrees over both orientations
    of every edge — positive when hubs attach to hubs (social-network
    shape), negative when hubs attach to leaves (star/boilerplate
    shape); the one-row structural fingerprint that complements
    triangle_stats (local clustering) and kcore_peel (coreness).

    Released as the SIGNED SQUARE r2_signed = sign(num)·num²/(vx·vy)
    (the cross_correlation convention): moments are exact decimal(38,0)
    integers, the release is one fixed-operand-order IEEE expression, and
    |r| = sqrt(|r2|) is recoverable by any consumer — sqrt never crosses
    an engine boundary.

    Scale shape: one degree count over the edge list (partial-agg), two
    node-keyed joins decorating each orientation with its endpoint
    degrees, ONE 6-moment global aggregate. Everything is bounded by
    |edges|, never corpus rows.

    Returns one row: (m2 = 2|E|, sx, sxx, sxy, r2_signed_raw).
    """
    e = edges.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
    both = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = both.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    dx = deg.select(F.col("node").alias("a"), F.col("deg").alias("x"))
    dy = deg.select(F.col("node").alias("b"), F.col("deg").alias("y"))
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    m = both.join(dx, "a").join(dy, "b").agg(
        F.count(F.lit(1)).cast("long").alias("m2"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(dec("x") * dec("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(dec("x") * dec("y")).cast("decimal(38,0)").alias("sxy"),
    )
    # both orientations make x/y exchangeable: sy = sx, syy = sxx
    num = F.expr("cast(m2 as decimal(38,0)) * sxy - cast(sx as decimal(38,0)) * sx")
    vx = F.expr("cast(m2 as decimal(38,0)) * sxx - cast(sx as decimal(38,0)) * sx")
    withm = m.withColumn("_num", num).withColumn("_vx", vx)
    r2 = F.when(
        F.col("_vx") > 0,
        F.signum(F.col("_num").cast("double"))
        * (F.col("_num") * F.col("_num")).cast("double")
        / (F.col("_vx") * F.col("_vx")).cast("double"),
    ).otherwise(F.lit(0.0))
    return withm.select(
        "m2", "sx",
        F.col("sxx").cast("long").alias("sxx"),
        F.col("sxy").cast("long").alias("sxy"),
        r2.alias("r2_signed_raw"),
    )


def _markov_chain(edges, iterations, src_col, dst_col, w_col, what):
    """(states, ppm matrix, stationary ppm) of a transition-count edge
    list, in exact Python integers after one bounded collect."""
    rows = _collect_edges(
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst"),
            F.col(w_col).cast("long").alias("c"),
        ),
        what,
    )
    e = [(r["src"], r["dst"], int(r["c"])) for r in rows]
    c_src: dict = {}
    for s, _d, c in e:
        c_src[s] = c_src.get(s, 0) + c
    pmat = [(s, d, (c * 1_000_000) // c_src[s]) for s, d, c in e]
    states = sorted({s for s, _, _ in e} | {d for _, d, _ in e})
    if not states:
        return states, pmat, {}
    v = {s: 1_000_000 // len(states) for s in states}
    for _ in range(int(iterations)):
        acc: dict = {}
        for s, d, p in pmat:
            acc[d] = acc.get(d, 0) + v[s] * p
        v = {s: acc.get(s, 0) // 1_000_000 for s in states}
    return states, pmat, v


def markov_stationary(
    edges: DataFrame,
    iterations: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
    w_col: str = "w",
) -> DataFrame:
    """Stationary distribution of the Markov chain defined by a weighted
    transition-count edge list, by fixed-round power iteration in exact
    ppm fixed point — the long-run occupancy companion to markov_loglik
    (which scores sequences against the SAME transition matrix): "what
    fraction of turns does the chain spend in each role/tool state as
    conversations run long".

    Spec, all integer: row-stochastic matrix p_ij = (c_ij * 1e6) div c_i
    (trunc); v_0 = 1e6 div R over the R source states; each round
    v_j <- (sum_i v_i * p_ij) div 1e6 — the sum is exact int64/decimal,
    ONE trunc division per state per round, so both engines reproduce
    every ppm bit-for-bit (mass lost to flooring is part of the
    deterministic spec, as in pagerank_int). States with no outgoing
    edges simply absorb nothing (their column receives mass only via
    p_ij); fixed ``iterations`` = bounded plan depth.

    Scale shape: Spark reduces the corpus to the |states|² edge list;
    the power iteration finishes on the driver in exact Python integers
    (``_collect_edges``, cap ``MAX_DRIVER_EDGES``, ValueError past it).

    Returns ``DataFrame[state: string, pi_ppm: long]``.
    """
    state_type = edges.select(src_col).schema[0].dataType.simpleString()
    states, _pmat, v = _markov_chain(
        edges, iterations, src_col, dst_col, w_col, "markov_stationary"
    )
    return edges.sparkSession.createDataFrame(
        [(s, v[s]) for s in states], schema=f"state {state_type}, pi_ppm long"
    )


def markov_entropy_rate(
    edges: DataFrame,
    iterations: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
    w_col: str = "w",
) -> DataFrame:
    """Entropy rate of the Markov chain, H = −Σ_ij π_i p_ij ln p_ij — the
    predictability meter over the same transition matrix as
    markov_loglik / markov_stationary: low H means conversations follow
    rigid role/tool scripts (templated agents), high H means varied
    flows; THE one-number summary for comparing corpus sources'
    interaction diversity.

    Exactness: p_ij in exact ppm (trunc div), π from markov_stationary's
    exact ppm iteration, ln(p_ij/1e6) quantized to integer nanos PER
    DISTINCT EDGE before any multiplication (zipf_fit convention), the
    occupancy product t_ij = (π_i·p_ij) div 1e6 an exact trunc division
    — so the sum Σ t_ij·q_ij is an exact integer in any order and
    h_nanos = (−Σ) div 1e6 releases bit-identically on both engines.

    Scale shape: markov_stationary's bounded driver finish, then the
    entropy sum in exact Python integers over the same chain.

    Returns one row: (n_states, n_edges, h_nanos: long).
    """
    import math

    states, pmat, v = _markov_chain(
        edges, iterations, src_col, dst_col, w_col, "markov_entropy_rate"
    )
    schema = "n_states long, n_edges long, h_nanos long"
    if not states:
        return edges.sparkSession.createDataFrame([(0, 0, None)], schema=schema)
    # p_ppm == 0 cells (c_src > 1e6*c at extreme skew) contribute 0 in the
    # x*ln(x) limit — filtered on BOTH engines, never fed to ln
    total = 0
    n_edges = 0
    for s, _d, p in pmat:
        if p > 0:
            t = (v[s] * p) // 1_000_000
            q = math.floor(math.log(p / 1e6) * 1e9 + 0.5)
            total += t * q
            n_edges += 1
    h_nanos = (0 - total) // 1_000_000 if n_edges else None
    return edges.sparkSession.createDataFrame(
        [(len(states), n_edges, h_nanos)], schema=schema
    )


def bfs_hops(
    edges: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    weight_col: str | None = None,
    max_depth: int = 4,
) -> DataFrame:
    """Single-source BFS hop distances from a deterministic seed — the
    reachability/diameter probe of the graph family (pagerank answers
    "how central", k-core "how dense"; this answers "how far").

    The seed is the max-weighted-degree node over both orientations
    (ties → node asc): an argmax over the degrees, never a user-supplied
    magic id, so the query is self-contained and reproducible. Edges
    with a null endpoint are dropped first. Frontier expansion runs
    ``max_depth`` unrolled rounds: neighbors of the current layer not
    yet labeled — first visit IS the minimum hop count, so no
    min-aggregation pass is needed.

    Unreached nodes are absent from the output (the caller left-joins
    the node frame if "infinite" rows are wanted). DuckDB twin: one
    WITH RECURSIVE over the same undirected adjacency with dist <
    max_depth, min(dist) per node.

    Scale shape: the edge list (a tool or vocabulary graph) finishes on
    the driver: one bounded collect (``_collect_edges``, cap
    ``MAX_DRIVER_EDGES``, ValueError past it), the layers as Python
    sets, one local relation out.

    Reference analog: workflow-graph diagnostics over the tool-usage
    projection (SURVEY §2 graph family).

    Returns ``DataFrame[node, dist: long]``.
    """
    node_type, e = _collect_pairs(edges, a_col, b_col, weight_col, "bfs_hops")
    adj: dict = {}
    deg: dict = {}
    for a, b, w in e:
        for s, d in ((a, b), (b, a)):
            adj.setdefault(s, set()).add(d)
            deg[s] = deg.get(s, 0) + w
    frontier = {min(deg, key=lambda v: (-deg[v], v))} if deg else set()
    dist = dict.fromkeys(frontier, 0)
    for hop in range(1, int(max_depth) + 1):
        frontier = {v for u in frontier for v in adj[u]} - dist.keys()
        dist.update(dict.fromkeys(frontier, hop))
    return edges.sparkSession.createDataFrame(
        sorted(dist.items()), schema=f"node {node_type}, dist long"
    )


def moran_geary(
    edges: DataFrame,
    nodes: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    w_col: str = "w",
    id_col: str = "id",
    x_col: str = "x",
) -> DataFrame:
    """Moran's I and Geary's C network autocorrelation of a node
    attribute over a weighted undirected edge list (edges given once
    per unordered pair) — "do connected nodes carry similar values":
    I > 0 assortative attribute mixing, C < 1 the local-difference
    view of the same question (Geary weights local pairs, Moran the
    global covariance — they can disagree on hub-dominated graphs).

    Cleared integers end to end: u_i = n·x_i − S makes both statistics
    ratios of exact decimal(38,0)/hugeint terms —
    I = n·P/(W_h·U) with P = Σ_pairs w·u_a·u_b (signed) and
    C = (n−1)·Q/(2·W_h·U) with Q = Σ_pairs w·(u_a−u_b)², where
    W_h = Σ_pairs w and U = Σu² (every n-power cancels); released as
    SIGNED micro trunc divisions (both engines truncate toward zero);
    NULL when U = 0 (constant attribute) or W_h = 0.

    Scale shape: one node aggregate (n, S) broadcast back; two joins
    of the edge list to the node-u frame on the node key; one
    map-side-combinable reduction. Edge list is O(|nodes|²) at worst,
    never O(rows).

    Returns one row: (n_nodes, w_half, moran_micro, geary_micro).
    """
    nd = nodes.select(F.col(id_col).alias("_id"), F.col(x_col).cast("long").alias("_x"))
    tot = nd.agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum("_x").cast("long").alias("_s"),
    )
    u = nd.crossJoin(F.broadcast(tot)).select(
        "_id",
        "_n",
        (F.col("_n") * F.col("_x") - F.col("_s")).cast("decimal(38,0)").alias("_u"),
    )
    ua = u.select(F.col("_id").alias("_ida"), F.col("_u").alias("_ua"), "_n")
    ub = u.select(F.col("_id").alias("_idb"), F.col("_u").alias("_ub"))
    e = (
        edges.select(
            F.col(src_col).alias("_ida"),
            F.col(dst_col).alias("_idb"),
            F.col(w_col).cast("long").alias("_w"),
        )
        .join(ua, "_ida")
        .join(ub, "_idb")
    )
    usum = u.agg(F.sum(F.col("_u") * F.col("_u")).cast("decimal(38,0)").alias("uu"))
    agg = e.agg(
        F.max("_n").cast("long").alias("n"),
        F.sum("_w").cast("decimal(38,0)").alias("wh"),
        F.sum(F.col("_w") * F.col("_ua") * F.col("_ub"))
        .cast("decimal(38,0)").alias("p"),
        F.sum(
            F.col("_w") * (F.col("_ua") - F.col("_ub"))
            * (F.col("_ua") - F.col("_ub"))
        ).cast("decimal(38,0)").alias("q"),
    ).crossJoin(F.broadcast(usum))
    ok = (F.col("uu") > 0) & (F.col("wh") > 0)
    return agg.select(
        F.col("n").alias("n_nodes"),
        F.col("wh").cast("long").alias("w_half"),
        F.when(ok, F.expr("cast((n * p * 1000000) div (wh * uu) as bigint)"))
        .alias("moran_micro"),
        F.when(
            ok,
            F.expr("cast(((n - 1) * q * 1000000) div (2 * wh * uu) as bigint)"),
        ).alias("geary_micro"),
    )


def rich_club(
    edges: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    ks: tuple = (1, 2, 4, 8),
) -> DataFrame:
    """Rich-club coefficient phi(k) (Colizza et al. 2006, unnormalized)
    of an undirected simple edge list: among the nodes with degree > k,
    what fraction of the possible links actually exist? Rising phi(k)
    means hubs form a tightly-wired club (the workflow-core question for
    the tool co-usage graph: do the most-connected tools interlock, or
    does each hub serve its own spoke set?) — the density-by-elite
    readout that degree_assortativity's single correlation cannot show.

    phi_ppm(k) = 2 * E_{>k} * 1e6 // (N_{>k} * (N_{>k} - 1)) — exact
    integer counts, one floor division per k on nonnegative operands,
    NULL when fewer than 2 nodes clear the threshold.

    Scale shape: one degree count over the edge list (partial-agg), two
    node-keyed joins decorating each edge with endpoint degrees, then a
    CONSTANT |ks|-fold explode of the decorated edge/node frames into
    one groupBy(k) each — shuffles bounded by |edges| * |ks|, never
    corpus rows; no threshold ever re-scans the input.

    Returns one row per k: (k, n_nodes, n_edges, phi_ppm), k ascending.
    """
    e = edges.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
    both = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = both.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    karr = F.array(*[F.lit(int(k)) for k in sorted(ks)])
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    ek = (
        e.join(da, "a").join(db, "b")
        .select(
            F.explode(karr).alias("k"),
            F.least("deg_a", "deg_b").alias("mind"),
        )
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("mind") > F.col("k"), 1).otherwise(0))
            .cast("long").alias("n_edges")
        )
    )
    nk = (
        deg.select(F.explode(karr).alias("k"), "deg")
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("deg") > F.col("k"), 1).otherwise(0))
            .cast("long").alias("n_nodes")
        )
    )
    return (
        nk.join(ek, "k")
        .select(
            F.col("k").cast("long").alias("k"),
            "n_nodes",
            "n_edges",
            F.when(
                F.col("n_nodes") >= 2,
                F.expr(
                    "cast((2 * n_edges * cast(1000000 as bigint))"
                    " div (n_nodes * (n_nodes - 1)) as bigint)"
                ),
            ).alias("phi_ppm"),
        )
        .orderBy("k")
    )
