"""Deduplication operators for training-data pipelines: exact, n-gram
Jaccard, MinHash+LSH, SimHash.

Scale design:
* exact dedup — hash groupBy on the normalized text (one shuffle);
* shingle-based ops explode to (doc, shingle) and aggregate — shuffle is
  O(total shingles), never O(n^2); pair candidates come from equi joins on
  shingle / band keys, so only colliding docs meet;
* MinHash permutations are md5(seed || shingle) (a keyed hash IS a random
  permutation oracle) — chosen over xxhash so DuckDB reproduces signatures
  bit-for-bit for the correctness gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import fingerprint
from ..guards import collect_at_most


def normalize_text(col) -> F.Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                normalized: bool = True) -> DataFrame:
    """Group identical texts; keep the smallest id as representative.
    Returns (keep_id, n_copies, dupe_ids)."""
    key = normalize_text(text_col) if normalized else F.col(text_col)
    return (
        df.groupBy(key.alias("_k"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.sort_array(F.collect_list(id_col)).alias("member_ids"),
        )
        .drop("_k")
    )


def word_shingles(col, k: int = 3) -> F.Column:
    """Distinct k-word shingles of the normalized text (array<string>).

    Built by folding zip_with over k-1 shifted slices of the words array:
    every argument is evaluated once per row. (A transform(sequence, i ->
    slice(words, i+1, k)) lambda re-evaluates the captured split/regex
    PER ELEMENT — measured ~5x slower across the dedup family at sf0.1.)
    Trailing zip positions pair with null, concat nulls them, filter drops
    them, leaving exactly the n-k+1 shingles of the old form."""
    words = F.split(normalize_text(col), " ")
    n = F.size(words)
    acc = words
    for j in range(1, k):
        shifted = F.slice(words, j + 1, F.greatest(n - j, F.lit(0)))
        acc = F.zip_with(acc, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    sh = F.filter(acc, lambda g: g.isNotNull())
    return F.array_distinct(F.when(n >= k, sh).otherwise(F.array(F.concat_ws(" ", words))))


def shingle_table(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                  k: int = 3) -> DataFrame:
    """(id, shingle) exploded — the base relation for Jaccard and MinHash.

    The source frame is fanned out first (skew.fan_out_small_scan): the
    explode + hashing pipelines built on this relation are the map-heavy
    stages of the whole dedup family, and a single-split input would run
    them on one core (r6: minhash_signatures 2.6 s -> ~0.4 s at sf0.1)."""
    from .skew import fan_out_small_scan

    return fan_out_small_scan(df).select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(text_col, k)).alias("shingle"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """All pairs (id_a < id_b) with shingle-set Jaccard >= threshold.
    Intersections come from a self-equi-join on shingle (only co-occurring
    docs ever meet); set sizes from a pre-aggregate.

    ``max_doc_freq`` caps the self-join blowup at scale: a shingle shared by
    d documents contributes O(d^2) join rows, so one stop-word-like shingle
    in 1M docs is 10^12 pairs. With the cap, shingles with document
    frequency > K are dropped BEFORE the join (Jaccard is then computed
    over the retained shingle space — the standard near-dup approximation),
    bounding join input per shingle at K^2. None = exact."""
    sh = shingle_table(df, id_col, text_col, k)
    if max_doc_freq is not None:
        # cache the raw shingle table once (it feeds both the frequency agg
        # and the filter); the HOT set is tiny by construction, so broadcast
        # an anti-join on it rather than equi-joining the huge kept set
        sh = sh.cache()
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_doc_freq)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), on="shingle", how="left_anti")
    sh = sh.cache()
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))

    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, on="shingle")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
        .withColumn(
            "jaccard",
            (F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
) -> DataFrame:
    """MinHash signature per doc: sig_s = min(md5(s || '|' || shingle)) for
    seeds s in 0..num_hashes — one groupBy computing all mins at once.
    Returns (id, sig_0..sig_{H-1})."""
    sh = shingle_table(df, id_col, text_col, k)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{s}|"), F.col("shingle")))).alias(f"sig_{s}")
        for s in range(num_hashes)
    ]
    return sh.groupBy("id").agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    max_band_size: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded LSH: docs sharing any band
    key (md5 of the band's signature slice) are candidates. Returns distinct
    (id_a < id_b) candidate pairs with the number of matching bands.

    ``max_band_size`` is the hot-band cap (VERDICT r3 #2) — without it a
    corpus with m identical/near-identical documents (the normal case that
    motivates dedup!) lands all m in one band bucket and the self-join
    explodes to m^2 candidate pairs in ONE task. The capped form is a
    two-tier plan, deterministic and oracle-mirrorable:

      1. exact-bucket star collapse: documents whose FULL band vector is
         identical (m^2-pair groups in the naive join) are grouped; each
         group emits only the O(m) star edges (min-id representative ->
         member, n_bands = bands, the exact count the naive join would
         give every intra-group pair). Connectivity (what dedup clustering
         consumes) is preserved; the m^2 blowup is gone.
      2. banded join over REPRESENTATIVES only (identical band vectors are
         redundant in an equi-join), with residual band buckets larger
         than max_band_size dropped entirely — the same lossy hot-key
         discipline as ngram_jaccard_pairs' max_doc_freq.
    """
    rows = num_hashes // bands
    sigs = minhash_signatures(df, id_col, text_col, k, num_hashes)
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"sig_{b * rows + r}") for r in range(rows)]
        band_cols.append(F.md5(F.concat_ws("#", *parts)).alias(f"band_{b}"))
    # one row per doc (id + bands digests). Materialize ONCE: every
    # consumer below references it 2-3x (self-join sides; reps + rep
    # join + star in the capped tier), and each reference would re-run
    # the shingle explode + num_hashes md5-min groupBy — the dominant
    # cost of the whole LSH family (~1 s off every downstream query at
    # sf0.1).
    banded = sigs.select("id", *band_cols).localCheckpoint(eager=True)

    def melt(frame: DataFrame) -> DataFrame:
        return frame.select(
            "id",
            F.explode(
                F.array(*[
                    F.concat(F.lit(f"{b}:"), F.col(f"band_{b}"))
                    for b in range(bands)
                ])
            ).alias("band_key"),
        )

    if max_band_size is None:
        melted = melt(banded)
        a, b_ = melted.alias("a"), melted.alias("b")
        return (
            a.join(b_, on="band_key")
            .filter(F.col("a.id") < F.col("b.id"))
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("n_bands"))
        )

    # tier 1: star-collapse identical band vectors (digest-sized shuffle)
    gkey = F.md5(F.concat_ws("#", *[F.col(f"band_{b}") for b in range(bands)]))
    keyed = banded.withColumn("_g", gkey)
    reps = keyed.groupBy("_g").agg(F.min("id").alias("_rep"))
    with_rep = keyed.join(reps, "_g")
    star = with_rep.filter(F.col("id") != F.col("_rep")).select(
        F.col("_rep").alias("id_a"),
        F.col("id").alias("id_b"),
        F.lit(bands).cast("long").alias("n_bands"),
    )
    # tier 2: banded join over representatives, hot bands dropped
    melted = melt(
        with_rep.filter(F.col("id") == F.col("_rep")).select("id", *[
            f"band_{b}" for b in range(bands)
        ])
    )
    hot = (
        melted.groupBy("band_key")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > max_band_size)
        .select("band_key")
    )
    melted = melted.join(F.broadcast(hot), on="band_key", how="left_anti")
    a, b_ = melted.alias("a"), melted.alias("b")
    pairs = (
        a.join(b_, on="band_key")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_bands"))
    )
    return pairs.unionByName(star)


def _nibble_lane_lut(half: int) -> list[int]:
    # packed 32-bit-lane value for hex nibble v: bits {0,1} (half=0) or
    # {2,3} (half=1) of v land in lanes at shifts 0 and 32. Two longs per
    # nibble instead of one 4x16-bit long: lanes hold counts up to 2^31-1
    # shingles per doc (a >=65536-shingle book page overflowed 16-bit lanes
    # into neighbors and silently corrupted the fingerprint).
    return [
        sum(((v >> (2 * half + b)) & 1) << (32 * b) for b in range(2))
        for v in range(16)
    ]


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            k: int = 2, bits: int = 64) -> DataFrame:
    """64-bit SimHash over the first 16 hex nibbles of md5(shingle) —
    DuckDB-reproducible (same trick as MinHash's md5 permutations).

    Single groupBy with 33 aggregates instead of 64: count(*) plus two
    packed counters per nibble position, whose 32-bit lanes count that
    nibble's set bits across shingles (exact up to 2^31-1 shingles per doc
    — no document is ~10 GB of text, so lanes can never collide; 16-bit
    lanes overflowed at 65 536 shingles, which book-length pages DO reach).
    Bit i of the fingerprint is set iff count_i > n/2 (majority vote,
    identical to the classic sum(±1) > 0 rule). Returns (id, c0..c3,
    simhash) where c0..c3 are the 16-bit fingerprint chunks (c0 = low bits)
    used by Hamming-LSH.

    Reference parity: simhash dedup per src pipeline docs; recall guarantee
    of the chunk LSH (hamming < n_chunks => some chunk equal) is preserved.
    """
    assert bits == 64, "simhash is fixed at 64 bits (16 md5 nibbles)"
    sh = shingle_table(df, id_col, text_col, k).withColumn("hx", F.md5("shingle"))
    lut_lo = F.array(*[F.lit(v) for v in _nibble_lane_lut(0)])
    lut_hi = F.array(*[F.lit(v) for v in _nibble_lane_lut(1)])

    def nib(j: int) -> F.Column:  # value 0..15 of hex char j (0-based)
        return F.conv(F.substring("hx", j + 1, 1), 16, 10).cast("int")

    aggs = [F.count(F.lit(1)).alias("n_sh")]
    for j in range(16):
        aggs.append(F.sum(F.element_at(lut_lo, nib(j) + 1)).alias(f"pa{j}"))
        aggs.append(F.sum(F.element_at(lut_hi, nib(j) + 1)).alias(f"pb{j}"))
    agg = sh.groupBy("id").agg(*aggs)

    def bit_cnt(i: int) -> F.Column:
        # count of shingles with bit i set: bit i%4 of nibble i//4 lives in
        # lane (i%4)%2 of packed counter pa (bits 0-1) or pb (bits 2-3)
        j, b = i // 4, i % 4
        col = f"pa{j}" if b < 2 else f"pb{j}"
        return F.shiftright(F.col(col), 32 * (b % 2)).bitwiseAND(F.lit(0xFFFFFFFF))

    def chunk(c: int) -> F.Column:  # 16-bit chunk over fingerprint bits 16c..16c+15
        acc = F.lit(0).cast("long")
        for b in range(16):
            acc = acc + F.when(bit_cnt(16 * c + b) * 2 > F.col("n_sh"),
                               F.lit(1 << b)).otherwise(F.lit(0))
        return acc.alias(f"c{c}")

    out = agg.select("id", *[chunk(c) for c in range(4)])
    # signed 64-bit fingerprint; c3 >= 2^15 means bit 63 set -> negative
    hi = F.when(F.col("c3") >= F.lit(1 << 15), F.col("c3") - F.lit(1 << 16)).otherwise(F.col("c3"))
    return out.withColumn(
        "simhash",
        hi * F.lit(1 << 48) + F.col("c2") * F.lit(1 << 32)
        + F.col("c1") * F.lit(1 << 16) + F.col("c0"),
    )


def simhash_candidates(sim: DataFrame, chunk_bits: int = 16) -> DataFrame:
    """Hamming-LSH: split the 64-bit fingerprint into 64/chunk_bits chunks;
    docs sharing any chunk value are candidates (guarantees recall for
    hamming distance < n_chunks). Uses the precomputed c0..c3 chunk columns
    when present (chunk_bits=16), avoiding signed-shift gymnastics."""
    n_chunks = 64 // chunk_bits
    if chunk_bits == 16 and all(f"c{c}" in sim.columns for c in range(4)):
        chunk_vals = [F.col(f"c{c}") for c in range(4)]
    else:
        mask = (1 << chunk_bits) - 1
        chunk_vals = [
            F.shiftrightunsigned("simhash", c * chunk_bits).bitwiseAND(F.lit(mask))
            for c in range(n_chunks)
        ]
    chunks = [
        F.concat(F.lit(f"{c}:"), chunk_vals[c].cast("string")) for c in range(n_chunks)
    ]
    melted = sim.select("id", "simhash", F.explode(F.array(*chunks)).alias("ck"))
    a, b = melted.alias("a"), melted.alias("b")
    pairs = (
        a.join(b, on="ck")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    return pairs.withColumn(
        "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    ).drop("sh_a", "sh_b")


# Near-dup pairs (~32 MB of longs) connected_components finishes with
# driver union-find; larger pair sets take the Pregel-style loop.
MAX_DRIVER_PAIRS = 2_000_000


def connected_components(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Duplicate-cluster assembly: connected components over an undirected
    near-dup pair set via min-label propagation. Returns (id, cluster_id)
    for every id that appears in `edges`; cluster_id is the smallest member
    id, so representatives are deterministic.

    Scale design: each iteration is one equi-join shuffle keyed by node id
    plus a groupBy — the GraphX/Pregel CC recipe expressed in DataFrames.
    Each round combines a neighbor-min hop with pointer doubling
    (lbl(v) <- lbl(lbl(v))), so convergence is O(log diameter) rounds —
    robust even to adversarial chain components, not just the shallow
    clusters typical of near-dup graphs. `localCheckpoint` truncates lineage each round so
    plans stay bounded. Reference analog: dedup cluster collapse is the
    batch-export "merge duplicate sources" step (src/batch.rs:60-140)
    generalized to fuzzy matches.
    """
    e_sel = edges.select(
        F.col(id_a).cast("long").alias("src"), F.col(id_b).cast("long").alias("dst")
    ).filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
    # Route: up to ``MAX_DRIVER_PAIRS`` pairs the components come from
    # driver union-find (guards.collect_at_most) — min-label CC is a pure
    # function of the edge set, so the output equals the Pregel-style loop
    # below, which larger pair sets take unchanged.
    head = collect_at_most(e_sel, MAX_DRIVER_PAIRS, "connected_components")
    if head is not None:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for row in head:
            a, b = row["src"], row["dst"]
            if a not in parent:
                parent[a] = a
            if b not in parent:
                parent[b] = b
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by min id keeps the representative deterministic
                if ra < rb:
                    parent[rb] = ra
                else:
                    parent[ra] = rb
        out = [(i, find(i)) for i in parent]
        return edges.sparkSession.createDataFrame(
            out, schema="id long, cluster_id long"
        )
    # materialize the (possibly expensive) pair pipeline ONCE before fanning
    # it into both union branches
    e0 = e_sel.localCheckpoint(eager=True)
    sym = (
        e0.union(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = sym.select(F.col("src").alias("id")).distinct().withColumn("lbl", F.col("id"))
    for _ in range(max_iter):
        nbr = (
            sym.join(labels.withColumnRenamed("id", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("lbl").alias("nbr_min"))
        )
        # labels only decrease, so convergence == "no new_lbl < lbl"; check
        # on the checkpointed frame. Convergence of the neighbor-min hop
        # alone is the algorithm's sound fixpoint; the shortcut below is
        # purely an accelerator.
        step = (
            labels.join(nbr, labels["id"] == nbr["src"], "left")
            .select(
                F.col("id"),
                F.col("lbl"),
                F.least(F.col("lbl"), F.coalesce(F.col("nbr_min"), F.col("lbl"))).alias("new_lbl"),
            )
            .localCheckpoint(eager=True)
        )
        changed = step.filter(F.col("new_lbl") < F.col("lbl")).limit(1).count()
        cur = step.select("id", F.col("new_lbl").alias("lbl"))
        if changed == 0:
            labels = cur
            break
        # pointer doubling (lbl(v) <- lbl(lbl(v))) applied LAZILY on the
        # checkpointed frame: the next round's plan absorbs one cheap
        # self-equi-join, and convergence drops from O(diameter) rounds to
        # O(log diameter) — the difference between 4 and 40 shuffles on an
        # adversarial chain component at 100 TB. No extra materialization
        # or action per round.
        hop = cur.select(F.col("id").alias("_t"), F.col("lbl").alias("_tl"))
        labels = cur.join(hop, cur["lbl"] == hop["_t"], "left").select(
            cur["id"],
            F.least(cur["lbl"], F.coalesce(F.col("_tl"), cur["lbl"])).alias("lbl"),
        )
    return labels.select("id", F.col("lbl").alias("cluster_id"))


def dedup_lines(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                delim: str = "\n", max_doc_freq: int = 1) -> DataFrame:
    """C4/RefinedWeb-style line-level dedup: drop every line whose normalized
    form occurs in more than ``max_doc_freq`` distinct documents, then
    reassemble each document from its surviving lines in original order.

    Returns (id_col, n_lines, dropped_lines, text_kept).

    Scale design: explode to (doc, line_no, line) — O(total lines), the same
    cost class as the shingle ops above; line document-frequency is ONE hash
    aggregation keyed on md5(line) (16-byte keys, never the line text, so
    the shuffle carries fixed-width keys); the duplicated-key set is tiny
    relative to the corpus (C4 measured <1%% of distinct lines), so the
    left join back is AQE-broadcastable without forcing it. Reassembly is
    one groupBy(doc) with an array_sort(collect_list(struct(line_no, ...)))
    — deterministic regardless of shuffle order.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), delim)).alias("line_no", "line"),
    ).withColumn("_lk", F.md5(F.trim(F.lower(F.col("line")))))
    dup_keys = (
        lines.groupBy("_lk")
        .agg(F.countDistinct(id_col).alias("_df"))
        .filter(F.col("_df") > int(max_doc_freq))
    )
    marked = lines.join(dup_keys, "_lk", "left").withColumn(
        "_dup", F.col("_df").isNotNull()
    )
    entries = F.array_sort(F.collect_list(F.struct("line_no", "line", "_dup")))
    kept = F.filter(entries, lambda e: ~e["_dup"])
    return (
        marked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(F.col("_dup").cast("int")).cast("long").alias("dropped_lines"),
            F.array_join(
                F.transform(kept, lambda e: e["line"]), delim
            ).alias("text_kept"),
        )
    )


def edit_distance_verify(pairs: DataFrame, docs: DataFrame,
                         id_col: str = "doc_id", text_col: str = "text",
                         max_ratio: float = 0.2) -> DataFrame:
    """Verification stage after LSH candidate generation: exact Levenshtein
    distance on the normalized texts of each candidate pair, plus the
    length-normalized ratio and a verified flag (ratio <= max_ratio).

    Scale design: edit distance is O(len_a * len_b) per pair — affordable
    ONLY because the pair list is LSH-bucketed candidates, orders of
    magnitude smaller than the corpus. Two equi joins attach the texts
    (AQE broadcasts the tiny pair side); the corpus never self-joins and
    never shuffles on text.
    """
    ta = docs.select(F.col(id_col).alias("id_a"), normalize_text(text_col).alias("_ta"))
    tb = docs.select(F.col(id_col).alias("id_b"), normalize_text(text_col).alias("_tb"))
    j = pairs.join(ta, "id_a").join(tb, "id_b")
    d = F.levenshtein("_ta", "_tb")
    glen = F.greatest(F.length("_ta"), F.length("_tb"))
    ratio = d.cast("double") / glen
    return j.select(
        "id_a", "id_b",
        d.cast("long").alias("edit_dist"),
        ratio.alias("edit_ratio"),
        (ratio <= F.lit(float(max_ratio))).cast("int").alias("verified"),
    )


def novelty_scores(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", k: int = 3) -> DataFrame:
    """Per-document novelty: the fraction of its distinct k-word shingles
    that no EARLIER document (by id order) contains — the marginal-new-
    content curve curation pipelines use to decide when a source is mined
    out.

    Point-in-time discipline applied to the corpus axis: a shingle's first
    occurrence is row_number()==1 over (shingle) ordered by doc id, so
    each doc is only credited for content no predecessor had. Cost is one
    explode + one shingle-keyed window + one doc-keyed aggregation —
    O(total shingles), same class as the MinHash path.
    """
    sh = shingle_table(df, id_col=id_col, text_col=text_col, k=k)  # id aliased to "id"
    w = Window.partitionBy("shingle").orderBy("id")
    first = (F.row_number().over(w) == 1).cast("int")
    per = sh.withColumn("_new", first).groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles"),
        F.sum("_new").cast("long").alias("n_novel"),
    )
    return per.select(
        F.col("id").alias(id_col), "n_shingles", "n_novel",
        (F.col("n_novel").cast("double") / F.col("n_shingles")).alias("novelty"),
    )


def positional_ngrams(col, n: int = 8) -> F.Column:
    """ALL word n-grams of the normalized text in position order (array
    <string>, length max(0, n_words - n + 1)) — word_shingles without the
    distinct, for span-level duplicate accounting where every occurrence
    counts. Same zip_with fold (each input evaluated once per row); a doc
    shorter than n words yields an empty array."""
    words = F.split(normalize_text(col), " ")
    nw = F.size(words)
    acc = words
    for j in range(1, n):
        shifted = F.slice(words, j + 1, F.greatest(nw - j, F.lit(0)))
        acc = F.zip_with(acc, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    sh = F.filter(acc, lambda g: g.isNotNull())
    return F.when(nw >= n, sh).otherwise(F.array().cast("array<string>"))


def dup_ngram_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Per-document duplicate-span accounting (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better", the
    ExactSubstr criterion at word granularity): for every position-level
    word n-gram, count its occurrences across the WHOLE corpus (within-doc
    repeats included); a position is duplicated if its n-gram occurs
    >= min_count times. CORPUS-WIDE, unlike functions.repetition's Gopher
    dup-2gram fraction, which looks only inside each document. Output per doc: total n-gram positions and
    duplicated positions — both exact integers, so the duplicate fraction
    ``dup_grams / n_grams`` is a driver-side rational.

    Scale: n-grams are md5-hashed BEFORE the explode, so the corpus-count
    shuffle and the count-back join move 32-byte digests, never text.
    One partial-aggregable groupBy(gram) + one equi join back on gram; at
    100 TB add the hot-gram cap exactly as ngram_jaccard_pairs does
    (boilerplate grams are the skew) — here every gram row is (digest,
    count), so even hot grams cost O(occurrences), not O(occurrences^2).
    """
    from .skew import fan_out_small_scan

    grams = fan_out_small_scan(df).select(
        F.col(id_col).alias("id"),
        F.explode(
            F.transform(positional_ngrams(text_col, n), lambda g: F.md5(g))
        ).alias("gram"),
    )
    cnt = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("_cnt"))
    per = (
        grams.join(cnt, "gram")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(F.when(F.col("_cnt") >= min_count, 1).otherwise(0))
            .cast("long")
            .alias("dup_grams"),
        )
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(per, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("dup_grams", F.lit(0)).cast("long").alias("dup_grams"),
        )
    )


def remove_dup_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """ExactSubstr REMOVAL (the second half of Lee et al. 2022): drop every
    word position covered by at least one corpus-duplicated n-gram and
    reassemble the surviving words in order. Symmetric removal — every
    occurrence of a duplicated span goes, which is the conservative
    variant used when dup spans are boilerplate (headers, licence blocks)
    rather than content worth keeping once.

    Plan: the same digest-only count shuffle as dup_ngram_stats, then the
    duplicated START positions come back per doc as one array
    (collect_list over dup starts only — bounded by dup density, not doc
    length), and the coverage mask + reassembly is a pure JVM higher-order
    expression over the words array. No Python stage, no text through any
    shuffle.
    """
    from .skew import fan_out_small_scan

    words_col = F.split(normalize_text(text_col), " ")
    base = fan_out_small_scan(df).select(F.col(id_col).alias("id"), words_col.alias("_ws"))
    # positional grams from the words array (1-based start positions)
    acc = F.col("_ws")
    nw = F.size("_ws")
    for j in range(1, n):
        shifted = F.slice("_ws", j + 1, F.greatest(nw - j, F.lit(0)))
        acc = F.zip_with(acc, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    pos_grams = F.when(nw >= n, F.filter(acc, lambda g: g.isNotNull())).otherwise(
        F.array().cast("array<string>")
    )
    grams = base.select(
        "id", F.posexplode(F.transform(pos_grams, lambda g: F.md5(g)))
    ).select(
        "id", (F.col("pos") + 1).cast("long").alias("start"), F.col("col").alias("gram")
    )
    cnt = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("_cnt"))
    dup_starts = (
        grams.join(cnt, "gram")
        .filter(F.col("_cnt") >= min_count)
        .groupBy("id")
        .agg(F.sort_array(F.collect_list("start")).alias("_dups"))
    )
    out = base.join(dup_starts, "id", "left").withColumn(
        "_dups", F.coalesce("_dups", F.array().cast("array<long>"))
    )
    # position j (1-based) survives iff no dup start i covers it: i<=j<=i+n-1
    kept = F.filter(
        F.sequence(F.lit(1), F.size("_ws")),
        lambda j: ~F.exists(
            "_dups", lambda i: (i <= j) & (j <= i + F.lit(n - 1))
        ),
    )
    return out.select(
        F.col("id").alias(id_col),
        F.size("_ws").cast("long").alias("n_words"),
        (F.size("_ws") - F.size(kept)).cast("long").alias("n_removed"),
        F.array_join(
            F.transform(kept, lambda j: F.element_at("_ws", j)), " "
        ).alias("text_clean"),
    )


def dedup_against(
    new_df: DataFrame,
    ref_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Incremental-ingestion dedup: flag each NEW document that exactly
    matches (normalized md5) or near-matches (shares any MinHash LSH band
    key with) the EXISTING corpus. The daily-batch path of a living
    corpus — reprocessing the whole corpus per ingest is the thing a
    100-TB pipeline cannot do.

    Both probes are equi-joins keyed on digests: exact = left-semi on
    md5(normalized text); near = left-semi on banded MinHash keys, with
    the reference side's band keys computed once (in practice: persisted
    by the previous run and read back — band keys are 32 bytes/doc/band).
    Returns every new-side row with (exact_dup, near_dup) flags; filter
    `NOT (exact_dup OR near_dup)` to admit.
    """
    fp = F.md5(normalize_text(text_col))
    ref_fp = ref_df.select(fp.alias("_fp")).distinct()
    new_fp = new_df.select(F.col(id_col).alias("id"), fp.alias("_fp"))
    exact = (
        new_fp.join(ref_fp, "_fp", "left_semi").select("id").withColumn(
            "exact_dup", F.lit(True)
        )
    )

    def band_keys(df):
        rows = num_hashes // bands
        sigs = minhash_signatures(df, id_col, text_col, k, num_hashes)
        cols = []
        for b in range(bands):
            parts = [F.col(f"sig_{b * rows + r}") for r in range(rows)]
            cols.append(
                F.concat(F.lit(f"{b}:"), F.md5(F.concat_ws("#", *parts))).alias(
                    f"band_{b}"
                )
            )
        banded = sigs.select("id", *cols)
        return banded.select(
            "id",
            F.explode(F.array(*[F.col(f"band_{b}") for b in range(bands)])).alias(
                "band_key"
            ),
        )

    ref_bands = band_keys(ref_df).select("band_key").distinct()
    near = (
        band_keys(new_df)
        .join(ref_bands, "band_key", "left_semi")
        .select("id")
        .distinct()
        .withColumn("near_dup", F.lit(True))
    )
    return (
        new_df.select(F.col(id_col).alias("id"))
        .join(exact, "id", "left")
        .join(near, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("exact_dup", F.lit(False)).alias("exact_dup"),
            F.coalesce("near_dup", F.lit(False)).alias("near_dup"),
        )
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing fingerprints (Schleimer/MOSS): hash every positional
    k-gram, slide a window of ``w`` consecutive hashes, keep each
    window's MINIMUM — any shared run of >= w+k-1 words between two
    documents is then guaranteed to share a fingerprint, which is the
    local-fingerprinting guarantee full-document hashing can't give.

    Plan: posexplode the positional grams (codegen), md5-hash the slim
    (id, pos, gram) rows, then ONE doc-keyed window (rowsBetween(-(w-1),
    0) min) — measured 4.4x faster at sf0.1 than the pure array-HOF fold
    (zip_with/transform lambdas are interpreted, not codegen; the
    exploded rows stay in whole-stage codegen until the single window
    exchange). Min-per-window (not rightmost-min positions) keeps the
    spec total-order-only, so the DuckDB oracle is an exact windowed min.

    Docs with fewer than w grams contribute min-of-all-hashes; docs with
    no k-gram at all (< k words) fall back to the whole-text hash, so
    every document carries >= 1 fingerprint.
    """
    from pyspark.sql import Window

    def h7(c):
        return F.conv(F.substring(F.md5(c), 1, 7), 16, 10).cast("long")

    from .skew import fan_out_small_scan

    words_n = F.size(F.split(normalize_text(text_col), " "))
    base = fan_out_small_scan(df).select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("_txt"),
        F.greatest(words_n - k + 1, F.lit(0)).alias("_ng"),
    )
    g = (
        base.filter(F.col("_ng") > 0)
        .select("id", "_ng", F.posexplode(positional_ngrams("_txt", n=k)).alias("pos", "gram"))
        .select("id", "_ng", "pos", h7(F.col("gram")).alias("h"))
    )
    wspec = Window.partitionBy("id").orderBy("pos").rowsBetween(-(w - 1), 0)
    long_sel = (
        g.filter(F.col("_ng") >= w)
        .withColumn("mh", F.min("h").over(wspec))
        .filter(F.col("pos") >= w - 1)
        .select("id", F.col("mh").alias("fp"))
    )
    short_sel = (
        g.filter(F.col("_ng") < w).groupBy("id").agg(F.min("h").alias("fp"))
    )
    empty_sel = base.filter(F.col("_ng") == 0).select(
        "id", h7(normalize_text("_txt")).alias("fp")
    )
    return long_sel.unionByName(short_sel).unionByName(empty_sel).distinct()


def winnow_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_fp_freq: int | None = 1000,
) -> DataFrame:
    """Near-dup / plagiarism candidates from shared winnowing fingerprints:
    pairs of documents sharing >= ``min_shared`` local fingerprints, with
    the shared count (the MOSS report's match strength).

    Scale shape identical to the MinHash band join: an equi self-join on
    the fingerprint value (8-byte ints, never text), partial-aggregable
    count per pair. ``max_fp_freq`` drops boilerplate fingerprints shared
    by more than that many docs before the join — the same hot-shingle cap
    that keeps the ngram-Jaccard self-join from quadratic blow-up on
    template text.
    """
    # materialize the fingerprint pipeline ONCE — it feeds both the
    # frequency filter and the join probe (and every CC iteration above)
    fps = winnow_fingerprints(df, id_col, text_col, k, w).localCheckpoint(eager=True)
    if max_fp_freq is not None:
        freq = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("_n"))
        fps = fps.join(freq.filter(F.col("_n") <= max_fp_freq), "fp").drop("_n")
        from ..guards import assert_group_size_at_most

        fps = assert_group_size_at_most(
            fps, "fp", max_fp_freq,
            "winnow hot-fp cap (post-filter fp fan-out <= max_fp_freq)",
        )
    a = fps.select(F.col("fp"), F.col("id").alias("id_a"))
    b = fps.select(F.col("fp"), F.col("id").alias("id_b"))
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def cross_source_overlap(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
    strong_bands: int = 2,
) -> DataFrame:
    """Source-pair contamination matrix: how much near-duplicate mass
    connects each (source, source) cell, from any candidate-pair frame
    (MinHash-LSH, winnowing, simhash) with ``id_a``/``id_b`` columns.

    The first question a corpus owner asks after a dedup sweep is not
    "which pairs" but "WHICH SOURCES are copying each other" — crawl
    mirrors, cross-posted forums, dataset re-releases. Emits per
    unordered source pair: candidate-pair count, strong-pair count
    (>= ``strong_bands`` band collisions when the pair frame carries
    ``n_bands``; otherwise equal to n_pairs), and total band mass.

    Scale shape: two id-keyed equi joins decorate the bounded pair set
    with sources (the big doc->source side never self-joins), then one
    tiny groupBy over |sources|^2 cells. Orientation is normalized with
    least/greatest so (a,b) and (b,a) land in one cell. All-integer
    output.
    """
    has_bands = "n_bands" in pairs.columns
    nb = F.col("n_bands") if has_bands else F.lit(1)
    strong = (nb >= strong_bands) if has_bands else F.lit(True)
    src = docs.select(F.col(id_col), F.col(source_col))
    a = src.select(F.col(id_col).alias("id_a"), F.col(source_col).alias("_src_a"))
    b = src.select(F.col(id_col).alias("id_b"), F.col(source_col).alias("_src_b"))
    m = pairs.join(a, "id_a").join(b, "id_b")
    return (
        m.groupBy(
            F.least("_src_a", "_src_b").alias("src_x"),
            F.greatest("_src_a", "_src_b").alias("src_y"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(strong.cast("long")).cast("long").alias("n_strong"),
            F.sum(nb).cast("long").alias("band_mass"),
        )
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    window: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernandez-Stolfo merge/purge): order
    the corpus by a normalized sort key and emit only pairs within
    ``window`` ranks of each other — O(n*window) candidates instead of
    O(n^2), the classic entity-resolution complement to LSH (catches
    near-dups whose prefixes agree even when shingle sets drift).

    Each candidate carries rank_gap and a same_text exact-match flag so a
    verifier (edit_distance_pairs) can prioritize. Deterministic: the
    sort key is (normalized text, id), integers elsewhere. Scale note:
    the rank here is one global row_number for oracle exactness; the
    100-TB form is repartitionByRange on the key + per-partition ranks
    with a (window-1)-row boundary overlap shipped to the next partition
    (same carry trick as operators/skew chunking).
    """
    keyed = df.select(
        F.col(id_col).alias("id"),
        normalize_text(text_col).alias("_key"),
        F.md5(normalize_text(text_col)).alias("_dig"),
    )
    w = Window.orderBy(F.col("_key").asc(), F.col("id").asc())
    r = keyed.select("id", "_dig", F.row_number().over(w).cast("long").alias("rnk"))
    a = r.select(F.col("id").alias("id_a"), F.col("_dig").alias("dig_a"), F.col("rnk").alias("rnk_a"))
    b = r.select(F.col("id").alias("id_b"), F.col("_dig").alias("dig_b"), F.col("rnk").alias("rnk_b"))
    # equi-join on the exploded rank offset (1..window), never a non-equi
    # range join: each offset is one hash-join key, so the candidate set
    # builds in O(n*window) with zero nested-loop stages
    offs = a.withColumn("_off", F.explode(F.array(*[F.lit(i) for i in range(1, window + 1)])))
    pairs = offs.withColumn("_target", F.col("rnk_a") + F.col("_off")).join(
        b, F.col("_target") == F.col("rnk_b")
    )
    return pairs.select(
        "id_a", "id_b",
        F.col("_off").cast("long").alias("rank_gap"),
        (F.col("dig_a") == F.col("dig_b")).alias("same_text"),
    )


def canned_responses(
    df: DataFrame,
    min_uses: int = 3,
    role: str = "assistant",
) -> DataFrame:
    """Template / canned-response detection across conversations: group
    ``role`` turns by the md5 of their normalized text and keep groups
    reused >= min_uses times. Boilerplate assistant responses ("I
    understand, let me...") dominate gradient signal if left in an SFT
    set at full multiplicity — this is the response-level twin of
    document exact-dedup.

    Output per template: use count, distinct conversations, normalized
    length, and the minimum conv_id occurrence as the canonical keeper.
    One grouped aggregate over digests.
    """
    base = df.filter(F.col("role") == role)
    h = F.md5(normalize_text("text"))
    return (
        base.select(
            h.alias("template_hash"),
            F.length(normalize_text("text")).alias("_len"),
            "conv_id",
            "turn_idx",
        )
        .groupBy("template_hash")
        .agg(
            F.count("*").cast("long").alias("n_uses"),
            F.countDistinct("conv_id").cast("long").alias("n_convs"),
            F.min("_len").cast("long").alias("template_len"),
            F.min("conv_id").alias("keep_conv_id"),
        )
        .filter(F.col("n_uses") >= F.lit(int(min_uses)))
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold_ppm: int = 500_000,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Asymmetric near-dup: shingle-set CONTAINMENT (Broder), the
    quote/subset detector Jaccard misses. A short doc fully quoted inside a
    long one has tiny Jaccard (union is large) but containment_ab =
    |A∩B|/|A| ≈ 1 — exactly the snippet-reuse / boilerplate-inclusion case
    a curation pipeline wants to catch.

    Same join shape as ngram_jaccard_pairs (shingle self-equi-join, sizes
    from a pre-aggregate, optional hot-shingle cap); scores are exact
    integer ppm (n_inter * 1e6 // n_side) so the oracle hash is
    engine-exact. Keeps pairs where either direction >= threshold_ppm.
    """
    sh = shingle_table(df, id_col, text_col, k)
    if max_doc_freq is not None:
        sh = sh.cache()
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_doc_freq)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), on="shingle", how="left_anti")
    sh = sh.cache()
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, on="shingle")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    out = (
        inter.join(
            sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"),
            "id_a",
        )
        .join(
            sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"),
            "id_b",
        )
        .withColumn(
            "containment_ab_ppm",
            F.expr("n_inter * 1000000 div n_a").cast("long"),
        )
        .withColumn(
            "containment_ba_ppm",
            F.expr("n_inter * 1000000 div n_b").cast("long"),
        )
        .filter(
            (F.col("containment_ab_ppm") >= threshold_ppm)
            | (F.col("containment_ba_ppm") >= threshold_ppm)
        )
        .select("id_a", "id_b", "containment_ab_ppm", "containment_ba_ppm")
    )
    return out


def ppjoin_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold_pct: int = 60,
) -> DataFrame:
    """EXACT set-similarity join (PPJoin-style prefix filtering): every
    pair of documents whose word-set Jaccard >= threshold_pct/100, with no
    false negatives — the exact complement to the probabilistic MinHash /
    SimHash families (whose recall dbscan_recall-style meters must
    measure; this operator's recall is 1.0 by construction).

    Prefix-filter lemma (lossless): sort every document's distinct-word
    set by one GLOBAL total order (corpus frequency asc, word asc — rarest
    first, the candidate-minimizing order; correctness holds for ANY total
    order). J(A,B) >= t implies |A∩B| >= ceil(t·|A|) and >= ceil(t·|B|)
    (since J <= |A∩B|/max(|A|,|B|)), and the smallest common token w.r.t.
    the global order must sit within the first |D| - ceil(t·|D|) + 1
    tokens of BOTH documents — so the per-document prefixes of that length
    share a token for every true pair. Candidates additionally pass the
    length filter 100·min(m_a,m_b) >= pct·max(m_a,m_b).

    All decisions are integer: ceil(t·m) = (pct·m + 99) div 100 and the
    final check is 100·inter >= pct·(m_a + m_b − inter); jaccard_ppm is an
    integer floor quotient — nothing float crosses engines.

    Scale shape: one vocab-sized frequency groupBy (the (cnt, word) tuple
    IS the total order — no global dense rank, so no single-task window),
    one per-document sort (window within doc), a prefix-token equi
    self-join (postings on RARE tokens only — the point of the frequency
    order), and one
    candidate-keyed join back to the distinct-token arrays for the exact
    array_intersect verify. Never a CartesianProduct; candidate volume is
    governed by the rare-token postings, the standard web-scale behavior
    of PPJoin (Xiao et al., WWW'08 — public algorithm).
    """
    from ..functions.repetition import normalized_words

    pct = int(threshold_pct)
    from .skew import fan_out_small_scan

    tok = fan_out_small_scan(df).select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(normalized_words(text_col))).alias("word"),
    )
    freq = tok.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    tl = tok.join(freq, "word")
    # the global total order is the (cnt, word) tuple itself — no dense
    # global rank (which would be a single-task window) is ever needed;
    # the only sort is per-document
    wd = Window.partitionBy("id")
    tl = tl.select(
        "id", "word",
        F.row_number().over(wd.orderBy(F.asc("cnt"), F.asc("word"))).alias("pos"),
        F.count(F.lit(1)).over(wd).alias("m"),
    )
    # prefix length = m - ceil(pct*m/100) + 1. Materialize once: the
    # prefix table sits on top of the frequency join + per-document
    # window, and the a/b self-join below would otherwise recompute that
    # whole subtree twice (7.0 -> 4.1 s at sf0.1).
    pre = tl.filter(
        F.col("pos") <= F.col("m") - F.expr(f"({pct} * m + 99) div 100") + 1
    ).select("id", "word", "m").localCheckpoint(eager=True)

    cand = (
        pre.alias("a")
        .join(pre.alias("b"), "word")
        .filter(F.col("a.id") < F.col("b.id"))
        .filter(
            F.lit(100) * F.least(F.col("a.m"), F.col("b.m"))
            >= F.lit(pct) * F.greatest(F.col("a.m"), F.col("b.m"))
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
        # explicit pair-keyed repartition: the exact array_intersect verify
        # below is compute-bound but byte-light, and AQE's byte-based
        # coalescing was collapsing it to 2 tasks (r6 event-log profile:
        # one 3.1 s straggler stage). A user repartition is not coalesced;
        # the count stays the scale-parameterised shuffle.partitions.
        .repartition("id_a", "id_b")
    )

    toks = fan_out_small_scan(df).select(
        F.col(id_col).alias("id"),
        F.array_distinct(normalized_words(text_col)).alias("tw"),
    )
    out = (
        cand.join(
            toks.select(F.col("id").alias("id_a"), F.col("tw").alias("ta")), "id_a"
        )
        .join(
            toks.select(F.col("id").alias("id_b"), F.col("tw").alias("tb")), "id_b"
        )
        .withColumn("inter", F.size(F.array_intersect("ta", "tb")).cast("long"))
        .withColumn(
            "union_sz",
            (F.size("ta") + F.size("tb")).cast("long") - F.col("inter"),
        )
        .filter(F.lit(100) * F.col("inter") >= F.lit(pct) * F.col("union_sz"))
        .select(
            "id_a", "id_b", "inter", "union_sz",
            F.expr("inter * 1000000 div union_sz").cast("long").alias("jaccard_ppm"),
        )
    )
    return out


def bleu_components(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_n: int = 4,
) -> DataFrame:
    """Exact BLEU sufficient statistics (Papineni et al., ACL 2002) for
    each candidate pair — the MT-style verification stage after LSH, for
    template detection and paraphrase-level near-dup triage where Jaccard
    over distinct shingles is too coarse (BLEU keeps multiplicity and
    clips).

    For pair (id_a = reference, id_b = candidate) and each order
    n = 1..max_n this emits the CLIPPED modified-precision counts
        m_n = sum over grams of min(count_a(gram), count_b(gram))
        c_n = max(cand_len - n + 1, 0)        (candidate n-gram total)
    plus ref_len / cand_len word counts — every BLEU variant (smoothed,
    sentence, corpus; any weighting) is a trivial client-side float fold
    over these int64 columns, so the distributed stage never leaves
    integer space and the oracle is engine-exact.

    Scale shape: gram counts are built ONLY for ids appearing in `pairs`
    (leftsemi prune), one groupBy on (id, n, gram); the match join fans
    each pair out by its shared grams only — candidates come from LSH, so
    this is O(pairs x shared-grams), never corpus^2. All JVM built-ins;
    no UDFs.

    Returns ``DataFrame[id_a, id_b, ref_len, cand_len, m1..m{max_n},
    c1..c{max_n}]`` (all long; missing orders are 0).
    """
    # pairs is consumed three times (ids union x2 + the final pair join)
    # and typically carries a whole LSH candidate pipeline underneath;
    # cnt is consumed twice (both join sides). Materialize each ONCE —
    # without the checkpoints Spark recomputes the candidate generation
    # three times (bleu_pairs at sf0.1: 8.0 s warm / 15.4 s in
    # marathon context -> 5.1 s warm).
    pairs = pairs.localCheckpoint(eager=True)
    ids = (
        pairs.select(F.col("id_a").alias("id"))
        .union(pairs.select(F.col("id_b").alias("id")))
        .distinct()
    )
    base = docs.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("_txt")
    ).join(ids, "id", "leftsemi")

    # NOTE(r6): a single-explode form (per-n arrays tagged (n, gram) via
    # transform, concatenated, exploded once — 1 scan instead of 4) was
    # tried and measured SLOWER warm (alternating A/B at sf0.1: 1.50 vs
    # 1.20 s min-of-4): the concatenated zip_with folds make one
    # mega-expression stage that codegens and runs slower than the four
    # parallel union branches. Keep the union.
    per_n = [
        base.select(
            "id",
            F.lit(n).alias("n"),
            F.explode(positional_ngrams("_txt", n=n)).alias("gram"),
        )
        for n in range(1, max_n + 1)
    ]
    grams = per_n[0]
    for g in per_n[1:]:
        grams = grams.unionByName(g)
    cnt = grams.groupBy("id", "n", "gram").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).localCheckpoint(eager=True)

    a = cnt.select(
        F.col("id").alias("id_a"), "n", "gram", F.col("c").alias("ca")
    )
    b = cnt.select(
        F.col("id").alias("id_b"), "n", "gram", F.col("c").alias("cb")
    )
    m = (
        pairs.select("id_a", "id_b")
        .join(a, "id_a")
        .join(b, ["id_b", "n", "gram"])
        .groupBy("id_a", "id_b", "n")
        .agg(F.sum(F.least("ca", "cb")).alias("m"))
    )
    mm = m.groupBy("id_a", "id_b").agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("n") == n, F.col("m"))), F.lit(0)
            ).cast("long").alias(f"m{n}")
            for n in range(1, max_n + 1)
        ]
    )

    lens = base.select("id", F.size(F.split(normalize_text("_txt"), " ")).alias("wl"))
    la = lens.select(F.col("id").alias("id_a"), F.col("wl").alias("ref_len"))
    lb = lens.select(F.col("id").alias("id_b"), F.col("wl").alias("cand_len"))
    out = (
        pairs.select("id_a", "id_b")
        .join(la, "id_a")
        .join(lb, "id_b")
        .join(mm, ["id_a", "id_b"], "left")
    )
    cols = [
        "id_a", "id_b",
        F.col("ref_len").cast("long").alias("ref_len"),
        F.col("cand_len").cast("long").alias("cand_len"),
    ]
    for n in range(1, max_n + 1):
        cols.append(F.coalesce(F.col(f"m{n}"), F.lit(0)).cast("long").alias(f"m{n}"))
    for n in range(1, max_n + 1):
        cols.append(
            F.greatest(F.col("cand_len") - (n - 1), F.lit(0))
            .cast("long").alias(f"c{n}")
        )
    return out.select(*cols)


def minhash_recall(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold_pct: int = 80,
) -> DataFrame:
    """Measured recall of the banded MinHash candidate generator against
    the EXACT shingle-Jaccard truth set — the honesty meter the flagship
    dedup path was missing (ivf_recall and dbscan_recall already grade
    their ANN/density approximations; this grades LSH): what fraction of
    true Jaccard >= threshold pairs does the 16-hash/4-band scheme
    actually surface? The theoretical hit probability at s = 0.8 with
    r = 4 rows/band is 1-(1-s^4)^4 ~ 0.93 — this REPORTS the realized
    value on the corpus instead of assuming it.

    Truth = ngram_jaccard_pairs (exact co-occurrence join, NO doc-freq
    cap — truth must be lossless, so run this on a bounded sample; the
    registered query uses a deterministic md5 1/8 corpus sample, the
    ppjoin_pairs precedent). Candidates = minhash_lsh_pairs on the SAME
    shingle space (same k). Returns 1 row: (n_truth, n_candidates,
    n_hit, recall_ppm, precision_proxy_ppm) — both released as exact
    ppm trunc divisions; precision_proxy counts candidate pairs that
    meet the threshold (true positives) against all candidates.

    Scale shape: the truth join is the deliberate exact meter (pairs
    bounded by the sample's co-occurrence structure); candidates reuse
    the banded equi-join; the comparison is one (id_a, id_b) equi-join
    + a 1-row aggregate.
    """
    truth = ngram_jaccard_pairs(
        df, id_col, text_col, k=k, threshold=threshold_pct / 100.0
    ).select("id_a", "id_b")
    # cands is consumed twice (the hit join + the candidate count) —
    # materialize once so the band self-join doesn't re-run
    cands = minhash_lsh_pairs(
        df, id_col, text_col, k=k, num_hashes=num_hashes, bands=bands
    ).select("id_a", "id_b").localCheckpoint(eager=True)
    hit = truth.join(
        cands.withColumn("_c", F.lit(1)), ["id_a", "id_b"], "left"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_truth"),
        F.coalesce(F.sum("_c"), F.lit(0)).cast("long").alias("n_hit"),
    )
    nc = cands.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    out = hit.crossJoin(F.broadcast(nc))
    return out.select(
        "n_truth", "n_candidates", "n_hit",
        F.expr(
            "cast(case when n_truth > 0 then"
            " (cast(n_hit as decimal(38,0)) * 1000000) div n_truth"
            " else 0 end as bigint)"
        ).alias("recall_ppm"),
        F.expr(
            "cast(case when n_candidates > 0 then"
            " (cast(n_hit as decimal(38,0)) * 1000000) div n_candidates"
            " else 0 end as bigint)"
        ).alias("precision_proxy_ppm"),
    )
