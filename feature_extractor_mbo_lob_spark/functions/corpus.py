"""Corpus-level text statistics for training-data pipelines: vocabulary
building (word frequency top-k), per-document TF-IDF top terms, URL/domain
analysis, and deterministic hash sampling.

Scale design:
* vocabulary — explode words -> groupBy(word) with map-side partial
  aggregation, so the shuffle is O(|vocab|), then a TakeOrdered top-k
  (no global sort materialization);
* TF-IDF — two keyed aggregations (term counts per doc, document frequency
  per term) joined on the term; the df side is vocab-sized, so AQE decides
  broadcast vs shuffle from its measured size. Ranking uses integer-only
  ordering (tf desc, df asc, word asc) so cross-engine float rounding can
  never reorder the top-k; the float score is emitted as a value column
  only;
* hash sampling — md5-bucket Bernoulli sampling: stateless, reproducible,
  embarrassingly parallel, and exactly reproducible in any engine with md5.

Reference analog: the export pipeline's symbol-frequency manifest
(tools/export_dataset.rs) generalized to corpus statistics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from ..contract import DIVISION_GUARD_EPS
from .repetition import normalized_words


def md5_bucket(col, buckets: int):
    """Deterministic bucket in [0, buckets) from md5 of the stringified id.
    Works for ANY id type (string ids are common in real corpora — a numeric
    pmod would yield NULL shards silently, or error under ANSI). Exactly
    reproducible in any engine with md5: first 7 hex chars -> int % buckets
    (DuckDB twin: driver_queries._HEX7). Accepts a column name or a
    Column expression."""
    c = col if isinstance(col, F.Column) else F.col(col)
    return (
        F.conv(F.substring(F.md5(c.cast("string")), 1, 7), 16, 10)
        .cast("long")
        % buckets
    )


def word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt) over the whole corpus."""
    return (
        df.select(F.explode(normalized_words(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def vocab_topk(df: DataFrame, k: int = 100, text_col: str = "text") -> DataFrame:
    """Top-k corpus vocabulary by frequency; ties break lexicographically so
    the result is fully deterministic.

    orderBy().limit(k) FIRST — Spark executes that as a distributed
    TakeOrderedAndProject (per-partition heaps + driver merge of k rows);
    the rank window then runs over only k rows. A bare global row_number
    window would drag the whole vocabulary through one task at 100 TB."""
    wc = word_counts(df, text_col)
    top = wc.orderBy(F.col("cnt").desc(), F.col("word").asc()).limit(k)
    w = Window.orderBy(F.col("cnt").desc(), F.col("word").asc())
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "word",
        F.col("cnt").cast("long").alias("cnt"),
    )


def tf_idf_top_terms(
    df: DataFrame, k: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document top-k terms.

    Ordering is (term count desc, document frequency asc, word asc) —
    integers only, so any engine ranks identically; the smoothed TF-IDF
    score ln(1 + N/df) * tf is emitted for consumers but never used to
    rank (cross-engine float noise must not pick different rows).
    """
    from ..operators.skew import fan_out_small_scan

    words = fan_out_small_scan(df).select(
        F.col(id_col).alias("id"), F.explode(normalized_words(text_col)).alias("word")
    )
    tf = words.groupBy("id", "word").agg(F.count(F.lit(1)).alias("cnt"))
    # corpus size as a lazy 1-row broadcast, not a driver-side .count()
    n = df.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    doc_len = tf.groupBy("id").agg(F.sum("cnt").alias("n_words"))
    scored = (
        # no broadcast hint on dfreq: it is |vocab|-sized, which is only
        # small for clean corpora — AQE broadcasts it when it measures small
        tf.join(dfreq, "word")
        .join(doc_len, "id")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            (F.col("cnt") / (F.col("n_words") + F.lit(DIVISION_GUARD_EPS)))
            * F.log(F.lit(1.0) + F.col("n_docs") / F.col("df")),
        )
    )
    w = Window.partitionBy("id").orderBy(
        F.col("cnt").desc(), F.col("df").asc(), F.col("word").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "id",
            F.col("rank").cast("long").alias("rank"),
            "word",
            F.col("cnt").cast("long").alias("cnt"),
            F.col("df").cast("long").alias("df"),
            F.col("tfidf").cast("double").alias("tfidf"),
        )
    )


DOMAIN_RE = r"https?://([a-zA-Z0-9.-]+)"


def domain_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(domain, n_docs, n_urls): how many docs reference each domain and how
    often — the blocklist/allowlist primitive of web-corpus curation."""
    c = F.col(text_col)
    urls = df.select(
        F.col("doc_id"),
        F.explode(F.regexp_extract_all(c, F.lit(DOMAIN_RE), F.lit(1))).alias("domain"),
    )
    return urls.groupBy("domain").agg(
        F.count_distinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_urls"),
    )


def hash_sample(
    df: DataFrame, frac: float, id_col: str = "doc_id", buckets: int = 10_000
) -> DataFrame:
    """Deterministic Bernoulli sample: keep rows whose md5(id) bucket falls
    below frac * buckets. Stateless and engine-reproducible (vs rand(seed),
    whose stream is engine- and partitioning-specific)."""
    return df.filter(md5_bucket(id_col, buckets) < int(frac * buckets))


def priority_sample(
    df: DataFrame,
    k: int,
    weight_col: str = "n_chars",
    id_col: str = "doc_id",
    group_col: str | None = "source",
    scale: int = 10**6,
) -> DataFrame:
    """Deterministic weighted bottom-k sample per group: probability-
    proportional-to-size order sampling (Sunter 1977 / sequential Poisson,
    Ohlsson 1998) with an integer priority key

        priority = (md5_int(id) * scale) div max(weight, 1)

    so heavier rows get systematically smaller keys and the k smallest
    keys per group form the sample. Stateless and engine-reproducible —
    the same md5-derived uniform the hash_sample family uses (never
    rand(seed), whose stream is engine/partition specific), and the
    floor-division is exact int64 (md5 7-hex prefix < 2^28, scale 1e6 ->
    product < 2^48).

    Ties (identical priority) break on the id itself, making the sample a
    total function of the data. One shuffle: the per-group window. At
    100 TB the window partitions by group (sources are O(100s)), so for
    very few groups pre-aggregation salting applies; the registered query
    uses per-source groups which bound partition width at corpus/sources.
    """
    from pyspark.sql.window import Window

    priority = F.expr(
        f"(cast(conv(substring(md5(cast({id_col} as string)), 1, 7), 16, 10)"
        f" as bigint) * {int(scale)})"
        f" div greatest(cast({weight_col} as bigint), 1)"
    )
    groups = [group_col] if group_col else []
    win = Window.partitionBy(*groups).orderBy(
        F.col("_priority"), F.col(id_col)
    )
    out = (
        df.withColumn("_priority", priority.cast("long"))
        .withColumn("_rk", F.row_number().over(win))
        .filter(F.col("_rk") <= int(k))
        .drop("_rk")
    )
    return out.withColumnRenamed("_priority", "priority_fp")


def pack_token_stream(
    df: DataFrame,
    budget: int = 512,
    n_shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Pretraining sample packing (GPT-style concat-and-chunk): documents
    are concatenated in id order within deterministic shards and chunked
    into fixed `budget`-token windows. Emits each document's stream offset
    and the first/last window it lands in.

    Scale design: the cumulative sum is per-shard (Window.partitionBy), so
    there is no global sort — each shard is an independent training stream
    and packs in parallel; shard count scales with the cluster."""
    from .text import token_count_ws

    t = df.select(
        F.col(id_col).alias("id"),
        md5_bucket(id_col, n_shards).cast("long").alias("shard"),
        token_count_ws(text_col).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    t = t.withColumn("offset", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
    end = F.col("offset") + F.greatest(F.col("n_tokens"), F.lit(1)) - 1
    return t.select(
        "id",
        "shard",
        "n_tokens",
        F.col("offset").cast("long").alias("offset"),
        F.floor(F.col("offset") / budget).cast("long").alias("bin_start"),
        F.floor(end / budget).cast("long").alias("bin_end"),
    )


def contamination_overlap(
    train: DataFrame,
    eval_df: DataFrame,
    k: int = 3,
    threshold: float = 0.03,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_eval_shingles: int = 10_000_000,
) -> DataFrame:
    """Benchmark decontamination: per training document, the fraction of
    its distinct k-word shingles that appear anywhere in the eval set.

    Scale design: eval benchmarks are tiny next to a 100-TB train corpus,
    so the eval shingle set is broadcast; the train side is one explode
    plus one keyed aggregation — the corpus text itself is never shuffled.
    ``max_eval_shingles`` is the fail-fast broadcast budget (~10M shingles
    ≈ 400 MB broadcast): an "eval set" that is actually another corpus
    raises instead of silently OOMing the driver/executors.
    """
    from ..operators.dedup import shingle_table

    ts = shingle_table(train, id_col, text_col, k)
    es = shingle_table(eval_df, id_col, text_col, k).select("shingle").distinct()
    n_es = es.count()
    if n_es > max_eval_shingles:
        raise ValueError(
            f"contamination_overlap: eval set has {n_es} distinct shingles > "
            f"max_eval_shingles={max_eval_shingles}; the broadcast side must "
            "be benchmark-sized. Use bloom_contamination (fixed-size bitmap) "
            "for corpus-scale eval sets, or raise the cap."
        )
    tot = ts.groupBy("id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hit = (
        ts.join(F.broadcast(es), "shingle")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    out = tot.join(hit, "id", "left")
    frac = F.coalesce(F.col("n_shared"), F.lit(0)).cast("double") / (
        F.col("n_shingles").cast("double") + F.lit(DIVISION_GUARD_EPS)
    )
    return out.select(
        "id",
        F.col("n_shingles").cast("long").alias("n_shingles"),
        F.coalesce(F.col("n_shared"), F.lit(0)).cast("long").alias("n_shared"),
        frac.alias("overlap_frac"),
        F.when(frac >= threshold, F.lit(1)).otherwise(F.lit(0)).cast("int").alias("contaminated"),
    )


def unigram_logprob(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Perplexity-style quality signal from a corpus unigram LM: per
    document, the mean log-probability of its words under the corpus word
    distribution (with add-one smoothing). Low scores flag gibberish /
    out-of-distribution documents — the poor man's KenLM filter, two keyed
    aggregations and one join, no model artifact.

    All counts are exact integers; the only floats are ln() and the final
    mean, computed with the identical expression in the SQL oracle."""
    from ..operators.skew import fan_out_small_scan

    words = fan_out_small_scan(df).select(
        F.col(id_col).alias("id"), F.explode(normalized_words(text_col)).alias("word")
    )
    wc = words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    tot = wc.agg(
        F.sum("cnt").cast("double").alias("n_total"),
        F.count(F.lit(1)).cast("double").alias("n_vocab"),
    )
    # per (doc, word) counts keep the join input at distinct pairs
    dw = words.groupBy("id", "word").agg(F.count(F.lit(1)).alias("k"))
    scored = (
        dw.join(wc, "word")
        .crossJoin(F.broadcast(tot))
        .withColumn("lp", F.log((F.col("cnt") + 1.0) / (F.col("n_total") + F.col("n_vocab"))))
    )
    return scored.groupBy("id").agg(
        F.sum(F.col("k")).cast("long").alias("n_words"),
        (F.sum(F.col("k") * F.col("lp")) / F.sum(F.col("k")).cast("double")).alias(
            "mean_logprob"
        ),
    )


def hashed_embedding(
    df: DataFrame, dim: int = 16, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Model-free document vectors via the hashing trick: each word maps to
    md5-derived bucket in [0, dim); the document vector is the bucket-count
    histogram (integer counts cast to double — exact on any engine; cosine
    downstream is scale-invariant, so no normalization needed).

    One explode + one keyed aggregation; feeds the similarity/kmeans family
    so a corpus can be clustered with zero model artifacts."""
    assert dim <= 16, "bucket = first md5 nibble; dim > 16 needs more nibbles"
    from ..operators.skew import fan_out_small_scan

    words = fan_out_small_scan(df).select(
        F.col(id_col).alias("id"), F.explode(normalized_words(text_col)).alias("word")
    )
    bucket = F.conv(F.substring(F.md5("word"), 1, 1), 16, 10).cast("int") % dim
    b = words.select("id", bucket.alias("b"))
    vec = F.array(
        *[F.sum(F.when(F.col("b") == i, 1).otherwise(0)).cast("double") for i in range(dim)]
    )
    return b.groupBy("id").agg(vec.alias("embedding"))


def stratified_hash_sample(
    df: DataFrame,
    fracs: dict,
    strat_col: str = "lang",
    default_frac: float = 1.0,
    id_col: str = "doc_id",
    buckets: int = 10_000,
) -> DataFrame:
    """Per-stratum deterministic Bernoulli sampling — the data-mixing
    primitive (downsample high-resource languages/sources, keep the rest).
    Same md5 bucket as hash_sample with a per-stratum threshold, so the
    same document keeps/drops consistently across runs and engines."""
    bucket = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 7), 16, 10).cast(
        "long"
    ) % buckets
    thresh = F.lit(int(default_frac * buckets))
    for key, frac in sorted(fracs.items()):
        thresh = F.when(F.col(strat_col) == key, F.lit(int(frac * buckets))).otherwise(thresh)
    return df.filter(bucket < thresh)


def bigram_logprob(
    df: DataFrame,
    lam: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Interpolated bigram-LM quality score: per document, the mean
    log[ lam * P(w_i | w_{i-1}) + (1-lam) * P(w_i) ] under corpus counts
    with add-one smoothing — the standard cheap stand-in for a KenLM
    perplexity filter, and strictly sharper than unigram_logprob on
    repetitive or shuffled text.

    Distributed form: corpus bigram counts ride the same explode ->
    partial-agg shuffle as repetition's gram table; the per-doc score is
    one join per table plus a keyed mean. Integer counts throughout; ln
    and the mean are mirrored exactly in the SQL oracle."""
    from .repetition import gram_counts

    from ..operators.skew import fan_out_small_scan

    words = fan_out_small_scan(df).select(
        F.col(id_col).alias("id"), F.explode(normalized_words(text_col)).alias("word")
    )
    uni = words.groupBy("word").agg(F.count(F.lit(1)).alias("ucnt"))
    tot = uni.agg(
        F.sum("ucnt").cast("double").alias("n_total"),
        F.count(F.lit(1)).cast("double").alias("n_vocab"),
    )
    # corpus bigram counts over all docs
    bi = (
        gram_counts(df, id_col, text_col)
        .groupBy("gram")
        .agg(F.sum("cnt").alias("bcnt"))
    )
    # per-doc bigram occurrences with their context word
    dg = gram_counts(df, id_col, text_col).withColumn(
        "w_prev", F.split("gram", " ")[0]
    ).withColumn("w_cur", F.split("gram", " ")[1])
    prev_uni = uni.select(F.col("word").alias("w_prev"), F.col("ucnt").alias("prev_cnt"))
    cur_uni = uni.select(F.col("word").alias("w_cur"), F.col("ucnt").alias("cur_cnt"))
    scored = (
        dg.join(bi, "gram")
        .join(prev_uni, "w_prev")
        .join(cur_uni, "w_cur")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "lp",
            F.log(
                F.lit(lam) * (F.col("bcnt") + 1.0)
                / (F.col("prev_cnt") + F.col("n_vocab"))
                + F.lit(1.0 - lam) * (F.col("cur_cnt") + 1.0)
                / (F.col("n_total") + F.col("n_vocab"))
            ),
        )
    )
    return scored.groupBy("id").agg(
        F.sum("cnt").cast("long").alias("n_bigrams"),
        (F.sum(F.col("cnt") * F.col("lp")) / F.sum("cnt").cast("double")).alias(
            "mean_logprob"
        ),
    )


def balance_classes(
    df: DataFrame,
    class_col: str,
    id_col: str = "doc_id",
    buckets: int = 10_000,
) -> DataFrame:
    """Deterministic class rebalancing: downsample every class to the
    minority class's size (in expectation) with the same md5-bucket
    Bernoulli as `stratified_hash_sample`, but the per-class keep fraction
    is COMPUTED from the data (min_count/count) instead of given.

    Thresholds use pure integer math — (buckets * min) div count — so the
    keep set is bit-reproducible across runs and engines. Plan: one
    O(|classes|) aggregate, one 1-row min, one broadcast join; no collect,
    no window, the big table is touched once.
    """
    cnts = df.groupBy(class_col).agg(F.count(F.lit(1)).alias("_n"))
    mn = cnts.agg(F.min("_n").alias("_m"))
    th = cnts.join(F.broadcast(mn)).select(
        F.col(class_col).alias("_cc"),
        F.expr(f"({int(buckets)} * _m) div _n").alias("_thresh"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 7), 16, 10)
        .cast("long") % buckets
    )
    # eqNullSafe: a NULL class is a real stratum (groupBy counts it as one,
    # so the join back must reach it too)
    return (
        df.join(F.broadcast(th), df[class_col].eqNullSafe(th["_cc"]))
        .filter(bucket < F.col("_thresh"))
        .drop("_cc", "_thresh")
    )


def top_k_per_group(
    df: DataFrame,
    group_col: str,
    item_col: str,
    k: int = 3,
) -> DataFrame:
    """Top-k most frequent items per group as an ordered array column
    (ties broken by item value for determinism).

    One partial-aggregable count shuffle + one per-group array fold:
    collect the (count, item) pairs per group, sort_array descending,
    slice k. No rank window over the big table (a window would re-shuffle
    every row; this aggregates counts first, so the array step sees only
    distinct items). Item cardinality per group is assumed bounded (tools,
    languages, domains) — for unbounded items use vocab_topk's TakeOrdered.
    """
    cnt = (
        df.filter(F.col(item_col).isNotNull())
        .groupBy(group_col, item_col)
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    pair = F.struct(F.col("_n").alias("n"), F.col(item_col).alias("item"))
    return (
        cnt.groupBy(group_col)
        .agg(
            F.slice(
                F.reverse(F.array_sort(F.collect_list(pair))), 1, k
            ).alias("_top")
        )
        .select(
            group_col,
            F.transform("_top", lambda s: s["item"]).alias("top_items"),
            F.transform("_top", lambda s: s["n"].cast("long")).alias("top_counts"),
        )
    )


def rarity_quality_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "lang",
    n_buckets: int = 3,
    exact: bool = True,
) -> DataFrame:
    """CCNet-style per-language quality bucketing (head / middle / tail),
    driven by an INTEGER rarity score so the bucket assignment is exact
    and engine-independent.

    Score: per-word corpus frequency summed over the document, scaled to
    micro-units per word (``freq_sum * 1_000_000 div n_words``). Common
    words -> high score -> "head"; rare/garbled text -> low score ->
    "tail". CCNet uses an LM perplexity here; the corpus-frequency score
    is the LM-free analog with the same bucketing mechanics and none of
    the cross-engine float-ordering hazards.

    ``exact=True`` assigns buckets by rank (``ntile``) inside each
    language partition — the oracle-exact form, one window per language
    (fine up to ~100M docs/lang). ``exact=False`` is the 100-TB path:
    per-language approximate cutpoints from ``percentile_approx`` (a tiny
    aggregate row, broadcast back) — same shape as
    ``normalization.quantile_bin``'s scale note.
    """
    words = F.explode(normalized_words(text_col)).alias("word")
    doc_words = df.select(F.col(id_col), F.col(group_col), words)
    freq = doc_words.groupBy("word").agg(F.count(F.lit(1)).alias("_wf"))
    scored = (
        doc_words.join(freq, "word")
        .groupBy(id_col, group_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("_wf").cast("long").alias("freq_sum"),
        )
        .withColumn(
            # integer `div`, not floor(float-divide): exact at any magnitude
            "rarity_score",
            F.expr("(freq_sum * 1000000L) div n_words").cast("long"),
        )
    )
    if exact:
        w = Window.partitionBy(group_col).orderBy(
            F.col("rarity_score").desc(), F.col(id_col)
        )
        return scored.withColumn("bucket", F.ntile(n_buckets).over(w).cast("int"))
    qs = [i / n_buckets for i in range(1, n_buckets)]
    cuts = scored.groupBy(group_col).agg(
        F.percentile_approx(
            F.col("rarity_score").cast("double"), qs, F.lit(10_000)
        ).alias("_cuts")
    )
    # bucket 1 = highest scores (head), matching the exact form's ordering
    return scored.join(F.broadcast(cuts), group_col).withColumn(
        "bucket",
        (
            F.lit(n_buckets)
            - F.aggregate(
                "_cuts",
                F.lit(0),
                lambda acc, c: acc
                + F.when(F.col("rarity_score") >= c, 1).otherwise(0),
            )
        ).cast("int"),
    ).drop("_cuts")


def mixture_plan(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    weights: dict[str, int] | None = None,
) -> DataFrame:
    """Data-mixing plan: for each source, how many epochs (repeats) of its
    tokens a training run needs to hit the target mixture.

    ``weights`` maps source -> integer target weight (relative shares;
    unlisted sources default to weight 1; ``None`` = uniform). The epoch
    factor for source s is  (total_tokens * w_s / W) / tokens_s  — emitted
    as an EXACT integer rational ``(epochs_num, epochs_den)`` plus its
    integer floor ``full_epochs``, so the plan is reproducible bit-for-bit
    in any engine; callers turn the fractional remainder into a hash-
    sampled partial epoch (``hash_sample`` with rate num/den).

    Two tiny aggregations (per-source token counts, then a single-row
    total broadcast back); nothing here scales with corpus size except
    the first count scan.
    """
    from .text import token_count_ws

    per = df.groupBy(source_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(token_count_ws(text_col)).cast("long").alias("tokens"),
    )
    if weights:
        wmap = F.create_map(
            *[F.lit(x) for kv in weights.items() for x in kv]
        )
        per = per.withColumn(
            "weight", F.coalesce(wmap[F.col(source_col)], F.lit(1)).cast("long")
        )
    else:
        per = per.withColumn("weight", F.lit(1).cast("long"))
    tot = per.agg(
        F.sum("tokens").cast("long").alias("total_tokens"),
        F.sum("weight").cast("long").alias("total_weight"),
    )
    out = per.crossJoin(F.broadcast(tot))
    num = F.col("total_tokens") * F.col("weight")
    den = F.col("tokens") * F.col("total_weight")
    return out.select(
        source_col,
        "n_docs",
        "tokens",
        "weight",
        "total_tokens",
        num.cast("long").alias("epochs_num"),
        den.cast("long").alias("epochs_den"),
    ).withColumn(
        # integer `div`, not floor(float-divide): exact at any magnitude
        "full_epochs",
        F.expr("epochs_num div epochs_den").cast("long"),
    )


def apply_mixture(
    df: DataFrame,
    plan: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Materialize a ``mixture_plan``: each document appears
    ``full_epochs`` times, plus one extra epoch for a deterministic
    md5-bucket slice of the source sized to the fractional remainder
    (rate = (epochs_num mod epochs_den)/epochs_den, realized at 1/10000
    granularity — integer compare, engine-exact). Output one
    (id, source, epoch) row per planned copy.

    The plan is per-source (tiny) and broadcast; the epoch fan-out is a
    per-row sequence explode — narrow, no shuffle. Downstream unions this
    with the feature frame by id to physically build the training mix.
    """
    j = df.select(F.col(id_col), F.col(source_col)).join(
        F.broadcast(plan.select(source_col, "epochs_num", "epochs_den")), source_col
    )
    full = F.expr("epochs_num div epochs_den")
    rem = F.expr("epochs_num % epochs_den")
    extra = (md5_bucket(id_col, 10_000) * F.col("epochs_den")) < (rem * F.lit(10_000))
    n_rep = (full + extra.cast("long")).cast("long")
    reps = F.when(
        n_rep >= 1, F.sequence(F.lit(1).cast("long"), n_rep)
    ).otherwise(F.array().cast("array<long>"))
    return j.select(
        id_col, source_col, F.explode(reps).alias("epoch")
    )


def corpus_diff(
    old_df: DataFrame,
    new_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Snapshot-to-snapshot corpus diff: per doc_id, whether the document
    was ``added``, ``removed``, ``changed``, or ``unchanged`` between two
    corpus versions, judged by md5 of the normalized text. The audit step
    between ingests — downstream incremental jobs (dedup_against,
    feature refresh) process only the added+changed slice.

    One full outer join keyed on the id; each side carries only
    (id, 32-byte digest), so the shuffle is fingerprint-sized no matter
    how wide the documents are.
    """
    from ..operators.dedup import normalize_text

    def fp(df, name):
        return df.select(
            F.col(id_col).alias("id"), F.md5(normalize_text(text_col)).alias(name)
        )

    o = fp(old_df, "_old_fp")
    n = fp(new_df, "_new_fp")
    joined = o.join(n, "id", "full_outer")
    status = (
        F.when(F.col("_old_fp").isNull(), F.lit("added"))
        .when(F.col("_new_fp").isNull(), F.lit("removed"))
        .when(F.col("_old_fp") == F.col("_new_fp"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return joined.select(F.col("id").alias(id_col), status.alias("status"))


def cohort_retention(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    unit_days: int = 7,
) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity period,
    counted per period offset — the activity/engagement rollup every
    usage-analytics pipeline runs over event logs (here: conversation
    turns by user).

    Returns ``DataFrame[cohort: date, offset: int, active_users: long]``
    where cohort is the start of the user's first ``unit_days`` period
    and offset counts periods since it (0 = the cohort period itself).

    All-integer date arithmetic (datediff // unit) — engine-exact. Scale
    shape: one partial-aggregable min() per user (shuffle on user),
    a same-key join back (no second shuffle of the big side under AQE —
    both sides are already hashed on user), one distinct on (user,
    offset) and a final count per (cohort, offset) whose result is at
    most users x periods but in practice cohort-matrix-sized. No window,
    no sort anywhere.
    """
    u = F.col(user_col)
    d = F.to_date(F.col(ts_col).cast("timestamp"))
    firsts = df.groupBy(u.alias("_u")).agg(F.min(d).alias("_first_day"))
    epoch = F.lit("1970-01-01").cast("date")
    cohort_start = F.date_add(
        epoch,
        (
            F.floor(F.datediff(F.col("_first_day"), epoch) / unit_days)
            * unit_days
        ).cast("int"),
    )
    joined = df.select(u.alias("_u"), d.alias("_day")).join(firsts, "_u")
    per_user = (
        joined.select(
            "_u",
            cohort_start.alias("cohort"),
            F.floor(
                F.datediff(F.col("_day"), cohort_start) / unit_days
            ).cast("int").alias("offset"),
        )
        .distinct()
    )
    return (
        per_user.groupBy("cohort", "offset")
        .agg(F.count(F.lit(1)).cast("long").alias("active_users"))
    )


def length_bucketed_batches(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_size: int = 8,
    bucket_bounds: tuple[int, ...] = (16, 64, 256),
    n_shards: int = 4,
) -> DataFrame:
    """Padding-efficient training-batch assembly: group documents into
    length buckets, then form fixed-size batches inside (bucket, shard)
    in deterministic md5 order. Sequence models pad every batch row to
    the batch max; batching similar lengths together is the standard
    dynamic-batching trick that cuts padding waste severalfold.

    Emits (id, tokens, bucket, shard, batch_idx) — batch identity is
    (bucket, shard, batch_idx). Deterministic: bucket is a pure token
    threshold fold, shard and intra-shard order are md5 of the id, so
    assignment is independent of partitioning and cluster size.

    Scale shape: the only shuffle is the (bucket, shard) window; shards
    split each length bucket so no single window partition holds a whole
    bucket of a 100-TB corpus — raise n_shards with corpus size (the
    per-partition row target, not the cluster, decides it). Last batch
    per (bucket, shard) may be short; callers drop or merge them.
    """
    from pyspark.sql import Window

    from .text import token_count_ws

    toks = token_count_ws(F.col(text_col)).alias("tokens")
    bucket = sum(
        (F.col("tokens") > b).cast("int") for b in bucket_bounds
    ).alias("bucket")
    shard = md5_bucket(id_col, n_shards).alias("shard")
    base = df.select(F.col(id_col), toks).select(
        id_col, "tokens", bucket, shard,
        F.md5(F.col(id_col).cast("string")).alias("_ord"),
    )
    w = Window.partitionBy("bucket", "shard").orderBy("_ord", id_col)
    return base.select(
        id_col, "tokens", "bucket", "shard",
        ((F.row_number().over(w) - 1) / batch_size).cast("int").alias("batch_idx"),
    )


def contrastive_negatives(
    df: DataFrame,
    id_col: str = "doc_id",
    k: int = 4,
    n_buckets: int = 64,
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: each
    document gets ``k`` pseudo-random partner documents, chosen by
    hashing (seed, id) to a bucket and taking that bucket's
    representative (min id). Self-pairs are dropped.

    Emits (id, neg_rank, neg_id). Fully deterministic — partition- and
    cluster-size-independent — so the pair set is reproducible across
    runs and engines (the property random.sample would destroy).

    Scale shape: the representative table is ONE n_buckets-row aggregate
    (partial-aggregable min), broadcast to k slim hash-joins against the
    corpus — the 100-TB side is never shuffled. For harder negatives,
    feed a clustered id (e.g. kmeans/IVF cluster reps) as the bucket
    table instead; the plan shape is identical.
    """
    from ..guards import checked_broadcast

    reps = checked_broadcast(
        df.groupBy(md5_bucket(id_col, n_buckets).alias("_b"))
        .agg(F.min(id_col).alias("neg_id")),
        bound=n_buckets,
        what="contrastive_negatives reps (n_buckets rows by construction)",
    )
    pairs = None
    for i in range(k):
        b_i = (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{i}|"), F.col(id_col).cast("string"))),
                    1, 7,
                ),
                16, 10,
            ).cast("long") % n_buckets
        )
        p = df.select(
            F.col(id_col), F.lit(i).alias("neg_rank"), b_i.alias("_b")
        ).join(reps, "_b").drop("_b")
        pairs = p if pairs is None else pairs.unionByName(p)
    return pairs.filter(F.col(id_col) != F.col("neg_id"))


def span_corruption_targets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    mask_divisor: int = 5,
) -> DataFrame:
    """T5-style span corruption, deterministically: word positions whose
    md5(doc_id|pos) bucket hits 0 mod ``mask_divisor`` are masked
    (expected mask rate 1/divisor); contiguous masked runs collapse to
    one sentinel. Emits per document the corrupted-input digest, the
    target-sequence digest (sentinels + masked spans, T5's decoder
    target), the masked-word count and the sentinel count — digests so
    the shuffle never carries reassembled text.

    Hash-seeded masking (not RNG) means the SAME spans mask on every
    run, every engine, every partitioning — reproducible pretraining
    data. Plan: exploded words + lag window for run starts + one
    groupBy reassembly, all doc-keyed (single exchange).
    """
    from pyspark.sql import Window

    from ..operators.dedup import normalize_text

    from ..operators.skew import fan_out_small_scan

    words = F.split(normalize_text(text_col), " ")
    g = fan_out_small_scan(df).select(
        F.col(id_col).alias("id"),
        F.posexplode(words).alias("pos", "word"),
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col("id").cast("string"), F.lit("|"), F.col("pos").cast("string"))),
            1, 7,
        ), 16, 10,
    ).cast("long")
    g = g.withColumn("_m", (F.pmod(h, F.lit(mask_divisor)) == 0).cast("int"))
    w = Window.partitionBy("id").orderBy("pos")
    # two steps: lag-window first, THEN the running sum — Spark rejects a
    # window function nested inside another window's aggregate expression
    g = g.withColumn(
        "_rs",
        ((F.col("_m") == 1)
         & (F.coalesce(F.lag("_m").over(w), F.lit(0)) == 0)).cast("int"),
    )
    g = g.withColumn("_sid", F.sum("_rs").over(w))
    run_start = F.col("_rs") == 1
    # corrupted input: unmasked words as-is; each masked run contributes
    # its sentinel exactly once (at the run start)
    in_tok = F.when(F.col("_m") == 0, F.col("word")).when(
        run_start, F.concat(F.lit("<X"), F.col("_sid").cast("string"), F.lit(">"))
    )
    tgt_tok = F.when(
        F.col("_m") == 1,
        F.when(
            run_start,
            F.concat(F.lit("<X"), F.col("_sid").cast("string"), F.lit("> "), F.col("word")),
        ).otherwise(F.col("word")),
    )
    agg = g.groupBy("id").agg(
        F.md5(F.concat_ws(" ", F.filter(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", in_tok.alias("t")))),
                lambda s: s["t"],
            ), lambda x: x.isNotNull(),
        ))).alias("input_md5"),
        F.md5(F.concat_ws(" ", F.filter(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", tgt_tok.alias("t")))),
                lambda s: s["t"],
            ), lambda x: x.isNotNull(),
        ))).alias("target_md5"),
        F.sum("_m").cast("long").alias("n_masked"),
        F.max("_sid").cast("long").alias("n_sentinels"),
    )
    # a document with nothing masked has NO target sequence — emit NULL,
    # not md5("") (also what SQL string_agg over zero rows yields)
    return agg.withColumn(
        "target_md5", F.when(F.col("n_masked") > 0, F.col("target_md5"))
    )


def bm25_scores(
    df: DataFrame,
    query_terms,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Okapi BM25 relevance of every document to a fixed small query-term
    set (the retrieval scorer behind corpus search / RAG-index triage;
    complements tf_idf_top_terms, which ranks terms within a doc).

    idf(t)   = ln(1 + (N - df_t + 0.5) / (df_t + 0.5))   (the +1 form,
               always positive, as in Lucene)
    score(d) = sum_t idf(t) * tf * (k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    Scale shape: the one full-corpus pass is the doc-length aggregate
    (explode -> per-doc count); the term side filters exploded words to
    the query set BEFORE its shuffle, so tf traffic is O(matching words),
    not O(corpus). N/avgdl/df_t all reduce to two broadcastable 1-row
    aggregates, and the score is a fixed-order closed-form expression
    over integer tf/dl/df columns — per-doc work is pure projection.

    Determinism: every aggregate the score reads is an integer count, so
    the floating-point expression evaluates over identical operands in an
    identical order on any engine; only ln() is engine-libm (canonicalize
    with round-6 downstream).
    """
    terms = list(query_terms)
    idx = range(len(terms))
    from ..operators.skew import fan_out_small_scan

    words = fan_out_small_scan(df).select(
        F.col(id_col).alias("id"), F.explode(normalized_words(text_col)).alias("word")
    )
    dl = words.groupBy("id").agg(F.count(F.lit(1)).alias("dl"))
    tf = (
        words.filter(F.col("word").isin(terms))
        .groupBy("id")
        .agg(
            *[
                F.sum(F.when(F.col("word") == terms[i], 1).otherwise(0))
                .cast("long")
                .alias(f"tf_{i}")
                for i in idx
            ]
        )
    )
    cs = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("len_total"),
    )
    dfreq = tf.agg(
        *[F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}") for i in idx]
    )
    scored = tf.join(dl, "id").crossJoin(F.broadcast(cs)).crossJoin(F.broadcast(dfreq))
    avgdl = F.col("len_total").cast("double") / F.col("n_docs").cast("double")
    score = F.lit(0.0)
    for i in idx:
        tfc = F.col(f"tf_{i}").cast("double")
        dfc = F.col(f"df_{i}").cast("double")
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs").cast("double") - dfc + F.lit(0.5)) / (dfc + F.lit(0.5))
        )
        score = score + idf * tfc * F.lit(k1 + 1.0) / (
            tfc
            + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl").cast("double") / avgdl)
        )
    n_matched = F.lit(0)
    tf_total = F.lit(0)
    for i in idx:
        n_matched = n_matched + (F.col(f"tf_{i}") > 0).cast("long")
        tf_total = tf_total + F.col(f"tf_{i}")
    return scored.select(
        "id",
        F.col("dl").cast("long").alias("dl"),
        tf_total.cast("long").alias("tf_total"),
        n_matched.cast("long").alias("n_matched"),
        score.alias("bm25"),
    )


def pmi_collocations(
    df: DataFrame,
    min_count: int = 5,
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k collocations (adjacent word pairs) ranked by corpus frequency,
    scored with pointwise mutual information — the standard phrase-mining
    signal (word2vec-phrases, tokenizer merge candidates).

    pmi(a,b) = ln( (c_ab / N_bi) / ((c_a / N_uni) * (c_b / N_uni)) )

    Ranking is (bigram count desc, gram asc) — pure integers, so every
    engine selects and orders the identical k rows; PMI itself is emitted
    for consumers from a closed-form expression over integer counts
    (canonicalize round-6 downstream; only ln is engine-libm).

    Scale shape: bigram + unigram counts are two explode -> partial-agg
    shuffles (|distinct grams| traffic); min_count prunes the long tail
    BEFORE the global top-k, which runs as TakeOrderedAndProject
    (per-partition heaps, k rows to the driver-side merge — never a full
    sort); the unigram joins see only k rows on the probe side.
    """
    from .repetition import gram_counts

    bi_all = (
        gram_counts(df, id_col, text_col)
        .groupBy("gram")
        .agg(F.sum("cnt").alias("c_ab"))
    )
    # N_bi counts ALL bigram occurrences (PMI must not depend on min_count)
    n_bi = bi_all.agg(F.sum("c_ab").cast("long").alias("n_bi"))
    bi = bi_all.filter(F.col("c_ab") >= min_count)
    from ..operators.skew import fan_out_small_scan

    words = fan_out_small_scan(df).select(
        F.col(id_col).alias("id"), F.explode(normalized_words(text_col)).alias("word")
    )
    uni = words.groupBy("word").agg(F.count(F.lit(1)).alias("c_w"))
    n_uni = uni.agg(F.sum("c_w").cast("long").alias("n_uni"))
    top = bi.orderBy(F.col("c_ab").desc(), F.col("gram").asc()).limit(k)
    top = top.withColumn("w_a", F.split("gram", " ")[0]).withColumn(
        "w_b", F.split("gram", " ")[1]
    )
    ua = uni.select(F.col("word").alias("w_a"), F.col("c_w").alias("c_a"))
    ub = uni.select(F.col("word").alias("w_b"), F.col("c_w").alias("c_b"))
    # broadcast the k-row side both times; the |vocab| unigram table
    # streams through the broadcast-hash join without ever shuffling wide
    j = (
        F.broadcast(top).join(ua, "w_a")
        .join(ub, "w_b")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
    )
    w = Window.orderBy(F.col("c_ab").desc(), F.col("gram").asc())
    pmi = F.log(
        (F.col("c_ab").cast("double") / F.col("n_bi").cast("double"))
        / (
            (F.col("c_a").cast("double") / F.col("n_uni").cast("double"))
            * (F.col("c_b").cast("double") / F.col("n_uni").cast("double"))
        )
    )
    return j.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "gram",
        F.col("c_ab").cast("long").alias("c_ab"),
        F.col("c_a").cast("long").alias("c_a"),
        F.col("c_b").cast("long").alias("c_b"),
        pmi.alias("pmi"),
    )


def diversified_top_k(
    df: DataFrame,
    order_cols,
    k: int = 20,
    per_group_cap: int = 3,
    group_col: str = "source",
) -> DataFrame:
    """Diversity-constrained top-k: global best ``k`` rows under a hard
    per-group cap (at most ``per_group_cap`` rows per ``group_col``) —
    the search-result / RAG-context diversification rule ("no source may
    monopolize the context window").

    ``order_cols`` is a list of (column, 'asc'|'desc') pairs; make the
    ranking key integer-valued plus a unique id tiebreak so every engine
    selects identical rows.

    Scale shape: the per-group cap is one group-partitioned row_number
    (shuffle by group key, partial nothing — but each group's window
    state is O(1)); survivors (<= cap * |groups| rows) then take the
    global top-k as TakeOrderedAndProject, never a full sort.
    """
    ordering = [
        F.col(c).desc() if d.lower().startswith("d") else F.col(c).asc()
        for c, d in order_cols
    ]
    wg = Window.partitionBy(group_col).orderBy(*ordering)
    capped = (
        df.withColumn("_gr", F.row_number().over(wg))
        .filter(F.col("_gr") <= per_group_cap)
        .drop("_gr")
    )
    top = capped.orderBy(*ordering).limit(k)
    w = Window.orderBy(*ordering)
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


def curriculum_stages(
    df: DataFrame,
    n_stages: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Length-based curriculum assignment: documents are ranked by token
    count (shortest first — the standard easy-to-hard schedule for
    seq2seq pretraining) and dealt into ``n_stages`` equal-depth stages
    via ntile. Emits per-stage totals: doc count, token min/max/total —
    the schedule table a trainer consumes to size each phase.

    Determinism: the ntile ordering key is (token count, id) — pure
    integers, so stage boundaries are identical on every engine.

    Scale shape: ntile is one global sort — acceptable because its input
    is the (id, n_tokens) projection, two columns, not documents; the
    stage summary then partial-aggregates to ``n_stages`` rows. For a
    true 100-TB corpus swap the exact ntile for percentile_approx
    cutpoints on n_tokens (the engine's quantile_bin pattern) — exact
    equal-depth staging is the oracle-grade twin.
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.size(normalized_words(text_col)).cast("long").alias("n_tokens"),
    )
    w = Window.orderBy(F.col("n_tokens").asc(), F.col("id").asc())
    staged = toks.withColumn("stage", F.ntile(n_stages).over(w).cast("long"))
    return staged.groupBy("stage").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("n_tokens").cast("long").alias("tok_min"),
        F.max("n_tokens").cast("long").alias("tok_max"),
        F.sum("n_tokens").cast("long").alias("tok_total"),
    )


def zipf_fit(df: DataFrame, n_terms: int = 100, text_col: str = "text") -> DataFrame:
    """Zipf's-law fit over the top-``n_terms`` vocabulary: OLS slope and
    intercept of ln(count) on ln(rank). Natural text sits near slope -1;
    a flat slope flags synthetic/templated corpora, a cliff flags
    boilerplate — the one-row sanity report before trusting token
    statistics.

    Determinism: ln(rank)/ln(count) are quantized to integer nanos
    (floor(ln(v)*1e9 + 0.5)) BEFORE summation, so the OLS sums are exact
    decimal integers in any summation order (float sums over a groupBy
    are order-nondeterministic across engines; integer sums are not).
    The closed-form slope/intercept then evaluate in a fixed operand
    order over exact values.

    Scale shape: everything downstream of the vocab top-k (TakeOrdered,
    |vocab| shuffle) touches only ``n_terms`` rows.
    """
    top = vocab_topk(df, k=n_terms, text_col=text_col)
    q = top.select(
        F.floor(F.log(F.col("rank").cast("double")) * F.lit(1e9) + F.lit(0.5))
        .cast("long").alias("x"),
        F.floor(F.log(F.col("cnt").cast("double")) * F.lit(1e9) + F.lit(0.5))
        .cast("long").alias("y"),
    )
    dec = lambda c: F.col(c).cast("decimal(20,0)")
    s = q.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(dec("x") * dec("x")).alias("sxx"),
        F.sum(dec("x") * dec("y")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    sxy = F.col("sxy").cast("double")
    # sums are in nano-log units: slope is scale-free, intercept needs /1e9
    slope = (nd * sxy - sx * sy) / (nd * sxx - sx * sx)
    return s.select(
        F.col("n").alias("n_terms"),
        slope.alias("slope"),
        ((sy - slope * sx) / nd / F.lit(1e9)).alias("intercept"),
    )


def bpe_merges(
    df: DataFrame,
    n_merges: int = 6,
    text_col: str = "text",
) -> "list[tuple[int, str, str, str, int]]":
    """Distributed BPE tokenizer training: learn the first ``n_merges``
    byte-pair merge rules over the corpus, greedy-highest-frequency each
    round (Sennrich et al.) — returns [(merge_idx, left, right, merged,
    weight), ...].

    Distribution shape (the part that matters at 100 TB): the corpus is
    collapsed ONCE to the (word, freq) vocabulary — every subsequent
    round runs on |vocab| rows, not corpus rows. Each round is one
    explode -> weighted pair count (map-side combined), a TakeOrdered(1)
    for the winning pair, and a per-row string replace to apply it. The
    only driver state is the merge table itself (k rows — the learned
    model), exactly like the k-means centroid loop.

    Token sequences are bracket-framed strings ("<h><e><l><l><o><$>"):
    `replace(s, '<a><b>', '<ab>')` is then EXACTLY greedy left-to-right
    non-overlapping pair merging (adjacent matches share no characters),
    with identical semantics in any engine's plain `replace`. `$` marks
    end-of-word; the vocabulary is restricted to /^[a-z]+$/ so frame
    characters can never collide with token text.
    """
    wc = word_counts(df, text_col).filter(F.col("word").rlike("^[a-z]+$"))
    cur = wc.select(
        F.concat(
            F.lit("<"), F.array_join(F.split("word", ""), "><"), F.lit("><$>")
        ).alias("s"),
        F.col("cnt").alias("freq"),
    ).localCheckpoint(eager=True)

    rules = []
    for i in range(n_merges):
        toks = F.split(F.expr("substring(s, 2, length(s)-2)"), "><")
        shifted = F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0)))
        pair = F.zip_with(toks, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
        pairs = (
            cur.select(F.explode(F.filter(pair, lambda p: p.isNotNull())).alias("pair"), "freq")
            .groupBy("pair")
            .agg(F.sum("freq").alias("w"))
        )
        top = pairs.orderBy(F.col("w").desc(), F.col("pair").asc()).limit(1).collect()
        if not top:
            break
        a, b = top[0].pair.split(" ")
        merged = a + b
        rules.append((i, a, b, merged, int(top[0].w)))
        cur = cur.withColumn(
            "s",
            F.replace(
                F.col("s"), F.lit(f"<{a}><{b}>"), F.lit(f"<{merged}>")
            ),
        ).localCheckpoint(eager=True)
    return rules


def boilerplate_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    line_words: int = 10,
    min_docs: int = 2,
) -> DataFrame:
    """Per-group boilerplate-line report (CCNet-style template detection):
    a line (fixed ``line_words``-word segment, same convention as
    dedup_lines) is boilerplate within its group when it occurs in
    >= ``min_docs`` DISTINCT documents of that group — navigation chrome,
    cookie banners, footer text.

    Distributed shape: lines explode from pure array expressions (no
    pre-shuffle), aggregate on (group, line_md5) with map-side combine —
    the heavy reduction — then collapse to one row per group. Only line
    DIGESTS shuffle, never line text.

    Returns per group: (group, distinct_lines, boilerplate_lines,
    occurrences, boilerplate_occurrences, boilerplate_frac).
    """
    words = F.split(F.lower(F.col(text_col)), " ")
    nl = F.ceil(F.size(words) / F.lit(float(line_words))).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), nl - 1),
        lambda j: F.array_join(F.slice(words, j * line_words + 1, line_words), " "),
    )
    ex = df.select(
        F.col(id_col).alias("id"),
        F.col(group_col).alias("grp"),
        F.explode(lines).alias("line"),
    )
    g = ex.groupBy("grp", F.md5(F.col("line")).alias("lk")).agg(
        F.countDistinct("id").alias("ndocs"),
        F.count(F.lit(1)).alias("occ"),
    )
    boiler = (F.col("ndocs") >= min_docs).cast("long")
    out = g.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("distinct_lines"),
        F.sum(boiler).cast("long").alias("boilerplate_lines"),
        F.sum("occ").cast("long").alias("occurrences"),
        F.sum(boiler * F.col("occ")).cast("long").alias("boilerplate_occurrences"),
    )
    frac = (
        F.col("boilerplate_occurrences").cast("double")
        / F.col("occurrences").cast("double")
    )
    return out.select(
        "grp", "distinct_lines", "boilerplate_lines",
        "occurrences", "boilerplate_occurrences",
        (F.floor(frac * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias("boilerplate_frac"),
    )


def signed_hashed_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", dim: int = 64
) -> DataFrame:
    """Sparse signed hashing-trick features (Weinberger et al. 2009): each
    word hashes to a bucket in [0, dim) AND to a +-1 sign from an
    independent keyed md5, so colliding words cancel in expectation instead
    of biasing the bucket upward — the property that lets hashed features
    stand in for a vocabulary at any corpus size with a FIXED schema.

    Output is the sparse triplet form (id, idx, weight != 0) — at web
    scale the dense histogram (hashed_embedding above) explodes storage
    for large dim; triplets shuffle only non-zero cells. One explode + one
    (id, idx) groupBy, integer weights, engine-exact md5 hashing.
    """
    from ..operators.skew import fan_out_small_scan

    words = fan_out_small_scan(df).select(
        F.col(id_col).alias("id"), F.explode(normalized_words(text_col)).alias("word")
    )
    idx = (
        F.conv(F.substring(F.md5("word"), 1, 7), 16, 10).cast("long") % dim
    )
    sign = (
        F.conv(F.substring(F.md5(F.concat(F.lit("s|"), F.col("word"))), 1, 7), 16, 10)
        .cast("long") % 2
    ) * 2 - 1
    g = (
        words.select("id", idx.alias("idx"), sign.alias("sgn"))
        .groupBy("id", "idx")
        .agg(F.sum("sgn").cast("long").alias("weight"))
        .where(F.col("weight") != 0)
    )
    return g


def chi2_feature_selection(
    df: DataFrame,
    label_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_k: int = 100,
) -> DataFrame:
    """Chi-squared word-label association over the top-``vocab_k``
    vocabulary — the classic supervised feature-selection screen (which
    words are evidence FOR a language/source/label before training a
    classifier on hashed features).

    Presence-based 2x2 per (word, label): a = label docs containing the
    word, b = other docs containing it, c/d their complements;
    chi2 = N*(ad-bc)^2 / ((a+b)(c+d)(a+c)(b+d)).

    Distributed shape: per-doc DISTINCT words explode once and semi-join
    the broadcast top-k vocab, so the association table is at most
    vocab_k * |labels| rows no matter the corpus; zero-presence cells are
    restored by a crossJoin of the two tiny dimension frames. All counts
    and products are exact decimal(38,0) integers (N*(ad-bc)^2 fits 38
    digits to ~1e9 docs; past that the exactness contract would switch to
    doubles), one guarded division per row.
    """
    top = vocab_topk(df, k=vocab_k, text_col=text_col).select("word")
    # explode(array_distinct(words)) emits each (id, word) pair at most
    # once and lbl is functionally dependent on id, so the broadcast
    # semi-join output is distinct by construction — no distinct() shuffle,
    # and the presence margin is a plain count, not a countDistinct.
    pres = df.select(
        F.col(id_col).alias("id"),
        F.col(label_col).alias("lbl"),
        F.explode(F.array_distinct(normalized_words(text_col))).alias("word"),
    ).join(F.broadcast(top), "word")
    a_cnt = pres.groupBy("word", "lbl").agg(F.count(F.lit(1)).alias("a"))
    w_cnt = pres.groupBy("word").agg(F.count(F.lit(1)).alias("w_docs"))
    l_cnt = df.groupBy(F.col(label_col).alias("lbl")).agg(
        F.count(F.lit(1)).alias("l_docs")
    )
    n_tot = df.agg(F.count(F.lit(1)).alias("n_docs"))
    grid = (
        top.crossJoin(F.broadcast(l_cnt))
        .join(F.broadcast(w_cnt), "word")
        .join(F.broadcast(a_cnt), ["word", "lbl"], "left")
        .crossJoin(F.broadcast(n_tot))
        .select(
            "word", "lbl",
            F.coalesce(F.col("a"), F.lit(0)).cast("long").alias("a"),
            "w_docs", "l_docs", "n_docs",
        )
    )
    dec = lambda c: c.cast("decimal(38,0)")
    a = dec(F.col("a"))
    b = dec(F.col("w_docs")) - a
    c = dec(F.col("l_docs")) - a
    n = dec(F.col("n_docs"))
    d = n - a - b - c
    det = a * d - b * c
    num = (n * det * det).cast("double")
    den_i = (a + b) * (c + d) * (a + c) * (b + d)
    chi2 = F.when(den_i > 0, num / den_i.cast("double")).otherwise(F.lit(0.0))
    return grid.select(
        "word",
        F.col("lbl").alias("label"),
        F.col("a").alias("n_docs_with"),
        (F.floor(chi2 * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias("chi2"),
    )


def heaps_fit(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Heaps'-law fit V(n) = K * n^beta over the corpus read in document-id
    order: OLS slope (beta) and intercept (ln K) of ln(cumulative vocab) on
    ln(cumulative tokens), sampled at every document boundary. Natural text
    sits near beta 0.4-0.6; beta near 1 flags unbounded vocabularies (ids,
    hashes), beta near 0 flags templated/duplicated corpora — the companion
    diagnostic to zipf_fit before trusting tokenizer budgets.

    Determinism: the (n, V) points are exact integers (token cumsum, count
    of first word occurrences); ln values are quantized to integer nanos
    before the OLS sums, which are therefore exact decimals in any
    summation order (the zipf_fit rule).

    Scale shape: two word-keyed aggregations (per-doc token counts,
    per-word first doc) shrink the data to one row per document before the
    single unpartitioned cumsum window; at 100-TB corpora the boundary
    stream is |docs| tiny rows (two longs each), and sampling every k-th
    boundary bounds it further without changing the fit materially.
    """
    from ..operators.skew import fan_out_small_scan

    words = fan_out_small_scan(df).select(
        F.col(id_col).alias("id"), F.explode(normalized_words(text_col)).alias("word")
    )
    toks = words.groupBy("id").agg(F.count(F.lit(1)).cast("long").alias("toks"))
    firsts = words.groupBy("word").agg(F.min("id").alias("id"))
    news = firsts.groupBy("id").agg(F.count(F.lit(1)).cast("long").alias("newv"))
    per_doc = toks.join(news, "id", "left").select(
        "id", "toks", F.coalesce(F.col("newv"), F.lit(0)).cast("long").alias("newv")
    )
    cum = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, 0)
    pts = per_doc.select(
        F.sum("toks").over(cum).alias("n_cum"), F.sum("newv").over(cum).alias("v_cum")
    ).where((F.col("n_cum") > 0) & (F.col("v_cum") > 0))
    q = pts.select(
        F.floor(F.log(F.col("n_cum").cast("double")) * F.lit(1e9) + F.lit(0.5))
        .cast("long").alias("x"),
        F.floor(F.log(F.col("v_cum").cast("double")) * F.lit(1e9) + F.lit(0.5))
        .cast("long").alias("y"),
    )
    dec = lambda c: F.col(c).cast("decimal(20,0)")
    s = q.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(dec("x") * dec("x")).alias("sxx"),
        F.sum(dec("x") * dec("y")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    sxy = F.col("sxy").cast("double")
    beta = (nd * sxy - sx * sy) / (nd * sxx - sx * sx)
    return s.select(
        F.col("n").alias("n_points"),
        beta.alias("beta"),
        ((sy - beta * sx) / nd / F.lit(1e9)).alias("ln_k"),
    )


def tfidf_cosine_pairs(
    df: DataFrame,
    threshold_pct: int = 30,
    max_df_frac: float = 0.1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """All-pairs sparse TF-IDF cosine similarity via an inverted-index
    self-join (the Bayardo et al. all-pairs shape): document vectors are
    (term -> tf * idf) restricted to terms with df >= 2 and df <=
    ``max_df_frac`` * |corpus|; pairs materialize ONLY through shared
    informative terms, so the hot head of the vocabulary (the
    quadratic-blowup terms that carry no signal — at the default cap,
    anything in more than 10% of all documents) never generates
    candidates — the same df-cap move as ngram_jaccard_capped, which is
    what makes the self-join feasible at 100 TB. The cap is a fraction,
    not an absolute count, so the operator keeps the same selectivity as
    the corpus grows.

    Determinism: idf is quantized to integer millis (floor(ln(1 + N/df)
    * 1e3 + 0.5)); weights, dot products, and squared norms are then exact
    integers, and the threshold test runs entirely in integer space by
    cross-multiplying dot^2 * 10^4 >= pct^2 * |a|^2 * |b|^2 — no float
    ever decides pair membership. The reported cosine is a fixed-order
    quotient of those exact integers.
    """
    from ..operators.skew import fan_out_small_scan

    words = fan_out_small_scan(df).select(
        F.col(id_col).alias("id"), F.explode(normalized_words(text_col)).alias("word")
    )
    tf = words.groupBy("id", "word").agg(F.count(F.lit(1)).cast("long").alias("tf"))
    n = df.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    dfreq = (
        tf.groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .crossJoin(F.broadcast(n))
        .where(
            (F.col("df") >= 2)
            & (F.col("df").cast("double") <= F.lit(float(max_df_frac)) * F.col("n_docs"))
        )
        .select("word", "df")
    )
    wts = (
        tf.join(dfreq, "word")
        .crossJoin(F.broadcast(n))
        .select(
            "id", "word",
            (
                F.col("tf")
                * F.floor(
                    F.log(F.lit(1.0) + F.col("n_docs") / F.col("df").cast("double"))
                    * F.lit(1e3)
                    + F.lit(0.5)
                ).cast("long")
            ).alias("w"),
        )
    )
    dec = lambda c: F.col(c).cast("decimal(20,0)")
    norms = wts.groupBy("id").agg(F.sum(dec("w") * dec("w")).alias("nrm2"))
    a, b = wts.alias("a"), wts.alias("b")
    dots = (
        a.join(b, "word")
        .where(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.sum(F.col("a.w").cast("decimal(20,0)") * F.col("b.w").cast("decimal(20,0)")).alias("dot"))
    )
    na = norms.select(F.col("id").alias("id_a"), F.col("nrm2").alias("na2"))
    nb = norms.select(F.col("id").alias("id_b"), F.col("nrm2").alias("nb2"))
    pct = F.lit(int(threshold_pct)).cast("decimal(20,0)")
    out = (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .where(
            F.col("dot") * F.col("dot") * F.lit(10000).cast("decimal(20,0)")
            >= pct * pct * F.col("na2") * F.col("nb2")
        )
    )
    cos = F.col("dot").cast("double") / (
        F.sqrt(F.col("na2").cast("double")) * F.sqrt(F.col("nb2").cast("double"))
    )
    return out.select(
        "id_a", "id_b",
        (F.floor(cos * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias("cosine"),
    )


def weighted_sample(
    df: DataFrame,
    k: int = 50,
    weight_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis-
    Spirakis A-ES): each row draws a uniform U from the md5 of its id and
    ranks by ln(U)/w — the top-k rows are an exact weight-proportional
    sample. Stateless and embarrassingly parallel like hash_sample, but
    weight-aware: a 10x-longer document is 10x as likely to be kept — the
    standard size-biased corpus subsample.

    Determinism: U = (md5_52bits + 0.5) / 2^52 is exact in both engines;
    the key is quantized to integer nanos before ranking and ties break
    on id, so the sample set is engine-exact. Top-k is TakeOrdered
    (per-partition heaps), never a global sort.
    """
    u = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 13), 16, 10)
        .cast("double") + F.lit(0.5)
    ) / F.lit(float(1 << 52))
    w = F.greatest(F.col(weight_col).cast("double"), F.lit(1.0))
    key = F.floor(F.log(u) / w * F.lit(1e9)).cast("long")
    ranked = df.select(F.col(id_col).alias("id"), key.alias("es_key_nano"))
    top = ranked.orderBy(F.col("es_key_nano").desc(), F.col("id").asc()).limit(k)
    wr = Window.orderBy(F.col("es_key_nano").desc(), F.col("id").asc())
    return top.select(
        F.row_number().over(wr).cast("long").alias("rank"), "id", "es_key_nano"
    )


def mi_feature_screen(
    df: DataFrame,
    label_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_k: int = 100,
) -> DataFrame:
    """Mutual information I(word-presence; label) per top-``vocab_k`` word —
    chi2_feature_selection's information-theoretic twin (sklearn
    ``mutual_info_classif`` on binary presence). Ranks words by how much
    knowing "document contains w" tells you about the label; unlike chi2 it
    is additive across labels, so the output is ONE row per word.

    I(w;L) = sum over presence p in {1,0} and labels l of
    (n_pl/N) * ln(N * n_pl / (n_p * n_l)). We emit the exact integer
    numerator ``mi_num_nanos`` = sum of n_pl * nanoln(N*n_pl/(n_p*n_l))
    plus ``n_docs``; MI in nats = mi_num_nanos / n_docs / 1e9. Per-cell
    logs quantize to int64 nanos BEFORE the sum (the zipf_fit rule), so
    the aggregation is order-free exact; the log argument is built from
    decimal(38,0) products cast to double — the identical IEEE op sequence
    DuckDB performs on hugeint products.

    Distributed shape: identical to chi2 — distinct-presence explode
    semi-joined to the broadcast top-k vocab, tiny crossJoin grid to
    restore zero cells, then one groupBy over vocab_k * |labels| rows.
    Zero cells contribute 0 (the 0*ln 0 limit).
    """
    top = vocab_topk(df, k=vocab_k, text_col=text_col).select("word")
    # explode(array_distinct(words)) emits each (id, word) pair at most
    # once and lbl is functionally dependent on id, so the broadcast
    # semi-join output is distinct by construction — no distinct() shuffle,
    # and the presence margin is a plain count, not a countDistinct.
    pres = df.select(
        F.col(id_col).alias("id"),
        F.col(label_col).alias("lbl"),
        F.explode(F.array_distinct(normalized_words(text_col))).alias("word"),
    ).join(F.broadcast(top), "word")
    a_cnt = pres.groupBy("word", "lbl").agg(F.count(F.lit(1)).alias("a"))
    w_cnt = pres.groupBy("word").agg(F.count(F.lit(1)).alias("w_docs"))
    l_cnt = df.groupBy(F.col(label_col).alias("lbl")).agg(
        F.count(F.lit(1)).alias("l_docs")
    )
    n_tot = df.agg(F.count(F.lit(1)).alias("n_docs"))
    grid = (
        top.crossJoin(F.broadcast(l_cnt))
        .join(F.broadcast(w_cnt), "word")
        .join(F.broadcast(a_cnt), ["word", "lbl"], "left")
        .crossJoin(F.broadcast(n_tot))
        .select(
            "word", "lbl",
            F.coalesce(F.col("a"), F.lit(0)).cast("long").alias("a"),
            "w_docs", "l_docs", "n_docs",
        )
    )
    dec = lambda c: c.cast("decimal(38,0)")

    def term(n, n_p):
        # n = joint cell count, n_p = presence-margin count; nanoln of
        # (N*n)/(n_p*n_l) weighted by n. Guarded: zero cells contribute 0.
        ratio = (dec(F.col("n_docs")) * dec(n)).cast("double") / (
            dec(n_p) * dec(F.col("l_docs"))
        ).cast("double")
        nanoln = F.floor(F.log(ratio) * F.lit(1e9) + F.lit(0.5)).cast("long")
        return F.when(n > 0, n.cast("long") * nanoln).otherwise(F.lit(0))

    a = F.col("a")
    cell = term(a, F.col("w_docs")) + term(
        F.col("l_docs") - a, F.col("n_docs") - F.col("w_docs")
    )
    return (
        grid.withColumn("_t", cell)
        .groupBy("word")
        .agg(
            F.first("w_docs").cast("long").alias("n_docs_with"),
            F.first("n_docs").cast("long").alias("n_docs"),
            F.sum("_t").cast("long").alias("mi_num_nanos"),
        )
    )


def sft_pairs(
    df: DataFrame,
    min_context_turns: int = 1,
    response_role: str = "assistant",
) -> DataFrame:
    """Training-example extraction: one (context, response) pair per
    ``response_role`` turn with at least ``min_context_turns`` preceding
    turns — the transcript -> SFT-dataset step of a curation pipeline.

    Emits per pair: a deterministic ``pair_id`` (md5 of conv_id:turn_idx,
    the dedup/join key), the context size in turns and characters, how many
    of the context turns are user turns (prompt-heaviness), and the
    response length. The pair TEXT itself is not materialized here — a
    downstream packer joins back on (conv_id, turn_idx) ranges, so this
    stage shuffles counters only.

    Point-in-time safety: every context statistic is a cumulative window
    ending at the PREVIOUS turn (rowsBetween(unboundedPreceding, -1)) —
    nothing at or after the response turn leaks in.
    """
    from pyspark.sql import Window

    w_prev = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx", "ts")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    enriched = df.select(
        "conv_id",
        "turn_idx",
        "ts",
        "role",
        F.coalesce(F.length("text"), F.lit(0)).alias("_len"),
    ).select(
        "conv_id",
        "turn_idx",
        "role",
        F.count("*").over(w_prev).cast("long").alias("context_turns"),
        F.coalesce(F.sum("_len").over(w_prev), F.lit(0))
        .cast("long")
        .alias("context_chars"),
        F.coalesce(
            F.sum(F.when(F.col("role") == "user", 1).otherwise(0)).over(w_prev),
            F.lit(0),
        )
        .cast("long")
        .alias("context_user_turns"),
        F.col("_len").cast("long").alias("response_chars"),
    )
    return (
        enriched.filter(
            (F.col("role") == response_role)
            & (F.col("context_turns") >= F.lit(int(min_context_turns)))
        )
        .select(
            F.md5(F.concat_ws(":", "conv_id", "turn_idx")).alias("pair_id"),
            "conv_id",
            "turn_idx",
            "context_turns",
            "context_chars",
            "context_user_turns",
            "response_chars",
        )
    )


def association_rules(
    df: DataFrame,
    group_col: str = "conv_id",
    item_col: str = "tool",
    min_pair_groups: int = 1,
) -> DataFrame:
    """Market-basket association rules over (group, item) pairs — the
    2-itemset core of Apriori/FP-growth, which is all most data-curation
    questions need ("when tool a appears, how often does b?"). For every
    DIRECTED pair (a, b), a != b, over the distinct item sets per group:

        n_a            groups containing a
        n_ab           groups containing both a and b
        support_ppm    n_ab * 1e6 div N          (N = groups with any item)
        confidence_ppm n_ab * 1e6 div n_a        (P(b | a))
        lift_ppm       n_ab * N * 1e6 div (n_a * n_b)   (1e6 = independent)

    All integer floor quotients — engine-exact. Scale shape: one distinct
    (group, item) projection, one item-count aggregate, and a pair join
    keyed by group that runs on each group's <= |items| distinct rows
    (never on raw turns) followed by a pair-count aggregate — the same
    bounded self-join discipline as tool_ordering_pairs. int64 bound:
    n_ab * N * 1e6 needs N * n_ab < 9e12, i.e. fine to ~3e6 groups; past
    that, compute lift on the (n_ab, n_a, n_b, N) columns downstream.
    """
    gi = df.select(
        F.col(group_col).alias("g"), F.col(item_col).alias("item")
    ).filter(F.col("item").isNotNull()).distinct()
    n_tot = gi.select("g").distinct().count()
    cnt = gi.groupBy("item").agg(F.count(F.lit(1)).alias("n_item"))
    a = gi.select("g", F.col("item").alias("item_a"))
    b = gi.select("g", F.col("item").alias("item_b"))
    pairs = (
        a.join(b, "g")
        .filter(F.col("item_a") != F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= int(min_pair_groups))
    )
    out = (
        pairs.join(
            cnt.select(F.col("item").alias("item_a"), F.col("n_item").alias("n_a")),
            "item_a",
        )
        .join(
            cnt.select(F.col("item").alias("item_b"), F.col("n_item").alias("n_b")),
            "item_b",
        )
        .withColumn("n_groups", F.lit(int(n_tot)).cast("long"))
    )
    return out.select(
        "item_a", "item_b",
        F.col("n_ab").cast("long").alias("n_ab"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        "n_groups",
        F.expr("n_ab * 1000000 div n_groups").cast("long").alias("support_ppm"),
        F.expr("n_ab * 1000000 div n_a").cast("long").alias("confidence_ppm"),
        F.expr("n_ab * n_groups * 1000000 div (n_a * n_b)")
        .cast("long").alias("lift_ppm"),
    )


def perplexity_prune(
    df: DataFrame,
    lo_num: int = 1,
    lo_den: int = 4,
    hi_num: int = 3,
    hi_den: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Perplexity-band data pruning (Marion et al. 2023, "When Less is
    More"): score every document with the corpus unigram LM
    (unigram_logprob) and KEEP only the middle band of the perplexity
    distribution — the published result is that dropping both the
    easiest (lowest-perplexity: boilerplate, duplicates) and hardest
    (highest-perplexity: gibberish, OCR noise) documents beats random
    pruning at equal token budget.

    Band selection is integer-exact: the float mean_logprob is quantized
    once to int64 micro-units (the _r6x floor form, identical IEEE op
    sequence on both engines), then ranked by (score_micro, id) and kept
    iff floor(n*lo) < rank <= floor(n*hi) with rational lo/hi — no float
    comparison decides membership, so the oracle matches hash-exactly.

    Scale shape: the rank here is a single global sort, fine for the
    oracle twin and for per-shard pruning; at 100 TB the selection runs
    per hash-shard (rank within md5-bucket shards is statistically
    identical for i.i.d. scores) or via two approx_percentile cutpoints
    and a filter — same kept set up to boundary ties, no global sort.

    Returns all docs with ``kept`` flag so downstream can audit the cut:
    ``DataFrame[id, n_words, score_micro: long, rnk: long, kept: int]``.
    """
    scored = unigram_logprob(df, id_col=id_col, text_col=text_col)
    micro = scored.select(
        "id",
        "n_words",
        F.floor(F.col("mean_logprob") * F.lit(1e6) + F.lit(0.5))
        .cast("long")
        .alias("score_micro"),
    )
    n = micro.count()
    w = Window.orderBy("score_micro", "id")
    lo_cut = (n * lo_num) // lo_den
    hi_cut = (n * hi_num) // hi_den
    return (
        micro.withColumn("rnk", F.row_number().over(w).cast("long"))
        .withColumn(
            "kept",
            ((F.col("rnk") > F.lit(lo_cut)) & (F.col("rnk") <= F.lit(hi_cut)))
            .cast("int"),
        )
    )


def temperature_mix(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    scale: int = 1_000_000,
) -> DataFrame:
    """Temperature-scaled source mixing at T = 2 (alpha = 1/2) — the
    multilingual-pretraining rebalance (Conneau & Lample 2019; mBERT's
    exponent-smoothed sampling): sampling weight w_s = isqrt(tokens_s),
    so high-resource sources are down-weighted toward sqrt of their mass
    and the long tail is boosted.

    alpha = 1/2 is the one exponent with an ENGINE-EXACT integer form:
    IEEE-754 sqrt is correctly rounded, so floor(sqrt(n)) is exact for
    n < 2^52 on any engine (a per-source token count, far below that) —
    no libm drift, unlike arbitrary n^alpha. Released columns: tokens,
    isqrt weight, mix_ppm = w*1e6 div W, and the boost vs proportional
    (ppm ratio of the two shares), all int64.

    Two tiny aggregations + one broadcast 1-row total — nothing scales
    with corpus size except the first count scan.
    """
    from .text import token_count_ws

    per = df.groupBy(source_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(token_count_ws(text_col)).cast("long").alias("tokens"),
    ).withColumn("w", F.floor(F.sqrt(F.col("tokens"))).cast("long"))
    tot = per.agg(
        F.sum("tokens").cast("long").alias("tot_tokens"),
        F.sum("w").cast("long").alias("tot_w"),
    )
    out = per.crossJoin(F.broadcast(tot))
    mix = F.expr(f"w * {scale} div greatest(tot_w, 1)")
    prop = F.expr(f"tokens * {scale} div greatest(tot_tokens, 1)")
    return out.select(
        source_col, "n_docs", "tokens", "w",
        mix.cast("long").alias("mix_ppm"),
        prop.cast("long").alias("prop_ppm"),
        F.expr(
            f"(w * {scale} div greatest(tot_w, 1)) * {scale}"
            f" div greatest(tokens * {scale} div greatest(tot_tokens, 1), 1)"
        ).cast("long").alias("boost_ppm"),
    )


def dsir_log_weights(
    df: DataFrame,
    target_col: str = "is_target",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR importance log-weights (Xie et al., "Data Selection for
    Language Models via Importance Resampling", NeurIPS 2023): score
    every document by how target-like its word distribution is,

        logw(doc) = sum_w k_w * ( ln p_t(w) - ln p_s(w) )

    with add-one-smoothed unigram models p_t / p_s estimated from the
    target (``target_col`` = 1) and source (= 0) corpus slices over the
    POOLED vocabulary. Downstream, Gumbel-top-k / priority sampling on
    these weights selects the source subset that matches the target
    domain — the published recipe for pretraining-data selection.

    Engine-exactness follows unigram_logprob: all counts are exact
    integers from one conditional-sum aggregation; the only floats are
    ln() over identical integer ratios and the per-doc weighted sum,
    expressed identically in the SQL oracle (canonicalize round-6
    downstream).

    Scale shape: words explode once; ONE groupBy(word) with conditional
    sums builds both models in the same pass (|vocab| shuffle rows); the
    per-(doc, word) frame joins the vocab table on word and collapses
    back to one row per doc. Two keyed shuffles + one broadcast of the
    4-number totals — no model artifact, no driver materialization.
    """
    tgt = F.col(target_col).cast("long")
    words = df.select(
        F.col(id_col).alias("id"),
        tgt.alias("_t"),
        F.explode(normalized_words(text_col)).alias("word"),
    )
    wc = words.groupBy("word").agg(
        F.sum("_t").alias("c_t"),
        F.sum(F.lit(1) - F.col("_t")).alias("c_s"),
    )
    tot = wc.agg(
        F.sum("c_t").cast("double").alias("n_t"),
        F.sum("c_s").cast("double").alias("n_s"),
        F.count(F.lit(1)).cast("double").alias("n_vocab"),
    )
    dw = words.groupBy("id", "word").agg(F.count(F.lit(1)).alias("k"))
    scored = (
        dw.join(wc, "word")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "lr",
            F.log((F.col("c_t") + 1.0) / (F.col("n_t") + F.col("n_vocab")))
            - F.log((F.col("c_s") + 1.0) / (F.col("n_s") + F.col("n_vocab"))),
        )
    )
    return scored.groupBy("id").agg(
        F.sum("k").cast("long").alias("n_words"),
        F.sum(F.col("k") * F.col("lr")).alias("log_weight"),
    )


def kneser_ney_bigrams(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Kneser-Ney smoothed bigram probabilities (Kneser & Ney 1995,
    absolute discount d = 3/4) over the corpus bigram table — the
    production-grade smoothing the interpolated add-one of
    bigram_logprob approximates, and (because d is the rational 3/4)
    expressible ENTIRELY in exact integer fixed point:

        p(w|v) = (c(vw) - 3/4) / c(v·)
               + [3/4 · N1+(v·) / c(v·)] · [N1+(·w) / T]

    with c(v·) = Σ_w c(vw) (context mass), N1+(v·) = distinct
    continuations of v, N1+(·w) = distinct contexts of w (the
    continuation count that makes KN rank "francisco" low even though
    "san francisco" is frequent), and T = |distinct bigram types|.
    Every factor is a ratio of exact integers; the released p_micro is
    three trunc divisions on non-negative decimal(38,0) operands
    (Spark ``div`` == DuckDB ``//``), bit-identical on both engines.

    Scale shape: the corpus collapses to the bigram-type frame in one
    explode -> partial-aggregable groupBy; margins are two groupBys OF
    THAT frame joined back on their keys; T is a broadcast 1-row
    aggregate (bounded, on the BNLJ allowlist). Nothing downstream of
    the first shuffle scales with corpus rows — only with bigram types.

    Returns ``DataFrame[v, w, c_vw: long, p_micro: long]``.
    """
    from .repetition import gram_counts

    bi = (
        gram_counts(df, id_col, text_col)
        .groupBy("gram")
        .agg(F.sum("cnt").cast("long").alias("c_vw"))
        .select(
            F.split("gram", " ")[0].alias("v"),
            F.split("gram", " ")[1].alias("w"),
            "c_vw",
        )
    )
    # margins as whole-partition windows over the bigram-type frame
    # (r6): each margin costs ONE exchange of the frame by its key
    # instead of a groupBy aggregate plus an equi-join back — identical
    # integer sums/counts, two fewer exchanges of the largest frame
    wv = Window.partitionBy("v")
    ww = Window.partitionBy("w")
    tot = bi.agg(F.count(F.lit(1)).cast("long").alias("t_types"))
    joined = (
        bi.withColumn("c_v", F.sum("c_vw").over(wv).cast("long"))
        .withColumn("n1p_v", F.count(F.lit(1)).over(wv).cast("long"))
        .withColumn("n1p_w", F.count(F.lit(1)).over(ww).cast("long"))
        .crossJoin(F.broadcast(tot))
    )
    term1 = F.expr(
        "((4 * cast(c_vw as decimal(38,0)) - 3) * 1000000)"
        " div (4 * cast(c_v as decimal(38,0)))"
    )
    lam = F.expr(
        "(3 * cast(n1p_v as decimal(38,0)) * 1000000)"
        " div (4 * cast(c_v as decimal(38,0)))"
    )
    pcont = F.expr(
        "(cast(n1p_w as decimal(38,0)) * 1000000) div cast(t_types as decimal(38,0))"
    )
    return joined.select(
        "v", "w", "c_vw",
        (lam * pcont).alias("_lp"),
        term1.alias("_t1"),
    ).select(
        "v", "w", "c_vw",
        (F.col("_t1").cast("decimal(38,0)")
         + F.expr("cast(_lp as decimal(38,0)) div 1000000")).cast("long")
        .alias("p_micro"),
    )


def good_turing_counts(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Good-Turing count-of-counts table with the Turing-adjusted
    frequency estimate r* = (r+1)·N_{r+1}/N_r in exact micro units — the
    smoothing diagnostic a corpus LM pass computes before choosing
    discounts (and the standard unseen-mass estimate N_1/N for coverage
    audits). Emits one row per observed frequency r: how many word types
    occur exactly r times (n_r), and gt_r_micro = ((r+1)·N_{r+1}·1e6)
    div N_r (0 when N_{r+1}=0, the classic truncation).

    Exactness: integer counts and ONE trunc division of non-negative
    integers — bit-identical on any engine.

    Scale shape: word counts are one explode -> partial-aggregable
    groupBy; count-of-counts is a second groupBy of the vocab-sized
    frame; N_{r+1} arrives by a self-join of the tiny frequency table on
    r+1 (|distinct frequencies| rows). No sort, no Python, no driver
    collect.

    Returns ``DataFrame[r: long, n_r: long, gt_r_micro: long]``.
    """
    wc = word_counts(df, text_col)
    cc = wc.groupBy(F.col("cnt").cast("long").alias("r")).agg(
        F.count(F.lit(1)).cast("long").alias("n_r")
    )
    nxt = cc.select((F.col("r") - 1).alias("r"), F.col("n_r").alias("n_r1"))
    return (
        cc.join(nxt, "r", "left")
        .select(
            "r", "n_r",
            F.expr(
                "coalesce(((r + 1) * cast(coalesce(n_r1, 0) as decimal(38,0))"
                " * 1000000) div cast(n_r as decimal(38,0)), 0)"
            ).cast("long").alias("gt_r_micro"),
        )
    )


def source_js_divergence(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Jensen-Shannon divergence between per-source unigram distributions
    (add-one smoothing over the union vocabulary) — the SYMMETRIC,
    BOUNDED (<= ln 2) companion to source_kl for mixture dashboards:
    KL explodes when q misses p's support and is asymmetric, JS is the
    metric-like average against the midpoint m = (p+q)/2.

    Determinism, one notch stricter than source_kl: the per-word
    contribution pa·ln(pa/m) + pb·ln(pb/m) is quantized to integer
    NANOS per vocabulary row (floor(t·1e9 + 0.5), the zipf_fit
    convention) BEFORE summation, so the released js_nanos = Σ div 2 is
    an exact integer in any summation order — no order-dependent float
    sum ever crosses an engine boundary.

    Scale shape: one word-count shuffle (partial-agg), a V-row dense
    table per source (sources × union vocab via the same left-join fill
    as source_kl), one V-row equi-join per unordered source pair, one
    integer-sum groupBy. All frames bounded by |sources|·|vocab|.

    Returns ``DataFrame[src_a, src_b, js_nanos: long]`` with
    src_a < src_b.
    """
    from ..operators.dedup import normalize_text

    words = df.select(
        F.col(source_col).alias("source"),
        F.explode(F.split(normalize_text(text_col), " ")).alias("w"),
    )
    cnt = words.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    vocab_v = words.select("w").distinct().count()
    tot = cnt.groupBy("source").agg(F.sum("c").alias("n"))
    vocab = words.select("w").distinct()
    dense = (
        tot.crossJoin(vocab)
        .join(cnt, ["source", "w"], "left")
        .select(
            "source", "w",
            ((F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double")
             / (F.col("n") + vocab_v)).alias("p"),
        )
    )
    a = dense.select(F.col("source").alias("src_a"), "w", F.col("p").alias("pa"))
    b = dense.select(F.col("source").alias("src_b"), "w", F.col("p").alias("pb"))
    mcol = (F.col("pa") + F.col("pb")) / F.lit(2.0)
    t = (
        F.col("pa") * F.log(F.col("pa") / mcol)
        + F.col("pb") * F.log(F.col("pb") / mcol)
    )
    q = F.floor(t * F.lit(1e9) + F.lit(0.5)).cast("long")
    return (
        a.join(b, "w")
        .filter(F.col("src_a") < F.col("src_b"))
        .select("src_a", "src_b", q.alias("t"))
        .groupBy("src_a", "src_b")
        .agg(F.expr("cast(sum(t) div 2 as bigint)").alias("js_nanos"))
    )


def effective_sample_size(df: DataFrame, weight_col: str) -> DataFrame:
    """Kish effective sample size of an integer weight column:
    ESS = (Σw)² / Σw² — the number that sizes a soft-deduped / importance-
    weighted corpus (dup_weights, dsir_weights, priority samples): n
    weighted documents train like ESS unweighted ones, so epochs and
    mixture budgets should be set from ESS, not n.

    Exactness: Σw and Σw² are exact decimal(38,0) sums; the releases are
    two integer trunc divisions — ess_micro = ((Σw)²·1e6) div Σw² (ESS in
    micro-documents) and ess_ratio_ppm = ((Σw)²·1e6) div (n·Σw²) — both
    bit-identical on any engine.

    Scale shape: ONE fully map-side-combinable global aggregate carrying
    three moments; no sort, no join, no Python.

    Returns one row: (n, sum_w, sum_w2, ess_micro, ess_ratio_ppm).
    """
    w = F.col(weight_col).cast("decimal(38,0)")
    g = df.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(w).alias("sum_w"),
        F.sum(w * w).alias("sum_w2"),
    )
    return g.select(
        "n",
        # stringified: sum_w2 exceeds int64 once n * w^2 passes ~9e18
        # (1e7 micro-weighted rows) — the embedding_covariance convention
        F.col("sum_w").cast("decimal(38,0)").cast("string").alias("sum_w"),
        F.col("sum_w2").cast("decimal(38,0)").cast("string").alias("sum_w2"),
        F.expr(
            "case when sum_w2 > 0 then cast((sum_w * sum_w * 1000000)"
            " div sum_w2 as bigint) else 0 end"
        ).alias("ess_micro"),
        F.expr(
            "case when sum_w2 > 0 and n > 0 then cast((sum_w * sum_w * 1000000)"
            " div (n * sum_w2) as bigint) else 0 end"
        ).alias("ess_ratio_ppm"),
    )


def diversity_indices(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Ecological diversity profile of each corpus slice's WORD
    distribution — the composition view that tells a curation pipeline
    whether a source is lexically rich or a stamped-out template farm:

    * ``chao1_micro`` — bias-corrected Chao1 richness estimator
      (Chao 1984) V + f1(f1-1)/(2(f2+1)): how many word types the slice
      WOULD show at infinite sampling, from the singleton/doubleton
      counts (the abundance cousin of vocab_richness's observed-hapax
      report). Exact integer micro units, defined even when f2 = 0.
    * ``simpson_ppm`` — Simpson concentration lambda =
      sum c(c-1) / (N(N-1)) in exact ppm (probability two random tokens
      are the same type; 1 - lambda is Simpson diversity). Pure integer
      trunc division.
    * ``entropy`` — Shannon entropy (nats) of the word distribution,
      the entropy_by_group release form: per-type ln quantized to
      integer nanos BEFORE the weighted sum (order-free exact
      decimal(38,0) reduction), one fixed-order closing expression.

    Scale shape: one (group, word) shuffle bounded by vocabulary x
    groups, then one map-side-combinable groupBy(group); no windows, no
    sorts, no raw-text shuffle (words explode map-side). Distinct from
    entropy_report (language-mix entropy) — this profiles the lexical
    distribution itself.
    """
    from ..operators.dedup import normalize_text

    wc = (
        docs.select(
            F.col(group_col).alias("grp"),
            F.explode(F.split(normalize_text(text_col), " ")).alias("w"),
        )
        .filter(F.col("w") != "")
        .groupBy("grp", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    nlog = F.floor(
        F.log(F.col("c").cast("double")) * F.lit(1e9) + F.lit(0.5)
    ).cast("decimal(38,0)")
    g = wc.groupBy("grp").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("v_distinct"),
        F.sum((F.col("c") == 1).cast("long")).cast("long").alias("f1"),
        F.sum((F.col("c") == 2).cast("long")).cast("long").alias("f2"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("_cc"),
        F.sum(F.col("c").cast("decimal(38,0)") * nlog).alias("_wl"),
    )
    n_d = F.col("n_tokens").cast("double")
    ent = (
        F.floor(F.log(n_d) * F.lit(1e9) + F.lit(0.5)) / F.lit(1e9)
        - F.col("_wl").cast("double") / n_d / F.lit(1e9)
    )
    return g.select(
        F.col("grp").alias(group_col),
        "n_tokens",
        "v_distinct",
        "f1",
        "f2",
        F.expr(
            "cast(v_distinct * 1000000 + (cast(f1 as decimal(38,0)) * (f1 - 1)"
            " * 1000000) div (2 * (f2 + 1)) as bigint)"
        ).alias("chao1_micro"),
        F.expr(
            "cast(case when n_tokens >= 2 then"
            " ((_cc - n_tokens) * 1000000) div (cast(n_tokens as decimal(38,0))"
            " * (n_tokens - 1)) else 0 end as bigint)"
        ).alias("simpson_ppm"),
        (F.floor(ent * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias("entropy"),
    )


def capture_recapture(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Chapman capture-recapture estimate of the TOTAL vocabulary from
    each source's "capture" vs the rest of the corpus (Lincoln-Petersen
    with the Chapman small-m correction) — the cross-source coverage
    meter beside diversity_indices' within-source Chao1: if a source's
    estimate N-hat is far above the observed corpus vocabulary, the
    corpus is still missing word mass that source hints at.

    Per source s: n1 = |vocab(s)|, n2 = |vocab(rest)|, m = |overlap|,
        chapman_micro = ((n1+1)(n2+1)*1e6) div (m+1) - 1e6
    (exact integer trunc division, defined even at m = 0). The rest-side
    quantities come from the per-word source-count frame: a word with
    k >= 2 sources is shared; n2 = V_total - (n1 - m) where V_total is
    the corpus vocabulary and n1 - m the words exclusive to s.

    Scale shape: one distinct (source, word) shuffle bounded by
    vocabulary x sources, one groupBy(word) for the share counts, one
    AQE-decided join back, one groupBy(source); a 1-row corpus-vocab
    broadcast. All integers until the final trunc division.
    """
    from ..operators.dedup import normalize_text

    sw = (
        docs.select(
            F.col(group_col).alias("grp"),
            F.explode(F.split(normalize_text(text_col), " ")).alias("w"),
        )
        .filter(F.col("w") != "")
        .distinct()
    )
    shares = sw.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("_k"))
    tot = shares.agg(F.count(F.lit(1)).cast("long").alias("_vt"))
    per_s = (
        sw.join(shares, "w")
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n1"),
            F.sum((F.col("_k") >= 2).cast("long")).cast("long").alias("m"),
        )
        .crossJoin(F.broadcast(tot))
    )
    return per_s.select(
        F.col("grp").alias(group_col),
        "n1",
        (F.col("_vt") - (F.col("n1") - F.col("m"))).cast("long").alias("n2"),
        "m",
        F.col("_vt").alias("v_total"),
        F.expr(
            "cast(((cast(n1 as decimal(38,0)) + 1) * ((_vt - (n1 - m)) + 1)"
            " * 1000000) div (m + 1) - 1000000 as bigint)"
        ).alias("chapman_micro"),
    )


def naive_bayes_confusion(
    df: DataFrame,
    label_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Multinomial Naive Bayes with add-one smoothing, trained on the
    md5-even half of the corpus and evaluated on the odd half — the
    count-based sibling of the logistic probe (the classical
    fasttext-style corpus router). Returns the held-out confusion
    matrix (label_true, label_pred, n_docs).

    Engine-exact scoring: every model weight is a nano-quantized ln of
    a ratio of exact integers (floor(ln((c+1)/(N_c+V))*1e9+0.5) — the
    SAME IEEE division + ln on both engines), so a document's score

        prior_nano(c) + Σ_matched cnt_w·w_nano(w,c)
                      + (known_tokens − matched_tokens_c)·default_nano(c)

    is a pure int64 sum and the argmax (score desc, label asc) is
    deterministic. Only NONZERO (word, class) weights materialize: the
    zero-count mass rides the per-class default term, so the model
    table is O(observed vocab×class pairs), never the dense grid.
    Held-out words outside the train vocabulary are dropped (the
    documented OOV policy; both engines apply the same semi join).

    Scale: one token shuffle into (word, class) counts (map-side
    combinable, bounded by vocab×classes), one vocab-keyed join of test
    tokens to the model (AQE broadcasts the model side when small), one
    groupBy(doc, class) and a per-doc argmax as a min-struct groupBy
    ((-score, class) ascending ≡ score desc / class asc — the identical
    tie-break, but partial-aggregable map-side instead of a
    shuffle+sort window over the classes-row-per-doc frame).
    Nothing is ever O(corpus²).

    Reference analog: corpus router/quality gates in the curation CLIs
    (tools/export_dataset.rs filter stages).
    """
    # NOTE(r6): fan_out_small_scan here measured ~0.5 s SLOWER (the token
    # base fans into many consumers; the repartition subtree outweighed the
    # single-task explode) — left on the plain scan after A/B.
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(label_col).alias("_y"),
        (md5_bucket(F.col(id_col), 2) == 0).alias("_train"),
        F.explode(normalized_words(text_col)).alias("w"),
    ).where(F.col("w") != "")
    tok = base.groupBy("_id", "_y", "_train", "w").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    # NOTE(r6): localCheckpoint(eager=True) on tok (7 consumers) measured
    # EQUAL warm in an 8-round alternating A/B (1.76-2.04 vs 1.79-1.91 s
    # at sf0.1) — the exchange subtrees already reuse; left unmaterialized.
    train = tok.where("_train")
    cls = train.groupBy("_y").agg(
        F.countDistinct("_id").cast("long").alias("docs_c"),
        F.sum("cnt").cast("long").alias("n_c"),
    )
    vocab = train.select("w").distinct()
    v_tot = vocab.agg(F.count(F.lit(1)).cast("long").alias("v"))
    docs_tot = train.agg(F.countDistinct("_id").cast("long").alias("docs_tot"))

    def nano(c):
        return F.floor(c * F.lit(1e9) + F.lit(0.5)).cast("long")

    cls_full = (
        cls.crossJoin(F.broadcast(v_tot))
        .crossJoin(F.broadcast(docs_tot))
        .select(
            "_y",
            nano(F.ln(F.col("docs_c").cast("double")
                      / F.col("docs_tot").cast("double"))).alias("prior_nano"),
            nano(F.ln(F.lit(1.0) / (F.col("n_c") + F.col("v")).cast("double"))
                 ).alias("default_nano"),
            (F.col("n_c") + F.col("v")).cast("long").alias("denom"),
        )
    )
    wc = train.groupBy("w", "_y").agg(F.sum("cnt").cast("long").alias("c_wc"))
    model = wc.join(F.broadcast(cls_full.select("_y", "denom")), "_y").select(
        "w", "_y",
        nano(F.ln((F.col("c_wc") + 1).cast("double")
                  / F.col("denom").cast("double"))).alias("w_nano"),
    )
    test = tok.where(~F.col("_train")).join(vocab, "w", "left_semi")
    known = test.groupBy("_id", "_y").agg(
        F.sum("cnt").cast("long").alias("known_tokens")
    )
    matched = (
        test.select("_id", "w", "cnt")
        .join(model.select("w", F.col("_y").alias("_c"), "w_nano"), "w")
        .groupBy("_id", "_c")
        .agg(
            F.sum(F.col("cnt") * F.col("w_nano")).cast("long").alias("m_sum"),
            F.sum("cnt").cast("long").alias("m_cnt"),
        )
    )
    classes = cls_full.select(
        F.col("_y").alias("_c"), "prior_nano", "default_nano"
    )
    scored = (
        known.crossJoin(F.broadcast(classes))
        .join(matched, ["_id", "_c"], "left_outer")
        .select(
            "_id", "_y", "_c",
            (
                F.col("prior_nano")
                + F.coalesce(F.col("m_sum"), F.lit(0))
                + (F.col("known_tokens") - F.coalesce(F.col("m_cnt"), F.lit(0)))
                * F.col("default_nano")
            ).alias("score"),
        )
    )
    # argmax(score desc, _c asc) == min of the struct (-score, _c): int64
    # negation is exact, struct comparison is field-ordered, and string
    # min is the ascending tie-break — same winner as the row_number
    # window. Struct min is not hash-aggregable, so the plan is a
    # map-side-combinable SortAggregate; it replaces the window and its
    # per-partition global sort, not sorting altogether.
    return (
        scored.groupBy("_id", "_y")
        .agg(F.min(F.struct((-F.col("score")).alias("_ns"), F.col("_c"))).alias("_m"))
        .groupBy(
            F.col("_y").alias("label_true"),
            F.col("_m._c").alias("label_pred"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


def burrows_delta(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    top_m: int = 30,
) -> DataFrame:
    """Burrows' Delta between every source pair — the stylometric
    distance that authorship attribution has used for two decades
    (Burrows 2002): restrict to the corpus's top-m most frequent words
    (function words dominate, which is the point — they're
    topic-independent style markers), z-score each word's relative
    frequency across sources, and Delta(a,b) = meanᵥ|z_av − z_bv|.
    The STYLE companion to source_kl/source_js (which compare full
    unigram distributions and are topic-dominated): two sources can
    share topics yet differ in Delta, and vice versa.

    Engine-exact construction: per-source relative frequencies are
    exact ppm integers f = (c·1e6) div N_s (missing words are real
    0 cells via the dense top-m × sources grid); the cross-source
    spread clears to the integer D_v = S·Σf² − (Σf)²; each word term
    |f_a − f_b|·S/√D_v is ONE fixed-order IEEE expression
    micro-quantized to an integer, so the per-pair reduction is an
    order-free int64 sum; the release divides by the pair-independent
    included-word count. Words with D_v = 0 (identical frequency
    everywhere) carry zero style signal and are excluded on both
    engines by the same integer predicate.

    Scale shape: the corpus collapses to (source, word) counts in one
    map-side-combinable groupBy (bounded by per-source vocabulary);
    the top-m selection is one window over the WORD-TOTALS frame
    (bounded by vocabulary, deterministic count-desc/word-asc order);
    everything after lives on the m × S dense grid (hundreds of rows)
    — broadcast joins only, never rows².

    Returns per source pair (src_a < src_b): (src_a, src_b, m_words,
    delta_micro: long).
    """
    words = docs.select(
        F.col(source_col).alias("source"),
        F.explode(normalized_words(text_col)).alias("word"),
    )
    counts = words.groupBy("source", "word").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    totals = counts.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_s")
    )
    word_tot = counts.groupBy("word").agg(F.sum("c").cast("long").alias("wc"))
    topw = (
        word_tot.withColumn(
            "_r",
            F.row_number().over(Window.orderBy(F.desc("wc"), F.asc("word"))),
        )
        .filter(F.col("_r") <= top_m)
        .select("word")
    )
    # dense grid: every (source, top word) cell, absent counts = 0
    # (constant-key equi join -> BroadcastHashJoin, never a cartesian)
    grid = totals.withColumn("_k", F.lit(1)).join(
        F.broadcast(topw.withColumn("_k", F.lit(1))), "_k"
    ).drop("_k")
    f = (
        grid.join(F.broadcast(counts.join(F.broadcast(topw), "word")),
                  ["source", "word"], "left")
        .select(
            "source",
            "word",
            F.expr(
                "cast((coalesce(c, 0) * 1000000) div n_s as bigint)"
            ).alias("f"),
        )
    )
    wstats = f.groupBy("word").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("s"),
        F.sum("f").cast("decimal(38,0)").alias("sf"),
        F.sum(F.col("f").cast("decimal(38,0)") * F.col("f"))
        .cast("decimal(38,0)")
        .alias("sf2"),
    ).select(
        "word",
        F.col("s").cast("long").alias("s"),
        (F.col("s") * F.col("sf2") - F.col("sf") * F.col("sf"))
        .cast("decimal(38,0)")
        .alias("dv"),
    ).filter(F.col("dv") > 0)
    a = f.select(
        F.col("word"), F.col("source").alias("src_a"), F.col("f").alias("fa")
    )
    b = f.select(
        F.col("word"), F.col("source").alias("src_b"), F.col("f").alias("fb")
    )
    pairs = (
        a.join(F.broadcast(b), "word")
        .filter(F.col("src_a") < F.col("src_b"))
        .join(F.broadcast(wstats), "word")
    )
    term = F.floor(
        (F.abs(F.col("fa") - F.col("fb")).cast("double")
         * F.col("s").cast("double"))
        / F.sqrt(F.col("dv").cast("double"))
        * F.lit(1e6)
        + F.lit(0.5)
    ).cast("long")
    return (
        pairs.select("src_a", "src_b", term.alias("t"))
        .groupBy("src_a", "src_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("m_words"),
            F.expr("cast(sum(t) div count(*) as bigint)").alias("delta_micro"),
        )
    )


def hapax_profile(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Hapax-legomena profile per source: V1 (once-words), V2
    (twice-words), their shares of the vocabulary, Sichel's S = V2/V,
    and Honoré's R = 100·ln(N)/(1 − V1/V) — the frequency-spectrum
    vocabulary-growth characteristics that corpus QA reads alongside
    yule_k (repeat rate) and vocab_richness (Chao1/Simpson/Shannon):
    a crawler stuck in template text shows collapsing V1/V; genuinely
    fresh text keeps R roughly stable as N grows.

    Exact integers everywhere except Honoré's R, which is ONE
    fixed-order IEEE expression of exact integers (NULL when V1 = V,
    where R diverges); the shares release as exact ppm trunc
    divisions.

    Scale shape: one explode → one (source, word) groupBy bounded by
    per-source vocabulary → one per-source conditional aggregate. No
    joins, no windows.

    Returns per source: (source, n_tokens, v_types, v1, v2, hapax_ppm,
    sichel_ppm, honore_r).
    """
    from .repetition import normalized_words

    words = docs.select(
        F.col(source_col).alias("source"),
        F.explode(normalized_words(text_col)).alias("word"),
    )
    counts = words.groupBy("source", "word").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    agg = counts.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("v_types"),
        F.sum((F.col("c") == 1).cast("long")).cast("long").alias("v1"),
        F.sum((F.col("c") == 2).cast("long")).cast("long").alias("v2"),
    )
    honore = (
        F.lit(100.0)
        * F.log(F.col("n_tokens").cast("double"))
        / (F.lit(1.0) - F.col("v1").cast("double") / F.col("v_types").cast("double"))
    )
    return agg.select(
        "source",
        "n_tokens",
        "v_types",
        "v1",
        "v2",
        F.expr("cast((v1 * 1000000) div v_types as bigint)").alias("hapax_ppm"),
        F.expr("cast((v2 * 1000000) div v_types as bigint)").alias("sichel_ppm"),
        F.when(
            F.col("v1") < F.col("v_types"),
            F.floor(honore * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6),
        ).alias("honore_r"),
    )


def richness_estimators(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Nonparametric vocabulary-richness floors — Chao1 (1984) and the
    first-order jackknife (Burnham & Overton 1978) — from the same
    frequency-of-frequencies frame good_turing uses: given the observed
    type count D and the singleton/doubleton counts f1/f2, how many
    types does the corpus PLAUSIBLY contain that sampling missed?
    heaps_fit extrapolates a power law; these are the abundance-based
    lower bounds the ecology literature standardizes on, and the
    deduplication question "how much unseen vocabulary is left" in one
    row.

      chao1     = D + f1^2 / (2 f2)        (bias-corrected form
                  D + f1(f1-1)/(2(f2+1)) released alongside — exact
                  with the +1 guard, defined even at f2 = 0)
      jackknife = D + f1 * (n-1) / n        (n = token count)

    All inputs are exact integers off two partial-aggregable groupBys;
    each estimate is one floor division on nonnegative operands,
    released in micro units.

    Returns one row: (n_tokens, d_types, f1, f2, chao1_micro,
    chao1_bc_micro, jack1_micro).
    """
    wc = word_counts(df, text_col)
    dec = "decimal(38,0)"
    agg = wc.agg(
        F.sum("cnt").cast(dec).alias("n"),
        F.count(F.lit(1)).cast(dec).alias("d"),
        F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0)).cast(dec).alias("f1"),
        F.sum(F.when(F.col("cnt") == 2, 1).otherwise(0)).cast(dec).alias("f2"),
    )
    return agg.select(
        F.col("n").cast("long").alias("n_tokens"),
        F.col("d").cast("long").alias("d_types"),
        F.col("f1").cast("long").alias("f1"),
        F.col("f2").cast("long").alias("f2"),
        F.when(
            F.col("f2") > 0,
            F.expr("cast(d * 1000000 + (f1 * f1 * 1000000) div (2 * f2)"
                   " as bigint)"),
        ).alias("chao1_micro"),
        F.expr(
            "cast(d * 1000000 + (f1 * (f1 - 1) * 1000000) div (2 * (f2 + 1))"
            " as bigint)"
        ).alias("chao1_bc_micro"),
        F.when(
            F.col("n") > 0,
            F.expr("cast(d * 1000000 + (f1 * (n - 1) * 1000000) div n"
                   " as bigint)"),
        ).alias("jack1_micro"),
    )
