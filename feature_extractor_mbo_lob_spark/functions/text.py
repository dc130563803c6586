"""Text-analysis functions for training-data pipelines: token counting,
quality scoring, language ID, document fingerprinting.

All JVM-side column expressions (regex/aggregate/transform) — no Python in
the hot path. Each has an ANSI-SQL twin in driver_queries so the DuckDB
oracle covers it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..contract import DIVISION_GUARD_EPS

# tiny per-language stopword lists for the n-gram/stopword heuristic
LANG_STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es"),
    "fr": ("le", "la", "de", "et", "les", "des", "un", "une"),
    "de": ("der", "die", "das", "und", "ist", "von", "ein", "zu"),
}


def token_count_ws(col) -> Column:
    """Whitespace tokenization count."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.split(F.trim(c), r"\s+")).cast("long")


def token_count_bpe_ish(col) -> Column:
    """BPE-ish token estimate: word pieces + digits + punctuation as separate
    tokens (regex '\\w+|[^\\w\\s]' match count)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(r"[a-zA-Z0-9]+|[^a-zA-Z0-9\s]"), F.lit(0))).cast("long")


def punct_ratio(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return (n_punct / (F.length(c) + F.lit(DIVISION_GUARD_EPS))).cast("double")


def quality_score(col) -> Column:
    """Composite quality heuristic in [0,1]: length band + word length
    sanity + low punctuation noise (reference analog: the validator's
    bounds checks, src/validation.rs:156-330, recast as a score)."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c).cast("double")
    words = F.split(F.trim(c), r"\s+")
    nw = F.size(words).cast("double")
    avg_wlen = n / (nw + F.lit(DIVISION_GUARD_EPS))
    len_ok = F.when((n >= 20) & (n <= 20000), F.lit(1.0)).otherwise(F.lit(0.0))
    wlen_ok = F.when((avg_wlen >= 2.0) & (avg_wlen <= 12.0), F.lit(1.0)).otherwise(F.lit(0.0))
    punct_ok = F.when(punct_ratio(c) <= 0.2, F.lit(1.0)).otherwise(F.lit(0.0))
    return ((len_ok + wlen_ok + punct_ok) / F.lit(3.0)).cast("double")


def lang_stopword_count(col, lang: str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    words = F.split(F.lower(F.trim(c)), r"\s+")
    sw = F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])
    return F.size(F.filter(words, lambda w: F.array_contains(sw, w)))


def lang_id(col) -> Column:
    """Stopword-vote language ID: the language whose stopword list matches
    the most tokens; 'und' when nothing matches. Ties break by the fixed
    priority en > es > fr > de (an explicit CASE cascade, so any SQL engine
    reproduces the exact same decision)."""
    counts = {lang: lang_stopword_count(col, lang) for lang in LANG_STOPWORDS}
    order = list(LANG_STOPWORDS)  # en, es, fr, de — priority order
    # simple first-match cascade: a language wins when its count is positive
    # and >= every LATER language's count (earlier CASE arms absorb earlier
    # languages) — trivially mirrored as SQL CASE WHEN
    expr = F.lit("und")
    for i in range(len(order) - 1, -1, -1):
        lang = order[i]
        cond = counts[lang] > 0
        for other in order[i + 1 :]:
            cond = cond & (counts[lang] >= counts[other])
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return expr


def fingerprint(col) -> Column:
    """Deterministic document fingerprint: md5 of whitespace-normalized,
    lowercased text (rolling-hash analog; md5 so DuckDB reproduces it)."""
    c = F.col(col) if isinstance(col, str) else col
    normed = F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")
    return F.md5(normed)


def chunk_documents(df, max_words: int = 128, stride: int = 96,
                    id_col: str = "doc_id", text_col: str = "text"):
    """RAG/pretraining chunking: sliding word windows of ``max_words`` with
    ``stride`` (overlap = max_words - stride), final partial chunk kept.

    Pure higher-order array expressions build every chunk from ONE split()
    per row (no explode-then-regroup shuffle for the construction — the
    only shuffle is whatever the consumer does next). Emits
    (id, chunk_id, chunk_text, n_words).
    """
    from pyspark.sql import functions as F

    words = F.split(F.col(text_col), " ")
    n = F.size(words)
    n_chunks = F.greatest(
        F.lit(1), F.ceil((n - F.lit(max_words)) / F.lit(float(stride))).cast("int") + 1
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda j: F.struct(
            j.cast("int").alias("chunk_id"),
            F.array_join(
                F.slice(words, j * stride + 1, max_words), " "
            ).alias("chunk_text"),
            F.least(n - j * stride, F.lit(max_words)).cast("long").alias("n_words"),
        ),
    )
    return (
        df.select(F.col(id_col).alias("id"), F.explode(chunks).alias("c"))
        .select("id", "c.chunk_id", "c.chunk_text", "c.n_words")
    )


def cdc_chunk_documents(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    divisor: int = 8,
):
    """Content-defined chunking: a chunk boundary falls AFTER word i
    whenever md5(word_i) % divisor == 0, so boundaries move with content
    (insert a word early in a document and only the chunk containing the
    edit changes) — the property fixed-size chunking lacks and the reason
    dedup storage systems (FastCDC et al.) chunk this way. Average chunk
    length = ``divisor`` words.

    Emits (id, chunk_idx, n_words, chunk_md5) — the digest, not the
    text, so downstream chunk-level dedup shuffles 32-byte keys.
    Exploded-words plan: one doc-keyed window for the running boundary
    count, one groupBy for reassembly; everything before the window is
    whole-stage codegen.
    """
    from pyspark.sql import Window, functions as F

    from ..operators.dedup import normalize_text

    words = F.split(normalize_text(text_col), " ")
    g = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(words).alias("pos", "word"),
    )
    h = F.conv(F.substring(F.md5("word"), 1, 7), 16, 10).cast("long")
    bd = (F.pmod(h, F.lit(divisor)) == 0).cast("long")
    prev = Window.partitionBy("id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, -1
    )
    tagged = g.select(
        "id", "pos", "word",
        F.coalesce(F.sum(bd).over(prev), F.lit(0)).alias("chunk_idx"),
    )
    return (
        tagged.groupBy("id", "chunk_idx")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("pos", "word"))
                        ),
                        lambda s: s["word"],
                    ),
                )
            ).alias("chunk_md5"),
        )
    )


def readability(df, id_col: str = "doc_id", text_col: str = "text",
                words_per_sentence: int = 10):
    """Flesch reading-ease per document with a deterministic heuristic
    syllable counter: syllables(word) = max(1, vowel-run count). The
    corpus carries no sentence punctuation, so sentences are fixed
    ``words_per_sentence``-word segments (the same convention the line
    operators use, plans/driver_queries.py dedup_lines).

    All counting is JVM higher-order expressions over the split array —
    one narrow projection, no shuffle, no UDF: vowel runs cannot span a
    space, so the text-wide run count equals the per-word sum; words with
    zero vowels are counted once more to apply the max(1, ...) floor.

    FRE = 206.835 - 1.015*(words/sentences) - 84.6*(syllables/words),
    evaluated in that fixed operand order over exact integer counts.
    """
    t = F.lower(F.col(text_col))
    words = F.split(t, " ")
    n_words = F.size(words).cast("long")
    n_sent = F.ceil(n_words / F.lit(float(words_per_sentence))).cast("long")
    vruns = F.expr(f"size(regexp_extract_all(lower({text_col}), '[aeiou]+', 0))")
    novowel = F.size(F.filter(words, lambda x: ~x.rlike("[aeiou]")))
    n_syll = (vruns + novowel).cast("long")
    w_d = F.col("n_words").cast("double")
    s_d = F.col("n_sentences").cast("double")
    sy_d = F.col("n_syllables").cast("double")
    fre = (
        F.lit(206.835)
        - F.lit(1.015) * (w_d / s_d)
        - F.lit(84.6) * (sy_d / w_d)
    )
    return (
        df.select(
            F.col(id_col).alias("id"),
            n_words.alias("n_words"),
            n_sent.alias("n_sentences"),
            n_syll.alias("n_syllables"),
        )
        .where(F.col("n_words") > 0)
        .select(
            "id", "n_words", "n_sentences", "n_syllables",
            (F.floor(fre * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias("flesch"),
        )
    )


def pattern_flag(col, patterns: tuple[str, ...]) -> Column:
    """True when lower(text) contains any of the literal substrings.

    The curation use is refusal / canned-response detection over assistant
    turns ("i cannot", "i'm sorry, but", ...) so refusals can be filtered
    or down-weighted before SFT. Literal `contains` (not regex) so the
    DuckDB oracle twin (instr(lower(text), p) > 0) is engine-exact.
    """
    c = F.col(col) if isinstance(col, str) else col
    low = F.lower(F.coalesce(c, F.lit("")))
    flag = F.lit(False)
    for p in patterns:
        flag = flag | low.contains(p.lower())
    return flag


def flag_rates(
    df,
    patterns: tuple[str, ...],
    role: str | None = None,
    group_col: str = "conv_id",
    text_col: str = "text",
):
    """Per-conversation flagged-turn statistics for a substring pattern
    list: turns scanned, turns flagged, flag rate, and the first flagged
    turn index (the truncation point if the policy is 'cut at first
    refusal'). ``role`` restricts scanning to that role's turns.

    One grouped aggregate — digests-only shuffle, no text leaves the scan
    stage. 100-TB shape: identical.
    """
    base = df
    if role is not None:
        base = base.filter(F.col("role") == role)
    flagged = pattern_flag(text_col, patterns)
    return base.groupBy(group_col).agg(
        F.count("*").cast("long").alias("n_turns"),
        F.sum(flagged.cast("int")).cast("long").alias("n_flagged"),
        (
            F.floor(
                F.sum(flagged.cast("int")).cast("double")
                / F.count("*").cast("double")
                * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("flag_rate"),
        F.min(F.when(flagged, F.col("turn_idx"))).cast("int").alias("first_flag_turn"),
    )


def rake_keywords(
    docs,
    text_col: str = "text",
    id_col: str = "doc_id",
    stopwords: tuple = LANG_STOPWORDS["en"],
    top_k: int = 20,
):
    """RAKE keyword extraction (Rose et al. 2010 — public method) with
    integer-exact scoring. Candidate phrases are maximal runs of
    non-stopword tokens; each word scores deg(w)/freq(w) where freq is
    its corpus occurrence count and deg the summed length of phrases
    containing it; a phrase scores the sum of its word scores. The
    per-word ratio is carried as integer ppm via int64 floor division
    ((deg * 1e6) div freq) so phrase scores are exact int64 on any
    engine — no float crosses the oracle boundary.

    Returns the global top_k phrases: (phrase, n_words, n_occurrences,
    score_ppm), ordered score desc then phrase asc.

    Scale shape: tokenize -> per-(doc, phrase) window count -> two
    word-keyed aggregations (freq/deg are map-side combinable) -> one
    phrase aggregation -> bounded top-k. All shuffles are keyed on words
    or phrases (bounded vocabulary), never on documents^2.
    """
    from pyspark.sql import Window

    from ..operators.skew import fan_out_small_scan

    sw = F.array(*[F.lit(w) for w in stopwords])
    tok = fan_out_small_scan(docs).select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "word"),
    ).withColumn("_stop", F.array_contains(sw, F.col("word")))
    wp = Window.partitionBy("_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    tok = tok.withColumn(
        "phrase_id", F.sum(F.col("_stop").cast("int")).over(wp)
    ).filter(~F.col("_stop") & (F.col("word") != ""))
    plen_w = Window.partitionBy("_id", "phrase_id")
    tok = tok.withColumn("plen", F.count(F.lit(1)).over(plen_w))
    wstats = tok.groupBy("word").agg(
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum("plen").cast("long").alias("deg"),
    ).withColumn(
        "score_ppm", F.expr("(deg * 1000000) div freq").cast("long")
    )
    scored = tok.join(wstats.select("word", "score_ppm"), "word")
    inst = scored.groupBy("_id", "phrase_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "word"))),
                lambda s: s.word,
            ),
            " ",
        ).alias("phrase"),
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum("score_ppm").cast("long").alias("score_ppm"),
    )
    agg = inst.groupBy("phrase").agg(
        F.max("n_words").cast("long").alias("n_words"),
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        F.max("score_ppm").cast("long").alias("score_ppm"),
    )
    return agg.orderBy(F.desc("score_ppm"), F.asc("phrase")).limit(top_k)


# keyword lexicon for the code-detection heuristic (lowercased word hits)
CODE_KEYWORDS = (
    "def", "return", "import", "class", "function", "var", "const",
    "void", "int", "include", "printf", "lambda", "public", "static",
)


def code_features(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    score_threshold_ppm: int = 300_000,
) -> "DataFrame":
    """Code-vs-prose detection heuristic — the standard corpus-curation
    gate (Gopher / RefinedWeb pipelines route code-looking pages away
    from the prose filters). Per document, all exact integers:

      n_lines            lines (split on \\n)
      indented_lines     lines starting with 4 spaces or a tab
      punct_end_lines    lines whose rtrimmed last char is ; { or }
      kw_hits            occurrences of CODE_KEYWORDS as alnum-split words
      sym_ppm            {}()[];=<> chars per text char (ppm, floor div)
      code_score_ppm     (indented + punct_end) lines per line (ppm)
      is_code            score >= threshold OR (kw_hits >= 3 AND
                         sym_ppm >= 20000)

    All JVM lambda/regex built-ins over the line array — one narrow
    projection, no shuffle, no UDFs; trivially 100-TB-safe.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.split(t, "\n")
    indented = F.filter(
        lines,
        lambda l: (F.substring(l, 1, 4) == "    ") | (F.substring(l, 1, 1) == "\t"),
    )
    punct_end = F.filter(
        lines,
        lambda l: F.substring(F.rtrim(l), -1, 1).isin(";", "{", "}"),
    )
    words = F.split(F.regexp_replace(F.lower(t), "[^a-z0-9]+", " "), " ")
    kw = F.filter(words, lambda w: w.isin(*CODE_KEYWORDS))
    sym_removed = F.regexp_replace(t, "[{}();=<>\\[\\]]", "")
    out = df.select(
        F.col(id_col),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(indented).cast("long").alias("indented_lines"),
        F.size(punct_end).cast("long").alias("punct_end_lines"),
        F.size(kw).cast("long").alias("kw_hits"),
        (F.length(t) - F.length(sym_removed)).cast("long").alias("sym_chars"),
        F.length(t).cast("long").alias("n_chars"),
    )
    sym_ppm = F.expr("sym_chars * 1000000 div greatest(n_chars, 1)")
    score = F.expr(
        "(indented_lines + punct_end_lines) * 1000000 div greatest(n_lines, 1)"
    )
    return out.select(
        id_col, "n_lines", "indented_lines", "punct_end_lines", "kw_hits",
        sym_ppm.cast("long").alias("sym_ppm"),
        score.cast("long").alias("code_score_ppm"),
        (
            (score >= score_threshold_ppm)
            | ((F.col("kw_hits") >= 3) & (sym_ppm >= 20_000))
        ).alias("is_code"),
    )


# default category -> wordlist lexicon for lexicon_hits (tiny, illustrative;
# real deployments pass their own — the operator is lexicon-agnostic)
DEFAULT_LEXICON = {
    "profanity": ("damn", "hell", "crap"),
    "violence": ("kill", "attack", "destroy", "fight"),
    "selfharm": ("suicide", "selfharm"),
}


def lexicon_hits(
    df,
    lexicon: dict[str, tuple[str, ...]] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> "DataFrame":
    """Blocklist/safety lexicon scorer — the wordlist-category gate a
    curation pipeline runs next to PII regex and Gopher statistics. Per
    document and category: exact count of alnum-split word occurrences
    in that category's list, plus total words and a ppm rate for the
    union of all categories.

    One narrow projection (split + JVM filter lambdas per category, the
    lists live in the plan as literals — broadcast-free, shuffle-free);
    case-insensitive exact word match, no substring false positives
    ("hello" never hits "hell").

    Returns ``DataFrame[id, n_words, <cat>_hits..., any_hits,
    hit_rate_ppm, flagged]``.
    """
    # `is None` — an explicitly passed EMPTY lexicon means "score nothing",
    # it must not silently fall back to the built-in lists
    lex = DEFAULT_LEXICON if lexicon is None else lexicon
    t = F.coalesce(F.col(text_col), F.lit(""))
    words = F.split(F.regexp_replace(F.lower(t), "[^a-z0-9]+", " "), " ")
    nw = F.size(F.filter(words, lambda w: w != ""))
    cols = [
        F.col(id_col),
        nw.cast("long").alias("n_words"),
    ]
    hit_exprs = []
    for cat, terms in lex.items():
        c = F.size(F.filter(words, lambda w: w.isin(*terms))).cast("long")
        cols.append(c.alias(f"{cat}_hits"))
        hit_exprs.append(F.col(f"{cat}_hits"))
    out = df.select(*cols)
    any_hits = (
        sum(hit_exprs[1:], hit_exprs[0]) if hit_exprs else F.lit(0)
    )
    return out.select(
        "*",
        any_hits.cast("long").alias("any_hits"),
    ).select(
        "*",
        F.expr("any_hits * 1000000 div greatest(n_words, 1)")
        .cast("long").alias("hit_rate_ppm"),
        (F.col("any_hits") > 0).alias("flagged"),
    )
