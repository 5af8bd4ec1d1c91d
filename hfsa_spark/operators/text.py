"""Text-analysis operators for training-data pipelines: token counting,
quality scoring, language-ID heuristic, document fingerprinting.

All pure Catalyst expressions over the ``documents`` table — regexp +
higher-order functions, no UDFs — so they run at scan speed and carry
exact SQL oracles.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hfsa_spark.functions.hashing import portable_hash64
from hfsa_spark.operators.dedup import normalize_text

# Small multilingual stopword profiles for the n-gram/stopword language
# heuristic (public common-word lists).
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "den", "nicht", "ein"],
    "fr": ["le", "la", "les", "et", "de", "un", "une", "est", "pour", "que"],
    "es": ["el", "la", "los", "de", "y", "un", "una", "es", "por", "que"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "他", "这", "不"],
}


def tokens(text: Column | str) -> Column:
    """Whitespace tokens, lowercased, empties dropped."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.trim(F.lower(c)), r"\s+"), lambda t: F.length(t) > 0)


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column | str) -> Column:
    """A BPE-flavored proxy: word-piece count estimated as words +
    extra pieces for long words (every 4 chars past the first 4) +
    standalone punctuation/digit runs. Deterministic and SQL-expressible."""
    c = F.col(text) if isinstance(text, str) else text
    words = tokens(c)
    word_pieces = F.aggregate(
        words,
        F.lit(0).cast("long"),
        lambda acc, w: acc
        + 1
        + F.floor((F.greatest(F.length(w), F.lit(4)) - 4) / F.lit(4)).cast("long"),
    )
    punct_runs = F.size(F.filter(F.split(c, r"[\sA-Za-z]+"), lambda t: F.length(t) > 0))
    return (word_pieces + punct_runs).cast("long")


def punct_ratio(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    non_alnum = F.length(F.regexp_replace(c, r"[A-Za-z0-9\s]", ""))
    return non_alnum.cast("double") / F.greatest(F.length(c), F.lit(1)).cast("double")


def stopword_ratio(text: Column | str, lang: str = "en") -> Column:
    stop = LANG_STOPWORDS[lang]
    toks = tokens(text)
    hits = F.size(F.filter(toks, lambda t: t.isin(*stop)))
    return hits.cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")


def quality_score(text: Column | str) -> Column:
    """Composite [0,1] quality heuristic: rewards reasonable length and
    mean word length, penalizes punctuation soup. Weights are fixed and
    documented so the oracle reproduces them exactly:

    score = 0.4 * min(n_tokens/100, 1)
          + 0.3 * (1 - punct_ratio)
          + 0.3 * clamp((avg_word_len - 2) / 8, 0, 1)
    """
    c = F.col(text) if isinstance(text, str) else text
    toks = tokens(c)
    n = F.size(toks).cast("double")
    avg_len = F.aggregate(
        toks, F.lit(0).cast("double"), lambda acc, t: acc + F.length(t).cast("double")
    ) / F.greatest(n, F.lit(1.0))
    len_term = F.least(n / F.lit(100.0), F.lit(1.0))
    punct_term = F.lit(1.0) - punct_ratio(c)
    wl_term = F.least(F.greatest((avg_len - 2.0) / 8.0, F.lit(0.0)), F.lit(1.0))
    return 0.4 * len_term + 0.3 * punct_term + 0.3 * wl_term


def lang_id_heuristic(text: Column | str) -> Column:
    """Stopword-profile argmax language guess: score each language by
    stopword hits, pick the max. Ties break toward the lexicographically
    greatest language code (struct max compares (hits, lang) field-wise —
    deterministic and reproducible in the SQL oracle). Returns 'und' when
    nothing matches."""
    toks = tokens(text)

    def hits(sw: list[str]) -> Column:
        return F.size(F.filter(toks, lambda t: t.isin(*sw)))

    scores = F.array(
        *[
            F.struct(hits(sw).alias("hits"), F.lit(lang).alias("lang"))
            for lang, sw in sorted(LANG_STOPWORDS.items())
        ]
    )
    best = F.array_max(scores)
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def fingerprint(text: Column | str) -> Column:
    """64-bit-ish document fingerprint of the normalized text (rolling-hash
    style digest): portable, join-friendly, oracle-exact."""
    return portable_hash64(normalize_text(text))


def bigram_array(text: Column | str) -> Column:
    """Non-distinct word bigrams in document order (repetition analysis
    needs multiplicity, unlike ``dedup.word_shingles`` which dedupes).
    Empty array for docs with fewer than 2 tokens."""
    words = tokens(text)
    return F.when(
        F.size(words) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - 1),
            lambda i: F.array_join(F.slice(words, i, 2), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def repetition_profile(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition signals per document, as exact integers
    (fractions like top_unigram_cnt/n_tokens are re-derivable):

    * ``n_tokens`` / ``n_distinct_tokens`` — type-token ratio inputs
    * ``top_unigram_cnt`` — occurrences of the most frequent token
    * ``n_bigrams`` / ``top_bigram_cnt`` — same at bigram granularity

    Scale: ONE explode over both gram granularities (each gram row tagged
    with its kind) → two-level groupBy (map-side partial agg on both
    levels); shuffle keyed on (id, kind, gram) then id — half the shuffle
    passes of the per-granularity formulation, no skew beyond document
    length, no driver-side loops. Docs with no tokens keep a row (zeros).
    """
    from hfsa_spark.plans import parallelize_compute

    base = parallelize_compute(df.select(F.col(id_col), F.col(text_col)))

    tagged = F.concat(
        F.transform(tokens(text_col), lambda t: F.struct(F.lit(0).alias("kind"), t.alias("g"))),
        F.transform(bigram_array(text_col), lambda b: F.struct(F.lit(1).alias("kind"), b.alias("g"))),
    )
    is_uni = F.col("kind") == 0
    per_doc = (
        base.select(F.col(id_col), F.explode(tagged).alias("tg"))
        .select(id_col, F.col("tg.kind").alias("kind"), F.col("tg.g").alias("gram"))
        .groupBy(id_col, "kind", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy(id_col)
        .agg(
            F.sum(F.when(is_uni, F.col("cnt"))).alias("n_unigrams"),
            F.count(F.when(is_uni, F.lit(1))).alias("n_distinct_unigrams"),
            F.max(F.when(is_uni, F.col("cnt"))).alias("top_unigram_cnt"),
            F.sum(F.when(~is_uni, F.col("cnt"))).alias("n_bigrams"),
            F.max(F.when(~is_uni, F.col("cnt"))).alias("top_bigram_cnt"),
        )
    )
    return (
        base.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_unigrams", F.lit(0)).alias("n_tokens"),
            F.coalesce("n_distinct_unigrams", F.lit(0)).alias("n_distinct_tokens"),
            F.coalesce("top_unigram_cnt", F.lit(0)).alias("top_unigram_cnt"),
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("top_bigram_cnt", F.lit(0)).alias("top_bigram_cnt"),
        )
    )


def benchmark_contamination(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 5,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Benchmark-contamination check: for each candidate document, how many
    of its distinct word n-grams appear anywhere in the benchmark corpus.

    Returns (id, n_shingles, n_contaminated); the contamination fraction is
    n_contaminated / n_shingles. Scale: the benchmark n-gram set is the
    small side (eval benchmarks are ≪ training corpora) and is broadcast by
    default, making this a map-only semi join over the candidates; set
    ``broadcast_benchmark=False`` to fall back to a shuffle semi join when
    the benchmark itself is huge.
    """
    from hfsa_spark.operators.dedup import word_shingles
    from hfsa_spark.plans import parallelize_compute

    bench_sh = (
        parallelize_compute(benchmark.select(F.col(text_col)))
        .select(F.explode(word_shingles(text_col, shingle_n)).alias("shingle"))
        .distinct()
    )
    if broadcast_benchmark:
        bench_sh = F.broadcast(bench_sh)
    cand = parallelize_compute(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), F.explode(word_shingles(text_col, shingle_n)).alias("shingle")
    )
    totals = cand.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        cand.join(bench_sh, "shingle", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    return totals.join(hits, id_col, "left").select(
        id_col,
        "n_shingles",
        F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
    )


def tfidf_top_terms(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """Top-k terms per document by TF-IDF.

    score = (tf / doc_len) * ln(N / df); ranking breaks score ties by term
    ascending, so the output is deterministic. Output carries the exact
    integer evidence (tf, df) alongside the double score.

    Scale: one explode + groupBy for term frequencies — computed ONCE
    (r13: the tf table is persisted + eagerly materialized; its three
    consumers — doc_len window, document frequency, scoring join — each
    re-ran the tokenize+explode+aggregate before, 2x ~7 s CPU at sf0.1
    profiled as two sequential 0.85 s stages); doc_len is a window sum
    over the tf rows (one shuffle on id — cheaper than the
    groupBy-then-self-join diamond); document frequency is a groupBy over
    (id, term) pairs; N arrives via a broadcast 1-row agg (no driver-side
    count); final top-k is a per-document ranking window — partitioned by
    document id, never a global sort. The top-k result (k rows per doc)
    is localCheckpoint-ed so the tf cache can be released before
    returning — the caller's action reads the checkpoint, never the
    lineage (the §5 cache-vs-recompute bound for the corpus-sized tf
    cache is recorded in PERFORMANCE.md).
    """
    from hfsa_spark.plans import parallelize_compute, shared

    base = parallelize_compute(df.select(F.col(id_col), F.col(text_col)))
    tf = shared(
        base.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    doclen_w = Window.partitionBy(id_col)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # n_docs stays a count over BASE (a zero-token doc counts toward N but
    # has no tf row); column pruning reduces this scan to the id column
    ndocs = F.broadcast(base.agg(F.countDistinct(id_col).alias("n_docs")))
    scored = (
        tf.withColumn("doc_len", F.sum("tf").over(doclen_w))
        .join(dfreq, "term")
        .crossJoin(ndocs)
        .withColumn(
            "score",
            (F.col("tf").cast("double") / F.col("doc_len").cast("double"))
            * F.log(F.col("n_docs").cast("double") / F.col("df").cast("double")),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("term"))
    out = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "rank", "term", "tf", "df", "score")
        .localCheckpoint(eager=True)
    )
    tf.unpersist()
    return out


# Redaction patterns kept to the RE2 ∩ Java-regex-compatible subset
# (character classes, +, {m,n} — no lookaround, no backrefs) so the same
# pattern string runs identically on Spark (Java regex) and DuckDB (RE2).
# Names stay digit-free: replacements apply sequentially, so a later
# pattern must never match an earlier tag (a '<ipv4>' tag would have its
# '4' re-masked by the digit pattern).
DEFAULT_REDACT_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}",
    "ip": r"[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}",
    "number": r"[0-9]+",
}


def regex_redact(
    df: DataFrame,
    text_col: str,
    patterns: dict[str, str] | None = None,
    tag_fmt: str = "<{name}>",
) -> DataFrame:
    """Pattern-based text cleaning / PII masking: per-pattern hit counts
    (``n_<name>``, measured on the ORIGINAL text) plus a
    ``<text_col>_redacted`` column with every match replaced by its tag,
    applied in dict order (order matters when patterns overlap — e.g.
    'email' before 'number'). Caller contract: a later pattern must not
    match an earlier tag (keep digits out of tag names when a digit
    pattern follows).

    Masking numbers also doubles as log-template extraction: distinct
    redacted strings = message templates.

    Scale: pure narrow map of regexp_count/regexp_replace expressions —
    codegen'd, no shuffle, no UDF.
    """
    pats = DEFAULT_REDACT_PATTERNS if patterns is None else patterns
    out = df
    for name, pat in pats.items():
        out = out.withColumn(f"n_{name}", F.regexp_count(F.col(text_col), F.lit(pat)))
    redacted = F.col(text_col)
    for name, pat in pats.items():
        redacted = F.regexp_replace(redacted, pat, tag_fmt.format(name=name))
    return out.withColumn(f"{text_col}_redacted", redacted)


def next_token_stats(
    df: DataFrame,
    text_col: str = "text",
    k: int = 3,
    min_count: int = 5,
) -> DataFrame:
    """Corpus bigram / next-token statistics: for each prefix token, the
    top-``k`` successor tokens by count — (prefix, nxt, n, rank), the
    n-gram-LM / speculative-decoding estimation primitive.

    Adjacent-token pairs come from zip_with over two shifted slices of the
    token array (pure Catalyst, no UDF); the pair count groupBy is
    map-side combinable, so the shuffle carries one row per distinct
    bigram per partition; the per-prefix top-k ranking window shuffles
    only surviving (count ≥ ``min_count``) bigrams. Ordering inside a
    prefix is (n desc, nxt asc) — deterministic across engines.
    """
    from hfsa_spark.plans import parallelize_compute

    base = parallelize_compute(df.select(text_col))
    toks = tokens(text_col)
    pairs = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("prefix"), b.alias("nxt")),
    )
    w = Window.partitionBy("prefix").orderBy(F.desc("n"), F.asc("nxt"))
    return (
        base.select(F.explode(pairs).alias("p"))
        .select("p.prefix", "p.nxt")
        .groupBy("prefix", "nxt")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("prefix", "nxt", "n", F.col("rank").cast("int"))
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split each document into fixed-size token chunks with overlap — the
    context-window packing step of a pre-training pipeline. Returns
    (id, chunk_id, n_tokens, chunk_text); chunk k covers tokens
    [k·stride, k·stride + chunk_tokens) with stride = chunk_tokens −
    overlap, so consecutive chunks share ``overlap`` tokens and the final
    chunk is whatever remains (possibly short).

    Pure Catalyst (tokens → sequence of starts → posexplode → slice →
    array_join): map-only, zero shuffles — chunking 100 TB costs one scan
    and the output is written partition-local. The slice is by token
    INDEX, so byte-skew in documents maps to proportional chunk counts.
    """
    if overlap >= chunk_tokens:
        raise ValueError(f"overlap ({overlap}) must be < chunk_tokens ({chunk_tokens})")
    stride = chunk_tokens - overlap
    from hfsa_spark.plans import parallelize_compute

    base = parallelize_compute(df.select(F.col(id_col), F.col(text_col)))
    toks = tokens(text_col)
    starts = F.sequence(F.lit(0), F.greatest(F.size("__toks") - 1, F.lit(0)), F.lit(stride))
    return (
        base.withColumn("__toks", toks)
        .filter(F.size("__toks") > 0)
        .select(
            F.col(id_col),
            F.col("__toks"),
            F.posexplode(starts).alias("chunk_id", "__start"),
        )
        .select(
            F.col(id_col),
            F.col("chunk_id").cast("int"),
            F.slice(F.col("__toks"), F.col("__start") + 1, chunk_tokens).alias("__chunk"),
        )
        .select(
            F.col(id_col),
            "chunk_id",
            F.size("__chunk").cast("int").alias("n_tokens"),
            F.array_join("__chunk", " ").alias("chunk_text"),
        )
    )


def unigram_logprob_score(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """CCNet-style unigram-LM quality proxy: per-doc sum/mean token
    log-probability under the corpus's own unigram distribution. Low mean
    log-prob = rare-token-heavy (gibberish, codes, boilerplate lists) —
    the cheap stand-in for KenLM perplexity filtering.

    Output: (id, n_tokens, sum_logp_micro) where ``sum_logp_micro`` is the
    per-doc sum of per-TERM micro-nats, ``round(ln(cnt/N)·1e6)`` — the
    transcendental is taken ONCE per distinct term and immediately rounded
    to an integer, so the per-doc aggregation is an integer sum: exact
    under any partitioning/addition order and bit-identical across
    engines (mean = sum_logp_micro / n_tokens / 1e6 is re-derivable).

    Scale: corpus counts are a map-combinable explode+groupBy (one row per
    distinct term per partition crosses the shuffle); the token⋈count join
    keys on the term — frequent-term skew is exactly what AQE skew-join
    splits; nothing driver-side.
    """
    from hfsa_spark.plans import parallelize_compute

    # r12: tok has two consumers (the corpus term counts and the scoring
    # join). Persist it and materialize EAGERLY — AQE submits independent
    # leaf stages concurrently, so a lazily-persisted subtree is computed
    # once per consumer before any cache block lands (measured: the
    # explode ran 2x per call). The eager count doubles as the corpus
    # token total (sum of per-term counts == row count of tok — same
    # value the old broadcast one-row aggregate computed), so the
    # crossJoin/broadcast total is gone outright. The doc-level output is
    # materialized so the cache releases before returning (bm25_topk
    # pattern).
    tok = parallelize_compute(df.select(id_col, text_col)).select(
        F.col(id_col), F.explode(tokens(text_col)).alias("term")
    ).persist()
    n_total = tok.count()
    counts = tok.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    logp = counts.select(
        "term",
        F.round(F.log(F.col("cnt").cast("double") / F.lit(float(n_total))) * 1e6)
        .cast("long")
        .alias("logp_micro"),
    )
    out = (
        tok.join(logp, "term")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("logp_micro").alias("sum_logp_micro"),
        )
    )
    out = out.persist()
    out.count()
    tok.unpersist()
    return out


def perplexity_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    head_frac: float = 0.3,
    tail_frac: float = 0.3,
) -> DataFrame:
    """CCNet-style perplexity bucketing: rank each document within its
    language by mean unigram-LM log-prob (:func:`unigram_logprob_score`)
    and split the ranking into ``head`` (most fluent ``head_frac``),
    ``tail`` (least fluent ``tail_frac``) and ``middle`` — the selection
    CCNet/LLaMA-style pipelines use to keep head+middle and drop tail.

    The per-lang rank is exact and fully pinned: (mean desc, id asc),
    token-less documents rank last (sentinel key). ``head_k =
    floor(n_lang * head_frac)`` — one IEEE multiply, identical across
    engines.

    Output: (id, lang, n_tokens, mean_lp_micro, grank, bucket).

    Scale: a naive ``rank() OVER (PARTITION BY lang)`` sorts every doc of
    a language in one task — the dominant-language partition IS the
    corpus. Instead the rank decomposes through the score histogram:
    distinct (lang, mean) counts (map-combinable) give each score value
    its cumulative offset; docs then shuffle by (lang, mean) — the tie
    group, not the language — for a row_number that only sorts ties. The
    offsets table (distinct-score histogram) joins back unhinted — AQE
    broadcasts it when small; at extreme scale coarsen the score
    quantization to bound the histogram. Null-language docs are a real
    group (null-safe join), ranked like any other.
    """
    scores = unigram_logprob_score(df, id_col=id_col, text_col=text_col)
    sentinel = -(10**18)
    mean = F.when(
        F.col("n_tokens") > 0,
        F.floor(
            F.col("sum_logp_micro").cast("double") / F.col("n_tokens").cast("double")
        ).cast("long"),
    )
    sc = (
        df.select(F.col(id_col), F.col(lang_col))
        .join(scores, id_col, "left")
        .select(
            F.col(id_col),
            F.col(lang_col),
            F.coalesce(F.col("n_tokens"), F.lit(0).cast("long")).alias("n_tokens"),
            mean.alias("mean_lp_micro"),
            F.coalesce(mean, F.lit(sentinel)).alias("_rk"),
        )
    )
    # one row per doc, TWO consumers (the score histogram and the ranked
    # join) — persisted AND eagerly materialized (AQE runs both
    # consumers' leaf stages concurrently; plans.shared) so the unigram
    # scoring pipeline above it runs once per query instead of twice
    # (r12; released by the caller-side materialization below)
    from hfsa_spark.plans import shared

    sc = shared(sc)
    hist = sc.groupBy(lang_col, "_rk").agg(F.count(F.lit(1)).alias("_cnt"))
    wl = Window.partitionBy(lang_col).orderBy(F.desc("_rk"))
    offsets = hist.select(
        F.col(lang_col),
        F.col("_rk"),
        F.coalesce(
            F.sum("_cnt").over(wl.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0).cast("long"),
        ).alias("_before"),
        F.sum("_cnt").over(Window.partitionBy(lang_col)).alias("_n_lang"),
    )
    wt = Window.partitionBy(lang_col, "_rk").orderBy(F.asc(id_col))
    head_k = F.floor(F.col("_n_lang") * F.lit(head_frac))
    tail_k = F.floor(F.col("_n_lang") * F.lit(tail_frac))
    # null-SAFE on lang (a null language is a legitimate group — an equi
    # join would silently drop those docs); no broadcast hint: the offsets
    # cardinality is the distinct-score histogram, which AQE can judge —
    # forcing broadcast would gamble the driver on it
    off = offsets.select(
        F.col(lang_col).alias("_lang_o"),
        F.col("_rk").alias("_rk_o"),
        "_before",
        "_n_lang",
    )
    ranked = (
        sc.join(
            off,
            F.col(lang_col).eqNullSafe(F.col("_lang_o"))
            & (F.col("_rk") == F.col("_rk_o")),
        )
        .withColumn("grank", F.col("_before") + F.row_number().over(wt))
        .select(
            F.col(id_col),
            F.col(lang_col),
            F.col("n_tokens"),
            F.col("mean_lp_micro"),
            F.col("grank"),
            F.when(F.col("grank") <= head_k, F.lit("head"))
            .when(F.col("grank") > F.col("_n_lang") - tail_k, F.lit("tail"))
            .otherwise(F.lit("middle"))
            .alias("bucket"),
        )
    )
    # same cardinality as sc (one row per doc): materialize the final
    # ranking, then release the intermediate cache
    ranked = ranked.persist()
    ranked.count()
    sc.unpersist()
    return ranked


def vocab_top_terms(
    df: DataFrame, text_col: str = "text", min_count: int = 10, k: int = 100
) -> DataFrame:
    """Corpus-level vocabulary: the k most frequent whitespace tokens with
    count ≥ min_count, as (term, n) ordered by (n desc, term asc) — the
    deterministic total order makes the LIMIT reproducible across engines.

    The global complement of ``repetition_profile`` (per-doc): this is the
    vocabulary-building / tokenizer-training primitive. Scale: explode →
    groupBy(term) is map-side combinable, so the shuffle carries one row
    per distinct term per partition; min_count prunes the long tail before
    the final top-k, which TakeOrderedAndProject keeps off a global sort.
    """
    from hfsa_spark.plans import parallelize_compute

    base = parallelize_compute(df.select(text_col))
    return (
        base.select(F.explode(tokens(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
        .orderBy(F.desc("n"), F.asc("term"))
        .limit(k)
    )


def hashed_linear_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
    seed: int = 7,
) -> DataFrame:
    """Quality-classifier INFERENCE over hashed bag-of-words features —
    the FineWeb-Edu / CCNet pattern of scoring every document with a
    cheap linear model before any expensive processing.

    The model is a fixed closed form so any engine reproduces it bit-for-
    bit: each token hashes to one of ``n_buckets`` buckets via the
    portable 60-bit md5 hash (functions/hashing.py), and bucket ``b``
    carries integer weight ``(b % 17) - 8`` (a deterministic stand-in for
    trained weights — swap in a literal weight map for a real model).

    Outputs per document, all exact integers:

    * ``n_tokens`` — token count
    * ``logit_num`` — Σ weight(bucket(token)) (the unnormalized logit)
    * ``logit_micro`` — floor(1e6 · logit_num / n_tokens), the
      length-normalized logit in micro-units
    * ``keep`` — the classifier decision logit_micro >= 0

    Scale: map-only — the whole score is ONE array-aggregate expression
    inside whole-stage codegen (no explode, no shuffle, no UDF). At
    100 TB this is a single pass over the text column at scan speed;
    the classifier decision then drives partition-pruned downstream
    filters. Real trained weights arrive as a broadcast literal map
    (n_buckets entries), which keeps the map-only property.
    """
    c = F.col(text_col)
    toks = tokens(c)

    def w(t: Column) -> Column:
        bucket = (
            F.conv(F.substring(F.md5(F.concat(F.lit(f"{seed}:"), t)), 1, 15), 16, 10)
            .cast("long") % n_buckets
        )
        return (bucket % 17) - F.lit(8)

    num = F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + w(t))
    n = F.size(toks).cast("long")
    # empty documents carry no signal: null logit, keep=false (ANSI-safe)
    logit_micro = F.when(
        n > 0, F.floor(num.cast("double") * 1000000.0 / n.cast("double")).cast("long")
    )
    return df.select(
        F.col(id_col),
        n.alias("n_tokens"),
        num.alias("logit_num"),
        logit_micro.alias("logit_micro"),
        F.coalesce(logit_micro >= 0, F.lit(False)).alias("keep"),
    )


def _py_tokens(text: str | None) -> list[str]:
    """Python twin of :func:`tokens` (Java-regex semantics: ``\\s`` without
    UNICODE_CHARACTER_CLASS is the ASCII class ``[ \\t\\n\\x0B\\f\\r]``;
    empties dropped, so Spark's leading ``trim`` is immaterial). ASCII
    parity with Java ``toLowerCase`` — the corpora these twins score are
    byte-level ASCII after normalization; the equivalence pytest pins it."""
    import re

    if text is None:
        return []
    return [t for t in re.split(r"[ \t\n\x0B\f\r]+", text.lower()) if t]


def hashed_linear_score_arrow(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
    seed: int = 7,
) -> DataFrame:
    """Arrow kernel twin of :func:`hashed_linear_score` — identical output
    (equivalence-tested), built for throughput: the expression path's
    ``F.aggregate`` lambda is interpreted per TOKEN OCCURRENCE (Spark
    higher-order functions don't codegen the lambda body, so every token
    pays an interpreted md5 → conv → mod chain); this twin hashes each
    distinct token ONCE per executor (memoized dict, C-speed hashlib.md5)
    and scores occurrences by dictionary lookup. Same map-only posture —
    no explode, no shuffle. This is what the gate runs (q112); the
    expression twin stays pinned by the pytest equivalence suite."""
    import hashlib

    import pandas as pd
    from collections.abc import Iterator

    pre = f"{seed}:".encode()

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        # memo is a pure recomputation cache — bound it so Python worker
        # memory stays flat on web-scale vocabularies (entries are cheap
        # to rebuild; a full clear keeps the hot head of each batch)
        cache: dict[str, int] = {}
        cache_cap = 1 << 20
        for batch in batches:
            if not len(batch):
                continue
            if len(cache) > cache_cap:
                cache.clear()
            n_tok, logits = [], []
            for text in batch[text_col]:
                if text is None:
                    # expression-path parity: split(NULL) is NULL, so both
                    # n_tokens and the aggregate are NULL (not 0)
                    n_tok.append(None)
                    logits.append(None)
                    continue
                toks = _py_tokens(text)
                s = 0
                for tok in toks:
                    w = cache.get(tok)
                    if w is None:
                        h = int(
                            hashlib.md5(pre + tok.encode()).hexdigest()[:15], 16
                        )
                        w = (h % n_buckets) % 17 - 8
                        cache[tok] = w
                    s += w
                n_tok.append(len(toks))
                logits.append(s)
            yield pd.DataFrame(
                {id_col: batch[id_col], "n_tokens": n_tok, "logit_num": logits}
            )

    scored = df.select(id_col, text_col).mapInPandas(
        run, schema=f"{id_col} bigint, n_tokens bigint, logit_num bigint"
    )
    n = F.col("n_tokens")
    logit_micro = F.when(
        n > 0,
        F.floor(F.col("logit_num").cast("double") * 1000000.0 / n.cast("double")).cast(
            "long"
        ),
    )
    return scored.select(
        id_col,
        "n_tokens",
        "logit_num",
        logit_micro.alias("logit_micro"),
        F.coalesce(logit_micro >= 0, F.lit(False)).alias("keep"),
    )


def bigram_logprob_score(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Bigram-LM quality proxy with add-one smoothing — one order up from
    :func:`unigram_logprob_score` toward KenLM perplexity filtering: each
    document is scored by Σ ln P(w₂|w₁) over its bigrams under the
    corpus's own bigram model,

        P(w₂|w₁) = (C(w₁w₂) + 1) / (H(w₁) + V)

    where C is the corpus bigram count, H(w₁) the history count (= corpus
    occurrences of w₁ as a bigram head), V the distinct-unigram vocabulary
    size. Same micro-nat integer convention as the unigram scorer: the log
    is taken ONCE per distinct bigram and rounded to an integer, so per-doc
    aggregation is an exact integer sum under any partitioning.

    Output: (id, n_bigrams, sum_logp_micro). Repetitive/templated text →
    high mean (predictable bigrams); rare-junction text → low.

    Scale: one tagged explode of doc bigrams feeds BOTH the bigram and the
    history groupBy (each map-side combinable, shuffle rows bounded by
    distinct grams per partition); the vocab size is a scalar broadcast;
    the doc⋈model join keys on the bigram — head-word skew is AQE
    skew-join territory, same posture as the unigram scorer.
    """
    from hfsa_spark.plans import parallelize_compute

    base = parallelize_compute(df.select(id_col, text_col))
    doc_bg = base.select(
        F.col(id_col), F.explode(bigram_array(text_col)).alias("bg")
    )
    bg_counts = doc_bg.groupBy("bg").agg(F.count(F.lit(1)).alias("cbg"))
    hist_counts = (
        bg_counts.groupBy(
            F.substring_index(F.col("bg"), " ", 1).alias("head")
        )
        .agg(F.sum("cbg").alias("chead"))
    )
    vocab = base.select(F.explode(tokens(text_col)).alias("term")).agg(
        F.count_distinct("term").cast("double").alias("__v")
    )
    model = (
        bg_counts.withColumn("head", F.substring_index(F.col("bg"), " ", 1))
        .join(hist_counts, "head")
        .crossJoin(F.broadcast(vocab))
        .select(
            "bg",
            F.round(
                F.log(
                    (F.col("cbg").cast("double") + 1.0)
                    / (F.col("chead").cast("double") + F.col("__v"))
                )
                * 1e6
            )
            .cast("long")
            .alias("logp_micro"),
        )
    )
    return (
        doc_bg.join(model, "bg")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("logp_micro").alias("sum_logp_micro"),
        )
    )


def char_entropy_profile(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document character-level Shannon entropy — the cheap
    "compressibility" quality signal: gibberish/base64 blobs score near
    log2(alphabet), stuck-key/repeated-char junk scores near 0, natural
    language sits in between (≈ 4–4.5 bits for English). The standard
    companion cut to the repetition and LM filters.

    Integer-exact convention: per (doc, char) the term
    ``round(−(c/n)·log2(c/n)·1e9)`` nano-bits is rounded once, so the
    per-doc total ``entropy_nano`` is an integer sum — partition-order
    independent and engine-reproducible. Also emits ``n_chars`` and
    ``n_distinct_chars``.

    Scale: one explode to single characters → two-level groupBy
    ((doc, char) then doc), both map-side combinable; shuffle rows are
    bounded by documents × alphabet, far below raw character count.
    Empty docs keep a row of zeros.
    """
    from hfsa_spark.plans import parallelize_compute

    base = parallelize_compute(df.select(id_col, text_col))
    per_char = (
        base.select(
            F.col(id_col),
            F.explode_outer(F.split(F.col(text_col), "")).alias("ch"),
        )
        .filter(F.col("ch").isNotNull() & (F.length("ch") > 0))
        .groupBy(id_col, "ch")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    totals = per_char.groupBy(id_col).agg(F.sum("cnt").alias("n"))
    terms = per_char.join(totals, id_col).select(
        F.col(id_col),
        F.round(
            -(F.col("cnt") / F.col("n"))
            * F.log2(F.col("cnt").cast("double") / F.col("n").cast("double"))
            * 1e9
        )
        .cast("long")
        .alias("term_nano"),
    )
    per_doc = terms.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_distinct_chars"),
        F.sum("term_nano").alias("entropy_nano"),
    )
    return (
        base.select(id_col)
        .join(per_doc.join(totals, id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("n", F.lit(0)).alias("n_chars"),
            F.coalesce("n_distinct_chars", F.lit(0)).alias("n_distinct_chars"),
            F.coalesce("entropy_nano", F.lit(0)).alias("entropy_nano"),
        )
    )


def _round_half_up(x: float) -> float:
    """Round half away from zero — Spark's F.round / DuckDB round()
    semantics for doubles (python round() is banker's, which differs).

    Computed WITHOUT the floor(x+0.5) trick: x+0.5 can round up in the
    FP addition itself (0.49999999999999994 + 0.5 == 1.0), misrounding
    at representation edges. fmod-and-compare is exact: abs(x) % 1 and
    the >= 0.5 comparison both operate on the unmodified binary value,
    matching what Spark/DuckDB round on."""
    if x != x or math.isinf(x):  # NaN/inf pass through like F.round
        return x
    a = abs(x)
    r = math.floor(a) + (1.0 if a % 1.0 >= 0.5 else 0.0)
    return math.copysign(r, x)


def dsir_scores(
    df: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
    seed: int = 13,
) -> DataFrame:
    """DSIR-style importance scores (Xie et al., "Data Selection for
    Language Models via Importance Resampling", NeurIPS'23 — public
    method): score every document by how much more likely its hashed
    bag-of-words is under a TARGET distribution (e.g. high-quality or
    in-domain text) than under the source corpus,

        logw(doc) = Σ_tok  ln P̂_t(b(tok)) − ln P̂_s(b(tok))

    with b(tok) a portable-hash bucket and P̂ the add-one-smoothed bucket
    unigram models. Downstream, resampling ∝ exp(logw) tilts the corpus
    toward the target domain — the cheap famous alternative to training
    a quality classifier.

    Integer-exact convention (engine-portable): ONE log per bucket of
    the exact integer ratio ((ct+1)(ns+V)) / ((cs+1)(nt+V)), rounded to
    micro-nats; per-doc scores are then exact integer sums. Output
    (id, n_tokens, logw_micro) — one row per input doc, zeros for empty
    docs.

    Scale: two token explodes collapse into ≤ ``n_buckets`` model rows
    (map-side combinable); the model is broadcast back onto the token
    stream; nothing else shuffles beyond the per-doc groupBy.
    """
    from hfsa_spark.functions.hashing import portable_hash64
    from hfsa_spark.plans import parallelize_compute

    def bucketed(frame: DataFrame, with_id: bool) -> DataFrame:
        cols = [F.col(id_col)] if with_id else []
        exploded = parallelize_compute(
            frame.select(*([id_col] if with_id else []), text_col)
        ).select(*cols, F.explode(tokens(text_col)).alias("__tok"))
        return exploded.select(
            *cols, (portable_hash64(F.col("__tok"), seed) % n_buckets).alias("b")
        )

    # Both bucket-count tables are ≤ n_buckets rows, so they are
    # COLLECTED and the log-ratio model is shipped back as a literal —
    # the accepted small-broadcast pattern (centroids, probe queries),
    # which makes the op exactly 3 jobs (two count collects + the
    # scoring pass) with NOTHING persisted: no retained cache to leak
    # across calls. The token explode runs twice (model pass + scoring
    # pass); it is a map-only scan-speed stage, and callers for whom a
    # corpus re-scan is expensive can pass a cached/checkpointed df.
    # Nothing driver-side scales with the corpus — only with n_buckets.
    cs = {
        r["b"]: r["n"]
        for r in bucketed(df, with_id=False)
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    ct = {
        r["b"]: r["n"]
        for r in bucketed(target, with_id=False)
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    ns, nt = sum(cs.values()), sum(ct.values())
    v = float(n_buckets)
    model_rows = [
        (
            int(b_),
            int(
                _round_half_up(
                    math.log(
                        ((ct.get(b_, 0) + 1.0) * (ns + v))
                        / ((cs.get(b_, 0) + 1.0) * (nt + v))
                    )
                    * 1e6
                )
            ),
        )
        for b_ in sorted(set(cs) | set(ct))
    ]
    spark = df.sparkSession
    model = spark.createDataFrame(model_rows, "b long, lr_micro long")
    scored = (
        bucketed(df, with_id=True)
        .join(F.broadcast(model), "b", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.coalesce("lr_micro", F.lit(0))).alias("logw_micro"),
        )
    )
    return (
        df.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("logw_micro", F.lit(0)).cast("long").alias("logw_micro"),
        )
    )


def nb_train_classify(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "lang",
    n_buckets: int = 1024,
    seed: int = 17,
) -> DataFrame:
    """Train a multinomial Naive Bayes classifier ON the cluster and
    classify with it — the fastText-style bag-of-words baseline (lang-ID,
    topic routing, quality tiers) as ONE closed-form Spark job: training
    is nothing but counting, so unlike gradient methods it needs no
    iteration and carries an exact SQL oracle.

    Model: prior ln P(c) and add-one-smoothed likelihoods
    ln P(b|c) = ln ((count(b,c)+1) / (tokens_c + n_buckets)) over
    portable-hash token buckets. Integer convention: ONE rounded
    micro-nat log per (bucket, class) and per prior; per-doc class scores
    are exact integer sums; argmax ties break to the lexicographically
    smallest class. Output (id, label, predicted, match) — resubstitution
    classification of the training set (deterministic; split upstream
    for honest eval).

    Scale: the model is ≤ n_buckets × |classes| rows built from one
    map-combinable count (broadcast back); scoring joins the
    PRE-AGGREGATED per-(doc, bucket) counts (one tokenize pass, persisted
    for its three consumers — r12: the token stream was previously
    re-tokenized and re-hashed for counts, grid, and scoring, and the
    scoring join shipped one row per TOKEN × class instead of per
    distinct (doc, bucket) × class) against the model, then one
    groupBy(doc, class) over Σ n·ll and a tiny per-doc argmax window.
    Nothing shuffles proportional to text bytes.
    """
    from hfsa_spark.functions.hashing import portable_hash64
    from hfsa_spark.plans import parallelize_compute

    base = parallelize_compute(df.select(id_col, text_col, label_col))
    toks = base.select(
        F.col(id_col),
        F.col(label_col),
        F.explode(tokens(text_col)).alias("__tok"),
    ).select(
        id_col,
        label_col,
        (portable_hash64(F.col("__tok"), seed) % n_buckets).alias("b"),
    )
    # one tokenize+hash pass: per-(doc, bucket) token counts feed the
    # class counts, the observed-bucket grid, AND the scoring join —
    # sum over tokens of ll == n · ll exactly (integer micro-nat units)
    from hfsa_spark.plans import shared

    tfb = shared(toks.groupBy(id_col, label_col, "b").agg(
        F.count(F.lit(1)).alias("tn")
    ))

    classes = df.groupBy(F.col(label_col).alias("c")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    n_total = df.count()
    priors = classes.select(
        "c",
        F.round(F.log(F.col("n_docs").cast("double") / float(n_total)) * 1e6)
        .cast("long")
        .alias("prior_micro"),
    )
    counts = tfb.groupBy(F.col(label_col).alias("c"), "b").agg(
        F.sum("tn").alias("n")
    )
    tokens_per_class = counts.groupBy("c").agg(F.sum("n").alias("tc"))
    # every observed bucket × every class — unseen (b, c) pairs still
    # carry the smoothed ln(1/(tc+V)) mass, so the grid must be dense
    grid = tfb.select("b").distinct().crossJoin(classes.select("c"))
    v = float(n_buckets)
    model = (
        grid.join(counts, ["c", "b"], "left")
        .join(tokens_per_class, "c")
        .select(
            "c",
            "b",
            F.round(
                F.log(
                    (F.coalesce(F.col("n"), F.lit(0)).cast("double") + 1.0)
                    / (F.col("tc").cast("double") + v)
                )
                * 1e6
            )
            .cast("long")
            .alias("ll_micro"),
        )
    )
    scores = (
        tfb.join(F.broadcast(model), "b")
        .groupBy(F.col(id_col), F.col("c"))
        .agg(F.sum(F.col("tn") * F.col("ll_micro")).alias("s"))
        .join(F.broadcast(priors), "c")
        .select(id_col, "c", (F.col("s") + F.col("prior_micro")).alias("score"))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("c").asc())
    pred = (
        scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, F.col("c").alias("predicted"))
    )
    out = (
        df.select(id_col, F.col(label_col).alias("label"))
        .join(pred, id_col, "left")
        .select(
            id_col,
            "label",
            "predicted",
            F.coalesce(F.col("predicted") == F.col("label"), F.lit(False)).alias(
                "match"
            ),
        )
    )
    # out is one row per doc: persist + materialize it so the (bigger)
    # per-(doc, bucket) cache can be released before returning (the
    # bm25_topk pattern; lineage kept for fault recompute)
    out = out.persist()
    out.count()
    tfb.unpersist()
    return out


def bm25_topk(
    df: DataFrame,
    queries: list[tuple[int, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 top-k retrieval (Robertson/Spärck Jones probabilistic
    ranking, the Lucene-default scorer) — the sparse complement to the
    embedding kNN stack: hard-negative mining, query-based corpus
    filtering, and dedup-against-a-query-set all start here.

    ``queries`` is a list of (query_id, term) rows (multi-term queries
    repeat the id). Per (query, doc, term): the Lucene-form component
    idf·tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) with
    idf = ln(1 + (N−df+0.5)/(df+0.5)), rounded ONCE to integer
    micro-units — per-(query, doc) scores are then exact integer sums,
    so the ranking is engine-portable (avgdl = Σdl/N is an exact double:
    integer sum below 2⁵³). Ties break on doc id asc. Returns
    (query_id, rank, doc_id, score_micro), rank ≤ k.

    Scale: tf/df/dl are map-combinable counts over one token explode;
    the query table broadcasts onto the postings (only matching terms'
    postings ever materialize); top-k per query is a tiny window over
    candidate docs. The corpus text shuffles ZERO bytes — only (id,
    term, count) rows sized by distinct postings.
    """
    from hfsa_spark.plans import parallelize_compute

    spark = df.sparkSession
    base = parallelize_compute(df.select(id_col, text_col))
    toks = base.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
    # ONE explode consumer: dl, df, and the token total all fold out of
    # the (distinct-postings-sized) tf table, which is persisted for its
    # three readers — the raw token stream is scanned exactly once
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf")).persist()
    # dl has two consumers (the avgdl reduction here and the per-doc norm
    # join below) — persisted so the groupBy over the postings runs once
    # (r12: the unpersisted dl was the single most expensive subtree,
    # recomputed for the scores materialization)
    dl = tf.groupBy(id_col).agg(F.sum("tf").alias("dl")).persist()
    n_docs = df.count()
    total_tokens = dl.agg(F.sum("dl")).collect()[0][0] or 0
    avgdl = float(total_tokens) / float(n_docs)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    qdf = spark.createDataFrame(queries, "query_id long, term string")
    idf = F.log(
        1.0
        + (float(n_docs) - F.col("df").cast("double") + 0.5)
        / (F.col("df").cast("double") + 0.5)
    )
    tfd = F.col("tf").cast("double")
    norm = tfd * (k1 + 1.0) / (
        tfd + k1 * (1.0 - b + b * F.col("dl").cast("double") / avgdl)
    )
    comp = (
        F.broadcast(qdf)
        .join(dfreq, "term")
        .join(tf, "term")
        .join(dl, id_col)
        .select(
            "query_id",
            F.col(id_col),
            F.round(idf * norm * 1e6).cast("long").alias("c_micro"),
        )
    )
    scores = comp.groupBy("query_id", id_col).agg(
        F.sum("c_micro").alias("score_micro")
    )
    # scores is bounded by (query, matching-doc) pairs: persist +
    # materialize (lineage kept for fault recompute) and release the big
    # cached postings so they don't outlive the call
    scores = scores.persist()
    scores.count()
    tf.unpersist()
    dl.unpersist()
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), F.col(id_col).asc()
    )
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", id_col, "score_micro")
        .orderBy("query_id", "rank")
    )


def char_entropy_profile_arrow(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Arrow kernel twin of :func:`char_entropy_profile` — identical
    integer output (equivalence-tested), MAP-ONLY: the expression path
    explodes every document to one row per CHARACTER (a billion-row
    intermediate per GB of text) and shuffles twice; this twin computes
    each document's histogram and entropy inside the Arrow batch
    (C-speed ``Counter``) and shuffles NOTHING. Rounding parity: the
    per-(doc,char) nano-bit term replays Spark's HALF_UP via
    ``floor(x·1e9 + 0.5)`` on the same float64 math.

    This is what the gate runs (q122) and the 100 TB production path; the
    expression twin stays pinned by the pytest equivalence suite."""
    import math
    from collections import Counter

    import pandas as pd
    from collections.abc import Iterator

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for batch in batches:
            if not len(batch):
                continue
            n_chars, n_distinct, entropy = [], [], []
            for text in batch[text_col]:
                if not text:
                    n_chars.append(0)
                    n_distinct.append(0)
                    entropy.append(0)
                    continue
                counts = Counter(text)
                n = len(text)
                e = 0
                for c in counts.values():
                    p = c / n
                    e += math.floor(-p * math.log2(p) * 1e9 + 0.5)
                n_chars.append(n)
                n_distinct.append(len(counts))
                entropy.append(e)
            yield pd.DataFrame(
                {
                    id_col: batch[id_col],
                    "n_chars": n_chars,
                    "n_distinct_chars": n_distinct,
                    "entropy_nano": entropy,
                }
            )

    return df.select(id_col, text_col).mapInPandas(
        run,
        schema=f"{id_col} bigint, n_chars bigint, n_distinct_chars bigint,"
        " entropy_nano bigint",
    )


def _py_bg_hash(values: list) -> "object":
    """Deterministic 64-bit join-key hash for bigram strings, vectorized
    inside the Arrow kernel (pandas ``hash_array``: siphash with its fixed
    library-default key — stable across workers and runs, ~50 ns/value).
    Module-level so the collision-fallback test can substitute a
    degenerate hash (real 64-bit collisions are not constructible on
    demand); production output never depends on hash behavior — see the
    collision check in :func:`bigram_logprob_score_arrow`."""
    import numpy as np
    import pandas as pd

    return pd.util.hash_array(
        np.asarray(values, dtype=object), categorize=False
    ).astype("int64")


def bigram_logprob_score_arrow(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Arrow kernel twin of :func:`bigram_logprob_score` — identical
    integer output (equivalence-tested). One Arrow pass tokenizes each
    batch and emits three row kinds of COMPRESSED partials instead of the
    expression path's two raw explodes:

    * ``kind=0`` — per-doc bigram counts ``(id, bgh, c)`` with NO string
      column at all (r13): the bigram travels as a 64-bit content hash
      computed vectorized in the kernel (:func:`_py_bg_hash`), so the
      widest row class never ships or caches strings (§2.3 narrower
      types; this class dominates — one row per distinct (doc, bigram));
    * ``kind=1`` — per-BATCH bigram totals ``(bgh, c, bg)``: the kernel
      pre-aggregates across its batch's docs (§2.3 aggregate before you
      shuffle), so the model build reads one string row per distinct
      bigram per batch instead of per (doc, bigram);
    * ``kind=2`` — the batch's distinct unigrams (vocabulary rows).

    The model is keyed on the hash; collisions are detected EXACTLY
    (min(bg) != max(bg) within a hash group — every colliding string
    appears in some batch's kind=1 rows), folded per-doc through the
    output aggregate, and checked once on the driver; a detected
    collision falls back to the expression twin, so the result can never
    depend on hash behavior (p ≈ n²/2⁶⁵ per corpus)."""
    import pandas as pd
    from collections.abc import Iterator

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for batch in batches:
            if not len(batch):
                continue
            ids: list[int] = []
            doc_bgs: list[str] = []
            cs: list[int] = []
            batch_bg: dict[str, int] = {}
            batch_vocab: set[str] = set()
            for doc_id, text in zip(batch[id_col], batch[text_col]):
                toks = _py_tokens(text)
                batch_vocab.update(toks)
                if len(toks) < 2:
                    continue
                counts: dict[str, int] = {}
                for a, b in zip(toks, toks[1:]):
                    bg = f"{a} {b}"
                    counts[bg] = counts.get(bg, 0) + 1
                for bg, c in counts.items():
                    ids.append(int(doc_id))
                    doc_bgs.append(bg)
                    cs.append(c)
                    batch_bg[bg] = batch_bg.get(bg, 0) + c
            keys = list(batch_bg)
            vocab_terms = list(batch_vocab)
            if keys:
                hs = _py_bg_hash(keys)
                hmap = dict(zip(keys, (int(h) for h in hs)))
            else:
                hmap = {}
            n_doc, n_m, n_v = len(ids), len(keys), len(vocab_terms)
            yield pd.DataFrame(
                {
                    id_col: ids + [0] * (n_m + n_v),
                    "bgh": [hmap[bg] for bg in doc_bgs]
                    + [hmap[bg] for bg in keys]
                    + [0] * n_v,
                    "c": cs + [batch_bg[bg] for bg in keys] + [0] * n_v,
                    "kind": [0] * n_doc + [1] * n_m + [2] * n_v,
                    "bg": [None] * n_doc + keys + vocab_terms,
                }
            )

    from hfsa_spark.plans import parallelize_compute

    # parallelize_compute: a single-row-group parquet scans as ONE task,
    # serializing the Python kernel on one core (measured 0.7 s of the
    # q118 wall). Eager count: the partials fan out to three consumers
    # that AQE materializes concurrently — without materializing the
    # cache first, the kernel ran once PER consumer (4x, measured).
    parts = (
        parallelize_compute(df.select(id_col, text_col))
        .mapInPandas(
            run,
            schema=(
                f"{id_col} bigint, bgh bigint, c bigint, kind tinyint,"
                " bg string"
            ),
        )
        .persist()
    )
    parts.count()
    doc_bg = parts.filter(F.col("kind") == 0).select(id_col, "bgh", "c")
    vocab = parts.filter(F.col("kind") == 2).agg(
        F.count_distinct("bg").cast("double").alias("__v")
    )
    # one row per distinct bigram, from the per-batch model partials;
    # min==max ⟺ exactly one distinct string hashed to this key
    bg_counts = parts.filter(F.col("kind") == 1).groupBy("bgh").agg(
        F.sum("c").alias("cbg"),
        F.min("bg").alias("bg"),
        F.max("bg").alias("__bg_max"),
    )
    # history count via a window over head (one evaluation of bg_counts)
    # instead of the old groupBy-then-self-join diamond (two evaluations,
    # one more exchange) — identical integer sums per head
    head_w = Window.partitionBy("head")
    model = (
        bg_counts.withColumn("head", F.substring_index(F.col("bg"), " ", 1))
        .withColumn("chead", F.sum("cbg").over(head_w))
        .crossJoin(F.broadcast(vocab))
        .select(
            "bgh",
            (F.col("bg") != F.col("__bg_max")).cast("int").alias("__coll"),
            F.round(
                F.log(
                    (F.col("cbg").cast("double") + 1.0)
                    / (F.col("chead").cast("double") + F.col("__v"))
                )
                * 1e6
            )
            .cast("long")
            .alias("logp_micro"),
        )
    )
    # SHUFFLE_HASH on the model side: the planner's static estimates run
    # backwards here (doc_bg has exact cache stats, the model subtree's
    # crossJoin inflates its estimate), so the default plan BROADCAST the
    # 10x-bigger doc_bg side — a 20 MiB build measured at 7 s CPU /
    # 0.6 s wall (r13 profile). At 100 TB neither side fits a broadcast
    # (the model is the distinct-bigram vocabulary), so the honest shape
    # at both scales is a co-partitioned hash join on the 8-byte key,
    # with the per-partition build on the model side (§3.1).
    out_pre = (
        doc_bg.join(model.hint("shuffle_hash"), "bgh")
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.sum(F.col("logp_micro") * F.col("c")).alias("sum_logp_micro"),
            F.max("__coll").alias("__anycoll"),
        )
    )
    # one row per scored doc, materialized via localCheckpoint — NOT
    # persist: a persisted result's cache entry DEPENDS on the parts
    # cache, and `parts.unpersist()` below would invalidate it through
    # CacheManager's non-cascading re-cache (buffers dropped, plan
    # recompiled without the parts cache), so the caller's first action
    # re-ran the ENTIRE pipeline — Python kernel included — a second
    # time (r13 profiling: the final noop re-executed the scoring
    # aggregate at 8.3 s CPU / 32 tasks). The checkpoint has no lineage,
    # so releasing the partials cannot touch it.
    out_pre = out_pre.localCheckpoint(eager=True)
    if out_pre.agg(F.max("__anycoll")).first()[0]:
        # two distinct bigrams share a 64-bit hash: recompute with the
        # string-keyed EXPRESSION twin (identical integer output,
        # equivalence-pinned in pytest). The kernel's doc rows carry no
        # strings, so the exact rebuild re-reads the source — correct and
        # slower, on a p ≈ n²/2⁶⁵ event. Exercised by a forced-collision
        # unit test.
        parts.unpersist()
        return bigram_logprob_score(df, id_col, text_col)
    parts.unpersist()
    return out_pre.drop("__anycoll")


DEFAULT_PII_PATTERNS: dict[str, str] = {
    # deliberately dialect-portable (no backrefs/lookaround): these run
    # unchanged under Java regex (Spark) and RE2 (DuckDB/ripgrep-family)
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\+\d{7,15}",
}


def pii_scan(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str | None = None,
    patterns: dict[str, str] | None = None,
) -> DataFrame:
    """Corpus PII audit — the release-gate report every dataset needs
    before publication: per-pattern hit counts per document
    (email / IPv4 / phone by default), optionally rolled up per
    ``group_col`` as (n_docs, docs_with_pii, n_<pattern>… totals).
    Masking is :func:`regex_redact`'s job; this is the measurement side.

    Scale: pure narrow map of ``regexp_count`` expressions (codegen, no
    UDF); the optional rollup is one map-side-combinable groupBy on the
    group key. Pattern dialect is kept to the Java∩RE2 intersection so
    audits reproduce across engines.
    """
    pats = DEFAULT_PII_PATTERNS if patterns is None else patterns
    per_doc = df.select(
        F.col(id_col),
        *([F.col(group_col)] if group_col else []),
        *[
            F.regexp_count(F.col(text_col), F.lit(p)).cast("long").alias(f"n_{n}")
            for n, p in pats.items()
        ],
    )
    if group_col is None:
        return per_doc
    any_hit = sum(
        (F.col(f"n_{n}") for n in pats), F.lit(0).cast("long")
    ) > 0
    return (
        per_doc.withColumn("__hit", any_hit.cast("long"))
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__hit").alias("docs_with_pii"),
            *[F.sum(f"n_{n}").alias(f"n_{n}") for n in pats],
        )
        .orderBy(group_col)
    )


def strip_html(text: Column | str) -> Column:
    """Markup → clean text, the extraction step upstream of every web
    corpus: drop <script>/<style> elements WITH their contents, strip
    remaining tags, decode the five predefined XML entities + numeric
    decimal entities, collapse whitespace. Pure regexp chain (codegen,
    no UDF) in the portable Java∩RE2 dialect — `(?s)` dot-all for
    element bodies, no lookaround.

    A regex stack is the honest 80% of web extraction (real boilerplate
    removal adds DOM heuristics); it is deterministic, engine-portable,
    and linear-time — which is what the 100 TB first pass needs.
    """
    c = F.col(text) if isinstance(text, str) else text
    c = F.regexp_replace(c, r"(?is)<script[^>]*>.*?</script>", " ")
    c = F.regexp_replace(c, r"(?is)<style[^>]*>.*?</style>", " ")
    c = F.regexp_replace(c, r"(?s)<[^>]+>", " ")
    c = F.regexp_replace(c, r"&lt;", "<")
    c = F.regexp_replace(c, r"&gt;", ">")
    c = F.regexp_replace(c, r"&quot;", "\"")
    c = F.regexp_replace(c, r"&apos;", "'")
    c = F.regexp_replace(c, r"&#(\d+);", " ")
    c = F.regexp_replace(c, r"&amp;", "&")
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def html_extract(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-doc extraction report: cleaned text + integrity counters
    (tags stripped, scripts dropped, chars kept ratio in micro units) —
    the audit columns a crawl-extraction stage logs. Map-only."""
    c = F.col(text_col)
    n_tags = F.regexp_count(c, F.lit(r"<[^>]+>")).cast("long")
    n_scripts = F.regexp_count(c, F.lit(r"(?is)<script[^>]*>")).cast("long")
    clean = strip_html(c)
    return df.select(
        F.col(id_col),
        clean.alias("clean_text"),
        n_tags.alias("n_tags"),
        n_scripts.alias("n_scripts"),
        F.floor(
            F.length(clean).cast("double") * 1000000.0
            / F.greatest(F.length(c), F.lit(1)).cast("double")
        ).cast("long").alias("kept_ratio_micro"),
    )


def compression_ratio(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    level: int = 6,
) -> DataFrame:
    """zlib compression ratio per document — the strongest single "junk
    text" signal in production filters (used alongside the Gopher rules):
    highly repetitive/templated text compresses far below natural
    language; random/encrypted blobs barely compress at all. Typical
    English prose lands near ratio ≈ 0.3–0.5; flag the tails.

    Output: (id, n_bytes, n_compressed, ratio_micro =
    floor(1e6 · n_compressed / n_bytes)); empty docs → null ratio.

    Scale: zlib is not expressible in SQL, so this is the honest Arrow
    path — mapInPandas, one deflate per doc, no shuffle. zlib output is
    deterministic for a fixed (input, level, strategy, library build),
    which pins the rows-only gate; treat cross-version comparisons as
    approximate (the RATIO is stable far beyond byte-identity).
    """
    import zlib
    from collections.abc import Iterator

    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            if not len(batch):
                continue
            ids, nb, nc = [], [], []
            for i, t in zip(batch[id_col], batch[text_col]):
                raw = (t or "").encode("utf-8")
                ids.append(i)
                nb.append(len(raw))
                nc.append(len(zlib.compress(raw, level)) if raw else 0)
            out = pd.DataFrame({id_col: ids, "n_bytes": nb, "n_compressed": nc})
            yield out

    scored = df.select(id_col, text_col).mapInPandas(
        run, schema=f"{id_col} bigint, n_bytes bigint, n_compressed bigint"
    )
    return scored.select(
        id_col,
        "n_bytes",
        "n_compressed",
        F.when(
            F.col("n_bytes") > 0,
            F.floor(
                F.col("n_compressed").cast("double") * 1000000.0
                / F.col("n_bytes").cast("double")
            ).cast("long"),
        ).alias("ratio_micro"),
    )


def extract_links(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Hyperlink edge extraction from markup — the web-graph builder that
    feeds :func:`hfsa_spark.operators.graph.pagerank` and link-based
    quality signals: one (src, href) row per ``href="…"`` occurrence, in
    document order (``link_idx``). Pure regexp_extract_all (codegen,
    Java∩RE2 dialect); docs without links yield no rows.

    Scale: narrow map + one explode (rows = links, not chars).
    """
    links = F.expr(
        f"regexp_extract_all({text_col}, 'href=\"([^\"]*)\"', 1)"
    )
    return (
        df.select(F.col(id_col).alias("src"), F.posexplode(links).alias("link_idx", "href"))
        .select("src", "link_idx", "href")
    )


def corpus_datasheet(
    df: DataFrame, group_col: str = "lang", text_col: str = "text"
) -> DataFrame:
    """Dataset-card statistics per group — the "datasheet for datasets"
    table a corpus release ships with: document and token counts, group
    share, and exact token-count quantiles (p50/p90/max). All integers
    or exact percentile values (integer inputs → the .5-exact midpoint
    average, the same one-IEEE-op parity as
    ``features.robust_zscore``); shares are floor-micro.

    Scale: one map-side-combinable groupBy for counts + one exact
    percentile aggregate per group (groups are few; at extreme group
    cardinality swap in approx_percentile and keep the schema).
    """
    base = df.select(
        F.col(group_col), token_count(text_col).cast("long").alias("n_toks")
    )
    per = base.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").alias("n_tokens"),
        F.percentile(F.col("n_toks"), F.lit(0.5)).alias("p50_tokens"),
        F.percentile(F.col("n_toks"), F.lit(0.9)).alias("p90_tokens"),
        F.max("n_toks").alias("max_tokens"),
    )
    tot = per.agg(F.sum("n_tokens").alias("tot_tokens"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            group_col,
            "n_docs",
            "n_tokens",
            F.floor(
                F.col("n_tokens").cast("double") * 1000000.0
                / F.col("tot_tokens").cast("double")
            ).cast("long").alias("share_micro"),
            "p50_tokens",
            "p90_tokens",
            "max_tokens",
        )
        .orderBy(group_col)
    )


def script_profile(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Unicode-script mix per document — the multilingual-pipeline routing
    signal (mixed-script text is a mojibake / spam / wrong-langid flag):
    visible-char counts by script (Latin, Cyrillic, Han, digits, other)
    plus a floor-micro Latin ratio and a deterministic dominant-script
    label (max count, ties broken by the fixed order latin > cyrillic >
    han > digit > other).

    Java's ``\\p{IsLatin}`` and RE2's ``\\p{Latin}`` count identically
    (verified) — the oracle runs the RE2 spelling.

    Scale: map-only regexp counts, zero shuffles, zero UDFs.
    """
    t = F.col(text_col)
    vis = F.regexp_count(t, F.lit(r"\S"))
    lat = F.regexp_count(t, F.lit(r"\p{IsLatin}"))
    cyr = F.regexp_count(t, F.lit(r"\p{IsCyrillic}"))
    han = F.regexp_count(t, F.lit(r"\p{IsHan}"))
    dig = F.regexp_count(t, F.lit(r"[0-9]"))
    other = vis - lat - cyr - han - dig
    cols = [
        ("latin", lat),
        ("cyrillic", cyr),
        ("han", han),
        ("digit", dig),
        ("other", other),
    ]
    dominant = F.lit("other")
    for name, c in reversed(cols[:-1]):
        later = [cc for nn, cc in cols if nn != name]
        cond = None
        for cc in later:
            e = c >= cc
            cond = e if cond is None else (cond & e)
        dominant = F.when(cond, F.lit(name)).otherwise(dominant)
    ratio = F.when(
        vis > 0,
        F.floor(lat.cast("double") * 1000000.0 / vis.cast("double")).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    return df.select(
        F.col(id_col),
        vis.cast("long").alias("n_visible"),
        lat.cast("long").alias("n_latin"),
        cyr.cast("long").alias("n_cyrillic"),
        han.cast("long").alias("n_han"),
        dig.cast("long").alias("n_digit"),
        other.cast("long").alias("n_other"),
        ratio.alias("latin_ratio_micro"),
        dominant.alias("dominant"),
    )


def corpus_divergence(
    df_a: DataFrame,
    df_b: DataFrame,
    text_col: str = "text",
    k: int = 20,
) -> DataFrame:
    """Distributional drift between two corpora (crawl snapshots, train vs
    eval, pre/post-filter): per-term Jensen-Shannon divergence
    contributions of the unigram distributions, top-``k`` drifting terms.

    Per term t with probabilities ``pa = cnt_a/N_a`` and ``pb = cnt_b/N_b``
    and mixture ``m = (pa+pb)/2``, the JS contribution
    ``0.5*pa*ln(pa/m) + 0.5*pb*ln(pb/m)`` is >= 0 and sums to JSD(A,B)
    (bounded by ln 2); a term absent from one side contributes its other
    side's half-KL term only — no infinities, which is why JS (not KL) is
    the right drift metric for vocabularies that don't fully overlap.

    Each contribution is computed ONCE per distinct term and rounded to
    nano-nats, so the top-k ordering and any downstream total are integer
    sums — exact under any partitioning. Output:
    (term, cnt_a, cnt_b, contrib_nano) ordered by (contrib desc, term).

    Scale: both sides reduce to map-combinable (term, count) aggregates;
    the vocabulary-sized full outer join carries one row per distinct
    term; top-k is TakeOrdered — the corpora themselves are scanned once
    each and never joined.
    """
    ca = (
        df_a.select(F.explode(tokens(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt_a"))
    )
    cb = (
        df_b.select(F.explode(tokens(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt_b"))
    )
    na = ca.agg(F.sum("cnt_a").cast("double").alias("_na"))
    nb = cb.agg(F.sum("cnt_b").cast("double").alias("_nb"))
    joined = (
        ca.join(cb, "term", "full_outer")
        .crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
        .select(
            "term",
            F.coalesce(F.col("cnt_a"), F.lit(0).cast("long")).alias("cnt_a"),
            F.coalesce(F.col("cnt_b"), F.lit(0).cast("long")).alias("cnt_b"),
            F.col("_na"),
            F.col("_nb"),
        )
    )
    pa = F.col("cnt_a").cast("double") / F.col("_na")
    pb = F.col("cnt_b").cast("double") / F.col("_nb")
    m = (pa + pb) / F.lit(2.0)
    half = F.lit(0.5)
    contrib = F.when(F.col("cnt_a") > 0, half * pa * F.log(pa / m)).otherwise(
        F.lit(0.0)
    ) + F.when(F.col("cnt_b") > 0, half * pb * F.log(pb / m)).otherwise(F.lit(0.0))
    return (
        joined.select(
            "term",
            "cnt_a",
            "cnt_b",
            F.round(contrib * 1e9).cast("long").alias("contrib_nano"),
        )
        .orderBy(F.desc("contrib_nano"), F.asc("term"))
        .limit(k)
    )


def blocklist_filter(
    df: DataFrame,
    blocklist: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    max_ratio_micro: int = 0,
) -> DataFrame:
    """C4-style badword filtering: per-doc occurrence count of blocked
    tokens and a keep flag (``blocked/tokens`` ratio, floor-micro, must be
    <= ``max_ratio_micro`` — the default 0 is C4's any-hit-drops rule).

    Output: (id, n_tokens, n_blocked, blocked_ratio_micro, keep).

    Scale: the token stream joins a BROADCAST blocklist (tiny, static) and
    the hit counts aggregate map-side, so the shuffle carries one row per
    doc WITH hits; clean docs never shuffle — they fill in through the
    left join against the map-only (id, n_tokens) projection. The join
    form (not an ``array_contains`` lambda) keeps the hot path in
    whole-stage codegen.
    """
    spark = df.sparkSession
    bl = spark.createDataFrame([(t,) for t in blocklist], "term string")
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
    hits = (
        tok.join(F.broadcast(bl), "term")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_blocked"))
    )
    base = df.select(
        F.col(id_col), token_count(text_col).cast("long").alias("n_tokens")
    )
    n_blocked = F.coalesce(F.col("n_blocked"), F.lit(0).cast("long"))
    ratio = F.when(
        F.col("n_tokens") > 0,
        F.floor(
            n_blocked.cast("double") * 1000000.0 / F.col("n_tokens").cast("double")
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    return base.join(hits, id_col, "left").select(
        F.col(id_col),
        F.col("n_tokens"),
        n_blocked.alias("n_blocked"),
        ratio.alias("blocked_ratio_micro"),
        (ratio <= F.lit(max_ratio_micro)).alias("keep"),
    )


def tokenizer_fertility(
    df: DataFrame, group_col: str = "lang", text_col: str = "text"
) -> DataFrame:
    """Tokenizer-fertility audit per language — the multilingual-equity
    check run before fixing a tokenizer: words, BPE-ish pieces
    (``bpe_ish_token_count``), and characters per group, with the two
    ratios that matter as floor-micro integers:

    * ``pieces_per_word_micro`` — fertility (1.0 = every word one piece;
      high = the tokenizer fragments this language)
    * ``chars_per_piece_micro`` — compression (how much text a piece
      carries; low = expensive context windows for this language)

    Scale: three array-expression sums in ONE map-side-combinable
    groupBy — a single corpus scan, no explode, no shuffle beyond the
    group key.
    """
    base = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(text_col).cast("long")).alias("n_words"),
        F.sum(bpe_ish_token_count(text_col)).alias("n_pieces"),
        F.sum(F.length(text_col).cast("long")).alias("n_chars"),
    )
    return base.select(
        group_col,
        "n_docs",
        "n_words",
        "n_pieces",
        "n_chars",
        F.floor(
            F.col("n_pieces").cast("double") * 1000000.0
            / F.col("n_words").cast("double")
        ).cast("long").alias("pieces_per_word_micro"),
        F.floor(
            F.col("n_chars").cast("double") * 1000000.0
            / F.col("n_pieces").cast("double")
        ).cast("long").alias("chars_per_piece_micro"),
    ).orderBy(group_col)


def bigram_pmi(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    k: int = 50,
) -> DataFrame:
    """Collocation extraction: the ``k`` most frequent word bigrams (count
    ≥ ``min_count``) with their pointwise mutual information,

        PMI = ln( p(ab) / (p(a)·p(b)) )  with p from corpus counts
            = ln( C(ab)·N_uni² / (N_bi·C(a)·C(b)) )

    as micro-nat integers (one log per surviving bigram — exact integer
    downstream). High PMI = genuine collocation ("new york"); PMI ≈ 0 =
    chance co-occurrence — the phrase-mining primitive behind tokenizer
    merge rules and stop-phrase lists.

    Scale: bigram + unigram counts are the same tagged-explode groupBys
    as ``repetition_profile``; the PMI join touches only the ≥min_count
    survivors (vocabulary-sized); final top-k is TakeOrdered by
    (count desc, bigram asc).
    """
    from hfsa_spark.plans import parallelize_compute

    base = parallelize_compute(df.select(text_col))
    # r12: uni has three consumers (the N_uni total and both unigram
    # joins) and bg two (the N_bi total and the survivor filter) — both
    # vocabulary-sized count tables are persisted so each corpus explode
    # runs once instead of 3×/2×; released after the top-k materializes
    from hfsa_spark.plans import shared

    uni = shared(base.select(F.explode(tokens(text_col)).alias("w")).groupBy("w").agg(
        F.count(F.lit(1)).alias("cw")
    ))
    n_uni = uni.agg(F.sum("cw").cast("double").alias("__nu"))
    bg = shared(base.select(F.explode(bigram_array(text_col)).alias("bg")).groupBy(
        "bg"
    ).agg(F.count(F.lit(1)).alias("cbg")))
    n_bi = bg.agg(F.sum("cbg").cast("double").alias("__nb"))
    survivors = bg.filter(F.col("cbg") >= min_count)
    w1 = F.substring_index(F.col("bg"), " ", 1)
    w2 = F.substring_index(F.col("bg"), " ", -1)
    joined = (
        survivors.withColumn("w1", w1)
        .withColumn("w2", w2)
        .join(uni.select(F.col("w").alias("w1"), F.col("cw").alias("c1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("cw").alias("c2")), "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
    )
    pmi = F.round(
        F.log(
            F.col("cbg").cast("double")
            * F.col("__nu")
            * F.col("__nu")
            / (F.col("__nb") * F.col("c1").cast("double") * F.col("c2").cast("double"))
        )
        * 1e6
    ).cast("long")
    out = (
        joined.select("bg", "cbg", pmi.alias("pmi_micro"))
        .orderBy(F.desc("cbg"), F.asc("bg"))
        .limit(k)
    )
    out = out.persist()
    out.count()
    uni.unpersist()
    bg.unpersist()
    return out


def chat_turn_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """SFT/chat-corpus QA: parse role markers (``User:`` / ``Assistant:`` /
    ``System:`` / ``Human:`` / ``AI:`` and the ``<|role|>`` special-token
    family — the same Java∩RE2 alternation as ``normalize_chat_text``)
    into an ordered turn sequence and report the structural facts an SFT
    pipeline filters on: turn counts per canonical role (human→user,
    ai→assistant), the opening role, whether adjacent turns alternate
    (no role speaking twice in a row — the classic broken-template flag),
    and total content chars per side.

    Output: (id, n_turns, n_user, n_assistant, n_system, first_role,
    alternation_ok, user_chars, assistant_chars); a marker-free document
    reports n_turns = 0, first_role 'none', alternation_ok true.

    Scale: map-only higher-order expressions over each row's marker/
    content arrays — zero shuffles, zero UDFs.
    """
    marker_re = r"(?i)\b(?:user|assistant|system|human|ai)\s*:|<\|[a-z_]+\|>"
    t = F.col(text_col)
    raw = F.regexp_extract_all(t, F.lit(marker_re), F.lit(0))
    canon = F.transform(
        raw,
        lambda m: F.when(
            F.regexp_extract(F.lower(m), r"[a-z_]+", 0).isin("human", "user"),
            F.lit("user"),
        )
        .when(
            F.regexp_extract(F.lower(m), r"[a-z_]+", 0).isin("ai", "assistant"),
            F.lit("assistant"),
        )
        .otherwise(F.regexp_extract(F.lower(m), r"[a-z_]+", 0)),
    )
    parts = F.split(t, marker_re)
    # parts[0] is any pre-marker preamble; content i aligns with marker i
    contents = F.slice(parts, 2, F.greatest(F.size(parts) - 1, F.lit(0)))
    lens = F.transform(contents, lambda c: F.length(F.trim(c)).cast("long"))

    # materialize the parsed arrays ONCE: seven downstream aggregates would
    # otherwise each re-run the regex transforms (measured 2.4 s -> the
    # projection splits the plan so canon/lens evaluate a single time)
    parsed = df.select(
        F.col(id_col), canon.alias("_roles"), lens.alias("_lens")
    )
    roles = F.col("_roles")
    rlens = F.col("_lens")
    n2 = F.size(roles)

    def side_count2(role: str):
        return F.size(F.filter(roles, lambda r: r == role)).cast("long")

    def side_chars2(role: str):
        return F.aggregate(
            F.zip_with(
                roles,
                rlens,
                lambda r, l: F.when(r == role, l).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    alternation = F.when(
        n2 >= 2,
        F.forall(
            F.sequence(F.lit(1), n2 - 1),
            lambda i: F.element_at(roles, i) != F.element_at(roles, i + 1),
        ),
    ).otherwise(F.lit(True))
    return parsed.select(
        F.col(id_col),
        n2.cast("long").alias("n_turns"),
        side_count2("user").alias("n_user"),
        side_count2("assistant").alias("n_assistant"),
        side_count2("system").alias("n_system"),
        F.when(n2 > 0, F.element_at(roles, 1)).otherwise(F.lit("none")).alias(
            "first_role"
        ),
        alternation.alias("alternation_ok"),
        side_chars2("user").alias("user_chars"),
        side_chars2("assistant").alias("assistant_chars"),
    )


def vocabulary_growth(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", buckets: int = 10
) -> DataFrame:
    """Heaps-law vocabulary-growth curve: distinct-vocabulary size after
    each corpus-prefix decile (docs ordered by id) — the release stat that
    sizes tokenizer vocabularies and detects template-heavy corpora
    (vocabulary that stops growing = duplicated boilerplate).

    The curve needs no per-prefix rescan: a term enters the vocabulary at
    its FIRST containing doc, so vocab(prefix) = count of terms whose
    min-position <= the prefix boundary — one explode + one min-aggregate,
    then a cumulative sum over ``buckets`` rows.

    Output: (bucket, n_docs, n_tokens, vocab), bucket 1..``buckets``,
    all cumulative.

    Scale: the position rank is a row_number over the id order — exact
    here; at extreme scale swap the boundary computation for GK-quantile
    thresholds on the id (the min-position aggregate and bucket cumsum
    are unaffected). Term min-positions are map-combinable; the final
    cumsum runs over ``buckets`` rows.
    """
    from hfsa_spark.plans import parallelize_compute

    w = Window.orderBy(F.asc(id_col))
    pos = df.select(F.col(id_col)).withColumn("_r", F.row_number().over(w))
    # total from a broadcast one-row aggregate — no eager driver-side count
    tot = pos.agg(F.count(F.lit(1)).alias("_n"))
    pos = pos.crossJoin(F.broadcast(tot))
    bucket_of = F.ceil(F.col("_r") * buckets / F.col("_n")).cast("long")

    base = parallelize_compute(df.select(id_col, text_col)).join(pos, id_col)
    per_doc = base.select(
        F.col("_r"), bucket_of.alias("_b"), token_count(text_col).cast("long").alias("_nt")
    )
    doc_agg = per_doc.groupBy("_b").agg(
        F.count(F.lit(1)).alias("docs_in"),
        F.sum("_nt").alias("toks_in"),
    )
    firsts = (
        base.select(
            F.col("_r"), F.col("_n"), F.explode(tokens(text_col)).alias("term")
        )
        .groupBy("term")
        .agg(F.min("_r").alias("first_r"), F.min("_n").alias("_n"))
        .select(F.ceil(F.col("first_r") * buckets / F.col("_n")).cast("long").alias("_b"))
        .groupBy("_b")
        .agg(F.count(F.lit(1)).alias("new_terms"))
    )
    grid = df.sparkSession.range(1, buckets + 1).select(F.col("id").alias("_b"))
    per_bucket = (
        grid.join(doc_agg, "_b", "left")
        .join(firsts, "_b", "left")
        .select(
            "_b",
            F.coalesce(F.col("docs_in"), F.lit(0).cast("long")).alias("docs_in"),
            F.coalesce(F.col("toks_in"), F.lit(0).cast("long")).alias("toks_in"),
            F.coalesce(F.col("new_terms"), F.lit(0).cast("long")).alias("new_terms"),
        )
    )
    wc = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, 0)
    return per_bucket.select(
        F.col("_b").alias("bucket"),
        F.sum("docs_in").over(wc).alias("n_docs"),
        F.sum("toks_in").over(wc).alias("n_tokens"),
        F.sum("new_terms").over(wc).alias("vocab"),
    )


def lm_cross_entropy(
    train_df: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    materialize: bool = True,
) -> DataFrame:
    """Directional held-out scoring: per-eval-doc cross-entropy under the
    TRAIN corpus's add-one-smoothed unigram LM — the KenLM-style data
    selection signal ("score the crawl under a clean-corpus LM, keep the
    fluent head"). The directional complement of the symmetric
    :func:`corpus_divergence`.

    Smoothed probability p(t) = (cnt_train(t) + 1) / (N_train + V_train),
    V = train vocabulary size, so eval-only (OOV) tokens get the uniform
    add-one mass instead of −inf. Per-term micro-nat logs are rounded
    ONCE, per-doc sums are exact integers (the q87 convention); mean CE
    micro = −sum/n_tokens re-derivable downstream.

    Output: (id, n_tokens, n_oov, sum_logp_micro).

    Scale: the model is a map-combinable (term, count) aggregate; scoring
    joins eval tokens LEFT against the model keyed on the term (OOV rows
    keep the smoothed floor) — frequent-term skew is AQE's skew-join
    case; nothing driver-side.
    """
    scored, counts = _lm_token_logprobs(
        train_df, eval_df, id_col, text_col, persist_counts=materialize
    )
    out = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("_oov"), 1).otherwise(0)).cast("long").alias("n_oov"),
        F.sum("_lp").alias("sum_logp_micro"),
    )
    if materialize:
        # one row per eval doc: materialize so the train-model count
        # cache can be released before returning (bm25_topk pattern).
        # materialize=False keeps the pre-r12 fully lazy plan — right
        # when the caller composes several small-train LMs into one DAG
        # (q178 doremi: the eager barriers cost more than the tiny
        # train corpus's repeated tokenize saves).
        out = out.persist()
        out.count()
        counts.unpersist()
    return out


def _lm_token_logprobs(
    train_df: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    persist_counts: bool = True,
) -> DataFrame:
    """Shared scoring core of :func:`lm_cross_entropy` /
    :func:`min_k_prob`: one row per eval-token occurrence with the
    add-one-smoothed train-LM log-prob in exact micro-nats.
    Returns (scored, counts) where scored has columns (id_col, _oov,
    _lp) and counts is the PERSISTED vocab-sized train count table the
    caller must unpersist once its own output is materialized. Per-term
    micro-nat logs are rounded ONCE (one transcendental per distinct
    term), so downstream integer sums replay bit-for-bit in any engine.

    r12: counts is persisted for its three consumers (the (N, V) stats
    reduction, the model projection, and — through stats — the OOV
    floor); unpersisted, the train corpus was tokenized three times per
    call (q178 ran six train tokenizes for its two LMs)."""
    counts = (
        train_df.select(F.explode(tokens(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    if persist_counts:
        from hfsa_spark.plans import shared

        counts = shared(counts)
    stats = counts.agg(
        F.sum("cnt").cast("double").alias("_n"),
        F.count(F.lit(1)).cast("double").alias("_v"),
    )
    model = counts.crossJoin(F.broadcast(stats)).select(
        "term",
        F.round(
            F.log((F.col("cnt").cast("double") + 1.0) / (F.col("_n") + F.col("_v")))
            * 1e6
        )
        .cast("long")
        .alias("logp_micro"),
    )
    ev = eval_df.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
    scored = (
        ev.join(model, "term", "left")
        .crossJoin(F.broadcast(stats))
        .select(
            F.col(id_col),
            F.col("logp_micro").isNull().alias("_oov"),
            F.coalesce(
                F.col("logp_micro"),
                F.round(F.log(F.lit(1.0) / (F.col("_n") + F.col("_v"))) * 1e6).cast(
                    "long"
                ),
            ).alias("_lp"),
        )
    )
    return scored, counts


def min_k_prob(
    train_df: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k_num: int = 1,
    k_den: int = 5,
) -> DataFrame:
    """Min-K% prob membership signal (Shi et al. 2024, "Detecting
    Pretraining Data from Large Language Models"): per eval doc, the sum
    of the LOWEST ⌈k·n⌉ token log-probs under the train LM — members of
    the train corpus lack surprising low-probability outlier tokens, so
    a high (less negative) min-k mass flags likely contamination /
    memorization. Uses the same add-one unigram LM and once-rounded
    micro-nat convention as :func:`lm_cross_entropy`.

    Output: (id, n_tokens, m, sum_mink_micro) with m = ⌈k_num·n/k_den⌉;
    the mean falls out downstream — only exact integers cross the gate.

    Scale: the lowest-m selection is the histogram-rank decomposition
    (per-doc DISTINCT-log-prob counts + one cumulative window), never a
    per-doc full sort — a 1M-token document costs its distinct-term
    count, not 1M window rows. Model build and scoring join are the
    lm_cross_entropy plan (map-combinable counts, broadcast stats,
    skew-tolerant term join).
    """
    scored, counts = _lm_token_logprobs(train_df, eval_df, id_col, text_col)
    hist = scored.groupBy(id_col, "_lp").agg(F.count(F.lit(1)).alias("_c"))
    w = (
        Window.partitionBy(id_col)
        .orderBy(F.asc("_lp"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wg = Window.partitionBy(id_col)
    cum = hist.select(
        F.col(id_col),
        "_lp",
        "_c",
        F.sum("_c").over(w).alias("_cum"),
        F.sum("_c").over(wg).alias("_n"),
    ).withColumn(
        "_m", F.expr(f"({k_num} * _n + {k_den} - 1) div {k_den}")
    )
    take = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.col("_c"), F.col("_m") - (F.col("_cum") - F.col("_c"))),
    )
    out = cum.groupBy(id_col).agg(
        F.max("_n").cast("long").alias("n_tokens"),
        F.max("_m").cast("long").alias("m"),
        F.sum(take * F.col("_lp")).cast("long").alias("sum_mink_micro"),
    )
    # one row per eval doc: materialize, then release the train-model
    # count cache (see _lm_token_logprobs)
    out = out.persist()
    out.count()
    counts.unpersist()
    return out


def mojibake_audit(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Encoding-corruption audit (the ftfy problem class): count the
    telltale artifacts of UTF-8 text decoded as Latin-1/CP1252 --
    '\u00c3'/'\u00c2'-led pairs ("\u00c3\u00a9" for "\u00e9"),
    '\u00e2\u20ac'-led punctuation triples ("\u00e2\u20ac\u2122"
    for a curly apostrophe), the U+FFFD replacement character, and stray
    C1 control characters -- plus a keep flag. Mojibake survives
    lowercasing, dedup, and tokenization, so the scan belongs BEFORE
    those stages; flagged docs need RE-DECODING, not dropping, or the
    filter silently biases against non-English text.

    Output: (id, n_latin1_pairs, n_punct_triples, n_replacement,
    n_c1_controls, mojibake) -- mojibake true iff any counter > 0.

    Scale: pure map-side regexp counts inside whole-stage codegen; no
    shuffle, no UDF, no Python.
    """
    t = F.col(text_col)
    out = df.select(
        F.col(id_col),
        F.regexp_count(t, F.lit("[\u00c3\u00c2][\u0080-\u00bf]"))
        .cast("long")
        .alias("n_latin1_pairs"),
        F.regexp_count(t, F.lit("\u00e2\u20ac."))
        .cast("long")
        .alias("n_punct_triples"),
        F.regexp_count(t, F.lit("\ufffd")).cast("long").alias("n_replacement"),
        F.regexp_count(t, F.lit("[\u0080-\u009f]"))
        .cast("long")
        .alias("n_c1_controls"),
    )
    return out.withColumn(
        "mojibake",
        (
            F.col("n_latin1_pairs")
            + F.col("n_punct_triples")
            + F.col("n_replacement")
            + F.col("n_c1_controls")
        )
        > 0,
    )


def zipf_slope(
    df: DataFrame,
    text_col: str = "text",
    by: str = "lang",
    top_k: int = 128,
) -> DataFrame:
    """Zipf-law fit per corpus slice: OLS slope of ln(frequency) against
    ln(rank) over the ``top_k`` most frequent terms — natural language
    sits near −1; a flat slope flags templated/boilerplate-heavy slices
    and a cliff flags near-duplicate floods. The companion of the
    Heaps-law vocabulary-growth curve (:func:`vocabulary_growth`).

    Log values are rounded ONCE to milli-nats (one transcendental per
    (rank, count) pair — both integers, so inputs are bit-identical in
    any engine); all OLS moments are exact int64 sums, and the slope is
    emitted NEGATED (num = Sx·Sy − n·Sxy > 0 for decreasing data) so the
    final integer division is floor==trunc-safe. With top_k ≤ 128 and
    milli-nat logs every intermediate fits int64 with headroom.

    Output: (by, n_terms, neg_slope_micro) — slope ≈ −neg_slope_micro/1e6.

    Scale: term counts are one map-combinable groupBy; the rank window
    runs over each slice's VOCABULARY (already aggregated), not the
    corpus; moments are a per-slice aggregate of ≤ top_k rows.
    """
    counts = (
        df.select(F.col(by), F.explode(tokens(text_col)).alias("term"))
        .groupBy(by, "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy(by).orderBy(F.desc("cnt"), F.asc("term"))
    ranked = (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(
            F.col(by),
            F.round(F.log(F.col("rank").cast("double")) * 1000)
            .cast("long")
            .alias("x"),
            F.round(F.log(F.col("cnt").cast("double")) * 1000)
            .cast("long")
            .alias("y"),
        )
    )
    m = ranked.groupBy(by).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    return m.select(
        F.col(by),
        F.col("n").cast("long").alias("n_terms"),
        F.expr("((sx * sy - n * sxy) * 1000000) div (n * sxx - sx * sx)")
        .cast("long")
        .alias("neg_slope_micro"),
    )


def anchor_text_profile(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 3,
) -> DataFrame:
    """Anchor-text aggregation — the classic web-IR signal: what OTHER
    pages' link text says a target page is about (it powers target
    descriptions, query expansion, and anchor-based quality scores).
    Extracts ``<a href="T">anchor</a>`` pairs, then per target reports
    inlink counts and the ``top_k`` anchor terms (count desc, term asc).

    Output: (target, n_inlinks, n_srcs, term, term_cnt, term_rank).

    Scale: one regexp map + explode (rows = links); term counts are a
    map-combinable (target, term) groupBy; the rank window runs over
    each target's anchor VOCABULARY, not its inlinks, so a million-inlink
    hub costs its distinct-term count in the window stage.
    """
    pat = '<a href="([^"]*)">([^<]*)</a>'
    step1 = df.select(
        F.col(id_col).alias("src"),
        F.expr(f"regexp_extract_all({text_col}, '{pat}', 1)").alias("_hs"),
        F.expr(f"regexp_extract_all({text_col}, '{pat}', 2)").alias("_ts"),
    )
    pairs = step1.select(
        "src", F.posexplode("_hs").alias("pos", "target"), "_ts"
    ).select(
        "src",
        "target",
        F.element_at("_ts", F.col("pos") + 1).alias("anchor"),
    )
    inlinks = pairs.groupBy("target").agg(
        F.count(F.lit(1)).cast("long").alias("n_inlinks"),
        F.count_distinct("src").cast("long").alias("n_srcs"),
    )
    terms = (
        pairs.select("target", F.explode(tokens("anchor")).alias("term"))
        .groupBy("target", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("term_cnt"))
    )
    w = Window.partitionBy("target").orderBy(
        F.desc("term_cnt"), F.asc("term")
    )
    top = terms.withColumn(
        "term_rank", F.row_number().over(w).cast("long")
    ).filter(F.col("term_rank") <= top_k)
    return top.join(inlinks, "target").select(
        "target", "n_inlinks", "n_srcs", "term", "term_cnt", "term_rank"
    )


def gopher_rules(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, table A1 —
    public heuristics): each rule is an independent boolean column so a
    pipeline can report WHICH rule rejected a document, not just that one
    did. All ratio thresholds are evaluated by integer cross-
    multiplication (``10 * symbols <= n_words`` instead of a float
    divide), so the booleans are exact and oracle-portable.

    Rules (doc passes when ALL hold):
      r_wordcount    50 <= n_words <= 100_000
      r_mean_wlen    3 <= mean word length <= 10   (3n <= chars <= 10n)
      r_symbol       symbol-to-word ratio <= 0.1   ('#' runs + '...')
      r_bullet       <= 90% of lines start with a bullet (- * •)
      r_ellipsis     <= 30% of lines end with '...'
      r_alpha        >= 80% of words contain an alphabetic char
      r_stopwords    >= 2 distinct hits from the 8-word English stop list

    Scale: single map-only expression pass — no shuffle, no UDF; runs at
    scan speed under whole-stage codegen.
    """
    c = F.col(text_col)
    toks = tokens(c)
    n_words = F.size(toks).cast("long")
    n_word_chars = F.aggregate(
        toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t).cast("long")
    )
    n_symbols = (
        (F.length(c) - F.length(F.translate(c, "#", "")))
        + F.size(F.expr(f"regexp_extract_all({text_col}, '\\\\.\\\\.\\\\.', 0)"))
    ).cast("long")
    lines = F.filter(F.split(c, "\n"), lambda l: F.length(F.trim(l)) > 0)
    n_lines = F.greatest(F.size(lines), F.lit(1)).cast("long")
    n_bullet = F.size(
        F.filter(
            lines,
            lambda l: F.trim(l).rlike("^[-*•]"),
        )
    ).cast("long")
    n_ellipsis = F.size(
        F.filter(lines, lambda l: F.rtrim(l).rlike("\\.\\.\\.$"))
    ).cast("long")
    n_alpha_words = F.size(
        F.filter(toks, lambda t: t.rlike("[a-z]"))
    ).cast("long")
    gopher_stops = ["the", "be", "to", "of", "and", "that", "have", "with"]
    n_stop_hits = F.size(
        F.array_intersect(F.array_distinct(toks), F.array(*[F.lit(s) for s in gopher_stops]))
    ).cast("long")

    nw = F.greatest(n_words, F.lit(1))
    out = df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        ((n_words >= 50) & (n_words <= 100000)).alias("r_wordcount"),
        ((3 * nw <= n_word_chars) & (n_word_chars <= 10 * nw)).alias(
            "r_mean_wlen"
        ),
        (10 * n_symbols <= nw).alias("r_symbol"),
        (10 * n_bullet <= 9 * n_lines).alias("r_bullet"),
        (10 * n_ellipsis <= 3 * n_lines).alias("r_ellipsis"),
        (5 * n_alpha_words >= 4 * nw).alias("r_alpha"),
        (n_stop_hits >= 2).alias("r_stopwords"),
    )
    return out.withColumn(
        "keep",
        F.col("r_wordcount")
        & F.col("r_mean_wlen")
        & F.col("r_symbol")
        & F.col("r_bullet")
        & F.col("r_ellipsis")
        & F.col("r_alpha")
        & F.col("r_stopwords"),
    )


def canonicalize_url(url: Column | str) -> Column:
    """Canonical URL form for URL-keyed dedup (public normalization rules:
    RFC 3986 §6 + the de-facto tracker-param strip):

      1. drop the ``#fragment``
      2. lowercase scheme and host (path stays case-sensitive)
      3. drop default ports (``:80`` for http, ``:443`` for https)
      4. drop ``utm_*`` query parameters; drop ``?`` if none survive
      5. strip a trailing ``/`` from a non-root path

    URLs without a parseable ``scheme://`` (relative, malformed, bare
    host) pass through unchanged: all the extracts would return '' and
    collapse unrelated URLs onto the single key ``'://'``, silently
    merging distinct documents. The guard is the same RE2-safe predicate
    in Spark and the DuckDB oracle.

    Pure RE2-safe regexp algebra (no lookahead, no backrefs) so the exact
    same patterns run in the DuckDB oracle. Map-only, codegen'd.
    """
    raw = F.col(url) if isinstance(url, str) else url
    u = raw
    u = F.regexp_replace(u, "#.*$", "")
    scheme = F.lower(F.regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    hostport = F.lower(F.regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?]*)", 1))
    rest = F.regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*(.*)$", 1)
    host = F.when(
        (scheme == "http"), F.regexp_replace(hostport, ":80$", "")
    ).when(
        (scheme == "https"), F.regexp_replace(hostport, ":443$", "")
    ).otherwise(hostport)
    path = F.regexp_extract(rest, "^([^?]*)", 1)
    query = F.regexp_extract(rest, "\\?(.*)$", 1)
    kept = F.filter(
        F.split(query, "&"),
        lambda p: (F.length(p) > 0) & ~p.rlike("^utm_"),
    )
    path = F.when(
        F.length(path) > 1, F.regexp_replace(path, "/$", "")
    ).otherwise(path)
    q_str = F.when(
        F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))
    ).otherwise(F.lit(""))
    return F.when(
        raw.rlike("^[A-Za-z][A-Za-z0-9+.-]*://"),
        F.concat(scheme, F.lit("://"), host, path, q_str),
    ).otherwise(raw)


def url_dedup_profile(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """URL-keyed dedup profile: canonicalize, then per canonical URL count
    raw variants and distinct raw spellings, and pick the keeper document
    (min id — arrival-stable). One map pass + one groupBy on the canonical
    key; at 100 TB the groupBy shuffles only (url, id) pairs."""
    canon = df.select(
        F.col(id_col), F.col(url_col), canonicalize_url(url_col).alias("canonical_url")
    )
    return canon.groupBy("canonical_url").agg(
        F.count(F.lit(1)).cast("long").alias("n_variants"),
        F.count_distinct(url_col).cast("long").alias("n_spellings"),
        F.min(id_col).cast("long").alias("keeper_id"),
    )


def tokenizer_byte_fertility(
    df: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Byte-level tokenizer-fertility audit per group (typically
    language) — the UTF-8-cost companion to :func:`tokenizer_fertility`
    (which has no byte dimension): how many characters and UTF-8 bytes
    one token "costs" — THE sanity gate before
    committing a tokenizer to a multilingual corpus (fertility spikes on a
    language mean its documents consume context windows, inflate training
    cost, and under-train per byte; cf. the fertility tables in the BLOOM
    and XLM-R papers). Uses the whitespace tokenizer and the BPE-ish
    word-piece proxy side by side, so the ratio between them exposes
    scripts the word-piece rule fragments hardest.

    Output per group: (group, n_docs, n_tokens, n_pieces, n_chars,
    n_bytes, chars_per_token_micro, bytes_per_token_micro,
    pieces_per_token_micro) — all counts exact integers, the three ratios
    floor-scaled to micro so the DuckDB oracle reproduces them bit-exact.

    Scale: pure map expressions + ONE map-combinable groupBy on the
    group key; group cardinality ≈ #languages, so the shuffle is bytes.
    """
    per_doc = df.select(
        F.col(group_col).alias("grp"),
        token_count(text_col).cast("long").alias("t"),
        bpe_ish_token_count(text_col).alias("p"),
        F.length(text_col).cast("long").alias("c"),
        F.octet_length(text_col).cast("long").alias("b"),
    )
    agg = per_doc.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("t").alias("n_tokens"),
        F.sum("p").alias("n_pieces"),
        F.sum("c").alias("n_chars"),
        F.sum("b").alias("n_bytes"),
    )
    def _micro(num, den):
        # integer `div` keeps the whole ratio in exact int64 arithmetic
        # (the repo-wide oracle convention; Spark div == DuckDB //)
        return F.when(
            F.col(den) > 0, F.expr(f"({num} * 1000000) div {den}")
        ).otherwise(F.lit(0)).cast("long")
    return agg.select(
        F.col("grp").alias(group_col),
        "n_docs",
        "n_tokens",
        "n_pieces",
        "n_chars",
        "n_bytes",
        _micro("n_chars", "n_tokens").alias("chars_per_token_micro"),
        _micro("n_bytes", "n_tokens").alias("bytes_per_token_micro"),
        _micro("n_pieces", "n_tokens").alias("pieces_per_token_micro"),
    )
