"""Deduplication operators for large-scale training-data pipelines.

Beyond-reference surface (SURVEY.md §7 phase 4): exact dedup, MinHash+LSH
near-dup, SimHash, and n-gram Jaccard — all as declarative DataFrame
transformations designed for the 100 TB path:

* **exact**: hash-groupBy on a digest of the normalized text. One shuffle
  keyed on the digest; map-side partial agg collapses duplicates early.
* **MinHash+LSH**: shingle → k minhashes → band buckets → self-join within
  buckets. The self-join is banded so the shuffle key is (band_id, band
  hash) — candidate pairs only ever meet inside a bucket, never a global
  cross join. Skewed buckets (boilerplate docs) are handled by AQE skew
  splitting; a bucket-size cap drops degenerate buckets (standard practice
  at web scale).
* **SimHash**: 16/32-bit signature by bit-voting over token hashes —
  expressed entirely with explode + groupBy (codegen'd, no UDF).
* **n-gram Jaccard**: exact verification on candidate pairs (shingle
  intersection / union via explode + join), used as the precise re-rank
  after LSH recall.

Everything uses the portable md5-based hash (functions/hashing.py) so each
operator has an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hfsa_spark.functions.hashing import portable_hash64, portable_hash_hex

# ---------------------------------------------------------------- exact --


def normalize_text(c: Column | str) -> Column:
    """Canonical form for exact dedup: lowercase, collapse whitespace, trim."""
    col = F.col(c) if isinstance(c, str) else c
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row per distinct normalized text: (digest, doc_count, keep_id).

    keep_id = min(id) — the canonical representative. Scale: single shuffle
    on the 32-hex digest; cardinality = distinct docs.
    """
    return (
        df.select(F.col(id_col), F.md5(normalize_text(text_col)).alias("digest"))
        .groupBy("digest")
        .agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.min(id_col).alias("keep_id"),
        )
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Return the deduplicated rows (keep the min-id representative of each
    exact-duplicate group). Implemented as a window-free groupBy + semi join
    so the heavy payload column is only shuffled once."""
    keep = exact_dedup_groups(df, id_col, text_col).select(F.col("keep_id").alias(id_col))
    return df.join(keep, id_col, "left_semi")


def incremental_dedup(
    new_df: DataFrame,
    index_df: DataFrame,
    id_col: str,
    text_col: str,
    index_digest_col: str = "digest",
) -> DataFrame:
    """Dedupe a NEW document batch against an existing corpus digest index
    (the incremental-ingestion step: each crawl drop is cleaned against
    everything already accepted), then exact-dedupe within the batch.

    ``index_df`` carries one ``index_digest_col`` (md5 of normalized text)
    per already-ingested document — the persisted output of
    :func:`exact_dedup_groups` from prior batches.

    Scale: the index side is projected to the single digest column before
    the anti join (column pruning keeps a billions-row index cheap to
    shuffle), and the join key is the digest itself, so both sides
    hash-partition on it — at 100 TB this is one co-partitioned shuffle,
    no broadcast needed. The in-batch dedup reuses the batch digest, so
    the batch text is hashed exactly once.
    """
    hashed = new_df.withColumn("__digest", F.md5(normalize_text(text_col)))
    fresh = hashed.join(
        index_df.select(F.col(index_digest_col).alias("__digest")),
        "__digest",
        "left_anti",
    )
    keep = (
        fresh.groupBy("__digest")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return fresh.join(keep, id_col, "left_semi").drop("__digest")


# -------------------------------------------------------------- shingles --


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column — a higher-order
    expression (split / sequence / transform), fully codegen'd."""
    col = F.col(text) if isinstance(text, str) else text
    words = F.split(F.trim(F.lower(col)), r"\s+")
    return F.array_distinct(
        F.when(
            F.size(words) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(words) - (n - 1)),
                lambda i: F.array_join(F.slice(words, i, n), " "),
            ),
        ).otherwise(F.array(F.array_join(words, " ")))
    )


# -------------------------------------------------------------- minhash --


def minhash_signature(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, mh_0..mh_{k-1}) — k independent minhashes, each the min over
    shingles of a seeded portable hash. Hex strings of fixed width, so
    ``min`` is portable to the SQL oracle.

    Scale: explode(shingles) multiplies rows by shingle count, but the k
    mins aggregate map-side; the shuffle carries one row per doc.
    """
    from hfsa_spark.plans import parallelize_compute

    exploded = parallelize_compute(df.select(id_col, text_col)).select(
        F.col(id_col), F.explode(word_shingles(text_col, shingle_n)).alias("shingle")
    )
    aggs = [
        F.min(portable_hash_hex("shingle", seed=i)).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    return exploded.groupBy(id_col).agg(*aggs)


def minhash_lsh_candidates(
    signatures: DataFrame,
    id_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    max_bucket: int = 1000,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) from banded LSH.

    rows_per_band = num_hashes // bands; docs sharing ALL minhashes inside
    any band collide. The pair join happens per (band, bucket) — a shuffle
    keyed on the band hash, never a global cross join. Buckets larger than
    ``max_bucket`` are dropped (degenerate boilerplate; at web scale these
    would otherwise produce O(n²) pairs).
    """
    banded = band_keys(signatures, id_col, num_hashes, bands)
    return _bucket_pairs(banded, id_col, max_bucket)


def band_keys(
    signatures: DataFrame,
    id_col: str,
    num_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """(id, band, key) rows from a minhash signature frame — key is the
    '|'-joined minhashes of the band. This IS the persistable LSH index
    shape: store it per accepted corpus and equi-join new batches on
    (band, key) (:func:`incremental_neardup`)."""
    rows_per_band = num_hashes // bands
    assert rows_per_band * bands == num_hashes, "bands must divide num_hashes"

    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "|", *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
                ).alias("key"),
            )
            for b in range(bands)
        ]
    )
    return signatures.select(F.col(id_col), F.explode(band_structs).alias("bk")).select(
        F.col(id_col), F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def _bucket_pairs(banded: DataFrame, id_col: str, max_bucket: int) -> DataFrame:
    """(band, key, id) rows → distinct candidate pairs (id_a < id_b) formed
    within each bucket. The pair explosion happens after a groupBy keyed on
    (band, key), so candidates only ever meet inside a bucket — never a
    global cross join. Buckets larger than ``max_bucket`` are dropped
    (degenerate boilerplate; at web scale these would be O(n²))."""
    sized = banded.groupBy("band", "key").agg(F.collect_list(id_col).alias("ids"))
    return (
        sized.filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
        .select(
            F.explode(
                F.filter(
                    F.flatten(
                        F.transform(
                            F.col("ids"),
                            lambda a: F.transform(F.col("ids"), lambda b: F.struct(a.alias("a"), b.alias("b"))),
                        )
                    ),
                    lambda p: p["a"] < p["b"],
                )
            ).alias("p")
        )
        .select(F.col("p.a").alias("id_a"), F.col("p.b").alias("id_b"))
        .distinct()
    )


# -------------------------------------------------------------- simhash --


def simhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 16,
) -> DataFrame:
    """(id, simhash) — bit-voting simhash over whitespace tokens.

    Pure explode + conditional sums: for each bit j, vote +1/-1 per token
    depending on bit j of the token hash; sign of the vote sets bit j.
    Scale: the per-doc aggregation is map-side combinable; shuffle carries
    one row per doc. ``bits`` ≤ 32 keeps the signature in an int.
    """
    from hfsa_spark.plans import parallelize_compute

    tokens = parallelize_compute(df.select(id_col, text_col)).select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.lower(text_col)), r"\s+")).alias("tok"),
    ).filter(F.length("tok") > 0)
    h = portable_hash64("tok")
    votes = tokens.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v_{j}")
            for j in range(bits)
        ]
    )
    sig = None
    for j in range(bits):
        bit = F.when(F.col(f"v_{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    return votes.select(F.col(id_col), sig.cast("long").alias("simhash"))


def hamming_distance(a: Column | str, b: Column | str) -> Column:
    """Popcount of XOR — bit_count is a built-in in Spark ≥ 3.3."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.bit_count(ca.bitwiseXOR(cb))


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 16,
    max_hamming: int = 3,
    bands: int | None = None,
    max_bucket: int = 10_000,
) -> DataFrame:
    """Near-duplicate pairs by SimHash: (id_a, id_b, hamming) for every pair
    whose ``bits``-bit signatures differ in ≤ ``max_hamming`` bit positions.

    Exact recall via the pigeonhole banding trick: the signature is split
    into ``bands`` contiguous chunks with bands > max_hamming, so any pair
    within the Hamming radius agrees EXACTLY on at least one chunk.
    Candidate generation is therefore an equi self-join keyed on
    (band, chunk value) — one shuffle, never a cross join — followed by an
    exact popcount verify on the joined signatures. At 100 TB use bits=64
    with bands = max_hamming + 1 (the classic 64-bit/4-band layout); the
    signature column is a single long either way.
    """
    sigs = simhash(df, id_col, text_col, bits=bits)
    return hamming_neardup_pairs(
        sigs, id_col, "simhash", bits=bits, max_hamming=max_hamming,
        bands=bands, max_bucket=max_bucket,
    )


def hamming_neardup_pairs(
    sigs: DataFrame,
    id_col: str,
    sig_col: str,
    bits: int = 64,
    max_hamming: int = 3,
    bands: int | None = None,
    max_bucket: int = 10_000,
) -> DataFrame:
    """Near-duplicate pairs over ANY precomputed bit-signature column
    (SimHash, image pHash, audio fingerprint …): the pigeonhole banding
    body of :func:`simhash_neardup_pairs`, factored out so every modality
    shares one scale-safe candidate generator. Signatures within the
    Hamming radius agree exactly on ≥ 1 of ``bands`` contiguous chunks
    (bands > max_hamming), so candidates come from an equi self-join on
    (band, chunk) — one shuffle, never a cross join — then an exact
    popcount verify. Returns (id_a, id_b, hamming) with id_a < id_b."""
    if bands is None:
        bands = max_hamming + 1
    if bands <= max_hamming:
        raise ValueError(
            f"bands ({bands}) must exceed max_hamming ({max_hamming}) for full recall"
        )

    # contiguous chunk boundaries covering all `bits` (widths differ by ≤1)
    edges = [round(b * bits / bands) for b in range(bands + 1)]
    chunks = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(sig_col, edges[b])
                .bitwiseAND(F.lit((1 << (edges[b + 1] - edges[b])) - 1))
                .cast("string")
                .alias("key"),
            )
            for b in range(bands)
        ]
    )
    # r12: sigs feeds the banding explode AND both verify sides — for
    # upstream signature kernels this is the dominant cost (q124's image
    # pHash would decode every image three times), so the narrow
    # (id, signature) table is persisted, EAGERLY materialized (AQE runs
    # the consumers' leaf stages concurrently — a lazy cache would still
    # decode per consumer; see plans.shared), and the small pair table
    # materialized before the cache is released
    from hfsa_spark.plans import shared

    sigs = shared(sigs.select(F.col(id_col), F.col(sig_col)))
    banded = sigs.select(F.col(id_col), F.explode(chunks).alias("bk")).select(
        F.col(id_col), F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    cand = _bucket_pairs(banded, id_col, max_bucket)

    sa = sigs.select(F.col(id_col).alias("id_a"), F.col(sig_col).alias("_sig_a"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col(sig_col).alias("_sig_b"))
    out = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("hamming", hamming_distance("_sig_a", "_sig_b"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    out = out.persist()
    out.count()
    sigs.unpersist()
    return out


# ------------------------------------------------- duplicate components --


def connected_components(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "id",
    max_iter: int = 50,
) -> DataFrame:
    """Group duplicate-pair edges into components: returns (id, group_id)
    where group_id = the minimum node id reachable through the pair graph.
    This is the step that turns pairwise near-dup evidence (LSH/Jaccard
    output) into dedup groups with one canonical representative each.

    Iterative min-label propagation: each round every node takes the min
    of its own label and its neighbors' labels; converges in O(component
    diameter) rounds (near-dup components are shallow — dozens of rounds
    cover pathological chains). Each round is one shuffle keyed on node id;
    ``localCheckpoint`` truncates lineage so plans stay flat. The
    convergence check is an aggregate, not a collect of the data.

    The loop runs over EDGE ENDPOINTS only (r12, guide §2.3 — shuffle
    fewer bytes): a node in no pair can never change its label, yet the
    previous shape carried the whole corpus-size ``nodes`` table through
    every round's join AND checkpoint — rounds × corpus rows of shuffle
    and materialization for data that was pass-through. Now each round
    moves O(|pair endpoints|) rows and the corpus is touched exactly once
    by the final left join (isolated nodes keep their own id — identical
    output by construction, pinned by the recursive-CTE oracle).

    Contract (r13, ADVICE r12): ``pairs`` must reference only ids present
    in ``nodes``. The endpoints loop propagates labels through EVERY pair
    endpoint — under the pre-r12 shape an id absent from ``nodes`` was
    inert (labels were seeded from ``nodes``), so two nodes linked only
    through an out-of-corpus id did not merge; now they do, and the
    resulting group_id can be an id outside ``nodes``. Every caller in
    this codebase derives ``pairs`` from the same frame as ``nodes`` (LSH/
    Jaccard/simhash candidate pairs over the corpus itself), so the
    difference is unobservable here; a new caller with foreign edge ids
    must semi-join ``pairs`` against ``nodes`` first.
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        edges.select("src").distinct()
        .select(F.col("src").alias("node"), F.col("src").alias("label"))
    )

    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))).alias(
                    "label"
                ),
                (F.col("nbr_label") < F.col("label")).alias("__changed"),
            )
            .localCheckpoint(eager=False)
        )
        # the full count both materializes the (lazy) checkpoint and is the
        # convergence check — one job per round instead of two
        changed = new_labels.filter(F.col("__changed")).count()
        labels = new_labels.drop("__changed")
        if changed == 0:
            break
    # materialize the corpus-size result ONCE (the old shape's last-round
    # checkpoint had this role): downstream keeper/split paths consume the
    # labels twice in one action, and a lazy join would recompute the
    # corpus scan+join per consumer (plan audit showed 4 -> 8 scans)
    return (
        nodes.select(F.col(id_col).alias("node"))
        .join(labels, "node", "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce(F.col("label"), F.col("node")).alias("group_id"),
        )
        .localCheckpoint(eager=True)
    )


# -------------------------------------------------------------- jaccard --


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs (id_a < id_b).

    Without ``candidates``, pairs are generated by joining on shared
    shingles (docs with no common shingle can't exceed 0 similarity, so
    this is exact while avoiding the cross join). With ``candidates``
    (e.g. LSH output) it verifies only those pairs — the scale path.

    r13: the shingle stream is persisted + eagerly materialized (three
    consumers — sizes, both self-join sides — each re-ran the tokenize+
    shingle explode before); the pair result is localCheckpoint-ed so the
    stream cache is released before returning.
    """
    from hfsa_spark.plans import parallelize_compute, shared

    shingled = shared(
        parallelize_compute(df.select(id_col, text_col)).select(
            F.col(id_col).alias("id"),
            F.explode(word_shingles(text_col, shingle_n)).alias("sh"),
        )
    )
    sizes = shingled.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))

    a = shingled.alias("a")
    b = shingled.alias("b")
    common = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    if candidates is not None:
        common = common.join(candidates, ["id_a", "id_b"], "left_semi")

    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    out = (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "jaccard")
        .localCheckpoint(eager=True)
    )
    shingled.unpersist()
    return out


# --------------------------------------------------- exact substrings --


def duplicate_substring_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    gram: int = 20,
    min_len: int = 40,
    sample_mod: int = 1,
    max_gap: int | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Maximal duplicated-substring spans per document, in the spirit of
    exact-substring deduplication for LLM training corpora (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better" —
    public paper; they build a corpus suffix array offline, we re-express
    the operator Spark-first).

    A character position ``i`` (1-based) in a document is *duplicated*
    when the length-``gram`` window starting at ``i`` occurs at least
    twice anywhere in the corpus (another document or elsewhere in the
    same one). Runs of duplicated positions no more than ``max_gap``
    apart are merged (gaps-and-islands) into spans ``[span_start,
    span_end]``; only spans of at least ``min_len`` characters are
    emitted. With the exact defaults, any substring of length >=
    max(gram, min_len) that occurs twice in the corpus is contained in an
    emitted span (every one of its windows is duplicated); conversely
    every emitted position sits in *some* twice-occurring window, so the
    spans are exactly the union of duplicated windows — the removal
    targets of the paper.

    Scale: the shuffle is keyed on a 64-bit xxhash of the window (8-byte
    key, never the window text); pass 1 is a count aggregation with
    map-side partial combine, pass 2 a left-semi join of positions
    against the surviving hashes — both hash-partition on the same key.
    Total shuffled rows ~= corpus characters / ``sample_mod``: at the
    100 TB scale set ``sample_mod`` > 1 to keep only windows whose hash
    ≡ 0 (mod ``sample_mod``) — CONTENT-DEFINED sampling (the winnowing /
    MOSS fingerprinting idea), so identical substrings select identical
    windows regardless of their alignment in each document; a fixed
    positional stride would miss every cross-doc match whose offsets
    disagree modulo the stride. Sampled mode is probabilistic: a
    duplicated region of length L is missed with probability ~=
    (1 - 1/sample_mod)^(L - gram + 1), and span boundaries are resolved
    to the sampled windows (``max_gap`` defaults to ``4 * sample_mod``
    to bridge the geometric gaps between samples; exact mode defaults to
    ``max_gap=1``). The islands window partitions by document, so its
    state is bounded by the longest document, not the corpus.

    Returns (id_col, span_start, span_end, span_len).
    """
    if sample_mod < 1:
        raise ValueError("sample_mod must be >= 1")
    if max_gap is None:
        max_gap = 1 if sample_mod == 1 else 4 * sample_mod
    from hfsa_spark.plans import parallelize_compute

    text = F.col(text_col)
    positions = F.when(
        F.length(text) >= gram,
        F.sequence(F.lit(1), F.length(text) - gram + 1),
    ).otherwise(F.array().cast("array<int>"))
    grams = parallelize_compute(df.select(id_col, text_col)).select(
        F.col(id_col),
        F.explode(positions).alias("i"),
        text,
    ).select(
        id_col,
        "i",
        F.xxhash64(F.substring(text, F.col("i"), F.lit(gram))).alias("gh"),
    )
    if sample_mod > 1:
        grams = grams.filter(F.pmod(F.col("gh"), F.lit(sample_mod)) == 0)
    # grams (one narrow row per sampled char position — the dominant
    # explode+hash CPU of the query) has TWO consumers: the count agg
    # and the semi-join probe side. Persist AND eagerly materialize it so
    # the explode runs once — AQE materializes both consumers' leaf
    # stages concurrently, so a lazy cache still computes per consumer
    # (plans.shared). Its size tracks corpus chars / sample_mod — the
    # same knob that bounds the shuffle bounds the cache. The small span
    # output is materialized below so the cache is released before
    # returning.
    if materialize:
        from hfsa_spark.plans import shared

        grams = shared(grams)
    dup = grams.groupBy("gh").agg(F.count(F.lit(1)).alias("n")).filter(F.col("n") >= 2)
    dup_pos = grams.join(dup.select("gh"), "gh", "left_semi")

    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("i")
    islands = dup_pos.withColumn(
        "new_grp",
        F.when(
            F.col("i") - F.lag("i").over(w) <= max_gap, F.lit(0)
        ).otherwise(F.lit(1)),
    ).withColumn(
        "grp",
        F.sum("new_grp").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    spans = (
        islands.groupBy(id_col, "grp")
        .agg(
            F.min("i").alias("span_start"),
            (F.max("i") + F.lit(gram - 1)).alias("span_end"),
        )
        .withColumn("span_len", F.col("span_end") - F.col("span_start") + 1)
        .filter(F.col("span_len") >= min_len)
        .select(id_col, "span_start", "span_end", "span_len")
    )
    if materialize:
        spans = spans.persist()
        spans.count()
        grams.unpersist()
    return spans


def duplicate_char_ratio(
    df: DataFrame,
    id_col: str,
    text_col: str,
    gram: int = 20,
    min_len: int = 40,
) -> DataFrame:
    """Per-document duplicated-character budget: how much of each document
    sits inside duplicated spans (the doc-level filter signal — drop or
    trim documents past a duplication threshold). Spans from
    :func:`duplicate_substring_spans` are maximal and therefore disjoint,
    so summing their lengths is exact.

    Returns (id_col, n_spans, dup_chars, n_chars, dup_ratio) for every
    document that has at least one qualifying span.
    """
    spans = duplicate_substring_spans(df, id_col, text_col, gram=gram, min_len=min_len)
    lens = df.select(F.col(id_col), F.length(text_col).alias("n_chars"))
    return (
        spans.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum("span_len").alias("dup_chars"),
        )
        .join(lens, id_col)
        .withColumn(
            "dup_ratio",
            F.round(F.col("dup_chars").cast("double") / F.col("n_chars"), 6),
        )
        .select(id_col, "n_spans", "dup_chars", "n_chars", "dup_ratio")
    )


# ------------------------------------------------------------- bloom --


class BloomFilter:
    """A plain Bloom filter over string keys: ``num_bits`` bits stored as
    64-bit words, ``num_hashes`` seeded xxhash64 probes per key. Built
    distributedly (the corpus is never collected — only the fixed-size
    word array comes back to the driver, like a centroid set), shipped to
    executors as a one-row broadcast so membership tests stay pure
    JVM-side expressions."""

    def __init__(self, words: list[int], num_bits: int, num_hashes: int):
        self.words = words
        self.num_bits = num_bits
        self.num_hashes = num_hashes

    def to_row_df(self, spark) -> DataFrame:
        from pyspark.sql.types import ArrayType, LongType, StructField, StructType

        schema = StructType([StructField("__bloom", ArrayType(LongType()), False)])
        return spark.createDataFrame([(self.words,)], schema)


def _bloom_positions(col: Column, num_bits: int, num_hashes: int) -> list[Column]:
    return [
        F.pmod(F.xxhash64(F.concat(F.lit(f"bloom{j}:"), col)), F.lit(num_bits))
        for j in range(num_hashes)
    ]


def bloom_build(
    df: DataFrame, col: str, num_bits: int = 1 << 20, num_hashes: int = 4
) -> BloomFilter:
    """Build a Bloom filter over ``df[col]`` with one distributed pass:
    explode each key into its ``num_hashes`` bit positions, groupBy the
    64-bit word index with a ``bit_or`` of the set bit — map-side partial
    aggregation collapses each partition to <= num_bits/64 rows before the
    (tiny) shuffle, so the cost is a single scan of the corpus regardless
    of its size. Only the word array (num_bits/8 bytes, a driver-chosen
    constant) is collected."""
    if num_bits % 64 != 0:
        raise ValueError("num_bits must be a multiple of 64")
    c = F.col(col)
    pos = F.explode(F.array(*_bloom_positions(c, num_bits, num_hashes))).alias("p")
    words = (
        df.select(pos)
        .select((F.col("p") / 64).cast("long").alias("w"), F.pmod(F.col("p"), F.lit(64)).alias("b"))
        .groupBy("w")
        .agg(
            F.bit_or(
                F.call_function("shiftleft", F.lit(1).cast("long"), F.col("b").cast("int"))
            ).alias("bits")
        )
        .collect()
    )
    arr = [0] * (num_bits // 64)
    for r in words:
        arr[r["w"]] = r["bits"]
    return BloomFilter(arr, num_bits, num_hashes)


def bloom_might_contain(bf: BloomFilter, col: Column | str) -> Column:
    """Membership-test expression against the broadcast ``__bloom`` column
    (attach it first via ``df.crossJoin(F.broadcast(bf.to_row_df(spark)))``
    — the repo's one-row-broadcast pattern). All ``num_hashes`` probes are
    plain element_at/bitwise expressions, fully codegen'd; no UDF, no
    shuffle."""
    c = F.col(col) if isinstance(col, str) else col
    cond = F.lit(True)
    for p in _bloom_positions(c, bf.num_bits, bf.num_hashes):
        mask = F.call_function(
            "shiftleft", F.lit(1).cast("long"), F.pmod(p, F.lit(64)).cast("int")
        )
        word = F.element_at(F.col("__bloom"), ((p / 64).cast("long") + 1).cast("int"))
        cond = cond & (word.bitwiseAND(mask) == mask)
    return cond


def bloom_dedup(
    new_df: DataFrame,
    index_df: DataFrame,
    id_col: str,
    text_col: str,
    index_digest_col: str = "digest",
    num_bits: int = 1 << 20,
    num_hashes: int = 4,
    bloom: BloomFilter | None = None,
) -> DataFrame:
    """Incremental dedup with a broadcast Bloom prefilter: semantically
    IDENTICAL to :func:`incremental_dedup` (Bloom filters have no false
    negatives, and every "maybe" is verified with the exact anti join),
    but only the rows the filter cannot clear — true duplicates plus the
    ~(1 - e^{-kn/m})^k false-positive sliver — ever reach the join
    shuffle. Rows the filter clears are definitely new and flow through
    map-only.

    Scale: the prefilter cuts the new batch's anti-join shuffle volume to
    the duplicate rate + FPR; the index is still only scanned once (to
    build the filter, map-combinable) instead of shuffled wholesale. The
    broadcast word array is a driver-chosen constant (num_bits/8 bytes —
    ~10 bits per corpus key for ~1% FPR), which caps the economical
    corpus size at a few hundred million keys per filter; past that,
    shard the corpus and dedupe per shard, or fall back to
    :func:`incremental_dedup`'s co-partitioned join. Pass a prebuilt
    ``bloom`` to amortize the build across batches.
    """
    spark = new_df.sparkSession
    index_keys = index_df.select(F.col(index_digest_col).alias("__digest"))
    if bloom is None:
        bloom = bloom_build(index_keys, "__digest", num_bits, num_hashes)

    # r12: work on a payload-free (id, digest) projection — the tagged
    # stream has two consumers (definite-new and maybe branches) and the
    # fresh union two more (keeper min + semi join), so the pre-r12 shape
    # re-ran normalize+md5 over the full payload up to four times;
    # persisting the narrow digests runs it once, and the payload is
    # re-attached by ONE final semi join on the id
    dig = new_df.select(
        F.col(id_col), F.md5(normalize_text(text_col)).alias("__digest")
    )
    from hfsa_spark.plans import shared

    tagged = shared(
        dig.crossJoin(F.broadcast(bloom.to_row_df(spark))).withColumn(
            "__maybe", bloom_might_contain(bloom, "__digest")
        ).drop("__bloom")
    )
    definite_new = tagged.filter(~F.col("__maybe")).drop("__maybe")
    verified_new = (
        tagged.filter(F.col("__maybe"))
        .drop("__maybe")
        .join(index_keys, "__digest", "left_anti")
    )
    fresh = definite_new.unionByName(verified_new)
    keep = fresh.groupBy("__digest").agg(F.min(id_col).alias(id_col)).select(id_col)
    out_ids = fresh.join(keep, id_col, "left_semi").select(id_col)
    out_ids = out_ids.persist()
    out_ids.count()
    tagged.unpersist()
    return new_df.join(out_ids, id_col, "left_semi")


def canonical_keeper(
    df: DataFrame,
    id_col: str,
    text_col: str,
    quality_col: str,
) -> DataFrame:
    """Quality-aware representative selection: like :func:`exact_dedup`
    (group by normalized-content digest) but the survivor is the
    HIGHEST-quality member, not the smallest id — when duplicates differ
    in extraction quality (truncation, encoding damage), keeping the best
    copy beats keeping the first. Tie-break (quality desc, id asc) is
    total, so the decision is deterministic.

    Returns one row per input doc: (id, digest, keep, keeper_id) — the
    full decision table, so callers can either filter ``keep`` or audit
    what was dropped and why.

    Scale: identical shape to exact_dedup — one groupBy on the digest
    (map-side combinable max_by), then the tiny (digest → keeper) table
    joins back on the digest. The text column itself never shuffles.
    """
    from hfsa_spark.functions.hashing import portable_hash_hex

    digest = portable_hash_hex(normalize_text(text_col))
    rows = df.select(
        F.col(id_col), F.col(quality_col), digest.alias("digest")
    )
    keepers = rows.groupBy("digest").agg(
        F.max(
            F.struct(F.col(quality_col).alias("q"), (-F.col(id_col)).alias("neg_id"))
        ).alias("best")
    ).select(
        "digest", (-F.col("best.neg_id")).alias("keeper_id")
    )
    return (
        rows.join(keepers, "digest")
        .select(
            id_col,
            "digest",
            (F.col(id_col) == F.col("keeper_id")).alias("keep"),
            "keeper_id",
        )
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus version diff — the release-note table between two dataset
    versions: per document id, whether it was ``added``, ``removed``,
    ``modified`` (same id, different normalized-content digest), or
    ``unchanged``. Join on the id, compare content by digest, so moved
    bytes with identical content don't count as change.

    Returns (id, status, old_digest, new_digest); aggregate the status
    column for the summary counts. Scale: ONE full outer join keyed on
    the id — both sides project to (id, 16-hex digest) before shuffling,
    so the text never moves; at 100 TB this is the minimum possible
    comparison (you must look at every id once).
    """
    from hfsa_spark.functions.hashing import portable_hash_hex

    def side(df: DataFrame, name: str) -> DataFrame:
        return df.select(
            F.col(id_col),
            portable_hash_hex(normalize_text(text_col)).alias(f"{name}_digest"),
        )

    o = side(old, "old")
    n = side(new, "new")
    joined = o.join(n, id_col, "full_outer")
    status = (
        F.when(F.col("old_digest").isNull(), F.lit("added"))
        .when(F.col("new_digest").isNull(), F.lit("removed"))
        .when(F.col("old_digest") == F.col("new_digest"), F.lit("unchanged"))
        .otherwise(F.lit("modified"))
    )
    return joined.select(id_col, status.alias("status"), "old_digest", "new_digest")


def normalize_chat_text(c: Column | str) -> Column:
    """Template-aware canonical form for instruction/chat data: strip
    role markers (``User:`` / ``Assistant:`` / ``System:`` and the
    ``<|...|>`` special-token family), then apply :func:`normalize_text`.
    Two exports of the same conversation through different chat templates
    dedupe to the same digest — the failure mode of raw-text dedup on
    SFT corpora is the same dialogue surviving once per template.

    Portable regexps (Java∩RE2, no lookaround); extend the role
    alternation for project-specific templates.
    """
    col = F.col(c) if isinstance(c, str) else c
    col = F.regexp_replace(col, r"<\|[a-z_]+\|>", " ")
    col = F.regexp_replace(
        col, r"(?i)\b(user|assistant|system|human|ai)\s*:", " "
    )
    return normalize_text(col)


def chat_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """:func:`exact_dedup_groups` over the template-normalized form:
    (digest, doc_count, keep_id) — one row per distinct CONVERSATION,
    regardless of which chat template rendered it. Same single-shuffle
    scale shape as the plain exact dedup."""
    return (
        df.select(
            F.col(id_col),
            F.md5(normalize_chat_text(text_col)).alias("digest"),
        )
        .groupBy("digest")
        .agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.min(id_col).alias("keep_id"),
        )
    )


def neardup_canonical_keeper(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    quality_col: str = "n_chars",
    num_hashes: int = 8,
    shingle_n: int = 3,
    bands: int = 4,
    max_bucket: int = 1000,
) -> DataFrame:
    """The shipped form of fuzzy dedup: near-duplicate CLUSTERS (MinHash →
    banded LSH pairs → connected components) each keep their single
    highest-quality member — :func:`canonical_keeper`'s argmax applied to
    near-dup groups instead of exact-digest groups.

    Returns one row per doc: (id, group_id, group_size, keeper_id, keep),
    with keeper = argmax(quality, −id) per component — a total,
    deterministic order, so reruns and engines agree.

    Scale: inherits each stage's posture — map-combined signatures, banded
    bucket joins with the ``max_bucket`` cap, O(diameter) min-label rounds
    with checkpointed invariants; the final argmax is one map-combinable
    groupBy on the component id plus a component-sized join back. Text
    never shuffles past the shingle explode.
    """
    sigs = minhash_signature(df, id_col, text_col, num_hashes, shingle_n)
    pairs = minhash_lsh_candidates(sigs, id_col, num_hashes, bands, max_bucket)
    comp = connected_components(df.select(id_col), pairs, id_col)
    rows = df.select(F.col(id_col), F.col(quality_col)).join(comp, id_col)
    keepers = (
        rows.groupBy("group_id")
        .agg(
            F.max(
                F.struct(F.col(quality_col).alias("q"), (-F.col(id_col)).alias("neg_id"))
            ).alias("best"),
            F.count(F.lit(1)).alias("group_size"),
        )
        .select("group_id", (-F.col("best.neg_id")).alias("keeper_id"), "group_size")
    )
    return rows.join(keepers, "group_id").select(
        F.col(id_col),
        F.col("group_id"),
        F.col("group_size"),
        F.col("keeper_id"),
        (F.col(id_col) == F.col("keeper_id")).alias("keep"),
    )


# ---------------------------------------------- sentence-span dedup (C4) --


def span_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_sentences: int = 3,
) -> DataFrame:
    """C4's span deduplication rule: every run of ``span_sentences``
    consecutive sentences is a span; across the corpus only the FIRST
    occurrence of each distinct span (by (doc, position)) is kept. Returns
    the full per-span decision table
    (id, pos, span_digest, n_occurrences, keep) — the keep=false rows are
    exactly what C4 deletes from its pages.

    Sentences split on ``[.!?]`` runs (trimmed, empties dropped) — the
    honest regex-only segmentation, same dialect both engines.

    Scale: spans explode to ~one row per sentence (windows overlap but
    each starts at one sentence); the decision is one shuffle keyed on the
    span digest (window: row_number + count over the digest partition) —
    partition size is bounded by a span's duplication count, the quantity
    this operator exists to find. Span text never shuffles; the digest
    does.
    """
    from pyspark.sql import Window

    k = span_sentences
    sents = F.filter(
        F.transform(F.split(F.col(text_col), r"[.!?]"), lambda s: F.trim(s)),
        lambda s: F.length(s) > 0,
    )
    n = F.size(sents)
    spans = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(0), n - k),
            lambda i: F.array_join(F.slice(sents, i + 1, k), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = df.select(
        F.col(id_col), F.posexplode(spans).alias("pos", "span")
    ).select(
        F.col(id_col),
        F.col("pos"),
        F.substring(F.md5(F.col("span")), 1, 16).alias("span_digest"),
    )
    w = Window.partitionBy("span_digest")
    wo = w.orderBy(F.asc(id_col), F.asc("pos"))
    return exploded.select(
        F.col(id_col),
        F.col("pos"),
        F.col("span_digest"),
        F.count(F.lit(1)).over(w).alias("n_occurrences"),
        (F.row_number().over(wo) == 1).alias("keep"),
    )


# ------------------------------------------------- edit-distance dedup --


def edit_distance_neardup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dist: int = 4,
    block_cols: list[str] | None = None,
    max_bucket: int = 10_000,
) -> DataFrame:
    """Near-duplicate pairs under exact Levenshtein distance <= ``max_dist``
    via length-band blocking — the record-linkage / fuzzy-dedup primitive
    for short texts (titles, questions, chat turns) where token-set
    methods (MinHash) miss character-level edits.

    Candidate generation uses the necessary condition
    ``dist(a,b) <= d  =>  |len(a)-len(b)| <= d``: with band width
    ``w = d+1`` every doc lands in length bands ``floor(len/w)`` and
    ``floor(len/w)+1``, so any qualifying pair shares >= 1 band key and
    candidates come from an equi self-join per (block, band) bucket — the
    shared :func:`_bucket_pairs` generator, never an all-pairs cross join.
    ``block_cols`` (e.g. ``["lang"]``) further partitions the candidate
    space; buckets over ``max_bucket`` drop like LSH (length-concentrated
    corpora would otherwise go O(n^2) — pair levenshtein is the expensive
    verify, so the cap guards CPU, not just shuffle). Verification is the
    exact JVM ``levenshtein`` (identical unit-cost semantics in DuckDB,
    which is what makes the value oracle possible).

    Returns (id_a, id_b, len_a, len_b, dist) with id_a < id_b.

    Scale: each doc emits 2 band keys; the length prefilter runs before
    the O(len^2) levenshtein so dropped candidates cost one integer
    compare. Text joins back by id for the verify only — candidate ids,
    not text, cross the bucket shuffle.
    """
    w = max_dist + 1
    ln = F.length(F.col(text_col))
    block_key = (
        F.concat_ws("|", *[F.col(c).cast("string") for c in block_cols])
        if block_cols
        else F.lit("")
    )
    base = df.select(
        F.col(id_col), F.col(text_col), ln.alias("_len"), block_key.alias("_blk")
    )
    band0 = F.floor(F.col("_len") / F.lit(w)).cast("long")
    banded = base.select(
        F.col(id_col),
        F.explode(F.array(band0, band0 + 1)).alias("band"),
        F.col("_blk").alias("key"),
    )
    cand = _bucket_pairs(banded, id_col, max_bucket)

    ta = base.select(
        F.col(id_col).alias("id_a"),
        F.col(text_col).alias("_ta"),
        F.col("_len").alias("len_a"),
    )
    tb = base.select(
        F.col(id_col).alias("id_b"),
        F.col(text_col).alias("_tb"),
        F.col("_len").alias("len_b"),
    )
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .filter(F.abs(F.col("len_a") - F.col("len_b")) <= max_dist)
        .withColumn("dist", F.levenshtein("_ta", "_tb"))
        .filter(F.col("dist") <= max_dist)
        .select("id_a", "id_b", "len_a", "len_b", "dist")
    )


# ------------------------------------------------------ line-level dedup --


def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
    sep: str = "\n",
) -> DataFrame:
    """C4/RefinedWeb-style line-level boilerplate removal: any (trimmed)
    line occurring in >= ``min_docs`` DISTINCT documents is corpus
    boilerplate (cookie banners, nav menus, footers) and is dropped from
    every document; the cleaned text is rebuilt in original line order.

    Distinct-document counting (not raw occurrences) keeps a line that a
    single page repeats internally — repetition inside one doc is a
    quality signal (``repetition_profile``), not boilerplate.

    Returns (id, n_lines, n_kept, n_removed, clean_text); a fully
    boilerplate document keeps a row with ``clean_text = ''``.

    Scale: line counts group on a fixed-width digest — the shuffle carries
    (digest, doc-distinct partial) rows, never line text; the boilerplate
    set anti-joins UNHINTED — usually the Zipf head and AQE broadcasts it,
    but on mirror-heavy corpora (most lines shared by >= min_docs pages)
    it is O(distinct lines) and must be allowed to shuffle-join; the
    rebuild regroups each doc's surviving lines once, keyed on the doc id.
    ``sep`` is a literal separator (regex-escaped internally).
    """
    import re as _re

    sep_re = _re.escape(sep)  # F.split takes a regex; sep is a literal
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep_re, -1)).alias("pos", "line"),
    ).withColumn("digest", F.md5(F.trim(F.col("line"))))

    boiler = (
        lines.groupBy("digest")
        .agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("digest")
    )
    kept = lines.join(boiler, "digest", "left_anti")

    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("line")))),
                lambda s: s["line"],
            ),
            sep,
        ).alias("clean_text"),
    )
    totals = df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), sep_re, -1)).cast("long").alias("n_lines"),
    )
    n_kept = F.coalesce(F.col("n_kept"), F.lit(0).cast("long"))
    return totals.join(rebuilt, id_col, "left").select(
        F.col(id_col),
        F.col("n_lines"),
        n_kept.alias("n_kept"),
        (F.col("n_lines") - n_kept).alias("n_removed"),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
    )


# ------------------------------------------- prefix-filtered setsim join --


def _shingle_sets(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int
) -> DataFrame:
    """Shared PPJoin front end, stage 0: one row per doc with its
    DISTINCT shingle array and set size — (_sid, _set, _n). Computed
    ONCE per join (the callers persist it): the shingle expression
    (split/sequence/transform) is the dominant CPU of the whole family,
    and the r12 profile showed the pre-r12 shape re-evaluating it up to
    6× per query (toks, the pos window join, and twice in verify).
    parallelize_compute fans a single-row-group input out to the
    cluster before the shingle expression work (no-op on real scans)."""
    from hfsa_spark.plans import parallelize_compute

    shingles = word_shingles(text_col, shingle_n)
    return parallelize_compute(df.select(id_col, text_col)).select(
        F.col(id_col).alias("_sid"),
        shingles.alias("_set"),
        F.size(shingles).alias("_n"),
    )


def _ranked_shingles(sets: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Shared PPJoin front end, stage 1: (toks, pos) derived from the
    prebuilt :func:`_shingle_sets` output. toks = exploded distinct
    shingles per doc (with the set size carried along — the _set array
    is already distinct, so |rows per doc| = _n); pos adds the
    rarest-first rank (document frequency asc, element asc)."""
    toks = sets.select(
        F.col("_sid").alias("_id"),
        F.col("_n"),
        F.explode("_set").alias("_el"),
    )
    freq = toks.groupBy("_el").agg(F.count(F.lit(1)).alias("_df"))
    w = Window.partitionBy("_id").orderBy("_df", "_el")
    pos = toks.join(freq, "_el").select(
        "_id",
        "_el",
        F.row_number().over(w).alias("_pos"),
        "_n",
    )
    return toks, pos


def _verify_pairs(
    cand: "DataFrame",
    sets: "DataFrame",
) -> "DataFrame":
    """Shared exact verification back end for the PPJoin family: join the
    candidate pairs to the two PRE-BUILT (and caller-persisted) shingle
    arrays and intersect in one codegen'd array op — shuffles one array
    row per (pair, side) instead of |S_a| narrow string rows per pair
    (the r5 explode-join shape cost ~1.6x more at sf0.1). Returns
    (id_a, id_b, n_a, n_b, inter)."""
    return (
        cand.join(
            sets.select(
                F.col("_sid").alias("id_a"), F.col("_set").alias("_set_a")
            ),
            "id_a",
        )
        .join(
            sets.select(
                F.col("_sid").alias("id_b"), F.col("_set").alias("_set_b")
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            "n_a",
            "n_b",
            F.size(F.array_intersect("_set_a", "_set_b")).alias("inter"),
        )
    )


def _setsim_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold_num: int,
    threshold_den: int,
    shingle_n: int,
    sets: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Candidate stage of :func:`setsim_join` (exposed so the τ scale
    probe measures the REAL candidate volume, not a re-derivation):
    returns (toks, cand) with cand = distinct (id_a, id_b, n_a, n_b)
    surviving the prefix filter and the integer size bound. ``sets``
    lets the caller pass a persisted :func:`_shingle_sets` output so the
    shingle expression is evaluated once per query."""
    if sets is None:
        sets = _shingle_sets(df, id_col, text_col, shingle_n)
    toks, pos = _ranked_shingles(sets)
    # prefix length = n - ceil(t*n) + 1, exact integer ceil
    ceil_tn = F.expr(
        f"({threshold_num} * _n + {threshold_den} - 1) div {threshold_den}"
    )
    prefix = pos.filter(F.col("_pos") <= F.col("_n") - ceil_tn + 1)
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(b, F.col("a._el") == F.col("b._el"))
        .filter(F.col("a._id") < F.col("b._id"))
        .filter(
            threshold_num * F.greatest(F.col("a._n"), F.col("b._n"))
            <= threshold_den * F.least(F.col("a._n"), F.col("b._n"))
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a._n").alias("n_a"),
            F.col("b._n").alias("n_b"),
        )
        .distinct()
    )
    return toks, cand


def setsim_join(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold_num: int = 1,
    threshold_den: int = 2,
    shingle_n: int = 3,
    materialize: bool = True,
) -> DataFrame:
    """EXACT-threshold set-similarity self-join with prefix filtering
    (the PPJoin/AllPairs family): find every document pair whose distinct
    word-``shingle_n``-gram sets have Jaccard ≥ num/den — no hashing, no
    false negatives, unlike the probabilistic MinHash-LSH path. Elements
    are globally ordered rarest-first (document frequency asc, element
    asc); a pair at threshold t MUST share an element inside each side's
    first ``|S| − ⌈t·|S|⌉ + 1`` elements, so only those prefix elements
    generate candidates. All threshold math is integer (num·x vs den·y),
    so the oracle replays it bit-for-bit with no float ceil hazards.

    Output: (id_a, id_b, n_a, n_b, inter, jaccard_micro) for pairs with
    den·inter ≥ num·(n_a + n_b − inter), id_a < id_b.

    Scale: candidate volume is Σ over PREFIX elements of bucket², and
    rarest-first ordering makes prefix buckets the smallest ones — the
    standard reason PPJoin survives web-scale corpora where the naive
    element join explodes on stopwords. A size filter (num·max ≤ den·min)
    prunes before verification; verification touches only candidate
    pairs × one side's elements. Everything is equi-joins and
    map-combinable counts; nothing driver-side.

    r12: the per-doc shingle arrays are computed ONCE (:func:`_shingle_sets`)
    and persisted for the query's four consumers (toks, the pos window
    join, and both verify sides) — the pre-r12 plan re-evaluated the
    shingle expression up to 6× (12 parquet scans at sf0.1). The small
    verified pair table is persisted and materialized so the big shingle
    cache can be released before returning (the bm25_topk pattern);
    pass ``materialize=False`` to get the pure lazy plan (plan tests).
    """
    sets = _shingle_sets(df, id_col, text_col, shingle_n)
    if materialize:
        from hfsa_spark.plans import shared

        sets = shared(sets)
    _, cand = _setsim_candidates(
        df, id_col, text_col, threshold_num, threshold_den, shingle_n,
        sets=sets,
    )
    inter = _verify_pairs(cand, sets)
    if materialize:
        inter = inter.persist()
        inter.count()
        sets.unpersist()
    return inter.filter(
        threshold_den * F.col("inter")
        >= threshold_num * (F.col("n_a") + F.col("n_b") - F.col("inter"))
    ).select(
        "id_a",
        "id_b",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        "inter",
        F.expr("(inter * 1000000) div (n_a + n_b - inter)")
        .cast("long")
        .alias("jaccard_micro"),
    )


def incremental_neardup(
    new_df: DataFrame,
    index_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """Near-dup ingestion gate — the MinHash-LSH twin of
    :func:`incremental_dedup`: a NEW batch is screened against the
    PERSISTED band index of everything already accepted (``index_df``,
    (band, key) rows shaped like :func:`band_keys` output), then
    deduplicated within the batch. A new doc is an ``index_dup`` if any
    of its band keys collides with the index; among the remainder a doc
    is a ``batch_dup`` if it shares a band bucket with a smaller-id
    survivor (the deterministic keep-lowest-id rule). ``keep`` docs are
    exactly those whose :func:`band_keys` rows should be appended to the
    index for the next batch.

    Output: new_df columns + (index_dup, batch_dup, keep).

    Scale: both screens are equi-joins keyed on (band, key) — the index
    is never broadcast and never scanned per-doc; a billions-row index
    co-partitions with the batch on the band key. The within-batch rule
    is one map-combinable min per bucket, not a pairwise explosion, so a
    degenerate boilerplate bucket costs O(bucket), not O(bucket²).
    """
    # r12: nb (MinHash signatures → band keys, the dominant CPU) has
    # three consumers (index semi-join, batch-survivor anti-join, and
    # the bucket-min join) — persisted so signatures compute once; the
    # doc-level verdict table is materialized below so the cache is
    # released before returning
    nb = band_keys(
        minhash_signature(new_df, id_col, text_col, num_hashes),
        id_col,
        num_hashes,
        bands,
    )
    from hfsa_spark.plans import shared

    nb = shared(nb)
    hit = (
        nb.join(index_df.select("band", "key"), ["band", "key"], "left_semi")
        .select(id_col)
        .distinct()
        .withColumn("_ix", F.lit(True))
    )
    surv = nb.join(hit.select(id_col), id_col, "left_anti")
    bmin = surv.groupBy("band", "key").agg(F.min(id_col).alias("_min"))
    bdup = (
        surv.join(bmin, ["band", "key"])
        .filter(F.col("_min") < F.col(id_col))
        .select(id_col)
        .distinct()
        .withColumn("_bd", F.lit(True))
    )
    # flags are id-level (no payload columns) — materialize THEM, release
    # the signature cache, and re-attach the batch's payload lazily
    flags = (
        new_df.select(id_col)
        .join(hit, id_col, "left")
        .join(bdup, id_col, "left")
        .withColumn("index_dup", F.coalesce(F.col("_ix"), F.lit(False)))
        .withColumn("batch_dup", F.coalesce(F.col("_bd"), F.lit(False)))
        .withColumn("keep", ~F.col("index_dup") & ~F.col("batch_dup"))
        .drop("_ix", "_bd")
    )
    flags = flags.persist()
    flags.count()
    nb.unpersist()
    return new_df.join(flags, id_col)


def domain_boilerplate_strip(
    df: DataFrame,
    domain_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    frac_num: int = 1,
    frac_den: int = 2,
    min_docs: int = 2,
    sep: str = "\n",
) -> DataFrame:
    """CCNet/RefinedWeb-style PER-DOMAIN boilerplate removal: a line is
    boilerplate for a domain when it appears in ≥ num/den of THAT
    domain's documents (and ≥ ``min_docs`` absolutely) — nav menus and
    footers repeat within a site, not across the whole corpus, which is
    why the corpus-global :func:`line_dedup` misses them at realistic
    thresholds while a global threshold low enough to catch them would
    strip legitimate cross-site phrases. The fraction test is exact
    integer arithmetic (den·cnt ≥ num·domain_docs).

    Returns (id, domain, n_lines, n_kept, n_removed, clean_text).

    Scale: line counts group on (domain, digest) — shuffle carries
    digests, never line text; domain doc totals are a domain-cardinality
    aggregate joined back on the domain key; the boilerplate anti-join is
    per-domain so one mega-site's nav bar never collides with another
    domain's shuffle partitions.
    """
    import re as _re

    sep_re = _re.escape(sep)
    lines = df.select(
        F.col(id_col),
        F.col(domain_col).alias("_dom"),
        F.posexplode(F.split(F.col(text_col), sep_re, -1)).alias("pos", "line"),
    ).withColumn("digest", F.md5(F.trim(F.col("line"))))

    dom_docs = df.groupBy(F.col(domain_col).alias("_dom")).agg(
        F.count(F.lit(1)).alias("_dn")
    )
    boiler = (
        lines.groupBy("_dom", "digest")
        .agg(F.count_distinct(F.col(id_col)).alias("_cnt"))
        .join(dom_docs, "_dom")
        .filter(
            (F.col("_cnt") >= min_docs)
            & (frac_den * F.col("_cnt") >= frac_num * F.col("_dn"))
        )
        .select("_dom", "digest")
    )
    kept = lines.join(boiler, ["_dom", "digest"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("line")))),
                lambda s: s["line"],
            ),
            sep,
        ).alias("clean_text"),
    )
    totals = df.select(
        F.col(id_col),
        F.col(domain_col).alias("domain"),
        F.size(F.split(F.col(text_col), sep_re, -1)).cast("long").alias("n_lines"),
    )
    n_kept = F.coalesce(F.col("n_kept"), F.lit(0).cast("long"))
    return totals.join(rebuilt, id_col, "left").select(
        F.col(id_col),
        F.col("domain"),
        F.col("n_lines"),
        n_kept.alias("n_kept"),
        (F.col("n_lines") - n_kept).alias("n_removed"),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
    )


def _containment_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold_num: int,
    threshold_den: int,
    shingle_n: int,
    sets: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Candidate stage of :func:`containment_join` (exposed for the τ
    scale probe): returns (toks, cand) with cand = distinct directed
    (id_a, id_b, n_a, n_b) surviving the contained-side prefix filter
    and the den·|B| ≥ num·|A| size bound. ``sets`` as in
    :func:`_setsim_candidates`."""
    if sets is None:
        sets = _shingle_sets(df, id_col, text_col, shingle_n)
    toks, pos = _ranked_shingles(sets)
    ceil_tn = F.expr(
        f"({threshold_num} * _n + {threshold_den} - 1) div {threshold_den}"
    )
    prefix = pos.filter(F.col("_pos") <= F.col("_n") - ceil_tn + 1).select(
        F.col("_id").alias("id_a"), "_el", F.col("_n").alias("n_a")
    )
    # one row per doc already — was pos.select(id, _n).distinct() before
    # the sets refactor (a window + distinct for a value sets carries)
    sizes = sets.select(
        F.col("_sid").alias("id_b"), F.col("_n").alias("n_b")
    )
    full_b = toks.select(F.col("_id").alias("id_b"), "_el")
    cand = (
        prefix.join(full_b, "_el")
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b", "n_a")
        .distinct()
        .join(sizes, "id_b")
        .filter(threshold_den * F.col("n_b") >= threshold_num * F.col("n_a"))
    )
    return toks, cand


def containment_join(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold_num: int = 3,
    threshold_den: int = 4,
    shingle_n: int = 3,
    materialize: bool = True,
) -> DataFrame:
    """DIRECTED set-containment self-join: find (a, b) pairs where at
    least num/den of doc a's distinct word-``shingle_n``-gram set also
    appears in doc b — the quote/subset detector (a press release inside
    a news article, a README pasted into a repo dump) that symmetric
    Jaccard (:func:`setsim_join`) misses whenever the container is much
    larger than the contained doc. Prefix filtering applies on the
    CONTAINED side only: a's first ``|A| − ⌈t·|A|⌉ + 1`` rarest elements
    must intersect B, so candidates come from joining a's prefix against
    the full posting lists; the ``den·|B| ≥ num·|A|`` size bound prunes
    impossible containers before verification. Integer threshold math
    throughout.

    Output: (id_a, id_b, n_a, n_b, inter, containment_micro) for
    directed pairs with den·inter ≥ num·n_a, id_a ≠ id_b.

    Scale: candidate volume = Σ over a-prefix elements of posting-list
    length; rarest-first ordering keeps those lists the short tail of
    the element-frequency distribution, and verification touches only
    candidates × the contained side's elements.

    r12: shingle arrays computed once and persisted per query; verified
    pairs materialized so the cache is released before returning (see
    :func:`setsim_join`).
    """
    sets = _shingle_sets(df, id_col, text_col, shingle_n)
    if materialize:
        from hfsa_spark.plans import shared

        sets = shared(sets)
    _, cand = _containment_candidates(
        df, id_col, text_col, threshold_num, threshold_den, shingle_n,
        sets=sets,
    )
    inter = _verify_pairs(cand, sets)
    if materialize:
        inter = inter.persist()
        inter.count()
        sets.unpersist()
    return inter.filter(
        threshold_den * F.col("inter") >= threshold_num * F.col("n_a")
    ).select(
        "id_a",
        "id_b",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        "inter",
        F.expr("(inter * 1000000) div n_a").cast("long").alias(
            "containment_micro"
        ),
    )


def interdoc_shingle_repetition(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 5,
    materialize: bool = True,
) -> DataFrame:
    """Inter-document n-gram repetition: for each document, the fraction
    of its DISTINCT word ``shingle_n``-grams that also occur in at least
    one OTHER document. Complements the intra-document repetition profile
    (``text.repetition_profile``): a doc can be internally clean yet be
    assembled from corpus-common boilerplate — this is the signal that
    catches it (used in C4/RefinedWeb-style curation to drop template
    pages that exact- and near-dup passes miss).

    Output: (id, n_shingles, n_shared, shared_micro) where shared_micro =
    floor(1e6 * n_shared / n_shingles); single-token/short docs (one
    degenerate shingle) still emit a row.

    Scale: explode is O(total distinct shingles); the per-shingle doc
    count is a map-combinable groupBy on the shingle hash (8-byte key,
    never the shingle string); the join back to docs is on the same
    hash — two shuffles total, both on bounded-width keys.

    r12: the hashed shingle stream ``sh`` is computed once and persisted
    for its two consumers (the per-shingle doc counts and the join back)
    — the pre-r12 plan ran the explode+hash twice. The per-doc result is
    materialized so the stream cache is released before returning;
    ``materialize=False`` gives the pure lazy plan (plan tests).
    """
    from hfsa_spark.plans import parallelize_compute

    sh = parallelize_compute(df.select(id_col, text_col)).select(
        F.col(id_col).alias("_id"),
        F.explode(word_shingles(text_col, shingle_n)).alias("_sh"),
    ).select("_id", portable_hash64(F.col("_sh")).alias("_h"))
    if materialize:
        from hfsa_spark.plans import shared

        sh = shared(sh)
    counts = sh.groupBy("_h").agg(
        F.count_distinct("_id").cast("long").alias("_ndocs")
    )
    per_doc = (
        sh.join(counts, "_h")
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum((F.col("_ndocs") >= 2).cast("long"))
            .cast("long")
            .alias("n_shared"),
        )
    )
    out = per_doc.select(
        F.col("_id").alias(id_col),
        "n_shingles",
        "n_shared",
        F.expr("(n_shared * 1000000) div n_shingles")
        .cast("long")
        .alias("shared_micro"),
    )
    if materialize:
        out = out.persist()
        out.count()
        sh.unpersist()
    return out


def nfc_dedup_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    form: str = "NFC",
) -> DataFrame:
    """Unicode-normalization-aware exact dedup: digests are md5 over the
    NFC (canonical composition) form of the text, so NFD/NFC renderings
    of the SAME string — 'é' as U+00E9 vs 'e'+U+0301, the duplicate
    class OCR/copy-paste pipelines produce constantly — collapse into
    one group where byte-exact dedup sees two documents. Also reports
    how many group members arrived denormalized (text != NFC(text)),
    the corpus-health signal for whether an NFC pass belongs upstream.

    Returns (digest, doc_count, keep_id, n_denorm). Python's
    unicodedata NFC is verified bit-identical to DuckDB's
    nfc_normalize, so the oracle replays the digest exactly.

    ``form="NFKC"`` digests over compatibility composition instead —
    ligatures (ﬁ→fi), fullwidth forms (６→6), and superscripts also
    collapse (the aggressive variant for web-crawl dedup; DuckDB has no
    nfkc_normalize, so NFKC stays pytest-covered while the q200 gate
    runs NFC with its exact oracle).

    Scale: one Arrow map pass (Spark has no built-in NFC; the kernel
    ships (id, 32-char digest, bool) — never the text) + the same
    single digest-keyed groupBy as :func:`exact_dedup_groups`.
    """
    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unsupported normalization form: {form!r}")
    import hashlib
    import unicodedata
    from collections.abc import Iterator

    import pandas as pd

    from hfsa_spark.plans import parallelize_compute

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for batch in batches:
            if not len(batch):
                continue
            digests: list[str | None] = []
            denorm: list[bool | None] = []
            for t in batch[text_col]:
                if t is None:
                    digests.append(None)
                    denorm.append(None)
                    continue
                n = unicodedata.normalize(form, t)
                digests.append(hashlib.md5(n.encode("utf-8")).hexdigest())
                denorm.append(n != t)
            yield pd.DataFrame(
                {
                    id_col: batch[id_col],
                    "digest": digests,
                    "denorm": denorm,
                }
            )

    parts = parallelize_compute(df.select(id_col, text_col)).mapInPandas(
        run, schema=f"{id_col} bigint, digest string, denorm boolean"
    )
    return parts.groupBy("digest").agg(
        F.count(F.lit(1)).alias("doc_count"),
        F.min(id_col).alias("keep_id"),
        F.sum(F.col("denorm").cast("long")).alias("n_denorm"),
    )
