"""Connected-components dedup grouping tests: chains, stars, singletons,
and convergence beyond one propagation round."""

from __future__ import annotations

from hfsa_spark.operators.dedup import connected_components


def _run(spark, n_nodes, edges):
    nodes = spark.createDataFrame([(i,) for i in range(n_nodes)], "id bigint")
    pairs = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    out = connected_components(nodes, pairs)
    return {r["id"]: r["group_id"] for r in out.collect()}


def test_chain_converges_to_min(spark):
    # 0-1-2-3-4 chain: all should label 0 (needs multiple rounds)
    labels = _run(spark, 6, [(0, 1), (1, 2), (2, 3), (3, 4)])
    assert labels == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 5: 5}


def test_star_and_singletons(spark):
    labels = _run(spark, 7, [(3, 5), (3, 6), (1, 2)])
    assert labels[5] == 3 and labels[6] == 3 and labels[3] == 3
    assert labels[1] == 1 and labels[2] == 1
    assert labels[0] == 0 and labels[4] == 4


def test_two_components_merge_via_bridge(spark):
    # components {0,1} and {4,5} bridge through (1,4)
    labels = _run(spark, 6, [(0, 1), (4, 5), (1, 4)])
    assert labels[0] == labels[1] == labels[4] == labels[5] == 0


def test_simhash_neardup_pairs_matches_bruteforce(spark):
    from hfsa_spark.operators.dedup import (
        hamming_distance,
        simhash,
        simhash_neardup_pairs,
    )
    from pyspark.sql import functions as F

    base = "the quick brown fox jumps over the lazy dog " * 3
    rows = [(i, base + f"tail{i % 4}") for i in range(40)] + [
        (100 + i, f"completely different text number {i} with unique words {i*7}")
        for i in range(10)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    got = simhash_neardup_pairs(df, "doc_id", "text", bits=16, max_hamming=3)
    got_pairs = {(r["id_a"], r["id_b"]) for r in got.collect()}

    sigs = simhash(df, "doc_id", "text", bits=16)
    a = sigs.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sa"))
    b = sigs.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sb"))
    brute = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(hamming_distance("sa", "sb") <= 3)
    )
    want = {(r["id_a"], r["id_b"]) for r in brute.collect()}
    assert got_pairs == want and len(want) > 0


def test_simhash_neardup_rejects_insufficient_bands(spark):
    import pytest
    from hfsa_spark.operators.dedup import simhash_neardup_pairs

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="bands"):
        simhash_neardup_pairs(df, "doc_id", "text", max_hamming=3, bands=3)


def test_incremental_dedup(spark):
    from hfsa_spark.operators.dedup import exact_dedup_groups, incremental_dedup

    corpus = spark.createDataFrame(
        [(1, "the cat sat"), (2, "old news text")], "doc_id bigint, text string"
    )
    index = exact_dedup_groups(corpus, "doc_id", "text").select("digest")
    batch = spark.createDataFrame(
        [
            (10, "THE  cat sat"),      # dup of indexed doc 1 (normalization) -> dropped
            (11, "fresh doc alpha"),   # new -> kept
            (12, "fresh doc alpha"),   # in-batch dup of 11 -> dropped
            (13, "fresh doc beta"),    # new -> kept
        ],
        "doc_id bigint, text string",
    )
    kept = sorted(
        r["doc_id"] for r in incremental_dedup(batch, index, "doc_id", "text").collect()
    )
    assert kept == [11, 13]


def test_incremental_dedup_empty_index(spark):
    from hfsa_spark.operators.dedup import incremental_dedup

    batch = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "doc_id bigint, text string"
    )
    index = spark.createDataFrame([], "digest string")
    kept = sorted(
        r["doc_id"] for r in incremental_dedup(batch, index, "doc_id", "text").collect()
    )
    assert kept == [1, 3]


def test_canonical_keeper(spark):
    from hfsa_spark.operators.dedup import canonical_keeper

    rows = [
        (1, "Hello  World", 5),   # same normalized content as 2 and 3
        (2, "hello world", 9),    # highest quality → the keeper
        (3, "HELLO WORLD ", 9),   # quality tie → lower id wins (2)
        (4, "unique", 1),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, q bigint")
    got = {r["doc_id"]: r for r in canonical_keeper(df, "doc_id", "text", "q").collect()}
    assert [got[i]["keeper_id"] for i in (1, 2, 3)] == [2, 2, 2]
    assert [got[i]["keep"] for i in (1, 2, 3, 4)] == [False, True, False, True]
    assert got[1]["digest"] == got[3]["digest"] != got[4]["digest"]


def test_corpus_diff(spark):
    from hfsa_spark.operators.dedup import corpus_diff

    old = spark.createDataFrame(
        [(1, "same"), (2, "will change"), (3, "gone"),
         (4, "Whitespace   Only")],
        "doc_id bigint, text string",
    )
    new = spark.createDataFrame(
        [(1, "same"), (2, "changed!"), (5, "brand new"),
         (4, "whitespace only")],  # normalizes identically → unchanged
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r["status"] for r in corpus_diff(old, new).collect()}
    assert got == {1: "unchanged", 2: "modified", 3: "removed",
                   4: "unchanged", 5: "added"}


def test_chat_dedup_groups(spark):
    from hfsa_spark.operators.dedup import chat_dedup_groups, normalize_chat_text
    from pyspark.sql import functions as F

    rows = [
        (1, "User: hello world Assistant: hi there"),
        (2, "<|user|> Hello   WORLD <|assistant|> hi there"),
        (3, "SYSTEM: be nice Human: hello world AI: hi there"),
        (4, "User: different convo Assistant: sure"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["keep_id"]: r for r in chat_dedup_groups(df, "doc_id", "text").collect()}
    # 1 and 2 are the same conversation; 3 adds a system turn (different)
    assert got[1]["doc_count"] == 2
    assert got[3]["doc_count"] == 1 and got[4]["doc_count"] == 1
    norm = df.select(normalize_chat_text("text").alias("n")).collect()
    assert norm[0]["n"] == norm[1]["n"] == "hello world hi there"
