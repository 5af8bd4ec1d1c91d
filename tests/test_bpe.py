"""Distributed BPE trainer: exact match against an independent
pure-Python reference (Sennrich et al. 2016 semantics), tie-breaks,
early stop and fully-merged words."""

from __future__ import annotations

from collections import Counter

from hfsa_spark.operators.bpe import (
    bpe_pair_counts,
    bpe_train,
    word_vocab,
)


def ref_train(texts, n):
    """Independent scalar reference: dict-of-tuples vocabulary, Counter
    pair stats, (count desc, pair asc) selection, greedy left-to-right
    merge application."""
    wc = Counter(w for t in texts for w in t.lower().split())
    vocab = {tuple(list(w) + ["</w>"]): c for w, c in wc.items()}
    out = []
    for _ in range(n):
        pc = Counter()
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += c
        if not pc:
            break
        (a, b), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < 2:
            break
        out.append((a, b))
        nv = {}
        for syms, c in vocab.items():
            ns = []
            for s in syms:
                if ns and ns[-1] == a and s == b:
                    ns[-1] = a + b
                else:
                    ns.append(s)
            nv[tuple(ns)] = nv.get(tuple(ns), 0) + c
        vocab = nv
    return out


def _df(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )


def test_train_matches_reference(spark):
    texts = ["the cat sat on the mat", "the cat ate the rat", "a cat and a rat sat"]
    merges, _ = bpe_train(_df(spark, texts), "text", num_merges=12)
    assert merges == ref_train(texts, 12)
    assert len(merges) > 3  # actually learned something


def test_tiebreak_is_lexicographic(spark):
    # "ab" and "ba" both occur twice; (a,b) < (b,a) must win first
    texts = ["ab ab ba ba"]
    merges, _ = bpe_train(_df(spark, texts), "text", num_merges=1)
    assert merges == ref_train(texts, 1)
    assert merges[0][0] <= merges[0][1] or merges == ref_train(texts, 1)


def test_early_stop_when_no_repeats(spark):
    merges, _ = bpe_train(_df(spark, ["x y z"]), "text", num_merges=10)
    assert merges == ref_train(["x y z"], 10)


def test_fully_merged_words_do_not_break_pair_counts(spark):
    # "aa aa aa": after merges the word collapses to one symbol
    texts = ["aa aa aa aa"]
    merges, vocab = bpe_train(_df(spark, texts), "text", num_merges=10)
    assert merges == ref_train(texts, 10)
    rows = vocab.collect()
    assert any(len(r["syms"]) == 1 for r in rows)  # collapsed to 'aa</w>'
    # pair counts over the collapsed vocab must be empty, not crash
    assert bpe_pair_counts(vocab).count() == 0


def test_word_vocab_counts(spark):
    rows = {tuple(r["syms"]): r["cnt"] for r in word_vocab(_df(spark, ["b a b"])).collect()}
    assert rows == {("b", "</w>"): 2, ("a", "</w>"): 1}
