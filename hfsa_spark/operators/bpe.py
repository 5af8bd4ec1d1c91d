"""Distributed BPE (byte-pair encoding) subword tokenizer training —
Sennrich et al. 2016, "Neural Machine Translation of Rare Words with
Subword Units" (public paper), re-expressed Spark-first.

The classic observation that makes BPE tractable at corpus scale: after
the word histogram, training never touches the corpus again — it
iterates over the VOCABULARY (distinct words × counts). The design here
keeps every step declarative:

* **word histogram** — one corpus scan, map-combinable groupBy; the only
  pass whose cost is proportional to the 100 TB input.
* **pair counts per iteration** — explode adjacent symbol pairs weighted
  by word count, groupBy(pair).sum — map-side partial agg, shuffle =
  distinct pairs (tiny).
* **best pair** — TakeOrdered(1) with the deterministic (count desc,
  pair asc) tie-break; only this one row reaches the driver.
* **merge application** — a JVM-side ``aggregate`` fold over each word's
  symbol array (greedy left-to-right, non-overlapping — the reference
  semantics), no Python UDF; ``localCheckpoint`` per iteration keeps the
  lineage flat so N merges cost N short jobs, not O(N²) recompute.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hfsa_spark.operators.text import tokens

EOW = "</w>"


def word_vocab(df: DataFrame, text_col: str = "text", eow: str = EOW) -> DataFrame:
    """(syms array<string>, cnt) — the word histogram with each word
    exploded into characters plus the end-of-word marker. The single
    corpus-proportional pass."""
    return (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.concat(F.split("w", ""), F.array(F.lit(eow))).alias("syms"),
            "cnt",
        )
    )


def bpe_pair_counts(vocab: DataFrame) -> DataFrame:
    """(left, right, cnt) — adjacent-symbol pair frequencies over the
    vocabulary, weighted by word count. Map-combinable; shuffle width =
    number of DISTINCT pairs."""
    # guard fully-merged single-symbol words: sequence(1, 0) would DESCEND
    pair_structs = F.when(
        F.size("syms") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("syms") - 1),
            lambda i: F.struct(
                F.element_at("syms", i).alias("left"),
                F.element_at("syms", i.cast("int") + 1).alias("right"),
            ),
        ),
    ).otherwise(F.expr("cast(array() as array<struct<left:string,right:string>>)"))
    pairs = vocab.select(F.explode(pair_structs).alias("p"), "cnt")
    return (
        pairs.groupBy(F.col("p.left").alias("left"), F.col("p.right").alias("right"))
        .agg(F.sum("cnt").alias("cnt"))
    )


def _apply_merge(vocab: DataFrame, left: str, right: str) -> DataFrame:
    """Fold the merge (left, right) → left+right through every word's
    symbol array — greedy left-to-right, non-overlapping (after a merge
    the new symbol is left+right, which can never re-match ``left``, so
    the fold is exactly the reference semantics). Pure JVM expression.

    NOTE (r12, measured): shipping the pair as a broadcast one-row table
    (column refs instead of literals, to stabilise the codegen source
    across iterations) was TRIED and is ~70% slower — the fold falls off
    the codegen path and the per-iteration broadcast adds jobs. Literals
    stay deliberately."""
    merged = left + right
    folded = F.aggregate(
        "syms",
        F.expr("cast(array() as array<string>)"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (s == F.lit(right)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))),
        ).otherwise(F.concat(acc, F.array(s))),
    )
    return vocab.select(folded.alias("syms"), "cnt")


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 50,
    eow: str = EOW,
) -> tuple[list[tuple[str, str]], DataFrame]:
    """Learn ``num_merges`` BPE merges. Returns (ordered merge list, the
    final symbolized vocabulary DataFrame). Stops early when no pair
    occurs at least twice (merging singletons is meaningless)."""
    # lazy checkpoints: each round's vocab materializes as part of the
    # SAME job that finds its best pair (one job per merge instead of an
    # eager-checkpoint job + a take job), while later rounds still read
    # the stored partitions instead of re-folding the lineage
    vocab = word_vocab(df, text_col, eow).localCheckpoint(eager=False)
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        top = (
            bpe_pair_counts(vocab)
            .orderBy(F.col("cnt").desc(), F.col("left").asc(), F.col("right").asc())
            .take(1)
        )
        if not top or top[0]["cnt"] < 2:
            break
        left, right = top[0]["left"], top[0]["right"]
        merges.append((left, right))
        vocab = _apply_merge(vocab, left, right).localCheckpoint(eager=False)
    return merges, vocab


def bpe_train_trace(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 50,
    eow: str = EOW,
) -> list[tuple[str, str, int]]:
    """:func:`bpe_train` with the training TRACE: the ordered list of
    (left, right, count-at-selection) — the count each winning pair had
    when it was merged. The trace is what makes the training loop
    value-auditable: given the corpus, every (pair, count) step is
    deterministic, so an independent engine can replay and compare the
    full trace (the q107 oracle does exactly that in DuckDB)."""
    # lazy checkpoints — see bpe_train: one job per merge, not two
    vocab = word_vocab(df, text_col, eow).localCheckpoint(eager=False)
    trace: list[tuple[str, str, int]] = []
    for _ in range(num_merges):
        top = (
            bpe_pair_counts(vocab)
            .orderBy(F.col("cnt").desc(), F.col("left").asc(), F.col("right").asc())
            .take(1)
        )
        if not top or top[0]["cnt"] < 2:
            break
        left, right, cnt = top[0]["left"], top[0]["right"], int(top[0]["cnt"])
        trace.append((left, right, cnt))
        vocab = _apply_merge(vocab, left, right).localCheckpoint(eager=False)
    return trace
