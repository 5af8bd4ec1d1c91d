"""Change-data-capture merge operators: upsert snapshots and SCD2 history.

A 100 TB corpus is not rebuilt from scratch every day — it is maintained
by applying change batches (inserts / updates / deletes keyed by a
primary key) against the previous snapshot, and by keeping a queryable
history of what each key looked like when (the warehouse "slowly
changing dimension type 2" pattern). These are the two operators every
incremental ingestion pipeline needs and Spark has no built-in for
(Delta/Iceberg MERGE INTO provide them as table services; this module is
the engine-level equivalent over plain DataFrames).

Scale posture — the whole point of the design:

* :func:`upsert_merge` NEVER windows or sorts the base snapshot. The
  change batch (typically ≪ base) is reduced to one winner per key with
  a per-key window over the CHANGES ONLY, then applied with a single
  equi-join keyed on the primary key. At 100 TB the base crosses the
  shuffle once (or zero times if it is already bucketed/partitioned by
  the key — Spark reuses the layout), and a small change batch can be
  broadcast (``broadcast_changes=True``) so the base never shuffles at
  all.
* :func:`scd2_intervals` windows per key over the change LOG, not the
  snapshot; partitions are bounded by a key's history length (tens of
  rows), so the work is embarrassingly parallel regardless of corpus
  size.

No counterpart in the reference (hfsa is read-only over one fsimage);
this is beyond-reference capability for incremental corpus maintenance,
same family as ``incremental_dedup`` (operators/dedup.py).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _is_orderable(dtype) -> bool:
    """Whether Spark can ORDER BY a value of this type (struct-max /
    sort keys). MapType is the one unorderable family; arrays and
    structs are orderable iff their element/field types are."""
    if isinstance(dtype, T.MapType):
        return False
    if isinstance(dtype, T.ArrayType):
        return _is_orderable(dtype.elementType)
    if isinstance(dtype, T.StructType):
        return all(_is_orderable(f.dataType) for f in dtype.fields)
    return True


def _latest_per_key(
    changes: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    seq_col: str | None,
    skew_reduce: bool = False,
) -> DataFrame:
    """One winning row per key: max ``ts_col``, ties broken by
    ``seq_col`` (mandatory for determinism when a key can receive two
    changes with the same timestamp).

    Default plan: a per-key window — fine whenever no single key's
    change count dwarfs a partition. ``skew_reduce=True`` switches to a
    map-combinable semi-reduce for DEGENERATE batches (one key
    receiving ~10^8 changes — a hot entity under a repeated-update
    storm): ``groupBy(key).agg(max(struct(ts, seq, payload…)))``.
    ``row_number`` has no partial aggregation, so the window route
    ships the whole storm into ONE task's sort; the struct-max
    aggregate collapses each input partition to one candidate per key
    map-side — the shuffle carries ≤ (#map partitions) rows per key
    and every sort is partition-local (probe: PERFORMANCE.md "Round-8:
    the degenerate-skew escape hatch"). No salt is needed
    precisely because of that partial phase. Same winner as the window
    whenever (ts, seq) is unique per key (the module's determinism
    contract); on violated contracts the struct max breaks orderable-
    payload ties by payload comparison where the window picks
    arbitrarily. Non-ORDERABLE payload columns (MapType anywhere in
    the type — fine on the window route, which only sorts ts/seq)
    cannot ride inside the comparison struct: they are paired to the
    winner with a (ts, seq)-keyed ``max_by`` instead, equally
    map-combinable; on a violated contract their tied pick is
    arbitrary, same as the window route."""
    if skew_reduce:
        order_cols = [ts_col] + ([seq_col] if seq_col is not None else [])
        other = [
            c for c in changes.columns
            if c not in key_cols and c not in order_cols
        ]
        by_type = {f.name: f.dataType for f in changes.schema.fields}
        ordered = [c for c in other if _is_orderable(by_type[c])]
        unordered = [c for c in other if not _is_orderable(by_type[c])]
        winner = F.struct(*[F.col(c) for c in order_cols + ordered])
        aggs = [F.max(winner).alias("__w")] + [
            F.max_by(
                F.col(c), F.struct(*[F.col(o) for o in order_cols])
            ).alias(c)
            for c in unordered
        ]
        reduced = changes.groupBy(*key_cols).agg(*aggs)
        return reduced.select(
            *key_cols,
            *[F.col(f"__w.{c}").alias(c) for c in order_cols + ordered],
            *unordered,
        ).select(*changes.columns)
    order = [F.col(ts_col).desc()]
    if seq_col is not None:
        order.append(F.col(seq_col).desc())
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _known_ops(changes: DataFrame, op_col: str) -> DataFrame:
    """Contract: ``op_col`` must be 'I' / 'U' / 'D'. Rows with any other
    value (incl. NULL) are ignored IDENTICALLY on every apply path —
    without this, the full-outer and broadcast paths would diverge on
    null-op inserts (one emits a phantom all-null row, one drops it)."""
    return changes.filter(F.col(op_col).isin("I", "U", "D"))


def upsert_merge(
    base: DataFrame,
    changes: DataFrame,
    key_cols: Sequence[str],
    ts_col: str = "ts",
    op_col: str = "op",
    seq_col: str | None = None,
    broadcast_changes: bool = False,
    null_safe_keys: bool = True,
    skew_reduce: bool = False,
    evolve_schema: bool = False,
) -> DataFrame:
    """Apply a change batch to a snapshot; return the next snapshot.

    ``changes`` carries the base's columns plus ``op_col`` (``'I'`` /
    ``'U'`` / ``'D'`` — I and U are treated identically: last writer
    wins; rows with any other op value, including NULL, are ignored on
    every path) and ``ts_col`` (change time; later beats earlier). A key's
    winning change replaces (or, for ``'D'``, removes) the base row;
    keys untouched by the batch pass through unchanged; winning inserts
    for unseen keys are added.

    The base participates ONLY in one full-outer equi-join on
    ``key_cols`` — no window, no sort, no second shuffle. Set
    ``broadcast_changes=True`` when the reduced batch fits in memory so
    the base PAYLOAD never shuffles (full-outer can't broadcast, so the
    apply becomes a broadcast left join + insert union; the inserts'
    anti-join shuffles only the base's pruned 8-byte key projection).

    ``null_safe_keys`` (default True) matches NULL keys to each other.
    Spark plans a null-safe equi-join on ``(coalesce(key), isnull(key))``,
    which CANNOT reuse an existing hash layout — a base stored bucketed
    by its pk re-shuffles. When the pk is non-null (the normal contract),
    pass ``null_safe_keys=False``: plain ``==`` keys let the join consume
    the bucketed/pre-partitioned base with zero base-side exchange
    (pinned in tests/test_bucketed_layout.py).

    ``skew_reduce=True`` (opt-in) replaces the change-batch window with
    a map-combinable struct-max semi-reduce for degenerately skewed
    batches — one key receiving a meaningful fraction of a huge batch's
    rows (~10^8 updates of a single hot entity), where the per-key
    window would sort the whole storm in one task. See
    :func:`_latest_per_key`; the winner is identical whenever
    (ts, seq) is unique per key. Property-tested against the window
    path in tests/test_properties_cdc.py; probe rows in PERFORMANCE.md
    "Round-8: the degenerate-skew escape hatch".

    ``evolve_schema=True`` (opt-in) accepts ADDITIVE schema drift
    between snapshot and feed — the Delta/Iceberg ``mergeSchema``
    semantics at engine level, decided STRUCTURALLY from the two
    schemas, never from NULL values:

    * a change column absent from the base is appended to the output
      schema (typed from the feed); rows the batch didn't touch carry
      NULL there;
    * a base column absent from the feed keeps its base value on
      updated rows (a feed that stopped sending a column must not
      NULL it out) and is NULL on fresh inserts.

    With the flag off (default) the current strict contract holds:
    changes must carry every base column.
    """
    key_cols = list(key_cols)
    meta_cols = {op_col, ts_col} | ({seq_col} if seq_col else set())
    payload_cols = [c for c in base.columns if c not in key_cols]
    if evolve_schema:
        change_payload = [
            c for c in changes.columns
            if c not in key_cols and c not in meta_cols
        ]
        new_cols = [c for c in change_payload if c not in payload_cols]
        base_only = set(payload_cols) - set(change_payload)
        out_payload = payload_cols + new_cols
        change_cols = [c for c in out_payload if c not in base_only]
        base_types = {f.name: f.dataType for f in base.schema.fields}
    else:
        # strict contract: a batch MISSING base columns fails HERE with
        # the drift named, not three operators deeper with an
        # unresolved-column AnalysisException (found by the r10
        # vacuum-interleaving property test: an un-evolved batch
        # arriving after a schema-evolving one). EXTRA change columns
        # stay silently ignored — the pre-r9 pinned contract (CDC feeds
        # legitimately carry source metadata the snapshot doesn't
        # store; tests/test_round9_ops.py pins it).
        missing = [c for c in payload_cols if c not in changes.columns]
        if missing:
            raise ValueError(
                "upsert_merge: changes batch is missing snapshot columns"
                f" {missing}; pass evolve_schema=True to accept additive"
                " drift (updates then keep base values for them)"
            )
        new_cols, base_only = [], set()
        out_payload = change_cols = payload_cols
        base_types = {}
    latest = _latest_per_key(
        _known_ops(changes, op_col), key_cols, ts_col, seq_col,
        skew_reduce=skew_reduce,
    ).select(*key_cols, op_col, *change_cols)

    b = base.alias("b")
    c = latest.alias("c")
    if null_safe_keys:
        on = [F.col(f"b.{k}").eqNullSafe(F.col(f"c.{k}")) for k in key_cols]
    else:
        on = [F.col(f"b.{k}") == F.col(f"c.{k}") for k in key_cols]

    def _merged_val(p, has_change):
        # base-only: the feed cannot speak to this column — keep base
        # (NULL for pure inserts, which have no base row). new_cols:
        # only the feed can — NULL for untouched base rows.
        if p in base_only:
            return F.col(f"b.{p}").alias(p)
        if p in new_cols:
            return F.when(has_change, F.col(f"c.{p}")).alias(p)
        return (
            F.when(has_change, F.col(f"c.{p}"))
            .otherwise(F.col(f"b.{p}"))
            .alias(p)
        )

    if broadcast_changes:
        c = F.broadcast(c)
        matched = F.col(f"c.{op_col}").isNotNull()
        # left join: kept/updated/deleted base rows without shuffling base
        survivors = (
            b.join(c, on, "left")
            .filter(F.coalesce(F.col(f"c.{op_col}"), F.lit("")) != "D")
            .select(
                *[F.col(f"b.{k}").alias(k) for k in key_cols],
                *[_merged_val(p, matched) for p in out_payload],
            )
        )
        # winning inserts for keys absent from base: anti-join against the
        # base's KEY PROJECTION only — the pruned scan shuffles 8-byte
        # keys, never the base payload
        inserts = (
            latest.filter(F.col(op_col) != "D")
            .alias("c")
            .join(base.select(*key_cols).alias("b"), on, "left_anti")
            .select(
                *key_cols,
                *[
                    F.lit(None).cast(base_types[p]).alias(p)
                    if p in base_only else F.col(p)
                    for p in out_payload
                ],
            )
        )
        return survivors.unionByName(inserts)

    joined = b.join(c, on, "full_outer")
    has_change = F.col(f"c.{op_col}").isNotNull()
    return joined.filter(~has_change | (F.col(f"c.{op_col}") != "D")).select(
        *[
            F.coalesce(F.col(f"b.{k}"), F.col(f"c.{k}")).alias(k)
            for k in key_cols
        ],
        *[_merged_val(p, has_change) for p in out_payload],
    )


def scd2_intervals(
    changes: DataFrame,
    key_cols: Sequence[str],
    ts_col: str = "ts",
    op_col: str | None = None,
    seq_col: str | None = None,
) -> DataFrame:
    """Change log → SCD Type 2 validity intervals.

    Per key, ordered by ``ts_col`` (ties by ``seq_col``), each change
    opens an interval ``[valid_from = ts, valid_to = next change's ts)``;
    the last interval has ``valid_to = NULL`` and ``is_current = true``.
    When ``op_col`` is given, a ``'D'`` change closes the previous
    interval (its ts becomes that row's ``valid_to`` via the lead) but
    emits no interval of its own, so a deleted key has no current row.

    The window partitions by key over the change LOG — partition size is
    a key's history length, not the corpus, so this parallelizes
    perfectly at any scale.
    """
    key_cols = list(key_cols)
    order = [F.col(ts_col).asc()]
    if seq_col is not None:
        order.append(F.col(seq_col).asc())
    w = Window.partitionBy(*key_cols).orderBy(*order)
    out = changes.withColumn("valid_from", F.col(ts_col)).withColumn(
        "valid_to", F.lead(ts_col).over(w)
    )
    if op_col is not None:
        out = out.filter(F.col(op_col) != "D")
    return out.withColumn("is_current", F.col("valid_to").isNull()).drop(ts_col)


def point_in_time_join(
    facts: DataFrame,
    intervals: DataFrame,
    key_cols: Sequence[str],
    fact_ts_col: str = "ts",
    valid_from_col: str = "valid_from",
    valid_to_col: str = "valid_to",
    null_safe_keys: bool = True,
) -> DataFrame:
    """Feature-store point-in-time join: each fact row picks up the
    dimension state that was valid AT its own timestamp — the
    leakage-prevention primitive for training-data assembly (joining
    "current" state would leak future information into past examples).

    ``intervals`` is :func:`scd2_intervals` output (per key,
    non-overlapping ``[valid_from, valid_to)`` with NULL ``valid_to`` =
    open); a fact matches at most one interval, and facts before the
    key's first version (or for unknown keys) keep NULL state (left
    join) so the caller can audit coverage. The intervals' non-key
    state columns must not collide with fact column names (the output
    would carry ambiguous duplicates); collisions raise — rename on the
    intervals side first.

    Plan shape: ONE equi-join keyed on ``key_cols`` with the range
    predicate applied as a join residual — a hash/sort-merge join, never
    a cartesian; per-key interval counts are history lengths, so the
    residual scan per probe row is tiny at any corpus size.

    ``null_safe_keys`` mirrors :func:`upsert_merge`: the default matches
    NULL keys to each other, but null-safe equality plans on
    ``(coalesce(key), isnull(key))`` and cannot reuse a hash layout — a
    feature store keeping its interval table BUCKETED by key re-shuffles
    it on every PIT join. When the key is non-null (the normal feature
    store contract), pass ``null_safe_keys=False``: plain ``==`` keys
    consume the bucketed interval table with zero interval-side exchange
    (pinned in tests/test_bucketed_layout.py).
    """
    key_cols = list(key_cols)
    clashes = sorted(
        (set(intervals.columns) - set(key_cols)) & set(facts.columns)
    )
    if clashes:
        raise ValueError(
            "point_in_time_join: interval state columns collide with fact"
            f" columns {clashes}; rename them on the intervals side"
            " (e.g. state_<col>) before joining"
        )
    f = facts.alias("f")
    iv = intervals.alias("i")
    if null_safe_keys:
        cond = [F.col(f"f.{k}").eqNullSafe(F.col(f"i.{k}")) for k in key_cols]
    else:
        cond = [F.col(f"f.{k}") == F.col(f"i.{k}") for k in key_cols]
    cond.append(F.col(f"f.{fact_ts_col}") >= F.col(f"i.{valid_from_col}"))
    cond.append(
        F.col(f"i.{valid_to_col}").isNull()
        | (F.col(f"f.{fact_ts_col}") < F.col(f"i.{valid_to_col}"))
    )
    state_cols = [
        c for c in intervals.columns if c not in key_cols
    ]
    return f.join(iv, cond, "left").select(
        *[F.col(f"f.{c}").alias(c) for c in facts.columns],
        *[F.col(f"i.{c}").alias(c) for c in state_cols],
    )
