"""Write-layout operators: multi-dimensional (z-order) clustering for
data skipping, and bucketed tables for exchange-free joins.

Beyond-reference surface: the clustering layout makes parquet min/max
pruning effective for multi-column predicates, and the bucketed layout
pays a repeated join's shuffle once, at write time.

Scale notes:
* z-order: a sort on one interleaved integer — one range-shuffle, same
  cost as any global sort. After the write, every file's (col_a, col_b)
  min/max envelope is tight on BOTH columns, so a scan filtered on either
  column (or both) prunes most files from the footer stats alone. A plain
  sort on col_a gives perfect pruning on col_a and none on col_b.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zvalue(cols: list[Column | str], bits: int = 16) -> Column:
    """Interleave the low ``bits`` bits of 2+ non-negative integer columns
    into one z-order (Morton) key. Column i contributes its bit b at
    output position b·n + i, so close z-values are close in EVERY input
    dimension — the property that makes per-file min/max envelopes tight
    after a sort.

    Inputs are clamped to [0, 2^bits). Callers with non-integer or wide-
    range columns should pre-bucket (e.g. epoch→hour, value→percentile
    rank) — the z-key only needs ORDER, not exact values. bits·n must fit
    in 63 (e.g. 2 cols × 16 bits → 32-bit keys).
    """
    n = len(cols)
    if n < 2:
        raise ValueError("zvalue needs at least 2 columns")
    if bits * n > 63:
        raise ValueError(f"bits ({bits}) × columns ({n}) must be ≤ 63")
    mask = (1 << bits) - 1
    z = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        cc = (F.col(c) if isinstance(c, str) else c).cast("long")
        clamped = F.least(F.greatest(cc, F.lit(0)), F.lit(mask))
        for b in range(bits):
            z = z + F.shiftleft(
                F.shiftright(clamped, b).bitwiseAND(F.lit(1)), b * n + i
            )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 16,
    num_files: int | None = None,
) -> None:
    """Write parquet clustered by the z-order of ``cols``: range-partition
    on the z-key (balanced files even under skew — range boundaries come
    from a sample), sort within partitions, drop the key. One shuffle."""
    z = zvalue(cols, bits=bits).alias("__z")
    with_z = df.withColumn("__z", z)
    parts = (
        with_z.repartitionByRange(num_files, "__z")
        if num_files
        else with_z.repartitionByRange("__z")
    )
    parts.sortWithinPartitions("__z").drop("__z").write.mode("overwrite").parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort: bool = True,
) -> None:
    """Persist ``df`` as an EXTERNAL bucketed (+sorted) table.

    Bucketing is THE layout lever for repeated big joins/aggregations on
    a stable key at 100 TB: two tables bucketed by the same key into the
    same bucket count join with ZERO exchanges (and zero sorts when
    ``sort=True``) — the shuffle is paid once at write time instead of
    on every query. On a 1000-executor cluster this turns the nightly
    fact⋈dim pipeline from a full-network shuffle into a local merge.

    Uses ``bucketBy(...).option("path", ...)`` + ``saveAsTable`` (Spark
    only honors bucket metadata through the catalog; plain
    ``.parquet()`` writes would lose it). Overwrites any existing table
    of the same name.

    Exchange elimination is automatic for same-bucketing joins; SORT
    elimination additionally requires one file per bucket (this writer
    guarantees it) AND the scan-ordering conf
    ``spark.sql.legacy.bucketedTableScan.outputOrdering=true`` (off by
    default since 3.0, SPARK-19256) — set it on queries that join big
    sorted-bucketed tables.
    """
    # one FILE per bucket: repartition by the same Murmur3 hash bucketBy
    # uses, so each task holds exactly one bucket's rows — Spark only
    # trusts sortBy metadata (and skips the merge-join sort) when a
    # bucket is a single file
    w = (
        df.repartition(n_buckets, F.col(bucket_col))
        .write.mode("overwrite")
        .bucketBy(n_buckets, bucket_col)
    )
    if sort:
        w = w.sortBy(bucket_col)
    w.option("path", path).format("parquet").saveAsTable(table)


def drop_bucketed(spark, table: str) -> None:
    """Drop the catalog entry of an external bucketed table (files at
    ``path`` are left for the caller's tempdir cleanup)."""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
