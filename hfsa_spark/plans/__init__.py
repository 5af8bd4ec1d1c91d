"""Physical-plan introspection helpers.

The engine's performance contract is that Catalyst produces the plans we
designed for (SURVEY.md §4): filters pushed into the parquet scan, columns
pruned, small dims broadcast, partial aggregation before every exchange,
partition pruning on ``top_dir``. These helpers turn those expectations
into assertions (used by tests/test_plans.py and ad-hoc tuning).
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame

# Spark lists file-source partitions with a parallel job past this many
# directories; driver_listing() raises it to keep the listing on the driver
DRIVER_LISTING_THRESHOLD = 16384


@contextmanager
def session_conf(spark, conf: dict[str, str]):
    """Context manager: set the session confs in ``conf`` inside the block
    and put each back on exit, to its prior value or unset if it had none.

    Each block snapshots what it found, so nested blocks unwind in order
    without a counter. The confs are SESSION-wide: anything planned while
    the block is held sees them, so hold the block only around work that
    needs it (a gate holds it until its stream has stopped)."""
    prior = {key: spark.conf.get(key, None) for key in conf}
    for key, value in conf.items():
        spark.conf.set(key, value)
    try:
        yield
    finally:
        for key, value in prior.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)


def parallelize_compute(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Ensure a compute-bound DataFrame has at least ``min_partitions``
    (default: the session's ``defaultParallelism``) before heavy per-row
    expression work (seeded hashes, higher-order vector folds, regex
    profiling).

    Why conditional: at 100 TB a scan already yields thousands of splits and
    a forced repartition would be a catastrophic full shuffle — so this is a
    NO-OP whenever the scan is already parallel enough. The case it fixes is
    the opposite end: a small/single-row-group parquet file (parquet splits
    only at row-group boundaries) scans as ONE task, serializing all
    downstream CPU work onto one core while the rest of the cluster idles.
    The round-robin shuffle of the (tiny) input is orders of magnitude
    cheaper than the single-core compute it unblocks.
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def driver_listing(spark):
    """Context manager: list file-source partitions on the DRIVER while
    inside the block (a :func:`session_conf` on
    ``parallelPartitionDiscovery.threshold``).

    Spark launches a parallel listing JOB once a read spans more than 32
    directories; for a driver-local / POSIX index of O(100) partition
    dirs that job costs 3 orders of magnitude more than a sequential
    driver walk (measured on the q210 segmented IVF index: three 80-path
    listing jobs, 1.17 s of a 6.9 s query). ``DRIVER_LISTING_THRESHOLD``
    still falls back to the distributed listing beyond ~16k dirs — the
    object-store regime where the parallel job IS the right call; where
    it pays off sooner (a remote object store), don't use this helper.

    Caveat (ADVICE r12): the conf is SESSION-wide — another query
    planning a file-source read concurrently (e.g. an active streaming
    query's micro-batch planning) would see the raised threshold while
    the block is held, so call sites must run while no stream is active
    (all current ones do).
    """
    return session_conf(
        spark,
        {"spark.sql.sources.parallelPartitionDiscovery.threshold": str(DRIVER_LISTING_THRESHOLD)},
    )


def scan_width(df: DataFrame, target_bytes: int = 32 << 20) -> int:
    """Fan-out width for per-row compute over ``df``, derived from its
    input file BYTES — driver-side metadata only, no job: ~one task per
    ``target_bytes`` of input, capped at the session's
    defaultParallelism.

    This is the scale-adaptive companion to :func:`parallelize_compute`:
    a 30 kB streaming micro-batch gets width 1 (32 near-empty Python
    workers cost more than one matmul), a multi-GB backfill file gets the
    full core count.

    When the input's file list isn't visible (``inputFiles()`` is empty
    inside ``foreachBatch`` — the micro-batch plan is not a file relation
    from the API's view — and for non-local schemes), fall back to the
    plan's OWN partition count: a file-source micro-batch is already
    partitioned ~bytes/maxPartitionBytes by the scan, so "keep the scan's
    width" is the byte-derived answer there too.
    """
    import os
    from urllib.parse import unquote, urlparse

    limit = df.sparkSession.sparkContext.defaultParallelism
    total = 0
    try:
        files = df.inputFiles()
    except Exception:
        # a plan with no file-relation view (py4j-side error) — same case
        # as the empty list below
        files = []
    try:
        for f in files:
            u = urlparse(f)
            if u.scheme not in ("", "file"):
                raise OSError(f)
            total += os.path.getsize(unquote(u.path))
    except (OSError, ValueError):
        # expected: non-local scheme (raised above), a file deleted between
        # listing and stat, or an unparsable URL — fall back to the plan's
        # own width. Anything else propagates (ADVICE r12: a blanket except
        # masked real errors AND a partially-summed total).
        files = []
    if not files:
        return int(min(limit, max(1, df.rdd.getNumPartitions())))
    return int(min(limit, max(1, -(-total // target_bytes))))


def shared(df: DataFrame) -> DataFrame:
    """Persist AND eagerly materialize a multi-consumer intermediate.

    ``persist()`` alone is not enough when the consumers are all
    materialized by one downstream action: AQE submits independent query
    stages CONCURRENTLY (its stage-materialization futures), so every
    consumer's leaf stage starts computing the shared subtree before any
    cache block has landed — the subtree runs once PER consumer (measured
    on the q118 Arrow kernel: 4 executions of a persisted map stage in
    one action). Materializing the cache first turns every consumer into
    an InMemoryTableScan reader at the cost of one extra short job.
    """
    df = df.persist()
    df.count()
    return df


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The explain output as a string (what ``df.explain`` prints)."""
    jdf = df._jdf  # classic (non-Connect) API
    jvm = df.sparkSession._jvm
    explain_mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return jdf.queryExecution().explainString(explain_mode)


def has_pushed_filter(df: DataFrame, fragment: str = "") -> bool:
    """True if the scan reports a PushedFilters entry (optionally one
    containing ``fragment``)."""
    s = explain_str(df)
    for line in s.splitlines():
        if "PushedFilters:" in line and "[]" not in line.replace(" ", ""):
            if fragment in line:
                return True
    return False


def read_schema_columns(df: DataFrame) -> list[str]:
    """Column names the parquet scan actually reads (ReadSchema) — the
    column-pruning check: a 2-column projection must not read 20 columns."""
    cols: list[str] = []
    for line in explain_str(df).splitlines():
        line = line.strip()
        if line.startswith("ReadSchema:"):
            inner = line.split("struct<", 1)[-1].rsplit(">", 1)[0]
            for part in inner.split(","):
                if ":" in part:
                    cols.append(part.split(":")[0].strip())
    return cols


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_str(df, "simple")


def num_exchanges(df: DataFrame) -> int:
    """Shuffle count in the plan (Reused exchanges excluded) — the first
    thing to look at when a query is slower than it should be."""
    plan = explain_str(df, "simple")
    return sum(
        1
        for line in plan.splitlines()
        if "Exchange" in line and "ReusedExchange" not in line and "BroadcastExchange" not in line
    )


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: list[tuple[str, str, str]],
    salt_buckets: int = 16,
):
    """Skew-resistant two-phase aggregation: groupBy(keys + salt) computes
    partials, groupBy(keys) combines them. Use when a handful of hot keys
    would otherwise funnel most of the table through a few reducers — the
    salt fans each hot key out over ``salt_buckets`` reducers in phase 1,
    and phase 2 only merges ``#keys × salt_buckets`` partial rows.

    ``aggs`` is a list of (fn, col, alias) with fn ∈ {sum, count, min, max}
    — the decomposable aggregates (count re-combines as sum). Results are
    EXACT and identical to a plain groupBy for integer/decimal columns
    (double sums can differ in ulps from either path's addition order, same
    as any shuffle). The salt is spark_partition_id() — free, no hash of
    row data; correctness never depends on the salt value.

    AQE's skew-join handling does not cover aggregations, so this is the
    one skew mitigation that stays manual (SURVEY.md §4).
    """
    from pyspark.sql import functions as F

    salt = F.pmod(F.spark_partition_id(), F.lit(salt_buckets)).alias("__salt")
    phase1_exprs = []
    phase2_exprs = []
    for fn, col, alias in aggs:
        if fn == "sum":
            phase1_exprs.append(F.sum(col).alias(alias))
            phase2_exprs.append(F.sum(alias).alias(alias))
        elif fn == "count":
            phase1_exprs.append(F.count(col).alias(alias))
            phase2_exprs.append(F.sum(alias).alias(alias))
        elif fn == "min":
            phase1_exprs.append(F.min(col).alias(alias))
            phase2_exprs.append(F.min(alias).alias(alias))
        elif fn == "max":
            phase1_exprs.append(F.max(col).alias(alias))
            phase2_exprs.append(F.max(alias).alias(alias))
        else:
            raise ValueError(f"non-decomposable aggregate: {fn}")
    agg_cols = list(dict.fromkeys(c for _, c, _ in aggs if c not in keys))
    partial = (
        df.select(*keys, salt, *agg_cols).groupBy(*keys, "__salt").agg(*phase1_exprs)
    )
    return partial.groupBy(*keys).agg(*phase2_exprs)


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    salt_buckets: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant shuffle join: the fact side gets a per-row salt, the
    dim side is replicated ``salt_buckets``× (explode of a literal range),
    and the join keys on (key, salt) — a hot fact key fans out over
    ``salt_buckets`` reducers instead of funneling one.

    For when the dim side is too big to broadcast but small enough to
    replicate S× (the classic mid-size dimension: S× a few GB ≪ one
    reducer receiving half the fact table). AQE's skew-join split covers
    sort-merge joins at runtime; this is the manual form that also works
    under hash joins, bucketed layouts, and static plans. The salt is
    spark_partition_id()-derived — correctness never depends on its value,
    results are identical to a plain join (joined rows meet exactly one
    dim replica).

    Complement of ``salted_agg`` (same trade, join-shaped). Columns: all
    fact columns + all dim columns (the salt is dropped).
    """
    from pyspark.sql import functions as F

    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    fact_s = fact.withColumn(
        "__salt", F.pmod(F.spark_partition_id() + F.crc32(F.col(fact_key).cast("string")), F.lit(salt_buckets)).cast("int")
    )
    dim_s = dim.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    )
    cond = (fact_s[fact_key] == dim_s[dim_key]) & (fact_s["__salt"] == dim_s["__salt"])
    return fact_s.join(dim_s, cond, how).drop(dim_s["__salt"]).drop(fact_s["__salt"])


def skew_audit(
    df: DataFrame,
    key_col: str,
    top_k: int = 10,
) -> DataFrame:
    """Shuffle-key skew diagnostics — run this BEFORE a big groupBy/join
    to decide whether :func:`salted_agg` / :func:`salted_join` / AQE skew
    handling is needed: per-key row counts for the ``top_k`` heaviest
    keys, each with its share of total rows and the skew ratio vs a
    perfectly uniform key (share · n_keys; 1.0 = balanced, 100 = that
    key carries 100 partitions' worth).

    Integer/exactness: counts are exact; ``share_micro`` and
    ``skew_ratio_micro`` are floor-micro integers, reproducible anywhere.

    Scale: one map-side-combinable groupBy on the key (the same shuffle
    the audited operation would do, but carrying ONE count per key per
    partition); totals fold from the per-key aggregate (rows = #keys,
    not #rows); top-k is TakeOrdered, no global sort.
    """
    from pyspark.sql import functions as F

    per = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("n_rows"))
    tot = per.agg(
        F.sum("n_rows").alias("total_rows"),
        F.count(F.lit(1)).alias("n_keys"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            F.col(key_col).alias("key"),
            "n_rows",
            "n_keys",
            F.floor(
                F.col("n_rows").cast("double") * 1000000.0
                / F.col("total_rows").cast("double")
            ).cast("long").alias("share_micro"),
            F.floor(
                F.col("n_rows").cast("double")
                * F.col("n_keys").cast("double")
                * 1000000.0
                / F.col("total_rows").cast("double")
            ).cast("long").alias("skew_ratio_micro"),
        )
        .orderBy(F.desc("n_rows"), F.asc("key"))
        .limit(top_k)
    )


def observe_quality(
    df: DataFrame,
    text_col: str = "text",
    name: str = "quality",
):
    """Attach zero-cost runtime quality counters to a corpus scan — the
    observability hook a production pipeline wires into every stage:
    row count, empty-text count, and total characters are computed BY
    THE ACTION ITSELF (Spark ``observe``: accumulator-style, no extra
    scan, no separate job) and readable from the returned
    ``Observation`` after any action on the returned DataFrame.

    Returns ``(df_with_observation, observation)``;
    ``observation.get`` → {'n_rows', 'n_empty', 'n_chars'}. Works the
    same under batch and foreachBatch micro-batches (use a fresh
    observation per batch).
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation(name)
    out = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            (F.length(F.trim(F.col(text_col))) == 0).cast("long")
        ).alias("n_empty"),
        F.sum(F.length(F.col(text_col)).cast("long")).alias("n_chars"),
    )
    return out, obs
