"""Continuous CDC apply: a stream of change batches maintains a snapshot.

The batch building block is operators/cdc.py::upsert_merge (last-writer-
wins apply of one change batch). This module runs it *continuously* via
``foreachBatch``: each micro-batch of changes is merged against the
newest committed snapshot version and the result is committed as the
next version — the loop behind every warehouse table fed by a CDC feed
(Debezium/binlog-style I/U/D records).

Why ``foreachBatch`` and not a stateful operator: the snapshot must
outlive the streaming query (it IS the table, shared with batch readers)
so it belongs in storage, not the state store — the same argument as
streaming/ingest.py.

Exactly-once protocol (versioned copy-on-write):

* the snapshot directory holds immutable versions ``v=N``; version 0 is
  the initial base, micro-batch ``b`` commits version ``b+1``;
* a batch reads the newest version ``<= b`` THAT HAS ``_SUCCESS`` (a
  half-written version from a crash is invisible) and overwrites
  ``v=b+1`` atomically-enough (parquet job commit);
* a replay of batch ``b`` therefore re-reads the exact input the first
  attempt read and rewrites the same output version — idempotent
  convergence on top of an at-least-once trigger, q93/q164's protocol
  applied to table maintenance.

Three maintenance strategies (the industry-standard trio), one merge
algebra, one oracle — pick by workload:

* copy-on-WRITE, snapshot- or bucket-granular (below): reads are always
  one clean scan; writes cost O(snapshot) / O(touched buckets).
* merge-on-READ (:func:`append_change_segment` / :func:`read_merged` /
  :func:`compact_segments`): writes cost O(batch) ALWAYS — the answer
  for uniform-churn feeds where every COW flavor degrades to a full
  rewrite (probe) — and reads pay a segment merge until compaction.

Two COW granularities, same protocol, same merge:

* SNAPSHOT-granular (:func:`apply_change_batch`) — every version is a
  complete rewrite. Correct and simple; right for small dimension
  tables, wrong at 100 TB (a per-minute CDC feed would rewrite 100 TB
  per batch).
* BUCKET-granular (:func:`apply_change_batch_bucketed`) — the snapshot
  is hash-partitioned into ``bucket=B`` directories by the pk; a batch
  rewrites ONLY the buckets its keys hash into and commits a manifest
  mapping every bucket to the version that last wrote it (untouched
  buckets are referenced, never copied — the Delta/Iceberg MERGE
  strategy at engine level). Per batch the write volume is
  O(touched buckets × bucket size), not O(snapshot); the manifest is
  n_buckets entries of driver-side JSON. This is the 100 TB path —
  rewrite volume scales with the CHANGE RATE, not the corpus
  (probe: PERFORMANCE.md "Round-7 CDC copy-on-write granularity probe").

The snapshot/table dirs may live on any Hadoop-supported filesystem:
all driver-side metadata IO (version listings, manifests, commit
markers, base swaps) goes through :mod:`hfsa_spark.fs`, which uses
plain ``os`` calls for POSIX paths and the Hadoop FileSystem API for
scheme'd paths (``hdfs://``, ``s3a://``, ``file://`` …) — the data
files always move through Spark readers/writers, which are
scheme-capable already. Old versions are retained for time travel;
:func:`vacuum_buckets` reclaims them at bucket-file granularity,
keeping any bucket file still referenced by a retained manifest.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hfsa_spark import fs as _fs
from hfsa_spark.operators.cdc import _known_ops, upsert_merge


class ConcurrentWriteError(RuntimeError):
    """A maintenance writer detected that the committed head moved while
    it worked — another writer violated the single-writer protocol. The
    aborted attempt left no visible state (its marker never landed);
    callers may re-plan from the new head and retry (the ``retries``
    parameter on :func:`apply_change_batch_bucketed` /
    :func:`compact_segments` does exactly that)."""


def _committed_versions(snapshot_dir: str, marker: str = "_SUCCESS") -> list[int]:
    """Committed version numbers under ``snapshot_dir``.

    Listing goes through :mod:`hfsa_spark.fs` (POSIX fast path, Hadoop
    FileSystem API for scheme'd paths). Non-numeric ``v=`` suffixes
    (editor droppings, stray dirs) are skipped, not crashed on."""
    if not _fs.isdir(snapshot_dir):
        return []
    out = []
    for d in _fs.listdir(snapshot_dir):
        if not d.startswith("v="):
            continue
        suffix = d.split("=", 1)[1]
        try:
            v = int(suffix)
        except ValueError:
            continue
        if _fs.exists(os.path.join(snapshot_dir, d, marker)):
            out.append(v)
    return sorted(out)


def latest_snapshot(spark: SparkSession, snapshot_dir: str) -> DataFrame:
    """Read the newest committed snapshot version."""
    vs = _committed_versions(snapshot_dir)
    if not vs:
        raise FileNotFoundError(f"no committed snapshot under {snapshot_dir}")
    return spark.read.parquet(os.path.join(snapshot_dir, f"v={vs[-1]}"))


def init_snapshot(base: DataFrame, snapshot_dir: str) -> None:
    """Commit ``base`` as version 0."""
    base.write.mode("overwrite").parquet(os.path.join(snapshot_dir, "v=0"))


def apply_change_batch(
    batch: DataFrame,
    snapshot_dir: str,
    key_cols: list[str],
    ts_col: str = "ts",
    op_col: str = "op",
    seq_col: str | None = None,
    batch_id: int = 0,
    evolve_schema: bool = False,
) -> None:
    """One idempotent CDC step: merge ``batch`` into the newest committed
    version ``<= batch_id`` and commit the result as ``v={batch_id+1}``.
    Re-running with the same ``batch_id`` converges (module docstring).
    Callable directly for batch backfills.

    ``evolve_schema`` passes through to :func:`upsert_merge`'s additive
    mergeSchema semantics — safe HERE because every snapshot-COW
    version is a complete self-contained rewrite, so each version
    carries one coherent schema and time travel just reads the schema
    of its era. The bucket-granular path gained its own flag in r9 via
    manifest-carried schema eras (see
    :func:`apply_change_batch_bucketed`)."""
    spark = batch.sparkSession
    committed = _committed_versions(snapshot_dir)
    if int(batch_id) + 1 in committed:
        # replay of an already-committed batch: the first attempt's
        # output is the deterministic function of the same inputs, so
        # this is a pure no-op — and rewriting would momentarily delete
        # a version that IS the newest committed one
        return
    eligible = [v for v in committed if v <= batch_id]
    if not eligible:
        raise FileNotFoundError(
            f"no committed snapshot version <= {batch_id} under {snapshot_dir}"
            " — call init_snapshot first"
        )
    prev = spark.read.parquet(os.path.join(snapshot_dir, f"v={eligible[-1]}"))
    merged = upsert_merge(
        prev, batch, key_cols, ts_col=ts_col, op_col=op_col, seq_col=seq_col,
        evolve_schema=evolve_schema,
    )
    merged.write.mode("overwrite").parquet(
        os.path.join(snapshot_dir, f"v={batch_id + 1}")
    )


def streaming_upsert_snapshots(
    changes_stream: DataFrame,
    snapshot_dir: str,
    checkpoint_dir: str,
    key_cols: list[str],
    ts_col: str = "ts",
    op_col: str = "op",
    seq_col: str | None = None,
    evolve_schema: bool = False,
):
    """Wire a streaming change feed into the versioned-snapshot apply
    loop. Returns the started StreamingQuery, which the caller drains
    (``run.drain``). ``init_snapshot`` must have committed version 0 first.
    ``evolve_schema`` passes through to :func:`apply_change_batch`."""

    def handle(batch: DataFrame, batch_id: int) -> None:
        apply_change_batch(
            batch,
            snapshot_dir,
            key_cols,
            ts_col=ts_col,
            op_col=op_col,
            seq_col=seq_col,
            batch_id=int(batch_id),
            evolve_schema=evolve_schema,
        )

    return (
        changes_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# ------------------------------------------------- bucket-granular COW

MANIFEST = "_MANIFEST.json"


def _bucket_expr(key_cols: list[str], n_buckets: int,
                 bucket_mode: str = "hash", range_width: int | None = None):
    """Deterministic pk→bucket function.

    ``hash`` (default): pmod(xxhash64(keys), n_buckets) — keeps negative
    hashes in [0, n_buckets); NULL keys hash like any value, so a
    null-keyed row still lands in exactly one bucket. Right when change
    batches are SMALL relative to n_buckets (touched buckets ≈ distinct
    changed keys).

    ``range``: floor(key / range_width) over a single numeric key —
    unbounded bucket ids, new key ranges create new buckets. Right when
    changes are LOCAL in key space (the common CDC shape: mostly-recent
    keys change, pks grow monotonically) — a recency-clustered batch
    touches few range buckets where a hash batch of the same size
    touches min(keys, n_buckets). This is why Delta/Iceberg MERGE wins
    in practice: their files are ingestion-time-clustered, the same
    locality a pk-range bucket captures (PERFORMANCE.md "Round-7 CDC
    copy-on-write granularity probe": uniform-batch hash ≈ full rewrite
    vs clustered-batch range ≈ touched-fraction rewrite).
    """
    if bucket_mode == "hash":
        return F.pmod(F.xxhash64(*[F.col(k) for k in key_cols]),
                      F.lit(n_buckets)).cast("int")
    if bucket_mode == "range":
        if len(key_cols) != 1 or not range_width:
            raise ValueError(
                "range bucket_mode needs exactly one numeric key column"
                " and a positive range_width"
            )
        key = F.col(key_cols[0])
        # a NULL key has no range bucket (floor(NULL/w) = NULL would
        # silently become an unreadable __HIVE_DEFAULT_PARTITION__ dir
        # at init and a TypeError deep in the apply's sorted()); fail
        # loudly at the point of evaluation with the contract violation
        return F.when(
            key.isNull(),
            F.raise_error(F.lit(
                f"range bucket_mode: NULL value in key column"
                f" {key_cols[0]!r} — range bucketing requires a"
                " non-null numeric key (use hash bucket_mode for"
                " nullable keys)"
            )).cast("int"),
        ).otherwise(
            F.floor(key / F.lit(int(range_width))).cast("int")
        )
    raise ValueError(f"unknown bucket_mode {bucket_mode!r}")


def _meta_bucket_expr(meta: dict):
    return _bucket_expr(
        meta["key_cols"], meta["n_buckets"],
        bucket_mode=meta.get("bucket_mode", "hash"),
        range_width=meta.get("range_width"),
    )


def _read_meta(snapshot_dir: str) -> dict:
    return json.loads(_fs.read_text(os.path.join(snapshot_dir, "_meta.json")))


def _read_manifest(snapshot_dir: str, version: int) -> dict[int, int]:
    text = _fs.read_text(os.path.join(snapshot_dir, f"v={version}", MANIFEST))
    obj = json.loads(text)
    if "buckets" in obj:  # r9+ format: {"buckets": {...}, era fields...}
        obj = obj["buckets"]
    return {int(b): int(v) for b, v in obj.items()}


def _read_era(snapshot_dir: str, version: int, meta: dict) -> dict:
    """The SCHEMA ERA a manifest version belongs to: which columns (and
    types) a reader of that version should produce. r9+ manifests carry
    it inline (schema evolution — each version reads with the schema of
    its era, exactly like the snapshot-COW path's per-version schemas);
    legacy flat manifests predate evolution, so their era is the frozen
    ``_meta.json``. ``mixed_schema`` records whether the version's
    referenced bucket files may span MORE THAN ONE era (evolution with
    untouched buckets), i.e. whether the reader needs a parquet
    schema-merge pass."""
    text = _fs.read_text(os.path.join(snapshot_dir, f"v={version}", MANIFEST))
    obj = json.loads(text)
    if "buckets" in obj and "columns" in obj:
        return {
            "columns": obj["columns"],
            "schema": obj["schema"],
            "mixed_schema": bool(obj.get("mixed_schema", False)),
        }
    return {
        "columns": meta["columns"],
        "schema": meta["schema"],
        "mixed_schema": False,
    }


def _write_manifest(snapshot_dir: str, version: int,
                    manifest: dict[int, int],
                    era: dict | None = None) -> None:
    """The manifest IS the commit marker: it is written last, after the
    version's parquet job committed, so a crashed half-write leaves an
    invisible version (same role _SUCCESS plays for the snapshot-COW
    path). The tmp-then-rename inside ``write_text_atomic`` makes the
    marker itself atomic. ``era`` (columns/schema/mixed_schema) rides
    inside the marker so every version knows its own read schema."""
    vdir = os.path.join(snapshot_dir, f"v={version}")
    _fs.makedirs(vdir)
    payload: dict = {
        "buckets": {str(b): v for b, v in sorted(manifest.items())}
    }
    if era is not None:
        payload.update(era)
    _fs.write_text_atomic(
        os.path.join(vdir, MANIFEST), json.dumps(payload)
    )


def _present_buckets(snapshot_dir: str, version: int) -> set[int]:
    vdir = os.path.join(snapshot_dir, f"v={version}")
    out = set()
    for d in _fs.listdir(vdir):
        if d.startswith("bucket="):
            try:
                out.add(int(d.split("=", 1)[1]))
            except ValueError:
                continue
    return out


def init_snapshot_bucketed(
    base: DataFrame,
    snapshot_dir: str,
    key_cols: list[str],
    n_buckets: int = 32,
    bucket_mode: str = "hash",
    range_width: int | None = None,
) -> None:
    """Commit ``base`` as version 0 of a bucket-granular snapshot:
    pk-bucket-partitioned ``bucket=B`` directories plus a manifest
    mapping every non-empty bucket to version 0. The bucket function
    (see :func:`_bucket_expr` — ``hash`` for small batches, ``range``
    for key-local ones) is frozen in ``_meta.json``; every later apply
    and read derives the same pk→bucket mapping from it."""
    key_cols = list(key_cols)
    bexpr = _bucket_expr(key_cols, n_buckets, bucket_mode, range_width)
    _fs.makedirs(snapshot_dir)
    _fs.write_text_atomic(
        os.path.join(snapshot_dir, "_meta.json"),
        json.dumps({"key_cols": key_cols, "n_buckets": int(n_buckets),
                    "bucket_mode": bucket_mode,
                    "range_width": range_width,
                    "columns": base.columns,
                    "schema": base.schema.json()}),
    )
    (
        base.withColumn("bucket", bexpr)
        .repartition(n_buckets, F.col("bucket"))
        .write.partitionBy("bucket")
        .mode("overwrite")
        .parquet(os.path.join(snapshot_dir, "v=0"))
    )
    manifest = {b: 0 for b in _present_buckets(snapshot_dir, 0)}
    _write_manifest(
        snapshot_dir, 0, manifest,
        era={"columns": base.columns, "schema": base.schema.json(),
             "mixed_schema": False},
    )


def _bucket_paths(snapshot_dir: str, manifest: dict[int, int],
                  buckets) -> list[str]:
    return [
        os.path.join(snapshot_dir, f"v={manifest[b]}", f"bucket={b}")
        for b in sorted(buckets)
        if b in manifest
    ]


def _read_era_buckets(spark: SparkSession, paths: list[str], era: dict
                      ) -> DataFrame:
    """Read bucket files AS their manifest's schema era. Single-era
    versions take today's plain scan. After an evolution, a version's
    referenced files span eras (untouched buckets still carry the old
    columns): parquet ``mergeSchema`` unions them additively —
    distributed footer reads, the price Delta/Iceberg readers pay for
    the same feature — and any era column still missing from every file
    is null-filled at its era type, so the produced schema is exactly
    the era's regardless of which buckets happen to be referenced."""
    from pyspark.sql.types import StructType

    reader = spark.read
    if era["mixed_schema"]:
        reader = reader.option("mergeSchema", "true")
    df = reader.parquet(*paths)
    schema = StructType.fromJson(json.loads(era["schema"]))
    for f in schema.fields:
        if f.name not in df.columns:
            df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
    return df.select(*era["columns"])


def latest_snapshot_bucketed(
    spark: SparkSession, snapshot_dir: str, version: int | None = None
) -> DataFrame:
    """Read a bucket-granular snapshot: resolve the (newest committed, or
    requested) manifest and union each bucket's files from whichever
    version last wrote it — untouched buckets are read in place, nothing
    was ever copied. One scan task per bucket file, zero shuffles."""
    vs = _committed_versions(snapshot_dir, marker=MANIFEST)
    if version is not None:
        vs = [v for v in vs if v <= version]
    if not vs:
        raise FileNotFoundError(
            f"no committed bucketed snapshot under {snapshot_dir}"
        )
    meta = _read_meta(snapshot_dir)
    manifest = _read_manifest(snapshot_dir, vs[-1])
    era = _read_era(snapshot_dir, vs[-1], meta)
    paths = _bucket_paths(snapshot_dir, manifest, manifest.keys())
    if not paths:  # every key deleted: empty frame with the era schema
        return _empty_snapshot(spark, era["schema"])
    return _read_era_buckets(spark, paths, era)


def lookup_bucketed(
    spark: SparkSession,
    snapshot_dir: str,
    keys: list[tuple] | list,
    version: int | None = None,
) -> DataFrame:
    """Point lookup against a bucket-granular snapshot: hash the
    requested keys with the FROZEN bucket function, resolve only those
    buckets' files through the manifest, and semi-join — at 100 TB a
    single-pk fetch reads ONE bucket file (corpus/2^k bytes), never the
    snapshot. ``keys`` is a list of values (single-column pk) or tuples
    (composite pk); duplicates are fine. The bucket ids come from a
    tiny Spark job over the keys themselves (the bucket fn is
    ``xxhash64``/range per ``_meta.json`` — evaluating it through Spark
    guarantees bit-identical hashing with what the writer used), then
    the pruned read is filtered by a broadcast join against the keys.
    """
    vs = _committed_versions(snapshot_dir, marker=MANIFEST)
    if version is not None:
        vs = [v for v in vs if v <= version]
    if not vs:
        raise FileNotFoundError(
            f"no committed bucketed snapshot under {snapshot_dir}"
        )
    meta = _read_meta(snapshot_dir)
    era = _read_era(snapshot_dir, vs[-1], meta)
    key_cols = meta["key_cols"]
    rows = [
        tuple(k) if isinstance(k, (tuple, list)) else (k,) for k in keys
    ]
    if not rows:
        return _empty_snapshot(spark, era["schema"])
    from pyspark.sql.types import StructType

    # key columns come from the FROZEN meta (evolution is additive —
    # the pk and its bucket function never change)
    schema = StructType.fromJson(json.loads(meta["schema"]))
    key_schema = StructType([schema[c] for c in key_cols])
    keys_df = spark.createDataFrame(rows, key_schema).distinct()
    bexpr = _meta_bucket_expr(meta)
    wanted = {
        r["b"] for r in keys_df.select(bexpr.alias("b")).distinct().collect()
    }
    manifest = _read_manifest(snapshot_dir, vs[-1])
    paths = _bucket_paths(snapshot_dir, manifest, wanted)
    if not paths:
        return _empty_snapshot(spark, era["schema"])
    snap = _read_era_buckets(spark, paths, era)
    return snap.join(F.broadcast(keys_df), key_cols, "left_semi")


def _empty_snapshot(spark: SparkSession, schema_json: str) -> DataFrame:
    from pyspark.sql.types import StructType

    return spark.createDataFrame(
        [], StructType.fromJson(json.loads(schema_json))
    )


def apply_change_batch_bucketed(
    batch: DataFrame,
    snapshot_dir: str,
    ts_col: str = "ts",
    op_col: str = "op",
    seq_col: str | None = None,
    batch_id: int = 0,
    evolve_schema: bool = False,
    retries: int = 0,
) -> None:
    """One idempotent bucket-granular CDC step.

    ``retries`` (r10): on a :class:`ConcurrentWriteError` abort, re-plan
    the whole step from the NEW committed head up to ``retries`` times
    (exponential backoff, capped at 2 s). The retry converges under a
    misconfigured double-scheduler: if the racing writer committed OUR
    version, the re-read sees it and no-ops (idempotent replay); if it
    committed a different one, the re-merge starts from its manifest.
    Default 0 keeps the loud single-writer abort.

    The batch's keys are hashed with the frozen pk→bucket function; ONLY
    the touched buckets' rows are read back (partition-pruned paths from
    the manifest), merged via :func:`upsert_merge`, and rewritten under
    ``v={batch_id+1}/bucket=B``. Untouched buckets carry over by
    manifest REFERENCE — zero bytes moved. The new manifest commits
    last (atomic rename), so a replay of batch ``b`` re-reads the same
    manifest ``<= b``, recomputes the same touched set, and rewrites
    identical content: exactly-once on top of an at-least-once trigger,
    same protocol as the snapshot-COW path.

    Write volume per batch is O(touched buckets × bucket size) — at
    100 TB with a 1%-of-keys change batch and 2^12 buckets, ~1% of the
    corpus rewrites instead of 100% (probe: PERFORMANCE.md "Round-7 CDC
    copy-on-write granularity probe").

    ``evolve_schema`` (r9) brings :func:`upsert_merge`'s ADDITIVE
    mergeSchema semantics to the bucketed path. Versioning makes it
    safe where the pre-r9 frozen-``_meta.json`` design could not: every
    manifest now carries its own schema ERA (columns + types +
    whether its referenced files span eras), so

    * the version committed by an evolving batch reads with the NEW
      columns — untouched buckets' files lack them on disk and are
      additively unioned (``mergeSchema``) with NULLs, exactly
      Delta/Iceberg reader semantics;
    * time travel to a pre-evolution version reads with that era's
      schema — old columns only, one coherent frame per era;
    * the pk and the bucket function stay FROZEN (evolution is
      additive; key changes would re-bucket the world).

    The root ``_meta.json`` is updated to the newest era after the
    manifest commits (read paths prefer the manifest era, so a crash
    between the two writes costs nothing).
    """
    for attempt in range(retries + 1):
        try:
            return _apply_change_batch_bucketed_once(
                batch, snapshot_dir, ts_col, op_col, seq_col, batch_id,
                evolve_schema,
            )
        except ConcurrentWriteError:
            if attempt == retries:
                raise
            time.sleep(min(2.0, 0.05 * (2 ** attempt)))


def _apply_change_batch_bucketed_once(
    batch: DataFrame,
    snapshot_dir: str,
    ts_col: str,
    op_col: str,
    seq_col: str | None,
    batch_id: int,
    evolve_schema: bool,
) -> None:
    spark = batch.sparkSession
    meta = _read_meta(snapshot_dir)
    key_cols = meta["key_cols"]
    bexpr = _meta_bucket_expr(meta)
    committed = _committed_versions(snapshot_dir, marker=MANIFEST)
    if committed and committed[-1] >= int(batch_id) + 1:
        # replay of an already-committed batch is a pure no-op: the
        # first attempt wrote the deterministic output already. The
        # check is `head >= ours`, not `ours in committed` (r10):
        # under the sequential protocol a LATER version can only exist
        # if this one committed first, so a head past us always means
        # our work is in history — even when a racing double-scheduler
        # wiped our version's own manifest mid-overwrite. This also
        # hard-stops OUT-OF-ORDER replays (batch b after later versions
        # committed), which would mode('overwrite') v=b+1 and
        # momentarily delete bucket files that LATER committed
        # manifests still reference. Checkpointed Structured Streaming
        # never replays out of order, but the function is public API.
        return
    eligible = [v for v in committed if v <= batch_id]
    if not eligible:
        raise FileNotFoundError(
            f"no committed bucketed snapshot version <= {batch_id} under"
            f" {snapshot_dir} — call init_snapshot_bucketed first"
        )
    manifest = _read_manifest(snapshot_dir, eligible[-1])
    era = _read_era(snapshot_dir, eligible[-1], meta)

    # the touched-bucket set: distinct buckets of the batch's VALID
    # change rows (ignored ops must not trigger rewrites) — ≤ n_buckets
    # ints, the one intentionally tiny collect. collect_set instead of
    # distinct().collect() (r12): the dedup happens inside the partial
    # aggregate, so the job is map + one single-task reduce rather than
    # a width-sized exchange — one less stage on every micro-batch.
    touched = sorted(
        _known_ops(batch, op_col)
        .agg(F.collect_set(bexpr).alias("s"))
        .collect()[0]["s"]
        or []
    )
    new_version = int(batch_id) + 1
    new_era = dict(era)
    if touched:
        prev_paths = _bucket_paths(snapshot_dir, manifest, touched)
        if prev_paths:
            prev = _read_era_buckets(spark, prev_paths, era)
        else:  # all touched buckets are brand new (pure inserts)
            prev = _empty_snapshot(spark, era["schema"])
        merged = upsert_merge(
            prev, batch, key_cols, ts_col=ts_col, op_col=op_col,
            seq_col=seq_col, evolve_schema=evolve_schema,
        )
        if merged.columns != era["columns"]:  # additive evolution
            new_era = {
                "columns": merged.columns,
                "schema": merged.schema.json(),
                # untouched buckets (if any survive in the manifest)
                # still carry the OLD era's files on disk
                "mixed_schema": True,
            }
        (
            merged.withColumn("bucket", bexpr)
            .repartition(len(touched), F.col("bucket"))
            .write.partitionBy("bucket")
            .mode("overwrite")
            .parquet(os.path.join(snapshot_dir, f"v={new_version}"))
        )
        # a touched bucket whose rows were ALL deleted writes no dir —
        # it must leave the manifest, not dangle at an old version
        written = _present_buckets(snapshot_dir, new_version)
        new_manifest = dict(manifest)
        for b in touched:
            if b in written:
                new_manifest[b] = new_version
            else:
                new_manifest.pop(b, None)
    else:  # empty/no-op batch: commit a version that changes nothing
        new_manifest = dict(manifest)
    # optimistic-concurrency guard: every maintenance path here is
    # documented single-writer; this converts a violated assumption
    # from silent manifest divergence into a clean loud abort. Re-check
    # the committed head immediately before the final marker write —
    # if another writer committed meanwhile, our manifest was derived
    # from a stale head and must not land. The half-written v= dir we
    # leave behind has no manifest, so readers never see it and
    # vacuum_buckets removes it as crash debris.
    now = _committed_versions(snapshot_dir, marker=MANIFEST)
    if (now[-1] if now else None) != eligible[-1]:
        raise ConcurrentWriteError(
            f"concurrent writer detected under {snapshot_dir}: committed"
            f" head moved {eligible[-1]} -> {now[-1] if now else None}"
            f" while applying batch {batch_id}; aborting before the"
            " manifest commit (single-writer protocol)"
        )
    _write_manifest(snapshot_dir, new_version, new_manifest, era=new_era)
    if new_era["columns"] != meta.get("columns"):
        # keep the root meta's CURRENT schema in sync for tooling that
        # inspects it; read paths resolve eras from manifests, so a
        # crash landing between manifest and this write is harmless
        meta.update(
            {"columns": new_era["columns"], "schema": new_era["schema"]}
        )
        _fs.write_text_atomic(
            os.path.join(snapshot_dir, "_meta.json"), json.dumps(meta)
        )


# --------------------------------------------------- merge-on-read CDC

SEG_SEQ = "__seg"


def append_change_segment(
    batch: DataFrame,
    table_dir: str,
    key_cols: list[str],
    ts_col: str = "ts",
    op_col: str = "op",
    batch_id: int = 0,
) -> None:
    """Merge-on-READ apply: the write side of the third standard CDC
    maintenance strategy (next to snapshot-COW and bucket-COW — Hudi/
    Iceberg "merge-on-read" at engine level).

    The batch is reduced to its per-key winners (DELETES KEPT as
    tombstone rows — the reader needs them) and appended as the delta
    segment ``seg={batch_id}``: write volume is O(batch) regardless of
    corpus size or change locality — the answer to the probe's honest
    uniform-churn finding, where every COW flavor degrades to a full
    rewrite. The cost moves to READ time (:func:`read_merged`), bounded
    by segment count until :func:`compact_segments` folds them into a
    new base. Winners are a pure function of the batch, so a replay of
    batch ``b`` rewrites ``seg=b`` with identical content: idempotent
    without any versioned-read protocol.

    Contract (same as the q205 apply loop): a key appears at most once
    per batch; across batches, later ``ts`` wins, ties broken by batch
    order (``__seg``)."""
    keep = _known_ops(batch, op_col)
    latest = (
        keep.withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy(*key_cols).orderBy(F.col(ts_col).desc())
            ),
        )
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    (
        latest.withColumn(SEG_SEQ, F.lit(int(batch_id)))
        .write.mode("overwrite")
        .parquet(os.path.join(table_dir, f"seg={batch_id}"))
    )


def _committed_segments(table_dir: str) -> list[int]:
    if not _fs.isdir(table_dir):
        return []
    out = []
    for d in _fs.listdir(table_dir):
        if not d.startswith("seg="):
            continue
        try:
            s = int(d.split("=", 1)[1])
        except ValueError:
            continue
        if _fs.exists(os.path.join(table_dir, d, "_SUCCESS")):
            out.append(s)
    return sorted(out)


FOLDED = "_FOLDED.json"


def _committed_bases(table_dir: str) -> list[int]:
    """Committed base versions: ``_base_v=N`` dirs whose ``_FOLDED.json``
    marker exists (the marker is written LAST — a base missing it is a
    crashed half-compaction and stays invisible)."""
    if not _fs.isdir(table_dir):
        return []
    out = []
    for d in _fs.listdir(table_dir):
        if not d.startswith("_base_v="):
            continue
        try:
            v = int(d.split("=", 1)[1])
        except ValueError:
            continue
        if _fs.exists(os.path.join(table_dir, d, FOLDED)):
            out.append(v)
    return sorted(out)


def _resolve_base(table_dir: str) -> tuple[str, int, set[int]]:
    """(base path, base version, cumulative folded segment ids) of the
    newest committed base. Falls back to the legacy un-versioned
    ``_base`` dir (version -1, nothing folded) for tables written by
    the pre-r8 layout."""
    bases = _committed_bases(table_dir)
    if bases:
        v = bases[-1]
        bdir = os.path.join(table_dir, f"_base_v={v}")
        folded = json.loads(_fs.read_text(os.path.join(bdir, FOLDED)))
        return bdir, v, set(int(s) for s in folded["folded"])
    legacy = os.path.join(table_dir, "_base")
    if _fs.exists(legacy):
        return legacy, -1, set()
    raise FileNotFoundError(f"no committed base under {table_dir}")


def init_base(base: DataFrame, table_dir: str) -> None:
    """Write the merge-on-read base table as committed version 0
    (segments accumulate next to it until compaction)."""
    bdir = os.path.join(table_dir, "_base_v=0")
    base.write.mode("overwrite").parquet(bdir)
    _fs.write_text_atomic(
        os.path.join(bdir, FOLDED), json.dumps({"folded": []})
    )


def read_merged(
    spark: SparkSession,
    table_dir: str,
    key_cols: list[str],
    ts_col: str = "ts",
    op_col: str = "op",
) -> DataFrame:
    """Merge-on-read resolve: newest committed base + the committed
    delta segments it has NOT already folded, through ONE
    :func:`upsert_merge` (the union of segments is the change batch;
    ``__seg`` breaks equal-ts ties by batch order). Read amplification
    is the price of O(batch) writes — bounded by segment count, reset
    by :func:`compact_segments`. Base resolution goes through the
    ``_FOLDED.json`` commit marker, so a reader concurrent with a
    compaction sees either the old committed base (+ its segments) or
    the new one — never a half-swapped state."""
    bdir, _, folded = _resolve_base(table_dir)
    base = spark.read.parquet(bdir)
    segs = [s for s in _committed_segments(table_dir) if s not in folded]
    if not segs:
        return base
    changes = spark.read.parquet(
        *[os.path.join(table_dir, f"seg={s}") for s in segs]
    )
    return upsert_merge(
        base, changes, key_cols, ts_col=ts_col, op_col=op_col,
        seq_col=SEG_SEQ,
    )


def compact_segments(
    spark: SparkSession,
    table_dir: str,
    key_cols: list[str],
    ts_col: str = "ts",
    op_col: str = "op",
    retries: int = 0,
) -> int:
    """Fold all unfolded committed segments into a new base version (one
    read-side merge materialized): read amplification back to zero.
    Returns the number of segments compacted. Answers before == after
    (pytest-pinned): compaction changes LAYOUT, never content.

    Commit protocol (the same commit-last discipline as the COW paths,
    replacing the pre-r8 pair of non-atomic renames that could strand a
    reader baseless mid-swap): the merged result is written to
    ``_base_v={v+1}``; the version becomes visible only when its
    ``_FOLDED.json`` marker (carrying the CUMULATIVE folded segment ids)
    lands via atomic rename. A crash before the marker leaves the old
    base authoritative; a crash after it leaves stale segment/base dirs
    that readers already ignore (the folded set excludes them) and
    :func:`vacuum_segments` removes. Single compactor at a time — same
    single-writer assumption as every maintenance path here; ``retries``
    (r10) re-plans from the new committed base after a
    :class:`ConcurrentWriteError` — a racing compactor that already
    folded our segments makes the retry a clean no-op."""
    for attempt in range(retries + 1):
        try:
            return _compact_segments_once(
                spark, table_dir, key_cols, ts_col, op_col
            )
        except ConcurrentWriteError:
            if attempt == retries:
                raise
            time.sleep(min(2.0, 0.05 * (2 ** attempt)))
    return 0  # unreachable


def _compact_segments_once(
    spark: SparkSession,
    table_dir: str,
    key_cols: list[str],
    ts_col: str,
    op_col: str,
) -> int:
    segs = _committed_segments(table_dir)
    bdir, v, folded = _resolve_base(table_dir)
    todo = [s for s in segs if s not in folded]
    if not todo:
        return 0
    # merge exactly `todo` (not a re-listing): a segment committed by a
    # concurrent appender between these two lines must NOT slip into the
    # new base without appearing in its folded marker — readers would
    # still be correct (re-applying an already-folded segment is
    # content-idempotent under last-writer-wins), but marker==content is
    # the cleaner invariant
    base = spark.read.parquet(bdir)
    changes = spark.read.parquet(
        *[os.path.join(table_dir, f"seg={s}") for s in todo]
    )
    merged = upsert_merge(
        base, changes, key_cols, ts_col=ts_col, op_col=op_col,
        seq_col=SEG_SEQ,
    )
    new_dir = os.path.join(table_dir, f"_base_v={v + 1}")
    merged.write.mode("overwrite").parquet(new_dir)
    # optimistic-concurrency guard (single-writer protocol made loud):
    # re-resolve the committed head immediately before the marker — if
    # a racing compactor committed meanwhile, our merge started from a
    # stale base and must not become visible. The marker-less
    # _base_v= dir we leave is exactly the crash debris readers already
    # ignore and vacuum_segments removes.
    now = _committed_bases(table_dir)
    now_v = now[-1] if now else -1  # -1 = the legacy un-versioned base
    if now_v != v:
        raise ConcurrentWriteError(
            f"concurrent compaction detected under {table_dir}: committed"
            f" base moved v={v} -> v={now_v} during compaction; aborting"
            " before the _FOLDED marker (single-writer protocol)"
        )
    _fs.write_text_atomic(
        os.path.join(new_dir, FOLDED),
        json.dumps({"folded": sorted(folded | set(todo))}),
    )
    # commit done — everything below is best-effort hygiene that
    # vacuum_segments can redo after a crash
    vacuum_segments(table_dir)
    return len(todo)


def vacuum_segments(table_dir: str) -> list[str]:
    """Merge-on-read hygiene: drop every dir the newest committed base
    has made unreachable — folded ``seg=`` dirs, older ``_base_v=``
    versions, the legacy ``_base``, and crashed half-compactions (a
    ``_base_v=`` NEWER than the committed head but missing its marker
    is debris of an attempt the next compaction will redo under the
    same name). The analog of :func:`vacuum_snapshots` for the segment
    table; also the crash-recovery pass for :func:`compact_segments`.
    Returns the removed dir names."""
    bases = _committed_bases(table_dir)
    if not bases:
        return []  # never compacted/inited via markers: nothing is stale
    head = bases[-1]
    bdir = os.path.join(table_dir, f"_base_v={head}")
    folded = set(
        int(s)
        for s in json.loads(_fs.read_text(os.path.join(bdir, FOLDED)))["folded"]
    )
    removed = []
    for d in _fs.listdir(table_dir):
        stale = False
        if d == "_base":
            stale = True
        elif d.startswith("_base_v="):
            try:
                stale = int(d.split("=", 1)[1]) != head
            except ValueError:
                continue
        elif d.startswith("seg="):
            try:
                stale = int(d.split("=", 1)[1]) in folded
            except ValueError:
                continue
        if stale:
            _fs.rmtree(os.path.join(table_dir, d))
            removed.append(d)
    return sorted(removed)


def streaming_append_segments(
    changes_stream: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    key_cols: list[str],
    ts_col: str = "ts",
    op_col: str = "op",
):
    """Wire a change feed into the merge-on-read apply loop: each
    micro-batch appends one O(batch) delta segment; readers resolve via
    :func:`read_merged`; compact on your own cadence. ``init_base``
    must have written the base first."""

    def handle(batch: DataFrame, batch_id: int) -> None:
        append_change_segment(
            batch, table_dir, key_cols, ts_col=ts_col, op_col=op_col,
            batch_id=int(batch_id),
        )

    return (
        changes_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def vacuum_snapshots(snapshot_dir: str, keep_latest: int = 1) -> list[int]:
    """Age out old snapshot versions (time-travel retention).

    Keeps the newest ``keep_latest`` committed versions' READABILITY —
    which for the two COW flavors means different file sets:

    * snapshot-COW (no ``_meta.json``): every version is self-contained,
      so everything older than the kept versions is deleted;
    * bucket-COW: a kept manifest may reference bucket files in ANY
      older version (untouched buckets are never rewritten), so a
      version directory is deleted only if NO kept manifest references
      it — version 0 typically lives as long as some bucket has never
      been touched. The manifest, not directory age, is truth.
      (:func:`vacuum_buckets` reclaims at the finer bucket-file
      granularity — superseded buckets INSIDE surviving versions.)

    Returns the version numbers removed. Half-written (uncommitted)
    versions older than the newest kept one are removed too; a newer
    in-flight version is left alone (its writer may still commit)."""
    bucketed = _fs.exists(os.path.join(snapshot_dir, "_meta.json"))
    marker = MANIFEST if bucketed else "_SUCCESS"
    committed = _committed_versions(snapshot_dir, marker=marker)
    if not committed:
        return []
    kept = committed[-keep_latest:]
    needed = set(kept)
    if bucketed:
        for v in kept:
            needed.update(_read_manifest(snapshot_dir, v).values())
    removed = []
    for d in _fs.listdir(snapshot_dir):
        if not d.startswith("v="):
            continue
        try:
            v = int(d.split("=", 1)[1])
        except ValueError:
            continue
        if v in needed or v > kept[-1]:  # kept, referenced, or in-flight
            continue
        _fs.rmtree(os.path.join(snapshot_dir, d))
        removed.append(v)
    return sorted(removed)


def vacuum_buckets(snapshot_dir: str, keep_latest: int = 1) -> list[str]:
    """Bucket-FILE-granular vacuum for the bucket-COW snapshot — the
    retention pass the 100 TB path needs (without it the table
    accumulates every bucket version ever written).

    :func:`vacuum_snapshots` works at version-directory granularity: a
    ``v=`` dir survives if ANY kept manifest references ANY bucket in
    it, so superseded bucket files inside surviving versions are never
    reclaimed (version 0 hosts every never-again-touched bucket
    forever, next to stale copies of every bucket rewritten since).
    This pass enforces the invariant stated in the module docstring —
    *keep any bucket file still referenced by a live manifest* — at the
    bucket level:

    * the newest ``keep_latest`` committed manifests are retained
      (their versions stay time-travelable);
    * a ``bucket=B`` dir under ``v=N`` is deleted unless some retained
      manifest maps ``B -> N``;
    * non-retained versions lose their manifest too (time travel to
      them is withdrawn — their referenced buckets elsewhere may now be
      gone), and are deleted entirely once nothing references them;
    * crash debris — a ``v=`` dir at or below the committed head with
      no manifest (a writer died before its marker, or the guard in
      :func:`apply_change_batch_bucketed` aborted) — is removed,
      mirroring :func:`vacuum_segments`' stale-cleanup role;
    * a ``v=`` dir NEWER than the committed head is left alone: its
      writer may still commit.

    Returns the removed entries (``v=N`` for whole versions,
    ``v=N/bucket=B`` for pruned bucket files), sorted. Run it from the
    single maintenance writer, like every vacuum here."""
    committed = _committed_versions(snapshot_dir, marker=MANIFEST)
    if not committed:
        return []
    kept = committed[-keep_latest:]
    head = committed[-1]
    # (hosting version, bucket id) pairs any retained manifest references
    needed: set[tuple[int, int]] = set()
    for v in kept:
        for b, bv in _read_manifest(snapshot_dir, v).items():
            needed.add((bv, b))
    removed = []
    for d in _fs.listdir(snapshot_dir):
        if not d.startswith("v="):
            continue
        try:
            v = int(d.split("=", 1)[1])
        except ValueError:
            continue
        if v > head:  # in-flight writer
            continue
        vdir = os.path.join(snapshot_dir, d)
        needed_here = {b for (bv, b) in needed if bv == v}
        if v not in kept and not needed_here:
            _fs.rmtree(vdir)
            removed.append(d)
            continue
        for child in _fs.listdir(vdir):
            if child == MANIFEST:
                if v not in kept:
                    _fs.remove(os.path.join(vdir, child))
                    removed.append(f"{d}/{child}")
                continue
            if not child.startswith("bucket="):
                continue
            try:
                b = int(child.split("=", 1)[1])
            except ValueError:
                continue
            if b not in needed_here:
                _fs.rmtree(os.path.join(vdir, child))
                removed.append(f"{d}/{child}")
    return sorted(removed)


def streaming_upsert_snapshots_bucketed(
    changes_stream: DataFrame,
    snapshot_dir: str,
    checkpoint_dir: str,
    ts_col: str = "ts",
    op_col: str = "op",
    seq_col: str | None = None,
    evolve_schema: bool = False,
):
    """Bucket-granular twin of :func:`streaming_upsert_snapshots` — the
    100 TB apply loop. ``init_snapshot_bucketed`` must have committed
    version 0 first (key_cols/n_buckets come from its frozen _meta).
    ``evolve_schema`` lets the feed add columns mid-stream (additive;
    see :func:`apply_change_batch_bucketed`)."""

    def handle(batch: DataFrame, batch_id: int) -> None:
        apply_change_batch_bucketed(
            batch,
            snapshot_dir,
            ts_col=ts_col,
            op_col=op_col,
            seq_col=seq_col,
            evolve_schema=evolve_schema,
            batch_id=int(batch_id),
        )

    return (
        changes_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
