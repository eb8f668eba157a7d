"""Merge-shaped sinks: idempotent append and type-1 upsert (SURVEY.md §2.1).

  S6 append-if-absent  /root/reference/data_pipeline/utils/postgres_client.py:32-50
                       (INSERT ... ON CONFLICT (id) DO NOTHING)
  S7 type-1 upsert     /root/reference/data_pipeline/utils/postgres_client.py:92-121
                       (INSERT ... ON CONFLICT (item_id) DO UPDATE)
  S8 create-if-absent  /root/reference/data_pipeline/utils/database.py:24-27
  S9 retention delete  /root/reference/data_pipeline/utils/postgres_client.py:52-66

On a cluster with a table format these are one-statement Delta/Iceberg
``MERGE INTO`` (SURVEY.md §2.1 mapping); this environment has plain parquet,
so we implement the same semantics as anti-join/union + staged atomic swap —
which is also exactly what MERGE does physically, minus the transaction log.

Scale notes: the anti-join broadcasts whichever side is small (batch for S6
against a large target — Catalyst/AQE picks); the rewrite path (S7/S9) is
the known cost of format-less upserts — partition the target (snapshot_date)
so rewrites touch only affected partitions, which `overwrite_partitions`
does via deterministic per-partition replacement (the reference's
idempotent-rerun story, SURVEY.md §2.11 X5).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def _exists(path: str) -> bool:
    return os.path.exists(path)


def _staged_rewrite(df: DataFrame, target: str) -> None:
    """Write df to a staging dir, then swap it in (read-your-writes safe:
    parquet can't overwrite a path that feeds its own plan).

    Swap order keeps the old table recoverable at every step: the old
    target is renamed aside (cheap, same filesystem) BEFORE staging is
    renamed into place, and only deleted once the new data is live. If the
    final rename fails the aside copy is restored, so a crash can lose at
    most the in-flight rewrite — never the existing table.
    """
    token = uuid.uuid4().hex[:8]
    staging = f"{target}.staging-{token}"
    df.write.mode("overwrite").parquet(staging)
    aside = None
    if _exists(target):
        aside = f"{target}.old-{token}"
        os.rename(target, aside)
    try:
        os.rename(staging, target)
    except OSError:
        if aside is not None:
            os.rename(aside, target)  # restore the previous table
        raise
    if aside is not None:
        shutil.rmtree(aside)


def insert_if_absent(
    spark: SparkSession,
    target: str,
    batch: DataFrame,
    key: str | list[str] = "id",
    prune_col: str | None = None,
    partition_by: str | None = None,
) -> int:
    """S6: append batch rows whose key is not already present; returns the
    inserted count (the reference returns rowcount — postgres_client.py:44).
    Re-running the same batch is a no-op — the idempotency contract.

    `key` may be a single column or a list (composite natural key, e.g. a
    streaming candle's (item_key, snapshot_hour)) — no synthetic key column
    ever needs to be persisted.

    `prune_col` bounds the existing-side read to the batch's min/max of
    that column before the anti-join. It must be part of `key` (enforced) —
    then an existing row outside the batch's range cannot share a key with
    any batch row, so the prune is EXACT, not approximate. With a target
    partitioned on `prune_col` the bound becomes a partition filter on the
    scan (pinned in tests/test_pipeline.py): the reference's daily-batch
    shape reads a day or two of target keys instead of ALL of them — at
    100 TB the difference between a bounded probe and a full-table pass.

    `partition_by` lays the table out hive-partitioned on that column (and
    appends preserve the layout); pair it with prune_col so the bounded
    read prunes PARTITIONS, not just row groups.

    Spark jobs, not rows, price a daily batch, so the target is read with
    ``batch.schema`` (no footer-reading inference job), the prune bound is
    taken from the batch before its dedup shuffle, and the fresh rows are
    materialized once: the returned count and the append share one pruned
    scan of the target and one anti-join."""
    from ..functions.lifecycle import materialize, release

    keys = [key] if isinstance(key, str) else list(key)
    deduped = batch.dropDuplicates(keys)

    def _write(df: DataFrame, mode: str) -> None:
        w = df.write.mode(mode)
        if partition_by is not None:
            w = w.partitionBy(partition_by)
        w.parquet(target)

    if not _exists(target):
        _write(deduped, "overwrite")
        return deduped.count()
    existing = spark.read.schema(batch.schema).parquet(target).select(*keys)
    if prune_col is not None:
        if prune_col not in keys:
            raise ValueError(
                f"prune_col {prune_col!r} must be one of the key columns {keys} "
                "(otherwise pruning the existing side could miss conflicts)"
            )
        lo, hi = batch.agg(F.min(prune_col), F.max(prune_col)).first()
        if lo is None:  # empty batch: nothing to insert, nothing to read
            return 0
        existing = existing.where(
            (existing[prune_col] >= lo) & (existing[prune_col] <= hi)
        )
    fresh = materialize(deduped.join(existing, keys, "left_anti"))
    try:
        n = fresh.count()
        if n:
            _write(fresh, "append")
        return n
    finally:
        release(fresh)


def upsert(
    spark: SparkSession, target: str, batch: DataFrame, key: str = "item_id"
) -> None:
    """S7: type-1 upsert — batch rows replace same-key target rows, new keys
    insert. Equivalent Delta: MERGE ... WHEN MATCHED UPDATE WHEN NOT
    MATCHED INSERT.

    The target is read with ``batch.schema`` (no inference job), so it
    must hold the batch's columns: a column only the target has would be
    dropped by the rewrite. The merged rows are
    repartitioned by key before the staged rewrite, and AQE coalesces that
    small shuffle to one file: without it a broadcast batch (a local
    relation) leaves the scan's split layout in place and every upsert adds
    files to the table."""
    batch = batch.dropDuplicates([key])
    if not _exists(target):
        batch.write.mode("overwrite").parquet(target)
        return
    existing = spark.read.schema(batch.schema).parquet(target)
    kept = existing.join(batch.select(key), key, "left_anti")
    # No materialization needed: _staged_rewrite writes to a staging dir
    # FIRST and only renames the old target aside after the write
    # completes, so the plan's own scan of `target` reads intact files —
    # one streaming pass, zero pinned blocks (r13; the old localCheckpoint
    # paid a full extra materialization of the merged table).
    _staged_rewrite(kept.unionByName(batch).repartition(key), target)


def overwrite_partitions(
    spark: SparkSession, target: str, batch: DataFrame, partition_col: str
) -> None:
    """X5: deterministic partition replacement (Delta ``replaceWhere``) —
    re-running a day's job replaces exactly that day's partition, and
    partitions absent from `batch` are left as they are. The dynamic mode
    is a per-write option, so the session's other overwrites stay full
    overwrites."""
    (
        batch.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(target)
    )


RETENTION_DAYS = 30


def retention_delete_older_than(
    spark: SparkSession,
    target: str,
    days: int = RETENTION_DAYS,
    ts_col: str = "created_at",
    now: str | None = None,
) -> int:
    """S9, the PRIMARY retention rule — the reference's exact predicate
    (postgres_client.py:52-66): ``created_at < NOW() - INTERVAL '30 days'``,
    i.e. ingest-time relative to the wall clock. Pass ``now`` (ISO
    timestamp) to pin the anchor for reproducible runs / tests; the
    snapshot-date analog over a static corpus is
    operators/serving.py::retention_candidates."""
    anchor = f"TIMESTAMP '{now}'" if now is not None else "current_timestamp()"
    return retention_delete(
        spark, target, f"{ts_col} < {anchor} - INTERVAL {days} DAYS"
    )


def retention_delete(
    spark: SparkSession,
    target: str,
    predicate: str,
    *,
    schema: StructType | None = None,
) -> int:
    """S9: DELETE FROM target WHERE <predicate>; returns rows deleted.

    With a partitioned target prefer dropping whole partitions (free);
    this row-level path is the faithful general fallback. Pass the table's
    ``schema`` when the caller knows it, to skip the footer-reading
    inference job.

    ONE scan of the target materializes a keep-marked relation
    (lifecycle.materialize — pooled, deterministically released below,
    r13); a single count of the deleted rows reads the blocks, and the
    rewrite streams the kept rows from them, so both see the same
    evaluation of the predicate. SQL three-valued logic: a row whose
    predicate is NULL is neither kept nor spared — ``coalesce(NOT p,
    false)`` marks it deleted, and it is counted."""
    if not _exists(target):
        return 0
    from ..functions.lifecycle import materialize, release

    reader = spark.read if schema is None else spark.read.schema(schema)
    marked = materialize(
        reader.parquet(target).withColumn(
            "_keep", F.coalesce(F.expr(f"NOT ({predicate})"), F.lit(False))
        )
    )  # the single target scan
    try:
        deleted = marked.where(~F.col("_keep")).count()
        if deleted:
            _staged_rewrite(marked.where(F.col("_keep")).drop("_keep"), target)
        return deleted
    finally:
        release(marked)
