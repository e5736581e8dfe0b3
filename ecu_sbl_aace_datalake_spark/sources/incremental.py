"""Upsert (MERGE) and watermark-based incremental ingestion.

With Delta/Iceberg these are log-native operations (``MERGE INTO``,
streaming checkpoints). This module provides the same semantics over the
plain-parquet lakehouse:

- :func:`upsert_table` — keyed merge. Partitioned tables use DYNAMIC
  partition overwrite so only partitions containing touched keys are
  rewritten (the scale path: a merge touching 1 day of a year-partitioned
  100 TB table rewrites 1/365th of it). The batch is computed once
  (persisted for the call), the affected partitions come from ONE planning
  ``collect()`` and the merge is ONE write; partitions the merge empties are
  deleted through the Hadoop ``FileSystem`` (any storage URI). Unpartitioned
  tables fall back to a full rewrite, flagged in the returned stats.
- :func:`delete_rows` — keyed deletion over the same plan-then-write path.
- :func:`incremental_append` — high-watermark ingestion: append only source
  rows newer than the stored watermark; watermark persisted in a JSON
  sidecar under the table path (the parquet-world stand-in for a streaming
  checkpoint).

Single writer: nothing here is transactional. Two concurrent writers to one
table can lose each other's rows, and a reader that scans a partition while
it is being replaced can see it missing or half-written. Callers serialize
writes per table (and reads that must not see a rewrite in flight).
"""

from __future__ import annotations

import json
import os
import posixpath
from typing import Any
from urllib.parse import urlparse

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import CacheScope
from .catalog import Lakehouse, table_path
from .io import read_path


def _plan_partitions(
    existing: DataFrame,
    keys_df: DataFrame,
    keys: list[str],
    partition_by: str,
    batch: DataFrame | None = None,
) -> tuple[dict, dict]:
    """The whole partition plan of a keyed rewrite in one ``collect()``.

    ``keys_df`` holds the key columns only. Returns ``(held, landing)``:
    ``held`` maps each partition value holding a key of ``keys_df`` to
    ``(rows, matched, dir)`` — its row count, how many of them match, and
    its directory value (the string Spark writes in
    ``{partition_by}=<dir>``); ``landing`` maps each partition value
    ``batch`` writes to its batch row count.
    """
    hits = keys_df.distinct().withColumn("__hit", F.lit(1))
    plan = (
        existing.select(*dict.fromkeys([partition_by, *keys]))
        .join(hits, keys, "left")
        .groupBy(partition_by)
        .agg(F.count(F.lit(1)).alias("__rows"), F.count("__hit").alias("__matched"))
        .where(F.col("__matched") > 0)
    )
    if batch is not None:
        plan = plan.unionByName(
            batch.groupBy(partition_by)
            .agg(F.count(F.lit(1)).alias("__rows"))
            .withColumn("__matched", F.lit(None).cast("long"))
        )
    held, landing = {}, {}
    for r in plan.withColumn("__dir", F.col(partition_by).cast("string")).collect():
        if r["__matched"] is None:
            landing[r[partition_by]] = r["__rows"]
        else:
            held[r[partition_by]] = (r["__rows"], r["__matched"], r["__dir"])
    return held, landing


def _in_parts(partition_by: str, values: set) -> Column:
    """Filter on a set of partition values, null partition included."""
    vals = [v for v in values if v is not None]
    cond = F.col(partition_by).isin(vals)
    if len(vals) < len(values):
        cond = cond | F.col(partition_by).isNull()
    return cond


def _delete_partitions(
    spark: SparkSession, path: str, partition_by: str, dirs: list[str | None]
) -> None:
    """Remove partition directories through the Hadoop FileSystem, so the
    delete reaches abfss/s3/hdfs tables as well as local ones."""
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    utils = jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    for d in dirs:
        part = utils.getPartitionPathString(partition_by, d)
        fs.delete(jvm.org.apache.hadoop.fs.Path(root, part), True)


def _rewrite_partitions(
    spark: SparkSession,
    path: str,
    existing: DataFrame,
    keys_df: DataFrame,
    keys: list[str],
    partition_by: str,
    batch: DataFrame | None = None,
) -> tuple[int, int]:
    """Plan, then rewrite the affected partitions as ``kept ∪ batch`` in one
    dynamic-overwrite write and delete the partitions the rewrite empties.
    Returns ``(partitions_rewritten, batch_rows)``."""
    held, landing = _plan_partitions(existing, keys_df, keys, partition_by, batch)
    # dynamic overwrite only replaces partitions it writes: a partition the
    # rewrite fully empties (every row matched, none landing) keeps its
    # stale files unless removed explicitly
    emptied = {
        v: d for v, (rows, matched, d) in held.items()
        if rows == matched and v not in landing
    }
    affected = set(held) | set(landing)
    if affected - set(emptied):
        kept = existing.where(_in_parts(partition_by, affected)).join(
            keys_df, keys, "left_anti"
        )
        merged = kept if batch is None else kept.unionByName(batch)
        (
            merged.write.format("parquet")
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_by)
            .save(path)
        )
    _delete_partitions(spark, path, partition_by, list(emptied.values()))
    return len(affected), sum(landing.values())


def _swap_rewrite(path: str, merged: DataFrame, tag: str) -> None:
    """Full rewrite through a temp dir + atomic swap (a path can't be
    overwritten while it is being read)."""
    import shutil
    import uuid

    tmp = f"{path}__{tag}_{uuid.uuid4().hex}"
    merged.write.format("parquet").mode("overwrite").save(tmp)
    parsed = urlparse(path)
    old = parsed.path or path
    back = f"{old}__old_{uuid.uuid4().hex}"
    os.rename(old, back)
    os.rename(urlparse(tmp).path or tmp, old)
    shutil.rmtree(back, ignore_errors=True)


def upsert_table(
    spark: SparkSession,
    lakehouse: Lakehouse,
    table_name: str,
    updates: DataFrame,
    keys: list[str],
    partition_by: str | None = None,
) -> dict[str, Any]:
    """MERGE semantics: rows matching ``keys`` are replaced by ``updates``,
    new keys are inserted, untouched rows are preserved.

    ``updates`` is computed once: it is persisted for the call and released
    before returning. Partitioned path: one ``collect()`` plans the affected
    partitions — those the batch lands in plus those holding a matched key
    (a key whose partition value changes must leave its old partition) —
    and the partitions the merge empties; one dynamic-overwrite write then
    rebuilds only the affected partitions as existing-minus-matched ∪
    updates, so untouched partitions' files are never rewritten. Emptied
    partitions are deleted through the Hadoop FileSystem. Single writer
    per table (see the module docstring).
    """
    path = table_path(lakehouse, table_name)
    existing = read_path(spark, path, "parquet")
    scope = CacheScope()
    try:
        batch = scope.persist(updates.select(*existing.columns))
        if partition_by:
            n_parts, n_updates = _rewrite_partitions(
                spark, path, existing, batch.select(*keys), keys, partition_by, batch
            )
            return {
                "mode": "dynamic-partition",
                "partitions_rewritten": n_parts,
                "updates": n_updates,
            }
        n_updates = batch.count()
        kept = existing.join(batch.select(*keys), keys, "left_anti")
        _swap_rewrite(path, kept.unionByName(batch), "upsert")
        return {"mode": "full-rewrite", "updates": n_updates}
    finally:
        scope.unpersist()


def delete_rows(
    spark: SparkSession,
    lakehouse: Lakehouse,
    table_name: str,
    keys_df: DataFrame,
    keys: list[str],
    partition_by: str | None = None,
) -> dict[str, Any]:
    """Keyed deletion (the right-to-be-forgotten op): remove every row whose
    ``keys`` appear in ``keys_df``.

    Partitioned path shares :func:`upsert_table`'s plan-then-write: one
    ``collect()`` finds the partitions holding targeted keys, one dynamic
    overwrite rewrites only those, and a partition the delete empties is
    removed through the Hadoop FileSystem — so deleting one user from a
    user-partitioned 100 TB table touches one partition. Unpartitioned:
    anti-join + atomic-swap rewrite. Single writer per table.
    """
    path = table_path(lakehouse, table_name)
    existing = read_path(spark, path, "parquet")
    if not partition_by:
        kept = existing.join(keys_df.select(*keys), keys, "left_anti")
        _swap_rewrite(path, kept, "delete")
        return {"mode": "full-rewrite"}
    scope = CacheScope()
    try:
        targets = scope.persist(keys_df.select(*keys))
        n_parts, _ = _rewrite_partitions(spark, path, existing, targets, keys, partition_by)
    finally:
        scope.unpersist()
    return {"mode": "dynamic-partition", "partitions_rewritten": n_parts}


def _watermark_path(lakehouse: Lakehouse, table_name: str) -> str:
    return posixpath.join(table_path(lakehouse, table_name) + "__meta", "watermark.json")


def get_watermark(lakehouse: Lakehouse, table_name: str) -> str | None:
    p = _watermark_path(lakehouse, table_name)
    local = urlparse(p).path or p
    if os.path.exists(local):
        with open(local) as f:
            return json.load(f)["watermark"]
    return None


def incremental_append(
    spark: SparkSession,
    lakehouse: Lakehouse,
    table_name: str,
    source: DataFrame,
    ts_col: str,
) -> dict[str, Any]:
    """Append only source rows with ``ts_col`` strictly beyond the stored
    high watermark, then advance it. First call ingests everything.

    Idempotent between watermark advances: re-running with an unchanged
    source appends nothing. (Exactly-once under concurrent writers needs a
    transactional log — Delta/Iceberg territory; this is the single-writer
    batch pattern.)
    """
    path = table_path(lakehouse, table_name)
    wm = get_watermark(lakehouse, table_name)
    fresh = source if wm is None else source.where(F.col(ts_col) > F.lit(wm))
    new_wm_row = fresh.agg(F.max(ts_col).alias("m")).first()
    n = fresh.count()
    if n:
        fresh.write.format("parquet").mode("append").save(path)
        wm_out = str(new_wm_row["m"])
        local_meta = urlparse(_watermark_path(lakehouse, table_name)).path
        os.makedirs(os.path.dirname(local_meta), exist_ok=True)
        with open(local_meta, "w") as f:
            json.dump({"watermark": wm_out}, f)
    return {"appended": n, "watermark": get_watermark(lakehouse, table_name)}


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Change-data-capture between two table snapshots: one row per
    changed key with ``change_type`` ∈ {insert, delete, update} — the
    hand-rolled equivalent of a Delta Change Data Feed read, for engines
    (or history windows) where no CDF was recorded.

    Implementation is a single full-outer join on ``keys`` plus a
    struct-packed column comparison: both sides' non-key columns travel
    as ONE struct each, so update detection is a single null-safe struct
    equality (atomic row semantics — no per-column drift) and the output
    carries the old/new images the way CDF does. One shuffle, partial
    nothing — at 100 TB run it on partition-pruned slices (the usual CDC
    window) or bucketed snapshots for a shuffle-free join.

    Unchanged keys are dropped. Output: keys…, change_type,
    old_image struct, new_image struct.
    """
    if compare_cols is None:
        compare_cols = [c for c in new.columns if c not in keys]
    o = old.select(
        *keys, F.struct(*[F.col(c) for c in compare_cols]).alias("old_image")
    )
    n = new.select(
        *keys, F.struct(*[F.col(c) for c in compare_cols]).alias("new_image")
    )
    joined = o.join(n, keys, "full_outer")
    change = (
        F.when(F.col("old_image").isNull(), F.lit("insert"))
        .when(F.col("new_image").isNull(), F.lit("delete"))
        .when(~F.col("old_image").eqNullSafe(F.col("new_image")), F.lit("update"))
    )
    return (
        joined.withColumn("change_type", change)
        .where(F.col("change_type").isNotNull())
        .select(*keys, "change_type", "old_image", "new_image")
    )
