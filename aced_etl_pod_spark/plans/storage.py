"""Partitioned-table storage primitives.

The reference keeps every store keyed by ``project_id`` — flat-index bulk
load (etl-job/fhir_import_export.py:230-258), per-key upsert of discovery
records (:288), and project-wide delete (:372-385). Here those roles are
filled by parquet tables physically partitioned on the tenancy key, so:

  * load   → ``write.partitionBy(key)`` (one dir per key),
  * delete → dropping a partition directory — O(metadata), not O(data).
    On local FS that is a directory remove; on object stores the same
    operation is a manifest/prefix delete. Never a full-table rewrite.
  * upsert → dynamic partition overwrite: only the partitions present in
    the incoming batch are replaced; all other partitions are untouched
    (again O(changed keys), not O(table)).

At 100 TB the tenancy key is the coarse partition; within a partition,
files stay ~128 MB-1 GB via AQE coalescing at write time.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from aced_etl_pod_spark.session import tune


def write_partitioned(df: DataFrame, path: str, key: str, mode: str = "overwrite") -> None:
    """Partitioned parquet write (flat-index load analog, R9). Full-table
    load semantics: overwrite replaces EVERY partition (static mode pinned
    per-write so a session-level dynamic setting can never turn this into a
    partial overwrite that leaves stale partitions behind)."""
    df.write.mode(mode).option("partitionOverwriteMode", "static").partitionBy(
        key
    ).parquet(path)


def drop_partition(path: str, key: str, value: str) -> bool:
    """Drop one partition of a partitioned table (project delete analog,
    R17, fhir_import_export.py:372-385). Metadata-only: removes the
    partition directory, touching no other partition's data."""
    part_dir = os.path.join(path, f"{key}={value}")
    if os.path.isdir(part_dir):
        shutil.rmtree(part_dir)
        return True
    return False


def upsert_partitions(spark: SparkSession, updates: DataFrame, path: str, key: str) -> None:
    """Replace exactly the partitions present in ``updates`` (discovery
    upsert analog, R12, fhir_import_export.py:288). Uses Spark's dynamic
    partition overwrite so untouched partitions are never rewritten."""
    tune(spark)
    # Per-write option, NOT a session conf mutation: a session-wide
    # "dynamic" would silently turn later full-table overwrites into
    # partial ones.
    updates.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy(key).parquet(path)


def upsert_by_key(base: DataFrame, updates: DataFrame, key: str) -> DataFrame:
    """Row-level upsert as a plan: keep base rows whose key is absent from
    updates (anti-join), then union the updates. The MERGE emulation for
    plain parquet (Delta/Iceberg MERGE is the managed-table equivalent)."""
    return base.join(updates.select(key).distinct(), on=key, how="left_anti").unionByName(
        updates
    )


def scd2_merge(base: DataFrame, updates: DataFrame, key: str, ts_new: str) -> DataFrame:
    """Slowly-changing-dimension type-2 MERGE as one plan (the history-
    preserving sibling of :func:`upsert_by_key`; `MERGE INTO ... WHEN
    MATCHED/NOT MATCHED` on managed tables).

    ``base`` carries (key, attrs..., valid_from, valid_to, is_current).
    For every update key: the current base version is closed out
    (valid_to=ts_new, is_current=false); the update row is appended as the
    new current version (valid_from=ts_new). Rows with untouched keys and
    already-historical rows pass through unchanged.

    All three legs are key-equi-joins against the distinct update keys —
    broadcastable when the update batch is small (the common case), never a
    full-table rewrite of history.

    SINGLE-PASS REWRITE MEASURED AND REJECTED (round 13, x40 noop-sink
    A/B): one LEFT join + per-row CASEs over a single base scan is
    row-for-row equivalent but measured 0.472 → 0.570 s — the outer
    join materializes every probe row through the CASE projections where
    the anti/semi legs are filter-style probes (no row expansion), and
    the three base scans parallelize. The op's 4.38× x40 ladder ratio is
    a COLLECT-transfer artifact (709 k result rows through the driver),
    not a plan gap: compute-vs-compute is at parity with DuckDB
    (the x40 long-tail ladder row + the r13 noop A/B, both in
    OPTIMIZATION_r13.md; re-run with tools/bench_ladder.py merge_scd2).
    """
    from pyspark.sql import functions as F

    upd_keys = updates.select(key).distinct()
    untouched = base.join(upd_keys, key, "left_anti")
    hit = base.join(upd_keys, key, "left_semi")
    historical = hit.filter(~F.col("is_current"))
    closed = (
        hit.filter(F.col("is_current"))
        .withColumn("valid_to", F.lit(ts_new))
        .withColumn("is_current", F.lit(False))
    )
    fresh = (
        updates.withColumn("valid_from", F.lit(ts_new))
        .withColumn("valid_to", F.lit(None).cast("string"))
        .withColumn("is_current", F.lit(True))
    )
    return untouched.unionByName(historical).unionByName(closed).unionByName(fresh)
