"""Deterministic micro-batch replay of the ``events`` table.

Structured Streaming's file source lists files oldest-mtime-first; we
materialize the events table into N parquet files with pinned mtimes, so a
``readStream`` over the directory replays them as a deterministic sequence
of micro-batches (``maxFilesPerTrigger=1``). That turns every ``stream_*``
operator into a reproducible, oracle-checkable computation (SURVEY §5.6) —
no wall-clock, no rate source.

In production the same queries run unchanged over Kafka/object-store
arrivals; only the source line differs.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aced_etl_pod_spark.session import scoped_confs
from aced_etl_pod_spark.tables import load, session_scratch_dir

EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


DOCS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def materialize_batches(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    splits: list | None = None,
    extra_batches: list[DataFrame] | None = None,
    table: str = "events",
) -> str:
    """Write a test table into one file per split predicate (in replay
    order); defaults to ``events``.

    ``splits`` is a list of boolean Column predicates; rows matching split i
    land in file i, which the file source will deliver as micro-batch i
    (mtimes are pinned increasing). Default: a single batch with everything.

    ``extra_batches`` are appended AFTER the splits, one micro-batch per
    DataFrame (must match :data:`EVENTS_STREAM_SCHEMA`). Use for synthetic
    watermark-nudge rows: stateful operators (outer joins, late-data
    eviction) hold their tail results until the watermark passes, and Spark
    filters/evicts with the PREVIOUS batch's watermark — so a deterministic
    end-of-stream flush needs two trailing far-future batches.
    """
    out = session_scratch_dir(f"stream/{name}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    events = load(spark, sf_dir, table)
    if splits is None:
        splits = [F.lit(True)]
    batch_dfs = [events.filter(pred) for pred in splits]
    batch_dfs += list(extra_batches or [])
    for i, df in enumerate(batch_dfs):
        tmp = os.path.join(out, f"_tmp_{i}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(out, f"batch_{i:03d}.parquet")
        shutil.move(part, dst)
        shutil.rmtree(tmp)
        os.utime(dst, (1_700_000_000 + i * 100, 1_700_000_000 + i * 100))
    return out


def nudge_batch(spark: SparkSession, event_types: tuple[str, ...]) -> DataFrame:
    """One far-future synthetic row per event type (negative ids, so real
    keys never join against them). Two of these appended to a replay advance
    every watermark past all real data — the deterministic substitute for
    'wait until the stream goes idle'."""
    from datetime import datetime

    rows = [
        (-(i + 1), datetime(2099, 1, 1), -(i + 1), et, 0.0, "{}")
        for i, et in enumerate(event_types)
    ]
    return spark.createDataFrame(rows, EVENTS_STREAM_SCHEMA)


def read_stream(
    spark: SparkSession, src_dir: str, schema: T.StructType | None = None
) -> DataFrame:
    """File-source stream over a materialized batch dir, one file per
    micro-batch. ``schema`` defaults to the events layout."""
    return (
        spark.readStream.schema(schema or EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )


def capped_partitions(spark: SparkSession):
    """``spark.sql.shuffle.partitions`` capped at max(cores, 8) for the body
    of the ``with`` only.

    A stateful streaming query pins its state-store partitioning to that
    conf AT START (AQE never applies to streaming), so a foreign session's
    default of 200 means 200 state files per micro-batch on a laptop-sized
    replay. On a real cluster the session owner's value (or a checkpoint's
    existing partitioning) governs, as it should. Hold the cap until the
    replay drains: the stream execution thread reads the conf when it
    initializes, which races a restore right after ``start()``."""
    key = "spark.sql.shuffle.partitions"
    cores = spark.sparkContext.defaultParallelism
    cap = min(int(spark.conf.get(key)), max(cores, 8))
    return scoped_confs(spark, {key: str(cap)})


def run_to_memory(result: DataFrame, query_name: str, output_mode: str) -> DataFrame:
    """Run a streaming computation to completion against the memory sink and
    return the final table. ``processAllAvailable`` drains every pending
    micro-batch synchronously — deterministic replay, then stop. Runs
    under :func:`capped_partitions`."""
    spark = result.sparkSession
    with capped_partitions(spark):
        q = (
            result.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(query_name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return spark.table(query_name)


def run_foreach_batch(result: DataFrame, sink_fn) -> None:
    """Run a stream through foreachBatch to completion (exactly-once style
    incremental sink, fhir_import_export.py:288 upsert generalized), under
    :func:`capped_partitions`."""
    with capped_partitions(result.sparkSession):
        q = result.writeStream.foreachBatch(sink_fn).outputMode("update").start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
