"""Scale toolkit: the shuffle-discipline primitives for 100 TB
(SURVEY §7.3.7 — partition-key-first design, skew handling, co-location).

Three levers, in preference order:
  1. AQE (enabled session-wide, session.py): runtime partition coalescing
     + automatic skew-join splitting. Free; always on.
  2. Salting (here): when one key dominates a groupBy/join, spread it over
     ``salt`` sub-keys, combine, then merge — two small shuffles instead of
     one stuck straggler. Deterministic salt = pmod(hash(row id), salt).
  3. Bucketing (here): pre-shuffle both sides of a recurring join into the
     same bucket layout at WRITE time; every later join on the bucket key
     sort-merges with NO exchange on either side — at 100 TB this converts
     the dominant per-query shuffle into a one-time write cost.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aced_etl_pod_spark.session import tune


def salted_group_count(
    df: DataFrame, key: str, salt_col: str, n_salt: int = 8
) -> DataFrame:
    """Two-phase skew-safe count: groupBy (key, salt) partial → groupBy key
    merge. Identical result to ``groupBy(key).count()``; the heavy key's
    rows split across ``n_salt`` reducers in phase 1."""
    salted = df.withColumn("_salt", F.pmod(F.hash(F.col(salt_col)), F.lit(n_salt)))
    partial = salted.groupBy(key, "_salt").agg(F.count("*").alias("_c"))
    return partial.groupBy(key).agg(F.sum("_c").cast("long").alias("n"))


def salted_join_small_skew(
    fact: DataFrame, dim: DataFrame, key: str, n_salt: int = 8
) -> DataFrame:
    """Skew-safe equi-join: fact rows get a deterministic salt; the dim side
    is replicated ``n_salt`` ways so every (key, salt) pair still matches.
    Use when the dim is modest but a fact key is hot enough to straggle even
    under AQE. Column set = fact ∪ dim (like a plain equi-join on key)."""
    salted_fact = fact.withColumn("_salt", F.pmod(F.hash(F.monotonically_increasing_id()), F.lit(n_salt)))
    exploded_dim = dim.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    )
    return salted_fact.join(exploded_dim, [key, "_salt"]).drop("_salt")


def write_bucketed(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int = 8,
) -> None:
    """Persist a table bucketed+sorted on the join key (Hive-style layout in
    the session warehouse). Subsequent joins on ``key`` between tables with
    matching bucket specs skip the exchange entirely. Drops any stale
    catalog entry AND its on-disk location (a previous session's location
    survives the catalog)."""
    tune(spark)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    loc = os.path.join(wh.removeprefix("file:"), table)
    if os.path.isdir(loc):
        import shutil

        shutil.rmtree(loc, ignore_errors=True)
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(table)
    )
