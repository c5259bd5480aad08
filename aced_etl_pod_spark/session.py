"""SparkSession factory and runtime tuning.

The reference job is a single sequential Python process with no execution
engine of its own (``etl-job/fhir_import_export.py:451-468`` — per-commit
loop). Here every pipeline compiles to a Catalyst plan; this module pins the
configs that matter at 100 TB (AQE, skew-join handling, partition coalescing)
and the ones that matter for oracle parity (UTC session timezone, Arrow).
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

# Confs that are safe to set on a *running* session (runtime-mutable SQL confs).
# Applied by every operator entry point so driver-provided sessions behave the
# same as ones we build ourselves.
RUNTIME_CONF: dict[str, str] = {
    # Oracle parity: DuckDB timestamps are UTC-naive.
    "spark.sql.session.timeZone": "UTC",
    # 100 TB discipline: runtime re-planning, partition coalescing, skew splits.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas-UDF / toPandas boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Nested-schema pruning so struct flattening ("simplify",
    # fhir_import_export.py:219-222 analog) prunes at the scan.
    "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
    # Keep large IN lists as per-value parquet predicates instead of the
    # default >10-value min/max range rewrite: the bucketed IVF layout
    # relies on `cid IN (<n_probe cells>)` pruning ROW GROUPS off the
    # sorted cid column's stats, and a range [min,max] over scattered
    # cell ids prunes almost nothing (measured at x200: 142 -> 101 ms on
    # the probed-cells scan). 1024 eq-checks per row-group stat is noise
    # next to decoding a skipped row group.
    "spark.sql.parquet.pushdown.inFilterThreshold": "1024",
    # Trust a bucketed table's SORTED BY metadata when (and only when —
    # Spark lists files at planning and applies this solely to buckets
    # with exactly ONE file, which the bucketed_layout writer guarantees
    # via repartition-before-bucketBy) each bucket is a single sorted
    # file: the SMJ's per-task sorts disappear. Round-11, decisive at
    # scale: the x800 lineitem⋈orders bucketed join spent 18-54 s
    # SPILL-SORTING 15 M rows per task with the flag off, 4.5 s with it
    # on (0.87x vs DuckDB — a win on the corpus's biggest join).
    "spark.sql.legacy.bucketedTableScan.outputOrdering": "true",
    # ANSI off: test data is benign; keeps cast semantics permissive like the
    # reference's json.loads-based ingestion.
    "spark.sql.ansi.enabled": "false",
}


def tune(spark: SparkSession) -> SparkSession:
    """Set the ``RUNTIME_CONF`` keys on an existing session (idempotent).
    No other conf is touched, so a harness's own settings survive every
    operator entry point."""
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in this deployment; builder-level conf covers it
    return spark


@contextmanager
def scoped_confs(spark: SparkSession, confs: dict[str, str]):
    """Set ``confs`` for the body of the ``with`` only: on exit, even by an
    exception, each key gets its previous value back, or is unset when it
    had none."""
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _default_driver_mem() -> str:
    """Half of physical RAM, capped at 32g: a fixed 32g heap on a smaller
    machine lets the local JVM grow until the OS kills it."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(ram_mb // 2, 32 * 1024)}m"


def get_spark(
    app_name: str = "aced_etl_pod_spark",
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine session.

    local[N] test harness: N = $SPARK_GRAFT_CPUS or all cores. On a real
    cluster the same code runs unchanged — only master/memory confs differ.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    parts = shuffle_partitions if shuffle_partitions is not None else cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(parts))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM", _default_driver_mem()),
        )
        .config("spark.ui.enabled", "false")
        # Spark's 10 MB default, NOT raised: the r9 honest-protocol ladder
        # caught the 64 MB setting broadcasting a 6M-key pruned fact column
        # at x40 — a 2.9 s driver-side HashedRelation build vs 0.6 s for
        # the shuffled join of the same data. Past ~10 MB the build+ship
        # cost beats the shuffle it avoids, locally and at cluster scale.
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    # JVM-start-time confs a harness needs (e.g. spark.eventLog.* for the
    # spill ladder's metric capture) — no effect on an already-running app.
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark)
