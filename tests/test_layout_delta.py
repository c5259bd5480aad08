"""Round-13 verdict item 3 — incremental layout maintenance: the
append-batch merge paths for the q10 per-user mask table and the q1
pricing summary must answer identically to a full rebuild over
base ⧺ delta (and match the DuckDB oracle on the combined input),
including the degenerate deltas (empty, all-null users, type-domain
overflow → clean fallback signal)."""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from aced_etl_pod_spark.oracle import compare, duck_con
from aced_etl_pod_spark.registry import registry
from aced_etl_pod_spark.tables import TABLES

from tests.conftest import SF_SMALL

REG = registry()


def _combined_dir(
    tmp_path, monkeypatch, table: str, delta_sql: str | None
) -> str:
    """A sf dir whose ``table`` = SF_SMALL's rows ⧺ delta rows (single
    parquet file), everything else symlinked — the input a FULL rebuild
    sees, and the oracle's ground truth for the merged fixture. Fixtures
    built for the test go to a scratch under ``tmp_path`` and are
    removed with it."""
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path / "scratch"))
    out = str(tmp_path / "combined")
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    base = f"SELECT * FROM '{SF_SMALL}/{table}.parquet'"
    sql = base if delta_sql is None else f"{base} UNION ALL {delta_sql}"
    con.execute(f"COPY ({sql}) TO '{out}/{table}.parquet' (FORMAT PARQUET)")
    for t in TABLES:
        dst = os.path.join(out, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(SF_SMALL, f"{t}.parquet"), dst)
    return out


def _srt(df):
    return sorted(tuple(r) for r in df.collect())


EVENTS_DELTA_SQL = """
    SELECT CAST(900000 + i AS BIGINT) AS event_id,
           TIMESTAMP '2024-03-01' + to_minutes(i) AS ts,
           CASE WHEN i % 7 = 0 THEN NULL
                ELSE CAST(5000 + (i % 40) AS BIGINT) END AS user_id,
           CASE WHEN i % 5 = 0 THEN 'delta_type_' || (i % 3)
                ELSE 'click' END AS event_type,
           1.0 AS value, '{}' AS props
    FROM range(200) t(i)
"""


def test_mask_delta_merge_equals_full_rebuild(spark, tmp_path, monkeypatch):
    from aced_etl_pod_spark.operators.aggs import (
        _user_mask_fixture,
        mask_table_counts,
        merge_user_mask_delta,
    )
    from aced_etl_pod_spark.tables import load

    combined = _combined_dir(tmp_path, monkeypatch, "events", EVENTS_DELTA_SQL)
    base_fix = _user_mask_fixture(spark, SF_SMALL)
    assert base_fix is not None

    delta = load(spark, combined, "events").filter(
        F.col("event_id") >= 900000
    )
    merged = merge_user_mask_delta(
        spark, base_fix, delta, str(tmp_path / "merged_masks")
    )
    assert merged is not None

    full_fix = _user_mask_fixture(spark, combined)
    ans_merged = _srt(
        mask_table_counts(spark.read.parquet(f"{merged}/masks"))
    )
    ans_full = _srt(
        mask_table_counts(spark.read.parquet(f"{full_fix}/masks"))
    )
    assert ans_merged == ans_full

    # and both equal the recompute-from-base oracle on the combined input
    duck = duck_con(combined).execute(
        REG["agg_distinct_count_mask_ingest"].oracle
    ).df()
    assert not compare(
        mask_table_counts(
            spark.read.parquet(f"{merged}/masks")
        ).toPandas(),
        duck,
    )


def test_mask_delta_degenerate_sweeps(spark, tmp_path):
    from aced_etl_pod_spark.operators.aggs import (
        _user_mask_fixture,
        mask_table_counts,
        merge_user_mask_delta,
    )
    from aced_etl_pod_spark.tables import load

    base_fix = _user_mask_fixture(spark, SF_SMALL)
    base_events = load(spark, SF_SMALL, "events")
    base_ans = _srt(
        mask_table_counts(spark.read.parquet(f"{base_fix}/masks"))
    )

    # empty delta: merge is the identity
    empty = base_events.limit(0)
    out = merge_user_mask_delta(
        spark, base_fix, empty, str(tmp_path / "m_empty")
    )
    assert _srt(
        mask_table_counts(spark.read.parquet(f"{out}/masks"))
    ) == base_ans

    # all-null users: rows carry type bits (n_types) but no user rows
    nulls = base_events.limit(5).select(
        "event_id",
        F.lit(None).cast("long").alias("user_id"),
        "event_type",
        "ts",
        *[c for c in base_events.columns
          if c not in ("event_id", "user_id", "event_type", "ts")],
    )
    out = merge_user_mask_delta(
        spark, base_fix, nulls, str(tmp_path / "m_null")
    )
    got = _srt(mask_table_counts(spark.read.parquet(f"{out}/masks")))
    assert got == base_ans  # same types, no new users, no new pairs

    # type-domain overflow past 62 bits: clean None (caller falls back)
    many = spark.range(70).select(
        (F.col("id") + 950000).alias("event_id"),
        F.lit(1).cast("long").alias("user_id"),
        F.concat(F.lit("overflow_"), F.col("id")).alias("event_type"),
        F.lit("2024-01-01").cast("timestamp").alias("ts"),
        *[
            F.lit(None).cast(base_events.schema[c].dataType).alias(c)
            for c in base_events.columns
            if c not in ("event_id", "user_id", "event_type", "ts")
        ],
    )
    assert (
        merge_user_mask_delta(
            spark, base_fix, many, str(tmp_path / "m_over")
        )
        is None
    )


def test_q1_summary_delta_merge_equals_full_rebuild(
    spark, tmp_path, monkeypatch
):
    from aced_etl_pod_spark.operators.aggs import (
        _q1_summary_fixture,
        merge_q1_summary_delta,
        q1_summary_answer,
    )
    from aced_etl_pod_spark.tables import load

    # project the sample through the base column list so the union matches
    con = duckdb.connect()
    cols = [
        r[0]
        for r in con.execute(
            f"DESCRIBE SELECT * FROM '{SF_SMALL}/lineitem.parquet'"
        ).fetchall()
    ]
    delta_sql = f"""
        SELECT {', '.join(c if c != 'l_orderkey' else 'l_orderkey + 900000 AS l_orderkey' for c in cols)}
        FROM '{SF_SMALL}/lineitem.parquet' USING SAMPLE 20% (reservoir, 7)
    """
    combined = _combined_dir(tmp_path, monkeypatch, "lineitem", delta_sql)

    base_fix = _q1_summary_fixture(spark, SF_SMALL)
    delta = load(spark, combined, "lineitem").filter(
        F.col("l_orderkey") >= 900000
    )
    merged = merge_q1_summary_delta(
        spark, base_fix, delta, str(tmp_path / "merged_q1")
    )
    full_fix = _q1_summary_fixture(spark, combined)
    assert _srt(q1_summary_answer(spark, merged)) == _srt(
        q1_summary_answer(spark, full_fix)
    )
    duck = duck_con(combined).execute(
        REG["agg_group_sums_summary_ingest"].oracle
    ).df()
    assert not compare(q1_summary_answer(spark, merged).toPandas(), duck)

    # empty delta: identity
    out = merge_q1_summary_delta(
        spark,
        base_fix,
        load(spark, SF_SMALL, "lineitem").limit(0),
        str(tmp_path / "q1_empty"),
    )
    assert _srt(q1_summary_answer(spark, out)) == _srt(
        q1_summary_answer(spark, base_fix)
    )
