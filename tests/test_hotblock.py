"""Round-13 quadratic-block hardenings (verdict item 1) + the q2
summary on a near-unique nationkey domain: focused pins for the ops
whose skew discipline changed, each asserting result-equivalence (and, where the
semantics gained a declared cap, Spark == DuckDB oracle in lockstep on
an input that TRIGGERS the cap — the sf dirs never do)."""

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


def _sf_dir_with(tmp_path, table_sql: dict[str, str]) -> str:
    """A miniature sf dir: the given tables materialized as single
    parquet FILES via DuckDB (the oracle harness globs single files),
    everything else symlinked from SF_SMALL."""
    out = str(tmp_path / "sf")
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    for t, sql in table_sql.items():
        con.execute(f"COPY ({sql}) TO '{out}/{t}.parquet' (FORMAT PARQUET)")
    for t in TABLES:
        dst = os.path.join(out, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(SF_SMALL, f"{t}.parquet"), dst)
    return out


def _srt(df):
    return sorted(tuple(r) for r in df.collect())


def test_levenshtein_block_cap_drops_degenerate_block(spark, tmp_path):
    """One (lang, length-bucket) block past LEV_BLOCK_CAP is dropped by
    BOTH engines (the cap is declared in the oracle too); the normal
    blocks' pairs are untouched."""
    from aced_etl_pod_spark.operators.llm_pipeline import LEV_BLOCK_CAP

    hot_n = LEV_BLOCK_CAP + 4
    sf = _sf_dir_with(
        tmp_path,
        {
            "documents": f"""
            SELECT 1000 + i AS doc_id,
                   'hot template ' || CAST(i % 3 AS VARCHAR) AS text,
                   'xx' AS lang, 'hot' AS source,
                   320 + (i % 16) AS n_chars
            FROM range({hot_n}) t(i)
            UNION ALL
            SELECT 10 + i, 'normal prefix ' || CAST(i AS VARCHAR),
                   'en', 'norm', 48 + (i % 16)
            FROM range(6) t(i)
            """
        },
    )
    df = REG["dedup_levenshtein_pairs"].fn(spark, sf)
    rows = _srt(df)
    # only the 6-doc 'en' block survives: C(6,2) = 15 candidate pairs,
    # all within lev <= 24 of each other by construction
    assert rows, "normal block must still produce pairs"
    assert all(r[0] < 1000 and r[1] < 1000 for r in rows), (
        "a pair from the capped hot block leaked through"
    )
    duck = duck_con(sf).execute(REG["dedup_levenshtein_pairs"].oracle).df()
    assert not compare(df.toPandas(), duck)


def test_knn_salted_equals_plain_and_dispatch(spark):
    """The salt-grid two-stage top-3 returns EXACTLY the plain per-label
    all-pairs result (any total order's top-k is contained in the union
    of its cells' top-k); below the 50 k-vector knee the public op keeps
    the plain plan (no salt derivation in the plan)."""
    from aced_etl_pod_spark.operators.similarity import (
        _knn_all_pairs_plain,
        _knn_all_pairs_salted,
        sim_knn_all_pairs_topk,
    )

    plain = _srt(_knn_all_pairs_plain(spark, SF_SMALL))
    for k_salt in (2, 3, 7):
        assert _srt(_knn_all_pairs_salted(spark, SF_SMALL, k_salt)) == plain

    pub = sim_knn_all_pairs_topk(spark, SF_SMALL)
    assert _srt(pub) == plain
    plan = pub._jdf.queryExecution().executedPlan().toString()
    assert "xxhash64" not in plan, "sub-knee public op must stay unsalted"


def test_triangle_degree_orientation_bounds_hub_wedges(spark):
    """The candidate fan-out of triangle_counts' path join (a,b)⋈(b,c)
    is sum over b of indeg(b)·outdeg(b). Under raw-id orientation a
    MID-ID hub splits its neighbors into ~deg/2 below and ~deg/2 above —
    deg²/4 candidate paths through it. Under (degree, id) orientation
    the hub sorts LAST, so its outdeg is 0 and it contributes nothing;
    per-node triangle counts are identical either way."""
    from aced_etl_pod_spark.functions.graph import (
        orient_edges,
        orient_edges_by_degree,
        triangle_counts,
    )

    n = 61
    mid = n // 2
    hub = [(mid, i) for i in range(n) if i != mid]
    ring = [(i, (i + 1) % n) for i in range(n)]  # low-degree background
    edges = spark.createDataFrame(hub + ring, "src long, dst long")

    def wedges(e):
        e1 = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
        e2 = e.select(F.col("u").alias("b"), F.col("v").alias("c"))
        return e1.join(e2, "b").count()

    w_id = wedges(orient_edges(edges))
    w_deg = wedges(orient_edges_by_degree(edges))
    # id orientation: ~(deg/2)² candidate paths through the mid-id hub
    assert w_id >= (mid - 2) * (mid - 2)
    # degree orientation: the hub contributes zero paths
    assert w_deg < w_id / 4
    assert _srt(triangle_counts(orient_edges_by_degree(edges))) == _srt(
        triangle_counts(orient_edges(edges))
    )


def test_q2_degenerate_probe_short_circuits(spark, tmp_path):
    """A near-unique nationkey domain no longer needs a probe: the
    summary holds at most one row per distinct nationkey, so it is never
    larger than the orders-customer join it replaces and still answers
    exactly. The fixture always writes its summary (no degenerate
    marker, no distinct-key job), and both the summary op and the
    dispatched op above the 1 M-order knee equal the plain star join."""
    from unittest import mock

    from aced_etl_pod_spark.operators.joins import (
        _q2_plain_star,
        join_multiway_star,
    )
    from aced_etl_pod_spark.operators.scale_ops import (
        _q2_summary_fixture,
        join_multiway_star_summary_ingest,
    )

    sf = _sf_dir_with(
        tmp_path,
        {
            # orders >> customers, and the nationkey domain is near-
            # unique per customer (25 joinable keys + a long synthetic
            # tail)
            "orders": """
            SELECT i AS o_orderkey, (i % 400) AS o_custkey,
                   'O' AS o_orderstatus, 100.0 + i AS o_totalprice,
                   TIMESTAMP '1995-01-01' AS o_orderdate,
                   'P' AS o_orderpriority
            FROM range(4000) t(i)
            """,
            "customer": """
            SELECT i AS c_custkey, 'c' || i AS c_name,
                   CAST(i AS INTEGER) AS c_nationkey,
                   0.0 AS c_acctbal, 'BUILDING' AS c_mktsegment
            FROM range(400) t(i)
            """,
        },
    )
    plain = _srt(_q2_plain_star(spark, sf))
    assert _srt(join_multiway_star_summary_ingest(spark, sf)) == plain
    with mock.patch(
        "aced_etl_pod_spark.tables.table_row_count", return_value=1_000_000
    ):
        assert _srt(join_multiway_star(spark, sf)) == plain
    path = _q2_summary_fixture(spark, sf)
    assert sorted(os.listdir(path)) == ["_DONE", "summary"]
