"""Skewed-input (hot-block) ladder for the three quadratic-candidate ops
(round-13 verdict item 1 — the last nameable scale-killer shapes):

* ``dedup_levenshtein_pairs`` — ONE degenerate (lang, length-bucket)
  block; the r13 LEV_BLOCK_CAP (op + oracle in lockstep) must drop it,
  bounding candidate pairs to the uniform background.
* ``sim_knn_all_pairs_topk`` — ONE hot label owning 25% of the corpus;
  the r13 salt grid must spread the label over k_salt² cells with the
  EXACT same top-3 output as the plain plan.
* ``graph_triangle_count`` — ONE hub vertex adjacent to everything; the
  r13 (degree, id) orientation must open every wedge at its
  lowest-degree corner, bounding the e1⋈e2 fan-out that the raw-id
  orientation lets explode (identical per-node counts either way).

    python tools/hotblock_ladder.py [--scale 10] [--reps 3] [--case all]

Each case builds a deterministic skewed input under scratch once per
source fingerprint (``tables.fixture``), asserts Spark == DuckDB oracle
on the same files (and Spark-variant == Spark-variant where two plans
exist), then reports warm medians plus the candidate/fan-out counts that
prove the quadratic is bounded. Output: one JSON line per case.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aced_etl_pod_spark import ladder  # noqa: E402
from aced_etl_pod_spark.tables import DEFAULT_SF_DIR as SRC  # noqa: E402

# documents-case hot block: lang/length chosen to collide in ONE
# (lang, n_chars // 16) block, text near-identical so the pairs would
# also all SURVIVE the lev <= 24 filter (worst case end to end)
HOT_LANG = "xx"
HOT_NCHARS = 640


def _link_other_tables(out: str) -> None:
    """Symlink every base table the skewed case does not overwrite, so
    the oracle harness (views over every TABLES file) still resolves."""
    from aced_etl_pod_spark.tables import TABLES

    for t in TABLES:
        dst = os.path.join(out, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(SRC, f"{t}.parquet"), dst)


def build_documents_hot(scale: int) -> str:
    """sf0.1 documents tiled ×scale with CONTENT-PERTURBED replicas (the
    dedup ladder's rule: every token gets a per-replica suffix, so
    replicas are not lev-near-dups of their source — plain tiling would
    measure an O(N²) clone artifact, not the hot block) + ONE hot block
    of 2×LEV_BLOCK_CAP near-identical docs (same lang, same length
    bucket) — the degenerate-template regime the cap exists for."""
    import duckdb

    from aced_etl_pod_spark.operators.llm_pipeline import LEV_BLOCK_CAP
    from aced_etl_pod_spark.tables import fixture

    def build(out):
        hot_n = 2 * LEV_BLOCK_CAP
        con = duckdb.connect()
        con.execute(
            f"""
            COPY (
              WITH base AS (
                SELECT doc_id + r * (SELECT max(doc_id) + 1
                                     FROM '{SRC}/documents.parquet') AS doc_id,
                       regexp_replace(text, '(\\S+)',
                                      '\\0x' || CAST(r AS VARCHAR), 'g') AS text,
                       lang, source,
                       CAST(length(regexp_replace(text, '(\\S+)',
                            '\\0x' || CAST(r AS VARCHAR), 'g')) AS BIGINT)
                           AS n_chars
                FROM '{SRC}/documents.parquet', range({scale}) t(r)
              ), hot AS (
                SELECT 1000000000 + i AS doc_id,
                       repeat('hotblock template line ', 20)
                         || CAST(i % 7 AS VARCHAR) AS text,
                       '{HOT_LANG}' AS lang,
                       'hot' AS source,
                       CAST({HOT_NCHARS} + (i % 16) AS BIGINT) AS n_chars
                FROM range({hot_n}) t(i)
              )
              SELECT * FROM base UNION ALL SELECT * FROM hot
            ) TO '{out}/documents.parquet' (FORMAT PARQUET)
            """
        )
        _link_other_tables(out)

    return fixture(
        f"hotblock_lev_x{scale}", SRC, ("documents.parquet",), build
    )


def build_embeddings_hot(scale: int) -> str:
    """sf0.1 embeddings tiled ×scale with 25% of the vectors remapped to
    ONE hot label — every replica keeps its real embedding (near-dup
    structure preserved), only the blocking key skews."""
    import duckdb

    from aced_etl_pod_spark.tables import fixture

    def build(out):
        con = duckdb.connect()
        con.execute(
            f"""
            COPY (
              SELECT vec_id + r * (SELECT max(vec_id) + 1
                                   FROM '{SRC}/embeddings.parquet') AS vec_id,
                     CASE WHEN (vec_id + r) % 4 = 0 THEN 999
                          ELSE label END AS label,
                     embedding
              FROM '{SRC}/embeddings.parquet', range({scale}) t(r)
            ) TO '{out}/embeddings.parquet' (FORMAT PARQUET)
            """
        )
        _link_other_tables(out)

    return fixture(
        f"hotblock_knn_x{scale}", SRC, ("embeddings.parquet",), build
    )


def build_orders_hub(scale: int) -> str:
    """An orders table whose derived mod-500 graph is SPARSE (ring
    offsets 1/2/3 → degree ~7, triangles by construction) plus ONE hub:
    node 250 — a MID-RANGE id, the worst case for raw-id orientation,
    which then routes ~deg²/4 candidate paths through the hub's shuffle
    key — adjacent to every other node. (degree, id) orientation gives
    the hub outdeg 0: zero paths through it. Edge MULTIPLICITY scales
    ×scale (the op's own shape: orders rows grow, the mod-500 domain
    does not), so the scan/distinct legs scale while the post-distinct
    fan-out stays a pure function of the orientation. (The sf0.1 orders
    graph itself is ~70% complete on 500 nodes — every node a hub — so
    a skew demo needs this synthetic sparse background.)"""
    import duckdb

    from aced_etl_pod_spark.tables import fixture

    def build(out):
        con = duckdb.connect()
        con.execute(
            f"""
            COPY (
              WITH bg AS (
                -- sparse background: node i ~ i+1, i+2, i+3 (mod 500)
                SELECT CAST(500 * (8000000 + j)
                            + ((j % 500) + 1 + ((j // 500) % 3)) % 500
                            AS BIGINT) AS o_orderkey,
                       CAST(500 + (j % 500) AS BIGINT) AS o_custkey
                FROM range({1500 * scale}) t(j)
              ), hub AS (
                -- node 250 meets every node (250≡250 self-loop dropped by
                -- orient_edges)
                SELECT CAST(500 * (4000000 + i // 500) + (i % 500)
                            AS BIGINT) AS o_orderkey,
                       CAST(750 AS BIGINT) AS o_custkey
                FROM range({500 * scale}) t(i)
              ), e AS (
                SELECT * FROM bg UNION ALL SELECT * FROM hub
              )
              SELECT o_orderkey, o_custkey, 'H' AS o_orderstatus,
                     0.0 AS o_totalprice,
                     TIMESTAMP '1995-01-01' AS o_orderdate,
                     'X' AS o_orderpriority
              FROM e
            ) TO '{out}/orders.parquet' (FORMAT PARQUET)
            """
        )
        _link_other_tables(out)

    return fixture(
        f"hotblock_tri_x{scale}", SRC, ("orders.parquet",), build
    )


def _oracle_check(op_id: str, sf: str, spark_df) -> int:
    from aced_etl_pod_spark.oracle import compare, duck_con
    from aced_etl_pod_spark.registry import registry

    con = duck_con(sf)
    duck = con.execute(registry()[op_id].oracle).df()
    errs = compare(spark_df.toPandas(), duck)
    assert not errs, f"{op_id} oracle mismatch on {sf}: {errs[:3]}"
    return len(duck)


def run_lev(spark, scale: int, reps: int) -> dict:
    import duckdb

    from aced_etl_pod_spark.operators.llm_pipeline import (
        LEV_BLOCK_CAP,
        LEV_BLOCK_CHARS,
        dedup_levenshtein_pairs,
    )

    sf = build_documents_hot(scale)
    con = duckdb.connect()
    cnt = lambda pred: con.execute(  # noqa: E731
        f"""SELECT coalesce(sum(c * (c - 1) // 2), 0) FROM (
              SELECT count(*) AS c FROM '{sf}/documents.parquet'
              GROUP BY lang, n_chars // {LEV_BLOCK_CHARS}
              HAVING {pred}) t"""
    ).fetchone()[0]
    pairs_uncapped = cnt("TRUE")
    pairs_capped = cnt(f"count(*) <= {LEV_BLOCK_CAP}")
    spark.sparkContext.setJobDescription(f"hotblock lev x{scale}")
    df = dedup_levenshtein_pairs(spark, sf)
    n_rows = _oracle_check("dedup_levenshtein_pairs", sf, df)
    sec = round(ladder.median_s(df, reps), 3)
    return {
        "case": "dedup_levenshtein_pairs",
        "scale": scale,
        "sec": sec,
        "rows": n_rows,
        "candidate_pairs_capped": int(pairs_capped),
        "candidate_pairs_uncapped_would_be": int(pairs_uncapped),
    }


def run_knn(spark, scale: int, reps: int, with_plain: bool) -> dict:
    import duckdb
    import math

    from aced_etl_pod_spark.operators.similarity import (
        _KNN_SALT_MIN_VECS,
        _knn_all_pairs_plain,
        _knn_all_pairs_salted,
        _knn_salt_width,
        sim_knn_all_pairs_topk,
    )
    from aced_etl_pod_spark.tables import table_row_count

    sf = build_embeddings_hot(scale)
    n = table_row_count(sf, "embeddings")
    k_salt = _knn_salt_width(n)
    con = duckdb.connect()
    hot = con.execute(
        f"""SELECT max(c) FROM (SELECT count(*) AS c
            FROM '{sf}/embeddings.parquet' GROUP BY label)"""
    ).fetchone()[0]
    spark.sparkContext.setJobDescription(f"hotblock knn x{scale} salted")
    salted = _knn_all_pairs_salted(spark, sf, k_salt)
    srt = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    s_rows = srt(salted)
    _oracle_check("sim_knn_all_pairs_topk", sf, salted)
    sec_salted = round(ladder.median_s(salted, reps), 3)
    out = {
        "case": "sim_knn_all_pairs_topk",
        "scale": scale,
        "n_vectors": n,
        "hot_label_rows": int(hot),
        "k_salt": k_salt,
        "dispatches_salted": n >= _KNN_SALT_MIN_VECS,
        # per-cell candidate pairs: the query side replicates into EVERY
        # cell, so a cell enumerates hot × ceil(hot/k_salt) pairs — the
        # salt spreads the hot label's total pair work over k_salt tasks
        # (k_salt× relief on the one hot shuffle key), it does not shrink
        # the total enumeration (that is the op's semantics).
        "max_cell_pairs": int(hot) * int(math.ceil(hot / k_salt)),
        "hot_pairs_one_task_would_be": int(hot) * (int(hot) - 1),
        "sec_salted": sec_salted,
        "rows": len(s_rows),
        "plain_equal_checked": bool(with_plain),
    }
    if with_plain:
        # ONE timed execution serves both the equality check and the
        # before-number: on the hot label the plain plan evaluates the
        # interpreted ArrayAggregate dot per pair inside ONE task
        # (thread-dump evidence, session r13) — ~minutes per run even at
        # x10, so a median-of-3 protocol here burns an hour to restate
        # one number. tests/test_hotblock.py pins plain==salted at small
        # scale; this leg pins it once at ladder scale.
        spark.sparkContext.setJobDescription(f"hotblock knn x{scale} plain")
        plain = _knn_all_pairs_plain(spark, sf)
        t0 = time.perf_counter()
        p_rows = srt(plain)
        out["sec_plain_single_run"] = round(time.perf_counter() - t0, 3)
        assert p_rows == s_rows, (
            "salted plan diverged from plain all-pairs plan"
        )
    if n >= _KNN_SALT_MIN_VECS:
        # the public op must dispatch to the salted plan on this input
        assert srt(sim_knn_all_pairs_topk(spark, sf)) == s_rows
    return out


def run_tri(spark, scale: int, reps: int, with_id_orient: bool) -> dict:
    from pyspark.sql import functions as F

    from aced_etl_pod_spark.functions.graph import (
        orient_edges,
        orient_edges_by_degree,
        triangle_counts,
    )
    from aced_etl_pod_spark.operators.advanced_ops import (
        graph_triangle_count,
    )
    from aced_etl_pod_spark.tables import load

    sf = build_orders_hub(scale)

    def wedges(oriented) -> int:
        e = oriented
        e1 = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
        e2 = e.select(F.col("u").alias("b"), F.col("v").alias("c"))
        return e1.join(e2, "b").count()

    raw = load(spark, sf, "orders").select(
        (F.col("o_custkey") % 500).alias("src"),
        (F.col("o_orderkey") % 500).alias("dst"),
    )
    spark.sparkContext.setJobDescription(f"hotblock tri x{scale}")
    df = graph_triangle_count(spark, sf)
    n_rows = _oracle_check("graph_triangle_count", sf, df)
    sec_degree = round(ladder.median_s(df, reps), 3)
    out = {
        "case": "graph_triangle_count",
        "scale": scale,
        "sec_degree_oriented": sec_degree,
        "rows": n_rows,
        "wedges_degree_oriented": wedges(orient_edges_by_degree(raw)),
    }
    if with_id_orient:
        out["wedges_id_oriented"] = wedges(orient_edges(raw))
        deg = triangle_counts(orient_edges_by_degree(raw))
        idd = triangle_counts(orient_edges(raw))
        srt = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
        assert srt(deg) == srt(idd), "orientation changed triangle counts"
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", type=int, default=10)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument(
        "--case", default="all", choices=["all", "lev", "knn", "tri"]
    )
    ap.add_argument(
        "--no-plain",
        action="store_true",
        help="skip the plain-plan equality leg (for scales where the "
        "unsalted quadratic is impractical by construction)",
    )
    args = ap.parse_args()

    spark = ladder.session("hotblock_ladder", split=None)
    if args.case in ("all", "lev"):
        print(json.dumps(run_lev(spark, args.scale, args.reps)))
    if args.case in ("all", "knn"):
        print(
            json.dumps(
                run_knn(spark, args.scale, args.reps, not args.no_plain)
            )
        )
    if args.case in ("all", "tri"):
        print(
            json.dumps(
                run_tri(spark, args.scale, args.reps, not args.no_plain)
            )
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
