"""Scale-discipline operators (100 TB design evidence, SURVEY §7.3.7):
skew-safe salted aggregation/join and bucketed co-located joins, each
oracle-verified to produce exactly the plain operator's result — the
physical plan changes, the semantics must not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aced_etl_pod_spark.operators.util import wsum, wsum_sql
from aced_etl_pod_spark.plans.scale import (
    salted_group_count,
    salted_join_small_skew,
    write_bucketed,
)
from aced_etl_pod_spark.registry import op
from aced_etl_pod_spark.tables import load, read_parquet


@op(
    "agg_salted_skew",
    oracle="""
    SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("scale", "agg"),
)
def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted count over a genuinely skewed key (3 distinct
    l_returnflag values): phase 1 spreads each key over 8 sub-reducers,
    phase 2 merges. Result must equal the plain groupBy."""
    li = load(spark, sf_dir, "lineitem")
    return salted_group_count(li, "l_returnflag", "l_orderkey")


@op(
    "join_salted_skew",
    oracle=f"""
    SELECT s_nationkey,
           CAST(count(*) AS BIGINT) AS n_items,
           {wsum_sql("l_quantity")} AS qty
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_nationkey
    """,
    tags=("scale", "join"),
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted join (dim replicated per salt, fact salted
    deterministically) — same rows as the plain equi-join."""
    li = load(spark, sf_dir, "lineitem").withColumnRenamed("l_suppkey", "suppkey")
    sup = load(spark, sf_dir, "supplier").withColumnRenamed("s_suppkey", "suppkey")
    joined = salted_join_small_skew(li, sup, "suppkey")
    return joined.groupBy("s_nationkey").agg(
        F.count("*").alias("n_items"), wsum(F.col("l_quantity")).alias("qty")
    )


@op(
    "join_bucketed_colocated",
    oracle=f"""
    SELECT c_nationkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           {wsum_sql("o_totalprice")} AS total
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_nationkey
    """,
    tags=("scale", "join"),
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket both sides on the join key at write time (8 buckets, sorted),
    then sort-merge join the bucketed tables — NO exchange on either side
    (asserted on the plan in tests/test_plans.py). The one-time-shuffle-at-
    write pattern that amortizes recurring 100 TB joins."""
    orders = load(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "custkey")
    customer = load(spark, sf_dir, "customer").withColumnRenamed("c_custkey", "custkey")
    write_bucketed(spark, orders, "b_orders", "custkey")
    write_bucketed(spark, customer, "b_customer", "custkey")
    bo = spark.table("b_orders")
    bc = spark.table("b_customer")
    joined = bo.hint("merge").join(bc, "custkey")
    return joined.groupBy("c_nationkey").agg(
        F.count("*").alias("n_orders"),
        wsum(F.col("o_totalprice")).alias("total"),
    )


def bucketed_layout(
    spark: SparkSession,
    sf_dir: str,
    table_keys: dict[str, str],
    label: str,
    n_buckets: int = 32,
) -> dict[str, DataFrame]:
    """Persist any set of tables BUCKETED BY their join keys once per
    source fingerprint and return them as catalog tables — the
    pay-at-write-time layout that removes the join-side exchanges from
    every subsequent plan on those keys (generalized round-11 from the
    custkey-specific original; at 100 TB this converts the dominant
    shuffle of each recurring join into a one-time write).

    Layout details that make the read side optimal:

    * ``repartition(n_buckets, key)`` before the bucketed write uses the
      same hash as the bucket spec, so each task holds exactly one
      bucket and writes exactly ONE file — the single-file-per-bucket
      condition under which Spark trusts ``sortBy`` and drops the
      per-partition sort from SMJ plans.
    * files live under a :func:`tables.fixture` dir (fingerprint-keyed,
      atomic publish, age-gated eviction), so concurrent builders can't
      interleave and a fresh session re-REGISTERS the existing files
      (CREATE TABLE ... CLUSTERED BY ... LOCATION) instead of rewriting
      them — the catalog entry is session-local, the bytes are shared.

    Returns {table_name: DataFrame} reading the bucketed tables."""
    import os
    import re

    from aced_etl_pod_spark.session import tune
    from aced_etl_pod_spark.tables import fixture

    def ident(text: str) -> str:
        return re.sub(r"[^0-9a-zA-Z_]", "_", text)

    tune(spark)
    sources = tuple(f"{t}.parquet" for t in sorted(table_keys))

    def build(tmp):
        for src, key in table_keys.items():
            # a build-private catalog name: the tmp dir's name is unique
            tmp_tbl = ident(f"{os.path.basename(tmp)}_{src}")
            spark.sql(f"DROP TABLE IF EXISTS {tmp_tbl}")
            (
                load(spark, sf_dir, src)
                .repartition(n_buckets, F.col(key))
                .write.mode("overwrite")
                .bucketBy(n_buckets, key)
                .sortBy(key)
                # zstd: 32% smaller than snappy on the x800 orders/
                # customer layout (1.20 vs 1.76 GB) at WARM-read
                # parity (0.384 vs 0.398 s isolated q4) — pay-at-
                # write-time bytes are the layout's recurring cost
                # at 100 TB (storage + every cold/evicted re-read).
                # Cold-read deltas weren't claimable on this sandbox
                # (host-level cache pollutes drop_caches A/Bs).
                .option("compression", "zstd")
                .option("path", os.path.join(tmp, src))
                .format("parquet")
                .saveAsTable(tmp_tbl)
            )
            # drop the catalog entry only (external table: files stay)
            spark.sql(f"DROP TABLE {tmp_tbl}")

    root = fixture(label, sf_dir, sources, build)
    # {sf_tag}_{fingerprints}: the catalog names change with the bytes
    tag = ident(f"{os.path.basename(root)[len(label) + 1:]}_{n_buckets}")
    tables = {
        t: (f"{label}_{t}_{tag}", key) for t, key in table_keys.items()
    }
    out = {}
    for src_name, (tbl, key) in tables.items():
        if not spark.catalog.tableExists(tbl):
            # schema from the source loader, NOT parquet inference: an
            # empty corpus publishes a bucketed dir with zero files,
            # which read.parquet can't infer (empty-sweep contract)
            ddl = load(spark, sf_dir, src_name).schema.toDDL()
            spark.sql(
                f"CREATE TABLE {tbl} ({ddl}) USING PARQUET "
                f"CLUSTERED BY ({key}) SORTED BY ({key}) "
                f"INTO {n_buckets} BUCKETS "
                f"LOCATION '{os.path.join(root, src_name)}'"
            )
        out[src_name] = spark.table(tbl)
    return out


def _bucketed_custkey_tables(
    spark: SparkSession, sf_dir: str, n_buckets: int = 32
) -> tuple[DataFrame, DataFrame]:
    """The custkey instance of :func:`bucketed_layout` (q4 semi/anti +
    q2's fact side share this one write)."""
    t = bucketed_layout(
        spark,
        sf_dir,
        {"orders": "o_custkey", "customer": "c_custkey"},
        label="q4bucket",
        n_buckets=n_buckets,
    )
    return t["orders"], t["customer"]


@op(
    "join_left_semi_bucketed",
    oracle="""
    SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_active
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_nationkey
    """,
    tags=("scale", "join", "extra"),
)
def join_left_semi_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q4's semi join against the bucketed-colocated custkey layout
    (:func:`_bucketed_custkey_tables`) — byte-identical result to
    join_left_semi (same oracle), different physical plan: both scans
    come out hash-partitioned on custkey with one sorted file per
    bucket, so the SMJ runs with NO exchange and NO sort on either side;
    the only shuffle left is the final 25-key nationkey agg. The
    round-11 verdict's q4 lever: pay the custkey shuffle once at write
    time, amortize it over every subsequent custkey join."""
    bo, bc = _bucketed_custkey_tables(spark, sf_dir)
    return (
        bc.hint("merge")
        .join(bo, bc.c_custkey == bo.o_custkey, "left_semi")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_active"))
    )


@op(
    "join_multiway_star_bucketed",
    oracle=f"""
    SELECT r_name, n_name,
           CAST(count(*) AS BIGINT) AS order_count,
           {wsum_sql("o_totalprice")} AS revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
    tags=("scale", "join", "extra"),
)
def join_multiway_star_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q2's star join over the SAME bucketed custkey layout as
    join_left_semi_bucketed — the layout-reuse claim made a number: one
    custkey-bucketed write serves every custkey join. The orders⋈customer
    SMJ runs with zero exchanges (both scans co-partitioned, one sorted
    file per bucket); the constant dims still broadcast; the only
    shuffle left is the 125-key (r_name, n_name) agg. Interleaved A/B
    (PLANS.md round-11; money compared at 1e-12 rel, the rule now in
    oracle.compare_at_scale — fold-order ULP drift at trillion-scale
    sums): x200 1.46 -> 0.74 s (2.0x, ratio 6.1x -> 3.1x), x800 4.87 ->
    2.97 s (1.6x, ratio 5.5x -> 3.35x)."""
    bo, bc = _bucketed_custkey_tables(spark, sf_dir)
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    nr = nation.join(region, nation.n_regionkey == region.r_regionkey).select(
        "n_nationkey", "n_name", "r_name"
    )
    return (
        bo.hint("merge")
        .join(bc, bo.o_custkey == bc.c_custkey)
        .join(F.broadcast(nr), bc.c_nationkey == nr.n_nationkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("order_count"),
            wsum(F.col("o_totalprice")).alias("revenue"),
        )
    )


def _q2_summary_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Ingest-time partial-aggregate layout for the star-join revenue
    family (round-12 optimization session 2 — the q1 storage-layer
    idiom applied to q2, mirroring the reference's own flat-index
    materialization step, fhir_import_export.py:230-258).

    One pass joins orders to customer — each projected to the two
    columns the summary needs, so the one-time shuffle carries
    (custkey, totalprice) and (custkey, nationkey), never the wide
    rows — and persists decomposable partials per c_nationkey:
    s = sum(finite(o_totalprice)) under the well-scaled contract and
    n = count(*). The group domain is the nation key (25 values at
    every scale factor), so re-aggregating the summary against the
    broadcast nation x region dim is metadata-priced at any corpus
    size; the dim join stays at QUERY time (dims are the mutable side
    of a star — the summary never bakes in n_name/r_name text).

    Degenerate guard (r12 ADVICE, both items closed r13): the bound is
    min(orders, CUSTOMER) rows — the nationkey domain lives on customer,
    so comparing group count to orders alone never fires when
    orders >> customers and a ~|customer|-row summary would slip
    through. And the guard now runs as a cheap PROBE (distinct nationkey
    over the 2-column customer projection) BEFORE the orders⋈customer
    summary join, so the degenerate regime never pays a full aggregation
    job just to discard it: a probe-flagged fixture publishes the
    _DEGENERATE marker with no summary files and the dispatcher keeps
    the bucketed join (the summary op itself falls back the same way).
    Published through :func:`tables.fixture`."""
    from aced_etl_pod_spark.operators.util import finite
    from aced_etl_pod_spark.tables import fixture, table_row_count

    def build(tmp):
        orders = load(spark, sf_dir, "orders").select(
            "o_custkey", "o_totalprice"
        )
        customer = load(spark, sf_dir, "customer").select(
            "c_custkey", "c_nationkey"
        )
        # the summary size is bounded by the nationkey domain, which lives
        # on CUSTOMER — bound against min(orders, customer), and probe the
        # domain before paying the summary join (r12 ADVICE)
        bound = max(
            min(
                table_row_count(sf_dir, "orders"),
                table_row_count(sf_dir, "customer"),
            ),
            1,
        )
        n_keys = customer.select("c_nationkey").distinct().count()
        if n_keys * 2 >= bound:
            open(f"{tmp}/_DEGENERATE", "w").close()
        else:
            summary = (
                orders.join(customer, orders.o_custkey == customer.c_custkey)
                .groupBy("c_nationkey")
                .agg(
                    F.sum(finite(F.col("o_totalprice"))).alias("s"),
                    F.count("*").alias("n"),
                )
                .coalesce(1)
            )
            summary.write.mode("overwrite").parquet(f"{tmp}/summary")
            n_groups = read_parquet(spark, f"{tmp}/summary").count()
            if n_groups * 2 >= bound:
                open(f"{tmp}/_DEGENERATE", "w").close()

    return fixture(
        "q2sum_star", sf_dir, ("orders.parquet", "customer.parquet"), build
    )


@op(
    "join_multiway_star_summary_ingest",
    oracle=f"""
    SELECT r_name, n_name,
           CAST(count(*) AS BIGINT) AS order_count,
           {wsum_sql("o_totalprice")} AS revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
    tags=("scale", "join", "ingest", "extra"),
)
def join_multiway_star_summary_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q2's star join answered from the ingest-time per-nationkey
    partial-aggregate summary (:func:`_q2_summary_fixture`) — the
    round-12 q1 lever applied to the last >1x headline join: after the
    bucketed layout removed every join-side exchange, the residue was
    the SMJ-vs-fused-hash kernel gap over the full fact table, so stop
    re-joining the fact table per query.

    Both measures are DECOMPOSABLE over the summary's partials: the
    group count re-sums and the revenue is round(sum-of-sums, 2) under
    the same finite() contract the plain plan applies per row — the
    only difference is fold order, which the wsum contract's round(,2)
    absorbs (the tolerance every engine pair already needs). The
    nation x region dim join runs at QUERY time against <= 25 summary
    rows, so a dim edit never invalidates the layout. The oracle
    recomputes everything from the BASE tables, so the driver hash
    check proves the layout round-trips the full star — NULL custkeys,
    finite-guard exclusions and all. A probe-flagged degenerate fixture
    (r13: _DEGENERATE published without summary files) answers via the
    bucketed plan — same query, same oracle."""
    import os

    path = _q2_summary_fixture(spark, sf_dir)
    if not os.path.isdir(os.path.join(path, "summary")):
        return join_multiway_star_bucketed(spark, sf_dir)
    s = read_parquet(spark, f"{path}/summary")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    nr = nation.join(region, nation.n_regionkey == region.r_regionkey).select(
        "n_nationkey", "n_name", "r_name"
    )
    return (
        s.join(F.broadcast(nr), s.c_nationkey == nr.n_nationkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.sum("n").cast("long").alias("order_count"),
            (F.round(F.sum("s"), 2) + F.lit(0.0)).alias("revenue"),
        )
    )


@op(
    "join_inner_bucketed_orderkey",
    oracle=f"""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_items,
           {wsum_sql("l_extendedprice * (1 - l_discount)")} AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    """,
    tags=("scale", "join", "extra"),
)
def join_inner_bucketed_orderkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LARGEST join in the corpus (lineitem ⋈ orders on orderkey —
    join_inner_hash's exact query/oracle) over an orderkey-bucketed
    layout: at 100 TB this is the single biggest exchange any workload
    pays, and :func:`bucketed_layout` (the generalized round-11 write)
    deletes it from every recurring run. Zero join-side exchanges
    (plan-pinned in tests/test_plans.py); the only shuffle is the 3-key
    status agg. Same oracle as join_inner_hash, so the hash check proves
    the layout changes nothing semantically."""
    from aced_etl_pod_spark.operators.util import finite

    t = bucketed_layout(
        spark,
        sf_dir,
        {"lineitem": "l_orderkey", "orders": "o_orderkey"},
        label="okbucket",
    )
    li, o = t["lineitem"], t["orders"]
    rev = finite(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.hint("merge")
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_items"),
            (F.round(F.sum(rev), 2) + F.lit(0.0)).alias("revenue"),
        )
    )
