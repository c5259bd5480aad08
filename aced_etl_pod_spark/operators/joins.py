"""Join operators (SURVEY.md §2.b — 11 IDs).

Anchors: the reference's denormalization step (``denormalize_patient``,
etl-job/fhir_import_export.py:229) is a multi-way star join; its authz checks
(:62-145) are semi-join membership; project teardown (:372-385) is anti-join
semantics. Everything else generalizes that surface.

Scale notes (100 TB): dims (region/nation/supplier-sized) are explicitly
``F.broadcast``; fact-fact joins shuffle on their keys and rely on AQE for
skew splitting; the as-of join is expressed as a union + running ``last``
window, which sort-merges within user partitions instead of exploding a
range cross-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from aced_etl_pod_spark.operators.util import finite, finite_sql, wsum, wsum_sql
from aced_etl_pod_spark.registry import op
from aced_etl_pod_spark.tables import load

TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"


@op(
    "join_multiway_star",
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
    tags=("join", "flagship"),
)
def join_multiway_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: star join fact→dims→agg (reference denormalize+count,
    fhir_import_export.py:229 + :264-274, generalized).

    The two constant-size dims (nation ⋈ region — 25×5 rows at EVERY scale
    factor) are pre-joined into ONE broadcast instead of broadcasting each
    separately: same result, one broadcast build + one BHJ fewer per run
    (measured 72 → 48 ms at sf0.1).

    customer scales with the fact table, and its join strategy is
    SIZE-DISPATCHED (round 10, the q7-kernel idiom): past ~100 k
    customers the plan hints SHUFFLE_HASH on the customer side — under
    the 10 MB threshold Catalyst still picks BHJ there (the pruned
    2-column customer compresses under it), but building a multi-
    million-key HashedRelation on the driver per execution loses to a
    32-way shuffled build (measured: SHJ 0.42 s vs BHJ 0.58 s at x10,
    1.78 vs 2.60 s at x200 — 31%; BHJ keeps winning below the knee,
    0.21 vs 0.23 s at sf0.1). The hinted side is a construction
    invariant — customer is the 1 side of a 1:N fact join, always the
    smaller input — and at real scale AQE would have to abandon the
    broadcast anyway; the dispatch just stops the driver-side build
    from growing with the corpus. The dispatch count comes from parquet
    FOOTERS read driver-side (tables.table_row_count, cached per file
    mtime and size) — a df.count() here would be a real scan job at plan time,
    not metadata (round-11 advice; aggregatePushdown is off).

    SUMMARY-LAYOUT dispatch since round 12 (optimization session 2):
    past ~1 M orders the op answers from the ingest-time per-nationkey
    partial-aggregate summary (join_multiway_star_summary_ingest — the
    q1 storage-layer idiom; the query groups to <= 25 nation rows, so
    it is summary-shaped). The r11 bucketed-layout plan stays as the
    fallback for a degenerate summary (near-unique nationkey domain),
    and the shuffle_hash size dispatch remains the mid-scale posture
    (100 k..1 M customers, no layout yet). Same oracle on every path."""
    import os

    from aced_etl_pod_spark.operators.scale_ops import (
        _q2_summary_fixture,
        join_multiway_star_bucketed,
        join_multiway_star_summary_ingest,
    )
    from aced_etl_pod_spark.tables import table_row_count

    if table_row_count(sf_dir, "orders") >= 1_000_000:
        path = _q2_summary_fixture(spark, sf_dir)
        if not os.path.exists(os.path.join(path, "_DEGENERATE")):
            return join_multiway_star_summary_ingest(spark, sf_dir)
        return join_multiway_star_bucketed(spark, sf_dir)
    return _q2_plain_star(spark, sf_dir)


def _q2_plain_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The undispatched q2 star-join plan (broadcast dims + size-
    dispatched customer join) — kept callable for the A/B tools and the
    below-knee regime."""
    from aced_etl_pod_spark.tables import table_row_count

    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    nr = nation.join(region, nation.n_regionkey == region.r_regionkey).select(
        "n_nationkey", "n_name", "r_name"
    )
    cust_side = (
        customer.hint("shuffle_hash")
        if table_row_count(sf_dir, "customer") >= 100_000
        else customer
    )
    return (
        orders.join(cust_side, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nr), customer.c_nationkey == nr.n_nationkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("order_count"),
            wsum(F.col("o_totalprice")).alias("revenue"),
        )
    )


@op(
    "join_inner_hash",
    oracle=f"""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_items,
           {wsum_sql("l_extendedprice * (1 - l_discount)")} AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    """,
    tags=("join",),
)
def join_inner_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi inner join fact-to-fact (shuffled hash / sort-merge under AQE)."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "inner")
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_items"),
            wsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
        )
    )


@op(
    "join_left_outer",
    oracle=f"""
    SELECT c_custkey,
           CAST(count(o_orderkey) AS BIGINT) AS n_orders,
           (round(coalesce(sum({finite_sql("o_totalprice")}), 0), 2) + 0.0) AS spend
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
    tags=("join",),
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving order-less customers (denormalize keeps
    patients without resources, fhir_import_export.py:229 analog)."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            (
                F.round(
                    F.coalesce(F.sum(finite(F.col("o_totalprice"))), F.lit(0)), 2
                )
                + F.lit(0.0)
            ).alias("spend"),
        )
    )


@op(
    "join_right_outer",
    oracle="""
    SELECT c_nationkey,
           CAST(count(o.o_orderkey) AS BIGINT) AS n_big_orders,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM (SELECT * FROM orders WHERE o_totalprice > 200000) o
    RIGHT JOIN customer ON o.o_custkey = c_custkey
    GROUP BY c_nationkey
    """,
    tags=("join",),
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer equi join (filtered fact into preserved dim side)."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey, "right")
        .groupBy("c_nationkey")
        .agg(
            F.count("o_orderkey").alias("n_big_orders"),
            F.count("*").alias("n_rows"),
        )
    )


@op(
    "join_full_outer",
    oracle="""
    SELECT coalesce(a.o_custkey, b.c_custkey) AS custkey,
           CAST(coalesce(a.order_cnt, 0) AS BIGINT) AS order_cnt,
           CAST(CASE WHEN b.c_custkey IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_rich
    FROM (SELECT o_custkey, count(*) AS order_cnt FROM orders GROUP BY o_custkey) a
    FULL JOIN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000) b
      ON a.o_custkey = b.c_custkey
    """,
    tags=("join",),
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join with unmatched rows on both sides."""
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    a = orders.groupBy("o_custkey").agg(F.count("*").alias("order_cnt"))
    b = customer.filter(F.col("c_acctbal") > 9000).select("c_custkey")
    return a.join(b, a.o_custkey == b.c_custkey, "full").select(
        F.coalesce(a.o_custkey, b.c_custkey).alias("custkey"),
        F.coalesce(F.col("order_cnt"), F.lit(0)).cast("long").alias("order_cnt"),
        F.when(b.c_custkey.isNull(), F.lit(0)).otherwise(F.lit(1)).cast("long").alias("is_rich"),
    )


@op(
    "join_left_semi",
    oracle="""
    SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_active
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_nationkey
    """,
    tags=("join",),
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Existence semi-join (authz membership check, fhir_import_export.py:77-100).

    LAYOUT-DISPATCHED since round 11 (the q7-kernel idiom): past ~1 M
    orders the op answers from the bucketed-colocated custkey layout
    (join_left_semi_bucketed — SMJ with zero exchanges; interleaved A/B
    in PLANS.md "Round-11: q4 semi join": 3.2x at x200, 4.0x at x800, ratio vs
    DuckDB 6.8x -> 1.71x, one-time layout write 16 s at x200,
    fingerprint-cached). Below the knee the plain Catalyst plan wins —
    at the sf0.1 job floor the 32-bucket scan + catalog round-trip cost
    more than the exchange they remove. Same oracle either way; the
    dispatch count is a parquet-footer read (no hidden scan)."""
    from aced_etl_pod_spark.operators.scale_ops import join_left_semi_bucketed
    from aced_etl_pod_spark.tables import table_row_count

    if table_row_count(sf_dir, "orders") >= 1_000_000:
        return join_left_semi_bucketed(spark, sf_dir)
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_semi")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_active"))
    )


@op(
    "join_left_anti",
    oracle="""
    SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_inactive
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_nationkey
    """,
    tags=("join",),
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join (delete-by-key semantics, fhir_import_export.py:372-385).
    NB oracle uses NOT EXISTS, never NOT IN (null trap, SURVEY §7.3)."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_inactive"))
    )


@op(
    "join_broadcast",
    oracle=f"""
    SELECT r_name,
           CAST(count(*) AS BIGINT) AS n_customers,
           {wsum_sql("c_acctbal")} AS total_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
    tags=("join",),
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast of small dims (user-profile lookup analog,
    fhir_import_export.py:62-102). At 100 TB the dim side stays < broadcast
    threshold while the fact side never shuffles."""
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    return (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_customers"),
            wsum(F.col("c_acctbal")).alias("total_acctbal"),
        )
    )


@op(
    "join_theta_range",
    oracle="""
    SELECT s_suppkey, CAST(count(*) AS BIGINT) AS n_close
    FROM supplier JOIN customer
      ON c_acctbal >= s_acctbal - 50 AND c_acctbal < s_acctbal + 50
    GROUP BY s_suppkey
    """,
    tags=("join",),
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure non-equi band join (interval semantics). Spark picks
    broadcast-nested-loop with the small supplier side broadcast; at scale
    the band would be bucketized into an equi-join on floor(acctbal/width)."""
    supplier = load(spark, sf_dir, "supplier")
    customer = load(spark, sf_dir, "customer")
    cond = (customer.c_acctbal >= supplier.s_acctbal - 50) & (
        customer.c_acctbal < supplier.s_acctbal + 50
    )
    return (
        F.broadcast(supplier)
        .join(customer, cond)
        .groupBy("s_suppkey")
        .agg(F.count("*").alias("n_close"))
    )


@op(
    "join_cross",
    oracle="""
    SELECT r_name, n_name FROM region CROSS JOIN nation
    """,
    tags=("join",),
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded cartesian product (dims only — never facts at 100 TB)."""
    region = load(spark, sf_dir, "region")
    nation = load(spark, sf_dir, "nation")
    return region.crossJoin(nation).select("r_name", "n_name")


@op(
    "join_asof_event",
    oracle=f"""
    SELECT l.event_id, l.user_id,
           strftime(r.ts, '{TS_FMT_DUCK}') AS asof_signup_ts
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase' AND ts IS NOT NULL
            AND user_id IS NOT NULL) l
    ASOF LEFT JOIN (SELECT DISTINCT user_id, ts FROM events
                    WHERE event_type = 'signup' AND ts IS NOT NULL
                    AND user_id IS NOT NULL) r
      ON l.user_id = r.user_id AND r.ts <= l.ts
    """,
    tags=("join", "timeseries"),
)
def join_asof_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: latest signup at-or-before each purchase, per user.

    Spark lacks a native ASOF JOIN; this is the union + running-``last``
    formulation: tag both streams, sort within user by (ts, side) so the
    right side at an equal timestamp lands first (inclusive <=), then carry
    the last right-side ts forward. One shuffle on user_id, no range
    explosion — survives 100× scale where a banded cross-join would not.
    """
    events = load(spark, sf_dir, "events")
    # as-of positions are undefined without a timestamp — both sides
    left = events.filter(
        (F.col("event_type") == "purchase")
        & F.col("ts").isNotNull()
        # NULL keys: window PARTITION BY groups them, ASOF JOIN drops them
        & F.col("user_id").isNotNull()
    ).select("event_id", "user_id", "ts", F.lit(1).alias("is_l"))
    right = (
        events.filter(
            (F.col("event_type") == "signup")
            & F.col("ts").isNotNull()
            & F.col("user_id").isNotNull()
        )
        .select("user_id", "ts")
        .distinct()
        .select(F.lit(None).cast("long").alias("event_id"), "user_id", "ts", F.lit(0).alias("is_l"))
    )
    unioned = left.unionByName(right)
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "is_l")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = unioned.withColumn(
        "asof_ts",
        F.last(F.when(F.col("is_l") == 0, F.col("ts")), ignorenulls=True).over(w),
    )
    return carried.filter(F.col("is_l") == 1).select(
        "event_id",
        "user_id",
        F.date_format("asof_ts", TS_FMT_SPARK).alias("asof_signup_ts"),
    )


@op(
    "join_semi_anti_fused",
    oracle="""
    SELECT c_nationkey,
           CAST(count(CASE WHEN e.k IS NOT NULL THEN 1 END) AS BIGINT) AS n_active,
           CAST(count(CASE WHEN e.k IS NULL THEN 1 END) AS BIGINT) AS n_inactive
    FROM customer
    LEFT JOIN (SELECT DISTINCT o_custkey AS k FROM orders) e
      ON c_custkey = e.k
    GROUP BY c_nationkey
    """,
    tags=("join", "extra"),
)
def join_semi_anti_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BASELINE B4's full shape — semi AND anti membership counts — in
    ONE pass of each table (round-10 verdict item 4): today's benched
    shape answers 'how many customers with / without orders per nation'
    with TWO independent joins (join_left_semi + join_left_anti), i.e.
    two scans of orders and two shuffles of its full o_custkey column.
    Here orders is reduced FIRST to its distinct custkeys (partial
    aggregation combines map-side, so the shuffle carries ~|customer|
    keys instead of ~10x that many order rows), then one left outer join
    against customer drives BOTH counts: a matched key counts toward
    n_active, a null-extended one toward n_inactive. EXISTS/NOT EXISTS
    semantics survive exactly because the build side is distinct (no
    row multiplication) and the probe is null-safe by construction (a
    NULL c_custkey never equi-matches, landing in n_inactive — the same
    rows NOT EXISTS keeps; the oracle uses the identical fused SQL).

    At 100 TB: one fact scan instead of two, one key-sized shuffle
    instead of two row-sized ones, and AQE is free to broadcast the
    distinct-key side when it fits (it is the provably smaller side).

    Reference parity: fhir_import_export.py:77-100 (membership check)
    and :372-385 (delete-by-key) are the two halves this op fuses."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    okeys = orders.select(F.col("o_custkey").alias("k")).distinct()
    joined = customer.join(okeys, customer.c_custkey == okeys.k, "left")
    return joined.groupBy("c_nationkey").agg(
        F.count(F.when(F.col("k").isNotNull(), 1)).alias("n_active"),
        F.count(F.when(F.col("k").isNull(), 1)).alias("n_inactive"),
    )
