"""Extra coverage operators beyond the SURVEY §2.b checklist: pivot /
unpivot, exact percentiles, first/last window frames, bitwise family,
correlated subqueries. All oracle-verified.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from aced_etl_pod_spark.operators.util import (
    finite,
    finite_sql,
    money,
    money_sql,
    wsum,
    wsum_sql,
    zn,
    zn_sql,
)
from aced_etl_pod_spark.registry import op
from aced_etl_pod_spark.tables import load, read_parquet


@op(
    "pivot_wide",
    oracle="""
    SELECT l_returnflag,
           round(coalesce(sum(l_quantity) FILTER (WHERE l_linestatus = 'F'), 0), 2) AS qty_F,
           round(coalesce(sum(l_quantity) FILTER (WHERE l_linestatus = 'O'), 0), 2) AS qty_O
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("extra", "agg"),
)
def pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide) with pinned pivot values — at scale always pass the
    value list so Spark skips the distinct-values pre-pass."""
    li = load(spark, sf_dir, "lineitem")
    p = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.round(F.coalesce(F.sum("l_quantity"), F.lit(0)), 2))
    )
    return p.select(
        "l_returnflag",
        F.coalesce(F.col("F"), F.lit(0.0)).alias("qty_F"),
        F.coalesce(F.col("O"), F.lit(0.0)).alias("qty_O"),
    )


@op(
    "unpivot_stack",
    oracle=f"""
    SELECT c_custkey, 'acctbal' AS metric, {money_sql("c_acctbal")} AS v FROM customer
    UNION ALL
    SELECT c_custkey, 'nationkey' AS metric, CAST(c_nationkey AS DOUBLE) AS v FROM customer
    """,
    tags=("extra",),
)
def unpivot_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide→long) via stack(). The balance leg emits through the
    money sandwich (money_sql is dialect-neutral, so the SAME text rides
    inside Spark's stack() and the oracle)."""
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.expr(
            f"stack(2, 'acctbal', {money_sql('c_acctbal')}, "
            "'nationkey', CAST(c_nationkey AS DOUBLE)) AS (metric, v)"
        ),
    )


@op(
    "agg_percentile",
    oracle=f"""
    SELECT o_orderstatus,
           {money_sql(f"quantile_cont({finite_sql('o_totalprice')}, 0.5)")}
             AS median_price,
           {money_sql(f"quantile_cont({finite_sql('o_totalprice')}, 0.9)")}
             AS p90_price
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("extra", "agg"),
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark ``percentile`` ≡ DuckDB
    ``quantile_cont``); the approx variant is ``percentile_approx`` on the
    100 TB path. Non-finite measures are excluded on both sides (class-B
    contract): the engines place NaN at opposite ends of the quantile
    order, so no propagation semantics can agree."""
    o = load(spark, sf_dir, "orders")
    price = finite(F.col("o_totalprice"))
    return o.groupBy("o_orderstatus").agg(
        money(F.percentile(price, F.lit(0.5))).alias("median_price"),
        money(F.percentile(price, F.lit(0.9))).alias("p90_price"),
    )


@op(
    "win_first_last",
    oracle="""
    SELECT event_id,
           first_value(event_type) OVER w AS first_type,
           last_value(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND UNBOUNDED FOLLOWING) AS last_type,
           CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_user_events
    FROM events WHERE ts IS NOT NULL
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    tags=("extra", "window"),
)
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value with explicit full frame + unordered
    partition count."""
    e = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    w_full = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    w_all = W.partitionBy("user_id")
    return e.select(
        "event_id",
        F.first("event_type").over(w).alias("first_type"),
        F.last("event_type").over(w_full).alias("last_type"),
        F.count("*").over(w_all).cast("long").alias("n_user_events"),
    )


@op(
    "win_range_between",
    oracle="""
    SELECT c_custkey,
           CAST(count(*) OVER (PARTITION BY c_nationkey ORDER BY c_acctbal
                               RANGE BETWEEN 100 PRECEDING AND 100 FOLLOWING)
                AS BIGINT) AS n_near
    FROM customer
    """,
    tags=("extra", "window"),
)
def win_range_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-based (RANGE) window frame: peers within ±100 of each
    customer's balance inside its nation — counts are tie-safe because the
    frame depends only on the order value."""
    c = load(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy("c_acctbal").rangeBetween(-100, 100)
    return c.select(
        "c_custkey", F.count("*").over(w).cast("long").alias("n_near")
    )


@op(
    "win_sessionize_batch",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_sess
      FROM events WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS session_no,
           event_id
    FROM flagged
    """,
    tags=("extra", "window", "timeseries"),
)
def win_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gaps-and-islands): lag + gap flag + running
    sum numbers each user's sessions — the batch counterpart of
    stream_session_window, and the standard sessionize-without-streaming
    recipe."""
    e = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts")).over(w).cast("long")
    new_sess = F.when(
        F.lag("ts").over(w).isNull() | (gap > 30 * 60), 1
    ).otherwise(0)
    run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return e.select(
        "user_id",
        F.sum(new_sess).over(run).cast("long").alias("session_no"),
        "event_id",
    )


@op(
    "stream_static_join",
    oracle="""
    SELECT n_name, CAST(count(*) AS BIGINT) AS n_events
    FROM events JOIN nation ON CAST(user_id % 25 AS INTEGER) = n_nationkey
    GROUP BY n_name
    """,
    tags=("extra", "stream", "join"),
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched against a static
    broadcast dim (no watermark needed — static side is re-read per batch);
    counts aggregated in complete mode equal the batch join."""
    from aced_etl_pod_spark.streaming.replay import materialize_batches, read_stream, run_to_memory

    src = materialize_batches(spark, sf_dir, "static_join")
    nation = load(spark, sf_dir, "nation")
    stream = read_stream(spark, src).withColumn(
        "nk", (F.col("user_id") % 25).cast("int")
    )
    joined = stream.join(F.broadcast(nation), F.col("nk") == F.col("n_nationkey"))
    agg = joined.groupBy("n_name").agg(F.count("*").alias("n_events"))
    return run_to_memory(agg, "t_static_join", "complete")


@op(
    "fn_bitwise",
    oracle="""
    SELECT event_id,
           event_id & 255 AS low_byte,
           event_id | 1 AS set_low,
           xor(event_id, 42) AS xored,
           event_id << 2 AS shifted_l,
           event_id >> 3 AS shifted_r,
           CAST(bit_count(event_id) AS BIGINT) AS pop
    FROM events
    """,
    tags=("extra", "fn"),
)
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise family: and/or/xor/shifts/popcount (the substrate of the
    hash/signature operators)."""
    e = load(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.expr("event_id & 255").alias("low_byte"),
        F.expr("event_id | 1").alias("set_low"),
        F.expr("event_id ^ 42").alias("xored"),
        F.expr("shiftleft(event_id, 2)").alias("shifted_l"),
        F.expr("shiftright(event_id, 3)").alias("shifted_r"),
        F.bit_count("event_id").cast("long").alias("pop"),
    )


@op(
    "agg_stddev_var",
    oracle=f"""
    SELECT c_nationkey,
           {money_sql(f"stddev_samp({finite_sql('c_acctbal')})", 3)} AS sd,
           {money_sql(f"var_samp({finite_sql('c_acctbal')})")} AS var_s,
           {money_sql(f"var_pop({finite_sql('c_acctbal')})")} AS var_p
    FROM customer
    GROUP BY c_nationkey
    """,
    tags=("extra", "agg"),
)
def agg_stddev_var(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample/population variance + stddev (both engines merge partial
    moments; decimal sandwich absorbs the last-ulp drift; non-finite
    measures are missing per the class-B contract — see util.finite)."""
    c = load(spark, sf_dir, "customer")
    acct = finite(F.col("c_acctbal"))
    return c.groupBy("c_nationkey").agg(
        money(F.stddev_samp(acct), 3).alias("sd"),
        money(F.var_samp(acct)).alias("var_s"),
        money(F.var_pop(acct)).alias("var_p"),
    )


@op(
    "fn_hash_digest",
    oracle="""
    SELECT c_custkey,
           md5(c_name) AS name_md5,
           sha256(c_name) AS name_sha256,
           CAST(length(sha256(c_mktsegment || CAST(c_custkey AS VARCHAR))) AS BIGINT)
               AS digest_len
    FROM customer
    """,
    tags=("extra", "fn"),
)
def fn_hash_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cryptographic digest family (md5 / sha256) — the substrate of exact
    dedup and fingerprinting; hex output matches across engines."""
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.md5(F.col("c_name").cast("binary")).alias("name_md5"),
        F.sha2("c_name", 256).alias("name_sha256"),
        F.length(
            F.sha2(F.concat(F.col("c_mktsegment"), F.col("c_custkey").cast("string")), 256)
        )
        .cast("long")
        .alias("digest_len"),
    )


@op(
    "explode_map_entries",
    oracle="""
    SELECT o_orderkey, k, v FROM (
      SELECT o_orderkey, 'status' AS k, o_orderstatus AS v FROM orders
      UNION ALL
      SELECT o_orderkey, 'prio' AS k, o_orderpriority AS v FROM orders
    )
    """,
    tags=("extra", "rowop"),
)
def explode_map_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map → rows (one row per entry) — the map counterpart of
    explode_array; the oracle states the entry set directly."""
    o = load(spark, sf_dir, "orders")
    m = F.create_map(
        F.lit("status"), F.col("o_orderstatus"), F.lit("prio"), F.col("o_orderpriority")
    )
    return o.select("o_orderkey", F.explode(m).alias("k", "v"))


@op(
    "agg_time_bucket",
    oracle=f"""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           {wsum_sql("value")} AS total
    FROM events
    WHERE ts IS NOT NULL  -- Spark's window() silently DROPS null-ts rows
    GROUP BY 1, 2
    """,
    tags=("extra", "agg", "bench"),
)
def agg_time_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch time-bucket aggregation — the batch face of
    stream_tumbling_window and the exact query bench.py runs as q5
    (BASELINE B5). Totals carry the well-scaled-sum emit idiom (wsum).

    ROUND-11 KERNEL: the bucket key is epoch-hour ARITHMETIC on exact
    microsecond LONGS (``(unix_micros - pmod(unix_micros, 3.6e9)) DIV
    3.6e9`` — pmod makes the floor correct for pre-1970 instants)
    instead of ``F.window()``. Semantics are identical — a
    fixed-duration tumbling window is epoch-aligned with floor
    assignment and [start, end) bounds in both spellings,
    timezone-independently (both operate on the absolute instant) —
    but the window() expression builds a (start, end) timestamp STRUCT
    per row and groups on it, where the arithmetic groups on one long.
    Interleaved A/B at x800 (80 M events): 1.386 → 0.990 s (1.40x).
    The window start is reconstructed (``h * 3600`` cast back to
    timestamp) only on the ~10^3 output groups.

    NOT floor(cast-to-double / 3600): the pin test caught year-9999
    23:59:59.999999 rounding into the NEXT hour — 2.5e17 microseconds
    doesn't fit a double's 53-bit mantissa; window() itself works on
    microsecond longs, so the fast spelling must too.
    tests/test_property.py pins epoch-bucket == window() row-for-row on
    adversarial timestamps (pre-1970, sub-second, exact hour
    boundaries, far-future).

    LAYOUT-DISPATCHED since round 12: past ~4 M events the op re-
    aggregates the minute-grained ingest-time summary
    (agg_time_bucket_summary_ingest) instead of scanning events — the
    q1/q7 storage-layer move; hour buckets re-sum 60 minute-partials
    exactly. Below the knee the scan is at the job floor and the
    one-time downsample doesn't amortize."""
    from aced_etl_pod_spark.tables import table_row_count

    if table_row_count(sf_dir, "events") >= 4_000_000:
        return agg_time_bucket_summary_ingest(spark, sf_dir)
    # explicit for readers: the filter replicates window()'s null-drop
    e = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    h = F.expr(
        "(unix_micros(ts) - pmod(unix_micros(ts), 3600000000))"
        " DIV 3600000000"
    )
    return (
        e.groupBy(h.alias("h"), "event_type")
        .agg(F.count("*").alias("n"), wsum(F.col("value")).alias("total"))
        .select(
            F.date_format(
                (F.col("h") * 3600).cast("timestamp"), "yyyy-MM-dd HH:mm:ss"
            ).alias("win_start"),
            "event_type",
            "n",
            "total",
        )
    )


def _minute_summary_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Ingest-time MINUTE-grained downsample of events (round-12 — the
    q1 partial-aggregate posture applied to the time-series axis, the
    classic rollup/continuous-aggregate layout): one pass groups events
    by (epoch-minute long, event_type) and persists decomposable
    partials (count, sum(finite(value))). Any coarser tumbling rollup
    (hour/day/week — all multiples of a minute) re-aggregates the
    summary exactly: epoch-aligned windows nest, counts and guarded
    sums are decomposable, and the well-scaled emit round happens only
    at the final grain. Any time-range or type predicate lands on the
    summary's key columns. ~minutes x types rows (194 k at the x800
    ladder) regardless of event count. The minute grain — not hour —
    is what makes this a generic silver artifact rather than a cached
    answer. Published through :func:`tables.fixture`."""
    from aced_etl_pod_spark.operators.util import finite
    from aced_etl_pod_spark.tables import fixture

    def build(tmp):
        e = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
        m = F.expr(
            "(unix_micros(ts) - pmod(unix_micros(ts), 60000000))"
            " DIV 60000000"
        )
        (
            e.groupBy(m.alias("m"), "event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum(finite(F.col("value"))).alias("s"),
            )
            .coalesce(1)
            .sortWithinPartitions("m")
            .write.mode("overwrite")
            .parquet(f"{tmp}/minute")
        )

    return fixture("minsum_events", sf_dir, ("events.parquet",), build)


@op(
    "agg_time_bucket_summary_ingest",
    oracle=f"""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           {wsum_sql("value")} AS total
    FROM events
    WHERE ts IS NOT NULL
    GROUP BY 1, 2
    """,
    tags=("extra", "agg", "ingest", "scale"),
)
def agg_time_bucket_summary_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """agg_time_bucket answered from the minute-grained ingest summary
    (:func:`_minute_summary_fixture`): hour buckets re-sum their 60
    minute-partials — epoch-aligned tumbling windows NEST exactly
    (hour h covers minutes 60h..60h+59; floor assignment on the same
    micros longs), so counts and guarded sums decompose with only fold
    order changed, which the emit round(,2) absorbs. The oracle
    recomputes from BASE events, so the driver hash check proves the
    downsample round-trips the hourly rollup — null-ts drops,
    finite-guard exclusions, -0.0 normalization and all. At 100 TB
    this is the continuous-aggregate contract every metrics store
    ships: ingest maintains the finest rollup once; every dashboard
    grain re-aggregates it for ~nothing."""
    path = _minute_summary_fixture(spark, sf_dir)
    s = read_parquet(spark, f"{path}/minute")
    # floor division of the minute index by 60 (pmod keeps pre-1970
    # minutes on the correct hour — the same idiom as the micros bucket)
    hour = F.expr("(m - pmod(m, 60)) DIV 60")
    return (
        s.groupBy(hour.alias("h"), "event_type")
        .agg(
            F.sum("n").cast("long").alias("n"),
            (F.round(F.sum("s"), 2) + F.lit(0.0)).alias("total"),
        )
        .select(
            F.date_format(
                (F.col("h") * 3600).cast("timestamp"), "yyyy-MM-dd HH:mm:ss"
            ).alias("win_start"),
            "event_type",
            "n",
            "total",
        )
    )


@op(
    "agg_corr_covar",
    oracle=f"""
    SELECT l_returnflag,
           {money_sql(
               f"corr({finite_sql('l_extendedprice')}, {finite_sql('l_quantity')})",
               4, 8,
           )} AS price_qty_corr,
           {money_sql(
               f"covar_samp({finite_sql('l_extendedprice')}, {finite_sql('l_quantity')})",
           )} AS price_qty_covar
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("extra", "agg"),
)
def agg_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation / sample covariance (bivariate moments; decimal sandwich
    for the cross-engine ulp drift). Non-finite on EITHER side drops the
    pair — both engines' corr/covar already skip NULL pairs, so the
    class-B finite()→NULL mapping composes with no extra predicate."""
    li = load(spark, sf_dir, "lineitem")
    price, qty = finite(F.col("l_extendedprice")), finite(F.col("l_quantity"))
    return li.groupBy("l_returnflag").agg(
        money(F.corr(price, qty), 4, 8).alias("price_qty_corr"),
        money(F.covar_samp(price, qty)).alias("price_qty_covar"),
    )


@op(
    "agg_bool_and_or",
    oracle="""
    SELECT o_orderpriority,
           bool_and(o_totalprice > 1000) AS all_over_1k,
           bool_or(o_orderstatus = 'P') AS any_pending,
           CAST(count(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS n_pending
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("extra", "agg"),
)
def agg_bool_and_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates (every / any)."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.bool_or(F.col("o_orderstatus") == "P").alias("any_pending"),
        F.count(F.when(F.col("o_orderstatus") == "P", 1)).alias("n_pending"),
    )


@op(
    "join_range_bucketized",
    oracle="""
    SELECT s_suppkey, CAST(count(*) AS BIGINT) AS n_close
    FROM supplier JOIN customer
      ON c_acctbal >= s_acctbal - 50 AND c_acctbal < s_acctbal + 50
    GROUP BY s_suppkey
    """,
    tags=("extra", "join", "scale"),
)
def join_range_bucketized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB rewrite of ``join_theta_range``: bucketize the range key
    (width = band width), explode each supplier to its bucket ±1, EQUI-join
    on the bucket, then apply the exact band predicate. Same result as the
    nested-loop theta join, but the plan is a hash join that shuffles on
    the bucket key — no quadratic candidate space."""
    width = 50
    supplier = load(spark, sf_dir, "supplier")
    customer = load(spark, sf_dir, "customer").withColumn(
        "bucket", F.floor(F.col("c_acctbal") / width)
    )
    s_buckets = supplier.withColumn(
        "bucket",
        F.explode(
            F.array(
                F.floor(F.col("s_acctbal") / width) - 1,
                F.floor(F.col("s_acctbal") / width),
                F.floor(F.col("s_acctbal") / width) + 1,
            )
        ),
    )
    exact = (F.col("c_acctbal") >= F.col("s_acctbal") - width) & (
        F.col("c_acctbal") < F.col("s_acctbal") + width
    )
    return (
        s_buckets.join(customer, "bucket")
        .filter(exact)
        .groupBy("s_suppkey")
        .agg(F.count("*").alias("n_close"))
    )


@op(
    "subquery_correlated",
    oracle="""
    SELECT c_custkey, c_nationkey
    FROM customer c
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer i
                       WHERE i.c_nationkey = c.c_nationkey)
    """,
    tags=("extra", "join"),
)
def subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (Catalyst decorrelates it into an
    aggregate + join — spark.sql IS the parser, SURVEY §7.4)."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("customer_sq")
    return spark.sql(
        """
        SELECT c_custkey, c_nationkey
        FROM customer_sq c
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer_sq i
                           WHERE i.c_nationkey = c.c_nationkey)
        """
    )


@op(
    "subquery_in_uncorrelated",
    oracle="""
    SELECT o_orderkey, o_orderstatus
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY')
      AND o_totalprice > 150000
    """,
    tags=("extra", "join"),
)
def subquery_in_uncorrelated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery (compiles to left-semi; the SQL face of join_left_semi)."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_sq")
    load(spark, sf_dir, "customer").createOrReplaceTempView("customer_sq2")
    return spark.sql(
        """
        SELECT o_orderkey, o_orderstatus
        FROM orders_sq
        WHERE o_custkey IN (SELECT c_custkey FROM customer_sq2
                            WHERE c_mktsegment = 'MACHINERY')
          AND o_totalprice > 150000
        """
    )


@op(
    "merge_scd2",
    oracle=f"""
    WITH base AS (
      SELECT c_custkey, {money_sql("c_acctbal")} AS acctbal,
             '2024-01-01' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to,
             TRUE AS is_current
      FROM customer
    ), updates AS (
      SELECT c_custkey, {money_sql("-c_acctbal")} AS acctbal
      FROM customer WHERE c_acctbal < 0
    ), untouched AS (
      SELECT b.* FROM base b WHERE NOT EXISTS
        (SELECT 1 FROM updates u WHERE u.c_custkey = b.c_custkey)
    ), closed AS (
      SELECT b.c_custkey, b.acctbal, b.valid_from,
             '2024-06-01' AS valid_to, FALSE AS is_current
      FROM base b WHERE EXISTS
        (SELECT 1 FROM updates u WHERE u.c_custkey = b.c_custkey)
    ), fresh AS (
      SELECT c_custkey, acctbal, '2024-06-01' AS valid_from,
             CAST(NULL AS VARCHAR) AS valid_to, TRUE AS is_current
      FROM updates
    )
    SELECT * FROM untouched
    UNION ALL SELECT * FROM closed
    UNION ALL SELECT * FROM fresh
    """,
    tags=("extra", "merge"),
)
def merge_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 MERGE (plans/storage.py::scd2_merge):
    negative-balance customers arrive as an update batch; their current
    versions are closed out (valid_to, is_current=false) and the updates
    append as new current versions — history preserved, all legs key-equi-
    joins (broadcastable update batch, no full-history rewrite). The
    history-keeping face of ``upsert_by_key`` / managed-table MERGE INTO."""
    from aced_etl_pod_spark.plans.storage import scd2_merge as _scd2

    c = load(spark, sf_dir, "customer")
    base = c.select(
        "c_custkey",
        money(F.col("c_acctbal")).alias("acctbal"),
        F.lit("2024-01-01").alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    updates = c.filter(F.col("c_acctbal") < 0).select(
        "c_custkey", money(-F.col("c_acctbal")).alias("acctbal")
    )
    return _scd2(base, updates, "c_custkey", "2024-06-01")


# Canonical string rendering for a possibly-non-finite double: Spark
# prints 'NaN'/'-Infinity' while DuckDB prints 'nan'/'-inf', so the
# profile pins Java-style tokens with one dialect-neutral CASE (equality
# with ±Inf works identically in both engines; the ELSE catches NaN;
# STRING is the cast keyword both dialects accept — Spark lacks bare
# VARCHAR, DuckDB aliases STRING to VARCHAR).
_PROFILE_RENDER = (
    "CASE WHEN {x} IS NULL THEN NULL"
    " WHEN abs(CAST({x} AS DOUBLE)) < 1e12"
    " THEN CAST(round(CAST({x} AS DOUBLE), 2) AS STRING)"
    " WHEN CAST({x} AS DOUBLE) = CAST('Infinity' AS DOUBLE) THEN 'Infinity'"
    " WHEN CAST({x} AS DOUBLE) = CAST('-Infinity' AS DOUBLE) THEN '-Infinity'"
    " ELSE 'NaN' END"
)


@op(
    "dq_profile_columns",
    oracle=f"""
    SELECT 'o_custkey' AS col, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) - count(o_custkey) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
           CAST(min(o_custkey) AS VARCHAR) AS min_v, CAST(max(o_custkey) AS VARCHAR) AS max_v
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(o_orderstatus) AS BIGINT),
           CAST(count(DISTINCT o_orderstatus) AS BIGINT),
           CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(o_totalprice) AS BIGINT),
           CAST(count(DISTINCT o_totalprice) AS BIGINT),
           {_PROFILE_RENDER.format(x="min(o_totalprice)")},
           {_PROFILE_RENDER.format(x="max(o_totalprice)")}
    FROM orders
    """,
    tags=("extra", "dq"),
)
def dq_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiling (data-quality pass a pipeline runs before training):
    per-column row/null/distinct counts + min/max, computed in ONE scan —
    all columns' aggregates in a single aggregate node, then unpivoted to
    long form driver-side (fixed column list, no second pass)."""
    o = load(spark, sf_dir, "orders")
    agg = o.agg(
        F.count("*").alias("n"),
        *[
            a
            for c in ("o_custkey", "o_orderstatus", "o_totalprice")
            for a in (
                F.count(c).alias(f"nn_{c}"),
                F.countDistinct(c).alias(f"nd_{c}"),
            )
        ],
        F.min("o_custkey").cast("string").alias("min_o_custkey"),
        F.max("o_custkey").cast("string").alias("max_o_custkey"),
        F.min("o_orderstatus").cast("string").alias("min_o_orderstatus"),
        F.max("o_orderstatus").cast("string").alias("max_o_orderstatus"),
        F.expr(_PROFILE_RENDER.format(x="min(o_totalprice)")).alias(
            "min_o_totalprice"
        ),
        F.expr(_PROFILE_RENDER.format(x="max(o_totalprice)")).alias(
            "max_o_totalprice"
        ),
    )
    rows = ", ".join(
        f"'{c}', n, n - nn_{c}, nd_{c}, min_{c}, max_{c}"
        for c in ("o_custkey", "o_orderstatus", "o_totalprice")
    )
    return agg.select(
        F.expr(
            f"stack(3, {rows}) AS (col, n_rows, n_nulls, n_distinct, min_v, max_v)"
        )
    )


@op(
    "ts_resample_gap_fill",
    oracle=f"""
    WITH hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS h, {wsum_sql("value")} AS v
      FROM events WHERE user_id < 50 GROUP BY 1, 2
    ), bounds AS (
      SELECT user_id, min(h) AS mn, max(h) AS mx FROM hourly GROUP BY 1
    ), grid AS (
      SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
      FROM bounds
    ), j AS (
      SELECT g.user_id, g.h, hv.v
      FROM grid g LEFT JOIN hourly hv ON hv.user_id = g.user_id AND hv.h = g.h
    )
    SELECT user_id, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour, v AS raw_v,
           last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY h
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_v,
           v IS NULL AS was_gap
    FROM j
    """,
    tags=("extra", "timeseries"),
)
def ts_resample_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + gap fill: hourly per-user aggregates, a dense
    hour grid per user (sequence + explode — generated distributed, no
    driver loop), LEFT join, then forward-fill via last-non-null over an
    ordered frame. The standard hypertable/rollup gap-fill shape; the grid
    explode and the fill window both shuffle once on the series key."""
    e = load(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    hourly = e.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg(wsum(F.col("value")).alias("v"))
    bounds = hourly.groupBy("user_id").agg(
        F.min("h").alias("mn"), F.max("h").alias("mx")
    )
    grid = bounds.select(
        "user_id",
        F.explode(F.expr("sequence(mn, mx, interval 1 hour)")).alias("h"),
    )
    j = grid.join(hourly, ["user_id", "h"], "left")
    w = (
        W.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return j.select(
        "user_id",
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        F.col("v").alias("raw_v"),
        F.last("v", ignorenulls=True).over(w).alias("filled_v"),
        F.col("v").isNull().alias("was_gap"),
    )


@op(
    "agg_approx_percentile",
    oracle=f"""
    SELECT o_orderstatus,
           {money_sql(f"quantile_cont({finite_sql('o_totalprice')}, 0.5)")}
             AS exact_median,
           TRUE AS approx_within_tol
    FROM orders GROUP BY o_orderstatus
    """,
    tags=("extra", "agg", "approx"),
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based percentile (the 100 TB path — no per-group sort), with
    the same driver-checkable contract as agg_approx_distinct: emit the
    exact value plus a boolean asserting the sketch landed within 1% of it;
    the oracle expects TRUE, so a drifting sketch hash-mismatches.
    Non-finite measures excluded both sides (class-B contract)."""
    o = load(spark, sf_dir, "orders")
    price = finite(F.col("o_totalprice"))
    agg = o.groupBy("o_orderstatus").agg(
        money(F.percentile(price, F.lit(0.5))).alias("exact_median"),
        F.percentile_approx(price, F.lit(0.5), F.lit(10000)).alias("approx_median"),
    )
    return agg.select(
        "o_orderstatus",
        "exact_median",
        (
            F.abs(F.col("approx_median") - F.col("exact_median"))
            <= 0.01 * F.abs(F.col("exact_median"))
        ).alias("approx_within_tol"),
    )


@op(
    "agg_regression",
    oracle=f"""
    SELECT l_returnflag,
           {money_sql(
               f"regr_slope({finite_sql('l_extendedprice')}, {finite_sql('l_quantity')})",
               4, 8,
           )} AS slope,
           {money_sql(
               f"regr_intercept({finite_sql('l_extendedprice')}, {finite_sql('l_quantity')})",
           )} AS intercept,
           {money_sql(
               f"regr_r2({finite_sql('l_extendedprice')}, {finite_sql('l_quantity')})",
               4, 8,
           )} AS r2,
           CAST(regr_count({finite_sql('l_extendedprice')}, {finite_sql('l_quantity')})
                AS BIGINT) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("extra", "agg"),
)
def agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS regression via the built-in bivariate moment aggregates
    (regr_slope/intercept/r2) — single-pass, partial-agg-combinable, the
    JVM-side way to fit y = a·x + b per group at 100 TB (no UDAF, no
    collect). Decimal sandwich on each statistic for cross-engine ulp
    drift; non-finite on either side drops the pair (class-B contract,
    same treatment as agg_corr_covar)."""
    li = load(spark, sf_dir, "lineitem")
    price, qty = finite(F.col("l_extendedprice")), finite(F.col("l_quantity"))
    return li.groupBy("l_returnflag").agg(
        money(F.regr_slope(price, qty), 4, 8).alias("slope"),
        money(F.regr_intercept(price, qty)).alias("intercept"),
        money(F.regr_r2(price, qty), 4, 8).alias("r2"),
        F.regr_count(price, qty).cast("long").alias("n"),
    )


@op(
    "cdc_apply_changelog",
    oracle=f"""
    WITH changes AS (
      SELECT c_custkey AS key, 1 AS seq, 'U' AS op, c_acctbal + 100 AS new_bal
      FROM customer WHERE c_custkey % 10 = 1
      UNION ALL
      SELECT c_custkey, 2, 'D', NULL FROM customer WHERE c_custkey % 10 = 1 AND c_custkey % 3 = 0
      UNION ALL
      SELECT c_custkey, 1, 'D', NULL FROM customer WHERE c_custkey % 10 = 2
      UNION ALL
      SELECT c_custkey + 1000000, 1, 'I', 500.0 FROM customer WHERE c_custkey % 10 = 3
    ), latest AS (
      SELECT key, op, new_bal FROM (
        SELECT *, row_number() OVER (PARTITION BY key ORDER BY seq DESC, op) AS rn
        FROM changes
      ) WHERE rn = 1
    ), survivors AS (
      SELECT c.c_custkey AS key, c.c_nationkey AS nation, c.c_acctbal AS bal
      FROM customer c LEFT JOIN latest l ON c.c_custkey = l.key
      WHERE l.key IS NULL
    ), applied AS (
      SELECT l.key, coalesce(c.c_nationkey, -1) AS nation, l.new_bal AS bal
      FROM latest l LEFT JOIN customer c ON l.key = c.c_custkey
      WHERE l.op <> 'D'
    ), final AS (
      SELECT * FROM survivors UNION ALL SELECT * FROM applied
    )
    SELECT CAST(nation AS BIGINT) AS nation, CAST(count(*) AS BIGINT) AS n,
           {wsum_sql("bal")} AS total_bal
    FROM final GROUP BY nation
    """,
    tags=("extra", "sink"),
)
def cdc_apply_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog apply: latest-sequence-wins merge of an I/U/D change
    stream onto a base snapshot (Debezium/Delta CDF semantics — the
    incremental face of upsert_by_key / merge_scd2).

    The changelog is derived deterministically from the base table (key
    arithmetic) so both engines construct the identical log, including a
    key with BOTH an update (seq 1) and a delete (seq 2) to prove ordering
    wins over op type. Plan: window latest-per-key over the log (log-sized,
    not snapshot-sized), anti-join to drop touched keys from the base, and
    a union of surviving + applied rows — one snapshot scan, one log-keyed
    shuffle; at 100 TB the log is typically <<1% of the snapshot, and the
    anti/left joins hash on the same key so AQE co-plans them."""
    c = load(spark, sf_dir, "customer")
    upd = c.filter(F.col("c_custkey") % 10 == 1).select(
        F.col("c_custkey").alias("key"),
        F.lit(1).alias("seq"),
        F.lit("U").alias("op"),
        (F.col("c_acctbal") + 100).alias("new_bal"),
    )
    del2 = c.filter((F.col("c_custkey") % 10 == 1) & (F.col("c_custkey") % 3 == 0)).select(
        F.col("c_custkey").alias("key"),
        F.lit(2).alias("seq"),
        F.lit("D").alias("op"),
        F.lit(None).cast("double").alias("new_bal"),
    )
    del1 = c.filter(F.col("c_custkey") % 10 == 2).select(
        F.col("c_custkey").alias("key"),
        F.lit(1).alias("seq"),
        F.lit("D").alias("op"),
        F.lit(None).cast("double").alias("new_bal"),
    )
    ins = c.filter(F.col("c_custkey") % 10 == 3).select(
        (F.col("c_custkey") + 1000000).alias("key"),
        F.lit(1).alias("seq"),
        F.lit("I").alias("op"),
        F.lit(500.0).alias("new_bal"),
    )
    changes = upd.unionByName(del2).unionByName(del1).unionByName(ins)
    # op as tie-break: if a synthetic insert key ever collides with a real
    # key's change at the same seq (possible at sf large enough that
    # custkey + 1e6 wraps into the live key range), the winner must still
    # be deterministic and identical across engines.
    w = W.partitionBy("key").orderBy(F.desc("seq"), "op")
    latest = (
        changes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("key", "op", "new_bal")
    )
    survivors = c.join(latest, c.c_custkey == latest.key, "left_anti").select(
        F.col("c_custkey").alias("key"),
        F.col("c_nationkey").alias("nation"),
        F.col("c_acctbal").alias("bal"),
    )
    applied = (
        latest.filter(F.col("op") != "D")
        .join(c, latest.key == c.c_custkey, "left")
        .select(
            "key",
            F.coalesce(F.col("c_nationkey"), F.lit(-1)).alias("nation"),
            F.col("new_bal").alias("bal"),
        )
    )
    final = survivors.unionByName(applied)
    return final.groupBy(F.col("nation").cast("long").alias("nation")).agg(
        F.count("*").alias("n"), wsum(F.col("bal")).alias("total_bal")
    )


@op(
    "agg_histogram_fixed",
    oracle=f"""
    SELECT CAST(floor({finite_sql("l_extendedprice")} / 1000) AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           {wsum_sql("l_extendedprice")} AS sum_price,
           {money_sql("min(l_extendedprice)")} AS lo,
           {money_sql("max(l_extendedprice)")} AS hi
    FROM lineitem
    GROUP BY 1
    """,
    tags=("agg", "extra"),
)
def agg_histogram_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (width 1000) over lineitem prices: per-bucket
    count, sum, and observed min/max — the one-pass distribution profile a
    pipeline uses for range partitioning and outlier fences.

    Plan: a single groupBy on a computed key — partial (map-side) agg then
    one exchange carrying bucket-count rows, never data rows. The bucket
    count is bounded by the value range / width, so at 100 TB the shuffle
    is O(buckets), not O(rows); this is the scalable alternative to exact
    percentiles when the bin resolution is known up front."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            # non-finite prices share the NULL bucket (no integer image)
            F.floor(finite(F.col("l_extendedprice")) / 1000)
            .cast("long")
            .alias("bucket")
        )
        .agg(
            F.count("*").alias("n"),
            wsum(F.col("l_extendedprice")).alias("sum_price"),
            # raw min/max agree bit-wise (same doubles, no fold order);
            # money() makes the 2dp emit extreme-safe (plain round drifts
            # a ULP in DuckDB above ~2^53 and signs the zero on denormals)
            money(F.min("l_extendedprice")).alias("lo"),
            money(F.max("l_extendedprice")).alias("hi"),
        )
    )


@op(
    "agg_mode",
    oracle="""
    WITH cnt AS (
      SELECT o_orderstatus, o_orderpriority, count(*) AS c
      FROM orders GROUP BY 1, 2
    ), ranked AS (
      SELECT o_orderstatus, o_orderpriority, c,
             row_number() OVER (
               PARTITION BY o_orderstatus ORDER BY c DESC, o_orderpriority
             ) AS rk
      FROM cnt
    )
    SELECT o_orderstatus, o_orderpriority AS mode_priority,
           CAST(c AS BIGINT) AS n
    FROM ranked WHERE rk = 1
    """,
    tags=("agg", "extra"),
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group modal value (most frequent o_orderpriority per order
    status), with a lexical tie-break so the answer is total-ordered.

    Plan: count groupBy (map-side combined) then a window over the already
    (status)-clustered aggregate — the window input is one row per
    (status, priority) combination, i.e. cardinality-of-domain-sized, not
    data-sized. Spark's built-in ``mode()`` aggregate is tie-unspecified,
    so the window formulation is the deterministic one."""
    o = load(spark, sf_dir, "orders")
    cnt = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("c")
    )
    w = W.partitionBy("o_orderstatus").orderBy(F.desc("c"), "o_orderpriority")
    return (
        cnt.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            F.col("c").cast("long").alias("n"),
        )
    )


# -- Round-5: product-analytics operators ----------------------------------


@op(
    "agg_funnel_steps",
    oracle="""
    WITH s1 AS (
      SELECT user_id, MIN(epoch_us(ts)) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t1
      GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t2
      GROUP BY e.user_id
    )
    SELECT * FROM (
      SELECT 1 AS step, 'view' AS event_type,
             CAST(COUNT(*) AS BIGINT) AS n_users FROM s1
      UNION ALL
      SELECT 2, 'click', CAST(COUNT(*) AS BIGINT) FROM s2
      UNION ALL
      SELECT 3, 'purchase', CAST(COUNT(*) AS BIGINT) FROM s3
    ) ORDER BY step
    """,
    tags=("agg", "analytics", "extra"),
)
def agg_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users who viewed, then clicked strictly AFTER their
    first view, then purchased strictly after that click — the sequential
    min-timestamp construction every product-analytics engine ships as a
    dedicated operator, expressed as three time-constrained aggregations.
    Epoch-microsecond comparisons on both engines so sub-second ordering
    agrees exactly. Plan: each step is one shuffle on user_id, and steps
    2-3 join against the (strictly shrinking) per-user step table, never
    re-scanning events more than the three type-filtered passes —
    at 100 TB each pass prunes on the event_type predicate first."""
    e = load(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("t")
    )
    s1 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id").agg(F.min("t").alias("t1"))
    )
    s2 = (
        e.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("t") > F.col("t1"))
        .groupBy("user_id").agg(F.min("t").alias("t2"))
    )
    s3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("t") > F.col("t2"))
        .groupBy("user_id").agg(F.min("t").alias("t3"))
    )
    rows = [(1, "view", s1), (2, "click", s2), (3, "purchase", s3)]
    parts = [
        df.agg(F.count("*").alias("n_users")).select(
            F.lit(step).alias("step"), F.lit(name).alias("event_type"),
            F.col("n_users").cast("long"),
        )
        for step, name, df in rows
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("step")


@op(
    "win_retention_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id, MIN(epoch_us(ts) // 604800000000) AS w0
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT e.user_id, f.w0,
             (epoch_us(e.ts) // 604800000000) - f.w0 AS weeks_since
      FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT CAST(w0 AS BIGINT) AS cohort_week,
           CAST(weeks_since AS BIGINT) AS weeks_since,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM activity
    GROUP BY 1, 2
    ORDER BY cohort_week, weeks_since
    """,
    tags=("agg", "analytics", "extra"),
)
def win_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by first-activity epoch-week
    (integer floor-division of epoch micros — no calendar/timezone
    semantics to disagree on), counted distinct per (cohort, weeks-since)
    cell. The product-analytics staple behind every retention curve. Two
    shuffles on user_id (first-seen, then the distinct), then a cell-count
    agg whose output is weeks² rows — tiny at any corpus size."""
    wk = 604_800_000_000  # microseconds per week
    e = load(spark, sf_dir, "events").select(
        "user_id", (F.floor(F.unix_micros("ts") / wk)).alias("w")
    )
    firsts = e.groupBy("user_id").agg(F.min("w").alias("w0"))
    activity = (
        e.join(firsts, "user_id")
        .select("user_id", "w0", (F.col("w") - F.col("w0")).alias("weeks_since"))
        .distinct()
    )
    return (
        activity.groupBy(
            F.col("w0").cast("long").alias("cohort_week"),
            F.col("weeks_since").cast("long").alias("weeks_since"),
        )
        .agg(F.count("*").alias("n_users"))
        .orderBy("cohort_week", "weeks_since")
    )


# ---------------------------------------------------------------------------
# SCD2 temporal join (round-6/7 registration queue — finished + verified
# in tests/test_incremental.py; registers when the driver window rotates).
# ---------------------------------------------------------------------------

_SCD2_CUT = "1998-01-01"

JOIN_SCD2_TEMPORAL_ORACLE = f"""
    WITH dim AS (
      SELECT c_custkey AS key,
             'seg-' || CAST(c_custkey % 5 AS VARCHAR) AS seg,
             DATE '1992-01-01' AS valid_from,
             CASE WHEN c_custkey % 3 = 0 THEN DATE '{_SCD2_CUT}' END AS valid_to
      FROM customer
      UNION ALL
      SELECT c_custkey, 'seg-upd', DATE '{_SCD2_CUT}', NULL
      FROM customer WHERE c_custkey % 3 = 0
    )
    SELECT d.seg,
           CAST(count(*) AS BIGINT) AS n,
           {money_sql(f"sum({finite_sql('o.o_totalprice')})")} AS total
    FROM orders o JOIN dim d
      ON o.o_custkey = d.key
     AND CAST(o.o_orderdate AS DATE) >= d.valid_from
     AND (d.valid_to IS NULL OR CAST(o.o_orderdate AS DATE) < d.valid_to)
    GROUP BY d.seg
    ORDER BY d.seg
"""


@op("join_scd2_temporal", oracle=JOIN_SCD2_TEMPORAL_ORACLE, tags=("join", "extra"))
def join_scd2_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal (point-in-time) join of facts to an SCD TYPE-2 dimension:
    every order joins the dimension VERSION that was valid on its order
    date — the standard warehouse pattern that merge_scd2's output exists
    to serve. The fixture dimension has two generations (all customers at
    'seg-N' from 1992; every third customer re-versioned to 'seg-upd' at
    1998-01-01), so both the closed-interval and the open-current paths are
    exercised.

    Scalable formulation: NOT an interval join — the dim's validity
    windows partition time per key, so "the version valid at t" is
    exactly "the latest valid_from ≤ t": a backward AS-OF association.
    Union-tag both inputs on (key, date), sort once per key with dim rows
    first on date ties, and carry last(seg) forward — ONE shuffle on the
    join key, no range predicate, no broadcast requirement (works even
    when the dim's history is too big to broadcast; the oracle pays the
    interval join instead). Same trick as join_asof_event, applied to the
    SCD2 contract."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select("c_custkey")
    cut = F.lit(_SCD2_CUT).cast("date")
    v1 = c.select(
        F.col("c_custkey").alias("key"),
        F.concat(F.lit("seg-"), (F.col("c_custkey") % 5).cast("string")).alias(
            "seg"
        ),
        F.lit("1992-01-01").cast("date").alias("vfrom"),
    )
    v2 = (
        c.filter(F.col("c_custkey") % 3 == 0)
        .select(
            F.col("c_custkey").alias("key"),
            F.lit("seg-upd").alias("seg"),
            cut.alias("vfrom"),
        )
    )
    dim = v1.unionByName(v2).select(
        "key", F.col("vfrom").alias("d"), "seg",
        F.lit(1).alias("is_dim"),
        F.lit(None).cast("double").alias("price"),
    )
    # inner-join semantics of the oracle: an order with a NULL custkey
    # or date matches no dim version — exclude up front
    facts = o.filter(
        F.col("o_custkey").isNotNull() & F.col("o_orderdate").isNotNull()
    ).select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderdate").cast("date").alias("d"),
        F.lit(None).cast("string").alias("seg"),
        F.lit(0).alias("is_dim"),
        F.col("o_totalprice").alias("price"),
    )
    u = dim.unionByName(facts)
    # dim first on date ties: a version starting on the order date IS the
    # valid one (valid_from inclusive)
    w = (
        W.partitionBy("key")
        .orderBy("d", F.desc("is_dim"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    tagged = u.withColumn(
        "cur_seg", F.last(F.when(F.col("is_dim") == 1, F.col("seg")), True).over(w)
    )
    return (
        tagged.filter(F.col("is_dim") == 0)
        .groupBy(F.col("cur_seg").alias("seg"))
        .agg(
            F.count("*").alias("n"),
            # decimal-exact partial over FINITE prices (the decimal cast
            # can't represent NaN/Inf; both engines exclude them)
            F.round(F.sum(finite(F.col("price")).cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("total"),
        )
        .orderBy("seg")
    )


# ---------------------------------------------------------------------------
# win_event_sequence_regex (round-7 registration queue)
# ---------------------------------------------------------------------------

# view -> v, click -> c, purchase -> p, signup -> s, error -> e: the five
# event types have distinct initials, so the per-user journey becomes a
# character string and funnel detection becomes a regex. 'vc*p' = a view,
# any number of clicks, then a purchase, contiguously.
_SEQ_PATTERN = "vc*p"

WIN_EVENT_SEQUENCE_REGEX_ORACLE = f"""
    WITH seqs AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), ''
                        ORDER BY ts, event_id) AS journey
      FROM events
      WHERE ts IS NOT NULL AND event_type IS NOT NULL
      GROUP BY user_id
    )
    SELECT user_id,
           journey,
           CAST(length(journey) AS BIGINT) AS n_events,
           CAST(length(regexp_extract_all(journey, '{_SEQ_PATTERN}'))
                AS BIGINT) AS n_funnels
    FROM seqs ORDER BY user_id
"""


@op("win_event_sequence_regex", oracle=WIN_EVENT_SEQUENCE_REGEX_ORACLE, tags=('window', 'extra'))
def win_event_sequence_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite: per-user event journeys flattened to a
    character string (one char per event, ordered by (ts, event_id) — the
    unique id breaks timestamp ties so the string is deterministic), then
    row-pattern matching as a regex over the journey. Counts non-
    overlapping 'view, clicks*, purchase' funnel completions; both engines
    scan left-to-right non-overlapping, and the pattern is alternation-
    free, so Java and RE2 match identically.

    This is the engine's answer to SQL:2016 MATCH_RECOGNIZE / CEP-style
    sequence queries: ORDER the partition, REDUCE to a symbol string,
    regex it. Scale: one shuffle on the series key; journey length is
    bounded by events-per-user, and a per-user journey that outgrows
    memory is exactly the case for the session-window split
    (stream_session_window) before pattern matching."""
    e = (
        load(spark, sf_dir, "events")
        # a journey char needs both a position (ts) and a symbol
        .filter(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
        .select(
            "user_id",
            "ts",
            "event_id",
            F.expr("substr(event_type, 1, 1)").alias("ch"),
        )
    )
    seqs = e.groupBy("user_id").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(ts, event_id, ch)))"
            ", x -> x.ch), '')"
        ).alias("journey")
    )
    return seqs.select(
        "user_id",
        "journey",
        F.length("journey").cast("long").alias("n_events"),
        F.expr(f"regexp_count(journey, '{_SEQ_PATTERN}')")
        .cast("long")
        .alias("n_funnels"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# ts_interpolate_linear (round-7 registration queue)
# ---------------------------------------------------------------------------

TS_INTERPOLATE_LINEAR_ORACLE = """
    WITH hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS h,
             CAST(round(CAST(sum((CASE WHEN abs(CAST(value AS DOUBLE)) < 1e12 THEN CAST(value AS DOUBLE) END)) AS DECIMAL(18,6)), 2) AS DOUBLE) AS v
      FROM events WHERE user_id < 50 GROUP BY 1, 2
    ),
    bounds AS (
      SELECT user_id, min(h) AS mn, max(h) AS mx FROM hourly GROUP BY 1
    ),
    grid AS (
      SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
      FROM bounds
    ),
    j AS (
      SELECT g.user_id, g.h, hourly.v,
             CAST(epoch(g.h) AS BIGINT) // 3600 AS eh
      FROM grid g LEFT JOIN hourly ON hourly.user_id = g.user_id AND hourly.h = g.h
    ),
    ctx AS (
      SELECT user_id, h, v, eh,
             last_value(v IGNORE NULLS) OVER w_prev AS pv,
             last_value(CASE WHEN v IS NOT NULL THEN eh END IGNORE NULLS)
               OVER w_prev AS pt,
             first_value(v IGNORE NULLS) OVER w_next AS nv,
             first_value(CASE WHEN v IS NOT NULL THEN eh END IGNORE NULLS)
               OVER w_next AS nt
      FROM j
      WINDOW
        w_prev AS (PARTITION BY user_id ORDER BY h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        w_next AS (PARTITION BY user_id ORDER BY h
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id,
           strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
           v AS raw_v,
           CASE
             WHEN v IS NOT NULL THEN v
             WHEN pv IS NULL OR nv IS NULL THEN NULL
             ELSE (CASE WHEN abs(CAST(pv + (nv - pv) * (eh - pt) / (nt - pt) AS DOUBLE)) < 1e9 THEN CAST(round(CAST(CAST(pv + (nv - pv) * (eh - pt) / (nt - pt) AS DOUBLE) AS DECIMAL(18,9)), 2) AS DOUBLE) ELSE CAST(pv + (nv - pv) * (eh - pt) / (nt - pt) AS DOUBLE) END)
           END AS interp_v,
           v IS NULL AS was_gap
    FROM ctx
"""


@op("ts_interpolate_linear", oracle=TS_INTERPOLATE_LINEAR_ORACLE, tags=('timeseries', 'extra'))
def ts_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of time-series gaps (the sibling of
    ts_resample_gap_fill's forward fill): per-user hourly grid, and each
    gap hour gets pv + (nv-pv)*(t-pt)/(nt-pt) from its neighboring
    observed points. The prev/next values AND their epoch-hours come from
    last/first-ignore-nulls frames — two window passes sharing ONE
    partition sort on the series key. Epoch-hours are exact integers, so
    the only float work is the final two-point blend, which goes through
    the decimal sandwich. Leading/trailing gaps (no neighbor on one side)
    stay NULL rather than inventing an extrapolation.

    Scale: grid explode + join + both window frames all partition by
    user_id — one exchange end-to-end, same as the gap-fill op; state per
    series is O(1) per row (running last/first), not O(frame)."""
    e = load(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    hourly = e.groupBy("user_id", F.date_trunc("hour", "ts").alias("h")).agg(
        F.expr("CAST(round(CAST(sum((CASE WHEN abs(CAST(value AS DOUBLE)) < 1e12 THEN CAST(value AS DOUBLE) END)) AS DECIMAL(18,6)), 2) AS DOUBLE)").alias(
            "v"
        )
    )
    bounds = hourly.groupBy("user_id").agg(
        F.min("h").alias("mn"), F.max("h").alias("mx")
    )
    grid = bounds.select(
        "user_id", F.explode(F.expr("sequence(mn, mx, interval 1 hour)")).alias("h")
    )
    j = grid.join(hourly, ["user_id", "h"], "left").withColumn(
        "eh", F.expr("unix_timestamp(h) div 3600")
    )
    w_prev = (
        W.partitionBy("user_id").orderBy("h").rowsBetween(W.unboundedPreceding, 0)
    )
    w_next = (
        W.partitionBy("user_id").orderBy("h").rowsBetween(0, W.unboundedFollowing)
    )
    obs_eh = F.when(F.col("v").isNotNull(), F.col("eh"))
    ctx = (
        j.withColumn("pv", F.last("v", ignorenulls=True).over(w_prev))
        .withColumn("pt", F.last(obs_eh, ignorenulls=True).over(w_prev))
        .withColumn("nv", F.first("v", ignorenulls=True).over(w_next))
        .withColumn("nt", F.first(obs_eh, ignorenulls=True).over(w_next))
    )
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNull() | F.col("nv").isNull(), F.lit(None))
        .otherwise(
            money(
                F.col("pv")
                + (F.col("nv") - F.col("pv"))
                * (F.col("eh") - F.col("pt"))
                / (F.col("nt") - F.col("pt")),
                2,
                9,
            )
        )
    )
    return ctx.select(
        "user_id",
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        F.col("v").alias("raw_v"),
        interp.alias("interp_v"),
        F.col("v").isNull().alias("was_gap"),
    )


# ---------------------------------------------------------------------------
# join_interval_overlap (round-7 registration queue)
# ---------------------------------------------------------------------------

# 24 deterministic promo windows over the events month: every 30 h, with a
# hash-derived 6..53 h duration. Pure integer epoch-second arithmetic, so
# both engines derive identical intervals. 2024-01-01T00:00Z = 1704067200.
_PROMO_START = "1704067200 + id * 108000"
_PROMO_DUR = "3600 * (6 + (id * 2654435761) % 4294967296 % 48)"
_IVL_BUCKET = 86400  # 1-day blocking buckets

JOIN_INTERVAL_OVERLAP_ORACLE = f"""
    WITH promos AS (
      SELECT range AS id,
             {_PROMO_START.replace('id', 'range')} AS p_start,
             {_PROMO_START.replace('id', 'range')}
               + {_PROMO_DUR.replace('id', 'range')} AS p_end
      FROM range(24)
    ),
    spans AS (
      -- floor() before the BIGINT cast: DuckDB's double->BIGINT cast
      -- ROUNDS, Spark's unix_timestamp truncates — without the floor a
      -- span ending at x.5+ seconds reaches one second further on the
      -- DuckDB side and can cross a promo boundary (caught by the sf0.1
      -- sweep: one extra span on one promo).
      SELECT user_id, CAST(ts AS DATE) AS day,
             CAST(floor(epoch(min(ts))) AS BIGINT) AS s_start,
             CAST(floor(epoch(max(ts))) AS BIGINT) AS s_end
      FROM events GROUP BY 1, 2
    )
    SELECT p.id AS promo_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(count(DISTINCT s.user_id) AS BIGINT) AS n_users
    FROM promos p JOIN spans s
      ON s.s_start <= p.p_end AND p.p_start <= s.s_end
    GROUP BY 1
"""


@op("join_interval_overlap", oracle=JOIN_INTERVAL_OVERLAP_ORACLE, tags=('join', 'extra'))
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join (temporal sibling of the geo grid join):
    which user activity spans overlap which promo windows. The naive form
    is a theta join (start_a <= end_b AND start_b <= end_a) — quadratic
    candidates at scale. Here both interval sets explode to the 1-day
    buckets they COVER (sequence over integer epoch-day ids, computed
    distributed) and candidates come from the bucket equi-join; a pair
    overlapping several shared buckets is emitted once by the standard
    trick of keeping only the bucket that contains the later of the two
    starts. The oracle is the plain theta join — proving the blocking is
    exact.

    Scale: shuffle keys are integer day-buckets; an interval pays one row
    per covered day (bounded by its duration / bucket width — the
    granularity knob); no cartesian anywhere. This is how range/interval
    joins run on engines without a native interval-join operator, and the
    same shape serves IP-range and genomic-interval joins."""
    promos = spark.range(24).select(
        F.col("id"),
        F.expr(_PROMO_START).alias("p_start"),
        F.expr(f"{_PROMO_START} + {_PROMO_DUR}").alias("p_end"),
    )
    e = load(spark, sf_dir, "events")
    spans = e.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.unix_timestamp(F.min("ts")).alias("s_start"),
        F.unix_timestamp(F.max("ts")).alias("s_end"),
    )
    pb = promos.select(
        "id",
        "p_start",
        "p_end",
        F.explode(
            F.expr(f"sequence(p_start div {_IVL_BUCKET}, p_end div {_IVL_BUCKET})")
        ).alias("bucket"),
    )
    sb = spans.select(
        "user_id",
        "s_start",
        "s_end",
        F.explode(
            F.expr(f"sequence(s_start div {_IVL_BUCKET}, s_end div {_IVL_BUCKET})")
        ).alias("bucket"),
    )
    pairs = pb.join(sb, "bucket").filter(
        (F.col("s_start") <= F.col("p_end"))
        & (F.col("p_start") <= F.col("s_end"))
        # dedup: count the pair only in the bucket holding max(starts)
        & (F.expr(f"greatest(p_start, s_start) div {_IVL_BUCKET}") == F.col("bucket"))
    )
    return (
        pairs.groupBy(F.col("id").alias("promo_id"))
        .agg(
            F.count("*").alias("n_spans"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("promo_id")
    )


# ---------------------------------------------------------------------------
# agg_weighted_percentile (round-7 registration queue)
# ---------------------------------------------------------------------------

AGG_WEIGHTED_PERCENTILE_ORACLE = f"""
    WITH by_val AS (
      SELECT l_returnflag, l_extendedprice AS v,
             sum(CAST((CASE WHEN abs(CAST(l_quantity AS DOUBLE)) < 1e12 THEN CAST(l_quantity AS DOUBLE) END) AS DECIMAL(18,6))) AS w
      FROM lineitem
      WHERE {finite_sql('l_extendedprice')} IS NOT NULL
        AND {finite_sql('l_quantity')} IS NOT NULL
      GROUP BY 1, 2
    ),
    cum AS (
      SELECT l_returnflag, v, w,
             sum(w) OVER (PARTITION BY l_returnflag ORDER BY v
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cw,
             sum(w) OVER (PARTITION BY l_returnflag) AS tw
      FROM by_val
    )
    SELECT l_returnflag,
           (CASE WHEN abs(CAST(min(CASE WHEN cw >= tw * 0.5 THEN v END) AS DOUBLE)) < 1e12 THEN CAST(round(CAST(CAST(min(CASE WHEN cw >= tw * 0.5 THEN v END) AS DOUBLE) AS DECIMAL(18,6)), 2) AS DOUBLE) ELSE CAST(min(CASE WHEN cw >= tw * 0.5 THEN v END) AS DOUBLE) END) AS wp50,
           (CASE WHEN abs(CAST(min(CASE WHEN cw >= tw * 0.9 THEN v END) AS DOUBLE)) < 1e12 THEN CAST(round(CAST(CAST(min(CASE WHEN cw >= tw * 0.9 THEN v END) AS DOUBLE) AS DECIMAL(18,6)), 2) AS DOUBLE) ELSE CAST(min(CASE WHEN cw >= tw * 0.9 THEN v END) AS DOUBLE) END) AS wp90
    FROM cum GROUP BY l_returnflag
"""


@op("agg_weighted_percentile", oracle=AGG_WEIGHTED_PERCENTILE_ORACLE, tags=('agg', 'extra'))
def agg_weighted_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted percentiles (p50/p90 of extended price, weighted by
    quantity) — the engine-gap aggregate neither Spark nor most SQL
    dialects ship. Definition: the smallest value whose cumulative weight
    reaches q x total. Weights are aggregated PER DISTINCT VALUE first,
    so the cumulative sum runs over a deterministic sequence (equal
    values can't straddle the threshold in engine-specific orders), and
    they stay DECIMAL through the cumsum so the threshold comparison is
    exact — the same partial-exactness trick as the MV family.

    Scale: one partial agg to (group, value) grain — the heavy reduce —
    then a window over the collapsed values (DISTINCT prices per group,
    orders of magnitude smaller than rows). The approximate tier for
    unbounded value domains is agg_histogram_quantile_merge's binned
    partials; this is the exact tier."""
    # a weighted observation needs both a FINITE value (ASC order key —
    # class-8 null position; NaN order keys and decimal-cast weights
    # diverge) and a FINITE weight — excluded both sides (class-B)
    li = load(spark, sf_dir, "lineitem").filter(
        finite(F.col("l_extendedprice")).isNotNull()
        & finite(F.col("l_quantity")).isNotNull()
    )
    by_val = li.groupBy("l_returnflag", F.col("l_extendedprice").alias("v")).agg(
        F.sum(finite(F.col("l_quantity")).cast("decimal(18,6)")).alias("w")
    )
    wc = (
        W.partitionBy("l_returnflag")
        .orderBy("v")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    wt = W.partitionBy("l_returnflag")
    cum = by_val.select(
        "l_returnflag",
        "v",
        F.sum("w").over(wc).alias("cw"),
        F.sum("w").over(wt).alias("tw"),
    )
    pick = lambda q: F.expr(
        f"CAST(round(CAST(min(CASE WHEN cw >= tw * {q} THEN v END)"
        " AS DECIMAL(18,6)), 2) AS DOUBLE)"
    )
    return (
        cum.groupBy("l_returnflag")
        .agg(pick(0.5).alias("wp50"), pick(0.9).alias("wp90"))
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# win_drawdown_runmax (round-7 registration queue)
# ---------------------------------------------------------------------------

WIN_DRAWDOWN_RUNMAX_ORACLE = """
    WITH series AS (
      SELECT user_id, ts, event_id, value,
             max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS runmax
      FROM events WHERE ts IS NOT NULL AND (CASE WHEN abs(CAST(value AS DOUBLE)) < 1e12 THEN CAST(value AS DOUBLE) END) IS NOT NULL
    ),
    dd AS (
      SELECT user_id, runmax,
             round(CAST((value - runmax) / runmax * 100 AS DECIMAL(18,9)), 4)
               AS dd_pct
      FROM series
    )
    SELECT user_id,
           (CASE WHEN abs(CAST(max(runmax) AS DOUBLE)) < 1e12 THEN CAST(round(CAST(CAST(max(runmax) AS DOUBLE) AS DECIMAL(18,6)), 2) AS DOUBLE) ELSE CAST(max(runmax) AS DOUBLE) END) AS peak,
           CAST(min(dd_pct) AS DOUBLE) AS max_drawdown_pct
    FROM dd GROUP BY user_id
"""


@op("win_drawdown_runmax", oracle=WIN_DRAWDOWN_RUNMAX_ORACLE, tags=('window', 'extra'))
def win_drawdown_runmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-peak drawdown per series (the finance/SLO-burn window):
    running max over the (ts, event_id)-ordered series, per-row drawdown
    = (value - peak)/peak, and the per-user worst drawdown + peak. One
    window and one aggregate sharing a single series-key exchange; the
    running max is O(1) state per row. The drawdown ratio is the only
    float and goes through the decimal sandwich BEFORE the min, so the
    argmin can't flip on sub-rounding noise."""
    # drawdown is only defined over FINITE observations (class-B): a NaN
    # in the running max poisons every later row's peak on both engines
    e = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & finite(F.col("value")).isNotNull()
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    series = e.select(
        "user_id", "value", F.max("value").over(w).alias("runmax")
    ).select(
        "user_id",
        "runmax",
        F.expr(
            "round(CAST((value - runmax) / runmax * 100 AS DECIMAL(18,9)), 4)"
        ).alias("dd_pct"),
    )
    return (
        series.groupBy("user_id")
        .agg(
            F.expr(
                "(CASE WHEN abs(CAST(max(runmax) AS DOUBLE)) < 1e12 THEN CAST(round(CAST(CAST(max(runmax) AS DOUBLE) AS DECIMAL(18,6)), 2) AS DOUBLE) ELSE CAST(max(runmax) AS DOUBLE) END)"
            ).alias("peak"),
            F.min("dd_pct").cast("double").alias("max_drawdown_pct"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# stat_chi_square_independence (round-7 registration queue)
# ---------------------------------------------------------------------------

STAT_CHI_SQUARE_ORACLE = """
    WITH obs AS (
      SELECT event_type, user_id % 3 AS cohort, count(*) AS o
      FROM events GROUP BY 1, 2
    ),
    margins AS (
      SELECT o.event_type, o.cohort, o.o,
             sum(o.o) OVER (PARTITION BY o.event_type) AS row_tot,
             sum(o.o) OVER (PARTITION BY o.cohort) AS col_tot,
             sum(o.o) OVER () AS n
      FROM obs o
    )
    SELECT event_type, cohort,
           CAST(o AS BIGINT) AS observed,
           (CASE WHEN abs(CAST(row_tot * col_tot / CAST(n AS DOUBLE) AS DOUBLE)) < 1e9 THEN CAST(round(CAST(CAST(row_tot * col_tot / CAST(n AS DOUBLE) AS DOUBLE) AS DECIMAL(18,9)), 4) AS DOUBLE) ELSE CAST(row_tot * col_tot / CAST(n AS DOUBLE) AS DOUBLE) END) AS expected,
           (CASE WHEN abs(CAST(pow(o - row_tot * col_tot / CAST(n AS DOUBLE), 2)
                      / (row_tot * col_tot / CAST(n AS DOUBLE)) AS DOUBLE)) < 1e9 THEN CAST(round(CAST(CAST(pow(o - row_tot * col_tot / CAST(n AS DOUBLE), 2)
                      / (row_tot * col_tot / CAST(n AS DOUBLE)) AS DOUBLE) AS DECIMAL(18,9)), 4) AS DOUBLE) ELSE CAST(pow(o - row_tot * col_tot / CAST(n AS DOUBLE), 2)
                      / (row_tot * col_tot / CAST(n AS DOUBLE)) AS DOUBLE) END) AS contribution
    FROM margins
"""


@op("stat_chi_square_independence", oracle=STAT_CHI_SQUARE_ORACLE, tags=('stat', 'extra'))
def stat_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence as a contingency-table plan:
    observed cell counts (one partial agg), row/column/grand margins as
    windows over the TINY cell table (types x cohorts, not the raw
    events), expected counts and per-cell chi-square contributions. The
    statistic is sum(contribution) and the dof (r-1)(c-1) — left to the
    caller so the output stays one uniform grain. The raw-data pass is a
    single partial-aggregating groupBy; everything after operates on
    O(cells) rows, which is the textbook split for contingency analytics
    at any scale."""
    e = load(spark, sf_dir, "events")
    obs = e.groupBy(
        "event_type", (F.col("user_id") % 3).alias("cohort")
    ).agg(F.count("*").alias("o"))
    wr = W.partitionBy("event_type")
    wc = W.partitionBy("cohort")
    wn = W.partitionBy()
    m = obs.select(
        "event_type",
        "cohort",
        "o",
        F.sum("o").over(wr).alias("row_tot"),
        F.sum("o").over(wc).alias("col_tot"),
        F.sum("o").over(wn).alias("n"),
    )
    return m.select(
        "event_type",
        "cohort",
        F.col("o").cast("long").alias("observed"),
        F.expr(
            "CAST(round(CAST(row_tot * col_tot / CAST(n AS DOUBLE)"
            " AS DECIMAL(18,9)), 4) AS DOUBLE)"
        ).alias("expected"),
        F.expr(
            "CAST(round(CAST(pow(o - row_tot * col_tot / CAST(n AS DOUBLE), 2)"
            " / (row_tot * col_tot / CAST(n AS DOUBLE))"
            " AS DECIMAL(18,9)), 4) AS DOUBLE)"
        ).alias("contribution"),
    ).orderBy("event_type", "cohort")


# ---------------------------------------------------------------------------
# agg_frequent_pairs_market_basket (round-7 registration queue)
# ---------------------------------------------------------------------------

_MB_TOPK = 20

AGG_FREQUENT_PAIRS_ORACLE = f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS support
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT pa, pb, CAST(support AS BIGINT) AS support
    FROM pairs
    ORDER BY support DESC, pa, pb
    LIMIT {_MB_TOPK}
"""


@op("agg_frequent_pairs_market_basket", oracle=AGG_FREQUENT_PAIRS_ORACLE, tags=('agg', 'extra'))
def agg_frequent_pairs_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining: the top co-purchased part pairs.
    Within-order self-join on the DISTINCT (order, part) item set with
    pa < pb (each unordered pair once), partial-agg support counts,
    total-order top-k. Pair blow-up is quadratic in ITEMS PER BASKET
    (~4 here), not in orders — the standard bound; a pathological basket
    would be capped the way minhash caps degenerate bands (count items
    per order, drop or sample baskets over the cap — the documented
    guard, not needed on this data). The A-priori support-threshold
    refinement prunes the item set BEFORE pairing at true scale; the
    plan shape (equi-join on the basket key, map-side pair counting) is
    unchanged."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pb"))
    return (
        a.join(b, "k")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("support"))
        .orderBy(F.desc("support"), "pa", "pb")
        .limit(_MB_TOPK)
    )


# ---------------------------------------------------------------------------
# win_period_over_period (round-7 registration queue)
# ---------------------------------------------------------------------------

WIN_PERIOD_OVER_PERIOD_ORACLE = """
    WITH monthly AS (
      SELECT o_orderpriority AS prio,
             strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
             CAST(round(sum(CAST((CASE WHEN abs(CAST(o_totalprice AS DOUBLE)) < 1e12 THEN CAST(o_totalprice AS DOUBLE) END) AS DECIMAL(18,6))), 2) AS DOUBLE)
               AS revenue
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1, 2
    )
    SELECT prio, month, revenue,
           (CASE WHEN abs(CAST((revenue - lag(revenue) OVER w)
                      / lag(revenue) OVER w * 100 AS DOUBLE)) < 1e9 THEN CAST(round(CAST(CAST((revenue - lag(revenue) OVER w)
                      / lag(revenue) OVER w * 100 AS DOUBLE) AS DECIMAL(18,9)), 2) AS DOUBLE) ELSE CAST((revenue - lag(revenue) OVER w)
                      / lag(revenue) OVER w * 100 AS DOUBLE) END) AS mom_pct,
           (CASE WHEN abs(CAST((revenue - lag(revenue, 12) OVER w)
                      / lag(revenue, 12) OVER w * 100 AS DOUBLE)) < 1e9 THEN CAST(round(CAST(CAST((revenue - lag(revenue, 12) OVER w)
                      / lag(revenue, 12) OVER w * 100 AS DOUBLE) AS DECIMAL(18,9)), 2) AS DOUBLE) ELSE CAST((revenue - lag(revenue, 12) OVER w)
                      / lag(revenue, 12) OVER w * 100 AS DOUBLE) END) AS yoy_pct
    FROM monthly
    WINDOW w AS (PARTITION BY prio ORDER BY month)
"""


@op("win_period_over_period", oracle=WIN_PERIOD_OVER_PERIOD_ORACLE, tags=('window', 'extra'))
def win_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month and year-over-year growth per order priority —
    the reporting-layer staple. Revenue collapses to the (group, month)
    grain first (DECIMAL partials), then both offsets come from ONE lag
    window ordered by the formatted month key (lag-12 stands in for the
    same-month-last-year join; a calendar gap shifts the offset, which
    is the documented caveat shared by every offset-based YoY — the
    gap-free fix is the dense month grid of ts_resample_gap_fill).
    Percent changes are decimal-sandwiched; first periods stay NULL. At
    scale: the heavy reduce is the partial agg; the window runs over
    O(groups x months) rows."""
    # a NULL month would take the class-8 divergent position in the lag
    # window — undated orders are excluded from period reporting
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    monthly = o.groupBy(
        F.col("o_orderpriority").alias("prio"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("month"),
    ).agg(
        F.expr(
            "CAST(round(sum(CAST((CASE WHEN abs(CAST(o_totalprice AS DOUBLE)) < 1e12 THEN CAST(o_totalprice AS DOUBLE) END) AS DECIMAL(18,6))), 2) AS DOUBLE)"
        ).alias("revenue")
    )
    w = W.partitionBy("prio").orderBy("month")
    pct = lambda off: F.expr(
        f"CAST(round(CAST((revenue - lag(revenue, {off}) OVER"
        " (PARTITION BY prio ORDER BY month))"
        f" / lag(revenue, {off}) OVER (PARTITION BY prio ORDER BY month)"
        " * 100 AS DECIMAL(18,9)), 2) AS DOUBLE)"
    )
    return monthly.select(
        "prio", "month", "revenue",
        pct(1).alias("mom_pct"),
        pct(12).alias("yoy_pct"),
    ).orderBy("prio", "month")


# ---------------------------------------------------------------------------
# win_percent_rank_cume / scan_date_dim_generate / fn_surrogate_key_md5
# (round-7 registration queue)
# ---------------------------------------------------------------------------

WIN_PERCENT_RANK_CUME_ORACLE = """
    SELECT o_orderkey, o_orderstatus,
           (CASE WHEN abs(CAST(percent_rank() OVER w AS DOUBLE)) < 1e9 THEN CAST(round(CAST(CAST(percent_rank() OVER w AS DOUBLE) AS DECIMAL(18,9)), 6) AS DOUBLE) ELSE CAST(percent_rank() OVER w AS DOUBLE) END) AS pr,
           (CASE WHEN abs(CAST(cume_dist() OVER w AS DOUBLE)) < 1e9 THEN CAST(round(CAST(CAST(cume_dist() OVER w AS DOUBLE) AS DECIMAL(18,9)), 6) AS DOUBLE) ELSE CAST(cume_dist() OVER w AS DOUBLE) END) AS cd
    FROM orders WHERE o_totalprice IS NOT NULL
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
"""


@op("win_percent_rank_cume", oracle=WIN_PERCENT_RANK_CUME_ORACLE, tags=('window', 'extra'))
def win_percent_rank_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank + cume_dist over a total-ordered frame (the
    distribution-position windows win_ntile_pct doesn't cover). The
    order key carries the unique o_orderkey tie-break, so rank positions
    — and therefore both ratios — are cross-engine deterministic even
    among equal prices. One exchange on the partition key."""
    # ASC over a nullable price: class-8 null position — exclude
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice").isNotNull())
    w = W.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.expr(
            "CAST(round(CAST(percent_rank() OVER (PARTITION BY o_orderstatus"
            " ORDER BY o_totalprice, o_orderkey) AS DECIMAL(18,9)), 6) AS DOUBLE)"
        ).alias("pr"),
        F.expr(
            "CAST(round(CAST(cume_dist() OVER (PARTITION BY o_orderstatus"
            " ORDER BY o_totalprice, o_orderkey) AS DECIMAL(18,9)), 6) AS DOUBLE)"
        ).alias("cd"),
    ).orderBy("o_orderkey")


SCAN_DATE_DIM_GENERATE_ORACLE = """
    SELECT strftime(d, '%Y-%m-%d') AS dt,
           CAST(strftime(d, '%Y%m%d') AS BIGINT) AS date_key,
           CAST(year(d) AS BIGINT) AS yr,
           CAST(quarter(d) AS BIGINT) AS qtr,
           CAST(month(d) AS BIGINT) AS mth,
           CAST(isodow(d) AS BIGINT) AS iso_dow,
           isodow(d) >= 6 AS is_weekend
    FROM generate_series(DATE '1995-01-01', DATE '2001-12-31',
                         INTERVAL 1 DAY) AS t(d)
"""


@op("scan_date_dim_generate", oracle=SCAN_DATE_DIM_GENERATE_ORACLE, tags=('scan', 'extra'))
def scan_date_dim_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated calendar dimension (the warehouse date-dim builder): a
    dense day series covering the orders date range with surrogate key
    and calendar attributes — generated DISTRIBUTED via sequence+explode,
    no driver loop, no source file. ISO day-of-week is used because
    Spark's dayofweek() is Sunday-1 while DuckDB's dow is Sunday-0 —
    the dimension pins the portable definition. Conformed dims like this
    broadcast to every fact join at 100 TB; 7 years = 2557 rows."""
    return (
        spark.range(1)
        .select(
            F.explode(
                F.expr(
                    "sequence(DATE '1995-01-01', DATE '2001-12-31', interval 1 day)"
                )
            ).alias("dt")
        )
        .select(
            F.date_format("dt", "yyyy-MM-dd").alias("dt_out"),
            F.date_format("dt", "yyyyMMdd").cast("long").alias("date_key"),
            F.year("dt").cast("long").alias("yr"),
            F.quarter("dt").cast("long").alias("qtr"),
            F.month("dt").cast("long").alias("mth"),
            F.expr("CAST(weekday(dt) + 1 AS BIGINT)").alias("iso_dow"),
            F.expr("weekday(dt) + 1 >= 6").alias("is_weekend"),
        )
        .withColumnRenamed("dt_out", "dt")
        .orderBy("dt")
    )


FN_SURROGATE_KEY_MD5_ORACLE = """
    SELECT o_orderkey,
           md5(coalesce(CAST(o_custkey AS VARCHAR), '@null@') || '|' ||
               coalesce(o_orderstatus, '@null@') || '|' ||
               coalesce(strftime(o_orderdate, '%Y-%m-%d'), '@null@')) AS sk,
           CAST(count(*) OVER (PARTITION BY
               md5(coalesce(CAST(o_custkey AS VARCHAR), '@null@') || '|' ||
                   coalesce(o_orderstatus, '@null@') || '|' ||
                   coalesce(strftime(o_orderdate, '%Y-%m-%d'), '@null@')))
                AS BIGINT) AS sk_width
    FROM orders
"""


@op("fn_surrogate_key_md5", oracle=FN_SURROGATE_KEY_MD5_ORACLE, tags=('fn', 'extra'))
def fn_surrogate_key_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic surrogate-key minting: md5 over a delimited
    concatenation of the natural-key columns — the portable, engine-
    agnostic way to mint stable warehouse keys (md5 is bit-identical
    everywhere, unlike engine-native hash()/xxhash64 which differ
    between Spark and DuckDB). The delimiter guards against
    concatenation ambiguity ('ab'+'c' vs 'a'+'bc'), and sk_width (rows
    sharing a key) audits natural-key uniqueness in the same pass.
    Zero-shuffle projection + one count window on the key."""
    o = load(spark, sf_dir, "orders")
    # NULL key parts must be SENTINELED, not skipped: concat_ws silently
    # drops null args (making ('a', NULL, 'b') collide with ('a', 'b',
    # NULL)) while || propagates NULL (class 4) — coalesce each part so
    # both engines mint the same unambiguous key
    sk = F.md5(
        F.concat_ws(
            "|",
            F.coalesce(F.col("o_custkey").cast("string"), F.lit("@null@")),
            F.coalesce(F.col("o_orderstatus"), F.lit("@null@")),
            F.coalesce(
                F.date_format("o_orderdate", "yyyy-MM-dd"), F.lit("@null@")
            ),
        )
    )
    w = W.partitionBy(sk)
    return o.select(
        "o_orderkey",
        sk.alias("sk"),
        F.count("*").over(w).cast("long").alias("sk_width"),
    ).orderBy("o_orderkey")


# ---------------------------------------------------------------------------
# win_streak_longest_current (round-7 registration queue)
# ---------------------------------------------------------------------------

WIN_STREAK_LONGEST_CURRENT_ORACLE = """
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    runs AS (
      SELECT user_id, d,
             CAST(d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                           AS INTEGER) AS DATE) AS grp
      FROM days
    ),
    streaks AS (
      SELECT user_id, grp, count(*) AS len, max(d) AS last_d
      FROM runs GROUP BY 1, 2
    ),
    corpus AS (SELECT max(CAST(ts AS DATE)) AS today FROM events)
    SELECT s.user_id,
           CAST(max(s.len) AS BIGINT) AS longest_streak,
           CAST(coalesce(max(CASE WHEN s.last_d = c.today THEN s.len END), 0)
                AS BIGINT) AS current_streak
    FROM streaks s CROSS JOIN corpus c
    GROUP BY s.user_id
"""


@op("win_streak_longest_current", oracle=WIN_STREAK_LONGEST_CURRENT_ORACLE, tags=('window', 'extra'))
def win_streak_longest_current(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-day activity streaks per user (the engagement-metrics
    staple): the gaps-and-islands constant (date minus dense row index is
    invariant within a run) groups consecutive days, then one aggregate
    yields each user's longest streak and the streak that is still alive
    at the corpus 'today' (max date — deterministic reference, like the
    freshness op). Distinct-days collapse first, so the window runs over
    O(users x active-days); one exchange on the user key end-to-end."""
    e = load(spark, sf_dir, "events")
    days = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = W.partitionBy("user_id").orderBy("d")
    runs = days.withColumn(
        "grp", F.expr("date_sub(d, CAST(row_number() OVER (PARTITION BY user_id ORDER BY d) AS INT))")
    )
    streaks = runs.groupBy("user_id", "grp").agg(
        F.count("*").alias("len"), F.max("d").alias("last_d")
    )
    today = e.agg(F.max(F.to_date("ts")).alias("today"))
    return (
        streaks.crossJoin(F.broadcast(today))
        .groupBy("user_id")
        .agg(
            F.max("len").cast("long").alias("longest_streak"),
            F.coalesce(
                F.max(F.when(F.col("last_d") == F.col("today"), F.col("len"))),
                F.lit(0),
            )
            .cast("long")
            .alias("current_streak"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# agg_attribution_last_touch (round-7 registration queue)
# ---------------------------------------------------------------------------

AGG_ATTRIBUTION_LAST_TOUCH_ORACLE = """
    WITH purchases AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    touches AS (
      SELECT user_id, ts, event_type FROM events
      WHERE event_type IN ('view', 'click', 'signup')
    ),
    attributed AS (
      SELECT p.event_id,
             max_by(t.event_type,
                    strftime(t.ts, '%Y-%m-%d %H:%M:%S.%f') || '|' || t.event_type)
               FILTER (WHERE t.ts IS NOT NULL) AS channel
      FROM purchases p LEFT JOIN touches t
        ON t.user_id = p.user_id
       AND t.ts <= p.ts AND t.ts >= p.ts - INTERVAL 2 HOUR
      GROUP BY p.event_id
    )
    SELECT coalesce(channel, 'unattributed') AS channel,
           CAST(count(*) AS BIGINT) AS n_purchases
    FROM attributed GROUP BY 1
"""


@op("agg_attribution_last_touch", oracle=AGG_ATTRIBUTION_LAST_TOUCH_ORACLE, tags=('agg', 'extra'))
def agg_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase credits the most
    recent view/click/signup touch in the preceding 2 hours (ties on the
    same microsecond break by channel name — max_by over a fixed-width
    'timestamp|channel' composite string, lexicographically equal to the
    (ts, channel) pair on both engines), purchases with no touch in the
    window report as 'unattributed'. The join is the bounded interval
    shape of join_asof_event (user-key equi-join + time-range predicate,
    NOT an unbounded sort), and the per-purchase argmax is the
    partial-aggregating max_by — the argmin-not-window rule again.
    Output is O(channels)."""
    e = load(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        "event_id", F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    t = e.filter(F.col("event_type").isin("view", "click", "signup")).select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"),
        F.col("event_type").alias("channel"),
    )
    j = p.join(
        t,
        (F.col("t_user") == F.col("p_user"))
        & (F.col("t_ts") <= F.col("p_ts"))
        & (F.col("t_ts") >= F.col("p_ts") - F.expr("INTERVAL 2 HOURS")),
        "left",
    )
    attributed = j.groupBy("event_id").agg(
        F.expr(
            "max_by(channel, concat(date_format(t_ts, 'yyyy-MM-dd HH:mm:ss.SSSSSS'),"
            " '|', channel))"
        ).alias("channel")
    )
    return (
        attributed.groupBy(
            F.coalesce("channel", F.lit("unattributed")).alias("channel")
        )
        .agg(F.count("*").alias("n_purchases"))
        .orderBy("channel")
    )


# ---------------------------------------------------------------------------
# ts_seasonal_decompose (round-7 registration queue)
# ---------------------------------------------------------------------------

TS_SEASONAL_DECOMPOSE_ORACLE = """
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h,
             CAST(round(CAST(sum((CASE WHEN abs(CAST(value AS DOUBLE)) < 1e12 THEN CAST(value AS DOUBLE) END)) AS DECIMAL(18,6)), 2) AS DOUBLE) AS total
      FROM events WHERE ts IS NOT NULL GROUP BY 1
    ),
    tr AS (
      SELECT h, total,
             CASE WHEN count(*) OVER w = 25
                  THEN CAST(round(CAST(avg(total) OVER w AS DECIMAL(18,9)), 2)
                       AS DOUBLE) END AS trend
      FROM hourly
      WINDOW w AS (ORDER BY h ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
    ),
    seas AS (
      SELECT hour(h) AS hod,
             (CASE WHEN abs(CAST(avg(total - trend) AS DOUBLE)) < 1e9 THEN CAST(round(CAST(CAST(avg(total - trend) AS DOUBLE) AS DECIMAL(18,9)), 4) AS DOUBLE) ELSE CAST(avg(total - trend) AS DOUBLE) END)
               AS seasonal
      FROM tr WHERE trend IS NOT NULL GROUP BY 1
    )
    SELECT strftime(tr.h, '%Y-%m-%d %H:%M:%S') AS hour,
           tr.total, tr.trend, seas.seasonal,
           CASE WHEN tr.trend IS NOT NULL
                THEN CAST(round(CAST(tr.total - tr.trend - seas.seasonal
                     AS DECIMAL(18,9)), 4) AS DOUBLE) END AS residual
    FROM tr JOIN seas ON hour(tr.h) = seas.hod
"""


@op("ts_seasonal_decompose", oracle=TS_SEASONAL_DECOMPOSE_ORACLE, tags=('timeseries', 'extra'))
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition (trend + daily
    seasonality + residual) of the hourly event series: trend = centered
    25-hour moving average (NULL where the window is incomplete — no
    fabricated edge trend), seasonal = mean detrended value per
    hour-of-day, residual = the rest. Three stages, each a partial agg
    or a bounded-frame window: the raw pass collapses to O(hours) rows
    first, so trend/seasonal run over the tiny series — the same
    collapse-then-analyze split as the chi-square and anomaly ops. The
    seasonal table is O(24) and broadcast back."""
    e = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    hourly = e.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.expr("CAST(round(CAST(sum((CASE WHEN abs(CAST(value AS DOUBLE)) < 1e12 THEN CAST(value AS DOUBLE) END)) AS DECIMAL(18,6)), 2) AS DOUBLE)").alias(
            "total"
        )
    )
    w = W.orderBy("h").rowsBetween(-12, 12)
    tr = hourly.select(
        "h",
        "total",
        F.when(
            F.count("*").over(w) == 25,
            F.expr(
                "CAST(round(CAST(avg(total) OVER (ORDER BY h ROWS BETWEEN 12"
                " PRECEDING AND 12 FOLLOWING) AS DECIMAL(18,9)), 2) AS DOUBLE)"
            ),
        ).alias("trend"),
    )
    seas = (
        tr.filter(F.col("trend").isNotNull())
        .groupBy(F.hour("h").alias("hod"))
        .agg(
            F.expr(
                "CAST(round(CAST(avg(total - trend) AS DECIMAL(18,9)), 4)"
                " AS DOUBLE)"
            ).alias("seasonal")
        )
    )
    return (
        tr.join(F.broadcast(seas), F.hour(tr.h) == seas.hod)
        .select(
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "total",
            "trend",
            "seasonal",
            F.when(
                F.col("trend").isNotNull(),
                F.expr(
                    "CAST(round(CAST(total - trend - seasonal"
                    " AS DECIMAL(18,9)), 4) AS DOUBLE)"
                ),
            ).alias("residual"),
        )
        .orderBy("hour")
    )


# ---------------------------------------------------------------------------
# win_outlier_mad (round-7 registration queue)
# ---------------------------------------------------------------------------

WIN_OUTLIER_MAD_ORACLE = f"""
    WITH obs AS (
      SELECT user_id, value FROM events
      WHERE {finite_sql('value')} IS NOT NULL
    ),
    med AS (
      SELECT user_id,
             {money_sql('quantile_cont(value, 0.5)', 4, 9)} AS med
      FROM obs GROUP BY 1
    ),
    dev AS (
      SELECT e.user_id, e.value, m.med,
             abs(e.value - m.med) AS ad
      FROM obs e JOIN med m USING (user_id)
    ),
    mad AS (
      SELECT user_id, med,
             {money_sql('quantile_cont(ad, 0.5)', 4, 9)} AS mad
      FROM dev GROUP BY user_id, med
    )
    SELECT d.user_id, d.med, m.mad,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) FILTER (
             WHERE round(CAST(d.ad AS DECIMAL(18,9)), 4)
                   > 3 * 1.4826 * m.mad) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (user_id)
    GROUP BY d.user_id, d.med, m.mad
"""


@op("win_outlier_mad", oracle=WIN_OUTLIER_MAD_ORACLE, tags=('window', 'extra'))
def win_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier counting by median absolute deviation — the
    breakdown-resistant sibling of the z-score ops (one wild value
    inflates a stddev but barely moves a median). Two percentile passes
    (per-user median, then median of absolute deviations), stats
    broadcast back, flags compare the ROUNDED deviation against the
    3x1.4826xMAD fence (the normal-consistency constant) so the count
    can't split engines. Exact interpolated percentiles on both sides
    (Spark percentile == DuckDB quantile_cont); the approx tier at
    unbounded scale is the histogram-partial quantile sketch."""
    # observations must be finite: NaN order keys split the two engines'
    # quantile order, and the deviation FILTER's decimal cast raises in
    # DuckDB on a NaN deviation (class-B contract)
    e = (
        load(spark, sf_dir, "events")
        .select("user_id", "value")
        .filter(finite(F.col("value")).isNotNull())
    )
    med = e.groupBy("user_id").agg(
        money(F.percentile("value", F.lit(0.5)), 4, 9).alias("med")
    )
    dev = e.join(med, "user_id").withColumn(
        "ad", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("user_id", "med").agg(
        money(F.percentile("ad", F.lit(0.5)), 4, 9).alias("mad")
    )
    return (
        dev.join(mad.select("user_id", "mad"), "user_id")
        .groupBy("user_id", "med", "mad")
        .agg(
            F.count("*").alias("n"),
            F.count_if(
                F.expr("round(CAST(ad AS DECIMAL(18,9)), 4) > 3 * 1.4826 * mad")
            ).alias("n_outliers"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# agg_conversion_lag_percentiles (round-7 registration queue)
# ---------------------------------------------------------------------------

AGG_CONVERSION_LAG_ORACLE = """
    WITH firsts AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_buy
      FROM events GROUP BY user_id
    ),
    lags AS (
      SELECT user_id,
             CAST(floor(epoch(first_buy)) - floor(epoch(first_view)) AS BIGINT)
               AS lag_s
      FROM firsts
      WHERE first_view IS NOT NULL AND first_buy IS NOT NULL
        AND first_buy >= first_view
    )
    SELECT CAST(count(*) AS BIGINT) AS n_converted,
           (CASE WHEN abs(CAST(quantile_cont(lag_s, 0.5) / 60.0 AS DOUBLE)) < 1e9 THEN CAST(round(CAST(CAST(quantile_cont(lag_s, 0.5) / 60.0 AS DOUBLE) AS DECIMAL(18,9)), 2) AS DOUBLE) ELSE CAST(quantile_cont(lag_s, 0.5) / 60.0 AS DOUBLE) END) AS p50_min,
           (CASE WHEN abs(CAST(quantile_cont(lag_s, 0.9) / 60.0 AS DOUBLE)) < 1e9 THEN CAST(round(CAST(CAST(quantile_cont(lag_s, 0.9) / 60.0 AS DOUBLE) AS DECIMAL(18,9)), 2) AS DOUBLE) ELSE CAST(quantile_cont(lag_s, 0.9) / 60.0 AS DOUBLE) END) AS p90_min,
           (CASE WHEN abs(CAST(max(lag_s) / 60.0 AS DOUBLE)) < 1e9 THEN CAST(round(CAST(CAST(max(lag_s) / 60.0 AS DOUBLE) AS DECIMAL(18,9)), 2) AS DOUBLE) ELSE CAST(max(lag_s) / 60.0 AS DOUBLE) END)
             AS max_min
    FROM lags
"""


@op("agg_conversion_lag_percentiles", oracle=AGG_CONVERSION_LAG_ORACLE, tags=('agg', 'extra'))
def agg_conversion_lag_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: per user, the lag between first view
    and first purchase (users who purchased before ever viewing are
    excluded — the funnel direction matters), summarized as p50/p90/max
    minutes. One conditional-min pass collapses the events to O(users)
    rows; the percentile runs on that collapsed table. Whole-second
    epochs per the truncate-vs-fraction house rule; exact interpolated
    percentiles on both engines."""
    e = load(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("fv"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("fb"),
    )
    lags = firsts.filter(
        F.col("fv").isNotNull() & F.col("fb").isNotNull() & (F.col("fb") >= F.col("fv"))
    ).select(
        (F.unix_timestamp("fb") - F.unix_timestamp("fv")).alias("lag_s")
    )
    return lags.agg(
        F.count("*").alias("n_converted"),
        F.expr(
            "CAST(round(CAST(percentile(lag_s, 0.5) / 60.0 AS DECIMAL(18,9)), 2)"
            " AS DOUBLE)"
        ).alias("p50_min"),
        F.expr(
            "CAST(round(CAST(percentile(lag_s, 0.9) / 60.0 AS DECIMAL(18,9)), 2)"
            " AS DOUBLE)"
        ).alias("p90_min"),
        F.expr(
            "(CASE WHEN abs(CAST(max(lag_s) / 60.0 AS DOUBLE)) < 1e9 THEN CAST(round(CAST(CAST(max(lag_s) / 60.0 AS DOUBLE) AS DECIMAL(18,9)), 2) AS DOUBLE) ELSE CAST(max(lag_s) / 60.0 AS DOUBLE) END)"
        ).alias("max_min"),
    )


# ---------------------------------------------------------------------------
# win_rolling_regression_slope (round-7 registration queue)
# ---------------------------------------------------------------------------

WIN_ROLLING_REGRESSION_SLOPE_ORACLE = f"""
    WITH series AS (
      -- y carries the well-scaled measure contract: one extreme value
      -- makes sy/sxy (and the averaged slopes) fold-order-visible
      SELECT user_id, ts, event_id, {finite_sql("value")} AS y,
             CAST(floor(epoch(ts)) AS BIGINT) AS x
      FROM events WHERE ts IS NOT NULL
    ),
    sums AS (
      SELECT user_id, ts, event_id,
             count(*) OVER w AS n,
             sum(x) OVER w AS sx,
             sum(y) OVER w AS sy,
             sum(x * y) OVER w AS sxy,
             sum(x * x) OVER w AS sxx
      FROM series
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id,
           CAST(count(*) FILTER (WHERE n = 10) AS BIGINT) AS n_windows,
           (CASE WHEN abs(CAST(avg(CASE WHEN n = 10
                AND n * sxx - sx * sx <> 0
                THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) * 3600 END) AS DOUBLE)) < 1e9 THEN CAST(round(CAST(CAST(avg(CASE WHEN n = 10
                AND n * sxx - sx * sx <> 0
                THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) * 3600 END) AS DOUBLE) AS DECIMAL(18,9)), 4) AS DOUBLE) ELSE CAST(avg(CASE WHEN n = 10
                AND n * sxx - sx * sx <> 0
                THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) * 3600 END) AS DOUBLE) END) AS avg_slope_per_hr
    FROM sums GROUP BY user_id
"""


@op("win_rolling_regression_slope", oracle=WIN_ROLLING_REGRESSION_SLOPE_ORACLE, tags=('window', 'extra'))
def win_rolling_regression_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling OLS trend: the least-squares slope of value vs time over
    each trailing 10-event window, from the closed-form
    (nSxy - SxSy)/(nSxx - Sx^2) — four running sums sharing ONE window
    frame, no matrix work, O(1) state per row (the window-variant of
    agg_regression's global fit). Incomplete head windows (n < 10) are
    excluded rather than fit on fewer points; epochs are whole-second
    BIGINTs so the sums are exact integers times exact doubles and the
    only float division is the final slope, sandwiched at 4dp. Output
    aggregates to per-user mean hourly slope — the drift monitor a
    metrics pipeline alerts on."""
    e = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, 0)
    )
    y = finite(F.col("value"))
    sums = e.select(
        "user_id",
        F.count("*").over(w).alias("n"),
        F.sum(F.unix_timestamp("ts")).over(w).alias("sx"),
        F.sum(y).over(w).alias("sy"),
        F.sum(F.unix_timestamp("ts") * y).over(w).alias("sxy"),
        F.sum(F.unix_timestamp("ts") * F.unix_timestamp("ts")).over(w).alias("sxx"),
    )
    return (
        sums.groupBy("user_id")
        .agg(
            F.count_if(F.col("n") == 10).alias("n_windows"),
            F.expr(
                "CAST(round(CAST(avg(CASE WHEN n = 10"
                " AND n * sxx - sx * sx <> 0"
                " THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) * 3600 END)"
                " AS DECIMAL(18,9)), 4) AS DOUBLE)"
            ).alias("avg_slope_per_hr"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# agg_gini_coefficient / agg_entropy_categorical (round-7 queue)
# ---------------------------------------------------------------------------

AGG_GINI_COEFFICIENT_ORACLE = """
    WITH shifted AS (
      SELECT c_nationkey, c_acctbal + 1000 AS x, c_custkey
      FROM customer WHERE c_acctbal IS NOT NULL
    ),
    ranked AS (
      SELECT c_nationkey, x,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY x, c_custkey) AS i,
             count(*) OVER (PARTITION BY c_nationkey) AS n,
             sum(x) OVER (PARTITION BY c_nationkey) AS sx
      FROM shifted
    )
    SELECT c_nationkey,
           CAST(max(n) AS BIGINT) AS n,
           (CASE WHEN abs(CAST(2.0 * sum(i * x) / (max(n) * max(sx))
                - (max(n) + 1.0) / max(n) AS DOUBLE)) < 1e9 THEN CAST(round(CAST(CAST(2.0 * sum(i * x) / (max(n) * max(sx))
                - (max(n) + 1.0) / max(n) AS DOUBLE) AS DECIMAL(18,9)), 4) AS DOUBLE) ELSE CAST(2.0 * sum(i * x) / (max(n) * max(sx))
                - (max(n) + 1.0) / max(n) AS DOUBLE) END)
             AS gini
    FROM ranked GROUP BY c_nationkey
"""


@op("agg_gini_coefficient", oracle=AGG_GINI_COEFFICIENT_ORACLE, tags=('agg', 'extra'))
def agg_gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration coefficient of (shifted non-negative) account
    balances per nation — the inequality/concentration metric a revenue
    or usage dashboard reports. Computed from the sorted-rank closed form
    G = 2*sum(i*x_i)/(n*sum x) - (n+1)/n: one window pass for ranks
    (total-order tie-break on the key) and sums sharing the partition
    exchange, one group agg. Balances shift +1000 first (Gini is defined
    for non-negative support; same shift as the generalization ladder).
    At scale the rank window partitions by group; a single giant group
    would use the two-phase rank (the reservoir op's salt trick)."""
    c = (
        load(spark, sf_dir, "customer")
        # a NULL balance has no rank position (class-8 divergence) and no
        # mass — excluded both sides
        .filter(F.col("c_acctbal").isNotNull())
        .select(
            "c_nationkey", (F.col("c_acctbal") + 1000).alias("x"), "c_custkey"
        )
    )
    w = W.partitionBy("c_nationkey").orderBy("x", "c_custkey")
    wp = W.partitionBy("c_nationkey")
    ranked = c.select(
        "c_nationkey",
        "x",
        F.row_number().over(w).alias("i"),
        F.count("*").over(wp).alias("n"),
        F.sum("x").over(wp).alias("sx"),
    )
    return (
        ranked.groupBy("c_nationkey")
        .agg(
            F.max("n").cast("long").alias("n"),
            F.expr(
                "CAST(round(CAST(2.0 * sum(i * x) / (max(n) * max(sx))"
                " - (max(n) + 1.0) / max(n) AS DECIMAL(18,9)), 4) AS DOUBLE)"
            ).alias("gini"),
        )
        .orderBy("c_nationkey")
    )


AGG_ENTROPY_CATEGORICAL_ORACLE = """
    WITH counts AS (
      SELECT user_id, event_type, count(*) AS c
      FROM events GROUP BY 1, 2
    ),
    probs AS (
      SELECT user_id, c,
             sum(c) OVER (PARTITION BY user_id) AS tot
      FROM counts
    )
    SELECT user_id,
           CAST(sum(c) AS BIGINT) AS n_events,
           CAST(count(*) AS BIGINT) AS n_types,
           (CASE WHEN abs(CAST(-sum((c / CAST(tot AS DOUBLE))
                * log2(c / CAST(tot AS DOUBLE))) AS DOUBLE)) < 1e9 THEN CAST(round(CAST(CAST(-sum((c / CAST(tot AS DOUBLE))
                * log2(c / CAST(tot AS DOUBLE))) AS DOUBLE) AS DECIMAL(18,9)), 4) AS DOUBLE) ELSE CAST(-sum((c / CAST(tot AS DOUBLE))
                * log2(c / CAST(tot AS DOUBLE))) AS DOUBLE) END) AS entropy_bits
    FROM probs GROUP BY user_id
"""


@op("agg_entropy_categorical", oracle=AGG_ENTROPY_CATEGORICAL_ORACLE, tags=('agg', 'extra'))
def agg_entropy_categorical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type distribution (bits) —
    the behavioral-diversity signal (bots pin near 0, uniform browsers
    near log2(5)). Collapse to (user, type) counts first, window total,
    then -sum(p log2 p) sandwiched at 4dp. Everything after the first
    partial agg runs on O(users x types) rows."""
    e = load(spark, sf_dir, "events")
    counts = e.groupBy("user_id", "event_type").agg(F.count("*").alias("c"))
    probs = counts.withColumn(
        "tot", F.sum("c").over(W.partitionBy("user_id"))
    )
    return (
        probs.groupBy("user_id")
        .agg(
            F.sum("c").cast("long").alias("n_events"),
            F.count("*").alias("n_types"),
            F.expr(
                "CAST(round(CAST(-sum((c / CAST(tot AS DOUBLE))"
                " * log2(c / CAST(tot AS DOUBLE))) AS DECIMAL(18,9)), 4)"
                " AS DOUBLE)"
            ).alias("entropy_bits"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# agg_markov_transition_matrix / fn_ab_test_proportions (round-7 queue)
# ---------------------------------------------------------------------------

AGG_MARKOV_TRANSITION_ORACLE = """
    WITH seq AS (
      SELECT user_id, event_type AS cur,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events WHERE ts IS NOT NULL
    ),
    pairs AS (
      SELECT cur, nxt, count(*) AS c FROM seq WHERE nxt IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT cur, nxt, CAST(c AS BIGINT) AS n,
           (CASE WHEN abs(CAST(c / CAST(sum(c) OVER (PARTITION BY cur) AS DOUBLE) AS DOUBLE)) < 1e9 THEN CAST(round(CAST(CAST(c / CAST(sum(c) OVER (PARTITION BY cur) AS DOUBLE) AS DOUBLE) AS DECIMAL(18,9)), 4) AS DOUBLE) ELSE CAST(c / CAST(sum(c) OVER (PARTITION BY cur) AS DOUBLE) AS DOUBLE) END) AS p
    FROM pairs
"""


@op("agg_markov_transition_matrix", oracle=AGG_MARKOV_TRANSITION_ORACLE, tags=('agg', 'extra'))
def agg_markov_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition estimates over per-user event
    sequences: P(next | current) from adjacent-pair counts (lead window
    ordered by the (ts, event_id) total order, transitions never cross
    users), row-normalized by a window over the COUNTS table (types^2
    rows, not events). The behavioral model behind next-action
    prediction, funnel simulation, and bot detection — and the
    transition matrix is itself a mergeable partial: per-shard pair
    counts add, normalization happens at read. One series-key exchange
    on the raw data; everything after is O(types^2)."""
    e = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    pairs = seq.groupBy("cur", "nxt").agg(F.count("*").alias("c"))
    wrow = W.partitionBy("cur")
    return pairs.select(
        "cur",
        "nxt",
        F.col("c").cast("long").alias("n"),
        F.expr(
            "CAST(round(CAST(c / CAST(sum(c) OVER"
            " (PARTITION BY cur) AS DOUBLE) AS DECIMAL(18,9)), 4) AS DOUBLE)"
        ).alias("p"),
    ).orderBy("cur", "nxt")


FN_AB_TEST_PROPORTIONS_ORACLE = """
    WITH cohorts AS (
      SELECT user_id % 2 AS cohort,
             count(DISTINCT user_id) AS n_users,
             count(DISTINCT CASE WHEN event_type = 'purchase'
                                 THEN user_id END) AS converted
      FROM events GROUP BY 1
    ),
    wide AS (
      SELECT max(CASE WHEN cohort = 0 THEN n_users END) AS na,
             max(CASE WHEN cohort = 0 THEN converted END) AS ca,
             max(CASE WHEN cohort = 1 THEN n_users END) AS nb,
             max(CASE WHEN cohort = 1 THEN converted END) AS cb
      FROM cohorts
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(ca AS BIGINT) AS conv_a,
           CAST(nb AS BIGINT) AS n_b, CAST(cb AS BIGINT) AS conv_b,
           (CASE WHEN abs(CAST(ca / CAST(na AS DOUBLE) AS DOUBLE)) < 1e9 THEN CAST(round(CAST(CAST(ca / CAST(na AS DOUBLE) AS DOUBLE) AS DECIMAL(18,9)), 4) AS DOUBLE) ELSE CAST(ca / CAST(na AS DOUBLE) AS DOUBLE) END) AS rate_a,
           (CASE WHEN abs(CAST(cb / CAST(nb AS DOUBLE) AS DOUBLE)) < 1e9 THEN CAST(round(CAST(CAST(cb / CAST(nb AS DOUBLE) AS DOUBLE) AS DECIMAL(18,9)), 4) AS DOUBLE) ELSE CAST(cb / CAST(nb AS DOUBLE) AS DOUBLE) END) AS rate_b,
           (CASE WHEN abs(CAST((ca / CAST(na AS DOUBLE) - cb / CAST(nb AS DOUBLE)) /
             sqrt(((ca + cb) / CAST(na + nb AS DOUBLE))
                  * (1 - (ca + cb) / CAST(na + nb AS DOUBLE))
                  * (1.0 / na + 1.0 / nb)) AS DOUBLE)) < 1e9 THEN CAST(round(CAST(CAST((ca / CAST(na AS DOUBLE) - cb / CAST(nb AS DOUBLE)) /
             sqrt(((ca + cb) / CAST(na + nb AS DOUBLE))
                  * (1 - (ca + cb) / CAST(na + nb AS DOUBLE))
                  * (1.0 / na + 1.0 / nb)) AS DOUBLE) AS DECIMAL(18,9)), 4) AS DOUBLE) ELSE CAST((ca / CAST(na AS DOUBLE) - cb / CAST(nb AS DOUBLE)) /
             sqrt(((ca + cb) / CAST(na + nb AS DOUBLE))
                  * (1 - (ca + cb) / CAST(na + nb AS DOUBLE))
                  * (1.0 / na + 1.0 / nb)) AS DOUBLE) END) AS z,
           abs(round(CAST(
             (ca / CAST(na AS DOUBLE) - cb / CAST(nb AS DOUBLE)) /
             sqrt(((ca + cb) / CAST(na + nb AS DOUBLE))
                  * (1 - (ca + cb) / CAST(na + nb AS DOUBLE))
                  * (1.0 / na + 1.0 / nb))
             AS DECIMAL(18,9)), 4)) > 1.96 AS significant_95
    FROM wide
"""


@op("fn_ab_test_proportions", oracle=FN_AB_TEST_PROPORTIONS_ORACLE, tags=('fn', 'extra'))
def fn_ab_test_proportions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test between hash-split cohorts (the A/B readout
    primitive): per-cohort user and converter counts from ONE
    conditional-distinct pass, then the pooled-variance z statistic and
    a 95% significance flag — flagged on the ROUNDED z so the boolean
    cannot split engines (the win_anomaly_zscore discipline). Cohort
    assignment is the deterministic user hash, i.e. exactly how real
    experiment bucketing works; everything after the first aggregation
    is arithmetic over one row."""
    e = load(spark, sf_dir, "events")
    cohorts = e.groupBy((F.col("user_id") % 2).alias("cohort")).agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct(
            F.when(F.col("event_type") == "purchase", F.col("user_id"))
        ).alias("converted"),
    )
    wide = cohorts.agg(
        F.max(F.when(F.col("cohort") == 0, F.col("n_users"))).alias("na"),
        F.max(F.when(F.col("cohort") == 0, F.col("converted"))).alias("ca"),
        F.max(F.when(F.col("cohort") == 1, F.col("n_users"))).alias("nb"),
        F.max(F.when(F.col("cohort") == 1, F.col("converted"))).alias("cb"),
    )
    zexpr = (
        "round(CAST((ca / CAST(na AS DOUBLE) - cb / CAST(nb AS DOUBLE)) /"
        " sqrt(((ca + cb) / CAST(na + nb AS DOUBLE))"
        " * (1 - (ca + cb) / CAST(na + nb AS DOUBLE))"
        " * (1.0 / na + 1.0 / nb)) AS DECIMAL(18,9)), 4)"
    )
    return wide.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("ca").cast("long").alias("conv_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.col("cb").cast("long").alias("conv_b"),
        F.expr(
            "CAST(round(CAST(ca / CAST(na AS DOUBLE) AS DECIMAL(18,9)), 4)"
            " AS DOUBLE)"
        ).alias("rate_a"),
        F.expr(
            "CAST(round(CAST(cb / CAST(nb AS DOUBLE) AS DECIMAL(18,9)), 4)"
            " AS DOUBLE)"
        ).alias("rate_b"),
        F.expr(f"CAST({zexpr} AS DOUBLE)").alias("z"),
        F.expr(f"abs({zexpr}) > 1.96").alias("significant_95"),
    )


# ---------------------------------------------------------------------------
# agg_benford_digit_test (round-7 registration queue)
# ---------------------------------------------------------------------------

AGG_BENFORD_DIGIT_TEST_ORACLE = """
    WITH digits AS (
      SELECT CAST(floor(o_totalprice / pow(10, floor(log10(o_totalprice))))
                  AS BIGINT) AS d
      FROM orders WHERE (CASE WHEN abs(CAST(o_totalprice AS DOUBLE)) < 1e12 THEN CAST(o_totalprice AS DOUBLE) END) >= 1
    ),
    counts AS (
      SELECT d, count(*) AS n FROM digits GROUP BY d
    ),
    tot AS (SELECT sum(n) AS t FROM counts)
    SELECT d AS leading_digit,
           CAST(n AS BIGINT) AS n,
           (CASE WHEN abs(CAST(n / CAST(t AS DOUBLE) AS DOUBLE)) < 1e9 THEN CAST(round(CAST(CAST(n / CAST(t AS DOUBLE) AS DOUBLE) AS DECIMAL(18,9)), 4) AS DOUBLE) ELSE CAST(n / CAST(t AS DOUBLE) AS DOUBLE) END) AS observed_p,
           (CASE WHEN abs(CAST(log10(1.0 + 1.0 / d) AS DOUBLE)) < 1e9 THEN CAST(round(CAST(CAST(log10(1.0 + 1.0 / d) AS DOUBLE) AS DECIMAL(18,9)), 4) AS DOUBLE) ELSE CAST(log10(1.0 + 1.0 / d) AS DOUBLE) END) AS benford_p,
           (CASE WHEN abs(CAST(pow(n / CAST(t AS DOUBLE) - log10(1.0 + 1.0 / d), 2)
                      / log10(1.0 + 1.0 / d) AS DOUBLE)) < 1e9 THEN CAST(round(CAST(CAST(pow(n / CAST(t AS DOUBLE) - log10(1.0 + 1.0 / d), 2)
                      / log10(1.0 + 1.0 / d) AS DOUBLE) AS DECIMAL(18,9)), 6) AS DOUBLE) ELSE CAST(pow(n / CAST(t AS DOUBLE) - log10(1.0 + 1.0 / d), 2)
                      / log10(1.0 + 1.0 / d) AS DOUBLE) END)
             AS chi_contribution
    FROM counts CROSS JOIN tot
"""


@op("agg_benford_digit_test", oracle=AGG_BENFORD_DIGIT_TEST_ORACLE, tags=('agg', 'extra'))
def agg_benford_digit_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law leading-digit audit of order totals — the classic
    forensic-accounting screen (fabricated figures flunk the log10(1+1/d)
    distribution). Leading digit via floor(x / 10^floor(log10 x)) — pure
    arithmetic both engines — then observed vs Benford proportions and
    per-digit chi-square contributions, all from one partial agg + a
    1-row total broadcast. The synthetic uniform-ish prices do NOT
    follow Benford (observed_p ≈ uniform across high digits) and the op
    reports that honestly — it is a measurement, not an assertion."""
    # finite guard: NaN compares GREATER than 1 in both engines, and a
    # non-finite price has no leading digit — excluded both sides
    o = load(spark, sf_dir, "orders").filter(finite(F.col("o_totalprice")) >= 1)
    digits = o.select(
        F.expr(
            "CAST(floor(o_totalprice / pow(10, floor(log10(o_totalprice))))"
            " AS BIGINT)"
        ).alias("d")
    )
    counts = digits.groupBy("d").agg(F.count("*").alias("n"))
    tot = counts.agg(F.sum("n").alias("t"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            F.col("d").alias("leading_digit"),
            F.col("n").cast("long").alias("n"),
            F.expr(
                "CAST(round(CAST(n / CAST(t AS DOUBLE) AS DECIMAL(18,9)), 4)"
                " AS DOUBLE)"
            ).alias("observed_p"),
            F.expr(
                "CAST(round(CAST(log10(1.0 + 1.0 / d) AS DECIMAL(18,9)), 4)"
                " AS DOUBLE)"
            ).alias("benford_p"),
            F.expr(
                "CAST(round(CAST(pow(n / CAST(t AS DOUBLE)"
                " - log10(1.0 + 1.0 / d), 2) / log10(1.0 + 1.0 / d)"
                " AS DECIMAL(18,9)), 6) AS DOUBLE)"
            ).alias("chi_contribution"),
        )
        .orderBy("leading_digit")
    )


# ---------------------------------------------------------------------------
# win_cusum_changepoint (round-7 registration queue; rows-only)
# ---------------------------------------------------------------------------

CUSUM_K, CUSUM_H = 0.5, 5.0  # slack and alarm threshold, in sigma units

# The clamped recursion S_t = max(0, S_{t-1} + z_t - k) is not expressible
# as a bounded-frame closed form (the max(0) reset breaks linearity — unlike
# the EWMA's truncated geometric sum), but it IS expressible as a recursive
# CTE: DuckDB replays the identical per-user recursion step-for-step. The
# cross-engine contract requires bit-identical z inputs, so mu/sigma go
# through the 9dp decimal sandwich and z through the 6dp sandwich on BOTH
# engines (util.money / money_sql) — after that every +, max(0, ·) and
# comparison is the same IEEE op in the same order on both sides, so even
# the alarm BOOLEANS hash-match. Depth = max events/user (≈100 at any sf —
# the per-key series is bounded by the grid collapse, not corpus size).
WIN_CUSUM_CHANGEPOINT_ORACLE = f"""
    WITH RECURSIVE
    st AS (
      SELECT user_id,
             {money_sql(f"avg({finite_sql('value')})", 9, 12)} AS mu,
             {money_sql(f"stddev_samp({finite_sql('value')})", 9, 12)} AS sigma
      FROM events GROUP BY 1
    ),
    z AS (
      SELECT e.user_id,
             row_number() OVER (PARTITION BY e.user_id
                                ORDER BY e.ts, e.event_id) AS i,
             {money_sql('(e.value - st.mu) / st.sigma', 6, 9)} AS z
      FROM events e JOIN st USING (user_id)
      WHERE st.sigma > 0 AND {finite_sql('e.value')} IS NOT NULL
    ),
    n AS (SELECT user_id, max(i) AS n_events FROM z GROUP BY 1),
    rec AS (
      SELECT user_id, CAST(0 AS BIGINT) AS i, CAST(0.0 AS DOUBLE) AS hi,
             CAST(0.0 AS DOUBLE) AS lo, CAST(0 AS BIGINT) AS alarms,
             CAST(-1 AS BIGINT) AS first_alarm
      FROM n
      UNION ALL
      SELECT t.user_id, t.i,
             CASE WHEN t.alarm THEN 0.0 ELSE t.nh END,
             CASE WHEN t.alarm THEN 0.0 ELSE t.nl END,
             t.alarms + CASE WHEN t.alarm THEN 1 ELSE 0 END,
             CASE WHEN t.alarm AND t.first_alarm = -1 THEN t.i - 1
                  ELSE t.first_alarm END
      FROM (
        SELECT r.user_id, z.i, r.alarms, r.first_alarm,
               greatest(0.0, r.hi + z.z - {CUSUM_K}) AS nh,
               greatest(0.0, r.lo - z.z - {CUSUM_K}) AS nl,
               (greatest(0.0, r.hi + z.z - {CUSUM_K}) > {CUSUM_H}
                OR greatest(0.0, r.lo - z.z - {CUSUM_K}) > {CUSUM_H}) AS alarm
        FROM rec r JOIN z ON z.user_id = r.user_id AND z.i = r.i + 1
      ) t
    )
    SELECT r.user_id, CAST(n.n_events AS BIGINT) AS n_events,
           r.alarms AS n_alarms, r.first_alarm AS first_alarm_idx
    FROM rec r JOIN n ON n.user_id = r.user_id AND r.i = n.n_events
"""


@op("win_cusum_changepoint", oracle=WIN_CUSUM_CHANGEPOINT_ORACLE,
    tags=('window', 'extra'))
def win_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection per series (Page's test): the clamped
    cumulative sum S_t = max(0, S_{t-1} + z_t - k) in both directions,
    alarming when either side exceeds h — the standard drift detector
    for metrics pipelines, and the genuinely-recursive window no SQL
    frame expresses (win_ewma's truncation trick dies on the max(0)
    reset). Standardization stats come from one distributed pass; the
    recursion runs per-series in applyInPandas over the (ts, event_id)
    total order — sequential per key, embarrassingly parallel across
    keys, O(1) state, exactly the FFD/UDTF discipline. Output: per-user
    alarm counts and first alarm position; exact-match vs a local
    reference recursion in tests AND vs the recursive-CTE DuckDB oracle
    (full hash-match — see WIN_CUSUM_CHANGEPOINT_ORACLE's contract)."""
    import pandas as pd

    e = load(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    stats = e.groupBy("user_id").agg(
        money(F.avg(finite(F.col("value"))), 9, 12).alias("mu"),
        money(F.stddev_samp(finite(F.col("value"))), 9, 12).alias("sigma"),
    )
    joined = (
        e.join(stats, "user_id")
        # non-finite measurements don't advance the CUSUM (class-B
        # contract): Python max(0, nan) and SQL greatest diverge, so the
        # recursion only ever sees finite z on both sides.
        .filter((F.col("sigma") > 0) & finite(F.col("value")).isNotNull())
        # 6dp decimal sandwich so the recursion input is bit-identical on
        # both engines — see WIN_CUSUM_CHANGEPOINT_ORACLE.
        .withColumn(
            "z", money((F.col("value") - F.col("mu")) / F.col("sigma"), 6, 9)
        )
    )

    def cusum(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        hi = lo = 0.0
        alarms = 0
        first_alarm = None
        for i, z in enumerate(pdf["z"]):
            hi = max(0.0, hi + z - CUSUM_K)
            lo = max(0.0, lo - z - CUSUM_K)
            if hi > CUSUM_H or lo > CUSUM_H:
                alarms += 1
                if first_alarm is None:
                    first_alarm = i
                hi = lo = 0.0  # restart after alarm (standard practice)
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n_events": [len(pdf)],
                "n_alarms": [alarms],
                "first_alarm_idx": [-1 if first_alarm is None else first_alarm],
            }
        )

    return (
        joined.groupBy("user_id")
        .applyInPandas(
            cusum,
            "user_id long, n_events long, n_alarms long, first_alarm_idx long",
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# win_survival_kaplan_meier (round-7 registration queue)
# ---------------------------------------------------------------------------

WIN_SURVIVAL_KM_ORACLE = """
    WITH per_user AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS fv,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS fb,
             max(ts) AS last_ts
      FROM events GROUP BY user_id
    ),
    durations AS (
      SELECT user_id,
             CASE WHEN fb IS NOT NULL AND fb >= fv
                  THEN CAST(floor(epoch(fb)) - floor(epoch(fv)) AS BIGINT)
                  ELSE CAST(floor(epoch(last_ts)) - floor(epoch(fv)) AS BIGINT)
             END AS dur_s,
             CASE WHEN fb IS NOT NULL AND fb >= fv THEN 1 ELSE 0 END AS converted
      FROM per_user WHERE fv IS NOT NULL
    ),
    tot AS (SELECT count(*) AS n_total FROM durations),
    at_t AS (
      SELECT dur_s, sum(converted) AS d, count(*) AS leaving
      FROM durations GROUP BY dur_s
    ),
    risk AS (
      SELECT dur_s, d,
             (SELECT n_total FROM tot)
               - coalesce(sum(leaving) OVER (ORDER BY dur_s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_at_risk
      FROM at_t
    )
    SELECT dur_s, CAST(d AS BIGINT) AS d, CAST(n_at_risk AS BIGINT) AS n_at_risk,
           (CASE WHEN abs(CAST(exp(sum(ln(1 - d / CAST(n_at_risk AS DOUBLE)))
                OVER (ORDER BY dur_s
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS DOUBLE)) < 1e9 THEN CAST(round(CAST(CAST(exp(sum(ln(1 - d / CAST(n_at_risk AS DOUBLE)))
                OVER (ORDER BY dur_s
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS DOUBLE) AS DECIMAL(18,9)), 4) AS DOUBLE) ELSE CAST(exp(sum(ln(1 - d / CAST(n_at_risk AS DOUBLE)))
                OVER (ORDER BY dur_s
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS DOUBLE) END) AS survival
    FROM risk WHERE d > 0 AND d < n_at_risk
"""


@op("win_survival_kaplan_meier", oracle=WIN_SURVIVAL_KM_ORACLE, tags=('window', 'extra'))
def win_survival_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimation for time-to-conversion — the
    censoring-aware answer to "how long until users buy" that a naive
    average of converted users biases (users who never bought still
    carry information up to their last observation). Durations collapse
    to one row per user (converted = event, never-converted = censored
    at last activity); the risk set n_i at each distinct time comes from
    a cumulative window over the O(distinct times) table, and the KM
    product Π(1 - d_i/n_i) is computed as exp(Σ ln(·)) — the cumulative
    PRODUCT no SQL aggregate offers, recovered through the log domain.
    Times where d = n_at_risk (S would hit exact 0, ln(0) = -inf) are
    excluded from the emitted curve, standard practice at the final
    event time. Whole-second epochs per the house rule."""
    e = load(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("fv"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("fb"),
        F.max("ts").alias("last_ts"),
    )
    converted = F.col("fb").isNotNull() & (F.col("fb") >= F.col("fv"))
    durations = per_user.filter(F.col("fv").isNotNull()).select(
        F.when(
            converted,
            F.unix_timestamp("fb") - F.unix_timestamp("fv"),
        )
        .otherwise(F.unix_timestamp("last_ts") - F.unix_timestamp("fv"))
        .cast("long")
        .alias("dur_s"),
        converted.cast("int").alias("converted"),
    )
    tot = durations.agg(F.count("*").alias("n_total"))
    at_t = durations.groupBy("dur_s").agg(
        F.sum("converted").alias("d"), F.count("*").alias("leaving")
    )
    w_prev = W.orderBy("dur_s").rowsBetween(W.unboundedPreceding, -1)
    risk = (
        at_t.crossJoin(F.broadcast(tot))
        .select(
            "dur_s",
            "d",
            (
                F.col("n_total")
                - F.coalesce(F.sum("leaving").over(w_prev), F.lit(0))
            ).alias("n_at_risk"),
        )
    )
    w_cum = W.orderBy("dur_s").rowsBetween(W.unboundedPreceding, 0)
    return (
        risk.withColumn(
            "survival",
            F.expr(
                "CAST(round(CAST(exp(sum(ln(1 - d / CAST(n_at_risk AS DOUBLE)))"
                " OVER (ORDER BY dur_s ROWS BETWEEN UNBOUNDED PRECEDING AND"
                " CURRENT ROW)) AS DECIMAL(18,9)), 4) AS DOUBLE)"
            ),
        )
        .filter((F.col("d") > 0) & (F.col("d") < F.col("n_at_risk")))
        .select(
            "dur_s",
            F.col("d").cast("long"),
            F.col("n_at_risk").cast("long"),
            "survival",
        )
        .orderBy("dur_s")
    )

# ---------------------------------------------------------------------------
# stat_ks_two_sample (round-7+ registration queue, tranche 36)
# ---------------------------------------------------------------------------

STAT_KS_TWO_SAMPLE_ORACLE = """
    WITH binned AS (
      SELECT round(value, 2) AS x,
             CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n1,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n2
      FROM events
      WHERE event_type IN ('view', 'purchase') AND value IS NOT NULL
      GROUP BY round(value, 2)
    ), tot AS (
      SELECT sum(n1) AS big_n1, sum(n2) AS big_n2 FROM binned
    ), cum AS (
      SELECT sum(n1) OVER (ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c1,
             sum(n2) OVER (ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c2
      FROM binned
    ), dmax AS (
      SELECT max(abs(c1 * (SELECT big_n2 FROM tot)
                     - c2 * (SELECT big_n1 FROM tot))) AS d_scaled
      FROM cum
    )
    SELECT CAST(big_n1 AS BIGINT) AS n1,
           CAST(big_n2 AS BIGINT) AS n2,
           round(CAST(d_scaled AS DOUBLE) / (big_n1 * big_n2), 6) AS d_stat,
           round(1.358 * sqrt(CAST(big_n1 + big_n2 AS DOUBLE)
                              / (big_n1 * big_n2)), 6) AS d_crit,
           round(CAST(d_scaled AS DOUBLE) / (big_n1 * big_n2), 6)
             > round(1.358 * sqrt(CAST(big_n1 + big_n2 AS DOUBLE)
                                  / (big_n1 * big_n2)), 6) AS reject_h0
    FROM dmax CROSS JOIN tot
"""


@op("stat_ks_two_sample", oracle=STAT_KS_TWO_SAMPLE_ORACLE, tags=('stat', 'extra'))
def stat_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test between the 'view' and
    'purchase' value distributions — the standard distribution-drift
    check between two cohorts (or two ingest batches) of a monitored
    metric. D = max|F1 - F2| over the pooled support, compared to the
    α=0.05 critical value 1.358·sqrt((n1+n2)/(n1·n2)).

    Scale shape: values are binned to cents FIRST (the binned KS is the
    scalable form — exact KS needs a global sort of every observation;
    binning collapses the domain to O(distinct cents) before any sort),
    so the plan is one conditional partial agg over the scan, one tiny
    window over the O(bins) table, one global max. Determinism: the ECDF
    comparison runs on INTEGERS (|c1·N2 - c2·N1|, no division until the
    final row), so the max is exact on both engines; the last division
    and sqrt are identical IEEE ops on identical integers."""
    # a NULL observation has no bin position (class-8 cumsum order)
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
        & F.col("value").isNotNull()
    )
    binned = e.groupBy(F.round("value", 2).alias("x")).agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "n2"
        ),
    )
    tot = binned.agg(
        F.sum("n1").alias("big_n1"), F.sum("n2").alias("big_n2")
    )
    w = W.orderBy("x").rowsBetween(W.unboundedPreceding, 0)
    cum = binned.select(
        F.sum("n1").over(w).alias("c1"), F.sum("n2").over(w).alias("c2")
    )
    dmax = (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.max(
                F.abs(F.col("c1") * F.col("big_n2") - F.col("c2") * F.col("big_n1"))
            ).alias("d_scaled")
        )
    )
    d_stat = F.round(
        F.col("d_scaled").cast("double") / (F.col("big_n1") * F.col("big_n2")), 6
    )
    d_crit = F.round(
        1.358
        * F.sqrt(
            (F.col("big_n1") + F.col("big_n2")).cast("double")
            / (F.col("big_n1") * F.col("big_n2"))
        ),
        6,
    )
    return dmax.crossJoin(F.broadcast(tot)).select(
        F.col("big_n1").cast("long").alias("n1"),
        F.col("big_n2").cast("long").alias("n2"),
        d_stat.alias("d_stat"),
        d_crit.alias("d_crit"),
        (d_stat > d_crit).alias("reject_h0"),
    )

# ---------------------------------------------------------------------------
# ts_autocorrelation (round-7+ registration queue, tranche 37)
# ---------------------------------------------------------------------------

TS_AUTOCORRELATION_ORACLE = """
    WITH series AS (
      SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS h,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s
      FROM series
    ), dev AS (
      SELECT h, (SELECT n FROM tot) * x - (SELECT s FROM tot) AS d
      FROM series
    ), denom AS (
      SELECT sum(d * d) AS den FROM dev
    ), lags AS (
      SELECT unnest(range(1, 25)) AS k
    ), num AS (
      SELECT l.k,
             CAST(count(*) AS BIGINT) AS n_pairs,
             sum(a.d * b.d) AS num
      FROM lags l
      JOIN dev a ON TRUE
      JOIN dev b ON b.h = a.h + l.k * 3600
      GROUP BY l.k
    )
    SELECT CAST(k AS BIGINT) AS lag_hours, n_pairs,
           round(CAST(num AS DOUBLE) / nullif((SELECT den FROM denom), 0), 6)
             AS acf
    FROM num
    ORDER BY lag_hours
"""


@op("ts_autocorrelation", oracle=TS_AUTOCORRELATION_ORACLE, tags=('timeseries', 'extra'))
def ts_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the hourly event-count series at lags
    1..24 h — the seasonality/periodicity detector run before picking a
    seasonal-decompose period or a forecasting model (a daily cycle shows
    as a peak at lag 24). r_k = Σ dev_t·dev_{t+k} / Σ dev_t², paired on
    the OBSERVED hourly grid (epoch-hour equi-join, so series gaps drop
    pairs rather than fabricating zeros).

    Determinism trick: with S = Σx and n = count, the mean-centered
    deviation (x_t - S/n) is replaced by the INTEGER (n·x_t - S); the n²
    factor cancels in the ratio, so numerator and denominator are exact
    BIGINT sums on both engines and the single final division is
    identical IEEE. (At extreme per-hour counts the BIGINT product bound
    ~3e9 per deviation applies — swap to DECIMAL(38,0) partials then.)

    Scale shape: ONE partial agg collapses the corpus to O(hours); the
    24-lag pairing is a broadcast self-join on that tiny table — the
    iterate-the-small-table rule (docs/SCALE.md §4). A zero-variance
    series has no defined ACF: nullif keeps that NULL (not NaN) on both
    engines."""
    e = load(spark, sf_dir, "events")
    series = e.groupBy(
        F.floor(F.unix_timestamp(F.date_trunc("hour", F.col("ts")))).alias("h")
    ).agg(F.count("*").alias("x"))
    tot = series.agg(
        F.count("*").alias("n"), F.sum("x").alias("s")
    )
    dev = series.crossJoin(F.broadcast(tot)).select(
        "h", (F.col("n") * F.col("x") - F.col("s")).alias("d")
    )
    denom = dev.agg(F.sum(F.col("d") * F.col("d")).alias("den"))
    lags = spark.range(1, 25).select(F.col("id").alias("k"))
    a = dev.select(F.col("h").alias("ha"), F.col("d").alias("da"))
    b = dev.select(F.col("h").alias("hb"), F.col("d").alias("db"))
    num = (
        F.broadcast(lags)
        .crossJoin(a)
        .join(b, F.col("hb") == F.col("ha") + F.col("k") * 3600)
        .groupBy("k")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.col("da") * F.col("db")).alias("num"),
        )
    )
    return (
        num.crossJoin(F.broadcast(denom))
        .select(
            F.col("k").cast("long").alias("lag_hours"),
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.round(
                F.col("num").cast("double")
                / F.nullif(F.col("den"), F.lit(0)),
                6,
            ).alias("acf"),
        )
        .orderBy("lag_hours")
    )


# ---------------------------------------------------------------------------
# stat_mann_whitney_u (round-7+ registration queue, tranche 37)
# ---------------------------------------------------------------------------

STAT_MANN_WHITNEY_U_ORACLE = """
    WITH binned AS (
      SELECT round(value, 2) AS x,
             CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS BIGINT) AS t1,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS t2
      FROM events
      WHERE event_type IN ('view', 'purchase') AND value IS NOT NULL
      GROUP BY round(value, 2)
    ), ranked AS (
      SELECT t1, t2, t1 + t2 AS t,
             coalesce(sum(t1 + t2) OVER (ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM binned
    ), agg AS (
      SELECT sum(t1) AS n1, sum(t2) AS n2,
             sum(t1 * (2 * cum_before + t + 1)) AS two_r1,
             sum(t * t * t - t) AS tie_t
      FROM ranked
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           CAST(two_r1 - n1 * (n1 + 1) AS DOUBLE) / 2 AS u1,
           round((CAST(two_r1 - n1 * (n1 + 1) AS DOUBLE) - n1 * n2)
                 / (2 * sqrt(CAST(n1 AS DOUBLE) * n2 / 12
                     * ((n1 + n2 + 1)
                        - CAST(tie_t AS DOUBLE)
                          / ((n1 + n2) * (n1 + n2 - 1.0))))), 4) AS z,
           abs(round((CAST(two_r1 - n1 * (n1 + 1) AS DOUBLE) - n1 * n2)
                 / (2 * sqrt(CAST(n1 AS DOUBLE) * n2 / 12
                     * ((n1 + n2 + 1)
                        - CAST(tie_t AS DOUBLE)
                          / ((n1 + n2) * (n1 + n2 - 1.0))))), 4)) > 1.96
             AS significant
    FROM agg
"""


@op("stat_mann_whitney_u", oracle=STAT_MANN_WHITNEY_U_ORACLE, tags=('stat', 'extra'))
def stat_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test between the 'view' and 'purchase'
    value cohorts — the nonparametric A/B significance test that needs no
    normality assumption (the robust sibling of fn_ab_test_proportions'
    z-test on rates). Uses the normal approximation with the full tie
    correction σ² = n1n2/12·((n+1) − Σ(t³−t)/(n(n−1))).

    Rank arithmetic stays INTEGER end-to-end: values collapse to cents
    bins (one conditional partial agg), average ranks are carried doubled
    (2·rank = 2·cum_before + t + 1, always integral), so 2R1, 2U1 and the
    tie term are exact BIGINTs on both engines; the z-score is one IEEE
    expression over those integers, rounded before the significance
    compare so the boolean cannot split at the threshold. One window over
    the O(bins) table is the only sort."""
    # a NULL observation has no bin position (class-8 cumsum order)
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
        & F.col("value").isNotNull()
    )
    binned = e.groupBy(F.round("value", 2).alias("x")).agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("t1"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "t2"
        ),
    )
    w_prev = W.orderBy("x").rowsBetween(W.unboundedPreceding, -1)
    ranked = binned.select(
        "t1",
        "t2",
        (F.col("t1") + F.col("t2")).alias("t"),
        F.coalesce(
            F.sum(F.col("t1") + F.col("t2")).over(w_prev), F.lit(0)
        ).alias("cum_before"),
    )
    agg = ranked.agg(
        F.sum("t1").alias("n1"),
        F.sum("t2").alias("n2"),
        F.sum(
            F.col("t1") * (2 * F.col("cum_before") + F.col("t") + 1)
        ).alias("two_r1"),
        F.sum(
            F.col("t") * F.col("t") * F.col("t") - F.col("t")
        ).alias("tie_t"),
    )
    two_u1 = (F.col("two_r1") - F.col("n1") * (F.col("n1") + 1)).cast("double")
    n1d = F.col("n1").cast("double")
    n = F.col("n1") + F.col("n2")
    sigma2_scaled = (
        n1d
        * F.col("n2")
        / 12
        * (
            (n + 1).cast("double")
            - F.col("tie_t").cast("double")
            / (n * (n - 1)).cast("double")
        )
    )
    z = F.round((two_u1 - n1d * F.col("n2")) / (2 * F.sqrt(sigma2_scaled)), 4)
    return agg.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        (two_u1 / 2).alias("u1"),
        z.alias("z"),
        (F.abs(z) > 1.96).alias("significant"),
    )

# ---------------------------------------------------------------------------
# join_fuzzy_phonetic_blocked (round-7+ registration queue, tranche 39)
# ---------------------------------------------------------------------------


def _soundex_sql(col: str) -> str:
    """Portable American-Soundex variant as a single SQL expression that
    BOTH engines evaluate identically (Spark's built-in ``soundex()`` has
    no DuckDB twin, and DuckDB's RE2 regexes lack the backreferences the
    run-collapse step classically uses — so runs are collapsed with
    nested constant replaces, 3 passes per digit ≥ runs of 8). Variant
    note: the H/W-separator rule is intentionally omitted; both sides of
    the differential run this exact text, so parity is by construction."""
    letters = f"upper(regexp_replace({col}, '[^a-zA-Z]', ''))"
    tail = (
        f"translate(substr({letters}, 2), "
        "'AEIOUYHWBFPVCGJKQSXZDTLMNR', '00000000111122222222334556')"
    )
    collapsed = tail
    for d in "123456":
        for _ in range(3):
            collapsed = f"replace({collapsed}, '{d}{d}', '{d}')"
    return (
        f"rpad(substr(concat(substr({letters}, 1, 1), "
        f"replace({collapsed}, '0', '')), 1, 4), 4, '0')"
    )


_FUZZY_DIRTY_SQL = (
    "CASE WHEN ((p_partkey * 2654435761) % 4294967296) % 3 = 0 "
    "THEN concat(substr(p_name, 1, "
    "CAST(((p_partkey * 2654435761) % 4294967296) % length(p_name) "
    "AS INT)), substr(p_name, CAST(((p_partkey * 2654435761) % 4294967296) "
    "% length(p_name) AS INT) + 2)) ELSE p_name END"
)

JOIN_FUZZY_PHONETIC_BLOCKED_ORACLE = f"""
    WITH catalog AS (
      SELECT DISTINCT p_name AS entity FROM part
    ), mentions AS (
      SELECT p_partkey, {_FUZZY_DIRTY_SQL} AS mention FROM part
    ), blocked AS (
      SELECT m.p_partkey, m.mention, c.entity,
             CAST(levenshtein(m.mention, c.entity) AS BIGINT) AS lev
      FROM mentions m
      JOIN catalog c
        ON {_soundex_sql('m.mention')} = {_soundex_sql('c.entity')}
       AND levenshtein(m.mention, c.entity) <= 1
    ), best_lev AS (
      SELECT p_partkey, mention, min(lev) AS lev
      FROM blocked GROUP BY p_partkey, mention
    ), best AS (
      SELECT b.p_partkey, b.mention, bl.lev, min(b.entity) AS entity
      FROM blocked b
      JOIN best_lev bl
        ON bl.p_partkey = b.p_partkey AND b.lev = bl.lev
      GROUP BY b.p_partkey, b.mention, bl.lev
    )
    SELECT CAST(p_partkey AS BIGINT) AS p_partkey, mention, entity, lev
    FROM best
    ORDER BY p_partkey
"""


@op("join_fuzzy_phonetic_blocked", oracle=JOIN_FUZZY_PHONETIC_BLOCKED_ORACLE, tags=('join', 'extra'))
def join_fuzzy_phonetic_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution as a BLOCKED fuzzy join: dirty mentions (part
    names with a deterministic hash-seeded character deletion on 1/3 of
    rows) are matched to the clean entity catalog on phonetic block key
    equality + edit distance ≤ 1, then resolved to the single best
    candidate by (min lev, min name) — the canonical mention→entity
    linkage every MDM / customer-360 pipeline runs.

    Scale shape: the phonetic code turns the quadratic mention×catalog
    comparison into an EQUI-join on the block key (shuffle-partitionable
    both sides; levenshtein runs only inside blocks), and the best-match
    cut is a partial-aggregating min(struct(lev, entity)) argmin — no
    window, no per-key sort (the join_geo_nearest_broadcast rule). At
    test scale the catalog is broadcast; with a huge catalog the same
    plan shuffles on the block key. Blocking recall is quantified (not
    assumed) in the gate test vs the unblocked brute force."""
    p = load(spark, sf_dir, "part")
    catalog = p.select(F.col("p_name").alias("entity")).distinct()
    mentions = p.select(
        "p_partkey", F.expr(_FUZZY_DIRTY_SQL).alias("mention")
    )
    m = mentions.withColumn("bk", F.expr(_soundex_sql("mention")))
    c = catalog.withColumn("bk", F.expr(_soundex_sql("entity")))
    blocked = (
        m.join(c, "bk")
        .withColumn("lev", F.levenshtein("mention", "entity").cast("long"))
        .filter(F.col("lev") <= 1)
    )
    return (
        blocked.groupBy("p_partkey", "mention")
        .agg(
            F.min("lev").alias("lev"),
            F.min_by(
                "entity", F.struct(F.col("lev"), F.col("entity"))
            ).alias("entity"),
        )
        .select(
            F.col("p_partkey").cast("long").alias("p_partkey"),
            "mention",
            "entity",
            "lev",
        )
        .orderBy("p_partkey")
    )


# ---------------------------------------------------------------------------
# agg_event_path_topk (round-7+ registration queue, tranche 39)
# ---------------------------------------------------------------------------

AGG_EVENT_PATH_TOPK_ORACLE = """
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type, 1) OVER w AS e2,
             lead(event_type, 2) OVER w AS e3
      FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), paths AS (
      SELECT event_type AS e1, e2, e3, CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE e2 IS NOT NULL AND e3 IS NOT NULL
      GROUP BY 1, 2, 3
    ), ranked AS (
      SELECT e1, e2, e3, n,
             row_number() OVER (ORDER BY n DESC, e1, e2, e3) AS rk
      FROM paths
    )
    SELECT concat(e1, '>', e2, '>', e3) AS path, n,
           CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 15
    ORDER BY rk
"""


@op("agg_event_path_topk", oracle=AGG_EVENT_PATH_TOPK_ORACLE, tags=('agg', 'extra'))
def agg_event_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 three-step user journeys ("path analysis"): consecutive
    event-type trigrams on each user's (ts, event_id) total order,
    counted corpus-wide — the product-analytics view that answers "what
    do users actually do next" one level deeper than
    agg_markov_transition_matrix's pair counts.

    Plan: ONE per-user window (a single shuffle on user_id — the same
    exchange every sessionize/funnel op in this family shares) emits the
    shifted pair of leads; path counting is then an ordinary partial
    agg on the O(types³)-bounded key space, and the top-k cut is a
    total-order row_number over that tiny counts table."""
    # a path step needs a time and a name (and concat-over-NULL diverges
    # cross-engine, class 4) — excluded on both sides
    e = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e2").isNotNull() & F.col("e3").isNotNull())
    paths = seq.groupBy("e1", "e2", "e3").agg(F.count("*").alias("n"))
    wr = W.orderBy(F.desc("n"), "e1", "e2", "e3")
    return (
        paths.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= 15)
        .select(
            F.concat_ws(">", "e1", "e2", "e3").alias("path"),
            F.col("n").cast("long").alias("n"),
            F.col("rk").cast("long").alias("rk"),
        )
        .orderBy("rk")
    )

# ---------------------------------------------------------------------------
# stat_t_test_welch (round-7+ registration queue, tranche 40)
# ---------------------------------------------------------------------------

STAT_T_TEST_WELCH_ORACLE = """
    WITH cents AS (
      SELECT event_type, CAST(round((CASE WHEN abs(CAST(value AS DOUBLE)) < 1e12 THEN CAST(value AS DOUBLE) END), 2) AS DECIMAL(18,2)) AS x
      FROM events WHERE event_type IN ('view', 'purchase')
    ), moments AS (
      SELECT
        CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
             AS BIGINT) AS n1,
        CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             AS BIGINT) AS n2,
        sum(CASE WHEN event_type = 'view' THEN x END) AS s1,
        sum(CASE WHEN event_type = 'purchase' THEN x END) AS s2,
        sum(CASE WHEN event_type = 'view' THEN x * x END) AS q1,
        sum(CASE WHEN event_type = 'purchase' THEN x * x END) AS q2
      FROM cents
    ), vars_ AS (
      SELECT n1, n2,
             CAST(s1 AS DOUBLE) / n1 AS m1,
             CAST(s2 AS DOUBLE) / n2 AS m2,
             (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1)
               AS v1,
             (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2) / (n2 - 1)
               AS v2
      FROM moments
    )
    SELECT n1, n2,
           round(m1, 4) AS mean1, round(m2, 4) AS mean2,
           round((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 4) AS t,
           round((v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2)
                 / ((v1 / n1) * (v1 / n1) / (n1 - 1)
                    + (v2 / n2) * (v2 / n2) / (n2 - 1)), 2) AS df,
           abs(round((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 4)) > 1.96
             AS significant
    FROM vars_
"""


@op("stat_t_test_welch", oracle=STAT_T_TEST_WELCH_ORACLE, tags=('stat', 'extra'))
def stat_t_test_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test on the cohort MEANS — the third
    leg of the A/B toolkit (fn_ab_test_proportions tests rates,
    stat_mann_whitney_u tests stochastic dominance, this tests means
    without the pooled-variance assumption), with the Welch-Satterthwaite
    degrees of freedom.

    Exactness: values are collapsed to DECIMAL(18,2) cents, so Σx and
    Σx² are EXACT decimal partials (order-independent across partitions
    and engines); mean/variance/t/df are then one IEEE expression over
    those exact sums. The whole test is ONE conditional-aggregate scan —
    no shuffle beyond the final 1-row reduce, the cheapest possible
    plan at any scale. Significance compares the ROUNDED t (normal
    approximation; df is reported for exact-t lookups downstream)."""
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    x = F.round(finite(F.col("value")), 2).cast("decimal(18,2)")
    isv = F.col("event_type") == "view"
    m = e.select(F.col("event_type"), x.alias("x")).agg(
        F.sum(F.when(isv, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(~isv, 1).otherwise(0)).alias("n2"),
        F.sum(F.when(isv, F.col("x"))).alias("s1"),
        F.sum(F.when(~isv, F.col("x"))).alias("s2"),
        F.sum(F.when(isv, F.col("x") * F.col("x"))).alias("q1"),
        F.sum(F.when(~isv, F.col("x") * F.col("x"))).alias("q2"),
    )
    m1 = F.col("s1").cast("double") / F.col("n1")
    m2 = F.col("s2").cast("double") / F.col("n2")
    v1 = (
        F.col("q1").cast("double")
        - F.col("s1").cast("double") * F.col("s1") / F.col("n1")
    ) / (F.col("n1") - 1)
    v2 = (
        F.col("q2").cast("double")
        - F.col("s2").cast("double") * F.col("s2") / F.col("n2")
    ) / (F.col("n2") - 1)
    se2 = v1 / F.col("n1") + v2 / F.col("n2")
    t = F.round((m1 - m2) / F.sqrt(se2), 4)
    df = F.round(
        se2
        * se2
        / (
            (v1 / F.col("n1")) * (v1 / F.col("n1")) / (F.col("n1") - 1)
            + (v2 / F.col("n2")) * (v2 / F.col("n2")) / (F.col("n2") - 1)
        ),
        2,
    )
    return m.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.round(m1, 4).alias("mean1"),
        F.round(m2, 4).alias("mean2"),
        t.alias("t"),
        df.alias("df"),
        (F.abs(t) > 1.96).alias("significant"),
    )


# ---------------------------------------------------------------------------
# ts_forecast_snaive_backtest (round-7+ registration queue, tranche 40)
# ---------------------------------------------------------------------------

TS_FORECAST_SNAIVE_ORACLE = """
    WITH series AS (
      SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS h,
             CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1
    ), joined AS (
      SELECT cur.h, cur.y,
             snv.y AS yhat_snaive,
             nv.y AS yhat_naive
      FROM series cur
      JOIN series snv ON snv.h = cur.h - 86400
      JOIN series nv ON nv.h = cur.h - 3600
    ), err AS (
      SELECT CAST(count(*) AS BIGINT) AS n_eval,
             sum(abs(y - yhat_snaive)) AS ae_s,
             sum((y - yhat_snaive) * (y - yhat_snaive)) AS se_s,
             sum(abs(y - yhat_naive)) AS ae_n
      FROM joined
    )
    SELECT n_eval,
           round(CAST(ae_s AS DOUBLE) / n_eval, 4) AS mae_snaive,
           round(sqrt(CAST(se_s AS DOUBLE) / n_eval), 4) AS rmse_snaive,
           round(CAST(ae_n AS DOUBLE) / n_eval, 4) AS mae_naive,
           round(CAST(ae_s AS DOUBLE) / nullif(CAST(ae_n AS DOUBLE), 0), 4)
             AS mase
    FROM err
"""


@op("ts_forecast_snaive_backtest", oracle=TS_FORECAST_SNAIVE_ORACLE, tags=('timeseries', 'extra'))
def ts_forecast_snaive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-evaluation backbone: backtest the SEASONAL-NAIVE
    forecaster (ŷ_t = y_{t-24h}) on the hourly count series against the
    plain naive (ŷ_t = y_{t-1h}) benchmark, reporting MAE, RMSE and
    MASE = MAE_snaive / MAE_naive — Hyndman's scale-free skill score
    (< 1 means the seasonal model beats the one-step benchmark; any
    real forecaster added later gets judged by exactly this harness).

    Evaluation pairs come from epoch-hour equi-joins on the OBSERVED
    grid (no fabricated zeros for missing hours). All error sums are
    exact BIGINT arithmetic on counts; only the final per-row divisions
    and sqrt touch IEEE, so both engines agree bit-for-bit before the
    4dp round. Plan: one partial agg to O(hours), two broadcast
    self-joins, one 1-row reduce."""
    e = load(spark, sf_dir, "events")
    series = e.groupBy(
        F.floor(F.unix_timestamp(F.date_trunc("hour", F.col("ts")))).alias("h")
    ).agg(F.count("*").alias("y"))
    cur = series
    snv = series.select(
        (F.col("h") + 86400).alias("h"), F.col("y").alias("yhat_snaive")
    )
    nv = series.select(
        (F.col("h") + 3600).alias("h"), F.col("y").alias("yhat_naive")
    )
    joined = cur.join(F.broadcast(snv), "h").join(F.broadcast(nv), "h")
    err = joined.agg(
        F.count("*").alias("n_eval"),
        F.sum(F.abs(F.col("y") - F.col("yhat_snaive"))).alias("ae_s"),
        F.sum(
            (F.col("y") - F.col("yhat_snaive"))
            * (F.col("y") - F.col("yhat_snaive"))
        ).alias("se_s"),
        F.sum(F.abs(F.col("y") - F.col("yhat_naive"))).alias("ae_n"),
    )
    return err.select(
        F.col("n_eval").cast("long").alias("n_eval"),
        F.round(F.col("ae_s").cast("double") / F.col("n_eval"), 4).alias(
            "mae_snaive"
        ),
        F.round(
            F.sqrt(F.col("se_s").cast("double") / F.col("n_eval")), 4
        ).alias("rmse_snaive"),
        F.round(F.col("ae_n").cast("double") / F.col("n_eval"), 4).alias(
            "mae_naive"
        ),
        F.round(
            F.col("ae_s").cast("double")
            / F.nullif(F.col("ae_n").cast("double"), F.lit(0.0)),
            4,
        ).alias("mase"),
    )

# ---------------------------------------------------------------------------
# ts_holt_winters (round-7+ registration queue, tranche 41)
# ---------------------------------------------------------------------------

# Additive Holt-Winters smoothing parameters (fixed, documented — parameter
# search would just re-run this op per candidate):
HW_ALPHA, HW_BETA, HW_GAMMA, HW_PERIOD = 0.2, 0.1, 0.3, 24

# Level/trend/seasonal each feed back into the next step — no SQL window
# or HOF fold expresses that, but a recursive CTE with a LIST-typed
# seasonal state replays the triple recursion exactly (the 24-slot vector
# updates via an indexed-lambda list_transform). All inputs are INTEGER
# hourly counts, the smoothing constants are the same double literals, and
# every expression is written in the Python kernel's evaluation order, so
# the recursion is bit-identical cross-engine with no rounding sandwich.
# Depth = grid hours (~720 at any sf — O(hours) after the collapse).
TS_HOLT_WINTERS_ORACLE = f"""
    WITH RECURSIVE
    hours AS (
      SELECT event_type,
             CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS h,
             count(*) AS y
      FROM events
      WHERE ts IS NOT NULL AND event_type IS NOT NULL
      GROUP BY 1, 2
    ),
    bounds AS (
      SELECT event_type, min(h) AS lo, max(h) AS hi FROM hours GROUP BY 1
    ),
    grid AS (
      SELECT event_type, unnest(generate_series(lo, hi, 3600)) AS h,
             unnest(generate_series(0, (hi - lo) // 3600, 1)) AS i
      FROM bounds
    ),
    gz AS (
      SELECT g.event_type, g.i, coalesce(CAST(hh.y AS DOUBLE), 0.0) AS z
      FROM grid g LEFT JOIN hours hh
        ON hh.event_type = g.event_type AND hh.h = g.h
    ),
    n AS (SELECT event_type, count(*) AS n_obs FROM gz GROUP BY 1),
    ys AS (
      SELECT event_type, list(z ORDER BY i) AS ys
      FROM gz WHERE i < 2 * {HW_PERIOD} GROUP BY 1
    ),
    init AS (
      SELECT y.event_type,
             list_sum(ys[1:{HW_PERIOD}]) / {HW_PERIOD} AS level0,
             (list_sum(ys[{HW_PERIOD} + 1:2 * {HW_PERIOD}]) / {HW_PERIOD}
              - list_sum(ys[1:{HW_PERIOD}]) / {HW_PERIOD}) / {HW_PERIOD}
               AS trend0,
             list_transform(
               ys[1:{HW_PERIOD}],
               v -> v - list_sum(ys[1:{HW_PERIOD}]) / {HW_PERIOD}
             ) AS seas0
      FROM ys y JOIN n USING (event_type) WHERE n.n_obs >= 2 * {HW_PERIOD}
    ),
    rec AS (
      SELECT event_type, CAST({HW_PERIOD} - 1 AS BIGINT) AS t,
             CAST(level0 AS DOUBLE) AS level, CAST(trend0 AS DOUBLE) AS trend,
             seas0 AS seas, CAST(0.0 AS DOUBLE) AS abs_err
      FROM init
      UNION ALL
      SELECT u.event_type, u.t,
             u.new_level,
             {HW_BETA} * (u.new_level - u.level) + (1 - {HW_BETA}) * u.trend,
             list_transform(u.seas, (x, j) -> CASE WHEN j = u.idx
                 THEN {HW_GAMMA} * (u.z - u.new_level)
                      + (1 - {HW_GAMMA}) * u.s_prev
                 ELSE x END),
             u.abs_err + abs(u.z - (u.level + u.trend + u.s_prev))
      FROM (
        SELECT r.event_type, g.i AS t, r.level, r.trend, r.seas, r.abs_err,
               g.z,
               (g.i % {HW_PERIOD}) + 1 AS idx,
               r.seas[CAST((g.i % {HW_PERIOD}) + 1 AS INTEGER)] AS s_prev,
               {HW_ALPHA} * (g.z
                 - r.seas[CAST((g.i % {HW_PERIOD}) + 1 AS INTEGER)])
                 + (1 - {HW_ALPHA}) * (r.level + r.trend) AS new_level
        FROM rec r JOIN gz g ON g.event_type = r.event_type AND g.i = r.t + 1
      ) u
    ),
    fin AS (
      SELECT r.event_type, n.n_obs, r.level, r.trend, r.seas, r.abs_err
      FROM rec r JOIN n USING (event_type) WHERE r.t = n.n_obs - 1
    )
    SELECT event_type, CAST(n_obs AS BIGINT) AS n_obs,
           round(abs_err / (n_obs - {HW_PERIOD}), 4) AS mae_insample,
           round(level + 1 * trend
                 + seas[CAST((n_obs % {HW_PERIOD}) + 1 AS INTEGER)], 4)
             AS fc_1,
           round(level + 2 * trend
                 + seas[CAST(((n_obs + 1) % {HW_PERIOD}) + 1 AS INTEGER)], 4)
             AS fc_2,
           round(level + 3 * trend
                 + seas[CAST(((n_obs + 2) % {HW_PERIOD}) + 1 AS INTEGER)], 4)
             AS fc_3
    FROM fin
    UNION ALL
    SELECT n.event_type, CAST(n.n_obs AS BIGINT), NULL, NULL, NULL, NULL
    FROM n WHERE n.n_obs < 2 * {HW_PERIOD}
"""


@op("ts_holt_winters", oracle=TS_HOLT_WINTERS_ORACLE,
    tags=('timeseries', 'extra'))
def ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters (triple exponential smoothing) per
    event-type hourly series: level + trend + 24h seasonality, the
    classic operational forecaster one step up from
    ts_forecast_snaive_backtest's benchmark (and judged by its MASE
    harness). Missing hours are true zero-count hours, so each series is
    reindexed onto the dense min..max hourly grid with y=0 BEFORE
    smoothing — the recursion must see every step.

    The triple recursion is the honest Python-kernel case (the CUSUM/FFD
    discipline): the distributed side collapses the corpus to O(hours)
    rows per series with ONE partial agg, and applyInPandas runs the
    O(1)-state recursion per series — sequential per key, parallel
    across keys. Init: first-period mean level, two-period slope trend,
    first-period detrended seasonals. Output per series: in-sample
    one-step MAE and the next 3 forecasts."""
    import numpy as np
    import pandas as pd

    # same null-series contract as ts_kalman_filter_1d
    e = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    series = e.groupBy(
        "event_type",
        F.floor(F.unix_timestamp(F.date_trunc("hour", F.col("ts")))).alias("h"),
    ).agg(F.count("*").alias("y"))

    m = HW_PERIOD

    def holt_winters(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("h")
        lo, hi = int(pdf["h"].min()), int(pdf["h"].max())
        grid = np.arange(lo, hi + 3600, 3600)
        y = (
            pdf.set_index("h")["y"].reindex(grid, fill_value=0).to_numpy(float)
        )
        n = len(y)
        if n < 2 * m:
            return pd.DataFrame(
                {
                    "event_type": [pdf["event_type"].iloc[0]],
                    "n_obs": [n],
                    "mae_insample": [None],
                    "fc_1": [None],
                    "fc_2": [None],
                    "fc_3": [None],
                }
            )
        level = float(y[:m].mean())
        trend = float((y[m:2 * m].mean() - y[:m].mean()) / m)
        seas = [float(v - level) for v in y[:m]]
        abs_err = 0.0
        for t in range(m, n):
            s_prev = seas[t % m]
            yhat = level + trend + s_prev
            abs_err += abs(y[t] - yhat)
            new_level = HW_ALPHA * (y[t] - s_prev) + (1 - HW_ALPHA) * (
                level + trend
            )
            trend = HW_BETA * (new_level - level) + (1 - HW_BETA) * trend
            seas[t % m] = HW_GAMMA * (y[t] - new_level) + (1 - HW_GAMMA) * s_prev
            level = new_level
        fc = [
            round(level + (k + 1) * trend + seas[(n + k) % m], 4)
            for k in range(3)
        ]
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_obs": [n],
                "mae_insample": [round(abs_err / (n - m), 4)],
                "fc_1": [fc[0]],
                "fc_2": [fc[1]],
                "fc_3": [fc[2]],
            }
        )

    return (
        series.groupBy("event_type")
        .applyInPandas(
            holt_winters,
            "event_type string, n_obs long, mae_insample double,"
            " fc_1 double, fc_2 double, fc_3 double",
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# ts_seasonal_residual_anomaly (round-7+ registration queue, tranche 41)
# ---------------------------------------------------------------------------

TS_SEASONAL_RESIDUAL_ANOMALY_ORACLE = """
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h,
             CAST(round(CAST(sum((CASE WHEN abs(CAST(value AS DOUBLE)) < 1e12 THEN CAST(value AS DOUBLE) END)) AS DECIMAL(18,6)), 2) AS DOUBLE) AS total
      FROM events WHERE ts IS NOT NULL GROUP BY 1
    ),
    tr AS (
      SELECT h, total,
             CASE WHEN count(*) OVER w = 25
                  THEN CAST(round(CAST(avg(total) OVER w AS DECIMAL(18,9)), 2)
                       AS DOUBLE) END AS trend
      FROM hourly
      WINDOW w AS (ORDER BY h ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
    ),
    seas AS (
      SELECT hour(h) AS hod,
             (CASE WHEN abs(CAST(avg(total - trend) AS DOUBLE)) < 1e9 THEN CAST(round(CAST(CAST(avg(total - trend) AS DOUBLE) AS DECIMAL(18,9)), 4) AS DOUBLE) ELSE CAST(avg(total - trend) AS DOUBLE) END)
               AS seasonal
      FROM tr WHERE trend IS NOT NULL GROUP BY 1
    ),
    resid AS (
      SELECT tr.h, tr.total,
             (CASE WHEN abs(CAST(tr.total - tr.trend - seas.seasonal AS DOUBLE)) < 1e9 THEN CAST(round(CAST(CAST(tr.total - tr.trend - seas.seasonal AS DOUBLE) AS DECIMAL(18,9)), 4) AS DOUBLE) ELSE CAST(tr.total - tr.trend - seas.seasonal AS DOUBLE) END) AS residual
      FROM tr JOIN seas ON hour(tr.h) = seas.hod
      WHERE tr.trend IS NOT NULL
    ),
    stats AS (
      SELECT (CASE WHEN abs(CAST(quantile_cont(residual, 0.5) AS DOUBLE)) < 1e9 THEN CAST(round(CAST(CAST(quantile_cont(residual, 0.5) AS DOUBLE) AS DECIMAL(18,9)), 4) AS DOUBLE) ELSE CAST(quantile_cont(residual, 0.5) AS DOUBLE) END) AS med
      FROM resid
    ),
    mad AS (
      SELECT med,
             (CASE WHEN abs(CAST(quantile_cont(abs(residual - med), 0.5) AS DOUBLE)) < 1e9 THEN CAST(round(CAST(CAST(quantile_cont(abs(residual - med), 0.5) AS DOUBLE) AS DECIMAL(18,9)), 4) AS DOUBLE) ELSE CAST(quantile_cont(abs(residual - med), 0.5) AS DOUBLE) END) AS mad
      FROM resid CROSS JOIN stats GROUP BY med
    ),
    scored AS (
      SELECT r.h, r.total, r.residual,
             (CASE WHEN abs(CAST(abs(r.residual - m.med) AS DOUBLE)) < 1e9 THEN CAST(round(CAST(CAST(abs(r.residual - m.med) AS DOUBLE) AS DECIMAL(18,9)), 4) AS DOUBLE) ELSE CAST(abs(r.residual - m.med) AS DOUBLE) END) AS score,
             3 * 1.4826 * m.mad AS fence
      FROM resid r CROSS JOIN mad m
    )
    SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour, total, residual, score
    FROM scored
    WHERE score > fence
    ORDER BY score DESC, hour
    LIMIT 10
"""


@op("ts_seasonal_residual_anomaly", oracle=TS_SEASONAL_RESIDUAL_ANOMALY_ORACLE, tags=('timeseries', 'extra'))
def ts_seasonal_residual_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly detection — the composition the plain
    z-score ops can't do: decompose the hourly series (same
    trend/seasonal algebra as ts_seasonal_decompose, extra_ops.py:1985),
    then fence the RESIDUALS with the robust median ± 3·1.4826·MAD rule
    (win_outlier_mad's fence) and return the top-10 anomalous hours. An
    hour that is normal for 3 AM but anomalous for 3 PM is exactly what
    the residual channel isolates and the raw-value channel misses.

    Plan: the corpus collapses to O(hours) in one partial agg; every
    later stage (centered MA, O(24) seasonal broadcast, two exact
    medians, the fence) runs on that tiny series — collapse-then-analyze
    as the house rule. Medians use exact percentile on both engines
    (the residual table is bounded by calendar hours, never corpus
    size)."""
    dec = ts_seasonal_decompose(spark, sf_dir)
    resid = dec.filter(F.col("residual").isNotNull()).select(
        "hour", "total", "residual"
    )
    med = resid.agg(
        F.expr(
            "CAST(round(CAST(percentile(residual, 0.5) AS DECIMAL(18,9)), 4)"
            " AS DOUBLE)"
        ).alias("med")
    )
    mad = (
        resid.crossJoin(F.broadcast(med))
        .agg(
            F.first("med").alias("med"),
            F.expr(
                "CAST(round(CAST(percentile(abs(residual - med), 0.5)"
                " AS DECIMAL(18,9)), 4) AS DOUBLE)"
            ).alias("mad"),
        )
    )
    scored = resid.crossJoin(F.broadcast(mad)).select(
        "hour",
        "total",
        "residual",
        F.expr(
            "CAST(round(CAST(abs(residual - med) AS DECIMAL(18,9)), 4)"
            " AS DOUBLE)"
        ).alias("score"),
        (3 * 1.4826 * F.col("mad")).alias("fence"),
    )
    return (
        scored.filter(F.col("score") > F.col("fence"))
        .select("hour", "total", "residual", "score")
        .orderBy(F.desc("score"), "hour")
        .limit(10)
    )

# ---------------------------------------------------------------------------
# stat_bootstrap_poisson_ci (round-7+ registration queue, tranche 43)
# ---------------------------------------------------------------------------

_BOOT_B = 50
# Inverse CDF of Poisson(1) as literal thresholds (P(X<=k), 9dp): the CASE
# ladder is identical text on both engines, so every weight draw matches.
_BOOT_W_SQL = (
    "CASE WHEN u < 0.367879441 THEN 0 WHEN u < 0.735758882 THEN 1"
    " WHEN u < 0.919698603 THEN 2 WHEN u < 0.981011843 THEN 3"
    " WHEN u < 0.996340153 THEN 4 WHEN u < 0.999405815 THEN 5 ELSE 6 END"
)

STAT_BOOTSTRAP_POISSON_CI_ORACLE = f"""
    WITH base AS (
      SELECT event_id, CAST(round((CASE WHEN abs(CAST(value AS DOUBLE)) < 1e12 THEN CAST(value AS DOUBLE) END), 2) AS DECIMAL(18,2)) AS x
      FROM events WHERE event_type = 'purchase'
    ), reps AS (
      -- both mods keep every intermediate < 2^63 on BOTH engines (ADVICE
      -- r5: unmasked event_id * 2654435761 overflows int64 past ~3.5e9 —
      -- Spark wraps silently, DuckDB promotes — breaking replayability);
      -- at testdata id ranges the masks are identity, so draws are
      -- unchanged
      SELECT b.b, base.event_id, base.x,
             (((base.event_id * {_BOOT_B + 14} + b.b + 1) % 2147483648)
               * 2654435761) % 4294967296 AS h
      FROM base CROSS JOIN (SELECT unnest(range({_BOOT_B})) AS b) b
    ), weighted AS (
      SELECT b, x, {_BOOT_W_SQL.replace("u", "((h + 0.5) / 4294967296.0)")} AS w
      FROM reps
    ), means AS (
      SELECT b,
             (CASE WHEN abs(CAST(CAST(sum(w * x) AS DOUBLE) / sum(w) AS DOUBLE)) < 1e9 THEN CAST(round(CAST(CAST(CAST(sum(w * x) AS DOUBLE) / sum(w) AS DOUBLE) AS DECIMAL(18,9)), 6) AS DOUBLE) ELSE CAST(CAST(sum(w * x) AS DOUBLE) / sum(w) AS DOUBLE) END) AS mean_b
      FROM weighted GROUP BY b HAVING sum(w) > 0
    ), point AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             (CASE WHEN abs(CAST(CAST(sum(x) AS DOUBLE) / count(*) AS DOUBLE)) < 1e9 THEN CAST(round(CAST(CAST(CAST(sum(x) AS DOUBLE) / count(*) AS DOUBLE) AS DECIMAL(18,9)), 4) AS DOUBLE) ELSE CAST(CAST(sum(x) AS DOUBLE) / count(*) AS DOUBLE) END) AS mean_point
      FROM base
    )
    SELECT point.n, CAST({_BOOT_B} AS BIGINT) AS b_replicas,
           point.mean_point,
           (CASE WHEN abs(CAST(quantile_cont(mean_b, 0.025) AS DOUBLE)) < 1e9 THEN CAST(round(CAST(CAST(quantile_cont(mean_b, 0.025) AS DOUBLE) AS DECIMAL(18,9)), 4) AS DOUBLE) ELSE CAST(quantile_cont(mean_b, 0.025) AS DOUBLE) END) AS ci_lo,
           (CASE WHEN abs(CAST(quantile_cont(mean_b, 0.975) AS DOUBLE)) < 1e9 THEN CAST(round(CAST(CAST(quantile_cont(mean_b, 0.975) AS DOUBLE) AS DECIMAL(18,9)), 4) AS DOUBLE) ELSE CAST(quantile_cont(mean_b, 0.975) AS DOUBLE) END) AS ci_hi
    FROM means CROSS JOIN point
    GROUP BY point.n, point.mean_point
"""


@op("stat_bootstrap_poisson_ci", oracle=STAT_BOOTSTRAP_POISSON_CI_ORACLE, tags=('stat', 'extra'))
def stat_bootstrap_poisson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for the purchase-value mean
    — THE distributed resampling trick: instead of drawing n rows with
    replacement (which needs global coordination), each row enters each
    of B replicas with an independent Poisson(1) weight, which converges
    to the multinomial bootstrap and needs only row-local randomness.
    Every weight is SEEDED from a knuth-hash of (event_id, replica)
    through a literal Poisson(1) inverse-CDF ladder, so both engines
    draw the same resamples and the whole CI is replayable (the same
    auditability argument as dp_noisy_count_laplace).

    Plan: filter → ×B explode (the only blowup, bounded by B=50) → one
    partial agg keyed by replica (weights are integers, values decimal
    cents, so replica sums are EXACT) → exact percentile over the O(B)
    replica-mean table. No global sort, no driver-side resampling."""
    e = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    base = e.select(
        "event_id", F.round(finite(F.col("value")), 2).cast("decimal(18,2)").alias("x")
    )
    reps = base.crossJoin(
        F.broadcast(spark.range(_BOOT_B).select(F.col("id").alias("b")))
    ).withColumn(
        # mirror of the oracle's double-masked seed (see comment there)
        "h",
        (
            ((F.col("event_id") * (_BOOT_B + 14) + F.col("b") + 1)
             % F.lit(2147483648))
            * F.lit(2654435761)
        )
        % F.lit(4294967296),
    )
    weighted = reps.select(
        "b",
        "x",
        F.expr(
            _BOOT_W_SQL.replace("u", "((h + 0.5) / 4294967296.0)")
        ).alias("w"),
    )
    means = (
        weighted.groupBy("b")
        .agg(
            F.sum(F.col("w") * F.col("x")).alias("sw"),
            F.sum("w").alias("tw"),
        )
        .filter(F.col("tw") > 0)
        .select(
            F.expr(
                "CAST(round(CAST(CAST(sw AS DOUBLE) / tw AS DECIMAL(18,9)),"
                " 6) AS DOUBLE)"
            ).alias("mean_b")
        )
    )
    point = base.agg(
        F.count("*").alias("n"),
        F.expr(
            "CAST(round(CAST(CAST(sum(x) AS DOUBLE) / count(*)"
            " AS DECIMAL(18,9)), 4) AS DOUBLE)"
        ).alias("mean_point"),
    )
    ci = means.agg(
        F.expr(
            "CAST(round(CAST(percentile(mean_b, 0.025) AS DECIMAL(18,9)), 4)"
            " AS DOUBLE)"
        ).alias("ci_lo"),
        F.expr(
            "CAST(round(CAST(percentile(mean_b, 0.975) AS DECIMAL(18,9)), 4)"
            " AS DOUBLE)"
        ).alias("ci_hi"),
    )
    return point.crossJoin(F.broadcast(ci)).select(
        F.col("n").cast("long").alias("n"),
        F.lit(_BOOT_B).cast("long").alias("b_replicas"),
        "mean_point",
        "ci_lo",
        "ci_hi",
    )


# ---------------------------------------------------------------------------
# ts_cross_correlation (round-7+ registration queue, tranche 43)
# ---------------------------------------------------------------------------

TS_CROSS_CORRELATION_ORACLE = """
    WITH xs AS (
      SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS h,
             CAST(count(*) AS BIGINT) AS v
      FROM events WHERE event_type = 'view' GROUP BY 1
    ), ys AS (
      SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS h,
             CAST(count(*) AS BIGINT) AS v
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), xstat AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS s,
             sum(((SELECT count(*) FROM xs) * v - (SELECT sum(v) FROM xs))
                 * ((SELECT count(*) FROM xs) * v - (SELECT sum(v) FROM xs)))
               AS den
      FROM xs
    ), ystat AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS s,
             sum(((SELECT count(*) FROM ys) * v - (SELECT sum(v) FROM ys))
                 * ((SELECT count(*) FROM ys) * v - (SELECT sum(v) FROM ys)))
               AS den
      FROM ys
    ), lags AS (
      SELECT unnest(range(-12, 13)) AS k
    ), num AS (
      SELECT l.k, CAST(count(*) AS BIGINT) AS n_pairs,
             sum((xstat.n * x.v - xstat.s) * (ystat.n * y.v - ystat.s)) AS num
      FROM lags l
      CROSS JOIN xstat CROSS JOIN ystat
      JOIN xs x ON TRUE
      JOIN ys y ON y.h = x.h + l.k * 3600
      GROUP BY l.k
    )
    SELECT CAST(k AS BIGINT) AS lag_hours, n_pairs,
           round(CAST(num AS DOUBLE)
                 / nullif(sqrt(CAST((SELECT den FROM xstat) AS DOUBLE)
                               * (SELECT den FROM ystat)), 0), 6) AS ccf
    FROM num
    ORDER BY lag_hours
"""


@op("ts_cross_correlation", oracle=TS_CROSS_CORRELATION_ORACLE, tags=('timeseries', 'extra'))
def ts_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation between the hourly 'view' and 'purchase' count
    series at lags -12..+12 h — the lead/lag detector ("do views lead
    purchases, and by how much?") behind attribution windows and
    transfer-function models; a peak at positive k means views lead
    purchases by k hours. Same integer-deviation trick as
    ts_autocorrelation (per-series n·v − S, the normalizers cancel), so
    numerator and both denominator sums are exact BIGINTs; pairs come
    from epoch-hour equi-joins on the observed grid.

    Plan: two partial aggs collapse the corpus to two O(hours) series;
    the 25-lag pairing is a broadcast join between those tiny tables —
    iterate-the-small-table again."""
    e = load(spark, sf_dir, "events")

    def series(et: str) -> DataFrame:
        return (
            e.filter(F.col("event_type") == et)
            .groupBy(
                F.floor(
                    F.unix_timestamp(F.date_trunc("hour", F.col("ts")))
                ).alias("h")
            )
            .agg(F.count("*").alias("v"))
        )

    xs, ys = series("view"), series("purchase")

    def stat(s: DataFrame) -> DataFrame:
        tot = s.agg(F.count("*").alias("n"), F.sum("v").alias("s"))
        return (
            s.crossJoin(F.broadcast(tot))
            .select(
                "n",
                "s",
                ((F.col("n") * F.col("v") - F.col("s"))
                 * (F.col("n") * F.col("v") - F.col("s"))).alias("d2"),
            )
            .groupBy("n", "s")
            .agg(F.sum("d2").alias("den"))
        )

    xstat = stat(xs).select(
        F.col("n").alias("xn"), F.col("s").alias("xs_"), F.col("den").alias("xden")
    )
    ystat = stat(ys).select(
        F.col("n").alias("yn"), F.col("s").alias("ys_"), F.col("den").alias("yden")
    )
    lags = spark.range(-12, 13).select(F.col("id").alias("k"))
    a = xs.select(F.col("h").alias("ha"), F.col("v").alias("va"))
    b = ys.select(F.col("h").alias("hb"), F.col("v").alias("vb"))
    num = (
        F.broadcast(lags)
        .crossJoin(a)
        .join(b, F.col("hb") == F.col("ha") + F.col("k") * 3600)
        .crossJoin(F.broadcast(xstat))
        .crossJoin(F.broadcast(ystat))
        .groupBy("k", "xden", "yden")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(
                (F.col("xn") * F.col("va") - F.col("xs_"))
                * (F.col("yn") * F.col("vb") - F.col("ys_"))
            ).alias("num"),
        )
    )
    return num.select(
        F.col("k").cast("long").alias("lag_hours"),
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.round(
            F.col("num").cast("double")
            / F.nullif(
                F.sqrt(F.col("xden").cast("double") * F.col("yden")),
                F.lit(0.0),
            ),
            6,
        ).alias("ccf"),
    ).orderBy("lag_hours")

# ---------------------------------------------------------------------------
# join_point_in_time_features (round-7+ registration queue, tranche 46)
# ---------------------------------------------------------------------------

JOIN_POINT_IN_TIME_FEATURES_ORACLE = """
    WITH tagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_label,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_click,
             CASE WHEN event_type = 'view' THEN value END AS view_value
      FROM events
      WHERE event_type IN ('purchase', 'click', 'view')
        AND ts IS NOT NULL
    ), feat AS (
      SELECT user_id, ts, event_id, is_label,
             coalesce(sum(is_click) OVER w, 0) AS clicks_before,
             last_value(view_value IGNORE NULLS) OVER w AS last_view_value
      FROM tagged
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS label_ts,
           CAST(clicks_before AS BIGINT) AS clicks_before,
           round(coalesce(last_view_value, -1.0), 2) AS last_view_value
    FROM feat WHERE is_label = 1
    ORDER BY user_id, label_ts, event_id
"""


@op("join_point_in_time_features", oracle=JOIN_POINT_IN_TIME_FEATURES_ORACLE, tags=('join', 'extra'))
def join_point_in_time_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct feature join — the feature-store primitive
    that prevents TRAINING LEAKAGE: every purchase (label) row gets its
    features computed ONLY from events strictly before the label
    timestamp (clicks-so-far count, most recent view value). Joining
    "current" feature values instead would leak the future into
    training — the classic silent ML bug.

    Spark-first shape: instead of one as-of join PER feature table, the
    label and feature streams are tagged into ONE union and a single
    per-user window (ROWS ... 1 PRECEDING — the strict-past frame) runs
    every feature aggregate at once; label rows are then filtered out
    with their features attached. ONE shuffle total for any number of
    features — the union-tag pass join_scd2_temporal uses, generalized
    to running aggregates. Never-seen features surface as sentinels
    (-1), not NULL drops, so label cardinality is provably preserved."""
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click", "view")
        & F.col("ts").isNotNull()
    )
    tagged = e.select(
        "user_id",
        "ts",
        "event_id",
        (F.col("event_type") == "purchase").cast("int").alias("is_label"),
        (F.col("event_type") == "click").cast("int").alias("is_click"),
        F.when(F.col("event_type") == "view", F.col("value")).alias(
            "view_value"
        ),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    feat = tagged.select(
        "user_id",
        "ts",
        "event_id",
        "is_label",
        F.coalesce(F.sum("is_click").over(w), F.lit(0)).alias(
            "clicks_before"
        ),
        F.last("view_value", ignorenulls=True).over(w).alias(
            "last_view_value"
        ),
    )
    return (
        feat.filter(F.col("is_label") == 1)
        .select(
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "label_ts"
            ),
            F.col("clicks_before").cast("long").alias("clicks_before"),
            F.round(F.coalesce(F.col("last_view_value"), F.lit(-1.0)), 2).alias(
                "last_view_value"
            ),
            "event_id",
        )
        .orderBy("user_id", "label_ts", "event_id")
        .drop("event_id")
    )

# ---------------------------------------------------------------------------
# agg_ohlc_bars (round-7+ registration queue, tranche 53)
# ---------------------------------------------------------------------------

AGG_OHLC_BARS_ORACLE = f"""
    WITH ordered AS (
      SELECT date_trunc('hour', ts) AS bar, value,
             printf('%020d%012d', CAST(epoch_us(ts) AS BIGINT), event_id)
               AS ord
      FROM events
      WHERE event_type = 'purchase' AND ts IS NOT NULL AND value IS NOT NULL
    )
    SELECT strftime(bar, '%Y-%m-%d %H:%M:%S') AS bar_start,
           CAST(count(*) AS BIGINT) AS n_trades,
           {money_sql("min_by(value, ord)")} AS open,
           {money_sql("max(value)")} AS high,
           {money_sql("min(value)")} AS low,
           {money_sql("max_by(value, ord)")} AS close
    FROM ordered
    GROUP BY bar
    ORDER BY bar_start
"""


@op("agg_ohlc_bars", oracle=AGG_OHLC_BARS_ORACLE, tags=('agg', 'extra'))
def agg_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick resampling — the telemetry/market-data staple:
    per hourly bar, the first (open) and last (close) value on the
    (ts, event_id) total order plus the high/low extremes. open/close
    are partial-aggregating argmin/argmax over a composite order key
    (min_by/max_by on a (ts, event_id) struct — the
    join_geo_nearest_broadcast rule: never a per-bar sort window when an
    argmin does), so the whole op is ONE hash aggregation with map-side
    combine — the cheapest possible shape for billions of ticks."""
    # a tick needs both a time and a price: NULL-ts rows take divergent
    # window positions (class 8) and min_by/max_by NULL handling differs
    e = load(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase")
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    )
    # composite order as a zero-padded sortable string: min_by/max_by on
    # both engines take scalar keys only (DuckDB 1.0 rejects ROW keys)
    key = F.format_string(
        "%020d%012d", F.unix_micros("ts"), F.col("event_id")
    )
    return (
        e.groupBy(F.date_trunc("hour", "ts").alias("bar"))
        .agg(
            F.count("*").cast("long").alias("n_trades"),
            # money(): argmin/argmax/min/max agree on the RAW doubles; the
            # 2dp emit must not re-round extremes (DuckDB drifts a ULP)
            # nor sign the zero on denormals
            money(F.min_by("value", key)).alias("open"),
            money(F.max("value")).alias("high"),
            money(F.min("value")).alias("low"),
            money(F.max_by("value", key)).alias("close"),
        )
        .select(
            F.date_format("bar", "yyyy-MM-dd HH:mm:ss").alias("bar_start"),
            "n_trades",
            "open",
            "high",
            "low",
            "close",
        )
        .orderBy("bar_start")
    )


# ---------------------------------------------------------------------------
# dq_cross_table_reconciliation (round-7+ registration queue, tranche 53)
# ---------------------------------------------------------------------------

DQ_CROSS_TABLE_RECONCILIATION_ORACLE = f"""
    WITH li AS (
      SELECT l_orderkey AS okey,
             CAST(count(*) AS BIGINT) AS n_lines,
             (CASE WHEN abs(CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE)) < 1e12 THEN CAST(round(CAST(CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE) AS DECIMAL(18,6)), 2) AS DOUBLE) ELSE CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE) END) AS lines_total
      FROM lineitem GROUP BY l_orderkey
    ), o AS (
      SELECT o_orderkey AS okey,
             round(o_totalprice, 2) AS order_total
      FROM orders
    ), joined AS (
      SELECT coalesce(o.okey, li.okey) AS okey,
             o.order_total, li.n_lines, li.lines_total,
             CASE WHEN o.okey IS NULL THEN 'orphan_lines'
                  WHEN li.okey IS NULL THEN 'order_without_lines'
                  WHEN abs(o.order_total - li.lines_total) > 0.01
                    THEN 'amount_mismatch'
                  ELSE 'reconciled' END AS status
      FROM o FULL OUTER JOIN li ON li.okey = o.okey
    )
    SELECT status,
           CAST(count(*) AS BIGINT) AS n,
           -- the SUMMAND carries the well-scaled contract (a surviving
           -- extreme/Inf amount is classification input, not money — its
           -- raw sum is fold-order-visible and non-ANSI Spark NULLs it
           -- through the decimal cast while DuckDB passes it through)
           {money_sql("sum(" + finite_sql("coalesce(order_total, lines_total)") + ")", 2, 6)} AS amount
    FROM joined
    GROUP BY status
    ORDER BY status
"""


@op("dq_cross_table_reconciliation", oracle=DQ_CROSS_TABLE_RECONCILIATION_ORACLE, tags=('governance', 'extra'))
def dq_cross_table_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table reconciliation — the warehouse audit every finance /
    billing pipeline runs before publishing: roll lineitem up to order
    grain and FULL-OUTER join against the orders header, classifying
    every key as reconciled / amount_mismatch / order_without_lines /
    orphan_lines, with the money totals per class. (The synthetic
    fixture's headers aren't derived from its lines, so mismatches are
    EXPECTED here — the op's value is the classification algebra, which
    the oracle pins exactly.)

    Plan: one partial agg collapses the big side to order grain FIRST
    (the collapse-then-join rule — never join raw line rows to headers),
    then one co-partitioned full-outer join on the shared key and an
    O(classes) rollup. Both shuffles key on okey; at scale, bucketing
    both tables by order key makes the join exchange-free."""
    li = load(spark, sf_dir, "lineitem").groupBy(
        F.col("l_orderkey").alias("okey")
    ).agg(
        F.count("*").cast("long").alias("n_lines"),
        # guarded: a NaN roll-up must SURVIVE to the comparison (NaN > 0.01
        # is true in both engines → amount_mismatch), not NULL out into
        # the 'reconciled' branch through the decimal cast
        money(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2, 6)
        .alias("lines_total"),
    )
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"),
        F.round("o_totalprice", 2).alias("order_total"),
        F.lit(1).alias("o_side"),
    )
    # classify on SIDE PRESENCE, not total-is-null: an order whose total
    # is NULL is still an order (the oracle keys on o.okey IS NULL)
    joined = o.join(li.withColumn("li_side", F.lit(1)), "okey", "full_outer").select(
        F.when(F.col("o_side").isNull(), "orphan_lines")
        .when(F.col("li_side").isNull(), "order_without_lines")
        .when(
            F.abs(F.col("order_total") - F.col("lines_total")) > 0.01,
            "amount_mismatch",
        )
        .otherwise("reconciled")
        .alias("status"),
        F.coalesce("order_total", "lines_total").alias("amount"),
    )
    return (
        joined.groupBy("status")
        .agg(
            F.count("*").cast("long").alias("n"),
            money(F.sum(finite(F.col("amount"))), 2, 6).alias("amount"),
        )
        .orderBy("status")
    )

# ---------------------------------------------------------------------------
# agg_rfm_segmentation (round-7+ registration queue, tranche 54)
# ---------------------------------------------------------------------------

AGG_RFM_SEGMENTATION_ORACLE = """
    WITH anchor AS (
      SELECT max(ts) AS now FROM events
      WHERE event_type = 'purchase' AND ts IS NOT NULL AND value IS NOT NULL
        AND user_id IS NOT NULL
    ), per_user AS (
      SELECT user_id,
             CAST(floor(epoch((SELECT now FROM anchor))) -
                  floor(epoch(max(ts))) AS BIGINT) AS recency_s,
             CAST(count(*) AS BIGINT) AS frequency,
             CAST(round(CAST(sum((CASE WHEN abs(CAST(value AS DOUBLE)) < 1e12 THEN CAST(value AS DOUBLE) END)) AS DECIMAL(18,6)), 2) AS DOUBLE)
               AS monetary
      FROM events
      WHERE event_type = 'purchase' AND ts IS NOT NULL AND value IS NOT NULL
        AND user_id IS NOT NULL
      GROUP BY user_id
    ), scored AS (
      SELECT user_id, recency_s, frequency, monetary,
             ntile(5) OVER (ORDER BY recency_s DESC, user_id) AS r,
             ntile(5) OVER (ORDER BY frequency ASC, user_id) AS f,
             ntile(5) OVER (ORDER BY monetary ASC, user_id) AS m
      FROM per_user
    )
    SELECT user_id, recency_s, frequency, monetary,
           CAST(r AS BIGINT) AS r, CAST(f AS BIGINT) AS f,
           CAST(m AS BIGINT) AS m,
           CAST(r * 100 + f * 10 + m AS BIGINT) AS rfm_code,
           CASE WHEN r >= 4 AND f >= 4 AND m >= 4 THEN 'champion'
                WHEN r <= 2 AND f >= 4 THEN 'at_risk_loyal'
                WHEN r >= 4 AND f <= 2 THEN 'new_promising'
                WHEN r <= 2 AND f <= 2 AND m <= 2 THEN 'hibernating'
                ELSE 'core' END AS segment
    FROM scored
    ORDER BY user_id
"""


@op("agg_rfm_segmentation", oracle=AGG_RFM_SEGMENTATION_ORACLE, tags=('agg', 'extra'))
def agg_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — the canonical CRM analysis: per user,
    Recency (seconds since last purchase, anchored at the corpus max
    timestamp so the op is replayable), Frequency (purchase count) and
    Monetary (decimal-exact spend), each quintile-scored with ntile(5)
    on a DETERMINISTIC total order (metric + user_id tie-break — without
    the tie-break, ntile's boundary rows are engine-dependent), then
    mapped to the marketing segments (champion / at-risk-loyal /
    new-promising / hibernating / core).

    Plan: the corpus collapses to O(users) in one partial agg; the three
    quintile windows share that tiny table (global windows over O(users)
    rows — at true scale swap ntile for approx-percentile boundary
    broadcast, the feature_quantile_bucketize trade documented there).
    Whole-second recency per the house epoch rule."""
    # purchases missing a timestamp or amount are incomplete records —
    # excluded both sides (a NULL metric would also take the class-8
    # divergent ntile slot)
    e = load(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase")
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
        # an unattributable purchase can't be segmented — and a NULL
        # user_id in the ntile TIE-BREAK is itself a class-8 divergence
        & F.col("user_id").isNotNull()
    )
    anchor = e.agg(F.max("ts").alias("now"))
    per_user = (
        e.crossJoin(F.broadcast(anchor))
        .groupBy("user_id")
        .agg(
            (
                F.floor(F.unix_timestamp(F.first("now")))
                - F.floor(F.unix_timestamp(F.max("ts")))
            )
            .cast("long")
            .alias("recency_s"),
            F.count("*").cast("long").alias("frequency"),
            # finite spend only (class-B): a NaN monetary would NULL out
            # through the decimal cast and take a class-8 ntile slot
            money(F.sum(finite(F.col("value"))), 2, 6).alias("monetary"),
        )
    )
    r = F.ntile(5).over(W.orderBy(F.desc("recency_s"), "user_id"))
    f = F.ntile(5).over(W.orderBy(F.asc("frequency"), "user_id"))
    m = F.ntile(5).over(W.orderBy(F.asc("monetary"), "user_id"))
    scored = per_user.select(
        "user_id",
        "recency_s",
        "frequency",
        "monetary",
        r.cast("long").alias("r"),
        f.cast("long").alias("f"),
        m.cast("long").alias("m"),
    )
    return scored.select(
        "*",
        (F.col("r") * 100 + F.col("f") * 10 + F.col("m"))
        .cast("long")
        .alias("rfm_code"),
        F.when(
            (F.col("r") >= 4) & (F.col("f") >= 4) & (F.col("m") >= 4),
            "champion",
        )
        .when((F.col("r") <= 2) & (F.col("f") >= 4), "at_risk_loyal")
        .when((F.col("r") >= 4) & (F.col("f") <= 2), "new_promising")
        .when(
            (F.col("r") <= 2) & (F.col("f") <= 2) & (F.col("m") <= 2),
            "hibernating",
        )
        .otherwise("core")
        .alias("segment"),
    ).orderBy("user_id")

# ---------------------------------------------------------------------------
# agg_abc_pareto_analysis (round-7+ registration queue, tranche 55)
# ---------------------------------------------------------------------------

AGG_ABC_PARETO_ORACLE = """
    WITH rev AS (
      SELECT p.p_partkey,
             (CASE WHEN abs(CAST(sum((CASE WHEN abs(CAST(l.l_extendedprice * (1 - l.l_discount) AS DOUBLE)) < 1e12 THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS DOUBLE) END)) AS DOUBLE)) < 1e12 THEN CAST(round(CAST(CAST(sum((CASE WHEN abs(CAST(l.l_extendedprice * (1 - l.l_discount) AS DOUBLE)) < 1e12 THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS DOUBLE) END)) AS DOUBLE) AS DECIMAL(18,6)), 2) AS DOUBLE) ELSE CAST(sum((CASE WHEN abs(CAST(l.l_extendedprice * (1 - l.l_discount) AS DOUBLE)) < 1e12 THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS DOUBLE) END)) AS DOUBLE) END) AS revenue
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY p.p_partkey
    ), tot AS (
      SELECT (CASE WHEN abs(CAST(sum(revenue) AS DOUBLE)) < 1e12 THEN CAST(round(CAST(CAST(sum(revenue) AS DOUBLE) AS DECIMAL(18,6)), 2) AS DOUBLE) ELSE CAST(sum(revenue) AS DOUBLE) END)
               AS t
      FROM rev
    ), ranked AS (
      SELECT p_partkey, revenue,
             sum(revenue) OVER (ORDER BY revenue DESC, p_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev
      FROM rev
    )
    SELECT p_partkey, revenue,
           round(cum_rev / (SELECT t FROM tot), 4) AS cum_share,
           CASE WHEN round(cum_rev / (SELECT t FROM tot), 4) <= 0.8
                  THEN 'A'
                WHEN round(cum_rev / (SELECT t FROM tot), 4) <= 0.95
                  THEN 'B'
                ELSE 'C' END AS abc_class
    FROM ranked
    ORDER BY revenue DESC, p_partkey
"""


@op("agg_abc_pareto_analysis", oracle=AGG_ABC_PARETO_ORACLE, tags=('agg', 'extra'))
def agg_abc_pareto_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification — the 80/20 inventory-and-revenue
    analysis every merchandising team runs: parts ranked by revenue,
    cumulative share computed over the descending order, class A up to
    80% of revenue, B to 95%, C the tail. The class boundary compares
    the ROUNDED share on both engines so no part can straddle a class
    on a last-ulp difference.

    Plan: the big join collapses to O(parts) revenue rows first (one
    partial agg over the fact table), so the ranking window runs on the
    dimension-sized table — at catalog scale, a two-phase top-k
    (per-salt winners then global) replaces the single sort, exactly the
    sample_reservoir_per_group escape hatch."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    rev = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_partkey")
        .agg(
            F.expr(
                "CAST(round(CAST(sum((CASE WHEN abs(CAST(l_extendedprice * (1 - l_discount) AS DOUBLE)) < 1e12 THEN CAST(l_extendedprice * (1 - l_discount) AS DOUBLE) END))"
                " AS DECIMAL(18,6)), 2) AS DOUBLE)"
            ).alias("revenue")
        )
    )
    tot = rev.agg(
        F.expr(
            "(CASE WHEN abs(CAST(sum(revenue) AS DOUBLE)) < 1e12 THEN CAST(round(CAST(CAST(sum(revenue) AS DOUBLE) AS DECIMAL(18,6)), 2) AS DOUBLE) ELSE CAST(sum(revenue) AS DOUBLE) END)"
        ).alias("t")
    )
    w = W.orderBy(F.desc("revenue"), "p_partkey").rowsBetween(
        W.unboundedPreceding, 0
    )
    share = F.round(F.sum("revenue").over(w) / F.col("t"), 4)
    return (
        rev.crossJoin(F.broadcast(tot))
        .select(
            "p_partkey",
            "revenue",
            share.alias("cum_share"),
            F.when(share <= 0.8, "A")
            .when(share <= 0.95, "B")
            .otherwise("C")
            .alias("abc_class"),
        )
        .orderBy(F.desc("revenue"), "p_partkey")
    )


# ---------------------------------------------------------------------------
# stat_power_sample_size (round-7+ registration queue, tranche 55)
# ---------------------------------------------------------------------------

STAT_POWER_SAMPLE_SIZE_ORACLE = """
    WITH base AS (
      SELECT CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS DOUBLE)
             / sum(CASE WHEN event_type IN ('view', 'purchase')
                        THEN 1 ELSE 0 END) AS p0
      FROM events
    ), grid AS (
      SELECT unnest([0.01, 0.02, 0.05]) AS mde
    )
    SELECT round(p0, 6) AS baseline_rate, mde,
           CAST(ceil(
             power(1.959964 * sqrt(2 * p0 * (1 - p0))
                   + 0.841621 * sqrt(p0 * (1 - p0)
                       + (p0 + mde) * (1 - p0 - mde)), 2)
             / (mde * mde)) AS BIGINT) AS n_per_arm
    FROM base CROSS JOIN grid
    ORDER BY mde
"""


@op("stat_power_sample_size", oracle=STAT_POWER_SAMPLE_SIZE_ORACLE, tags=('stat', 'extra'))
def stat_power_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment-design sample-size calculator — the planning half of
    the A/B toolkit (fn_ab_test_proportions tests AFTER the fact; this
    says how long to run): for the measured baseline conversion rate
    p₀ = purchases / (views + purchases) and a grid of minimum
    detectable effects, the classic two-proportion formula
    n = (z_{α/2}·√(2p̄q̄) + z_β·√(p₀q₀ + p₁q₁))² / Δ² at α = 0.05,
    power = 0.80 (z constants inlined to 6dp so both engines compute
    the identical closed form).

    Plan: ONE conditional-agg scan measures p₀; the grid is a 3-row
    broadcast; everything after is 1-row arithmetic — the op exists to
    make experiment sizing a governed, replayable query instead of a
    notebook constant."""
    e = load(spark, sf_dir, "events")
    base = e.agg(
        (
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("double")
            / F.sum(
                F.when(
                    F.col("event_type").isin("view", "purchase"), 1
                ).otherwise(0)
            )
        ).alias("p0")
    )
    grid = spark.createDataFrame(
        [(0.01,), (0.02,), (0.05,)], "mde double"
    )
    p0, mde = F.col("p0"), F.col("mde")
    n = F.ceil(
        F.pow(
            F.lit(1.959964) * F.sqrt(2 * p0 * (1 - p0))
            + F.lit(0.841621)
            * F.sqrt(p0 * (1 - p0) + (p0 + mde) * (1 - p0 - mde)),
            2,
        )
        / (mde * mde)
    ).cast("long")
    return (
        base.crossJoin(F.broadcast(grid))
        .select(
            F.round(p0, 6).alias("baseline_rate"),
            "mde",
            n.alias("n_per_arm"),
        )
        .orderBy("mde")
    )

# ---------------------------------------------------------------------------
# stat_fdr_benjamini_hochberg (round-7+ registration queue, tranche 58)
# ---------------------------------------------------------------------------

_FDR_ALPHA = 0.10
# Abramowitz & Stegun 26.2.17 upper-tail normal probability — identical
# literal text on both engines (neither ships erf in SQL); |err| < 7.5e-8.
_NORM_SF = (
    "(exp(-(Z) * (Z) / 2) / 2.5066282746310002"
    " * ((((1.330274429 * T - 1.821255978) * T + 1.781477937) * T"
    " - 0.356563782) * T + 0.319381530) * T)"
)


def _norm_sf_sql(z_expr: str) -> str:
    t = f"(1.0 / (1.0 + 0.2316419 * {z_expr}))"
    return _NORM_SF.replace("T", t).replace("Z", z_expr)


STAT_FDR_BH_ORACLE = f"""
    WITH cents AS (
      SELECT c_nationkey, CAST(round((CASE WHEN abs(CAST(c_acctbal AS DOUBLE)) < 1e12 THEN CAST(c_acctbal AS DOUBLE) END), 2) AS DECIMAL(18,2)) AS x
      FROM customer
    ), gstats AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS DOUBLE) / count(*) AS mu,
             sqrt((CAST(sum(x * x) AS DOUBLE)
                   - CAST(sum(x) AS DOUBLE) * sum(x) / count(*))
                  / (count(*) - 1)) AS sigma
      FROM cents
    ), grp AS (
      SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_g,
             CAST(sum(x) AS DOUBLE) / count(*) AS mean_g
      FROM cents GROUP BY c_nationkey
    ), tests AS (
      SELECT c_nationkey, n_g,
             round(abs(mean_g - (SELECT mu FROM gstats))
                   / ((SELECT sigma FROM gstats) / sqrt(n_g)), 6) AS abs_z
      FROM grp
    ), pvals AS (
      SELECT c_nationkey, n_g, abs_z,
             round(2 * {_norm_sf_sql("abs_z")}, 6) AS p
      FROM tests
    ), ranked AS (
      SELECT c_nationkey, n_g, abs_z, p,
             row_number() OVER (ORDER BY p, c_nationkey) AS rk,
             count(*) OVER () AS m
      FROM pvals
    ), cutoff AS (
      SELECT coalesce(max(rk), 0) AS k
      FROM ranked WHERE p <= rk * {_FDR_ALPHA} / m
    )
    SELECT c_nationkey, CAST(n_g AS BIGINT) AS n_g, abs_z, p,
           CAST(rk AS BIGINT) AS rk,
           rk <= (SELECT k FROM cutoff) AS rejected
    FROM ranked
    ORDER BY rk
"""


@op("stat_fdr_benjamini_hochberg", oracle=STAT_FDR_BH_ORACLE, tags=('stat', 'extra'))
def stat_fdr_benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control — the multiple-testing correction
    the experimentation suite needs once it runs MANY tests at once
    (25 per-nation mean-vs-global z-tests here; a metrics platform runs
    thousands): p-values sorted ascending, reject hypotheses 1..k for
    the largest k with p_k ≤ k·α/m. Naive per-test α would
    false-positive ~α·m times; BH caps the FALSE DISCOVERY RATE at α.

    Neither engine ships erf in SQL, so the upper-tail normal
    probability is the Abramowitz-Stegun 26.2.17 polynomial as ONE
    shared literal (|err| < 7.5e-8, rounded at 6dp on both sides) —
    the portable-special-function pattern alongside the house portable
    hash. Plan: cents-decimal global moments (1 row) + per-group means
    (O(groups)), then the BH step is two windows over the O(m) p-value
    table."""
    c = load(spark, sf_dir, "customer")
    cents = c.select(
        "c_nationkey", F.round(finite(F.col("c_acctbal")), 2).cast("decimal(18,2)").alias("x")
    )
    glob = cents.agg(
        F.count("*").alias("n"),
        (F.sum("x").cast("double") / F.count("*")).alias("mu"),
        F.sqrt(
            (
                F.sum(F.col("x") * F.col("x")).cast("double")
                - F.sum("x").cast("double") * F.sum("x") / F.count("*")
            )
            / (F.count("*") - 1)
        ).alias("sigma"),
    )
    grp = cents.groupBy("c_nationkey").agg(
        F.count("*").alias("n_g"),
        (F.sum("x").cast("double") / F.count("*")).alias("mean_g"),
    )
    tests = grp.crossJoin(F.broadcast(glob)).select(
        "c_nationkey",
        "n_g",
        F.round(
            F.abs(F.col("mean_g") - F.col("mu"))
            / (F.col("sigma") / F.sqrt(F.col("n_g"))),
            6,
        ).alias("abs_z"),
    )
    pvals = tests.withColumn(
        "p", F.round(F.expr(f"2 * {_norm_sf_sql('abs_z')}"), 6)
    )
    w_rk = W.orderBy("p", "c_nationkey")
    ranked = pvals.select(
        "c_nationkey",
        F.col("n_g").cast("long").alias("n_g"),
        "abs_z",
        "p",
        F.row_number().over(w_rk).alias("rk"),
        F.count("*").over(W.partitionBy()).alias("m"),
    )
    cutoff = ranked.filter(
        F.col("p") <= F.col("rk") * _FDR_ALPHA / F.col("m")
    ).agg(F.coalesce(F.max("rk"), F.lit(0)).alias("k"))
    return (
        ranked.crossJoin(F.broadcast(cutoff))
        .select(
            "c_nationkey",
            "n_g",
            "abs_z",
            "p",
            F.col("rk").cast("long").alias("rk"),
            (F.col("rk") <= F.col("k")).alias("rejected"),
        )
        .orderBy("rk")
    )

# ---------------------------------------------------------------------------
# win_vwap_bars (round-7+ registration queue, tranche 58)
# ---------------------------------------------------------------------------

WIN_VWAP_BARS_ORACLE = """
    WITH trades AS (
      SELECT date_trunc('hour', ts) AS bar,
             CAST(round((CASE WHEN abs(CAST(value AS DOUBLE)) < 1e12 THEN CAST(value AS DOUBLE) END), 2) AS DECIMAL(18,2)) AS px,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS vol
      FROM events WHERE event_type = 'purchase'
    )
    SELECT strftime(bar, '%Y-%m-%d %H:%M:%S') AS bar_start,
           CAST(count(*) AS BIGINT) AS n_trades,
           CAST(sum(vol) AS BIGINT) AS volume,
           (CASE WHEN abs(CAST(CAST(sum(px * vol) AS DOUBLE)
                / nullif(sum(vol), 0) AS DOUBLE)) < 1e9 THEN CAST(round(CAST(CAST(CAST(sum(px * vol) AS DOUBLE)
                / nullif(sum(vol), 0) AS DOUBLE) AS DECIMAL(18,9)), 4) AS DOUBLE) ELSE CAST(CAST(sum(px * vol) AS DOUBLE)
                / nullif(sum(vol), 0) AS DOUBLE) END)
             AS vwap,
           (CASE WHEN abs(CAST(CAST(sum(px) AS DOUBLE) / count(*) AS DOUBLE)) < 1e9 THEN CAST(round(CAST(CAST(CAST(sum(px) AS DOUBLE) / count(*) AS DOUBLE) AS DECIMAL(18,9)), 4) AS DOUBLE) ELSE CAST(CAST(sum(px) AS DOUBLE) / count(*) AS DOUBLE) END) AS twap
    FROM trades
    GROUP BY bar
    ORDER BY bar_start
"""


@op("win_vwap_bars", oracle=WIN_VWAP_BARS_ORACLE, tags=('window', 'extra'))
def win_vwap_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-weighted vs time-weighted average price per hourly bar —
    the execution-quality benchmark pair (VWAP is what brokers are
    measured against; TWAP is the unweighted sibling; their spread
    flags volume-concentrated price moves). Volume rides the events
    payload (props.k via the VARIANT-less JSON path, so the op also
    exercises typed JSON extraction inside an aggregate).

    Exactness: price collapses to cents DECIMAL and volume is BIGINT,
    so Σ(px·vol) and Σvol are exact order-independent partials; the two
    divisions are the only IEEE steps, sandwiched at 4dp. ONE hash agg
    with map-side combine — same cheapest-possible shape as
    agg_ohlc_bars; zero-volume bars yield NULL vwap via nullif."""
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    trades = e.select(
        F.date_trunc("hour", "ts").alias("bar"),
        F.round(finite(F.col("value")), 2).cast("decimal(18,2)").alias("px"),
        F.get_json_object("props", "$.k").cast("long").alias("vol"),
    )
    return (
        trades.groupBy("bar")
        .agg(
            F.count("*").cast("long").alias("n_trades"),
            F.sum("vol").cast("long").alias("volume"),
            F.expr(
                "CAST(round(CAST(CAST(sum(px * vol) AS DOUBLE)"
                " / nullif(sum(vol), 0) AS DECIMAL(18,9)), 4) AS DOUBLE)"
            ).alias("vwap"),
            F.expr(
                "CAST(round(CAST(CAST(sum(px) AS DOUBLE) / count(*)"
                " AS DECIMAL(18,9)), 4) AS DOUBLE)"
            ).alias("twap"),
        )
        .select(
            F.date_format("bar", "yyyy-MM-dd HH:mm:ss").alias("bar_start"),
            "n_trades",
            "volume",
            "vwap",
            "twap",
        )
        .orderBy("bar_start")
    )

# ---------------------------------------------------------------------------
# agg_causal_diff_in_diff (round-7+ registration queue, tranche 59)
# ---------------------------------------------------------------------------

_DID_SPLIT_TS = "2024-01-16 00:00:00"

AGG_CAUSAL_DIFF_IN_DIFF_ORACLE = f"""
    WITH tagged AS (
      SELECT CASE WHEN ((user_id % 2147483648) * 2654435761) % 4294967296
                       % 100 < 50 THEN 'treat' ELSE 'control' END AS grp,
             CASE WHEN ts < TIMESTAMP '{_DID_SPLIT_TS}'
                  THEN 'pre' ELSE 'post' END AS period,
             CAST(round((CASE WHEN abs(CAST(value AS DOUBLE)) < 1e12 THEN CAST(value AS DOUBLE) END), 2) AS DECIMAL(18,2)) AS x
      FROM events WHERE event_type = 'purchase'
    ), cells AS (
      SELECT grp, period, CAST(count(*) AS BIGINT) AS n,
             (CASE WHEN abs(CAST(CAST(sum(x) AS DOUBLE) / count(*) AS DOUBLE)) < 1e9 THEN CAST(round(CAST(CAST(CAST(sum(x) AS DOUBLE) / count(*) AS DOUBLE) AS DECIMAL(18,9)), 6) AS DOUBLE) ELSE CAST(CAST(sum(x) AS DOUBLE) / count(*) AS DOUBLE) END) AS mean
      FROM tagged GROUP BY grp, period
    ), wide AS (
      SELECT
        max(CASE WHEN grp = 'treat' AND period = 'pre' THEN mean END) AS tp,
        max(CASE WHEN grp = 'treat' AND period = 'post' THEN mean END) AS tq,
        max(CASE WHEN grp = 'control' AND period = 'pre' THEN mean END) AS cp,
        max(CASE WHEN grp = 'control' AND period = 'post' THEN mean END) AS cq
      FROM cells
    )
    SELECT c.grp, c.period, c.n, c.mean,
           round((w.tq - w.tp) - (w.cq - w.cp), 6) AS did_estimate
    FROM cells c CROSS JOIN wide w
    ORDER BY c.grp, c.period
"""


@op("agg_causal_diff_in_diff", oracle=AGG_CAUSAL_DIFF_IN_DIFF_ORACLE, tags=('agg', 'extra'))
def agg_causal_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences — the workhorse causal estimator when
    randomization isn't available: with a hash-assigned treatment cohort
    and a calendar split, the effect is (T_post − T_pre) −
    (C_post − C_pre), which cancels both the group-level baseline gap
    and the common time trend (the parallel-trends assumption is the
    price). On this synthetic feed the true effect is ~0 — the honest
    placebo read, exactly what a pre-launch A/A DiD should show.

    The 2×2 cell means come from ONE conditional partial agg over exact
    cents sums; the estimate is closed-form arithmetic on the four
    cells. Assignment is the house knuth bucket, so the cohort is
    replayable and the oracle regenerates it."""
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    grp = F.when(
        (
            (F.col("user_id") % F.lit(2147483648))
            * F.lit(2654435761)
            % F.lit(4294967296)
        )
        % 100
        < 50,
        "treat",
    ).otherwise("control")
    period = F.when(
        F.col("ts") < F.lit(_DID_SPLIT_TS).cast("timestamp"), "pre"
    ).otherwise("post")
    tagged = e.select(
        grp.alias("grp"),
        period.alias("period"),
        F.round(finite(F.col("value")), 2).cast("decimal(18,2)").alias("x"),
    )
    cells = tagged.groupBy("grp", "period").agg(
        F.count("*").alias("n"),
        F.expr(
            "CAST(round(CAST(CAST(sum(x) AS DOUBLE) / count(*)"
            " AS DECIMAL(18,9)), 6) AS DOUBLE)"
        ).alias("mean"),
    )
    wide = cells.agg(
        F.max(
            F.when(
                (F.col("grp") == "treat") & (F.col("period") == "pre"),
                F.col("mean"),
            )
        ).alias("tp"),
        F.max(
            F.when(
                (F.col("grp") == "treat") & (F.col("period") == "post"),
                F.col("mean"),
            )
        ).alias("tq"),
        F.max(
            F.when(
                (F.col("grp") == "control") & (F.col("period") == "pre"),
                F.col("mean"),
            )
        ).alias("cp"),
        F.max(
            F.when(
                (F.col("grp") == "control") & (F.col("period") == "post"),
                F.col("mean"),
            )
        ).alias("cq"),
    )
    return (
        cells.crossJoin(F.broadcast(wide))
        .select(
            "grp",
            "period",
            F.col("n").cast("long").alias("n"),
            "mean",
            F.round(
                (F.col("tq") - F.col("tp")) - (F.col("cq") - F.col("cp")), 6
            ).alias("did_estimate"),
        )
        .orderBy("grp", "period")
    )


# ---------------------------------------------------------------------------
# agg_cuped_variance_reduction (round-7+ registration queue, tranche 59)
# ---------------------------------------------------------------------------

AGG_CUPED_ORACLE = f"""
    WITH per_user AS (
      SELECT user_id,
             CAST(sum(CASE WHEN ts < TIMESTAMP '{_DID_SPLIT_TS}'
                  THEN CAST(round((CASE WHEN abs(CAST(value AS DOUBLE)) < 1e12 THEN CAST(value AS DOUBLE) END), 2) AS DECIMAL(18,2)) END)
                  AS DOUBLE) AS x,
             CAST(sum(CASE WHEN ts >= TIMESTAMP '{_DID_SPLIT_TS}'
                  THEN CAST(round((CASE WHEN abs(CAST(value AS DOUBLE)) < 1e12 THEN CAST(value AS DOUBLE) END), 2) AS DECIMAL(18,2)) END)
                  AS DOUBLE) AS y
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id
      HAVING x IS NOT NULL AND y IS NOT NULL
    ), moments AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
      FROM per_user
    )
    SELECT n,
           round((sxy - sx * sy / n) / nullif(sxx - sx * sx / n, 0), 6)
             AS theta,
           round((syy - sy * sy / n) / (n - 1), 4) AS var_y,
           round(((syy - sy * sy / n)
                  - power(sxy - sx * sy / n, 2)
                    / nullif(sxx - sx * sx / n, 0)) / (n - 1), 4)
             AS var_y_cuped,
           round(1 - ((syy - sy * sy / n)
                      - power(sxy - sx * sy / n, 2)
                        / nullif(sxx - sx * sx / n, 0))
                     / nullif(syy - sy * sy / n, 0), 4) AS var_reduction
    FROM moments
"""


@op("agg_cuped_variance_reduction", oracle=AGG_CUPED_ORACLE, tags=('agg', 'extra'))
def agg_cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Controlled-experiment Using Pre-Experiment Data) — the
    industry-standard variance-reduction trick that shortens A/B tests:
    adjust each user's experiment-period metric by θ·(pre-period
    covariate − its mean) with θ = cov(X,Y)/var(X); the adjusted
    variance drops by exactly the squared correlation, var(Y′) =
    var(Y)(1 − ρ²) — reported here as the realized reduction a platform
    would bank as faster experiments. Pairs with stat_power_sample_size:
    the reduction feeds directly into the n-per-arm formula.

    Plan: ONE per-user conditional agg builds the (pre X, post Y)
    panel, one reduce collects the five moment sums (cents-decimal →
    exact), θ and the variances are closed-form; degenerate zero-
    variance covariates yield NULL via nullif."""
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    split = F.lit(_DID_SPLIT_TS).cast("timestamp")
    cents = F.round(finite(F.col("value")), 2).cast("decimal(18,2)")
    per_user = (
        e.groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("ts") < split, cents))
            .cast("double")
            .alias("x"),
            F.sum(F.when(F.col("ts") >= split, cents))
            .cast("double")
            .alias("y"),
        )
        .filter(F.col("x").isNotNull() & F.col("y").isNotNull())
    )
    m = per_user.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    cxx = F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    cxy = F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")
    cyy = F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")
    resid = cyy - cxy * cxy / F.nullif(cxx, F.lit(0.0))
    return m.select(
        F.col("n").cast("long").alias("n"),
        F.round(cxy / F.nullif(cxx, F.lit(0.0)), 6).alias("theta"),
        F.round(cyy / (F.col("n") - 1), 4).alias("var_y"),
        F.round(resid / (F.col("n") - 1), 4).alias("var_y_cuped"),
        F.round(1 - resid / F.nullif(cyy, F.lit(0.0)), 4).alias(
            "var_reduction"
        ),
    )

# ---------------------------------------------------------------------------
# ts_kalman_filter_1d (round-7+ registration queue, tranche 60)
# ---------------------------------------------------------------------------

KALMAN_Q, KALMAN_R = 1.0, 4.0

# The gain-feeds-covariance recursion has no closed form, but a recursive
# CTE replays it exactly: the hourly counts are INTEGERS, so every input
# double is exact and the step arithmetic (written in the identical order
# as the Python kernel) is bit-identical on both engines — full hash-match
# with NO rounding sandwich needed. Depth = grid hours (~720 at any sf:
# the series collapses to O(hours) before the recursion on both sides).
TS_KALMAN_FILTER_1D_ORACLE = f"""
    WITH RECURSIVE
    hours AS (
      SELECT event_type,
             CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS h,
             count(*) AS y
      FROM events
      WHERE ts IS NOT NULL AND event_type IS NOT NULL
      GROUP BY 1, 2
    ),
    bounds AS (
      SELECT event_type, min(h) AS lo, max(h) AS hi FROM hours GROUP BY 1
    ),
    grid AS (
      SELECT event_type, unnest(generate_series(lo, hi, 3600)) AS h,
             unnest(generate_series(0, (hi - lo) // 3600, 1)) AS i
      FROM bounds
    ),
    gz AS (
      SELECT g.event_type, g.i, coalesce(CAST(hh.y AS DOUBLE), 0.0) AS z
      FROM grid g LEFT JOIN hours hh
        ON hh.event_type = g.event_type AND hh.h = g.h
    ),
    n AS (SELECT event_type, count(*) AS n_obs FROM gz GROUP BY 1),
    rec AS (
      SELECT event_type, CAST(0 AS BIGINT) AS i, z AS x,
             CAST(1.0 AS DOUBLE) AS p, CAST(0.0 AS DOUBLE) AS k,
             CAST(0.0 AS DOUBLE) AS abs_innov
      FROM gz WHERE i = 0
      UNION ALL
      SELECT t.event_type, t.i,
             t.x + t.k2 * t.innov,
             (1 - t.k2) * t.p_pred,
             t.k2,
             t.abs_innov + abs(t.innov)
      FROM (
        SELECT r.event_type, g.i, r.x, r.abs_innov,
               r.p + {KALMAN_Q} AS p_pred,
               (r.p + {KALMAN_Q}) / (r.p + {KALMAN_Q} + {KALMAN_R}) AS k2,
               g.z - r.x AS innov
        FROM rec r JOIN gz g ON g.event_type = r.event_type AND g.i = r.i + 1
      ) t
    )
    SELECT r.event_type,
           CAST(n.n_obs AS BIGINT) AS n_obs,
           round(r.x, 6) AS x_final,
           round(r.p, 6) AS p_final,
           round(r.k, 6) AS gain_final,
           round(r.abs_innov / greatest(n.n_obs - 1, 1), 4) AS innovation_mae
    FROM rec r JOIN n ON n.event_type = r.event_type AND r.i = n.n_obs - 1
"""


@op("ts_kalman_filter_1d", oracle=TS_KALMAN_FILTER_1D_ORACLE,
    tags=('timeseries', 'extra'))
def ts_kalman_filter_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Kalman filter (constant-level model, Q = process noise 1,
    R = observation noise 4) over each event type's dense hourly count
    series — the optimal online smoother under Gaussian noise, and the
    state-estimation primitive behind every tracking/denoising stack.
    Per step: predict P⁻ = P + Q; gain K = P⁻/(P⁻ + R); update
    x += K(z − x), P = (1 − K)P⁻. The covariance recursion is a Riccati
    iteration whose fixed point P* = (−Q + √(Q² + 4QR))/2 the filter
    must converge to regardless of data — asserted in the gate, the
    strongest kind of invariant (data-independent).

    Distributed shape: collapse to O(hours) per series (one partial
    agg), then the O(1)-state recursion per series in applyInPandas —
    sequential per key, parallel across keys (the CUSUM/Holt-Winters
    discipline). Emits final state, converged covariance/gain and the
    innovation MAE (the filter's residual signal)."""
    import numpy as np
    import pandas as pd

    # a series needs a time and a key: NULL-ts rows have no grid slot,
    # and the oracle's equi-joins on event_type drop a NULL series anyway
    e = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    series = e.groupBy(
        "event_type",
        F.floor(F.unix_timestamp(F.date_trunc("hour", F.col("ts")))).alias("h"),
    ).agg(F.count("*").alias("y"))

    def kalman(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("h")
        lo, hi = int(pdf["h"].min()), int(pdf["h"].max())
        grid = np.arange(lo, hi + 3600, 3600)
        z = pdf.set_index("h")["y"].reindex(grid, fill_value=0).to_numpy(float)
        x, p = float(z[0]), 1.0
        abs_innov = 0.0
        k = 0.0
        for obs in z[1:]:
            p_pred = p + KALMAN_Q
            k = p_pred / (p_pred + KALMAN_R)
            innov = obs - x
            abs_innov += abs(innov)
            x = x + k * innov
            p = (1 - k) * p_pred
        n = len(z)
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_obs": [n],
                "x_final": [round(x, 6)],
                "p_final": [round(p, 6)],
                "gain_final": [round(k, 6)],
                "innovation_mae": [round(abs_innov / max(n - 1, 1), 4)],
            }
        )

    return (
        series.groupBy("event_type")
        .applyInPandas(
            kalman,
            "event_type string, n_obs long, x_final double,"
            " p_final double, gain_final double, innovation_mae double",
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# fn_xml_roundtrip (round-6 session-7; windowed in rotation round 9)
# ---------------------------------------------------------------------------

FN_XML_ROUNDTRIP_ORACLE = """
    SELECT event_id,
           event_type AS xml_type,
           user_id AS xml_user,
           -- xpath_string returns '' (not NULL) when the element is
           -- absent — the regexp_extract no-match convention's XML twin
           coalesce(event_type, '') AS xp_type,
           -- to_xml's layout is fixed (newlines + 4-space indents) and
           -- OMITS null fields entirely:
           --   both:      <ev>/<event_type>T</..>/<user_id>N</..>/</ev>
           --              = 64 fixed chars + payload widths
           --   type only: 40 + len(T);  user only: 34 + len(N)
           --   both null: the self-closing '<ev/>' = 5
           CAST(CASE
                  WHEN event_type IS NOT NULL AND user_id IS NOT NULL
                    THEN 64 + length(event_type)
                         + length(CAST(user_id AS VARCHAR))
                  WHEN event_type IS NOT NULL THEN 40 + length(event_type)
                  WHEN user_id IS NOT NULL
                    THEN 34 + length(CAST(user_id AS VARCHAR))
                  ELSE 5
                END AS BIGINT) AS doc_len
    FROM events
"""


@op("fn_xml_roundtrip", oracle=FN_XML_ROUNDTRIP_ORACLE, tags=('fn', 'extra'))
def fn_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The XML function family (Spark 4: ``to_xml`` / ``from_xml`` /
    ``xpath_string``) exercised as a serialize → parse → extract round
    trip over every event row: struct → XML document → schema'd struct
    (from_xml) AND XPath point-query (xpath_string). XML remains a major
    ingest format (feeds, legacy enterprise dumps, SEC/PubMed corpora);
    the engine-relevant facts are that from_xml is a JVM-side generated
    parser (no Python in the loop, same whole-stage-codegen story as
    from_json) and that a malformed document degrades to NULL, not a
    task failure — both the opposite of the lxml-in-a-UDF pattern.

    The oracle replays the round trip as the identity on the source
    columns plus the serialized document LENGTH computed from to_xml's
    deterministic layout (fixed tags + indentation + payload widths) —
    pinning that the op genuinely serialized (a plain identity would
    pass even if to_xml emitted garbage that from_xml happened to
    invert).
    """
    ev = load(spark, sf_dir, "events")
    xml = ev.select(
        "event_id",
        F.to_xml(F.struct("event_type", "user_id"), {"rowTag": "ev"}).alias("doc"),
    )
    parsed = xml.select(
        "event_id",
        F.from_xml("doc", "event_type string, user_id long").alias("p"),
        F.xpath_string("doc", F.lit("/ev/event_type")).alias("xp_type"),
        F.length("doc").cast("long").alias("doc_len"),
    )
    return parsed.select(
        "event_id",
        F.col("p.event_type").alias("xml_type"),
        F.col("p.user_id").alias("xml_user"),
        "xp_type",
        "doc_len",
    )


# ---------------------------------------------------------------------------
# fn_aes_deterministic (round-6 session-7; windowed in rotation round 9)
# ---------------------------------------------------------------------------

FN_AES_DETERMINISTIC_ORACLE = """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           -- aes_encrypt(NULL) is NULL: the NULL-plaintext group has
           -- ZERO distinct ciphertexts, not one
           CAST(count(DISTINCT CASE WHEN event_type IS NOT NULL
                                    THEN ct_hex END) AS BIGINT) AS n_ct,
           CAST((length(event_type) // 16 + 1) * 16 AS BIGINT) AS ct_len,
           event_type AS roundtrip,
           CAST(count(*) AS BIGINT) AS n_bad_null
    FROM (SELECT event_type, 'x' AS ct_hex FROM events) t
    GROUP BY event_type
"""


@op("fn_aes_deterministic", oracle=FN_AES_DETERMINISTIC_ORACLE, tags=('fn', 'governance', 'extra'))
def fn_aes_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level encryption with the ``aes_encrypt`` / ``aes_decrypt`` /
    ``try_aes_decrypt`` family, in DETERMINISTIC (ECB) mode — the mode
    that keeps an encrypted PII column groupable, joinable, and
    deduplicatable (equal plaintexts → equal ciphertexts), which is why
    pipelines use it for blind-index columns even though GCM (random IV,
    non-deterministic, the Spark default) is what belongs on data at
    rest. Per event type: every row encrypts to the SAME ciphertext
    (n_ct = 1 — determinism, group-wise), ciphertext length is the PKCS7
    envelope (next 16-byte multiple), decrypt with the right key is the
    identity, and try_aes_decrypt with the WRONG key is NULL for every
    row (n_bad_null = n_rows) instead of a task-killing exception.

    The oracle replays all of it from first principles: n_ct=1 via a
    constant, the PKCS7 length formula, identity round trip, and the
    all-rows-NULL count.
    """
    key = F.lit("0123456789abcdef")
    wrong = F.lit("fedcba9876543210")
    ev = load(spark, sf_dir, "events").select("event_type")
    enc = ev.select(
        "event_type",
        F.aes_encrypt(F.col("event_type").cast("binary"), key, F.lit("ECB")).alias("ct"),
    )
    dec = enc.select(
        "event_type",
        F.hex("ct").alias("ct_hex"),
        F.length("ct").cast("long").alias("ct_len"),
        F.aes_decrypt("ct", key, F.lit("ECB")).cast("string").alias("roundtrip"),
        F.try_aes_decrypt("ct", wrong, F.lit("ECB")).alias("bad"),
    )
    return dec.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("ct_hex").alias("n_ct"),
        F.first("ct_len").alias("ct_len"),
        F.first("roundtrip").alias("roundtrip"),
        F.count(F.when(F.col("bad").isNull(), 1)).alias("n_bad_null"),
    )
