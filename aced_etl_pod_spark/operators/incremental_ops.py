"""Incremental-maintenance and advanced-analytics operators (round-6
registration queue — finished and locally oracle-verified here; they take
registry slots when the driver window rotates).

Families in this module:

* **incremental view maintenance** (``mv_incremental_refresh``): a
  persisted aggregate snapshot is refreshed by merging the DELTA's
  mergeable partials — the base data is never rescanned. This is the
  pattern that turns a nightly 100 TB full recompute into an O(delta)
  merge, and it falls out of the same partial-agg algebra the sketch
  family (agg_hll_union_shards / agg_bitmap_exact_distinct) persists.
* **cascading time-hierarchy rollups** (``agg_cascading_rollup``):
  day aggregates computed FROM hour partials and week aggregates FROM day
  partials (the continuous-aggregate / hypertable-rollup pattern) —
  coarser grains never touch raw events, and the oracle proves
  compose-equals-recompute.
* **engine-gap windows** (``win_ewma``): exponentially weighted moving
  average as a bounded-frame closed form — Spark has no recursive window,
  so the truncated EWMA is expressed as an index-weighted sum over the
  collected frame, entirely in JVM higher-order functions.
* **semantic dedup** (``dedup_semantic_cluster``): SemDeDup-style
  embedding dedup — seeded k-means clustering, then near-duplicate
  pruning against each cluster's representative. The clustering state
  (K×D centroids) is the only driver-side data; every per-row pass is a
  Catalyst expression over broadcast centroid literals.
* **join-view IVM** (``mv_incremental_join_view``): the delta-join
  algebra Δ(O⋈C)=ΔO⋈C for fact-append + broadcast dims.
* **irregular time series** (``win_time_weighted_avg``): TWAP —
  duration-weighted mean via lead(), exact integer-micros weights.
* **second-moment partials** (``embedding_covariance_topk`` /
  ``embedding_pca_whiten``): per-Arrow-batch gemm Gram partials that
  element-wise compose (O(D²) shuffle, never O(n·D²) rows), ranked
  covariances with a full long-format oracle, and driver-side eigh +
  broadcast ZCA transform on top.
* **quantile sketch** (``agg_histogram_quantile_merge``): mergeable
  fixed-bin histogram partials — completes the persisted-partial suite
  (count/sum, distinct, frequency, quantiles).
* **corpus mixing** (``sample_importance_weighted``): quality-tiered
  keep rates on the Knuth hash bucket — a pure pushdown filter.

(Reference analog: the reference rebuilds its query stores wholesale per
job — etl-job/fhir_import_export.py:230-258 re-creates the index, then
:264-274 re-counts it; the incremental family here is what replaces that
wholesale rebuild at 100 TB. The EWMA/semantic ops extend the engine's
training-data tier; the reference has no counterpart.)

Determinism follows the house rules (registry.py docstring): decimal
sandwich on every float output, total-order tie-breaks on every rank,
and — specific to this module — decimal-typed PARTIALS so that
partial-merge equals direct-compute exactly, not just to rounding.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from aced_etl_pod_spark.operators.util import (
    finite,
    finite_sql,
    finite_vec,
    finite_vec_sql,
    money,
    money_sql,
)
from aced_etl_pod_spark.registry import op
from aced_etl_pod_spark.tables import fixture_name, load, read_parquet, scratch_dir

# ---------------------------------------------------------------------------
# mv_incremental_refresh
# ---------------------------------------------------------------------------

# Base/delta split: the snapshot covers 90% of orders; the "new batch" is
# the remaining 10%. Sums are carried as DECIMAL(18,6) partials so the
# merged total is bit-identical to a direct recompute (double partials
# would only agree to rounding).
_MV_DELTA_MOD = 10

MV_INCREMENTAL_REFRESH_ORACLE = """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(CAST((CASE WHEN abs(CAST(o_totalprice AS DOUBLE)) < 1e12 THEN CAST(o_totalprice AS DOUBLE) END) AS DECIMAL(18,6))), 2) AS DOUBLE)
             AS total,
           CAST(round(CAST(sum(CAST((CASE WHEN abs(CAST(o_totalprice AS DOUBLE)) < 1e12 THEN CAST(o_totalprice AS DOUBLE) END) AS DECIMAL(18,6))) AS DOUBLE)
                      / count(*), 2) AS DOUBLE) AS avg_price
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
"""


def _mv_partials(df: DataFrame) -> DataFrame:
    """Mergeable partial state for the sales-by-status view: (group, count,
    exact decimal sum). count+sum compose under addition; avg is DERIVED at
    read time — never stored, because stored averages don't merge."""
    return df.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(finite(F.col("o_totalprice")).cast("decimal(18,6)")).alias("total_dec"),
    )


def mv_snapshot_path(sf_dir: str) -> str:
    """Snapshot location, named by :func:`tables.fixture_name` so
    regenerated testdata invalidates it (ADVICE r5 discipline)."""
    return scratch_dir(fixture_name("mv_sales", sf_dir, "orders.parquet"))


@op(
    "mv_incremental_refresh",
    oracle=MV_INCREMENTAL_REFRESH_ORACLE,
    tags=("agg", "incremental", "extra"),
)
def mv_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view refresh: merge the delta's partial
    aggregates into the persisted snapshot WITHOUT rescanning the base.

    The view is sales-by-status (count, exact-decimal sum, derived avg).
    Base rows (o_orderkey % 10 != 0) are aggregated ONCE into an
    O(|groups|)-row snapshot parquet; the refresh aggregates only the
    delta (o_orderkey % 10 == 0), unions the two partial states, and
    re-aggregates the tiny union. The oracle recomputes the view from ALL
    rows — compose-equals-recompute is exact because the partials are
    decimals, not doubles.

    Scale story: at 100 TB the snapshot is O(groups) and the refresh cost
    is O(delta) — the base is read exactly once ever. The merge plan
    shuffles only |groups| + |delta groups| rows; the delta scan's
    modulo filter is pushed to the parquet reader.
    tests/test_incremental.py asserts the snapshot is built once (marker
    mtime stable across calls) and stays O(groups)-sized.
    """
    o = load(spark, sf_dir, "orders")
    snap = mv_snapshot_path(sf_dir)
    marker = os.path.join(snap, "_SUCCESS")
    if not os.path.exists(marker):
        base = o.filter(F.col("o_orderkey") % _MV_DELTA_MOD != 0)
        _mv_partials(base).coalesce(1).write.mode("overwrite").parquet(snap)

    snapshot = read_parquet(spark, snap)
    delta = _mv_partials(o.filter(F.col("o_orderkey") % _MV_DELTA_MOD == 0))
    merged = (
        snapshot.unionByName(delta)
        .groupBy("o_orderstatus")
        .agg(
            F.sum("n").alias("n"),
            F.sum("total_dec").alias("total_dec"),
        )
    )
    return merged.select(
        "o_orderstatus",
        F.col("n").cast("long").alias("n"),
        F.round("total_dec", 2).cast("double").alias("total"),
        F.round(F.col("total_dec").cast("double") / F.col("n"), 2)
        .cast("double")
        .alias("avg_price"),
    ).orderBy("o_orderstatus")


# ---------------------------------------------------------------------------
# agg_cascading_rollup
# ---------------------------------------------------------------------------

AGG_CASCADING_ROLLUP_ORACLE = """
    SELECT 'day' AS level,
           strftime(date_trunc('day', ts), '%Y-%m-%d') AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(CAST((CASE WHEN abs(CAST(value AS DOUBLE)) < 1e12 THEN CAST(value AS DOUBLE) END) AS DECIMAL(18,6))), 2) AS DOUBLE) AS total
    FROM events GROUP BY date_trunc('day', ts)
    UNION ALL
    SELECT 'week' AS level,
           strftime(date_trunc('week', ts), '%Y-%m-%d') AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(CAST((CASE WHEN abs(CAST(value AS DOUBLE)) < 1e12 THEN CAST(value AS DOUBLE) END) AS DECIMAL(18,6))), 2) AS DOUBLE) AS total
    FROM events GROUP BY date_trunc('week', ts)
"""


@op(
    "agg_cascading_rollup",
    oracle=AGG_CASCADING_ROLLUP_ORACLE,
    tags=("agg", "incremental", "extra"),
)
def agg_cascading_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cascading time-hierarchy rollup: hour partials from raw events, DAY
    aggregates from the HOUR partials, WEEK aggregates from the DAY
    partials — the continuous-aggregate pattern where each coarser grain
    composes the next finer grain's mergeable state instead of rescanning
    raw data. The oracle computes day and week DIRECTLY from events, so a
    hash match proves compose-equals-recompute exactly (decimal partials;
    count/sum compose under addition).

    Scale story: at 100 TB the hour partials are the only pass over raw
    events; day is an aggregation of ~24× fewer rows, week of ~7× fewer
    again. This is how a metrics warehouse serves year-spanning queries
    without ever re-reading the event log — and since the partial state
    is the same shape the MV snapshot persists (mv_incremental_refresh),
    the two patterns compose: append hour partials incrementally, roll
    up lazily. Both engines truncate weeks to Monday 00:00 (ISO)."""
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count("*").alias("n"),
        F.sum(finite(F.col("value")).cast("decimal(18,6)")).alias("t"),
    )
    daily = hourly.groupBy(F.date_trunc("day", "h").alias("b")).agg(
        F.sum("n").alias("n"), F.sum("t").alias("t")
    )
    weekly = daily.groupBy(F.date_trunc("week", "b").alias("b")).agg(
        F.sum("n").alias("n"), F.sum("t").alias("t")
    )

    def fmt(df: DataFrame, level: str) -> DataFrame:
        return df.select(
            F.lit(level).alias("level"),
            F.date_format("b", "yyyy-MM-dd").alias("bucket"),
            F.col("n").cast("long").alias("n"),
            F.round("t", 2).cast("double").alias("total"),
        )

    return fmt(daily, "day").unionByName(fmt(weekly, "week"))


# ---------------------------------------------------------------------------
# win_ewma
# ---------------------------------------------------------------------------

EWMA_ALPHA = 0.3
EWMA_K = 16  # truncation width: (1-α)^16 ≈ 0.003 — tail mass is negligible

EWMA_DECAY = 1.0 - EWMA_ALPHA

WIN_EWMA_ORACLE = f"""
    WITH s AS (
      SELECT event_id, user_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn
      FROM events
      -- well-scaled observations only: one extreme in a frame makes the
      -- two engines' different summation orders visible in the last ULP
      WHERE ts IS NOT NULL AND user_id IS NOT NULL AND value IS NOT NULL
        AND abs(CAST(value AS DOUBLE)) < 1e12
    ), agg AS (
      SELECT i.event_id, i.user_id,
             sum(j.value * pow({EWMA_DECAY}, i.rn - j.rn)) AS num,
             count(*) AS k
      FROM s i JOIN s j
        ON i.user_id = j.user_id AND j.rn BETWEEN i.rn - {EWMA_K - 1} AND i.rn
      GROUP BY i.event_id, i.user_id
    )
    SELECT event_id, user_id,
           (CASE WHEN abs(CAST(num / ((1 - pow({EWMA_DECAY}, k)) / {EWMA_ALPHA}) AS DOUBLE)) < 1e10 THEN CAST(round(CAST(CAST(num / ((1 - pow({EWMA_DECAY}, k)) / {EWMA_ALPHA}) AS DOUBLE) AS DECIMAL(18,8)), 4) AS DOUBLE) ELSE CAST(num / ((1 - pow({EWMA_DECAY}, k)) / {EWMA_ALPHA}) AS DOUBLE) END) AS ewma
    FROM agg
"""


@op("win_ewma", oracle=WIN_EWMA_ORACLE, tags=("window", "extra"))
def win_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average per user — the classic
    RECURSIVE smoother (y_i = αx_i + (1-α)y_{i-1}) that no SQL window
    frame can express directly. Expressed instead as its closed form over
    a truncated frame: the last K=16 observations weighted by
    (1-α)^age and normalized by the finite geometric mass
    (1-(1-α)^k)/α — pandas' adjust=True EWMA restricted to K terms,
    where the dropped tail carries (1-α)^K ≈ 0.3% of the weight. The
    truncation is part of the op's CONTRACT (both engines compute the
    identical finite sum), not an approximation bolted on after.

    Plan: one shuffle on user_id; the frame collect is bounded (K
    elements) so per-row state is O(K) — the win_median_rolling
    discipline. The weighted sum runs in JVM higher-order functions
    (transform-with-index + aggregate) over the collected frame: no
    Python, no self-join — while the DuckDB oracle pays the quadratic
    (i,j) pair join, the Spark side is linear in rows × K."""
    # the smoother needs a series key, a position, and an observation:
    # the oracle's self-join drops NULL user keys that PARTITION BY would
    # group, and collect_list SKIPS null values (mis-sizing the frame)
    e = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
        # well-scaled series contract (mirrors the oracle's WHERE): an
        # extreme frame member splits the engines' summation orders
        & (F.abs(F.col("value").cast("double")) < F.lit(1e12))
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(EWMA_K - 1), W.currentRow)
    )
    # collect_list over an ordered frame preserves frame order: index 0 is
    # the oldest row in the frame, the last element is the current row.
    frame = F.collect_list("value").over(w)
    n = F.size(frame)
    weighted = F.transform(
        frame,
        lambda x, i: x * F.pow(F.lit(EWMA_DECAY), (n - 1 - i).cast("double")),
    )
    num = F.aggregate(weighted, F.lit(0.0), lambda acc, x: acc + x)
    mass = (F.lit(1.0) - F.pow(F.lit(EWMA_DECAY), n.cast("double"))) / F.lit(
        EWMA_ALPHA
    )
    return e.select(
        "event_id",
        "user_id",
        money(num / mass, 4, 8).alias("ewma"),
    )


# ---------------------------------------------------------------------------
# dedup_semantic_cluster (SemDeDup)
# ---------------------------------------------------------------------------

SEMDEDUP_K = 8  # centroids
SEMDEDUP_DIM = 64
# cos-sim-to-representative above τ => near-dup, dropped. τ is a corpus-
# calibrated parameter: real embedding corpora use ~0.95+ (SemDeDup paper);
# the synthetic random embeddings top out at cos≈0.49 to their reps, so the
# test value sits inside the observed range — the oracle then exercises BOTH
# branches of is_kept (≈15% of rows drop at sf0.01) instead of vacuously
# keeping everything.
SEMDEDUP_TAU = 0.25
# Every cross-engine float (distances, centroid components, cosines) is
# decimal-sandwiched to 6dp at each stage, so both engines iterate from
# IDENTICAL doubles and the argmin/rank tie-breaks agree exactly.
_R = 6

DEDUP_SEMANTIC_CLUSTER_ORACLE = f"""
    WITH e AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE (embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR NOT (abs(x) < 1e12))) = 0)
    ), ex AS (
      SELECT vec_id, i AS dim, CAST(embedding[i] AS DOUBLE) AS x
      FROM e, generate_series(1, {SEMDEDUP_DIM}) AS t(i)
    ), c0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, vec_id
      FROM e ORDER BY vec_id LIMIT {SEMDEDUP_K}
    ), c0x AS (
      SELECT c0.cid, ex.dim, ex.x AS cx FROM c0 JOIN ex USING (vec_id)
    ), a1 AS (
      SELECT vec_id, cid FROM (
        SELECT g.vec_id, g.cid,
               row_number() OVER (PARTITION BY g.vec_id
                                  ORDER BY g.d, g.cid) AS rk
        FROM (
          SELECT ex.vec_id, c.cid,
                 round(CAST(sum((ex.x - c.cx) * (ex.x - c.cx))
                            AS DECIMAL(18,8)), {_R}) AS d
          FROM ex JOIN c0x c ON ex.dim = c.dim
          GROUP BY ex.vec_id, c.cid) g) WHERE rk = 1
    ), c1 AS (
      SELECT a1.cid, ex.dim,
             round(CAST(avg(ex.x) AS DECIMAL(18,8)), {_R}) AS cx
      FROM a1 JOIN ex USING (vec_id) GROUP BY a1.cid, ex.dim
    ), a2 AS (
      SELECT vec_id, cid FROM (
        SELECT g.vec_id, g.cid,
               row_number() OVER (PARTITION BY g.vec_id
                                  ORDER BY g.d, g.cid) AS rk
        FROM (
          SELECT ex.vec_id, c.cid,
                 round(CAST(sum((ex.x - c.cx) * (ex.x - c.cx))
                            AS DECIMAL(18,8)), {_R}) AS d
          FROM ex JOIN c1 c ON ex.dim = c.dim
          GROUP BY ex.vec_id, c.cid) g) WHERE rk = 1
    ), c2 AS (
      SELECT a2.cid, ex.dim,
             round(CAST(avg(ex.x) AS DECIMAL(18,8)), {_R}) AS cx
      FROM a2 JOIN ex USING (vec_id) GROUP BY a2.cid, ex.dim
    ), af AS (
      SELECT vec_id, cid, d FROM (
        SELECT g.vec_id, g.cid, g.d,
               row_number() OVER (PARTITION BY g.vec_id
                                  ORDER BY g.d, g.cid) AS rk
        FROM (
          SELECT ex.vec_id, c.cid,
                 round(CAST(sum((ex.x - c.cx) * (ex.x - c.cx))
                            AS DECIMAL(18,8)), {_R}) AS d
          FROM ex JOIN c2 c ON ex.dim = c.dim
          GROUP BY ex.vec_id, c.cid) g) WHERE rk = 1
    ), rep AS (
      SELECT cid, vec_id AS rep_id FROM (
        SELECT cid, vec_id,
               row_number() OVER (PARTITION BY cid ORDER BY d, vec_id) AS rk
        FROM af) WHERE rk = 1
    ), sim AS (
      SELECT m.vec_id, m.cid, r.rep_id,
             round(CAST(sum(a.x * b.x)
                        / (sqrt(sum(a.x * a.x)) * sqrt(sum(b.x * b.x)))
                        AS DECIMAL(18,8)), {_R}) AS cos_rep
      FROM af m JOIN rep r ON m.cid = r.cid
      JOIN ex a ON a.vec_id = m.vec_id
      JOIN ex b ON b.vec_id = r.rep_id AND b.dim = a.dim
      GROUP BY m.vec_id, m.cid, r.rep_id
    )
    SELECT vec_id, CAST(cid AS BIGINT) AS cluster,
           CAST(cos_rep AS DOUBLE) AS cos_rep,
           (vec_id = rep_id OR cos_rep <= {SEMDEDUP_TAU}) AS is_kept
    FROM sim
"""


def _lit_vec(vals):
    return F.array(*[F.lit(float(v)).cast("double") for v in vals])


def _sqdist_to(centroid) -> "F.Column":
    """Rounded squared L2 from the embedding column to a literal centroid —
    unrolled zip_with/aggregate, evaluated in whole-stage codegen."""
    diffs = F.zip_with(
        F.col("emb"), _lit_vec(centroid), lambda x, y: (x - y) * (x - y)
    )
    return F.round(
        F.aggregate(diffs, F.lit(0.0), lambda a, x: a + x).cast("decimal(18,8)"),
        _R,
    )


def _assign(df: DataFrame, cents: list[tuple[int, list]]) -> DataFrame:
    """Argmin over rounded distances, ties to the smallest cid (the list is
    cid-sorted, and array_position returns the FIRST match)."""
    dists = F.array(*[_sqdist_to(c) for _, c in cents])
    cids = F.array(*[F.lit(int(cid)) for cid, _ in cents])
    idx = F.array_position(dists, F.array_min(dists))
    return df.withColumn("cid", F.element_at(cids, idx.cast("int"))).withColumn(
        "d", F.element_at(dists, idx.cast("int"))
    )


def _update(df: DataFrame) -> list[tuple[int, list]]:
    """New centroids = per-dimension member means, rounded to 6dp (the
    cross-engine contract), collected as O(K x D) driver state — the one
    place k-means genuinely needs driver data, and it is centroids, not
    rows."""
    rows = (
        df.select("cid", F.posexplode("emb").alias("dim", "x"))
        .groupBy("cid", "dim")
        .agg(F.round(F.avg("x").cast("decimal(18,8)"), _R).alias("cx"))
        .collect()
    )
    by_cid: dict[int, dict[int, float]] = {}
    for r in rows:
        by_cid.setdefault(r.cid, {})[r.dim] = float(r.cx)
    return [
        (cid, [dims[i] for i in range(SEMDEDUP_DIM)])
        for cid, dims in sorted(by_cid.items())
    ]


@op(
    "dedup_semantic_cluster",
    oracle=DEDUP_SEMANTIC_CLUSTER_ORACLE,
    tags=("similarity", "dedup", "llm", "extra"),
)
def dedup_semantic_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-duplicate pruning for
    training corpora — cluster the embedding space with k-means, pick each
    cluster's representative (the member nearest its centroid), and drop
    members whose cosine similarity to the representative exceeds τ. Wins
    over pairwise embedding dedup (dedup_embedding_cosine) because the
    candidate set is per-cluster, not all-pairs: O(n·K·D) per sweep
    instead of O(n²·D).

    Determinism contract (both engines, stage by stage): centroids seed
    from the K smallest vec_ids; TWO Lloyd iterations; every distance,
    mean, and cosine is decimal-rounded to 6dp before it feeds a
    comparison, so the argmin/rank tie-breaks (distance, then cid / then
    vec_id) see identical doubles on Spark and DuckDB. k-means here is a
    FIXED-ITERATION pipeline stage, not a converge-until loop — which is
    also the honest 100 TB posture (each sweep is one scan; you budget
    sweeps, you don't promise convergence).

    Plan: centroids are broadcast LITERALS (O(K·D) driver state — the
    only collect); assignment is unrolled zip_with/aggregate in
    whole-stage codegen, one scan per sweep, no shuffle; the update is a
    posexplode + partial-agg groupBy shuffling K·D mean partials per
    partition, not rows. The final near-dup test joins each member to its
    cluster's rep — K rows broadcast. At 100 TB: sweeps scale linearly,
    the rep join stays broadcast, and τ-pruning drops ~the SemDeDup-paper
    fraction of the corpus before tokenization ever runs."""
    # cache: the corpus is scanned by 3 assignment sweeps + 2 update
    # collects + the seed pick — at cluster scale this is "persist the
    # working set for the k-means epoch", the standard iterative pattern
    e = (
        load(spark, sf_dir, "embeddings")
        # null-vector contract: vector kernels operate on the non-null
        # embeddings (the oracle mirrors the filter)
        .filter(finite_vec(F.col("embedding")))
        .select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
        .cache()
    )
    seeds = e.orderBy("vec_id").limit(SEMDEDUP_K).collect()
    if not seeds:  # empty corpus (empty-partition contract)
        return spark.createDataFrame(
            [], "vec_id long, cluster long, cos_rep double, is_kept boolean"
        )
    cents = [(i, [float(v) for v in r.emb]) for i, r in enumerate(seeds)]
    for _ in range(2):
        cents = _update(_assign(e, cents))
    final = _assign(e, cents)

    wrep = W.partitionBy("cid").orderBy("d", "vec_id")
    reps = (
        final.withColumn("rk", F.row_number().over(wrep))
        .filter(F.col("rk") == 1)
        .select(F.col("cid"), F.col("vec_id").alias("rep_id"),
                F.col("emb").alias("rep_emb"))
    )
    m = final.join(F.broadcast(reps), "cid")
    dot = F.aggregate(
        F.zip_with("emb", "rep_emb", lambda a, b: a * b),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    nrm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(F.col(c), lambda x: x * x), F.lit(0.0), lambda a, x: a + x
        )
    )
    cos = F.round((dot / (nrm("emb") * nrm("rep_emb"))).cast("decimal(18,8)"), _R)
    return m.select(
        "vec_id",
        F.col("cid").cast("long").alias("cluster"),
        cos.cast("double").alias("cos_rep"),
        (
            (F.col("vec_id") == F.col("rep_id"))
            | (cos <= F.lit(SEMDEDUP_TAU))
        ).alias("is_kept"),
    )


# ---------------------------------------------------------------------------
# win_time_weighted_avg (TWAP)
# ---------------------------------------------------------------------------

WIN_TWAP_ORACLE = f"""
    WITH s AS (
      -- the observation carries the well-scaled measure contract (an
      -- extreme value times an integer-micros duration makes the sum
      -- fold-order-visible); durations stay exact integers
      SELECT user_id, {finite_sql("value")} AS v, epoch_us(ts) AS t,
             lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS nxt
      FROM events WHERE ts IS NOT NULL
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_intervals,
           {money_sql("sum(v * (nxt - t)) / sum(nxt - t)", 4, 8)} AS twap
    FROM s WHERE nxt IS NOT NULL
    GROUP BY user_id
"""


@op("win_time_weighted_avg", oracle=WIN_TWAP_ORACLE, tags=("window", "extra"))
def win_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP) over an IRREGULAR event series: each
    observation is weighted by how long it was the current value (the
    duration to the next event), so a burst of 1000 ticks in one second
    counts the same as one tick held for a second — the correct mean for
    sensor/price-style data where a plain avg() is sampling-rate-biased.

    Plan: one shuffle on user_id for the lead() window, then a partial
    aggregate — linear, two-exchange-free (window and groupBy share the
    user_id partitioning, so Catalyst reuses the exchange). Durations are
    exact integer micros; only the final quotient is floating, decimal-
    sandwiched at 4dp on both engines."""
    e = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    t = F.unix_micros("ts")
    s = e.select(
        "user_id",
        "value",
        t.alias("t"),
        F.lead(t).over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    dt = F.col("nxt") - F.col("t")
    return s.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_intervals"),
        money(
            F.sum(finite(F.col("value")) * dt) / F.sum(dt), 4, 8
        ).alias("twap"),
    )


# ---------------------------------------------------------------------------
# embedding_covariance_topk
# ---------------------------------------------------------------------------

COV_TOPK = 20

EMBEDDING_COVARIANCE_TOPK_ORACLE = f"""
    WITH ex AS (
      SELECT vec_id, i AS dim, CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings, generate_series(1, {SEMDEDUP_DIM}) AS t(i)
      WHERE (embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR NOT (abs(x) < 1e12))) = 0)
    ), m AS (
      SELECT dim, round(CAST(avg(x) AS DECIMAL(18,8)), {_R}) AS mu
      FROM ex GROUP BY dim
    ), cov AS (
      SELECT a.dim AS dim_i, b.dim AS dim_j,
             round(CAST(sum((a.x - ma.mu) * (b.x - mb.mu)) / count(*)
                        AS DECIMAL(18,8)), {_R}) AS cov
      FROM ex a
      JOIN ex b ON a.vec_id = b.vec_id AND a.dim < b.dim
      JOIN m ma ON ma.dim = a.dim
      JOIN m mb ON mb.dim = b.dim
      GROUP BY a.dim, b.dim
    ), ranked AS (
      SELECT dim_i, dim_j, CAST(cov AS DOUBLE) AS cov,
             row_number() OVER (ORDER BY abs(cov) DESC, dim_i, dim_j) AS rk
      FROM cov
    )
    SELECT CAST(dim_i AS BIGINT) AS dim_i, CAST(dim_j AS BIGINT) AS dim_j,
           cov, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= {COV_TOPK}
"""


@op(
    "embedding_covariance_topk",
    oracle=EMBEDDING_COVARIANCE_TOPK_ORACLE,
    tags=("similarity", "llm", "extra"),
)
def embedding_covariance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-|cov| off-diagonal entries of the embedding covariance matrix —
    the mergeable-partial path to PCA/whitening statistics over a corpus.
    Two passes: (1) per-dimension means (posexplode + partial agg, rounded
    to 6dp — the cross-engine contract, as in dedup_semantic_cluster);
    (2) an Arrow mapInPandas stage computes each batch's CENTERED Gram
    partials with one numpy gemm and emits O(D²) partial sums per batch —
    never O(n·D²) rows. The partials element-wise-sum in a map-side-
    combining groupBy (index → sum), exactly the compose-without-rescan
    algebra of the sketch family, but for dense second moments: at 100 TB
    each executor ships 2016 doubles per batch, the reduce is O(D²), and
    the data is scanned twice total. Final ranking is over D²/2 rows —
    driver-free.

    Oracle: the same two stages in long format (DuckDB self-join on
    vec_id); identical 6dp rounding of means and covariances makes the
    rank order engine-invariant."""
    import numpy as np
    import pandas as pd

    d = SEMDEDUP_DIM
    e = (
        load(spark, sf_dir, "embeddings")
        # null-vector contract: np.stack needs rectangular batches; the
        # oracle's base CTE carries the same IS NOT NULL filter
        .filter(finite_vec(F.col("embedding")))
        .select(
            F.col("vec_id"), F.col("embedding").cast("array<double>").alias("emb")
        )
    )
    means_rows = (
        e.select(F.posexplode("emb").alias("dim0", "x"))
        .groupBy("dim0")
        .agg(F.round(F.avg("x").cast("decimal(18,8)"), _R).alias("mu"))
        .collect()
    )
    mu = np.zeros(d)
    for r in means_rows:
        mu[r.dim0] = float(r.mu)
    iu = np.triu_indices(d, k=1)
    n_pairs = len(iu[0])
    bmu = spark.sparkContext.broadcast(mu)

    def gram(batches):
        m = bmu.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["emb"].to_numpy()) - m  # (b, D) centered
            G = X.T @ X  # one gemm per Arrow batch
            yield pd.DataFrame(
                {
                    "idx": np.arange(n_pairs, dtype="int64"),
                    "s": G[iu],
                    "cnt": np.full(n_pairs, len(pdf), dtype="int64"),
                }
            )

    partials = e.select("emb").mapInPandas(gram, "idx long, s double, cnt long")
    # per-idx cnt sums each batch's row count once, so tot == n exactly
    cov = (
        partials.groupBy("idx")
        .agg(F.sum("s").alias("s"), F.sum("cnt").alias("tot"))
        .select(
            "idx",
            F.round((F.col("s") / F.col("tot")).cast("decimal(18,8)"), _R).alias(
                "cov"
            ),
        )
    )
    # decode idx -> (dim_i, dim_j): build the literal pair arrays once
    di = F.array(*[F.lit(int(v) + 1) for v in iu[0]])
    dj = F.array(*[F.lit(int(v) + 1) for v in iu[1]])
    decoded = cov.select(
        F.element_at(di, F.col("idx").cast("int") + 1).cast("long").alias("dim_i"),
        F.element_at(dj, F.col("idx").cast("int") + 1).cast("long").alias("dim_j"),
        F.col("cov").cast("double").alias("cov"),
    )
    wrk = W.orderBy(F.abs(F.col("cov")).desc(), "dim_i", "dim_j")
    return (
        decoded.withColumn("rk", F.row_number().over(wrk).cast("long"))
        .filter(F.col("rk") <= COV_TOPK)
    )


# ---------------------------------------------------------------------------
# sample_importance_weighted
# ---------------------------------------------------------------------------

# Quality-tiered keep rates (per-mille): short docs are heavily
# downsampled, mid-length kept at half rate, long docs kept fully — the
# quality-weighted mixing step of corpus curation, made deterministic with
# the same Knuth hash-bucket the sampling family uses.
_IW_TIERS_SQL = """CASE WHEN n_chars < 200 THEN 100
                WHEN n_chars < 400 THEN 500
                ELSE 1000 END"""

SAMPLE_IMPORTANCE_WEIGHTED_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, lang, n_chars,
             {_IW_TIERS_SQL} AS keep_permille,
             (((doc_id % {2**31}) * 2654435761) % {2**32}) % 1000 AS bucket
      FROM documents
    )
    SELECT doc_id, lang, n_chars,
           CAST(keep_permille AS BIGINT) AS keep_permille
    FROM t WHERE bucket < keep_permille
"""


@op(
    "sample_importance_weighted",
    oracle=SAMPLE_IMPORTANCE_WEIGHTED_ORACLE,
    tags=("sampling", "llm", "extra"),
)
def sample_importance_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-weighted (quality-proportional) sampling: each document's
    keep probability is a function of its quality tier (length here; any
    scored feature in practice), and the keep decision is a deterministic
    Knuth hash bucket — reproducible across runs, engines, and
    repartitioning, with NO RNG state shared across executors. This is the
    corpus-mixing step that up/down-weights sources before tokenization
    (high-quality kept at 100%, boilerplate at 10%).

    Plan: a pure filter — pushdown-eligible, zero shuffle, and composable
    with the curation pipeline's quality gate. The per-tier EXPECTED
    rates are also oracle-free to audit: bucket < p·1000 keeps exactly
    the hash-slice of each tier."""
    from aced_etl_pod_spark.operators.sampling import hash_bucket

    d = load(spark, sf_dir, "documents")
    tier = (
        F.when(F.col("n_chars") < 200, 100)
        .when(F.col("n_chars") < 400, 500)
        .otherwise(1000)
    )
    b = hash_bucket("doc_id", 1000)
    return (
        d.select(
            "doc_id",
            "lang",
            "n_chars",
            tier.cast("long").alias("keep_permille"),
            b.alias("_b"),
        )
        .filter(F.col("_b") < F.col("keep_permille"))
        .drop("_b")
    )


# ---------------------------------------------------------------------------
# mv_incremental_join_view
# ---------------------------------------------------------------------------

MV_JOIN_VIEW_ORACLE = """
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(CAST((CASE WHEN abs(CAST(o_totalprice AS DOUBLE)) < 1e12 THEN CAST(o_totalprice AS DOUBLE) END) AS DECIMAL(18,6))), 2) AS DOUBLE)
             AS total
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
"""


def _mv_join_partials(orders: DataFrame, customer: DataFrame) -> DataFrame:
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            F.sum(finite(F.col("o_totalprice")).cast("decimal(18,6)")).alias("total_dec"),
        )
    )


def mv_join_snapshot_path(sf_dir: str) -> str:
    return scratch_dir(fixture_name("mv_joinseg", sf_dir, "orders.parquet"))


@op(
    "mv_incremental_join_view",
    oracle=MV_JOIN_VIEW_ORACLE,
    tags=("join", "incremental", "extra"),
)
def mv_incremental_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view (revenue by customer
    segment = orders ⋈ customer, aggregated): the delta-join algebra
    Δ(O ⋈ C) = ΔO ⋈ C for a fact-append workload — the appended orders
    join the (broadcast) dimension and their partials merge into the
    snapshot; the base fact is NEVER rejoined or rescanned. The oracle
    recomputes the view from the full join, so a hash match proves the
    incremental algebra exact (decimal partials again).

    Contract note, stated rather than hidden: with updates on BOTH sides
    the classic algebra needs base probes (O ⋈ ΔC), which is why
    production dimensions are SCD-managed (merge_scd2) rather than
    mutated in place — fact-append + slowly-changing dims is the shape
    this op maintains. At 100 TB: refresh cost is O(delta ⋈ dim) — the
    join strategy is left to AQE (broadcast while the projected dim fits
    the threshold, shuffle once it doesn't; a forced broadcast of an
    O(customers) dimension would OOM at scale — docs/SCALE.md §16),
    plus an O(groups) merge."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    snap = mv_join_snapshot_path(sf_dir)
    marker = os.path.join(snap, "_SUCCESS")
    if not os.path.exists(marker):
        base = o.filter(F.col("o_orderkey") % _MV_DELTA_MOD != 0)
        _mv_join_partials(base, c).coalesce(1).write.mode("overwrite").parquet(
            snap
        )
    snapshot = read_parquet(spark, snap)
    delta = _mv_join_partials(
        o.filter(F.col("o_orderkey") % _MV_DELTA_MOD == 0), c
    )
    return (
        snapshot.unionByName(delta)
        .groupBy("c_mktsegment")
        .agg(F.sum("n").alias("n"), F.sum("total_dec").alias("total_dec"))
        .select(
            "c_mktsegment",
            F.col("n").cast("long").alias("n"),
            F.round("total_dec", 2).cast("double").alias("total"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# agg_histogram_quantile_merge
# ---------------------------------------------------------------------------

HIST_BIN_W = 8
HIST_BINS = 64  # covers value ∈ [0, 512) — data range is [0.01, ~490]
_QS = (0.5, 0.9, 0.99)

AGG_HISTOGRAM_QUANTILE_ORACLE = f"""
    WITH per_shard AS (
      SELECT event_type,
             least({HIST_BINS - 1}, CAST(floor(value / {HIST_BIN_W}) AS INT))
               AS bin,
             count(*) AS cnt
      FROM events WHERE (CASE WHEN abs(CAST(value AS DOUBLE)) < 1e12 THEN CAST(value AS DOUBLE) END) IS NOT NULL GROUP BY 1, 2
    ), merged AS (
      SELECT bin, sum(cnt) AS cnt FROM per_shard GROUP BY bin
    ), cum AS (
      SELECT bin, sum(cnt) OVER (ORDER BY bin) AS cum,
             sum(cnt) OVER () AS n
      FROM merged
    ), qs AS (
      SELECT p FROM (VALUES (0.5), (0.9), (0.99)) AS v(p)
    ), est AS (
      SELECT qs.p, min(cum.bin) AS bin
      FROM qs JOIN cum ON cum.cum >= qs.p * cum.n
      GROUP BY qs.p
    ), exact AS (
      SELECT 0.5 AS p, quantile_cont((CASE WHEN abs(CAST(value AS DOUBLE)) < 1e12 THEN CAST(value AS DOUBLE) END), 0.5) AS x FROM events
      UNION ALL
      SELECT 0.9, quantile_cont((CASE WHEN abs(CAST(value AS DOUBLE)) < 1e12 THEN CAST(value AS DOUBLE) END), 0.9) FROM events
      UNION ALL
      SELECT 0.99, quantile_cont((CASE WHEN abs(CAST(value AS DOUBLE)) < 1e12 THEN CAST(value AS DOUBLE) END), 0.99) FROM events
    )
    SELECT CAST(est.p AS DOUBLE) AS p,
           CAST((est.bin + 1) * {HIST_BIN_W} AS DOUBLE) AS est,
           (abs((est.bin + 1) * {HIST_BIN_W} - exact.x) <= {HIST_BIN_W})
             AS within_bin
    FROM est JOIN exact ON est.p = exact.p
    ORDER BY p
"""


@op(
    "agg_histogram_quantile_merge",
    oracle=AGG_HISTOGRAM_QUANTILE_ORACLE,
    tags=("agg", "approx", "extra"),
)
def agg_histogram_quantile_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles from MERGEABLE fixed-bin histogram partials:
    each shard (event_type) keeps 64 integer bin counts; shards compose by
    plain addition; quantiles read off the merged cumulative histogram.
    The bin of the estimate provably contains the rank-⌈p·n⌉ order
    statistic (property-tested adversarially in tests/test_property.py),
    so the estimate is within one bin width of it; the oracle's
    ``within_bin`` column additionally shows the INTERPOLATED percentile
    stays inside the bound on the real distributions. This completes
    the engine's persisted-partial sketch suite — count/sum (MV), distinct
    (HLL/bitmap/KMV), frequency (CMS, heavy hitters), and now quantiles —
    all with the same compose-without-rescan algebra. The oracle checks
    the estimate EXACTLY (integer bin counts are engine-invariant) and
    additionally proves the contract: |estimate − exact quantile| ≤ bin
    width, with the exact side computed by each engine's native
    interpolated percentile.

    At 100 TB: the shuffle is ≤ shards × 64 integers, the merge is
    O(bins), and the histogram partials persist beside the data for
    incremental refresh — the fixed-bin tradeoff (range known a priori)
    buys exact mergeability that streaming t-digests only approximate."""
    e = load(spark, sf_dir, "events").filter(
        finite(F.col("value")).isNotNull()
    )
    binc = F.least(
        F.lit(HIST_BINS - 1), F.floor(F.col("value") / HIST_BIN_W)
    ).cast("int")
    per_shard = e.groupBy("event_type", binc.alias("bin")).agg(
        F.count("*").alias("cnt")
    )
    merged = per_shard.groupBy("bin").agg(F.sum("cnt").alias("cnt"))
    wc = W.orderBy("bin").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = merged.select(
        "bin",
        F.sum("cnt").over(wc).alias("cum"),
        F.sum("cnt").over(W.orderBy(F.lit(1)).rowsBetween(
            W.unboundedPreceding, W.unboundedFollowing)).alias("n"),
    )
    qs = spark.createDataFrame([(p,) for p in _QS], "p double")
    est = (
        qs.join(cum, cum.cum >= qs.p * cum.n)
        .groupBy("p")
        .agg(F.min("bin").alias("bin"))
    )
    exact = e.agg(
        *[
            F.expr(f"percentile(value, {p})").alias(f"x{i}")
            for i, p in enumerate(_QS)
        ]
    )
    exact_rows = exact.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(p).alias("p"), F.col(f"x{i}").alias("x")
                    )
                    for i, p in enumerate(_QS)
                ]
            )
        ).alias("e")
    ).select(F.col("e.p").alias("p"), F.col("e.x").alias("x"))
    out = est.join(exact_rows, "p")
    e_val = (F.col("bin") + 1) * HIST_BIN_W
    return out.select(
        F.col("p").cast("double").alias("p"),
        e_val.cast("double").alias("est"),
        (F.abs(e_val - F.col("x")) <= HIST_BIN_W).alias("within_bin"),
    ).orderBy("p")


# ---------------------------------------------------------------------------
# embedding_pca_whiten — FULL oracle since round 8: ZCA whitening is
# W = C^(-1/2), and the inverse square root is computed by a FIXED-K
# coupled Newton–Schulz iteration (pure matmuls) instead of LAPACK eigh,
# so DuckDB replays the entire training in one recursive CTE. Bit-exact
# parity comes from the fold discipline: every matmul entry is a
# k-ORDERED left fold on both sides (numpy outer-product accumulation ==
# list_reduce), so once the rounded mean/moment inputs agree, every
# iterate — and every whitened output — is bit-identical; the only
# rounding in the whole pipeline is the 9dp quench on the row-order-
# dependent mean/moment sums.
# ---------------------------------------------------------------------------

# ridge, not clip: W = (C + εI)^(-1/2), so cov(whitened) = I − ε·W²
# ≈ I − ε/λ_min — at 1e-9 the ridge term stays ~1e-8-1e-7 on real
# corpora (inside the property tolerance) while still making the NS
# input strictly SPD on degenerate data
WHITEN_EPS = 1e-9
WHITEN_K = 30  # fixed Newton–Schulz iterations (part of the op contract)

_GS = f"generate_series(1, {SEMDEDUP_DIM})"
_FOLD = "list_reduce(list_prepend(0e0, {lst}), (a,b)->a+b)"

EMBEDDING_PCA_WHITEN_ORACLE = f"""
    WITH RECURSIVE
    src AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      WHERE (embedding IS NOT NULL AND len(list_filter(embedding,
             x -> x IS NULL OR NOT (abs(x) < 1e12))) = 0)
    ),
    dims AS (SELECT unnest({_GS}) AS i),
    mu AS (
      SELECT list(m ORDER BY i) AS mu FROM (
        SELECT i, round(sum(e[i]) / (SELECT count(*) FROM src), 9) AS m
        FROM src, dims GROUP BY i)
    ),
    mom AS (
      SELECT list(row ORDER BY i) AS M FROM (
        SELECT i, list(v ORDER BY j) AS row FROM (
          SELECT a.i, b.i AS j,
                 round(sum(src.e[a.i] * src.e[b.i])
                       / (SELECT count(*) FROM src), 9) AS v
          FROM src, dims a, dims b GROUP BY a.i, b.i) GROUP BY i)
    ),
    amat AS (
      SELECT list_transform({_GS}, i -> list_transform({_GS}, j ->
               M[i][j] - mu[i]*mu[j]
               + (CASE WHEN i=j THEN {WHITEN_EPS} ELSE 0e0 END))) AS A
      FROM mom, mu
    ),
    tr AS (
      SELECT A, {_FOLD.format(lst=f"list_transform({_GS}, i -> A[i][i])")}
               AS s
      FROM amat
    ),
    ns AS (
      SELECT 0 AS it, s,
             list_transform(A, r -> list_transform(r, v -> v / s)) AS y,
             list_transform({_GS}, i -> list_transform({_GS}, j ->
               CASE WHEN i=j THEN 1e0 ELSE 0e0 END)) AS z
      FROM tr
      UNION ALL
      SELECT it + 1, s,
             list_transform({_GS}, i -> list_transform({_GS}, j ->
               {_FOLD.format(lst=f"list_transform({_GS}, k -> y[i][k] * tt[k][j])")})),
             list_transform({_GS}, i -> list_transform({_GS}, j ->
               {_FOLD.format(lst=f"list_transform({_GS}, k -> tt[i][k] * z[k][j])")}))
      FROM (
        SELECT it, s, y, z,
               list_transform({_GS}, k -> list_transform({_GS}, j ->
                 5e-1 * ((CASE WHEN k=j THEN 3e0 ELSE 0e0 END) -
                   {_FOLD.format(lst=f"list_transform({_GS}, m -> z[k][m] * y[m][j])")})))
                 AS tt
        FROM ns WHERE it < {WHITEN_K}
      ) sub
    ),
    wmat AS (
      SELECT list_transform(z, r -> list_transform(r, v -> v / sqrt(s)))
               AS w
      FROM ns WHERE it = {WHITEN_K}
    )
    SELECT src.vec_id,
           '[' || array_to_string(list_transform({_GS}, j ->
             printf('%.9f',
               {_FOLD.format(lst=f"list_transform({_GS}, k -> (e[k] - mu[k]) * w[k][j])")})),
             ',') || ']' AS white
    FROM src, wmat, mu
"""


@op(
    "embedding_pca_whiten",
    oracle=EMBEDDING_PCA_WHITEN_ORACLE,
    tags=("similarity", "llm", "approx", "extra"),
)
def embedding_pca_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZCA whitening of the embedding corpus — the consumer of the
    covariance partials (embedding_covariance_topk): the full D×D second-
    moment matrix reduces from per-batch gemm partials exactly as there,
    the D×D inverse square root runs on the DRIVER (O(K·D³) on a 64×64
    matrix — model-sized state, like the k-means centroids and PQ
    codebooks), and the whitening transform broadcasts back for a single
    Arrow map over the data. Whitening is the standard preconditioner
    before embedding-space search/clustering.

    FULL oracle since round 8 (was the census's last rows-only op):
    instead of LAPACK ``eigh`` — whose iteration no SQL can replay and
    whose degenerate-eigenvector sign/order is engine-specific —
    W = C^(-1/2) is computed DIRECTLY by a fixed-K coupled
    Newton–Schulz iteration (Y←Y·T, Z←T·Z, T = (3I − Z·Y)/2 on the
    trace-normalized, ε-ridged covariance; Z → C^(-1/2)·√s, basis-free).
    Everything after the 9dp-rounded mean/moment inputs is pure
    elementwise arithmetic and k-ORDERED left-fold matmuls (numpy
    outer-product accumulation here == DuckDB list_reduce in the
    oracle's recursive CTE), so every iterate and every whitened output
    double is BIT-IDENTICAL across engines; the canonical 9-decimal
    string render (printf-correct rounding of identical doubles) is
    therefore hash-exact with no further quenching. The 9dp quench
    itself uses an EXPLICITLY SHARED rule (``duck_round9`` below):
    DuckDB round() is half-away on the scaled double, numpy .round is
    half-even, so the engine replicates duck's kernel rather than
    trusting the two libraries to agree on decimal ties. The fixed K is part
    of the op contract — both engines run exactly K steps, converged or
    not. cov(whitened) ≈ I stays property-tested in
    tests/test_incremental.py.

    At 100 TB: two linear passes (covariance partials; transform), one
    O(D²) shuffle, driver state O(D²) — n never touches the driver."""
    import numpy as np
    import pandas as pd

    d = SEMDEDUP_DIM
    e = (
        load(spark, sf_dir, "embeddings")
        # null-vector contract (np.stack needs rectangular batches)
        .filter(finite_vec(F.col("embedding")))
        .select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    )
    # pass 1: mean + full Gram partials per batch (same shape as the
    # covariance op, full matrix this time)
    def gram_full(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["emb"].to_numpy())
            G = X.T @ X
            yield pd.DataFrame(
                {
                    "idx": np.arange(d * d + d, dtype="int64"),
                    "s": np.concatenate([G.ravel(), X.sum(axis=0)]),
                    "cnt": np.full(d * d + d, len(pdf), dtype="int64"),
                }
            )

    rows = (
        e.select("emb")
        .mapInPandas(gram_full, "idx long, s double, cnt long")
        .groupBy("idx")
        .agg(F.sum("s").alias("s"), F.sum("cnt").alias("tot"))
        .collect()
    )
    if not rows:  # empty corpus (empty-partition contract)
        return spark.createDataFrame([], "vec_id long, white string")
    n = rows[0].tot  # every idx row carries the same total count
    g = np.zeros(d * d + d)
    for r in rows:
        g[r.idx] = r.s
    # the ONLY rounding in the pipeline: the mean/moment sums are
    # row-order-dependent (batch partials here, hash-agg in the oracle);
    # 9dp quenches the fold-order ULP while keeping cov(whitened) ≈ I
    # inside the property tolerance.
    def duck_round9(x):
        # EXPLICITLY SHARED rounding rule (r8 advice): the oracle quenches
        # with DuckDB round(x, 9), whose DOUBLE kernel is scaled
        # HALF-AWAY-FROM-ZERO — copysign(floor(|x·1e9| + 0.5), x) / 1e9 —
        # while numpy's .round(9) is scaled rint (half-to-even): a decimal
        # tie at the 9th place would diverge the Newton–Schulz input and
        # every downstream printf digest. Replicate duck's kernel here
        # bit-exactly (verified vs duckdb over ~1.4e5 values incl. exact
        # .5 ties, signed zero, and |x| up to the 1e24 extreme-sweep
        # moment ceiling). Residual risk, documented not quenchable: if
        # the PRE-quench sums differ by a fold-order ULP that itself
        # straddles a 9dp boundary, the two engines quench to different
        # values — no shared rounding rule can repair inputs that already
        # differ; the property tests bound the practical exposure.
        return np.copysign(np.floor(np.abs(x * 1e9) + 0.5), x) / 1e9

    M = duck_round9(g[: d * d].reshape(d, d) / n)
    mu = duck_round9(g[d * d :] / n)
    A = M - np.outer(mu, mu) + WHITEN_EPS * np.eye(d)
    s = 0.0  # trace as an i-ordered fold (matches the oracle's list_reduce)
    for i in range(d):
        s += A[i, i]

    def matmul_kfold(P, Q):
        # k-ordered left-fold matmul: entry (i,j) accumulates
        # P[i,0]Q[0,j] + P[i,1]Q[1,j] + ... in EXACT k order — the same
        # float sequence as the oracle's list_reduce, so results are
        # bit-identical (a BLAS gemm's blocked summation would not be)
        acc = np.zeros((d, d))
        for k in range(d):
            acc += P[:, k : k + 1] * Q[k : k + 1, :]
        return acc

    eye = np.eye(d)
    Y, Z = A / s, eye.copy()
    for _ in range(WHITEN_K):
        T = 0.5 * (3.0 * eye - matmul_kfold(Z, Y))
        Y, Z = matmul_kfold(Y, T), matmul_kfold(T, Z)
    W = Z / np.sqrt(s)
    bw = spark.sparkContext.broadcast((mu, W))

    def whiten(batches):
        m, w = bw.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["emb"].to_numpy())
            # k-ordered fold of (x_k - mu_k) * W[k, :] — bit-identical to
            # the oracle's per-row list_reduce
            acc = np.zeros((len(X), d))
            for k in range(d):
                acc += (X[:, k : k + 1] - m[k]) * w[k : k + 1, :]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "white": [
                        "[" + ",".join(f"{v:.9f}" for v in row) + "]"
                        for row in acc
                    ],
                }
            )

    return e.mapInPandas(whiten, "vec_id long, white string")


# ---------------------------------------------------------------------------
# win_anomaly_zscore
# ---------------------------------------------------------------------------

ZSCORE_W = 20  # trailing window width (rows)
ZSCORE_MIN = 10  # minimum observations before scoring
ZSCORE_TAU = 2.5

WIN_ANOMALY_ZSCORE_ORACLE = f"""
    WITH s AS (
      SELECT event_id, user_id, value,
             avg({finite_sql('value')}) OVER w AS mu,
             stddev_samp({finite_sql('value')}) OVER w AS sd,
             count(*) OVER w AS n
      FROM events WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN {ZSCORE_W - 1} PRECEDING AND CURRENT ROW)
    ), scored AS (
      -- z only for WELL-SCALED observations (extreme-sweep upgrade of
      -- the r7 non-finite rule): an out-of-contract value's raw z
      -- inherits the engines' different windowed-aggregate summation
      -- orders (segment tree vs frame rescan) in the last ULP
      SELECT event_id, user_id,
             {money_sql(f"({finite_sql('value')} - mu) / sd", 4, 8)} AS z
      FROM s WHERE n >= {ZSCORE_MIN} AND sd > 0
    )
    SELECT event_id, user_id, z,
           (abs(z) > {ZSCORE_TAU}) AS is_outlier
    FROM scored
"""


@op("win_anomaly_zscore", oracle=WIN_ANOMALY_ZSCORE_ORACLE, tags=("window", "extra"))
def win_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-style anomaly scoring in batch: each event's z-score
    against the TRAILING 20-observation window of its own series (mean and
    sample stddev over the frame; scored only once ≥10 observations
    exist, so cold-start noise never flags). The timeseries quality gate
    that pairs with dq_expectation_checks — DQ validates schema-level
    invariants, this flags distributional breaks per entity.

    Plan: one exchange on user_id shared by all three frame aggregates
    (same window spec ⇒ one sort, one pass); the boolean is derived from
    the ROUNDED z on both engines so the flag can't disagree at the
    threshold boundary. At 100 TB: linear per series, O(frame) state —
    and the same frame algebra runs unchanged as a Structured Streaming
    window over event-time."""
    e = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(ZSCORE_W - 1), W.currentRow)
    )
    # frame stats AND the scored observation over WELL-SCALED values only
    # (extreme-sweep upgrade of the r7 non-finite rule): an out-of-
    # contract value has no portable z — its raw (value - mu)/sd carries
    # the engines' different windowed summation orders in the last ULP —
    # so it scores NULL on both sides
    mu = F.avg(finite(F.col("value"))).over(w)
    sd = F.stddev_samp(finite(F.col("value"))).over(w)
    n = F.count("*").over(w)
    z = money((finite(F.col("value")) - mu) / sd, 4, 8)
    return (
        e.select(
            "event_id",
            "user_id",
            z.alias("z"),
            (F.abs(z) > ZSCORE_TAU).alias("is_outlier"),
            n.alias("_n"),
            sd.alias("_sd"),
        )
        .filter((F.col("_n") >= ZSCORE_MIN) & (F.col("_sd") > 0))
        .drop("_n", "_sd")
    )
