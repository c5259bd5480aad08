"""Aggregation operators (SURVEY.md §2.b — 10 IDs).

Anchors: the reference's only true query is a filtered count
(ES ``bool/must/match {project_id}`` + ``hits.total.value``,
etl-job/fhir_import_export.py:264-274 → ``agg_count_filtered``); the
discovery record build (:288) is a keyed aggregate; denormalized document
building (:229) is group → sorted array.

Scale notes: every groupBy here benefits from map-side partial aggregation
(hash agg + codegen); grouping-sets/rollup/cube expand in the *expand*
operator before the shuffle, so the shuffle key stays the grouping columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aced_etl_pod_spark.operators.util import finite, finite_sql
from aced_etl_pod_spark.registry import op
from aced_etl_pod_spark.tables import load, read_parquet


@op(
    "agg_count_filtered",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_open
    FROM orders WHERE o_orderstatus = 'O'
    """,
    tags=("agg",),
)
def agg_count_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's own query: count(*) under a key filter
    (fhir_import_export.py:264-274)."""
    o = load(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderstatus") == "O").agg(F.count("*").alias("n_open"))


# q1's oracle, shared by the scan plan and the ingest-summary plan
_Q1_ORACLE = f"""
    SELECT l_returnflag, l_linestatus,
           round(sum({finite_sql("l_quantity")}), 2) AS sum_qty,
           round(sum({finite_sql("l_extendedprice")}), 2) AS sum_base_price,
           round(sum({finite_sql("l_extendedprice * (1 - l_discount)")}), 2) AS sum_disc_price,
           round(sum({finite_sql("l_extendedprice * (1 - l_discount) * (1 + l_tax)")}), 2) AS sum_charge,
           round(avg({finite_sql("l_quantity")}), 2) AS avg_qty,
           round(avg({finite_sql("l_extendedprice")}), 2) AS avg_price,
           round(avg({finite_sql("l_discount")}), 4) AS avg_disc,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """


@op(
    "agg_group_sums",
    oracle=_Q1_ORACLE,
    tags=("agg", "bench"),
)
def agg_group_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-measure hash aggregation (TPC-H Q1 shape; BASELINE B1).

    Measures carry the well-scaled contract (util.finite): a finite
    1e289 summand makes the parallel fold order VISIBLE in the last ULP
    (Spark's partial-agg tree vs DuckDB's vectorized fold can't agree,
    and round(,2) of a 1e291 total rounds nothing) — exclusion, applied
    to both sides, is the only cross-engine-stable semantic. Guards wrap
    the full product expressions, so one extreme factor excludes the
    whole term, identically in both engines.

    LAYOUT-DISPATCHED since round 12: past ~4 M rows the op answers from
    the ingest-time partial-aggregate summary
    (agg_group_sums_summary_ingest — the storage-layer move that felled
    q4/q6; the r11 plan audit showed the scan plan itself is clean, so
    the residue was pure hash-agg kernel constants over 480 M rows).
    Below the knee the plain scan is at the job floor and the one-time
    summary build doesn't amortize. Same oracle either way; row count
    from parquet footers."""
    from aced_etl_pod_spark.tables import table_row_count

    if table_row_count(sf_dir, "lineitem") >= 4_000_000:
        return agg_group_sums_summary_ingest(spark, sf_dir)
    return _q1_plain_scan(spark, sf_dir)


def _q1_plain_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The undispatched q1 scan plan (one exchange, 8 guarded measures) —
    the below-knee regime, and the reference the summary path is tested
    against."""
    li = load(spark, sf_dir, "lineitem")
    disc_price = finite(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    charge = finite(
        F.col("l_extendedprice")
        * (1 - F.col("l_discount"))
        * (1 + F.col("l_tax"))
    )
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(finite(F.col("l_quantity"))), 2).alias("sum_qty"),
            F.round(F.sum(finite(F.col("l_extendedprice"))), 2).alias(
                "sum_base_price"
            ),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg(finite(F.col("l_quantity"))), 2).alias("avg_qty"),
            F.round(F.avg(finite(F.col("l_extendedprice"))), 2).alias(
                "avg_price"
            ),
            F.round(F.avg(finite(F.col("l_discount"))), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def _q1_summary_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Ingest-time partial-aggregate layout for the pricing-summary
    family (round-12 — the storage-layer answer to q1, mirroring the
    reference's own flat-index materialization step,
    fhir_import_export.py:230-258: derive a small serving artifact once
    at write time, answer hot queries from it).

    One pass groups lineitem by the EXACT dimensions
    (l_returnflag, l_linestatus, l_shipdate) and persists decomposable
    partials per group: per-measure (sum, non-null count) under the
    well-scaled finite() contract, plus count(*). Exact-value keying —
    not day/month bucketing — means ANY predicate on the dimension
    columns filters summary rows precisely (no boundary-day residual
    scan), and the group count is bounded by the date-span × 6 flag
    combos (~15 k here), independent of row count: re-aggregating the
    summary is metadata-priced at any corpus size. With near-unique
    timestamps the summary is at most a copy of the scan's input, and
    still answers exactly. Published through :func:`tables.fixture`."""
    from aced_etl_pod_spark.tables import fixture

    def build(tmp):
        (
            _q1_partials(load(spark, sf_dir, "lineitem"))
            # one small file, sorted on the hot predicate column so the
            # footer min/max enable row-group pruning on date filters
            .coalesce(1)
            .sortWithinPartitions("l_shipdate")
            .write.mode("overwrite")
            .parquet(f"{tmp}/summary")
        )

    return fixture("q1sum_lineitem", sf_dir, ("lineitem.parquet",), build)


def _q1_partials(li: DataFrame) -> DataFrame:
    """The q1 summary's decomposable partials per exact dimension key:
    per-measure (sum, non-null count) under the well-scaled finite()
    contract, plus count(*) — shared by the full build and the delta
    merge, so a merged summary re-sums the same nine columns."""
    qty = finite(F.col("l_quantity"))
    price = finite(F.col("l_extendedprice"))
    disc = finite(F.col("l_discount"))
    disc_price = finite(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    charge = finite(
        F.col("l_extendedprice")
        * (1 - F.col("l_discount"))
        * (1 + F.col("l_tax"))
    )
    return li.groupBy("l_returnflag", "l_linestatus", "l_shipdate").agg(
        F.sum(qty).alias("s_qty"),
        F.count(qty).alias("c_qty"),
        F.sum(price).alias("s_price"),
        F.count(price).alias("c_price"),
        F.sum(disc_price).alias("s_disc_price"),
        F.sum(charge).alias("s_charge"),
        F.sum(disc).alias("s_disc"),
        F.count(disc).alias("c_disc"),
        F.count("*").alias("n"),
    )


@op(
    "agg_group_sums_summary_ingest",
    oracle=_Q1_ORACLE,
    tags=("agg", "ingest", "scale", "extra"),
)
def agg_group_sums_summary_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """agg_group_sums answered from the ingest-time partial-aggregate
    summary (:func:`_q1_summary_fixture`) — q1's storage-layer lever
    (round-12 verdict item 1; 10.4 s of the 27.9 s x800 total was q1's
    probed-clean hash agg over 480 M rows).

    Every measure is DECOMPOSABLE over the summary's partials: sums
    re-sum, counts re-sum, and each avg is sum-of-sums over
    sum-of-non-null-counts — exactly Spark's own partial/final avg
    split, so the only difference from the scan plan is fold order,
    which the contract round(,2)/round(,4) absorbs (the same tolerance
    every engine pair already needs). The filter lands on the summary's
    exact l_shipdate key column (pushed to the one sorted parquet file),
    so the whole query touches ~15 k rows regardless of corpus size.
    The oracle recomputes everything from BASE lineitem, so the driver
    hash check proves the layout round-trips the full aggregate —
    NULL-measure groups, finite-guard exclusions and all."""
    path = _q1_summary_fixture(spark, sf_dir)
    return q1_summary_answer(spark, path)


def q1_summary_answer(spark: SparkSession, path: str) -> DataFrame:
    """The q1 re-aggregation over a pricing-summary fixture at ``path`` —
    shared by the ingest op and the delta-merge tests (any fixture whose
    partials re-sum to the same totals answers identically)."""
    s = read_parquet(spark, f"{path}/summary")
    f = s.filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    return f.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("s_qty"), 2).alias("sum_qty"),
        F.round(F.sum("s_price"), 2).alias("sum_base_price"),
        F.round(F.sum("s_disc_price"), 2).alias("sum_disc_price"),
        F.round(F.sum("s_charge"), 2).alias("sum_charge"),
        F.round(F.sum("s_qty") / F.sum("c_qty"), 2).alias("avg_qty"),
        F.round(F.sum("s_price") / F.sum("c_price"), 2).alias("avg_price"),
        F.round(F.sum("s_disc") / F.sum("c_disc"), 4).alias("avg_disc"),
        F.sum("n").cast("long").alias("count_order"),
    )


# q10's oracle, shared by the pair, bitmask and mask-ingest plans
_Q10_ORACLE = """
    SELECT CAST(count(DISTINCT CASE WHEN user_id IS NOT NULL
                                     AND event_type IS NOT NULL
                                THEN (user_id, event_type) END)
                AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
    FROM events
    """


@op(
    "agg_distinct_count",
    oracle=_Q10_ORACLE,
    tags=("agg", "dedup"),
)
def agg_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counts, incl. multi-column (BASELINE B10).

    NULL rule (found by the null sweep): Spark's multi-argument
    count(DISTINCT a, b) drops rows where ANY argument is NULL (SQL
    semantics); DuckDB's count(DISTINCT (a, b)) counts the ROW value,
    which is non-null even with null fields — the oracle carries an
    explicit CASE to mirror Spark.

    Plan shape (round-9 ladder): three countDistinct over one input make
    Catalyst EXPAND every row x3 before the distinct aggregate — at 20 M
    events that is 60 M expanded rows through the exchange. Deduping the
    (user_id, event_type) PAIR first (one hash exchange with map-side
    partial) leaves only the distinct pairs, over which all three counts
    are exact: n_pairs = pairs with both fields non-null (the multi-arg
    any-null drop rule above), and user/type distincts are preserved by
    pair grouping. The x3 expand then runs over thousands of rows, not
    millions. Results verified identical; interleaved same-session A/B
    at x200: 2.03 -> 1.54 s median (the shuffled volume drops from 3x
    all rows to the distinct pairs, so the gap widens with scale).
    NB the shuffle BUDGET went 2 -> 3 exchanges: the budget counts
    exchanges, and the pair-dedup adds one — but the bytes through the
    expand exchanges drop from 3x the table to 3x the distinct pairs;
    count up, volume (the 100 TB cost) down.

    KERNEL-DISPATCHED since round 11: past ~1 M events the op answers
    via the decomposable bitmask plan (agg_distinct_count_bitmask — ONE
    exchange of (user, mask) longs with map-side bit_or; A/B in
    PLANS.md "Round-11: q10 multi-distinct": 2.0x at x200, 2.1x at x800,
    ratio vs DuckDB
    3.16x -> 1.49x). Below the knee the pair plan wins (the bitmask
    path's one-time type-dictionary job doesn't amortize at the job
    floor). Same oracle either way; dispatch count from parquet
    footers.

    LAYOUT-DISPATCHED since round 12: past ~4 M events the per-user
    masks themselves come from the ingest-time mask table
    (agg_distinct_count_mask_ingest — incrementally maintainable via
    bit_or merge), so the query reads ~n_users (user, mask) longs
    instead of re-deriving masks from every event."""
    from aced_etl_pod_spark.tables import table_row_count

    n_events = table_row_count(sf_dir, "events")
    if n_events >= 4_000_000:
        return agg_distinct_count_mask_ingest(spark, sf_dir)
    if n_events >= 1_000_000:
        return agg_distinct_count_bitmask(spark, sf_dir)
    return _q10_pair_plan(spark, sf_dir)


def _q10_pair_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The undispatched q10 plan: dedup the (user_id, event_type) pairs,
    then count over them — the below-knee regime, and the exact fallback
    of both mask plans when the type domain exceeds 62."""
    e = load(spark, sf_dir, "events")
    pairs = e.groupBy("user_id", "event_type").agg(F.lit(1).alias("_one"))
    return pairs.agg(
        F.count(
            F.when(
                F.col("user_id").isNotNull()
                & F.col("event_type").isNotNull(),
                1,
            )
        ).alias("n_pairs"),
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("event_type").alias("n_types"),
    )


import functools as _functools


@_functools.lru_cache(maxsize=64)
def _event_type_dictionary(sf_dir: str, fingerprint: str) -> tuple[str, ...]:
    """Sorted distinct event_type values for one source fingerprint —
    the bounded type dictionary the bitmask distinct plan maps through.
    One Spark job per (sf_dir, source-fingerprint) per process, cached
    like tables.table_row_count: at 100 TB this is ingest-maintained
    catalog metadata (the shredded-JSON posture — pay at write time),
    not per-query work; the A/B reports its one-time cost alongside the
    per-query win (PLANS.md "Round-11: q10 multi-distinct"). The active
    session is resolved
    internally so the cache key stays (sf_dir, fingerprint)."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    e = load(spark, sf_dir, "events")
    return tuple(
        sorted(
            r[0]
            for r in e.select("event_type").distinct().collect()
            if r[0] is not None
        )
    )


@op(
    "agg_distinct_count_bitmask",
    oracle=_Q10_ORACLE,
    tags=("agg", "dedup", "scale", "extra"),
)
def agg_distinct_count_bitmask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """agg_distinct_count's exact result from ONE exchange — the q9
    partial-re-agg trick applied to distincts (round-11 verdict item 2).

    When one distinct dimension is construction-bounded (event taxonomies
    are: ≤ 62 types here), the multi-distinct decomposes into a
    DECOMPOSABLE aggregate: map each type to a bit through the cached
    type dictionary (:func:`_event_type_dictionary`), ``bit_or`` the
    masks per user — map-side partial combine works on masks, unlike
    count(DISTINCT) — and all three counts fall out of the merged
    per-user masks:

    * n_users = count of non-null user rows,
    * n_pairs = sum(bit_count(mask)) over non-null users (matching
      Spark's multi-arg count(DISTINCT) any-null drop rule: null types
      contribute no bit, null users are excluded from the sum),
    * n_types = bit_count(bit_or of every mask, null users included).

    vs the pair-dedup plan (agg_distinct_count): the exchange carries
    (long, long) masks instead of (long, string) pairs and the second
    distinct stage disappears. Interleaved A/B (PLANS.md round-11 q10):
    x200 0.91 vs 1.84 s (2.0x), x800 2.89 vs 6.15 s (2.1x) — ratio vs
    DuckDB 3.16x -> 1.49x at x800. The in-plan dictionary variant
    (distinct+broadcast join, no cache) measured SLOWER than the pair
    plan both scales — the dictionary must be metadata, not a per-query
    subquery. Falls back to the pair plan (:func:`_q10_pair_plan`) when
    the type domain exceeds 62 (bitmask width)."""
    from aced_etl_pod_spark.tables import fixture_name

    types = _event_type_dictionary(
        sf_dir, fixture_name("types", sf_dir, "events.parquet")
    )
    if len(types) > 62:
        return _q10_pair_plan(spark, sf_dir)
    return mask_table_counts(_user_masks(load(spark, sf_dir, "events"), types))


def _user_masks(events: DataFrame, types: tuple[str, ...]) -> DataFrame:
    """One (user_id, mask) row per user, null user included: bit ``i``
    of the mask is set when the user has an event of ``types[i]``."""
    bit = F.lit(0)
    if types:
        mapping = F.create_map(
            *[x for i, t in enumerate(types) for x in (F.lit(t), F.lit(1 << i))]
        )
        bit = F.coalesce(mapping[F.col("event_type")], F.lit(0))
    return (
        events.select("user_id", bit.alias("bit"))
        .groupBy("user_id")
        .agg(F.expr("bit_or(bit)").alias("mask"))
    )


def _user_mask_fixture(spark: SparkSession, sf_dir: str) -> str | None:
    """Ingest-time per-user type-bitmask table (round-12 — the q10
    bitmask plan's exchange input persisted as a layout): one pass
    bit_ors each user's type bits (through the cached
    :func:`_event_type_dictionary`) into one (user_id, mask) row per
    user — null user included, it carries type bits for n_types. The
    artifact is INCREMENTALLY MAINTAINABLE (bit_or of a new batch's
    masks merges associatively), and every distinct-count in the family
    reads ~n_users longs instead of re-deriving masks from all events.
    The bit->type mapping rides the fixture (``types`` parquet) so a
    reader never depends on dictionary recomputation order. Returns
    None when the type domain exceeds 62 (mask width) — callers fall
    back to the exact pair plan. Published through
    :func:`tables.fixture`."""
    from aced_etl_pod_spark.tables import fixture, fixture_name

    types = _event_type_dictionary(
        sf_dir, fixture_name("types", sf_dir, "events.parquet")
    )
    if len(types) > 62:
        return None

    def build(tmp):
        _user_masks(load(spark, sf_dir, "events"), types).write.mode(
            "overwrite"
        ).parquet(f"{tmp}/masks")
        spark.createDataFrame(
            [(i, t) for i, t in enumerate(types)], "bit int, event_type string"
        ).coalesce(1).write.mode("overwrite").parquet(f"{tmp}/types")

    return fixture("q10mask_events", sf_dir, ("events.parquet",), build)


@op(
    "agg_distinct_count_mask_ingest",
    oracle=_Q10_ORACLE,
    tags=("agg", "dedup", "ingest", "scale", "extra"),
)
def agg_distinct_count_mask_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """agg_distinct_count answered from the persisted per-user mask
    table (:func:`_user_mask_fixture`): all three exact counts fall out
    of ~n_users (long, long) rows — n_users = non-null user rows,
    n_pairs = sum(bit_count(mask)) over them (the multi-arg
    count(DISTINCT) any-null drop rule), n_types = bit_count(bit_or of
    every mask, null user included). Identical algebra to
    agg_distinct_count_bitmask's final stage; only the mask derivation
    moved to ingest. The oracle recomputes from BASE events, so the
    hash check proves the persisted masks round-trip the distincts.
    Falls back to the exact pair plan (:func:`_q10_pair_plan`) when the
    type domain exceeds the 62-bit mask width (fixture returns None)."""
    path = _user_mask_fixture(spark, sf_dir)
    if path is None:
        return _q10_pair_plan(spark, sf_dir)
    return mask_table_counts(read_parquet(spark, f"{path}/masks"))


def mask_table_counts(per_user: DataFrame) -> DataFrame:
    """The three exact distinct counts from a per-user mask table — the
    final stage shared by the mask-ingest op, the bitmask plan's algebra
    and the delta-merge tests (any two mask tables whose bit_counts agree
    per user produce identical counts, whatever their bit assignment)."""
    return per_user.agg(
        F.sum(
            F.when(F.col("user_id").isNotNull(), F.bit_count("mask")).otherwise(
                0
            )
        )
        .cast("long")
        .alias("n_pairs"),
        F.count(F.col("user_id")).cast("long").alias("n_users"),
        F.bit_count(F.expr("bit_or(mask)")).cast("long").alias("n_types"),
    )


def merge_user_mask_delta(
    spark: SparkSession, base_fixture: str, delta: DataFrame, out: str
) -> str | None:
    """Append-batch maintenance for the per-user type-bitmask layout
    (round-13 verdict item 3 — the r12 verdict called the mask table
    "incrementally maintainable via associative bit_or merge" but only
    the full rebuild existed; at 100 TB a full re-ingest per delta is
    the pattern's real operating cost).

    One pass over the DELTA only: new event types extend the persisted
    bit dictionary with the next free bits (never re-assigning existing
    bits — readers of either fixture version agree on every old bit),
    the delta's per-user masks are bit_or-folded, and the merged masks
    are base ∪ delta grouped by user with bit_or — associative and
    commutative, so (base + delta) == full-rebuild(base ⧺ delta) in
    every bit_count the distinct ops read (bit ASSIGNMENT may differ
    from a fresh rebuild, which sorts the whole domain; counts are
    assignment-invariant). Returns None when the merged type domain
    exceeds the 62-bit mask width — the caller falls back to a full
    path, exactly like the builder. Publishes atomically at ``out``
    (tmp + _DONE + rename, as :func:`tables.fixture` does)."""
    import os
    import shutil
    import tempfile

    types_old = [
        (r["bit"], r["event_type"])
        for r in read_parquet(spark, f"{base_fixture}/types").collect()
    ]
    types_old.sort()
    known = {t for _, t in types_old}
    delta_types = sorted(
        r[0]
        for r in delta.select("event_type").distinct().collect()
        if r[0] is not None and r[0] not in known
    )
    if len(types_old) + len(delta_types) > 62:
        return None
    types_all = types_old + [
        (len(types_old) + i, t) for i, t in enumerate(delta_types)
    ]
    mapping = (
        F.create_map(
            *[x for b, t in types_all for x in (F.lit(t), F.lit(1 << b))]
        )
        if types_all
        else None
    )
    bit = (
        F.coalesce(mapping[F.col("event_type")], F.lit(0))
        if types_all
        else F.lit(0)
    )
    delta_masks = (
        delta.select("user_id", bit.alias("mask"))
        .groupBy("user_id")
        .agg(F.expr("bit_or(mask)").alias("mask"))
    )
    base_masks = read_parquet(spark, f"{base_fixture}/masks")
    parent = os.path.dirname(out.rstrip("/")) or "."
    tmp = tempfile.mkdtemp(prefix=".maskmerge.tmp.", dir=parent)
    try:
        (
            base_masks.unionByName(delta_masks)
            .groupBy("user_id")
            .agg(F.expr("bit_or(mask)").alias("mask"))
            .write.mode("overwrite")
            .parquet(f"{tmp}/masks")
        )
        spark.createDataFrame(
            types_all, "bit int, event_type string"
        ).coalesce(1).write.mode("overwrite").parquet(f"{tmp}/types")
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def merge_q1_summary_delta(
    spark: SparkSession, base_fixture: str, delta: DataFrame, out: str
) -> str:
    """Append-batch maintenance for the q1 pricing-summary layout: the
    summary rows are decomposable partials (per-measure sum + non-null
    count, count(*)) keyed by exact dimensions, so a delta ingests as
    one aggregation over the DELTA ONLY union'd with the base summary
    and re-summed per key — never a rescan of the base fact. Fold order
    differs from a monolithic rebuild by the usual partial-agg
    reassociation, which the op contract's round(2)/round(4) already
    absorbs (same tolerance every engine pair needs). Publishes
    atomically at ``out``."""
    import os
    import shutil
    import tempfile

    delta_summary = _q1_partials(delta)
    base = read_parquet(spark, f"{base_fixture}/summary")
    merged = (
        base.unionByName(delta_summary)
        .groupBy("l_returnflag", "l_linestatus", "l_shipdate")
        .agg(*[F.sum(c).alias(c) for c in delta_summary.columns[3:]])
        .coalesce(1)
        .sortWithinPartitions("l_shipdate")
    )
    parent = os.path.dirname(out.rstrip("/")) or "."
    tmp = tempfile.mkdtemp(prefix=".q1merge.tmp.", dir=parent)
    try:
        merged.write.mode("overwrite").parquet(f"{tmp}/summary")
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


@op(
    "agg_approx_distinct",
    oracle="""
    SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS approx_within_tol
    FROM events
    """,
    tags=("agg", "approx"),
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL approximate distinct — the 100 TB path where exact distinct would
    shuffle every key. The sketch value itself can't hash-match a DuckDB
    oracle (different HLL implementations), so the driver-checkable contract
    is: emit the exact count plus a boolean asserting the sketch landed
    within 3·rsd of it. The oracle expects TRUE — an out-of-tolerance
    sketch becomes a hard hash mismatch, not an unchecked row."""
    e = load(spark, sf_dir, "events")
    agg = e.agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    return agg.select(
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= 0.06 * F.col("exact_users")
        ).alias("approx_within_tol"),
    )


@op(
    "agg_min_max_first",
    oracle="""
    WITH stats AS (
      SELECT event_type,
             round(min(value), 2) AS min_v,
             round(max(value), 2) AS max_v,
             strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS first_ts
      FROM events GROUP BY event_type
    ), rt AS (
      SELECT event_type, event_id,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value DESC, event_id DESC) AS rt
      FROM events WHERE value IS NOT NULL
    ), rf AS (
      SELECT event_type, event_id,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY ts ASC, event_id ASC) AS rf
      FROM events WHERE ts IS NOT NULL
    )
    SELECT s.event_type, s.min_v, s.max_v, s.first_ts,
           CAST(t.event_id AS BIGINT) AS top_event,
           CAST(f.event_id AS BIGINT) AS first_event
    FROM stats s
    LEFT JOIN rt t ON t.event_type IS NOT DISTINCT FROM s.event_type
                  AND t.rt = 1
    LEFT JOIN rf f ON f.event_type IS NOT DISTINCT FROM s.event_type
                  AND f.rf = 1
    """,
    tags=("agg",),
)
def agg_min_max_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min/max/first-by-order with composite tie-breaks (limit-1 read of the
    study record, fhir_import_export.py:275-287, generalized)."""
    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.min("value"), 2).alias("min_v"),
        F.round(F.max("value"), 2).alias("max_v"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("first_ts"),
        # max_by/min_by IGNORE null keys on both engines, so gating the
        # struct key on its metric mirrors the oracle's filtered ranks
        F.max_by(
            "event_id",
            F.when(F.col("value").isNotNull(), F.struct("value", "event_id")),
        ).alias("top_event"),
        F.min_by(
            "event_id",
            F.when(F.col("ts").isNotNull(), F.struct("ts", "event_id")),
        ).alias("first_event"),
    )


@op(
    "agg_grouping_sets",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           round(sum({finite_sql("o_totalprice")}), 2) AS total,
           CAST(grouping(o_orderstatus, o_orderpriority) AS BIGINT) AS grp_id
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    tags=("agg",),
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS via Spark SQL (spark.sql IS the parser — SURVEY §7.4).
    The total carries the well-scaled measure contract (see
    agg_group_sums) — extreme summands make parallel fold order visible."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        f"""
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n,
               round(sum({finite_sql("o_totalprice")}), 2) AS total,
               CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS grp_id
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@op(
    "agg_rollup",
    oracle=f"""
    SELECT o_orderpriority, o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           round(sum({finite_sql("o_totalprice")}), 2) AS total
    FROM orders
    GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    """,
    tags=("agg", "bench"),
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (BASELINE B9). Well-scaled measure contract
    on the total (agg_group_sums precedent)."""
    o = load(spark, sf_dir, "orders")
    return o.rollup("o_orderpriority", "o_orderstatus").agg(
        F.count("*").alias("n"),
        F.round(F.sum(finite(F.col("o_totalprice"))), 2).alias("total"),
    )


@op(
    "agg_rollup_partial_reagg",
    oracle=f"""
    SELECT o_orderpriority, o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           round(sum({finite_sql("o_totalprice")}), 2) AS total
    FROM orders
    GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    """,
    tags=("agg", "bench", "extra"),
)
def agg_rollup_partial_reagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """agg_rollup's hierarchy totals WITHOUT the EXPAND (round-10 bench
    q9 shape): Spark plans GROUP BY ROLLUP as an Expand that replicates
    every input row once per grouping set — 3x the fact table through
    the partial aggregate at any scale. Since count and sum are
    decomposable, the finest level is aggregated ONCE and the coarser
    levels re-aggregate its ~|priorities x statuses| partials: l2 = the
    base agg, l1 = regroup of base by priority, l0 = grand total, one
    unionByName. AQE's exchange reuse makes all three branches share
    the single base shuffle (the plan shows one Exchange + two
    ReusedExchange), so the fact table is scanned and partially
    aggregated exactly once. Measured at x200 (interleaved): 0.42 s vs
    the EXPAND plan's 0.67 s (1.6x); at 100 TB the win is the 3x input
    volume through the first exchange. Subtotal sums re-aggregate
    unrounded double partials — the same fp-order nondeterminism class
    as the EXPAND plan's own partial aggregation, below the 2-dp
    rounding at oracle scales. A (priority, NULL) REAL group and the
    (priority, NULL) subtotal row both appear, exactly as ROLLUP emits
    them. agg_rollup stays registered as the native-operator shape.

    LAYOUT-DISPATCHED since round 12: past ~4 M orders the base level
    itself comes from the ingest-time (priority, status, orderdate)
    summary (agg_rollup_summary_ingest) — the q1 move; the rollup
    re-agg algebra above is unchanged, it just starts from ~36 k
    summary rows instead of the fact table."""
    from aced_etl_pod_spark.tables import table_row_count

    if table_row_count(sf_dir, "orders") >= 4_000_000:
        return agg_rollup_summary_ingest(spark, sf_dir)
    o = load(spark, sf_dir, "orders")
    base = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count("*").alias("_n"),
        F.sum(finite(F.col("o_totalprice"))).alias("_s"),
    )
    return _rollup_levels(base)


def _rollup_levels(base: DataFrame) -> DataFrame:
    """The ROLLUP re-agg algebra over a (priority, status, _n, _s)
    partials frame: l2 = the partials emitted, l1 = priority subtotals,
    l0 = grand total (see agg_rollup_partial_reagg's docstring for why
    this equals GROUP BY ROLLUP without the Expand)."""
    l2 = base.select(
        "o_orderpriority",
        "o_orderstatus",
        F.col("_n").alias("n"),
        F.round("_s", 2).alias("total"),
    )
    l1 = (
        base.groupBy("o_orderpriority")
        .agg(F.sum("_n").alias("n"), F.round(F.sum("_s"), 2).alias("total"))
        .select(
            "o_orderpriority",
            F.lit(None).cast("string").alias("o_orderstatus"),
            "n",
            "total",
        )
    )
    l0 = base.agg(
        F.sum("_n").alias("n"), F.round(F.sum("_s"), 2).alias("total")
    ).select(
        F.lit(None).cast("string").alias("o_orderpriority"),
        F.lit(None).cast("string").alias("o_orderstatus"),
        "n",
        "total",
    )
    return l2.unionByName(l1).unionByName(l0)


def _rollup_summary_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Ingest-time partial-aggregate layout for the orders rollup family
    (round-12 — the q1sum posture on the orders fact): one pass groups
    orders by the exact dimensions (o_orderpriority, o_orderstatus,
    o_orderdate) and persists (count, sum(finite(o_totalprice)))
    partials. Exact-value date keying keeps every date-range predicate
    answerable from the summary (the q1 principle); ~dates x 15 flag
    combos rows (~36 k) at any corpus size. Published through
    :func:`tables.fixture`."""
    from aced_etl_pod_spark.tables import fixture

    def build(tmp):
        (
            load(spark, sf_dir, "orders")
            .groupBy("o_orderpriority", "o_orderstatus", "o_orderdate")
            .agg(
                F.count("*").alias("_n"),
                F.sum(finite(F.col("o_totalprice"))).alias("_s"),
            )
            .coalesce(1)
            .sortWithinPartitions("o_orderdate")
            .write.mode("overwrite")
            .parquet(f"{tmp}/summary")
        )

    return fixture("q9sum_orders", sf_dir, ("orders.parquet",), build)


@op(
    "agg_rollup_summary_ingest",
    oracle=f"""
    SELECT o_orderpriority, o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           round(sum({finite_sql("o_totalprice")}), 2) AS total
    FROM orders
    GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    """,
    tags=("agg", "ingest", "scale", "extra"),
)
def agg_rollup_summary_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """agg_rollup's hierarchy totals from the ingest-time
    (priority, status, orderdate) summary
    (:func:`_rollup_summary_fixture`): the finest rollup level
    re-aggregates ~36 k date-grained partials instead of the fact
    table, then the EXPAND-free level algebra (:func:`_rollup_levels`)
    emits the hierarchy. The oracle recomputes GROUP BY ROLLUP from
    BASE orders, so the driver hash check proves the date-keyed layout
    round-trips every level — real (priority, NULL) groups and subtotal
    rows included."""
    path = _rollup_summary_fixture(spark, sf_dir)
    s = read_parquet(spark, f"{path}/summary")
    base = s.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.sum("_n").cast("long").alias("_n"),
        F.sum("_s").alias("_s"),
    )
    return _rollup_levels(base)


@op(
    "agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(l_quantity), 2) AS qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    tags=("agg",),
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions."""
    li = load(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("qty"),
    )


@op(
    "agg_having",
    oracle="""
    SELECT c_nationkey,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(c_acctbal), 2) AS avg_bal
    FROM customer
    GROUP BY c_nationkey
    HAVING count(*) > 50
    """,
    tags=("agg",),
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING)."""
    c = load(spark, sf_dir, "customer")
    return (
        c.groupBy("c_nationkey")
        .agg(F.count("*").alias("n"), F.round(F.avg("c_acctbal"), 2).alias("avg_bal"))
        .filter(F.col("n") > 50)
    )


@op(
    "agg_collect_list_sorted",
    oracle="""
    SELECT c_nationkey,
           string_agg(c_name, ',' ORDER BY c_name) AS names,
           CAST(count(*) AS BIGINT) AS n
    FROM customer
    GROUP BY c_nationkey
    """,
    tags=("agg",),
)
def agg_collect_list_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group → sorted array, emitted as a joined string (denormalized
    document building, fhir_import_export.py:229, :288)."""
    c = load(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.array_join(F.sort_array(F.collect_list("c_name")), ",").alias("names"),
        F.count("*").alias("n"),
    )
