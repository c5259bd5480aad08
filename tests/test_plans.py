"""Plan-shape assertions (the 100 TB discipline, SURVEY §4): filters reach
the parquet scan, small dims broadcast, partition pruning prunes, top-k
compiles to TakeOrdered — checked on the physical plan text, the same way
a human would read .explain()."""

from __future__ import annotations

from pyspark.sql import functions as F

from aced_etl_pod_spark.operators.joins import join_multiway_star
from aced_etl_pod_spark.operators.scans import scan_parquet
from aced_etl_pod_spark.operators.sorts_sets import limit_topk_global
from aced_etl_pod_spark.plans.storage import write_partitioned
from aced_etl_pod_spark.tables import load
from tests.conftest import SF_SMALL


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(scan_parquet(spark, SF_SMALL))
    assert "PushedFilters: [" in plan
    assert "GreaterThan(l_quantity,25.0)" in plan or "l_quantity" in plan.split("PushedFilters")[1][:200]


def test_column_pruning(spark):
    df = load(spark, SF_SMALL, "lineitem").select("l_orderkey")
    plan = _plan(df)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_comment" not in read_schema
    assert "l_extendedprice" not in read_schema


def test_star_join_broadcasts_dims(spark):
    plan = _plan(join_multiway_star(spark, SF_SMALL))
    assert plan.count("BroadcastHashJoin") >= 2  # nation + region (customer may SMJ)
    assert "CartesianProduct" not in plan


def test_global_topk_is_take_ordered(spark):
    plan = _plan(limit_topk_global(spark, SF_SMALL))
    assert "TakeOrderedAndProject" in plan  # per-partition heaps, no global sort


def test_cosine_topk_fast_is_single_stage(spark):
    """The bench cosine kernel must be one scan → project → TakeOrdered:
    no shuffle, no broadcast build (the query vector is inlined as
    literals), no Python evaluation."""
    from aced_etl_pod_spark.operators.similarity import sim_cosine_topk_fast

    plan = _plan(sim_cosine_topk_fast(spark, SF_SMALL))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan
    assert "BroadcastExchange" not in plan
    assert "Python" not in plan  # ArrowEvalPython / BatchEvalPython absent


def test_partition_pruning_on_partitioned_table(spark, tmp_path):
    path = str(tmp_path / "orders_part")
    write_partitioned(load(spark, SF_SMALL, "orders"), path, "o_orderstatus")
    df = spark.read.parquet(path).filter(F.col("o_orderstatus") == "F")
    plan = _plan(df)
    # static partition pruning: only the o_orderstatus=F directory survives
    assert "PartitionFilters: [isnotnull(o_orderstatus" in plan.replace("#", " #").replace(
        "o_orderstatus #", "o_orderstatus#"
    ) or "o_orderstatus" in plan.split("PartitionFilters:")[1][:120]


def test_bucketed_join_skips_exchange(spark):
    """The 100 TB co-location claim, verified on the plan: joining two
    tables bucketed on the key sort-merges with no shuffle between scan and
    join — the only Exchange left is the downstream aggregation's."""
    from aced_etl_pod_spark.operators.scale_ops import join_bucketed_colocated

    plan = _plan(join_bucketed_colocated(spark, SF_SMALL))
    assert "SortMergeJoin" in plan
    assert "Bucketed: true" in plan
    join_part = plan.split("SortMergeJoin")[0]
    assert "Exchange" not in join_part.split("== Physical Plan ==")[-1].split("HashAggregate")[-1]
    # strongest form: exactly one exchange in the whole plan (the final agg)
    assert plan.count("Exchange") <= 2  # agg exchange (+ AQE read) only


def test_salted_count_matches_plain(spark):
    from aced_etl_pod_spark.plans.scale import salted_group_count

    li = load(spark, SF_SMALL, "lineitem")
    salted = {
        (r["l_returnflag"], r["n"])
        for r in salted_group_count(li, "l_returnflag", "l_orderkey").collect()
    }
    plain = {
        (r["l_returnflag"], r["count"])
        for r in li.groupBy("l_returnflag").count().collect()
    }
    assert salted == plain


def test_agg_has_partial_aggregation(spark):
    df = (
        load(spark, SF_SMALL, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("q"))
    )
    plan = _plan(df)
    # map-side combine: two HashAggregate nodes around the exchange
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan


def test_bucketized_range_join_is_hash_join(spark):
    """The band-join scale rewrite must compile to an equi hash join —
    never a nested-loop over the cross product."""
    from aced_etl_pod_spark.operators.extra_ops import join_range_bucketized

    plan = _plan(join_range_bucketized(spark, SF_SMALL))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_aqe_and_skew_handling_enabled(spark):
    """The 100 TB session contract: AQE + partition coalescing + skew-join
    splitting are on for every session the engine tunes."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true"
    # and an adaptive plan actually materializes
    from aced_etl_pod_spark.operators.joins import join_inner_hash

    df = join_inner_hash(spark, SF_SMALL)
    df.collect()
    assert "AdaptiveSparkPlan" in _plan(df)


def test_chunking_has_no_shuffle(spark):
    """Sliding-window chunking is embarrassingly parallel: per-row
    expressions only — any Exchange would mean an accidental shuffle."""
    from aced_etl_pod_spark.operators.corpus_ops import text_chunk_sliding_tokens

    plan = _plan(text_chunk_sliding_tokens(spark, SF_SMALL))
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_random_projection_broadcasts_weights(spark):
    """The JL weight matrix must broadcast (1k rows), and the only real
    shuffle is the (vec_id, k) partial agg."""
    from aced_etl_pod_spark.operators.corpus_ops import embedding_random_projection

    plan = _plan(embedding_random_projection(spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "partial" in plan.lower()  # map-side combine before the exchange


def test_curation_pipeline_is_one_fused_plan(spark):
    """The composed pipeline must stay a single Catalyst plan: exactly the
    dedup-window shuffle + the manifest agg shuffle, no Python, no
    cartesian."""
    from aced_etl_pod_spark.operators.corpus_ops import pipeline_corpus_curation

    plan = _plan(pipeline_corpus_curation(spark, SF_SMALL))
    assert "Python" not in plan
    assert "CartesianProduct" not in plan
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 2, f"expected <=2 hash exchanges, saw {n_exchanges}"


def test_asof_forward_single_user_shuffle(spark):
    """The forward as-of is the union+window formulation: one shuffle on
    user_id, never a range-banded join."""
    from aced_etl_pod_spark.operators.corpus_ops import join_asof_forward

    plan = _plan(join_asof_forward(spark, SF_SMALL))
    assert "SortMergeJoin" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2  # window + distinct


def test_dynamic_partition_pruning_active(spark):
    """The DPP op's fact scan must carry a dynamic pruning subquery on the
    partition column — losing DPP silently would turn a pruned scan into a
    full-table read at scale."""
    from aced_etl_pod_spark.operators.corpus_ops import (
        join_dynamic_partition_pruning,
    )

    plan = _plan(join_dynamic_partition_pruning(spark, SF_SMALL))
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_runtime_bloom_filter_injected(spark):
    """The bloom-filter join op must actually get a runtime bloom filter
    injected into the fact side (might_contain on the scan) — otherwise
    it is just a plain shuffle join and the op's scale story is false."""
    from aced_etl_pod_spark.operators.corpus_ops import (
        BLOOM_LAST_PLAN,
        join_runtime_bloom_filter,
    )

    join_runtime_bloom_filter(spark, SF_SMALL)
    plan = BLOOM_LAST_PLAN["plan"].lower()
    assert "mightcontain" in plan or "bloomfilter" in plan, plan[:2000]


def test_bloom_op_restores_session_confs(spark):
    """The op scopes its threshold overrides; a foreign session must come
    back with its original conf values."""
    from aced_etl_pod_spark.operators.corpus_ops import join_runtime_bloom_filter

    key = "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold"
    before = spark.conf.get(key)
    join_runtime_bloom_filter(spark, SF_SMALL)
    assert spark.conf.get(key) == before


def test_pq_adc_search_zero_exchange(spark):
    """The compressed-domain ADC scan must compile to scan → Python stage
    → TakeOrdered with NO shuffle exchange — the plan property that makes
    it a one-pass operator at any corpus size."""
    from aced_etl_pod_spark.operators.similarity import sim_ann_pq_adc_topk

    plan = _plan(sim_ann_pq_adc_topk(spark, SF_SMALL))
    assert "TakeOrderedAndProject" in plan, plan[:1500]
    assert "Exchange" not in plan, plan[:1500]


def test_url_canonical_single_exchange(spark):
    """Canonicalization is expression-only on the scan; the sole exchange
    is the hash aggregation on the canonical key (plus the sort for the
    deterministic output order)."""
    from aced_etl_pod_spark.operators.corpus_ops import dedup_url_canonical

    plan = _plan(dedup_url_canonical(spark, SF_SMALL))
    # the exact count-distinct needs the standard two-phase aggregation
    # (partial on (key, url), final on key) + rangepartitioning for the
    # deterministic output order; nothing else, and no Python stage
    # formatted mode lists each Exchange's partitioning in its detail
    # block: count the hashpartitioning arguments
    assert plan.count("hashpartitioning(") == 2, plan[:2000]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cms_output_bounded_and_mergeable(spark):
    """The CMS build aggregates to ≤ d·w cells regardless of input size —
    the mergeable-partials property. Checked structurally: partial
    aggregation (map-side combine) present in the cells aggregation."""
    from aced_etl_pod_spark.operators.corpus_ops import agg_count_min_sketch

    df = agg_count_min_sketch(spark, SF_SMALL)
    rows = df.collect()
    assert 0 < len(rows) <= 32  # one row per event_type, all cells ≤ d*w
    plan = _plan(df)
    assert "partial_count" in plan or "HashAggregate" in plan


def test_twap_shares_one_user_exchange(spark):
    """lead() window and the groupBy both key on user_id — Catalyst must
    reuse the window's exchange for the aggregation (one hashpartitioning
    in the whole plan), and nothing drops to Python."""
    from aced_etl_pod_spark.operators.incremental_ops import (
        win_time_weighted_avg,
    )

    plan = _plan(win_time_weighted_avg(spark, SF_SMALL))
    assert plan.count("hashpartitioning(") == 1, plan[:2000]
    assert "EvalPython" not in plan


def test_ewma_single_exchange_no_python(spark):
    """The bounded-frame closed form is pure JVM HOFs over one user_id
    window exchange."""
    from aced_etl_pod_spark.operators.incremental_ops import win_ewma

    plan = _plan(win_ewma(spark, SF_SMALL))
    assert plan.count("hashpartitioning(") == 1, plan[:2000]
    assert "EvalPython" not in plan


def test_importance_sampling_is_pure_filter(spark):
    """The keep decision is a scan-side expression filter: zero exchanges
    anywhere in the plan."""
    from aced_etl_pod_spark.operators.incremental_ops import (
        sample_importance_weighted,
    )

    plan = _plan(sample_importance_weighted(spark, SF_SMALL))
    assert "Exchange" not in plan, plan[:2000]
    assert "EvalPython" not in plan


def test_covariance_partials_one_exchange_one_arrow_stage(spark):
    """Gram partials: ONE Arrow stage (the per-batch gemm — the declared
    Python boundary) and ONE hash exchange (the O(D²) idx-sum reduce);
    the per-pair rows never exceed D²/2 per batch."""
    from aced_etl_pod_spark.operators.incremental_ops import (
        embedding_covariance_topk,
    )

    plan = _plan(embedding_covariance_topk(spark, SF_SMALL))
    assert "MapInPandas" in plan
    assert plan.count("hashpartitioning(") == 1, plan[:2000]


def test_semdedup_assignment_sweep_is_shuffle_free(spark):
    """One k-means sweep (assignment against broadcast centroid literals)
    must be a pure scan+project: no exchange, no Python stage — the
    property that makes sweeps linear at 100 TB."""
    from pyspark.sql import functions as F

    from aced_etl_pod_spark.operators.incremental_ops import (
        SEMDEDUP_K,
        _assign,
    )
    from aced_etl_pod_spark.tables import load

    e = load(spark, SF_SMALL, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    seeds = e.orderBy("vec_id").limit(SEMDEDUP_K).collect()
    cents = [(i, [float(v) for v in r.emb]) for i, r in enumerate(seeds)]
    plan = _plan(_assign(e, cents))
    assert "Exchange" not in plan, plan[:2000]
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_shuffle_budget_subset(spark):
    """The committed shuffle budget (docs/SHUFFLE_BUDGET.json, regenerated
    by tools/shuffle_budget.py) matches the live plans of a representative
    op slice — a refactor that adds an exchange to a core op fails here
    before the full per-round tool run would catch it."""
    import json
    import os

    from aced_etl_pod_spark.registry import registry
    from tools.shuffle_budget import BUDGET_PATH, build_plan, count_exchanges

    subset = [
        "agg_group_sums",          # bench q1: scan + 1 hash agg exchange
        "join_multiway_star",      # bench q2: dims broadcast, 0 extra shuffles
        "win_row_number_topk",     # bench q3
        "join_left_semi",          # bench q4 family
        "sim_cosine_topk_fast",    # bench q8: must stay zero-shuffle
        "agg_rollup",              # bench q9
        "agg_distinct_count",      # bench q10: two-phase distinct
        "dedup_minhash_lsh",       # banded self-join: bounded exchanges
        "pipeline_corpus_curation",  # fused pipeline: <=2 hash exchanges
        "stream_tumbling_window",  # streaming batch twin
    ]
    with open(BUDGET_PATH) as f:
        budget = json.load(f)
    reg = registry()
    for op_id in subset:
        live = count_exchanges(build_plan(spark, op_id, reg[op_id].fn))
        assert live["shuffle"] <= budget[op_id]["shuffle"], (
            f"{op_id}: {live['shuffle']} shuffle exchanges vs budget "
            f"{budget[op_id]['shuffle']}"
        )


def test_shuffle_budget_covers_census():
    """Every registered op has a recorded budget, except the 4 streaming
    ops with no batch twin (streaming-only APIs)."""
    import json

    from aced_etl_pod_spark.registry import registry
    from tools.shuffle_budget import BUDGET_PATH

    no_twin = {
        "stream_custom_stateful",
        "stream_checked_ingest_dlq",
        "stream_python_datasource",
        "stream_checkpoint_restart",
        "stream_dedup_within_watermark",  # dropDuplicatesWithinWatermark is streaming-only
        "stream_state_store_reader",  # statestore read needs a real checkpoint
    }
    with open(BUDGET_PATH) as f:
        budget = json.load(f)
    missing = set(registry()) - set(budget) - no_twin
    assert not missing, f"ops missing from shuffle budget: {sorted(missing)}"


def test_bench_ladder_fixture_preserves_join_integrity(tmp_path, monkeypatch):
    """The ladder's scaled fixture (``ladder.tile``) must preserve the
    schema EXACTLY (the ladder times the same operator code on the
    scaled dir), multiply every fact cardinality by the scale, keep the
    constant star dims un-tiled, and keep every FK resolvable — an
    orphaned key would quietly change join selectivity and corrupt the
    engine-vs-engine ratios recorded in PLANS.md."""
    import duckdb

    from aced_etl_pod_spark import ladder as bl

    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    out = bl.tile("/root/testdata/sf0.001", 3)
    con = duckdb.connect()
    src = "/root/testdata/sf0.001"
    for t in list(bl.KEY_OFFSETS) + bl.CONST_DIMS:
        n_src = con.execute(f"SELECT count(*) FROM '{src}/{t}.parquet'").fetchone()[0]
        n_out = con.execute(f"SELECT count(*) FROM '{out}/{t}.parquet'").fetchone()[0]
        want = n_src if t in bl.CONST_DIMS else n_src * 3
        assert n_out == want, (t, n_src, n_out)
        s_src = con.execute(f"DESCRIBE SELECT * FROM '{src}/{t}.parquet'").fetchall()
        s_out = con.execute(f"DESCRIBE SELECT * FROM '{out}/{t}.parquet'").fetchall()
        assert [c[0] for c in s_src] == [c[0] for c in s_out], t
    for fact, key, dim, dkey in [
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ]:
        orphans = con.execute(
            f"""SELECT count(*) FROM '{out}/{fact}.parquet' f
                LEFT JOIN '{out}/{dim}.parquet' d ON f.{key} = d.{dkey}
                WHERE d.{dkey} IS NULL AND f.{key} IS NOT NULL"""
        ).fetchone()[0]
        assert orphans == 0, (fact, dim, orphans)


def test_custkey_layout_joins_skip_exchange(spark):
    """Round-11 layout pins: both consumers of the shared custkey-
    bucketed layout (q4's semi join, q2's star join) must plan their
    fact join with NO exchange on either side — bucketed scans feeding
    the SMJ directly; the only shuffle is the downstream agg's. This is
    the invariant the 4.0x/1.6x x800 wins rest on; a regression here
    (lost bucket spec, mismatched bucket counts, a repartition sneaking
    in) silently reverts them."""
    from aced_etl_pod_spark.operators.scale_ops import (
        join_inner_bucketed_orderkey,
        join_left_semi_bucketed,
        join_multiway_star_bucketed,
    )

    for fn, join_kind in (
        (join_left_semi_bucketed, "SortMergeJoin"),
        (join_multiway_star_bucketed, "SortMergeJoin"),
        (join_inner_bucketed_orderkey, "SortMergeJoin"),
    ):
        plan = _plan(fn(spark, SF_SMALL))
        assert join_kind in plan, plan[:1200]
        assert plan.count("Bucketed: true") >= 2, plan[:1200]
        # no exchange between the bucketed scans and the join: everything
        # below the join node must be exchange-free
        below_join = plan.split(join_kind, 1)[1]
        assert (
            "Exchange hashpartitioning"
            not in below_join.split("HashAggregate")[-1]
        )
        # whole plan: the final agg's SHUFFLE exchange only (x2: the
        # formatted explain prints each node in tree + detail sections).
        # BroadcastExchange (q2's constant dims) is fine and uncounted.
        assert plan.count("Exchange hashpartitioning") <= 2, plan[:1500]


def test_sort_metadata_flag_is_safe_on_multifile_buckets(spark):
    """Safety pin for spark.sql.legacy.bucketedTableScan.outputOrdering
    (round-11, RUNTIME_CONF): the flag may only eliminate SMJ sorts
    when a bucket is exactly ONE file. write_bucketed (unlike
    bucketed_layout) does NOT repartition before the bucketed write, so
    multiple tasks write files into the same bucket — Spark must then
    KEEP the sorts (a falsely-trusted ordering would silently
    mis-merge) and the join must still be correct. This is the
    invariant that makes the engine-wide flag safe."""
    import os

    from aced_etl_pod_spark.plans.scale import write_bucketed

    orders = load(spark, SF_SMALL, "orders").withColumnRenamed(
        "o_custkey", "custkey"
    )
    customer = load(spark, SF_SMALL, "customer").withColumnRenamed(
        "c_custkey", "custkey"
    )
    # repartition(4) WITHOUT the key: every task holds rows of most
    # buckets, so each bucket gets ~4 files
    write_bucketed(spark, orders.repartition(4), "mf_orders", "custkey")
    write_bucketed(spark, customer.repartition(4), "mf_customer", "custkey")
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    loc = os.path.join(wh.removeprefix("file:"), "mf_orders")
    files = [f for f in os.listdir(loc) if f.endswith(".parquet")]
    assert len(files) > 8, f"fixture not multi-file: {len(files)} files"

    joined = (
        spark.table("mf_orders")
        .hint("merge")
        .join(spark.table("mf_customer"), "custkey")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n"))
    )
    plan = _plan(joined)
    assert "SortMergeJoin" in plan
    # multi-file buckets: the sorts MUST survive
    assert plan.count("Sort ") >= 2, plan[:1500]
    got = {(r["c_nationkey"], r["n"]) for r in joined.collect()}
    want = {
        (r["c_nationkey"], r["n"])
        for r in load(spark, SF_SMALL, "orders")
        .join(
            load(spark, SF_SMALL, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want


def test_q1_summary_layout_round_trips_and_prunes(spark):
    """Round-12 q1 layout pins: (a) the summary path's result equals the
    plain scan's exactly at test scale (sub-cent sums — no fold-order
    slack needed here, unlike the x800 A/B's 1e-12 rel compare); (b) the
    summary plan touches ONLY the summary parquet (no lineitem scan —
    the whole point), pushes the shipdate filter to it, and keeps the
    final agg as the single exchange; (c) the dispatch knee leaves the
    sub-4M-row regime on the plain scan."""
    from aced_etl_pod_spark.operators.aggs import (
        _q1_plain_scan,
        agg_group_sums,
        agg_group_sums_summary_ingest,
    )

    plain = sorted(tuple(r) for r in _q1_plain_scan(spark, SF_SMALL).collect())
    summ_df = agg_group_sums_summary_ingest(spark, SF_SMALL)
    summ = sorted(tuple(r) for r in summ_df.collect())
    assert plain == summ

    plan = _plan(summ_df)
    assert "lineitem.parquet" not in plan  # reads the summary only
    assert "q1sum_lineitem" in plan
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]
    assert plan.count("Exchange hashpartitioning") <= 2  # final agg only (tree+detail)

    # below the knee the public op stays on the plain scan plan
    dispatched = _plan(agg_group_sums(spark, SF_SMALL))
    assert "lineitem.parquet" in dispatched


def test_q7_ingest_layout_round_trips_no_text_bytes(spark):
    """Round-12 q7 layout pins: the ingest path's result equals the
    query-path plans exactly; its plan reads ONLY the per-lang gold
    partials (no documents scan, no text bytes, no Python stage); the
    sub-knee regime keeps the public op on a documents scan."""
    from aced_etl_pod_spark.operators.text import (
        text_tokenize_stats,
        text_tokenize_stats_arrow,
        text_tokenize_stats_ingest,
    )

    ing_df = text_tokenize_stats_ingest(spark, SF_SMALL)
    ing = sorted(tuple(r) for r in ing_df.collect())
    arrow = sorted(
        tuple(r) for r in text_tokenize_stats_arrow(spark, SF_SMALL).collect()
    )
    assert ing == arrow

    plan = _plan(ing_df)
    assert "documents.parquet" not in plan
    assert "toksum_documents" in plan
    assert "Python" not in plan  # no Arrow/Python stage at query time

    dispatched = _plan(text_tokenize_stats(spark, SF_SMALL))
    assert "documents.parquet" in dispatched


def test_q5_q9_summary_layouts_round_trip_and_prune(spark):
    """Round-12 q5/q9 layout pins (the q1 idiom): each summary path's
    result equals the scan plan's exactly at test scale; each summary
    plan reads ONLY its fixture (no events/orders scan); each public op
    stays on the scan plan below the 4M-row knee."""
    from aced_etl_pod_spark.operators.aggs import (
        agg_rollup_partial_reagg,
        agg_rollup_summary_ingest,
    )
    from aced_etl_pod_spark.operators.extra_ops import (
        agg_time_bucket,
        agg_time_bucket_summary_ingest,
    )

    def srt(rows):
        # None-tolerant total order (null event_type groups exist)
        return sorted((tuple(r) for r in rows), key=repr)

    q5_scan = srt(agg_time_bucket(spark, SF_SMALL).collect())
    q5_sum_df = agg_time_bucket_summary_ingest(spark, SF_SMALL)
    assert srt(q5_sum_df.collect()) == q5_scan
    plan5 = _plan(q5_sum_df)
    assert "events.parquet" not in plan5 and "minsum_events" in plan5

    q9_scan = srt(agg_rollup_partial_reagg(spark, SF_SMALL).collect())
    q9_sum_df = agg_rollup_summary_ingest(spark, SF_SMALL)
    assert srt(q9_sum_df.collect()) == q9_scan
    plan9 = _plan(q9_sum_df)
    assert "orders.parquet" not in plan9 and "q9sum_orders" in plan9

    # sub-knee: the public ops keep their scan plans
    assert "events.parquet" in _plan(agg_time_bucket(spark, SF_SMALL))
    assert "orders.parquet" in _plan(agg_rollup_partial_reagg(spark, SF_SMALL))


def test_q2_summary_layout_round_trips_and_prunes(spark):
    """Round-12 (optimization session 2) q2 layout pins: the summary
    path's result equals the plain star join's exactly at test scale
    (sub-cent sums — no fold-order slack needed here, unlike the x800
    A/B's 1e-12 rel compare); the summary plan reads NO base fact bytes
    (no orders/customer scan) while the nation x region dim join stays
    at query time; the public op keeps the plain star below the
    1M-order knee."""
    from aced_etl_pod_spark.operators.joins import (
        _q2_plain_star,
        join_multiway_star,
    )
    from aced_etl_pod_spark.operators.scale_ops import (
        join_multiway_star_summary_ingest,
    )

    plain = sorted(tuple(r) for r in _q2_plain_star(spark, SF_SMALL).collect())
    summ_df = join_multiway_star_summary_ingest(spark, SF_SMALL)
    summ = sorted(tuple(r) for r in summ_df.collect())
    assert plain == summ

    plan = _plan(summ_df)
    assert "orders.parquet" not in plan  # no base fact bytes
    assert "customer.parquet" not in plan
    assert "q2sum_star" in plan
    assert "nation.parquet" in plan  # dims stay a query-time broadcast
    assert "BroadcastHashJoin" in plan

    # below the knee the public op stays on the plain star plan
    dispatched = _plan(join_multiway_star(spark, SF_SMALL))
    assert "orders.parquet" in dispatched
    assert "q2sum_star" not in dispatched


def _srt(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def test_q1_q2_above_the_knee_read_their_summaries(spark, tmp_path, monkeypatch):
    """Past the row-count knee (footer count patched) the public q1 and
    q2 ops plan straight onto their summary layouts, and each answers
    exactly as its plain plan does. The fixtures are built first, fresh
    in a private scratch and at the true row count: SF_SMALL's q1
    summary has more groups than half its lineitem rows, the case the
    removed probe flagged, and no degenerate marker is written."""
    import os
    from unittest import mock

    from aced_etl_pod_spark.operators.aggs import (
        _q1_plain_scan,
        _q1_summary_fixture,
        agg_group_sums,
    )
    from aced_etl_pod_spark.operators.joins import _q2_plain_star
    from aced_etl_pod_spark.operators.scale_ops import _q2_summary_fixture

    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    for path in (
        _q1_summary_fixture(spark, SF_SMALL),
        _q2_summary_fixture(spark, SF_SMALL),
    ):
        assert sorted(os.listdir(path)) == ["_DONE", "summary"]
    with mock.patch(
        "aced_etl_pod_spark.tables.table_row_count", return_value=4_000_000
    ):
        q1 = agg_group_sums(spark, SF_SMALL)
        q2 = join_multiway_star(spark, SF_SMALL)
    assert "q1sum_lineitem" in _plan(q1) and "lineitem.parquet" not in _plan(q1)
    assert "q2sum_star" in _plan(q2) and "orders.parquet" not in _plan(q2)
    assert _srt(q1) == _srt(_q1_plain_scan(spark, SF_SMALL))
    assert _srt(q2) == _srt(_q2_plain_star(spark, SF_SMALL))


def test_q10_wide_type_domain_falls_back_to_the_pair_plan(spark):
    """With more than 62 event types (the mask width) every q10 path
    answers through the pair plan: above both knees the dispatcher and
    the two mask ops each equal the unpatched op, and none re-enters
    the dispatcher (which recursed without end before)."""
    from unittest import mock

    from aced_etl_pod_spark.operators import aggs

    want = _srt(aggs.agg_distinct_count(spark, SF_SMALL))
    wide = tuple(f"type{i:02d}" for i in range(63))
    for n_events in (1_000_000, 4_000_000):
        with (
            mock.patch(
                "aced_etl_pod_spark.tables.table_row_count",
                return_value=n_events,
            ),
            mock.patch.object(aggs, "_event_type_dictionary", return_value=wide),
        ):
            dfs = [
                aggs.agg_distinct_count(spark, SF_SMALL),
                aggs.agg_distinct_count_bitmask(spark, SF_SMALL),
                aggs.agg_distinct_count_mask_ingest(spark, SF_SMALL),
            ]
        for df in dfs:
            assert "events.parquet" in _plan(df)
            assert _srt(df) == want


def test_q8_packed_layout_round_trips_and_prunes(spark):
    """Round-12 (optimization session 2) q8 packed-layout pins: the
    packed-kernel result is bit-identical to the list-column kernels at
    test scale (float32 bits round-trip the pack); the packed plan's
    corpus side reads ONLY the packed fixture (one binary cell per row
    across the Python boundary — no embedding list column, no base
    embeddings.parquet); the public op keeps the JVM fold below the
    50 k-vector knee (no Python stage at all)."""
    from aced_etl_pod_spark.operators.similarity import (
        sim_cosine_topk,
        sim_cosine_topk_arrow,
        sim_cosine_topk_fast,
        sim_cosine_topk_packed_ingest,
    )

    packed_df = sim_cosine_topk_packed_ingest(spark, SF_SMALL)
    packed = sorted(tuple(r) for r in packed_df.collect())
    arrow = sorted(
        tuple(r) for r in sim_cosine_topk_arrow(spark, SF_SMALL).collect()
    )
    fast = sorted(
        tuple(r) for r in sim_cosine_topk_fast(spark, SF_SMALL).collect()
    )
    assert packed == arrow == fast

    plan = _plan(packed_df)
    assert "packed_emb" in plan  # corpus = the packed binary layout
    assert "embeddings.parquet" not in plan  # base table never re-read
    assert "MapInArrow" in plan

    # below the knee the public op stays on the JVM fold (no Python)
    dispatched = _plan(sim_cosine_topk(spark, SF_SMALL))
    assert "packed_emb" not in dispatched
    assert "MapInArrow" not in dispatched


def test_q6_dispatch_below_knee_keeps_parse_plan(spark):
    """Round-12 q6 dispatch pin: below the 4M-event knee fn_json stays
    on the parse-kernel plan (events scan, no shred fixture)."""
    from aced_etl_pod_spark.operators.functions import fn_json

    plan = _plan(fn_json(spark, SF_SMALL))
    assert "events.parquet" in plan
    assert "shred_events" not in plan


def test_curation_window_exchange_carries_no_text(spark):
    """Round-13 pin (guide §2.3/§8): pipeline_corpus_curation computes the
    per-doc digest AT THE SCAN and drops text before the dedup window, so
    the (low_q, content_key) exchange ships ~60 B of metadata per doc —
    never the document body. Read the Exchange node's Input column list
    straight from the formatted plan."""
    import re

    from aced_etl_pod_spark.operators.corpus_ops import pipeline_corpus_curation

    plan = _plan(pipeline_corpus_curation(spark, SF_SMALL))
    # every Exchange detail block: "(n) Exchange\nInput [k]: [cols...]"
    blocks = re.findall(r"\(\d+\) Exchange\s*\nInput \[\d+\]: \[([^\]]*)\]", plan)
    assert blocks, "no Exchange detail blocks found in plan"
    for cols in blocks:
        assert "text#" not in cols, f"text crosses an exchange: [{cols}]"
    assert "doc_digest" in plan  # the scan-side projection exists


def test_scd2_merge_legs_stay_broadcast_probes(spark):
    """Round-13 pin: merge_scd2 keeps the anti/semi filter-probe shape —
    the single-pass LEFT-join twin was measured NEGATIVE (noop-sink A/B
    0.472 → 0.570 s at x40; outer-join row expansion through the CASE
    projections loses to filter-style probes) and the op's 4.38× ladder
    ratio was shown to be a collect-transfer artifact, not a plan gap
    (OPTIMIZATION_r13.md item 6). Both probe joins must stay broadcast —
    the update-keys side is key-distinct and small by construction."""
    from aced_etl_pod_spark.operators.extra_ops import merge_scd2

    plan = _plan(merge_scd2(spark, SF_SMALL))
    assert "BroadcastHashJoin LeftAnti" in plan
    assert "BroadcastHashJoin LeftSemi" in plan
