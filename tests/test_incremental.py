"""Round-6/7 registration queue (post-r05 tranches): incremental
maintenance (MV refresh, cascading rollups), Z-order clustering, EWMA,
SemDeDup, TWAP, covariance partials, importance-weighted sampling,
equality deletes (merge-on-read), and the bloom index sidecar. Their
DuckDB parity runs once, in tests/test_parity.py (assert_gated proves the
registered fn and oracle are the ones listed here); this file checks the
behavior each one's scale story promises."""

from __future__ import annotations

import os

import pytest

from aced_etl_pod_spark.operators import advanced_ops as adv
from aced_etl_pod_spark.operators import corpus_ops as cor
from aced_etl_pod_spark.operators import extra_ops as ext
from aced_etl_pod_spark.operators import text as txt
from aced_etl_pod_spark.operators import incremental_ops as inc
from aced_etl_pod_spark.operators import table_format as tf
from tests.conftest import SF_SMALL, assert_gated

QUEUE = [
    (inc.mv_incremental_refresh, inc.MV_INCREMENTAL_REFRESH_ORACLE),
    (inc.agg_cascading_rollup, inc.AGG_CASCADING_ROLLUP_ORACLE),
    (inc.win_ewma, inc.WIN_EWMA_ORACLE),
    (inc.dedup_semantic_cluster, inc.DEDUP_SEMANTIC_CLUSTER_ORACLE),
    (tf.txnlog_zorder_cluster, tf.TXNLOG_ZORDER_ORACLE),
    (inc.win_time_weighted_avg, inc.WIN_TWAP_ORACLE),
    (inc.embedding_covariance_topk, inc.EMBEDDING_COVARIANCE_TOPK_ORACLE),
    (inc.sample_importance_weighted, inc.SAMPLE_IMPORTANCE_WEIGHTED_ORACLE),
    (tf.txnlog_equality_deletes, tf.TXNLOG_EQUALITY_DELETES_ORACLE),
    (tf.txnlog_bloom_index_lookup, tf.TXNLOG_BLOOM_LOOKUP_ORACLE),
    (inc.mv_incremental_join_view, inc.MV_JOIN_VIEW_ORACLE),
    (inc.agg_histogram_quantile_merge, inc.AGG_HISTOGRAM_QUANTILE_ORACLE),
    (tf.txnlog_merge_upsert, tf.TXNLOG_MERGE_UPSERT_ORACLE),
    (adv.graph_label_propagation, adv.GRAPH_LABEL_PROPAGATION_ORACLE),
    (txt.dedup_ngram_containment, txt.DEDUP_NGRAM_CONTAINMENT_ORACLE),
    (inc.win_anomaly_zscore, inc.WIN_ANOMALY_ZSCORE_ORACLE),
    (ext.join_scd2_temporal, ext.JOIN_SCD2_TEMPORAL_ORACLE),
    (cor.sink_csv_roundtrip, cor.SINK_CSV_ROUNDTRIP_ORACLE),
]


@pytest.mark.parametrize("fn,oracle", QUEUE, ids=[f.__name__ for f, _ in QUEUE])
def test_queue2_parity(fn, oracle):
    assert_gated((fn, oracle))


def test_mv_snapshot_built_once_and_small(spark):
    """The refresh must not rebuild (or rescan) the base: the snapshot
    parquet is written once per source fingerprint and holds O(groups)
    rows, not O(rows)."""
    inc.mv_incremental_refresh(spark, SF_SMALL).collect()
    marker = os.path.join(inc.mv_snapshot_path(SF_SMALL), "_SUCCESS")
    mtime = os.path.getmtime(marker)
    inc.mv_incremental_refresh(spark, SF_SMALL).collect()
    assert os.path.getmtime(marker) == mtime, "snapshot rebuilt on refresh"
    snap = spark.read.parquet(inc.mv_snapshot_path(SF_SMALL))
    assert snap.count() <= 5  # |distinct o_orderstatus|, not |orders|


def test_zorder_prunes_files_on_both_dims(spark):
    """Morton layout must make the two-column band predicate skip files at
    the manifest level — the whole point of clustering."""
    total, kept = tf.zorder_pruned_counts(spark, SF_SMALL)
    assert total == tf.ZORDER_FILES
    assert 0 < kept < total, f"no manifest pruning: {kept}/{total}"


def test_ewma_truncation_bound():
    """Kernel property (pure Python): the K-truncated normalized EWMA
    tracks the UNtruncated normalized (adjust=True) EWMA within the
    dropped tail's weight share (1-α)^K — i.e. the truncation is the
    documented contract, not an unbounded error."""
    import random

    random.seed(7)
    a, k = inc.EWMA_ALPHA, inc.EWMA_K
    xs = [random.uniform(-100, 100) for _ in range(200)]
    for i in range(len(xs)):
        hist = xs[: i + 1]
        full_num = sum(
            x * (1 - a) ** (len(hist) - 1 - j) for j, x in enumerate(hist)
        )
        full_mass = sum((1 - a) ** j for j in range(len(hist)))
        frame = hist[-k:]
        n = len(frame)
        num = sum(x * (1 - a) ** (n - 1 - j) for j, x in enumerate(frame))
        mass = (1 - (1 - a) ** n) / a
        # tail carries <= (1-a)^K of the total weight; both numerator and
        # normalizer lose it, so the quotient moves by <= 2*tail*max|x|
        bound = 2 * (1 - a) ** k * 100 / (1 - (1 - a) ** k) + 1e-9
        assert abs(num / mass - full_num / full_mass) <= bound


def test_semdedup_reps_kept_one_per_cluster(spark):
    """Every cluster keeps exactly one representative at cos_rep = 1.0, and
    a representative is never dropped regardless of τ."""
    out = inc.dedup_semantic_cluster(spark, SF_SMALL).toPandas()
    reps = out[out.cos_rep == 1.0]
    assert (reps.groupby("cluster").size() == 1).all()
    assert reps.is_kept.all()
    # τ sits inside the observed range: both branches are exercised
    assert 0 < out.is_kept.sum() < len(out)


def test_equality_deletes_compaction_roundtrip(spark, tmp_path):
    """apply_deletes must make the plain read equal the merge-on-read
    result, retire the delete files, and leave history addressable."""
    import shutil

    from pyspark.sql import functions as F

    from aced_etl_pod_spark.sources.txnlog import (
        current_version,
        snapshot_delete_files,
        txn_apply_deletes,
        txn_delete_keys,
        txn_read,
        txn_read_mor,
        txn_write,
    )
    from aced_etl_pod_spark.tables import load

    table = str(tmp_path / "mor")
    shutil.rmtree(table, ignore_errors=True)
    o = load(spark, SF_SMALL, "orders")
    txn_write(spark, o.repartitionByRange(3, "o_orderkey"), table)
    txn_delete_keys(
        spark, o.filter(F.col("o_orderkey") % 11 == 0), table, "o_orderkey"
    )
    mor = txn_read_mor(spark, table)
    expect = o.filter(F.col("o_orderkey") % 11 != 0).count()
    assert mor.count() == expect
    # plain read still sees everything (delete is merge-on-read only)
    assert txn_read(spark, table).count() == o.count()

    v = txn_apply_deletes(spark, table)
    assert v == current_version(table)
    assert snapshot_delete_files(table) == []
    assert txn_read(spark, table).count() == expect
    assert txn_read_mor(spark, table).count() == expect
    # time travel to the pre-delete snapshot still resolves v0's files
    assert txn_read(spark, table, version=0).count() == o.count()


def test_bloom_index_prunes_where_zone_maps_cannot(spark):
    """On the hash-distributed layout every file spans the full key range
    (min/max prune keeps all 8); the bloom sidecar must keep fewer."""
    import os

    from aced_etl_pod_spark.sources.txnlog import snapshot_files

    total, probed = tf.bloom_probed_counts(spark, SF_SMALL)
    assert total == tf.BLOOM_FILES
    assert 0 < probed < total, f"bloom pruned nothing: {probed}/{total}"
    # no false negatives: the probed files must contain ALL matching rows
    table = tf.build_bloom_indexed_table(spark, SF_SMALL)
    paths = [os.path.join(table, f["path"]) for f in snapshot_files(table)]
    full = (
        spark.read.parquet(*paths)
        .where("o_orderkey in (37, 411, 1203)")
        .count()
    )
    assert tf.txnlog_bloom_index_lookup(spark, SF_SMALL).count() == full


def test_importance_sampling_tier_rates(spark):
    """Each tier keeps ~its configured hash-slice (exact per the bucket
    contract: bucket < p·1000 over a near-uniform hash)."""
    out = inc.sample_importance_weighted(spark, SF_SMALL).toPandas()
    from aced_etl_pod_spark.tables import load

    d = load(spark, SF_SMALL, "documents").toPandas()
    for lo, hi, p in [(0, 200, 0.1), (200, 400, 0.5), (400, 10**9, 1.0)]:
        pop = d[(d.n_chars >= lo) & (d.n_chars < hi)]
        kept = out[(out.n_chars >= lo) & (out.n_chars < hi)]
        if len(pop) < 30:
            continue
        rate = len(kept) / len(pop)
        assert abs(rate - p) < 0.15, f"tier [{lo},{hi}): {rate} vs {p}"


def test_upsert_sequence_semantics(spark, tmp_path):
    """The Iceberg-v2 sequence rule, directly: an upsert's delete keys
    apply only to EARLIER files — never to the rows committed alongside
    them, and never to rows re-upserted later."""
    import shutil

    from aced_etl_pod_spark.sources.txnlog import (
        snapshot_delete_files,
        txn_apply_deletes,
        txn_read,
        txn_read_mor,
        txn_upsert,
        txn_write,
    )

    table = str(tmp_path / "useq")
    shutil.rmtree(table, ignore_errors=True)
    df = lambda rows: spark.createDataFrame(rows, "k long, val string")  # noqa: E731
    txn_write(spark, df([(1, "a"), (2, "a")]), table)
    txn_upsert(spark, df([(2, "b"), (3, "b")]), table, "k")
    txn_upsert(spark, df([(1, "c")]), table, "k")

    state = {r.k: r.val for r in txn_read_mor(spark, table).collect()}
    assert state == {1: "c", 2: "b", 3: "b"}

    # compaction collapses the merge-on-read segments into plain files
    txn_apply_deletes(spark, table)
    assert snapshot_delete_files(table) == []
    plain = {r.k: r.val for r in txn_read(spark, table).collect()}
    assert plain == {1: "c", 2: "b", 3: "b"}


def test_checkpoint_preserves_sequence_semantics(spark, tmp_path):
    """A checkpoint's materialized adds carry each file's ORIGINAL commit
    version forward, so merge-on-read still applies deletes to the right
    segments when replay starts at the checkpoint."""
    import shutil

    from aced_etl_pod_spark.sources.txnlog import (
        latest_checkpoint,
        txn_checkpoint,
        txn_read_mor,
        txn_upsert,
        txn_write,
    )

    table = str(tmp_path / "ckseq")
    shutil.rmtree(table, ignore_errors=True)
    df = lambda rows: spark.createDataFrame(rows, "k long, val string")  # noqa: E731
    txn_write(spark, df([(1, "a"), (2, "a")]), table)
    txn_upsert(spark, df([(2, "b")]), table, "k")
    cv = txn_checkpoint(table)
    assert latest_checkpoint(table) == cv
    # replay-from-checkpoint must NOT re-tag v0's file to the checkpoint
    # version (which would exempt it from the v1 delete)
    state = {r.k: r.val for r in txn_read_mor(spark, table).collect()}
    assert state == {1: "a", 2: "b"}
    # and a post-checkpoint upsert still supersedes checkpointed files
    txn_upsert(spark, df([(1, "d")]), table, "k")
    state = {r.k: r.val for r in txn_read_mor(spark, table).collect()}
    assert state == {1: "d", 2: "b"}


def test_stream_merge_upsert_parity():
    """Streaming MERGE (foreachBatch + idempotent atomic upsert, with a
    deliberate epoch replay inside the op) equals latest-per-key from the
    raw stream: the registered op's oracle, run by test_oracle_parity_slow."""
    assert_gated((tf.stream_txnlog_merge_upsert, tf.STREAM_TXNLOG_MERGE_UPSERT_ORACLE))


def test_pca_whitening_identity_covariance(spark):
    """The whitening contract: cov(whitened corpus) == I within numeric
    tolerance (eigen floor WHITEN_EPS aside) — the rows-only op's
    correctness check."""
    import numpy as np

    pdf = inc.embedding_pca_whiten(spark, SF_SMALL).toPandas()
    # white is the canonical rounded string "[x0,x1,...]" (9 decimals) —
    # parse it back; quantization moves cov entries by O(1e-8)
    X = np.stack(
        [np.fromstring(s[1:-1], sep=",") for s in pdf["white"].to_numpy()]
    )
    C = np.cov(X.T, bias=True)
    assert np.abs(C - np.eye(C.shape[0])).max() < 1e-6
    # canonical-string contract: sortable scalar, fixed 9-decimal format
    assert pdf["white"].map(type).eq(str).all()
    assert pdf["white"].is_unique or len(pdf) == pdf["white"].nunique()
