"""ACID semantics of the transaction-log table format (sources/txnlog.py):
atomic commits, optimistic-concurrency conflict handling, snapshot
isolation, time travel, manifest-level file skipping, and crash-orphan
tolerance."""

from __future__ import annotations

import json
import os
import shutil
import threading

import pytest

from aced_etl_pod_spark.sources import txnlog
from aced_etl_pod_spark.sources.txnlog import (
    CommitConflict,
    _publish,
    current_version,
    snapshot_files,
    table_history,
    txn_read,
    txn_write,
)
from tests.conftest import SF_SMALL


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "t")


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "id * 2 AS v")


def test_append_overwrite_snapshot(spark, table):
    v0 = txn_write(spark, _df(spark, 0, 10), table, stats_cols=("id",))
    v1 = txn_write(spark, _df(spark, 10, 20), table, stats_cols=("id",))
    assert (v0, v1) == (0, 1)
    assert txn_read(spark, table).count() == 20
    v2 = txn_write(spark, _df(spark, 100, 105), table, mode="overwrite",
                   stats_cols=("id",))
    assert v2 == 2
    got = sorted(r["id"] for r in txn_read(spark, table).collect())
    assert got == list(range(100, 105))  # overwrite removed v0+v1 rows
    # but the old files still exist on disk — correctness comes from the log
    assert any(f.startswith("v0-") for f in os.listdir(table))


def test_time_travel_snapshots_immutable(spark, table):
    txn_write(spark, _df(spark, 0, 5), table)
    txn_write(spark, _df(spark, 5, 9), table)
    txn_write(spark, _df(spark, 50, 51), table, mode="overwrite")
    assert txn_read(spark, table, version=0).count() == 5
    assert txn_read(spark, table, version=1).count() == 9
    assert txn_read(spark, table, version=2).count() == 1
    assert txn_read(spark, table).count() == 1  # latest == v2
    ops = [h["op"] for h in table_history(table)]
    assert len(ops) == 3


def test_commit_conflict_is_atomic(table):
    os.makedirs(table, exist_ok=True)
    _publish(table, 0, [{"commit": {"op": "a", "version": 0}}])
    with pytest.raises(CommitConflict):
        _publish(table, 0, [{"commit": {"op": "b", "version": 0}}])
    # loser's temp file must not linger
    log = os.path.join(table, "_txnlog")
    assert [f for f in os.listdir(log) if f.startswith(".")] == []
    # winner's content intact
    with open(os.path.join(log, f"{0:020d}.json")) as f:
        assert json.loads(f.readline())["commit"]["op"] == "a"


def test_concurrent_appends_both_land(spark, table):
    """Two writers race; optimistic retry means both commits land (at
    different versions) and the final snapshot has both row sets."""
    txn_write(spark, _df(spark, 0, 1), table)  # seed v0
    dfs = [_df(spark, 1000, 1010), _df(spark, 2000, 2010)]
    errs = []

    def go(df):
        try:
            txn_write(spark, df, table, stats_cols=("id",))
        except Exception as exc:  # pragma: no cover
            errs.append(exc)

    ts = [threading.Thread(target=go, args=(d,)) for d in dfs]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert not errs
    assert current_version(table) == 2
    ids = sorted(r["id"] for r in txn_read(spark, table).collect())
    assert ids == [0] + list(range(1000, 1010)) + list(range(2000, 2010))


def test_orphan_files_ignored(spark, table):
    """Unreferenced data files (a crashed writer's leftovers) never appear
    in a snapshot."""
    txn_write(spark, _df(spark, 0, 3), table)
    some_file = next(f for f in os.listdir(table) if f.endswith(".parquet"))
    shutil.copy(
        os.path.join(table, some_file),
        os.path.join(table, "v9-p999-00000.parquet"),
    )
    assert txn_read(spark, table).count() == 3


def test_manifest_file_skipping_prunes(spark):
    from aced_etl_pod_spark.operators.table_format import pruned_file_counts

    total, kept = pruned_file_counts(spark, SF_SMALL, lo=0, hi=300)
    assert total == 4  # v2 wrote 4 range-partitioned files
    assert kept < total  # the narrow range must prune at least one file


def test_lineitem_snapshot_prunes_and_matches(spark):
    """scan_txnlog_snapshot's sf-scaled lineitem table (round 6): the
    bottom-eighth key-range read must prune most of the 8 range files at
    the manifest level, and the pruned read must equal the brute-force
    filter over the full snapshot."""
    from pyspark.sql import functions as F

    from aced_etl_pod_spark.operators.table_format import (
        _lineitem_key_cap,
        build_lineitem_txn_table,
        lineitem_pruned_file_counts,
    )

    total, kept = lineitem_pruned_file_counts(spark, SF_SMALL)
    assert total == 8  # v2 wrote 8 range-partitioned files
    assert kept <= total // 2  # bottom eighth must prune most files

    table = build_lineitem_txn_table(spark, SF_SMALL)
    hi = _lineitem_key_cap(spark, SF_SMALL)
    pruned = (
        txn_read(spark, table, prune=("l_orderkey", 0, hi))
        .filter(F.col("l_orderkey") <= hi)
    )
    full = txn_read(spark, table).filter(F.col("l_orderkey") <= hi)
    assert pruned.count() == full.count() > 0


def test_file_skipping_result_matches_unpruned(spark):
    """Stats pruning is a superset guarantee: pruned + re-filtered result
    equals the brute-force filter over the full snapshot."""
    from aced_etl_pod_spark.operators.table_format import build_orders_txn_table
    from pyspark.sql import functions as F

    table = build_orders_txn_table(spark, SF_SMALL)
    lo, hi = 0, 300
    pruned = (
        txn_read(spark, table, prune=("o_orderkey", lo, hi))
        .filter(F.col("o_orderkey").between(lo, hi))
    )
    full = txn_read(spark, table).filter(F.col("o_orderkey").between(lo, hi))
    assert sorted(r["o_orderkey"] for r in pruned.collect()) == sorted(
        r["o_orderkey"] for r in full.collect()
    )


def test_stream_sink_epoch_replay_is_noop(spark, table):
    """The exactly-once sink's idempotence primitive: re-committing an
    already-logged epoch token changes nothing."""
    from aced_etl_pod_spark.operators.table_format import txn_append_idempotent

    d = _df(spark, 0, 5)
    v = txn_append_idempotent(spark, d, table, "epoch-0")
    assert v == 0
    assert txn_append_idempotent(spark, d, table, "epoch-0") is None  # replay
    assert txn_read(spark, table).count() == 5
    assert txn_append_idempotent(spark, _df(spark, 5, 8), table, "epoch-1") == 1
    assert txn_read(spark, table).count() == 8


def test_compaction_preserves_content_and_history(spark):
    """Compaction swaps 4 live files for 1 in one atomic commit, keeps the
    logical rows identical, and leaves time travel to the pre-compaction
    version fully intact."""
    import shutil as _sh

    from aced_etl_pod_spark.operators.table_format import build_orders_txn_table
    from aced_etl_pod_spark.sources.txnlog import txn_compact
    from aced_etl_pod_spark.tables import session_scratch_dir

    base = build_orders_txn_table(spark, SF_SMALL)
    table = session_scratch_dir("txn_compact_test")
    _sh.rmtree(table, ignore_errors=True)
    _sh.copytree(base, table)
    before = sorted(r["o_orderkey"] for r in txn_read(spark, table).collect())
    assert len(snapshot_files(table)) == 4
    v = txn_compact(spark, table, target_files=1, stats_cols=("o_orderkey",))
    assert v == 3
    assert len(snapshot_files(table)) == 1
    after = sorted(r["o_orderkey"] for r in txn_read(spark, table).collect())
    assert after == before
    # pre-compaction snapshot still readable (files only de-referenced)
    v2 = sorted(r["o_orderkey"] for r in txn_read(spark, table, version=2).collect())
    assert v2 == before


def test_checkpoint_bounds_replay_and_preserves_snapshots(spark, table):
    """A checkpoint materializes the live set in one log entry; replay
    from it must equal replay from version 0, for the checkpointed
    version AND later commits."""
    from aced_etl_pod_spark.sources.txnlog import latest_checkpoint, txn_checkpoint

    txn_write(spark, _df(spark, 0, 5), table)
    txn_write(spark, _df(spark, 5, 9), table)
    txn_write(spark, _df(spark, 100, 101), table, mode="overwrite")
    cp = txn_checkpoint(table)
    assert cp == 3 and latest_checkpoint(table) == 3
    assert sorted(r["id"] for r in txn_read(spark, table).collect()) == [100]
    txn_write(spark, _df(spark, 200, 202), table)  # post-checkpoint append
    assert sorted(r["id"] for r in txn_read(spark, table).collect()) == [100, 200, 201]
    # pre-checkpoint time travel still replays the full log
    assert txn_read(spark, table, version=1).count() == 9


def test_vacuum_removes_only_unreferenced(spark, table):
    """Vacuum deletes compacted-away/orphan files outside retention but
    never a file any protected snapshot references."""
    import os as _os

    from aced_etl_pod_spark.sources.txnlog import txn_compact, vacuum

    txn_write(spark, _df(spark, 0, 10).repartition(3), table, stats_cols=("id",))
    txn_compact(spark, table, target_files=1)
    # orphan from a "crashed writer"
    live = snapshot_files(table)[0]["path"]
    with open(_os.path.join(table, "v9-p1-00000.parquet"), "wb") as f:
        f.write(b"junk")
    deleted = vacuum(table, keep_versions=0)
    assert "v9-p1-00000.parquet" in deleted
    assert live not in deleted
    assert len(deleted) >= 3  # the 3 pre-compaction files + orphan
    assert sorted(r["id"] for r in txn_read(spark, table).collect()) == list(range(10))


def test_concurrent_upserts_no_lost_update(spark, table):
    """Two MERGE writers race on DISJOINT key sets; optimistic retry lands
    both atomically — neither merge's delete-keys nor rows are lost, and
    sequence semantics keep each from touching the other's rows."""
    from aced_etl_pod_spark.sources.txnlog import txn_read_mor, txn_upsert

    txn_write(spark, _df(spark, 0, 20), table)  # seed: v = id*2
    ups = [
        spark.range(0, 5).selectExpr("id", "id * 100 AS v"),
        spark.range(10, 15).selectExpr("id", "id * 1000 AS v"),
    ]
    errs = []

    def go(df):
        try:
            txn_upsert(spark, df, table, "id")
        except Exception as exc:  # pragma: no cover
            errs.append(exc)

    ts = [threading.Thread(target=go, args=(d,)) for d in ups]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert not errs
    assert current_version(table) == 2
    got = {r.id: r.v for r in txn_read_mor(spark, table).collect()}
    want = {i: i * 2 for i in range(20)}
    want.update({i: i * 100 for i in range(5)})
    want.update({i: i * 1000 for i in range(10, 15)})
    assert got == want


def _rival_while_staging(monkeypatch, rival):
    """Run ``rival()`` once, inside the first footer read of the next
    staged file: a commit that lands while a writer stages."""
    real = txnlog._file_stats
    fired = []

    def first_read_runs_rival(path, stats_cols):
        if not fired:
            fired.append(path)
            rival()
        return real(path, stats_cols)

    monkeypatch.setattr(txnlog, "_file_stats", first_read_runs_rival)


def test_compaction_aborts_on_a_rival_commit_while_staging(
    spark, table, monkeypatch
):
    """A rival overwrite that commits while the compaction stages wins no
    race against it, yet makes its read set stale: the compaction must
    abort, not re-add the overwritten rows."""
    from aced_etl_pod_spark.sources.txnlog import txn_compact

    txn_write(spark, _df(spark, 0, 10).repartition(2), table)
    _rival_while_staging(
        monkeypatch,
        lambda: txn_write(spark, _df(spark, 100, 103), table, mode="overwrite"),
    )
    with pytest.raises(CommitConflict):
        txn_compact(spark, table)
    ids = sorted(r["id"] for r in txn_read(spark, table).collect())
    assert ids == [100, 101, 102]


def test_apply_deletes_aborts_on_a_rival_upsert_while_staging(
    spark, table, monkeypatch
):
    """A rival upsert of key 2 that commits while the purge stages: the
    purge must abort rather than publish the pre-upsert row beside the
    upserted one."""
    from aced_etl_pod_spark.sources.txnlog import (
        txn_apply_deletes,
        txn_delete_keys,
        txn_read_mor,
        txn_upsert,
    )

    txn_write(spark, _df(spark, 0, 10), table)  # v = id * 2
    txn_delete_keys(spark, spark.range(0, 1), table, "id")
    _rival_while_staging(
        monkeypatch,
        lambda: txn_upsert(
            spark, spark.range(2, 3).selectExpr("id", "id * 2 + 5000 AS v"),
            table, "id",
        ),
    )
    with pytest.raises(CommitConflict):
        txn_apply_deletes(spark, table)
    rows = sorted((r.id, r.v) for r in txn_read_mor(spark, table).collect())
    assert [r for r in rows if r[0] == 2] == [(2, 5004)]
    assert len(rows) == 9  # key 0 still deleted, no key duplicated


def test_set_constraints_retries_a_lost_race(table, monkeypatch):
    """Declaring constraints is an optimistic commit like any other: a
    rival that takes the version moves it to the next one."""
    from aced_etl_pod_spark.sources.txnlog import (
        table_constraints,
        txn_set_constraints,
    )

    os.makedirs(table)
    _publish(table, 0, [{"commit": {"op": "seed", "version": 0}}])
    real = txnlog._publish

    def lose_first_race(t, version, actions):
        monkeypatch.setattr(txnlog, "_publish", real)
        real(t, version, [{"commit": {"op": "rival", "version": version}}])
        real(t, version, actions)  # raises CommitConflict

    monkeypatch.setattr(txnlog, "_publish", lose_first_race)
    constraints = {"positive_v": "v > 0"}
    assert txn_set_constraints(table, constraints) == 2
    assert table_constraints(table) == constraints
    ops = [h["op"] for h in table_history(table)]
    assert ops == ["seed", "rival", "set_constraints"]


@pytest.mark.parametrize(
    "op_name, label",
    [
        ("txnlog_schema_evolution", "txn_schevo"),
        ("txnlog_check_constraints", "txn_checked"),
    ],
)
def test_txn_fixture_is_built_once(spark, op_name, label):
    """A second call of the op reuses the published table: its data
    files (writer-unique names) are the same files."""
    from aced_etl_pod_spark.operators import table_format as tf
    from aced_etl_pod_spark.tables import fixture_name, scratch_dir

    def data_files():
        return sorted(f for f in os.listdir(table) if f.endswith(".parquet"))

    getattr(tf, op_name)(spark, SF_SMALL)
    table = scratch_dir(fixture_name(label, SF_SMALL, "orders.parquet"))
    first = data_files()
    getattr(tf, op_name)(spark, SF_SMALL)
    assert first and data_files() == first


def test_refused_partition_overwrite_leaves_no_files(spark, table):
    """A replacement that is not aligned to the partition is refused
    after staging; its staged files go with it."""
    from aced_etl_pod_spark.sources.txnlog import txn_overwrite_partition

    for part in (0, 1):
        txn_write(spark, _df(spark, 0, 4).selectExpr(f"{part} AS p", "id"),
                  table, stats_cols=("p",))
    before = sorted(os.listdir(table))
    with pytest.raises(ValueError, match="not aligned"):
        txn_overwrite_partition(
            spark, _df(spark, 0, 4).selectExpr("id % 2 AS p", "id").coalesce(1),
            table, part_col="p", part_value=1,
        )
    assert sorted(os.listdir(table)) == before
    assert current_version(table) == 1
