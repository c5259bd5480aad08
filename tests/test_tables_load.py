"""Regression guard for tables.load's events.ts normalization: the testdata
generator has shipped ts as parquet TIMESTAMP(NANOS) and TIMESTAMP(MICROS,
ntz) across rounds (the r03 external run broke on the switch); the loader
must land every encoding on a session-UTC timestamp with identical values.
The schema cache behind ``read_parquet`` is checked here too: a warm read
starts no job, and a source that can change under its key is re-inferred."""

from __future__ import annotations

import datetime
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from aced_etl_pod_spark.tables import (
    load,
    load_validated_embeddings,
    read_parquet,
    session_scratch_dir,
)
from tests.conftest import SF_SMALL, jobs_in_group

TS = [
    datetime.datetime(2024, 1, 1, 0, 0, 7, 179575),
    datetime.datetime(2024, 3, 5, 12, 30, 0, 1),
]


def _fixture_dir(unit: str) -> str:
    root = session_scratch_dir(f"tables_load_{unit}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    table = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(TS, pa.timestamp(unit)),
            "user_id": pa.array([10, 20], pa.int64()),
            "event_type": pa.array(["a", "b"]),
            "value": pa.array([1.0, 2.0]),
            "props": pa.array(["{}", "{}"]),
        }
    )
    pq.write_table(table, os.path.join(root, "events.parquet"))
    return root


def test_load_normalizes_every_ts_encoding(spark):
    dirs = {unit: _fixture_dir(unit) for unit in ("ns", "us")}
    for unit in ("ns", "us", "ns", "us"):  # the second round reads warm
        df = load(spark, dirs[unit], "events")
        assert dict(df.dtypes)["ts"] == "timestamp", unit
        got = sorted(r.ts for r in df.select("ts").collect())
        assert got == TS, (unit, got)


def _jobs(spark, fn) -> int:
    return len(jobs_in_group(spark, f"tables-{os.urandom(4).hex()}", fn)[0])


def _region(sf_dir, keys) -> None:
    pq.write_table(pa.table({"r_regionkey": keys}), os.path.join(sf_dir, "region.parquet"))


def test_warm_load_and_fixture_read_start_no_job(spark, tmp_path):
    """The first load of a file infers its schema (one job); a later load
    of the same bytes, and a read of a published fixture, plan with the
    remembered schema and start none."""
    _region(str(tmp_path), pa.array([0, 1], pa.int64()))
    assert _jobs(spark, lambda: load(spark, str(tmp_path), "region")) == 1
    assert _jobs(spark, lambda: load(spark, str(tmp_path), "region")) == 0
    load_validated_embeddings(spark, SF_SMALL)
    assert _jobs(spark, lambda: load_validated_embeddings(spark, SF_SMALL)) == 0


def test_rewritten_table_is_reinferred(spark, tmp_path):
    """The file key is (path, mtime_ns, size): a table rewritten at the
    same path with another column type reads with the new schema."""
    _region(str(tmp_path), pa.array([7], pa.int64()))
    assert load(spark, str(tmp_path), "region").dtypes == [("r_regionkey", "bigint")]
    _region(str(tmp_path), pa.array(["seven"]))
    df = load(spark, str(tmp_path), "region")
    assert df.dtypes == [("r_regionkey", "string")]
    assert [r.r_regionkey for r in df.collect()] == ["seven"]


def test_only_published_fixture_dirs_are_cached(spark, tmp_path, monkeypatch):
    """A build's ``.tmp.`` dir and a dir with no _DONE marker can change
    under the same path, so every read re-infers them; a dir inside a
    published fixture is read warm."""
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))

    def write(d, cols):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        pq.write_table(pa.table({c: [1] for c in cols}), os.path.join(d, "part-0.parquet"))

    # a build marks its temp dir _DONE just before the publishing rename
    os.makedirs(tmp_path / ".lbl_x.tmp.abc")
    open(tmp_path / ".lbl_x.tmp.abc" / "_DONE", "w").close()
    for sub in (".lbl_x.tmp.abc/t", "no_marker/t"):
        d = str(tmp_path / sub)
        write(d, ["a"])
        assert read_parquet(spark, d).columns == ["a"]
        write(d, ["a", "b"])
        assert read_parquet(spark, d).columns == ["a", "b"], sub
    d = str(tmp_path / "published" / "t")
    write(d, ["a"])
    open(tmp_path / "published" / "_DONE", "w").close()
    read_parquet(spark, d)
    assert _jobs(spark, lambda: read_parquet(spark, d)) == 0


def test_validated_embeddings_atomic_publish_and_eviction(spark):
    """Round-9 advice fix: load_validated_embeddings publishes via temp-dir
    + atomic rename (a reader that saw the marker can never observe a
    half-overwritten data dir), recovers from a marker-less partial dir
    left by a crashed/pre-atomic writer, and evicts superseded
    fingerprints of the same sf_tag."""
    import os
    import shutil

    from aced_etl_pod_spark.tables import load_validated_embeddings, scratch_dir

    sf_dir = "/root/testdata/sf0.001"
    base = scratch_dir()
    st = os.stat(os.path.join(sf_dir, "embeddings.parquet"))
    name = f"validated_emb_sf0.001_{st.st_mtime_ns:x}_{st.st_size:x}"
    out = os.path.join(base, name)

    # a stale fingerprint for the same sf_tag must be evicted on publish
    # — but only once past the eviction grace period (round-11 advice:
    # immediate eviction raced concurrent readers), so backdate it
    stale = os.path.join(base, "validated_emb_sf0.001_deadbeef_1")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(stale, exist_ok=True)
    os.utime(stale, (1_700_000_000, 1_700_000_000))

    n = load_validated_embeddings(spark, sf_dir).count()
    assert n > 0
    assert os.path.exists(os.path.join(out, "_DONE"))
    assert not os.path.exists(stale), "stale fingerprint not evicted"
    # no leftover temp dirs from the publish
    leftovers = [d for d in os.listdir(base) if d.startswith(f".{name}.tmp.")]
    assert not leftovers, f"temp dirs leaked: {leftovers}"

    # marker-less partial dir (legacy/crashed writer) must be rebuilt, not
    # trusted and not permanently wedged
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "emb"), exist_ok=True)  # partial: no marker
    n2 = load_validated_embeddings(spark, sf_dir).count()
    assert n2 == n
    assert os.path.exists(os.path.join(out, "_DONE"))


def test_ivf_index_empty_and_normal_build_one_schema(spark):
    """Round-9 advice fix (re-pinned on the round-10 bucketed layout):
    the empty-corpus IVF index must read back with the SAME cells schema
    as the partitionBy('bkt') path (vec_id, embedding, cid long, bkt int
    last), and probes on it return the empty k-NN frame."""
    import shutil

    from aced_etl_pod_spark.functions.similarity import (
        ivf_index_build,
        ivf_index_probe,
        ivf_index_probe_many,
    )
    from aced_etl_pod_spark.tables import session_scratch_dir

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    root = session_scratch_dir("ivf_schema_parity")
    shutil.rmtree(root, ignore_errors=True)
    ivf_index_build(emb, f"{root}/normal")
    ivf_index_build(emb.limit(0), f"{root}/empty")
    s_normal = spark.read.parquet(f"{root}/normal/cells").schema
    s_empty = spark.read.parquet(f"{root}/empty/cells").schema
    assert s_normal == s_empty, f"{s_normal} != {s_empty}"

    q = emb.limit(1)
    assert ivf_index_probe(spark, f"{root}/empty", q, k=3).count() == 0
    assert ivf_index_probe_many(spark, f"{root}/empty", q, k=3).count() == 0
    shutil.rmtree(root, ignore_errors=True)


def test_session_scratch_is_process_private_and_footer_counts_match():
    """Round-11 hardening: (a) session_scratch_dir is keyed by pid +
    startup nonce so two concurrent runners never share ephemeral state
    — a child process must resolve a DIFFERENT path for the same sub;
    (b) table_row_count reads parquet footers only (no SparkSession at
    all) and equals the actual row count; (c) evict_stale_fixtures
    age-gates: a fresh superseded dir survives, an old one is pruned."""
    import os
    import shutil
    import subprocess
    import sys
    import time

    from aced_etl_pod_spark.tables import (
        evict_stale_fixtures,
        scratch_dir,
        session_scratch_dir,
        table_row_count,
    )

    mine = session_scratch_dir("probe")
    child = subprocess.run(
        [
            sys.executable,
            "-c",
            "from aced_etl_pod_spark.tables import session_scratch_dir;"
            "print(session_scratch_dir('probe'))",
        ],
        capture_output=True,
        text=True,
        check=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ).stdout.strip()
    assert child != mine, "child process resolved the SAME session scratch"
    assert session_scratch_dir("probe") == mine, "not stable within process"

    import duckdb

    sf = "/root/testdata/sf0.001"
    n = table_row_count(sf, "orders")
    (expect,) = duckdb.connect().execute(
        f"SELECT count(*) FROM '{sf}/orders.parquet'"
    ).fetchone()
    assert n == expect, (n, expect)

    base = scratch_dir()
    fresh = os.path.join(base, "agegate_x_fresh")
    old = os.path.join(base, "agegate_x_old")
    keep = "agegate_x_keep"
    for d in (fresh, old, os.path.join(base, keep)):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    os.utime(old, (time.time() - 7200,) * 2)
    evict_stale_fixtures(base, ("agegate_x_",), keep=keep)
    assert os.path.exists(fresh), "grace period violated: fresh dir evicted"
    assert os.path.exists(os.path.join(base, keep)), "keep dir evicted"
    assert not os.path.exists(old), "aged-out superseded dir not evicted"
    for d in (fresh, os.path.join(base, keep)):
        shutil.rmtree(d, ignore_errors=True)


def _source(tmp_path, monkeypatch):
    """A one-file source dir and a private shared scratch for fixture()."""
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path / "scratch"))
    sf_dir = tmp_path / "sf_t"
    sf_dir.mkdir()
    (sf_dir / "t.parquet").write_bytes(b"v1")
    return str(sf_dir)


def _leftovers(tmp_path):
    return [d for d in os.listdir(tmp_path / "scratch") if ".tmp." in d]


def test_fixture_concurrent_builders_publish_once(tmp_path, monkeypatch):
    """Two threads that both find no fixture and both build it: one copy
    is published, both get its path, and no temp dir is left behind."""
    import threading

    from aced_etl_pod_spark.tables import fixture

    sf_dir = _source(tmp_path, monkeypatch)
    both_building = threading.Barrier(2, timeout=30)

    def build(tmp):
        both_building.wait()
        with open(os.path.join(tmp, f"built_by_{threading.get_ident()}"), "w"):
            pass

    paths = []
    threads = [
        threading.Thread(
            target=lambda: paths.append(fixture("fx", sf_dir, ("t.parquet",), build))
        )
        for _ in range(2)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(paths) == 2 and paths[0] == paths[1], paths
    published = sorted(os.listdir(paths[0]))
    assert len(published) == 2 and "_DONE" in published, published
    assert not _leftovers(tmp_path)


def test_fixture_failed_build_leaves_nothing(tmp_path, monkeypatch):
    import pytest

    from aced_etl_pod_spark.tables import fixture, fixture_name

    sf_dir = _source(tmp_path, monkeypatch)

    def build(tmp):
        with open(os.path.join(tmp, "half"), "w"):
            pass
        raise ValueError("build failed")

    with pytest.raises(ValueError, match="build failed"):
        fixture("fx", sf_dir, ("t.parquet",), build)
    name = fixture_name("fx", sf_dir, "t.parquet")
    assert not os.path.exists(tmp_path / "scratch" / name)
    assert not _leftovers(tmp_path)


def test_fixture_name_changes_when_source_rewritten(tmp_path, monkeypatch):
    from aced_etl_pod_spark.tables import fixture_name

    sf_dir = _source(tmp_path, monkeypatch)
    before = fixture_name("fx", sf_dir, "t.parquet")
    assert before.startswith("fx_sf_t_"), before
    (tmp_path / "sf_t" / "t.parquet").write_bytes(b"v2 rewritten")
    assert fixture_name("fx", sf_dir, "t.parquet") != before


def test_table_row_count_follows_a_rewritten_table(tmp_path):
    """The dispatch knees read ``table_row_count``; a table rewritten at
    the same path with a different row count must be counted again, not
    served from the first count."""
    from aced_etl_pod_spark.tables import table_row_count

    sf_dir = str(tmp_path / "sf_rc")
    os.makedirs(sf_dir)
    path = os.path.join(sf_dir, "orders.parquet")
    pq.write_table(pa.table({"o_orderkey": pa.array(range(3), pa.int64())}), path)
    assert table_row_count(sf_dir, "orders") == 3
    pq.write_table(pa.table({"o_orderkey": pa.array(range(50), pa.int64())}), path)
    assert table_row_count(sf_dir, "orders") == 50
