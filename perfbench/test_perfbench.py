"""Tests of the benchmark's own pieces.

    python3 -m pytest perfbench
"""

from __future__ import annotations

import os
import zipfile

import pytest

import inputs
import run as bench
import spans


def _bytes(d: str) -> dict[str, bytes]:
    return {f: open(os.path.join(d, f), "rb").read() for f in sorted(os.listdir(d))}


def test_same_seed_gives_identical_tables_and_tiling(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    inputs.write_tables(a, 5, frac=0.01)
    inputs.write_tables(b, 5, frac=0.01)
    inputs.write_tables(c, 6, frac=0.01)
    assert _bytes(a) == _bytes(b)
    assert _bytes(a)["lineitem.parquet"] != _bytes(c)["lineitem.parquet"]
    inputs.write_tiled(a, str(tmp_path / "ta"), 3)
    inputs.write_tiled(b, str(tmp_path / "tb"), 3)
    assert _bytes(str(tmp_path / "ta")) == _bytes(str(tmp_path / "tb"))


def test_tiling_offsets_keys_per_replica(tmp_path):
    import pyarrow.parquet as pq

    inputs.write_tables(str(tmp_path / "a"), 5, frac=0.01)
    inputs.write_tiled(str(tmp_path / "a"), str(tmp_path / "t"), 3)
    base = pq.read_table(str(tmp_path / "a" / "orders.parquet"))
    tiled = pq.read_table(str(tmp_path / "t" / "orders.parquet"))
    assert tiled.num_rows == 3 * base.num_rows
    keys = tiled["o_orderkey"].to_pylist()
    assert len(set(keys)) == len(keys)
    nation = pq.read_table(str(tmp_path / "t" / "nation.parquet"))
    assert nation.num_rows == 25


def test_same_seed_gives_identical_fhir_zips(tmp_path):
    sizes = {"bench-a": 50, "bench-b": 20}
    m1 = inputs.write_fhir(str(tmp_path / "a"), 9, sizes)
    m2 = inputs.write_fhir(str(tmp_path / "b"), 9, sizes)
    assert m1 == m2
    assert _bytes(str(tmp_path / "a")) == _bytes(str(tmp_path / "b"))
    with zipfile.ZipFile(str(tmp_path / "a" / "bench-a.zip")) as zf:
        for rtype, n in m1["bench-a"].items():
            assert zf.read(f"{rtype}.ndjson").count(b"\n") == n
    inputs.write_fhir(str(tmp_path / "c"), 10, sizes)
    assert _bytes(str(tmp_path / "a")) != _bytes(str(tmp_path / "c"))


def test_self_time_subtracts_the_union_of_children():
    S = spans.Span
    tree = [
        S(0, "root", 0.0, 10.0, None, 1),
        S(1, "a", 1.0, 3.0, 0, 1),
        S(2, "b", 2.0, 5.0, 0, 1),  # overlaps a: union 1..5
        S(3, "c", 9.0, 12.0, 0, 1),  # overruns the parent: clipped to 9..10
        S(4, "a.x", 1.5, 2.5, 1, 1),  # grandchild: only its parent's concern
    ]
    st = spans.self_times(tree)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[1] == pytest.approx(2.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)


def test_tracer_nests_and_groups_by_trace():
    tr = spans.Tracer()
    tr.new_trace()
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    tr.new_trace()
    with tr.span("inner"):
        pass
    outer, inner1, inner2 = tr.spans
    assert inner1.parent == outer.id and inner2.parent is None
    assert tr.calls("inner", {1}) == 1 and tr.calls("inner", {1, 2}) == 2


@pytest.fixture(scope="module")
def run_dir():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    r = bench.Run("query_floor", 3, 1, traced=True)
    yield r
    r.close()


def test_traced_and_untraced_queries_give_identical_checked_outputs(run_dir, tmp_path):
    from aced_etl_pod_spark.oracle import canon
    import pandas as pd

    sf = str(tmp_path / "sf")
    inputs.write_tables(sf, 3, frac=0.02)
    q = bench.Queries(run_dir, sf, bench.expected_results(sf))
    try:
        for op in bench.QUERY_OPS:
            _, _, plain, _ = q.sample(op, traced=False)
            _, _, traced, st = q.sample(op, traced=True)
            as_df = lambda rows: canon(pd.DataFrame.from_records([tuple(r) for r in rows]))  # noqa: E731
            assert as_df(plain).equals(as_df(traced)), op
            assert st["spark.jobs"] >= 1 and st["spark.driver_gap_s"] >= 0
    finally:
        q.undo()
    assert run_dir.failed == 0, run_dir.errors


def test_traced_and_untraced_etl_cycles_give_identical_exports(run_dir, tmp_path):
    zips = str(tmp_path / "zips")
    manifest = inputs.write_fhir(zips, 4, {"t-big": 300, "t-res": 100})
    job = bench.EtlJob(run_dir, zips, manifest, big="t-big")
    try:
        job.put("t-res")

        def export(c):
            with zipfile.ZipFile(c["snapshot"]) as zf:
                return {n: sorted(zf.read(n).splitlines()) for n in zf.namelist()}

        plain = export(job.cycle(traced=False))
        rec = job.cycle(traced=True)
        assert export(rec) == plain
        put_st, _get_st = rec["stats"]
        assert put_st["storage.upsert_calls"] == 7
    finally:
        job.undo()
    assert run_dir.failed == 0, run_dir.errors
