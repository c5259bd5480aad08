"""The injection of ``tools/sweep.py``, checked on the written tables alone
(pyarrow, no Spark): every kind is deterministic, poisons only the
columns it names, and the row kinds keep every table's schema. One run
through Spark checks that a kind's fixtures go with its tables."""

from __future__ import annotations

import math
import os

import pyarrow.parquet as pq
import pytest

from tools import sweep


def _build(kind, out):
    out.mkdir()
    sweep.build(kind, str(out))
    return {t: str(out / f"{t}.parquet") for t in sweep.IDENTITY}


def _source(t):
    return pq.read_table(os.path.join(sweep.SRC_SF, f"{t}.parquet"))


@pytest.mark.parametrize("kind", sweep.KINDS)
def test_two_builds_are_byte_identical(kind, tmp_path):
    a, b = _build(kind, tmp_path / "a"), _build(kind, tmp_path / "b")
    for t in sweep.IDENTITY:
        with open(a[t], "rb") as fa, open(b[t], "rb") as fb:
            assert fa.read() == fb.read(), f"{kind}: {t} differs between builds"


def test_null_kind_keeps_identity_columns(tmp_path):
    nulled = 0
    for t, path in _build("null", tmp_path / "null").items():
        src, got = _source(t), pq.read_table(path)
        for name in src.column_names:
            if name in sweep.IDENTITY[t]:
                assert got.column(name).equals(src.column(name)), f"{t}.{name}"
            else:
                nulled += got.column(name).null_count - src.column(name).null_count
    assert nulled > 0


def _lanes_changed(a, b):
    if a is None or b is None:
        return 0 if a is b else len(a or b)
    return sum(
        not (x == y or (math.isnan(x) and math.isnan(y))) for x, y in zip(a, b)
    )


@pytest.mark.parametrize("kind", ["nonfinite", "extreme"])
def test_float_kinds_touch_float_columns_and_one_lane(kind, tmp_path):
    poisoned = 0
    for t, path in _build(kind, tmp_path / kind).items():
        src, got = _source(t), pq.read_table(path)
        for name in src.column_names:
            if name in sweep.FLOAT_COLS.get(t, ()):
                poisoned += not got.column(name).equals(src.column(name))
            elif (t, name) == sweep.VECTOR:
                pairs = zip(src.column(name).to_pylist(), got.column(name).to_pylist())
                changed = [_lanes_changed(a, b) for a, b in pairs]
                assert max(changed) == 1, f"{kind}: a vector lost more than one lane"
            else:
                assert got.column(name).equals(src.column(name)), f"{kind}: {t}.{name}"
    assert poisoned > 0


@pytest.mark.parametrize("kind", sorted(sweep.ROWS))
def test_row_kinds_keep_every_schema(kind, tmp_path):
    for t, path in _build(kind, tmp_path / kind).items():
        got = pq.read_table(path)
        assert got.num_rows == sweep.ROWS[kind]
        want = _source(t).schema.remove_metadata()
        assert got.schema.remove_metadata().equals(want), t


def test_sweep_leaves_no_fixture_in_shared_scratch(spark, tmp_path, monkeypatch):
    """Fixtures an op builds on a kind's injected tables are published in
    that kind's own scratch and removed with it: the shared scratch gains
    no ``q1sum_lineitem_sweep_*`` dir."""
    shared = tmp_path / "shared"
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(shared))
    monkeypatch.setattr(
        "aced_etl_pod_spark.session.get_spark", lambda app: spark
    )
    monkeypatch.setattr(
        "sys.argv",
        ["sweep.py", "agg_group_sums_summary_ingest", "--kind", "empty"],
    )
    assert sweep.main() == 0
    assert os.environ["SPARK_GRAFT_SCRATCH"] == str(shared)
    assert not list(shared.glob("q1sum_lineitem_sweep_*"))
