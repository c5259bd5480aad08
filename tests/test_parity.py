"""The correctness gate: every oracle-bearing operator matches DuckDB at
sf0.001 (fast tier of the scale ladder; sf0.01 runs via tools/parity.py and
the driver). Rows-only ops must at least execute and return a DataFrame."""

from __future__ import annotations

import os

import pytest

from aced_etl_pod_spark.oracle import compare, duck_con
from aced_etl_pod_spark.registry import registry
from tests.conftest import SF_SMALL

REG = registry()
ORACLE_OPS = sorted(k for k, v in REG.items() if v.oracle is not None)
ROWS_OPS = sorted(k for k, v in REG.items() if v.oracle is None)

# Streaming + LSH ops are seconds-each; keep the fast gate fast by marking.
SLOW = {k for k in REG if k.startswith("stream_") or k in {"dedup_minhash_lsh", "dedup_simhash"}}


@pytest.fixture(scope="module")
def con():
    return duck_con(SF_SMALL)


@pytest.mark.parametrize("op_id", [o for o in ORACLE_OPS if o not in SLOW])
def test_oracle_parity(spark, con, op_id):
    op = REG[op_id]
    sdf = op.fn(spark, SF_SMALL).toPandas()
    ddf = con.execute(op.oracle).fetchdf()
    errs = compare(sdf, ddf)
    assert not errs, f"{op_id}: {errs[:5]}"


@pytest.mark.slow
@pytest.mark.parametrize("op_id", [o for o in ORACLE_OPS if o in SLOW])
def test_oracle_parity_slow(spark, con, op_id):
    op = REG[op_id]
    sdf = op.fn(spark, SF_SMALL).toPandas()
    ddf = con.execute(op.oracle).fetchdf()
    errs = compare(sdf, ddf)
    assert not errs, f"{op_id}: {errs[:5]}"


@pytest.mark.parametrize("op_id", [o for o in ROWS_OPS if o not in SLOW])
def test_rows_only_runs(spark, op_id):
    df = REG[op_id].fn(spark, SF_SMALL)
    assert df.count() >= 0 and len(df.schema) > 0


def test_registry_complete():
    """SURVEY §2.b promises 71 core operator IDs; extras are on top."""
    assert len(REG) >= 71
    assert len(ORACLE_OPS) >= 60


def test_driver_window_order():
    """The external harness verifies the FIRST 50 registry entries; the
    active (self-rotating) window must exactly occupy that slice (guards
    against a module refactor silently reshuffling which ops get
    driver-checked)."""
    from aced_etl_pod_spark.registry import driver_window

    win = driver_window()
    assert len(win) == 50
    assert len(set(win)) == 50
    assert list(REG)[:50] == list(win)


def test_driver_window_self_rotation():
    """driver_window() rotates itself from the committed CORRECTNESS
    files: after the pending changed ops, the window is backfilled to
    exactly 50 registered ops, oldest external row first with op id as
    the tie-break, and no op left out is older than one let in. Checked
    on the committed rows and with the next round landed."""
    from unittest import mock

    from aced_etl_pod_spark import registry as regmod

    rows = regmod._external_rows()
    landed = max(rows.values(), default=0) + 1
    nxt = dict(rows)
    nxt.update({o: landed for o in regmod.driver_window()})
    for fake in (rows, nxt):
        with mock.patch.object(regmod, "_external_rows", return_value=fake):
            win = regmod.driver_window()
        assert len(win) == 50 and len(set(win)) == 50
        assert all(o in REG for o in win)
        pending = [
            o for o, r in regmod._CHANGED_OPS_PENDING if fake.get(o, 0) < r
        ]
        assert list(win[: len(pending)]) == pending
        keys = [(fake.get(o, 0), o) for o in win[len(pending):]]
        assert keys == sorted(keys)
        left_out = [(fake.get(o, 0), o) for o in REG if o not in win]
        assert not keys or min(left_out) > keys[-1]


def test_changed_ops_lead_until_their_round_lands():
    """Changed-ops-first rule: a pending op sorts ahead of the
    oldest-first backfill, even when its external row is the newest,
    and drops back into the backfill once a row from its round lands."""
    from unittest import mock

    from aced_etl_pod_spark import registry as regmod

    ops = sorted(REG)
    rows = {o: 10 for o in ops}
    newest = ops[0]
    rows[newest] = 12
    with (
        mock.patch.object(regmod, "_external_rows", return_value=dict(rows)),
        mock.patch.object(regmod, "_CHANGED_OPS_PENDING", ((newest, 13),)),
    ):
        win = regmod.driver_window()
        assert win[0] == newest and len(win) == 50
        rows[newest] = 13
        regmod._external_rows.return_value = dict(rows)
        win = regmod.driver_window()
        assert newest not in win and len(win) == 50
        assert list(win) == ops[1:51]


def test_operators_md_fresh():
    """docs/OPERATORS.md is generated from the registry — regenerate with
    tools/gen_operators_md.py whenever an operator is added/changed."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from gen_operators_md import OUT, render

    with open(OUT) as f:
        assert f.read() == render(), "stale docs/OPERATORS.md — regenerate"


def test_operators_md_window_invariant():
    """r6 verdict item 2: the committed doc must NOT depend on the
    self-rotating driver window — landing a new CORRECTNESS_r*.json must
    never stale it. Simulate the next external round landing and assert
    render() is byte-identical."""
    import os
    import sys
    from unittest import mock

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from gen_operators_md import render

    import aced_etl_pod_spark.registry as regmod

    before = render()
    rows = regmod._external_rows()
    nxt = max(rows.values(), default=0) + 1
    fake = dict(rows)
    fake.update({o: nxt for o in regmod.driver_window()})
    with mock.patch.object(regmod, "_external_rows", return_value=fake):
        assert regmod.driver_window() != tuple(), "window must stay populated"
        after = render()
    assert before == after, "doc depends on the rotating driver window"


def test_census_fully_externally_verified_or_queued():
    """Freshness guard (VERDICT r4 item 9): every registered operator must
    either already have an external CORRECTNESS_r*.json row or sit in the
    current driver window (driver_window() — the slice the next external
    run will check). New ops therefore cannot accumulate unverified:
    adding more than the window can take fails this test."""
    import glob
    import json

    from aced_etl_pod_spark.registry import driver_window

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    seen: set[str] = set()
    for f in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        with open(f) as fh:
            seen |= set(json.load(fh))
    missing = sorted(set(registry()) - seen - set(driver_window()))
    assert not missing, (
        f"{len(missing)} ops have no external correctness row and are not "
        f"in the driver window — queue them: {missing}"
    )


def test_rotation_drains_entire_census_within_bound():
    """Evidence-lag closure (r6 verdict 'what's missing' item 1, made a
    machine guarantee): simulate external rounds forward — each round
    checks exactly driver_window() and lands rows for it — and assert
    EVERY registered op has an external row within 6 simulated rounds.
    This proves the oldest-first backfill actually drains the
    whole census (no op can hide forever), independent of which round
    we're in when the test runs."""
    from unittest import mock

    import aced_etl_pod_spark.registry as regmod

    rows = dict(regmod._external_rows())
    reg = set(regmod.registry())
    start = max(rows.values(), default=0)
    for rnd in range(start + 1, start + 7):
        win = None
        with mock.patch.object(regmod, "_external_rows", return_value=dict(rows)):
            win = regmod.driver_window()
        assert len(win) == 50 and len(set(win)) == 50, rnd
        for o in win:
            rows[o] = rnd
        if reg <= set(rows):
            break
    missing = reg - set(rows)
    assert not missing, (
        f"{len(missing)} ops never reach an external window within 6 "
        f"rounds: {sorted(missing)[:10]}"
    )


def test_census_counts_in_lockstep():
    """r9 verdict item 8: the registry count, README's census line, and
    docs/OPERATORS.md's auto-generated header must agree, so an r8-style
    drift (328 vs 329 across docs) cannot recur. The README line is
    matched by its 'Full inventory (N operators' anchor; OPERATORS.md by
    its 'N registered operators; N DuckDB-oracle-checked' header."""
    import re

    from aced_etl_pod_spark.registry import all_oracles, all_queries

    n = len(all_queries())
    assert len(all_oracles()) == n, "queries/oracles census mismatch"

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    readme = open(os.path.join(root, "README.md")).read()
    m = re.search(r"Full inventory \((\d+) operators, ALL (\d+) full-oracle", readme)
    assert m, "README census anchor line missing"
    assert int(m.group(1)) == n and int(m.group(2)) == n, (
        f"README says {m.groups()}, registry has {n}"
    )

    opsmd = open(os.path.join(root, "docs", "OPERATORS.md")).read()
    m2 = re.search(r"(\d+) registered operators; (\d+) DuckDB-oracle-checked", opsmd)
    assert m2, "OPERATORS.md header missing"
    assert int(m2.group(1)) == n and int(m2.group(2)) == n, (
        f"OPERATORS.md says {m2.groups()}, registry has {n}"
    )
