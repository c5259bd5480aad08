"""The round-9 benchmark-protocol pin (PLANS.md round-9).

Rounds 1-8 timed repeated ``collect()`` calls on ONE DataFrame. Spark
keeps a completed shuffle's map outputs alive for the lifetime of the
plan's RDD lineage, so every re-collect SKIPPED the map stages and timed
only the final stage — while the DuckDB baseline re-executed its whole
pipeline per rep. These tests pin both halves of the fix:

* the reuse behavior is REAL (otherwise the correction story is wrong
  and the wrapper is pointless overhead), and
* ``ladder.fresh``, the ``where(lit(True))`` wrapper every timing
  harness samples through, actually forces every stage to re-execute.

The probe is an accumulator bumped inside a map-side Python UDF: a
skipped map stage cannot bump it.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from aced_etl_pod_spark import ladder


def _probe(spark):
    """(df-with-one-exchange, accumulator bumped once per map-stage row)."""
    acc = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def bump(x):
        acc.add(1)
        return x

    df = (
        spark.range(100, numPartitions=4)
        .select(bump("id").alias("id"))
        .groupBy((F.col("id") % 5).alias("g"))
        .agg(F.sum("id").alias("s"))
    )
    return df, acc


def test_same_df_recollect_skips_map_stages(spark):
    """The artifact itself: a second collect() on the SAME DataFrame must
    not re-run the map stage (shuffle output reused). If Spark ever stops
    reusing, the old numbers become retroactively honest and the wrapper
    becomes pure overhead — either way we want to know."""
    df, acc = _probe(spark)
    df.collect()
    first = acc.value
    assert first == 100, f"map stage ran partially? acc={first}"
    df.collect()
    assert acc.value == first, (
        "same-df re-collect re-ran the map stage — Spark's shuffle reuse "
        f"changed (acc {first} -> {acc.value}); revisit the bench protocol"
    )


def test_rerun_wrapper_forces_full_reexecution(spark):
    """The fix: the bench harness wrapper (fresh QueryExecution via
    where(lit(True)), plan materialized pre-timer) re-runs EVERY stage."""
    df, acc = _probe(spark)
    df.collect()
    base = acc.value
    ladder.fresh(df).collect()
    assert acc.value == 2 * base, (
        "wrapped re-collect did not re-run the map stage "
        f"(acc {base} -> {acc.value}) — the bench would again be timing "
        "only final stages"
    )
    ladder.clock(df)
    assert acc.value == 3 * base


def _harness_forks(tree):
    """(line, what) for every piece of the at-scale harness a module
    spells out itself: a ``.where(lit(True))`` wrapper, a scan-split
    pin, a ``KEY_OFFSETS`` table or a 1e-12 tolerance."""
    import ast

    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "where"
            and len(node.args) == 1
            and ast.unparse(node.args[0]).endswith("lit(True)")
        ):
            yield node.lineno, "where(lit(True)) wrapper"
        elif isinstance(node, ast.Constant) and node.value == (
            "spark.sql.files.maxPartitionBytes"
        ):
            yield node.lineno, "scan-split pin"
        elif isinstance(node, ast.Constant) and type(node.value) is float:
            if node.value == 1e-12:
                yield node.lineno, "1e-12 money rule"
        elif isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "KEY_OFFSETS" for t in node.targets
        ):
            yield node.lineno, "KEY_OFFSETS"


def test_bench_and_ladders_use_the_wrapper():
    """Source-level pin: the full-re-execution wrapper, the tiler's
    ``KEY_OFFSETS`` and the ladder session's scan-split pins live in
    ``aced_etl_pod_spark/ladder.py``, and the at-scale money rule in
    ``oracle.compare_at_scale``. A harness in ``bench.py``, ``tools/``
    or the package that spells out its own copy has forked the
    protocol, and a later fix to one copy misses the rest."""
    import ast
    import glob
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(root, "aced_etl_pod_spark")
    home = {
        "1e-12 money rule": os.path.join(pkg, "oracle.py"),
    }
    paths = (
        glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)
        + glob.glob(os.path.join(root, "tools", "*.py"))
        + [os.path.join(root, "bench.py")]
    )
    forks = []
    for path in paths:
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        forks += [
            f"{os.path.relpath(path, root)}:{line} {what}"
            for line, what in _harness_forks(tree)
            if path != home.get(what, os.path.join(pkg, "ladder.py"))
        ]
    assert not forks, f"at-scale harness copies outside ladder/oracle: {forks}"


def test_compare_at_scale_money_rule():
    """The at-scale rule: keys and counts exact, floats within 1e-12
    relative of the oracle's value, and a NaN/None pair is equal."""
    import math

    import pandas as pd

    from aced_etl_pod_spark.oracle import compare_at_scale

    duck = pd.DataFrame(
        {
            "r_name": ["AFRICA", "ASIA", None],
            "order_count": [1200, 1350, 7],
            "revenue": [1.234567e11, 9.87e10, math.nan],
        }
    )

    def spark(**cells):
        got = duck.copy()
        for col, (row, value) in cells.items():
            got.loc[row, col] = value
        return got.iloc[::-1]  # row order is not part of the result

    assert compare_at_scale(spark(), duck) == []
    assert compare_at_scale(spark(revenue=(0, 1.234567e11 * (1 + 1e-13))), duck) == []
    assert compare_at_scale(spark(revenue=(0, 1.234567e11 * (1 + 1e-11))), duck)
    assert compare_at_scale(spark(order_count=(1, 1351)), duck)
    assert compare_at_scale(spark(r_name=(0, "AFRICB")), duck)
    assert compare_at_scale(spark().iloc[1:], duck)
    nulls = duck.assign(revenue=[1.234567e11, 9.87e10, None]).astype({"revenue": object})
    assert compare_at_scale(nulls, duck) == []


def test_scoped_confs_restore_on_error_and_tune_keeps_harness_confs(spark):
    """``session.scoped_confs`` puts every conf back when the body raises:
    a key that had a value gets it back, a key that had none is unset
    again. ``tune``, which every operator entry point calls, writes only
    ``RUNTIME_CONF``, so the ladder's scan-split conf survives it."""
    import pytest

    from aced_etl_pod_spark.session import RUNTIME_CONF, scoped_confs, tune

    held, fresh = "spark.sql.shuffle.partitions", "spark.graft.test.scoped"
    split = "spark.sql.files.maxPartitionBytes"
    assert split not in RUNTIME_CONF
    before = spark.conf.get(held)
    assert spark.conf.get(fresh, None) is None
    with pytest.raises(RuntimeError):
        with scoped_confs(spark, {held: "3", fresh: "on", split: "4m"}):
            tune(spark)
            assert spark.conf.get(split) == "4m"
            assert (spark.conf.get(held), spark.conf.get(fresh)) == ("3", "on")
            raise RuntimeError("the body failed")
    assert spark.conf.get(held) == before
    assert spark.conf.get(fresh, None) is None
