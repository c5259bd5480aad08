"""Property-based differential testing (hypothesis): random predicate +
aggregation specs are rendered BOTH as a Spark DataFrame plan and as DuckDB
SQL over the same parquet table; results must agree. This fuzzes the
filter/aggregate surface far beyond the hand-written operator corpus.
"""

from __future__ import annotations

import re

import duckdb
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL

# (column, kind) — orders table
NUM_COLS = ["o_totalprice", "o_orderkey", "o_custkey"]
STR_COLS = {"o_orderstatus": ["O", "F", "P"], "o_orderpriority": ["1-URGENT", "3-MEDIUM", "5-LOW"]}

num_pred = st.tuples(
    st.sampled_from(NUM_COLS),
    st.sampled_from([">", "<", ">=", "<="]),
    st.floats(min_value=0, max_value=300000, allow_nan=False).map(lambda v: round(v, 2)),
)
str_pred = st.builds(
    lambda col, vals: (col, "in", vals),
    st.sampled_from(sorted(STR_COLS)),
    st.lists(st.sampled_from(sum(STR_COLS.values(), [])), min_size=1, max_size=3, unique=True),
)
pred_list = st.lists(st.one_of(num_pred, str_pred), min_size=1, max_size=4)


def to_spark_filter(preds):
    cond = F.lit(True)
    for col, op, val in preds:
        c = F.col(col)
        if op == ">":
            term = c > val
        elif op == "<":
            term = c < val
        elif op == ">=":
            term = c >= val
        elif op == "<=":
            term = c <= val
        else:  # "in"
            term = c.isin(val)
        cond = cond & term
    return cond


def to_sql_where(preds):
    parts = []
    for col, op, val in preds:
        if op == "in":
            vals = ", ".join(f"'{v}'" for v in val)
            parts.append(f"{col} IN ({vals})")
        else:
            parts.append(f"{col} {op} {val!r}")
    return " AND ".join(parts)


@pytest.fixture(scope="module")
def orders_env(spark):
    from aced_etl_pod_spark.tables import load

    df = load(spark, SF_SMALL, "orders").cache()
    df.count()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{SF_SMALL}/orders.parquet'")
    return df, con


@settings(max_examples=40, deadline=None, suppress_health_check=list(HealthCheck))
@given(preds=pred_list, group=st.sampled_from([None, "o_orderstatus", "o_orderpriority"]))
def test_random_filter_agg_matches_duckdb(orders_env, preds, group):
    df, con = orders_env
    filtered = df.filter(to_spark_filter(preds))
    where = to_sql_where(preds)
    if group is None:
        got = filtered.agg(
            F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("s")
        ).first()
        exp = con.execute(
            f"SELECT CAST(count(*) AS BIGINT), round(sum(o_totalprice), 2) "
            f"FROM orders WHERE {where}"
        ).fetchone()
        assert (got["n"], got["s"]) == exp
    else:
        got = {
            r[group]: (r["n"], r["s"])
            for r in filtered.groupBy(group)
            .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("s"))
            .collect()
        }
        exp = {
            r[0]: (r[1], r[2])
            for r in con.execute(
                f"SELECT {group}, CAST(count(*) AS BIGINT), round(sum(o_totalprice), 2) "
                f"FROM orders WHERE {where} GROUP BY {group}"
            ).fetchall()
        }
        assert got == exp


# ---- window-function fuzz: random (fn, partition, order) specs ----------

WIN_FNS = ["row_number", "rank", "dense_rank", "count", "running_sum"]
PART_COLS = [None, "o_orderstatus", "o_orderpriority"]
ORDER_COLS = ["o_totalprice", "o_orderdate", "o_custkey"]


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    fn=st.sampled_from(WIN_FNS),
    part=st.sampled_from(PART_COLS),
    order_col=st.sampled_from(ORDER_COLS),
    desc=st.booleans(),
)
def test_random_window_spec_matches_duckdb(orders_env, fn, part, order_col, desc):
    """Random window specs (function × partition × order × direction) agree
    with DuckDB. o_orderkey is always appended as the final sort key so
    every window has a total order (rank/dense_rank then still exercise
    peer handling through the primary key's duplicates)."""
    from pyspark.sql import Window

    df, con = orders_env
    direction = "DESC" if desc else "ASC"
    w = Window.orderBy(
        F.desc(order_col) if desc else F.col(order_col), "o_orderkey"
    )
    if part:
        w = w.partitionBy(part)
    part_sql = f"PARTITION BY {part} " if part else ""
    over = f"OVER ({part_sql}ORDER BY {order_col} {direction}, o_orderkey)"
    if fn == "running_sum":
        col = F.round(F.sum("o_totalprice").over(w), 2)
        sql_expr = f"round(sum(o_totalprice) {over}, 2)"
    elif fn == "count":
        col = F.count("*").over(w).cast("long")
        sql_expr = f"CAST(count(*) {over} AS BIGINT)"
    else:
        col = getattr(F, fn)().over(w).cast("long")
        sql_expr = f"CAST({fn}() {over} AS BIGINT)"
    got = {
        r["o_orderkey"]: r["v"]
        for r in df.select("o_orderkey", col.alias("v")).collect()
    }
    exp = dict(
        con.execute(
            f"SELECT o_orderkey, {sql_expr} AS v FROM orders"
        ).fetchall()
    )
    assert got == exp


@pytest.fixture(scope="module")
def join_env(spark):
    from aced_etl_pod_spark.tables import load

    o = load(spark, SF_SMALL, "orders").cache()
    c = load(spark, SF_SMALL, "customer").cache()
    o.count(), c.count()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{SF_SMALL}/orders.parquet'")
    con.execute(
        f"CREATE VIEW customer AS SELECT * FROM '{SF_SMALL}/customer.parquet'"
    )
    return o, c, con


cust_pred = st.tuples(
    st.sampled_from(["c_acctbal"]),
    st.sampled_from([">", "<"]),
    st.floats(min_value=-999, max_value=9999, allow_nan=False).map(
        lambda v: round(v, 2)
    ),
)


@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    opreds=pred_list,
    cpred=cust_pred,
    jtype=st.sampled_from(["inner", "left", "left_semi", "left_anti"]),
)
def test_random_join_type_matches_duckdb(join_env, opreds, cpred, jtype):
    """Differential join fuzzing: random predicates on both sides × every
    join type; row count and the left-side measure sum must match DuckDB's
    equivalent (EXISTS / NOT EXISTS for semi / anti)."""
    o, c, con = join_env
    ofil = o.filter(to_spark_filter(opreds))
    cfil = c.filter(to_spark_filter([cpred]))
    joined = ofil.join(cfil, ofil.o_custkey == cfil.c_custkey, jtype)
    got = joined.agg(
        F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("s")
    ).first()
    where_o = to_sql_where(opreds)
    where_c = to_sql_where([cpred])
    if jtype in ("inner", "left"):
        kw = "JOIN" if jtype == "inner" else "LEFT JOIN"
        sql = (
            f"SELECT CAST(count(*) AS BIGINT), round(sum(o.o_totalprice), 2) "
            f"FROM (SELECT * FROM orders WHERE {where_o}) o "
            f"{kw} (SELECT * FROM customer WHERE {where_c}) c "
            f"ON o.o_custkey = c.c_custkey"
        )
    else:
        neg = "" if jtype == "left_semi" else "NOT "
        sql = (
            f"SELECT CAST(count(*) AS BIGINT), round(sum(o_totalprice), 2) "
            f"FROM orders o WHERE {where_o} AND {neg}EXISTS ("
            f"SELECT 1 FROM customer c WHERE {where_c} "
            f"AND c.c_custkey = o.o_custkey)"
        )
    exp = con.execute(sql).fetchone()
    assert (got["n"], got["s"]) == exp, (jtype, opreds, cpred)


# -- Round-5 kernel properties (no Spark needed: pure NumPy/filesystem) ----


@settings(max_examples=60, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=24),
    w=st.integers(min_value=1, max_value=24),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_ppm_roundtrip_any_geometry(h, w, seed):
    """encode→decode is the identity for every image geometry."""
    import numpy as np

    from aced_etl_pod_spark.functions.imagecodec import decode_ppm, encode_ppm

    img = np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)
    assert np.array_equal(decode_ppm(encode_ppm(img)), img)


@settings(max_examples=40, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=16),
    w=st.integers(min_value=1, max_value=16),
    oh=st.integers(min_value=1, max_value=16),
    ow=st.integers(min_value=1, max_value=16),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_bilinear_resize_bounds_and_identity(h, w, oh, ow, seed):
    """Resampled pixels stay inside the source min/max per channel
    (bilinear is a convex combination), and same-size resize is exact."""
    import numpy as np

    from aced_etl_pod_spark.functions.imagecodec import resize_bilinear

    img = np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)
    out = resize_bilinear(img, oh, ow)
    assert out.shape == (oh, ow, 3)
    for c in range(3):
        assert out[:, :, c].min() >= img[:, :, c].min()
        assert out[:, :, c].max() <= img[:, :, c].max()
    assert np.array_equal(resize_bilinear(img, h, w), img)


@settings(max_examples=25, deadline=None)
@given(
    n=st.integers(min_value=20, max_value=120),
    m=st.sampled_from([2, 4, 8]),
    k=st.integers(min_value=2, max_value=16),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_pq_adc_equals_exact_distance_to_reconstruction(n, m, k, seed):
    """The ADC lookup-sum IS the exact squared L2 between the query and
    the RECONSTRUCTED vector — table lookups must introduce no
    approximation beyond quantization itself. Also: codes are stable
    under re-encode of the reconstruction (quantizer idempotence on its
    own codewords)."""
    import numpy as np

    from aced_etl_pod_spark.functions.pq import (
        adc_table,
        decode_codes,
        encode_batch,
        train_codebooks,
    )

    rng = np.random.default_rng(seed)
    X = rng.normal(size=(n, 64))
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    books = train_codebooks(X[: min(64, n)], m=m, k=k, iters=4)
    codes = encode_batch(X, books)
    recon = decode_codes(codes, books)
    q = X[0]
    tab = adc_table(q, books)
    adc = tab[np.arange(m)[None, :], codes].sum(axis=1)
    exact = ((recon - q[None, :]) ** 2).sum(axis=1)
    assert np.allclose(adc, exact, rtol=1e-10, atol=1e-10)
    assert np.array_equal(encode_batch(recon, books), codes)


@settings(max_examples=30, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    ops=st.lists(
        st.tuples(st.sampled_from(["append", "overwrite"]),
                  st.integers(min_value=1, max_value=5)),
        min_size=1,
        max_size=6,
    )
)
def test_txnlog_replay_matches_dict_model(tmp_path_factory, ops):
    """Model-based check WITHOUT Spark: drive the log with synthetic add/
    remove actions mirroring a dict reference model; snapshot_files must
    equal the model at every version."""
    from aced_etl_pod_spark.sources.txnlog import _publish, snapshot_files

    table = str(tmp_path_factory.mktemp("txn"))
    model: dict[str, dict] = {}
    history = []
    fid = 0
    for version, (mode, nfiles) in enumerate(ops):
        actions = [{"commit": {"op": mode, "version": version}}]
        if mode == "overwrite":
            actions += [{"remove": {"path": p}} for p in list(model)]
            model.clear()
        for _ in range(nfiles):
            path = f"f{fid}.parquet"
            fid += 1
            entry = {"path": path, "rows": 1, "stats": {}}
            actions.append({"add": entry})
            # replay tags each live entry with its commit version (the
            # sequence number equality-deletes key off)
            model[path] = {**entry, "v": version}
        _publish(table, version, actions)
        history.append(dict(model))
    for v, expected in enumerate(history):
        got = {f["path"]: f for f in snapshot_files(table, v)}
        assert got == expected, f"version {v}"
    latest = {f["path"]: f for f in snapshot_files(table)}
    assert latest == history[-1]


@given(
    a=st.integers(min_value=0, max_value=255),
    b=st.integers(min_value=0, max_value=255),
    a2=st.integers(min_value=0, max_value=255),
    b2=st.integers(min_value=0, max_value=255),
)
@settings(max_examples=60, deadline=None)
def test_morton_interleave_bijective_and_local(a, b, a2, b2):
    """The Z-order kernel (pure-Python mirror of the Catalyst expression
    chain in table_format._interleave_bits): bijective on 8-bit pairs, and
    a unit step in either dimension moves the code by a bounded amount
    within the same 2^(2k) block — the locality that makes per-file
    min/max tight on both columns."""

    def morton(x, y, bits=8):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    if (a, b) != (a2, b2):
        assert morton(a, b) != morton(a2, b2)
    # decode = inverse (bijectivity the constructive way)
    z = morton(a, b)
    xa = sum(((z >> (2 * i)) & 1) << i for i in range(8))
    yb = sum(((z >> (2 * i + 1)) & 1) << i for i in range(8))
    assert (xa, yb) == (a, b)


@given(
    key=st.integers(min_value=0, max_value=2**62),
    m_pow=st.integers(min_value=8, max_value=22),
)
@settings(max_examples=60, deadline=None)
def test_bloom_probes_in_range_and_deterministic(key, m_pow):
    from aced_etl_pod_spark.operators.table_format import (
        BLOOM_PROBES,
        _bloom_probe_positions,
    )

    m = 1 << m_pow
    p1 = _bloom_probe_positions(key, m)
    assert p1 == _bloom_probe_positions(key, m)
    assert len(p1) == BLOOM_PROBES
    assert all(0 <= p < m for p in p1)


@given(
    xs=st.lists(
        st.floats(min_value=-500, max_value=500, allow_nan=False),
        min_size=1,
        max_size=400,
    ),
)
@settings(max_examples=40, deadline=None)
def test_histogram_quantile_within_one_bin(xs):
    """The fixed-bin estimator's contract on arbitrary data in range:
    the estimate's bin CONTAINS the rank-⌈p·n⌉ order statistic, so
    |upper-edge estimate − that order statistic| ≤ bin width. (The
    INTERPOLATED percentile can leave the bin on adversarially sparse
    data — the op's oracle additionally shows it stays within the bound
    on the real distributions.)"""
    from aced_etl_pod_spark.operators.incremental_ops import (
        HIST_BIN_W,
        HIST_BINS,
    )

    xs = [min(max(x, 0.0), HIST_BINS * HIST_BIN_W - 1e-9) for x in xs]
    counts = [0] * HIST_BINS
    for x in xs:
        counts[min(HIST_BINS - 1, int(x // HIST_BIN_W))] += 1
    n = len(xs)
    srt = sorted(xs)
    for p in (0.5, 0.9, 0.99):
        cum = 0
        for b, c in enumerate(counts):
            cum += c
            if cum >= p * n:
                est = (b + 1) * HIST_BIN_W
                break
        # rank statistic: smallest element whose 1-based rank >= p*n —
        # by construction it lies in the chosen bin
        import math

        rank = max(1, math.ceil(p * n - 1e-9))
        exact = srt[rank - 1]
        assert abs(est - exact) <= HIST_BIN_W + 1e-6


@given(
    docs=st.lists(
        st.sets(st.integers(min_value=0, max_value=40), min_size=1, max_size=25),
        min_size=2,
        max_size=12,
    ),
    tau_pct=st.integers(min_value=50, max_value=95),
)
@settings(max_examples=120, deadline=None)
def test_ppjoin_prefix_filter_never_misses_a_pair(docs, tau_pct):
    """The exactness guarantee behind dedup_ngram_jaccard's re-plan
    (pure-Python mirror of the Spark logic): order tokens by ascending
    global df (ties by token), take each doc's (n − ⌈τ·n⌉ + 1)-prefix —
    every pair with true Jaccard ≥ τ MUST share a prefix token
    (pigeonhole on the suffix). Tested adversarially over random set
    universes and thresholds."""
    import math
    from collections import Counter

    tau = tau_pct / 100.0
    dfc = Counter(t for d in docs for t in set(d))
    order = {t: (dfc[t], t) for t in dfc}

    def prefix(d):
        s = sorted(d, key=lambda t: order[t])
        plen = len(s) - math.ceil(tau * len(s)) + 1
        return set(s[:plen])

    prefs = [prefix(d) for d in docs]
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            a, b = set(docs[i]), set(docs[j])
            jac = len(a & b) / len(a | b)
            if jac >= tau:
                assert prefs[i] & prefs[j], (
                    f"missed pair jac={jac:.3f} tau={tau}: {a} {b}"
                )


# ---------------------------------------------------------------------------
# Cross-engine hash-convention agreement (round 6: the sha256-derived
# dedup hashing that makes the minhash/simhash oracles exact)
# ---------------------------------------------------------------------------

@given(
    st.lists(
        st.text(
            alphabet=st.characters(blacklist_categories=("Cs",)),
            min_size=0,
            max_size=40,
        ),
        min_size=1,
        max_size=8,
        unique=True,
    )
)
@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_base_hash_cross_engine_on_arbitrary_unicode(spark, strings):
    """BASE_HASH_SQL (Spark) and DUCK_BASE_HASH_SQL (DuckDB) must agree on
    ARBITRARY unicode input — the convention both the minhash kernel and
    its oracle rest on (sha256 over UTF-8 bytes, top-8 hex chars, mod
    2^31−1). Also pins the simhash 16-bit chunk parse, and checks both
    against a pure-Python hashlib reference so a shared engine quirk
    can't hide."""
    import hashlib

    from aced_etl_pod_spark.functions.dedup import (
        BASE_HASH_SQL,
        DUCK_BASE_HASH_SQL,
    )

    df = spark.createDataFrame([(s,) for s in strings], ["s"])
    got = {
        r["s"]: (r["h"], r["c0"], r["c3"])
        for r in df.selectExpr(
            "s",
            f"{BASE_HASH_SQL.format(x='s')} AS h",
            "CAST(conv(substr(sha2(s, 256), 1, 4), 16, 10) AS BIGINT) AS c0",
            "CAST(conv(substr(sha2(s, 256), 13, 4), 16, 10) AS BIGINT) AS c3",
        ).collect()
    }
    con = duckdb.connect()
    duck = {
        s: con.execute(
            f"SELECT {DUCK_BASE_HASH_SQL.format(x='?')},"
            " CAST(CAST('0x' || substr(sha256(?), 1, 4) AS UBIGINT) AS BIGINT),"
            " CAST(CAST('0x' || substr(sha256(?), 13, 4) AS UBIGINT) AS BIGINT)",
            [s, s, s],
        ).fetchone()
        for s in strings
    }
    for s in strings:
        hx = hashlib.sha256(s.encode("utf-8")).hexdigest()
        ref = (int(hx[:8], 16) % 2147483647, int(hx[:4], 16), int(hx[12:16], 16))
        assert got[s] == ref, f"spark vs hashlib diverge on {s!r}"
        assert duck[s] == ref, f"duckdb vs hashlib diverge on {s!r}"


@given(
    st.lists(
        st.floats(min_value=-1e12, max_value=1e12,
                  allow_nan=False, allow_subnormal=True),
        min_size=1,
        max_size=64,
    )
)
@settings(max_examples=200, deadline=None)
def test_ordered_sum_matches_sql_left_fold(xs):
    """The round-6 oracle upgrades (PQ/IVF k-means, DCT phash) rest on ONE
    assumption: numpy's cumsum-last-prefix (_ordered_sum/_ordered_matmul)
    is bit-identical to a strict sequential left fold — i.e. to DuckDB's
    list_reduce and Spark's aggregate(). Pin it three ways on adversarial
    floats (catastrophic cancellation, tiny+huge mixes): numpy vs a pure
    Python left fold vs DuckDB's actual list_reduce."""
    import numpy as np

    from aced_etl_pod_spark.functions.pq import _ordered_sum

    arr = np.array(xs, dtype=np.float64)
    got_np = float(_ordered_sum(arr.reshape(1, -1), axis=1)[0])
    acc = 0.0
    for x in xs:
        acc = acc + x
    assert got_np == acc or (np.isnan(got_np) and np.isnan(acc))

    con = duckdb.connect()
    (got_duck,) = con.execute(
        "SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE), ?::DOUBLE[]),"
        " (a, x) -> a + x)",
        [xs],
    ).fetchone()
    assert got_duck == acc or (np.isnan(got_duck) and np.isnan(acc))


@given(
    st.integers(min_value=2, max_value=9),   # src h
    st.integers(min_value=2, max_value=9),   # src w
    st.integers(min_value=1, max_value=6),   # out h
    st.integers(min_value=1, max_value=6),   # out w
    st.integers(min_value=0, max_value=2**31 - 1),  # pixel seed
)
@settings(max_examples=60, deadline=None)
def test_bilinear_replay_matches_numpy_on_random_images(sh, sw, oh, ow, seed):
    """The multimodal/phash oracles replay resize_bilinear in SQL
    (_duck_bilinear_px). Pin the identity on RANDOM geometry and pixels,
    not just the fixture shapes: same pixel-center mapping, same IEEE op
    order, same floor(x+0.5) uint8 rounding."""
    import numpy as np

    from aced_etl_pod_spark.functions.imagecodec import resize_bilinear
    from aced_etl_pod_spark.operators.similarity import _duck_bilinear_px

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(sh, sw), dtype=np.uint8)
    ref = resize_bilinear(
        np.repeat(img[:, :, None], 3, axis=2), oh, ow
    )[:, :, 0].astype(np.int64)

    px_rows = ", ".join(
        f"(0, {y}, {x}, {int(img[y, x])})" for y in range(sh) for x in range(sw)
    )
    q = f"""
    WITH src AS (SELECT * FROM (VALUES {px_rows}) t(img, y, x, v)),
    dims AS (SELECT 0 AS img, {sh} AS h, {sw} AS w),
    {_duck_bilinear_px('rz', 'src', 'dims', oh, ow)}
    SELECT y, x, v FROM rz ORDER BY y, x
    """
    con = duckdb.connect()
    got = np.zeros((oh, ow), dtype=np.int64)
    for y, x, v in con.execute(q).fetchall():
        got[y, x] = v
    assert np.array_equal(got, ref), (sh, sw, oh, ow, got, ref)


@given(
    st.integers(min_value=5, max_value=30),        # sample size
    st.integers(min_value=0, max_value=2**31 - 1), # data seed
)
@settings(max_examples=40, deadline=None)
def test_kmeans_cte_replays_pinned_lloyd_on_tie_heavy_data(n, seed):
    """duck_kmeans_ctes must replay train_codebooks bit-for-bit even on
    ADVERSARIAL data: small-integer-valued vectors force exact distance
    ties (argmin tie-break to lowest cid) and empty clusters (previous-
    centroid carry) far more often than real embeddings do."""
    import numpy as np

    from aced_etl_pod_spark.functions.pq import duck_kmeans_ctes, train_codebooks

    k, d, iters = 4, 4, 3
    rng = np.random.default_rng(seed)
    sample = rng.integers(-2, 3, size=(n, d)).astype(np.float64)
    ref = train_codebooks(sample, m=1, k=k, iters=iters)[0]

    rows = ", ".join(
        f"({pos + 1}, 0, [" + ", ".join(repr(float(x)) for x in sample[pos]) + "]::DOUBLE[])"
        for pos in range(n)
    )
    q = f"""
    WITH RECURSIVE
    samp AS (SELECT * FROM (VALUES {rows}) t(pos, j, v)),
    {duck_kmeans_ctes('km_', 'samp', 1, k, d, iters)}
    SELECT cid, v FROM km_books ORDER BY cid
    """
    con = duckdb.connect()
    got = np.array([r[1] for r in con.execute(q).fetchall()])
    assert np.array_equal(got, ref), (n, seed, got, ref)


def test_xml_and_aes_length_formulas(spark):
    """Pin the two closed-form length formulas the fn_xml_roundtrip /
    fn_aes_deterministic oracles rely on, across every length class the
    data could present (1..48 covers all mod-16 residues incl. exact
    block multiples, where PKCS7 appends a FULL extra block):
      - len(to_xml(struct(event_type, user_id))) == 64 + |type| + |str(uid)|
      - len(aes_encrypt(s, k, ECB)) == (|s| // 16 + 1) * 16
    XML-escapable payloads (&, <, >) are out of formula scope — event
    types are plain words — but we assert the escape DOES change length,
    so a future fixture with markup would fail parity loudly, not
    silently."""
    from pyspark.sql import functions as F

    rows = [("x" * n, uid) for n in range(1, 49) for uid in (7, 4242)]
    df = spark.createDataFrame(rows, "event_type string, user_id long")
    out = df.select(
        "event_type",
        "user_id",
        F.length(
            F.to_xml(F.struct("event_type", "user_id"), {"rowTag": "ev"})
        ).alias("xml_len"),
        F.length(
            F.aes_encrypt(
                F.col("event_type").cast("binary"),
                F.lit("0123456789abcdef"),
                F.lit("ECB"),
            )
        ).alias("ct_len"),
    ).collect()
    for r in out:
        assert r.xml_len == 64 + len(r.event_type) + len(str(r.user_id)), r
        assert r.ct_len == (len(r.event_type) // 16 + 1) * 16, r
    esc = spark.createDataFrame([("a&b", 1)], "event_type string, user_id long")
    (esc_len,) = esc.select(
        F.length(F.to_xml(F.struct("event_type", "user_id"), {"rowTag": "ev"}))
    ).first()
    assert esc_len > 64 + 3 + 1  # '&' serializes as a longer entity


# ---- window FRAME fuzz: ROWS/RANGE bounds + lag/lead, same SQL both ways --

frame_spec = st.one_of(
    st.tuples(
        st.just("ROWS"), st.integers(0, 5), st.integers(0, 5)
    ),
    st.tuples(
        st.just("RANGE"), st.integers(0, 50), st.integers(0, 50)
    ),
)


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    fn=st.sampled_from(["sum", "min", "max", "count"]),
    part=st.sampled_from([None, "o_orderstatus"]),
    frame=frame_spec,
    lag_off=st.integers(1, 4),
    desc=st.booleans(),
)
def test_random_window_frame_matches_duckdb(orders_env, fn, part, frame, lag_off, desc):
    """Frame-bound differential fuzzing — the window corners the plain
    spec fuzzer can't reach: explicit ROWS frames (positional), RANGE
    frames over o_custkey (value-based, WITH duplicate order values, so
    peers enter the frame together — the classic cross-engine divergence
    spot), and lag() with an offset + default. The SAME SQL text runs on
    both engines; sums are cent-valued so round(,2) is ulp-stable."""
    df, con = orders_env
    df.createOrReplaceTempView("orders_pt")
    kind, lo, hi = frame
    direction = "DESC" if desc else "ASC"
    if kind == "ROWS":
        order = f"o_totalprice {direction}, o_orderkey"
    else:
        # RANGE requires a single numeric sort key (Spark's rule); keep
        # duplicates in play — o_custkey repeats ~10x at this sf
        order = f"o_custkey {direction}"
    over = (
        f"OVER ({f'PARTITION BY {part} ' if part else ''}ORDER BY {order} "
        f"{kind} BETWEEN {lo} PRECEDING AND {hi} FOLLOWING)"
    )
    if fn == "count":
        expr = f"CAST(count(*) {over} AS BIGINT)"
    else:
        expr = f"round({fn}(o_totalprice) {over}, 2)"
    lag_over = (
        f"OVER ({f'PARTITION BY {part} ' if part else ''}"
        f"ORDER BY o_totalprice {direction}, o_orderkey)"
    )
    sql = (
        f"SELECT o_orderkey, {expr} AS v, "
        f"round(lag(o_totalprice, {lag_off}, -1.0) {lag_over}, 2) AS lg "
        f"FROM orders_pt"
    )
    got = {
        r["o_orderkey"]: (r["v"], r["lg"])
        for r in df.sparkSession.sql(sql).collect()
    }
    exp = {
        k: (v, lg)
        for k, v, lg in con.execute(sql.replace("orders_pt", "orders")).fetchall()
    }
    assert got == exp


# ---- grouping-construct + set-op fuzz: same SQL text on both engines ----


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    construct=st.sampled_from(
        [
            "ROLLUP (o_orderstatus, o_orderpriority)",
            "CUBE (o_orderstatus, o_orderpriority)",
            "GROUPING SETS ((o_orderstatus), (o_orderpriority), ())",
            "GROUPING SETS ((o_orderstatus, o_orderpriority), ())",
        ]
    ),
    preds=pred_list,
)
def test_random_grouping_construct_matches_duckdb(orders_env, construct, preds):
    """ROLLUP/CUBE/GROUPING SETS under random predicates: the NULL
    indicator rows and per-set aggregates must agree engine-for-engine
    (same SQL text both sides; GROUPING() disambiguates produced NULLs
    from data NULLs in the compare key).

    Known divergence, found by THIS fuzzer and pinned below: over an
    EMPTY input, DuckDB emits the () grouping-set row (count 0 — the
    SQL-standard global-aggregate-of-nothing behavior) while Spark
    emits zero rows. Engine-level, not ours; every census rollup/cube
    oracle runs on non-empty tables, so parity is unaffected — but a
    100 TB pipeline porting DuckDB/Postgres rollup reports to Spark
    must not rely on the empty grand-total row appearing."""
    df, con = orders_env
    df.createOrReplaceTempView("orders_pt")
    where = to_sql_where(preds)
    sql = (
        "SELECT o_orderstatus, o_orderpriority, "
        "GROUPING(o_orderstatus) AS g1, GROUPING(o_orderpriority) AS g2, "
        "CAST(count(*) AS BIGINT) AS n, round(sum(o_totalprice), 2) AS s "
        f"FROM orders_pt WHERE {where} GROUP BY {construct}"
    )
    got = {
        (r.o_orderstatus, r.o_orderpriority, r.g1, r.g2): (r.n, r.s)
        for r in df.sparkSession.sql(sql).collect()
    }
    exp = {
        (a, b, g1, g2): (n, s)
        for a, b, g1, g2, n, s in con.execute(
            sql.replace("orders_pt", "orders")
        ).fetchall()
    }
    (n_input,) = con.execute(f"SELECT count(*) FROM orders WHERE {where}").fetchone()
    if n_input == 0:
        assert got == {}  # Spark: no rows at all
        if "GROUPING SETS ((o_orderstatus), (o_orderpriority), ())" not in construct:
            # DuckDB: exactly the empty () grouping-set row(s)
            assert all(k[2] == 1 and k[3] == 1 and v[0] == 0 for k, v in exp.items())
        return
    assert got == exp


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    setop=st.sampled_from(
        ["UNION", "UNION ALL", "INTERSECT", "INTERSECT ALL", "EXCEPT", "EXCEPT ALL"]
    ),
    lo=st.integers(0, 4),
    hi=st.integers(0, 4),
)
def test_random_set_op_matches_duckdb(orders_env, setop, lo, hi):
    """Multiset set-op semantics under overlapping slices: duplicate
    multiplicity (ALL) vs dedup is where engines can disagree; both
    branches project a deliberately collision-heavy key so every op has
    real duplicates to resolve."""
    df, con = orders_env
    df.createOrReplaceTempView("orders_pt")
    sql = (
        f"SELECT o_orderstatus, o_custkey % 7 AS k FROM orders_pt WHERE o_custkey % 10 >= {lo} "
        f"{setop} "
        f"SELECT o_orderstatus, o_custkey % 7 AS k FROM orders_pt WHERE o_custkey % 10 <= {hi}"
    )
    wrap = f"SELECT o_orderstatus, k, CAST(count(*) AS BIGINT) AS n FROM ({sql}) t GROUP BY 1, 2"
    got = {
        (r.o_orderstatus, r.k): r.n for r in df.sparkSession.sql(wrap).collect()
    }
    exp = {
        (a, k): n
        for a, k, n in con.execute(wrap.replace("orders_pt", "orders")).fetchall()
    }
    assert got == exp


# ---- string-expression fuzz: random depth-2 trees, same SQL both ways ----

_STR_UNARY = [
    "upper({x})",
    "lower({x})",
    "trim({x})",
    "reverse({x})",
    "substr({x}, 2)",
    "substr({x}, 1, 7)",
    "replace({x}, 'a', '@')",
    "left({x}, 5)",
    "right({x}, 5)",
]


@st.composite
def str_expr(draw, depth=2):
    x = "text" if depth == 0 else draw(str_expr(depth=depth - 1))
    return draw(st.sampled_from(_STR_UNARY)).format(x=x)


@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(expr=str_expr())
def test_random_string_expr_matches_duckdb(docs_env, expr):
    """Random compositions of the string functions the oracle corpus
    leans on (upper/lower/trim/reverse/substr/replace/left/right) must
    render identically in both engines — aggregated as total length,
    distinct count, and an order-free sha256-slice digest so every
    produced byte is compared, not just lengths."""
    df, con = docs_env
    df.createOrReplaceTempView("docs_pt")
    sql = (
        f"SELECT CAST(sum(length({expr})) AS BIGINT) AS tot, "
        f"CAST(count(DISTINCT {expr}) AS BIGINT) AS nd "
        f"FROM docs_pt"
    )
    got = df.sparkSession.sql(sql).first()
    exp = con.execute(sql.replace("docs_pt", "documents")).fetchone()
    assert (got["tot"], got["nd"]) == exp
    dg = (
        f"SELECT CAST(sum(CAST(conv(substr(sha2({expr}, 256), 1, 8), 16, 10)"
        f" AS BIGINT)) AS BIGINT) FROM docs_pt"
    )
    dg_duck = (
        f"SELECT CAST(sum(CAST(CAST('0x' || substr(sha256({expr}), 1, 8)"
        f" AS UBIGINT) AS BIGINT)) AS BIGINT) FROM documents"
    )
    assert df.sparkSession.sql(dg).first()[0] == con.execute(dg_duck).fetchone()[0]


@pytest.fixture(scope="module")
def docs_env(spark):
    from aced_etl_pod_spark.tables import load

    df = load(spark, SF_SMALL, "documents").select("text").cache()
    df.count()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMALL}/documents.parquet'"
    )
    return df, con


# ---- NULL-key join fuzz (r6 verdict item 6a): the NOT IN trap family ----
#
# The TPC-H join keys are never NULL, so the round-5 join fuzzer could not
# reach three-valued-logic territory. Here both sides get NULLs INJECTED by
# the same CASE expression on both engines, then every join/predicate form
# whose NULL semantics classically diverge runs as ONE SQL text on both:
# inner/left/right/full ON equality, the null-safe IS NOT DISTINCT FROM
# variant (NULL keys MATCH each other), and EXISTS / NOT EXISTS / IN /
# NOT IN subqueries (NOT IN over a NULL-bearing rhs = empty result, the
# SURVEY §7.3 trap).

_NJ_A = (
    "SELECT o_orderkey AS id, "
    "CASE WHEN o_orderkey % {na} = 0 THEN NULL ELSE o_custkey END AS k, "
    "o_totalprice AS v FROM {src}"
)
_NJ_B = (
    "SELECT c_custkey AS id, "
    "CASE WHEN c_custkey % {nb} = 0 THEN NULL ELSE c_custkey END AS k, "
    "c_acctbal AS v FROM {src}"
)


@pytest.fixture(scope="module")
def nulljoin_env(spark):
    from aced_etl_pod_spark.tables import load

    load(spark, SF_SMALL, "orders").createOrReplaceTempView("nj_orders")
    load(spark, SF_SMALL, "customer").createOrReplaceTempView("nj_customer")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW nj_orders AS SELECT * FROM '{SF_SMALL}/orders.parquet'")
    con.execute(
        f"CREATE VIEW nj_customer AS SELECT * FROM '{SF_SMALL}/customer.parquet'"
    )
    return spark, con


@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    form=st.sampled_from(
        ["JOIN", "LEFT JOIN", "RIGHT JOIN", "FULL JOIN",
         "EXISTS", "NOT EXISTS", "IN", "NOT IN"]
    ),
    nullsafe=st.booleans(),
    na=st.sampled_from([2, 3, 7, 10**9]),  # 10**9 → no NULLs on that side
    nb=st.sampled_from([2, 3, 7, 10**9]),
)
def test_random_null_key_join_matches_duckdb(nulljoin_env, form, nullsafe, na, nb):
    """Joins and membership predicates over NULL-bearing keys: row count,
    both value sums, and the preserved-side NULL-key row count must agree
    engine-for-engine. Same SQL text both sides."""
    spark, con = nulljoin_env
    a = _NJ_A.format(na=na, src="nj_orders")
    b = _NJ_B.format(nb=nb, src="nj_customer")
    eq = "a.k IS NOT DISTINCT FROM b.k" if nullsafe else "a.k = b.k"
    if form in ("JOIN", "LEFT JOIN", "RIGHT JOIN", "FULL JOIN"):
        sql = (
            "SELECT CAST(count(*) AS BIGINT) AS n, "
            "round(sum(a.v), 2) AS sa, round(sum(b.v), 2) AS sb, "
            "CAST(sum(CASE WHEN a.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nk "
            f"FROM ({a}) a {form} ({b}) b ON {eq}"
        )
    elif form in ("EXISTS", "NOT EXISTS"):
        cmp = "b.k IS NOT DISTINCT FROM a.k" if nullsafe else "b.k = a.k"
        sql = (
            "SELECT CAST(count(*) AS BIGINT) AS n, round(sum(a.v), 2) AS sa, "
            "CAST(NULL AS DOUBLE) AS sb, "
            "CAST(sum(CASE WHEN a.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nk "
            f"FROM ({a}) a WHERE {form} (SELECT 1 FROM ({b}) b WHERE {cmp})"
        )
    else:  # IN / NOT IN — nullsafe has no IN analogue; ignore the flag
        sql = (
            "SELECT CAST(count(*) AS BIGINT) AS n, round(sum(a.v), 2) AS sa, "
            "CAST(NULL AS DOUBLE) AS sb, "
            "CAST(sum(CASE WHEN a.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nk "
            f"FROM ({a}) a WHERE a.k {form} (SELECT b.k FROM ({b}) b)"
        )
    got = spark.sql(sql).first()
    exp = con.execute(sql).fetchone()
    assert (got["n"], got["sa"], got["sb"], got["nk"]) == exp, sql


# ---- timestamp/decimal boundary-cast fuzz (r6 verdict item 6b) ----
#
# Two cast divergences are already pinned in docs/SCALE.md (DuckDB rounds
# double→BIGINT, Spark truncates; nanos vs micros timestamps); this fuzzer
# sweeps the REST of the boundary-cast surface with one SQL text both ways:
# decimal round-trips at random precision/scale, floor-guarded integer
# casts, date_trunc at every unit, EXTRACT fields, and epoch conversions.

_TS_EXPRS = [
    # (expression template over events, digest kind): "num" digests
    # numerically — double→STRING rendering legitimately differs between
    # engines (Java shortest-roundtrip vs C++ %g style), a cosmetic class
    # the fuzzer must not conflate with value divergence; "str" compares
    # the rendered bytes (dates/timestamps render identically).
    ("CAST(floor(value * {m}) AS BIGINT)", "num"),
    ("CAST(CAST(value AS DECIMAL(18, {s})) AS DOUBLE)", "num"),
    # {s2}=max(s,2): value carries exactly 2 decimals, so scale ≥2 makes
    # the cast exact — below that the product can land on x.5, which is the
    # PINNED half-up (Spark) vs half-even (DuckDB) double→decimal class
    ("CAST(CAST(value * {m} AS DECIMAL(28, {s2})) AS DOUBLE)", "num"),
    # {s3}=max(s,3): the literals carry ≤3 decimals — exact cast, then
    # the round() happens in decimal space where both engines round half
    # away from zero (the oracle corpus's decimal-sandwich discipline)
    ("round(CAST(value AS DECIMAL(18, {s3})) + CAST({lit} AS DECIMAL(18, {s3})), {s})", "num"),
    ("CAST(date_trunc('{unit}', ts) AS DATE)", "str"),
    ("EXTRACT({field} FROM ts)", "num"),
    ("CAST(CAST(ts AS DATE) AS STRING)", "str"),
    # explicit TIMESTAMP cast: DuckDB's date_trunc returns DATE for
    # year/month/day units (pinned below); the normalized value must agree
    ("CAST(CAST(date_trunc('{unit}', ts) AS TIMESTAMP) AS STRING)", "str"),
]


@pytest.fixture(scope="module")
def events_env(spark):
    from aced_etl_pod_spark.tables import load

    load(spark, SF_SMALL, "events").createOrReplaceTempView("ev_pt")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW ev_pt AS SELECT * FROM '{SF_SMALL}/events.parquet'")
    return spark, con


@settings(max_examples=40, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    tmpl=st.sampled_from(_TS_EXPRS),
    m=st.sampled_from([1, 10, 100, 1000, 999999]),
    s=st.integers(min_value=0, max_value=6),
    lit=st.sampled_from(["0.005", "0.015", "0.025", "1.5", "2.5", "-2.5"]),
    unit=st.sampled_from(["year", "month", "day", "hour", "minute", "second"]),
    field=st.sampled_from(
        ["YEAR", "MONTH", "DAY", "HOUR", "MINUTE", "DOY", "QUARTER", "WEEK"]
    ),
)
def test_random_boundary_cast_matches_duckdb(events_env, tmpl, m, s, lit, unit, field):
    """Decimal/timestamp boundary casts, one SQL text both engines,
    digested order-free. The two KNOWN divergences (double→int rounding,
    half-even literals at exact .5 boundaries) are avoided by construction
    here — floor() guards and data-derived values — exactly the discipline
    the oracle corpus uses; this fuzzer checks everything else on the
    surface agrees."""
    spark, con = events_env
    template, kind = tmpl
    expr = template.format(
        m=m, s=s, s2=max(s, 2), s3=max(s, 3), lit=lit, unit=unit, field=field
    )
    if kind == "num":
        sql = (
            f"SELECT CAST(count(DISTINCT {expr}) AS BIGINT) AS nd, "
            f"round(CAST(sum({expr}) AS DOUBLE), 2) AS sm, "
            f"round(CAST(min({expr}) AS DOUBLE), 4) AS lo, "
            f"round(CAST(max({expr}) AS DOUBLE), 4) AS hi "
            f"FROM ev_pt"
        )
    else:
        sql = (
            f"SELECT CAST(count(DISTINCT {expr}) AS BIGINT) AS nd, "
            f"CAST(sum(CAST(length(CAST({expr} AS STRING)) AS BIGINT)) AS BIGINT) AS sm, "
            f"min(CAST({expr} AS STRING)) AS lo, max(CAST({expr} AS STRING)) AS hi "
            f"FROM ev_pt"
        )
    got = spark.sql(sql).first()
    exp = con.execute(sql).fetchone()
    assert (got["nd"], got["sm"], got["lo"], got["hi"]) == exp, sql


def test_extract_dow_divergence_pinned(events_env):
    """Engine divergence FOUND BY the boundary-cast fuzzer and pinned
    (the grouping-construct precedent): EXTRACT(DOW) is Sunday=0..6 in
    DuckDB (the Postgres convention) but Sunday=1..7 in Spark — a
    constant +1 offset. Engine-level, not ours; no census oracle uses
    DOW (they bucket with date_trunc), but a 100 TB pipeline porting
    Postgres/DuckDB day-of-week reports to Spark must subtract 1 (or use
    dayofweek()+explicit mapping). EPOCH is Spark-absent entirely —
    unix_timestamp() is the porting path."""
    spark, con = events_env
    sql = (
        "SELECT CAST(EXTRACT(DOW FROM ts) AS BIGINT) AS dw, "
        "CAST(count(*) AS BIGINT) AS n FROM ev_pt GROUP BY 1 ORDER BY 1"
    )
    got = {r["dw"]: r["n"] for r in spark.sql(sql).collect()}
    exp = {dw: n for dw, n in con.execute(sql).fetchall()}
    assert got == {dw + 1: n for dw, n in exp.items()}


def test_date_trunc_return_type_divergence_pinned(events_env):
    """Second divergence FOUND BY the boundary-cast fuzzer: for coarse
    units (year/month/day) DuckDB's date_trunc returns a DATE while Spark
    always returns TIMESTAMP — so the same SQL text renders '2024-01-01'
    vs '2024-01-01 00:00:00'. VALUES agree once normalized through an
    explicit CAST(... AS TIMESTAMP) (or AS DATE); only the inferred type
    differs. Schema-sensitive consumers (parquet writers, strict schema
    contracts) porting between engines must cast explicitly."""
    spark, con = events_env
    for unit, duck_len, spark_len in [
        ("year", 10, 19), ("month", 10, 19), ("day", 10, 19),
        ("hour", 19, 19), ("minute", 19, 19), ("second", 19, 19),
    ]:
        sql = f"SELECT length(CAST(date_trunc('{unit}', ts) AS STRING)) AS l FROM ev_pt LIMIT 1"
        assert spark.sql(sql).first()["l"] == spark_len, unit
        assert con.execute(sql).fetchone()[0] == duck_len, unit
        norm = (
            f"SELECT count(DISTINCT CAST(CAST(date_trunc('{unit}', ts) AS TIMESTAMP) AS STRING)) "
            f"AS nd, min(CAST(CAST(date_trunc('{unit}', ts) AS TIMESTAMP) AS STRING)) AS lo FROM ev_pt"
        )
        g = spark.sql(norm).first()
        e = con.execute(norm).fetchone()
        assert (g["nd"], g["lo"]) == e, unit


def test_double_to_decimal_half_divergence_pinned(events_env):
    """Third divergence FOUND BY the boundary-cast fuzzer: casting a
    COMPUTED double that lands exactly on .5 to a coarser DECIMAL rounds
    HALF-UP in Spark (BigDecimal, documented) but HALF-EVEN in DuckDB's
    vectorized cast kernel (nearbyint under round-to-nearest). Literal
    probes hide it: DuckDB's constant-folding path rounds half-up like
    Spark, so `CAST(CAST(2.5 AS DOUBLE) AS DECIMAL)` agrees while the
    same value read from a table does not. events has value=29.5, and
    29.5*999999 = 29499970.5 exactly (half-integer < 2^53): Spark →
    ...971, DuckDB → ...970 (even). Porting discipline: cast through a
    scale where the value is exact (the fuzzer's {s2} guard) or floor()
    explicitly — never round a computed double at its final scale."""
    spark, con = events_env
    sql = (
        "SELECT CAST(CAST(value * 999999 AS DECIMAL(28, 0)) AS DOUBLE) AS d "
        "FROM ev_pt WHERE round(value, 2) = 29.5 LIMIT 1"
    )
    got = spark.sql(sql).first()
    if got is None:  # testdata regeneration could drop the 29.5 row
        pytest.skip("no value=29.5 row in this testdata generation")
    exp = con.execute(sql).fetchone()[0]
    assert got["d"] == 29499971.0  # Spark: HALF_UP
    assert exp == 29499970.0  # DuckDB computed path: HALF_EVEN


# ---- interval-arithmetic + NULL-propagation fuzz (round-7 widening) ----

_IV_UNITS = ["YEAR", "MONTH", "DAY", "HOUR", "MINUTE"]


@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    n=st.sampled_from([1, 3, 11, 13, 25, 37]),
    unit=st.sampled_from(_IV_UNITS),
    sign=st.sampled_from(["+", "-"]),
)
def test_random_interval_arith_matches_duckdb(events_env, n, unit, sign):
    """ts ± INTERVAL n unit over real data, one SQL text both engines —
    month/year arithmetic end-of-month clamping (Jan 31 + 1 MONTH =
    Feb 29) is the classic cross-engine divergence spot; the probe grid
    confirmed the corners agree, this pins the whole surface."""
    spark, con = events_env
    expr = f"CAST(ts {sign} INTERVAL {n} {unit} AS STRING)"
    sql = (
        f"SELECT CAST(count(DISTINCT {expr}) AS BIGINT) AS nd, "
        f"min({expr}) AS lo, max({expr}) AS hi, "
        f"CAST(sum(CAST(length({expr}) AS BIGINT)) AS BIGINT) AS lt FROM ev_pt"
    )
    got = spark.sql(sql).first()
    exp = con.execute(sql).fetchone()
    assert (got["nd"], got["lo"], got["hi"], got["lt"]) == exp, sql


@st.composite
def null_tree(draw, depth=2):
    """Random least/greatest/coalesce/nullif tree over NULL-injected
    numeric leaves (CASE ... THEN NULL) — three-valued-logic propagation
    through scalar functions."""
    if depth == 0:
        col = draw(st.sampled_from(["o_totalprice", "o_custkey", "o_orderkey"]))
        mod = draw(st.sampled_from([2, 3, 5]))
        return (
            f"CASE WHEN o_orderkey % {mod} = 0 THEN NULL "
            f"ELSE CAST({col} AS DOUBLE) END"
        )
    a = draw(null_tree(depth=depth - 1))
    b = draw(null_tree(depth=depth - 1))
    fn = draw(st.sampled_from(["least", "greatest", "coalesce", "nullif"]))
    return f"{fn}({a}, {b})"


@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(expr=null_tree())
def test_random_null_scalar_tree_matches_duckdb(orders_env, expr):
    """least/greatest skip NULLs (Postgres convention, both engines),
    coalesce takes the first non-NULL, nullif produces them — random
    compositions must propagate NULLs identically. Digest: non-NULL
    count, rounded sum, rounded min/max."""
    df, con = orders_env
    df.createOrReplaceTempView("orders_pt")
    sql = (
        f"SELECT CAST(count({expr}) AS BIGINT) AS n, "
        f"round(CAST(sum({expr}) AS DOUBLE), 2) AS sm, "
        f"round(CAST(min({expr}) AS DOUBLE), 4) AS lo, "
        f"round(CAST(max({expr}) AS DOUBLE), 4) AS hi FROM orders_pt"
    )
    got = df.sparkSession.sql(sql).first()
    exp = con.execute(sql.replace("orders_pt", "orders")).fetchone()
    assert (got["n"], got["sm"], got["lo"], got["hi"]) == exp, sql


def test_concat_null_and_substr_zero_divergence_pinned(events_env):
    """Fourth+fifth divergences, found by probing the string surface the
    fuzzers lean on: (1) concat() SKIPS NULL arguments in DuckDB (CONCAT
    SQL-standard variadic semantics) but PROPAGATES NULL in Spark — the
    || operator agrees on NULL-in-NULL-out in both; porting rule: build
    keys with || (or coalesce each argument) when NULLs are possible.
    (2) substr(s, 0, n) returns n-1 chars in DuckDB (Postgres semantics:
    the zero/negative prefix consumes length) but n chars in Spark
    (start clamps to 1); porting rule: 1-based starts only, which every
    census oracle already follows."""
    spark, con = events_env
    sql = "SELECT concat('a', NULL) AS c, substr('hello', 0, 3) AS s"
    g = spark.sql(sql).first()
    e = con.execute(sql).fetchone()
    assert (g["c"], g["s"]) == (None, "hel")  # Spark
    assert e == ("a", "he")  # DuckDB
    agree = "SELECT 'a' || NULL AS c, substr('hello', 1, 3) AS s"
    assert tuple(spark.sql(agree).first()) == con.execute(agree).fetchone()


# ---- regexp fuzz: the shared Java-regex/RE2 dialect the oracles use ----

_RX_ATOMS = [
    "[a-z]+", "[0-9]+", "[aeiou]", "[^ ]+", "w[a-z]*", "[a-z]{2,4}",
    "(the|and|of)", "[a-z]+[0-9]?", "q?u?[a-z]",
]


@st.composite
def rx_pattern(draw):
    a = draw(st.sampled_from(_RX_ATOMS))
    b = draw(st.sampled_from(_RX_ATOMS))
    form = draw(st.sampled_from(["{a}", "({a}) ({b})", "{a}|{b}", "^{a}", "({a}){b}"]))
    return form.format(a=a, b=b)


@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(pat=rx_pattern(), grp=st.integers(min_value=0, max_value=1))
def test_random_regexp_matches_duckdb(docs_env, pat, grp):
    """regexp_extract / regexp_replace / regexp-boolean over the shared
    safe dialect (char classes, quantifiers, alternation, anchors,
    groups — what the oracle corpus actually uses; no lookaround, no
    backrefs). replace carries the 'g' flag on the DuckDB side because
    its default is FIRST-match-only vs Spark's global (pinned below)."""
    df, con = docs_env
    df.createOrReplaceTempView("docs_rx")
    grp = 0 if "(" not in pat else grp
    ex = f"regexp_extract(text, '{pat}', {grp})"
    sql = (
        f"SELECT CAST(count(DISTINCT {ex}) AS BIGINT) AS nd, "
        f"CAST(sum(CAST(length({ex}) AS BIGINT)) AS BIGINT) AS lt, "
        f"min({ex}) AS lo, max({ex}) AS hi, "
        f"CAST(count(CASE WHEN {ex} != '' THEN 1 END) AS BIGINT) AS nm "
        f"FROM docs_rx"
    )
    got = spark_row = df.sparkSession.sql(sql).first()
    exp = con.execute(sql.replace("docs_rx", "documents")).fetchone()
    assert (got["nd"], got["lt"], got["lo"], got["hi"], got["nm"]) == exp, sql
    rep_s = f"regexp_replace(text, '{pat}', '#')"
    rep_d = f"regexp_replace(text, '{pat}', '#', 'g')"
    dig = "SELECT CAST(sum(CAST(length({r}) AS BIGINT)) AS BIGINT) FROM {t}"
    assert (
        df.sparkSession.sql(dig.format(r=rep_s, t="docs_rx")).first()[0]
        == con.execute(dig.format(r=rep_d, t="documents")).fetchone()[0]
    ), pat


def test_regexp_scope_and_lookahead_divergence_pinned(events_env):
    """Sixth+seventh divergences: (1) regexp_replace replaces ONLY THE
    FIRST match in DuckDB (Postgres default; pass 'g' for global) but ALL
    matches in Spark — every census oracle already carries the 'g' flag,
    this pins why. (2) lookahead assertions: RE2 (DuckDB) does not
    support them and treats the pattern as UNMATCHABLE — silently, no
    error — while Spark's Java regex honors them; the silent empty
    result is the dangerous half, so the porting rule is: no lookaround
    in any shared-dialect regex, rewrite as a group match."""
    spark, con = events_env
    sql = "SELECT regexp_replace('aaa', 'a', 'b') AS r"
    assert spark.sql(sql).first()["r"] == "bbb"  # Spark: global
    assert con.execute(sql).fetchone()[0] == "baa"  # DuckDB: first only
    sql = "SELECT regexp_extract('ab', 'a(?=b)', 0) AS r"
    assert spark.sql(sql).first()["r"] == "a"  # Java: lookahead honored
    assert con.execute(sql).fetchone()[0] == ""  # RE2: silently unmatchable


def test_null_sort_default_divergence_pinned(events_env):
    """Eighth divergence: default NULL placement under ORDER BY x ASC is
    NULLS FIRST in Spark but NULLS LAST in DuckDB (Postgres puts them
    last too); DESC happens to agree (both last... for different
    reasons: Spark NULLS LAST on DESC, DuckDB always-last). Porting
    rule: any cross-engine ORDER BY over a nullable key must spell
    NULLS FIRST/LAST explicitly — the census oracles are immune because
    the driver's compare is order-insensitive, but LIMIT-after-ORDER
    queries (top-k!) silently change results. Also pins an AGREEMENT
    worth recording: both engines group/equate NaN=NaN, sort NaN above
    +inf, and normalize -0.0 into 0.0 for grouping — the same
    deviation from raw IEEE on both sides, so float keys are safe."""
    spark, con = events_env
    sql = "SELECT x FROM (VALUES (1), (NULL), (2)) t(x) ORDER BY x LIMIT 1"
    s_sql = "SELECT x FROM VALUES (1), (NULL), (2) t(x) ORDER BY x LIMIT 1"
    assert spark.sql(s_sql).first()[0] is None  # Spark ASC: NULLS FIRST
    assert con.execute(sql).fetchone()[0] == 1  # DuckDB ASC: NULLS LAST
    fix = " ORDER BY x NULLS LAST LIMIT 1"
    assert (
        spark.sql(s_sql.replace(" ORDER BY x LIMIT 1", fix)).first()[0]
        == con.execute(sql.replace(" ORDER BY x LIMIT 1", fix)).fetchone()[0]
        == 1
    )
    nan = (
        "SELECT CAST(count(*) AS BIGINT) FROM (SELECT x, count(*) AS n FROM "
        "(VALUES (0.0), (-0.0), (CAST('NaN' AS DOUBLE))) t(x) GROUP BY x) g"
    )
    s_nan = nan.replace("(VALUES", "(VALUES").replace(
        "FROM (VALUES (0.0), (-0.0), (CAST('NaN' AS DOUBLE))) t(x)",
        "FROM VALUES (0.0D), (-0.0D), (CAST('NaN' AS DOUBLE)) t(x)",
    )
    assert spark.sql(s_nan).first()[0] == con.execute(nan).fetchone()[0] == 2


def test_unicode_case_and_reverse_divergence_pinned(events_env):
    """Ninth divergence class (unicode, found probing the text surface
    the r6 unicode-hash fuzzer didn't cover): (1) reverse() is
    grapheme-cluster-aware in DuckDB (a combining accent stays attached
    to its base) but codepoint-level in Spark (the accent migrates to
    the neighboring char); (2) case mapping is FULL in Spark (ß→SS,
    İ→i+combining-dot — length can change) but SIMPLE 1:1 in DuckDB
    (ß→ẞ, İ→i). ASCII text and astral codepoints WITHOUT combining
    marks agree everywhere (length/substr/upper count codepoints
    identically — also pinned here). Porting rule: the shared dialect
    for oracle text ops is ASCII-safe transforms; reverse/case over
    accented scripts is engine-specific."""
    spark, con = events_env
    agree = "SELECT length('a\U0001F600bc'), substr('a\U0001F600bc', 2, 2), upper('stra-be')"
    assert tuple(spark.sql(agree).first()) == con.execute(agree).fetchone()
    assert spark.sql("SELECT upper('ß')").first()[0] == "SS"
    assert con.execute("SELECT upper('ß')").fetchone()[0] == "ẞ"
    assert spark.sql("SELECT lower('İ')").first()[0] == "i̇"
    assert con.execute("SELECT lower('İ')").fetchone()[0] == "i"
    rev = "SELECT reverse('ab́c')"
    assert spark.sql(rev).first()[0] == "ćba"  # accent migrates
    assert con.execute(rev).fetchone()[0] == "cb́a"  # accent stays


def test_math_error_domain_divergence_pinned(events_env):
    """Tenth divergence class — out-of-domain arithmetic: DuckDB returns
    NULL for division by zero (even double/0 — no inf) but raises Out
    of Range for ln(0)/log10(-1)/sqrt(-1); Spark's division behavior is
    ANSI-MODE-DEPENDENT (raises DIVIDE_BY_ZERO under the 4.x vanilla
    default; NULL under ansi=false) while log/sqrt return NULL/NaN in
    both modes. This engine pins ansi=false (session.py:33), so under
    ITS sessions ÷0 = NULL on both engines and only the log/sqrt side
    diverges. Porting rules: `try_divide`/NULLIF(denom, 0) for
    vanilla-session portability, explicit domain guards (CASE WHEN
    x > 0) around log/sqrt on the DuckDB side — the census oracles do
    both. Agreements: power(0,0)=1, round to negative digits,
    split-of-empty-string, decimal mod."""
    import math

    import pytest as _pt

    spark, con = events_env
    assert con.execute("SELECT 1.0/0.0").fetchone()[0] is None
    assert spark.conf.get("spark.sql.ansi.enabled") == "false"
    assert spark.sql("SELECT 1.0/0.0").first()[0] is None  # ansi=false
    assert spark.sql("SELECT try_divide(1.0, 0.0)").first()[0] is None
    assert spark.sql("SELECT ln(0.0)").first()[0] is None
    with _pt.raises(Exception, match="Out of Range"):
        con.execute("SELECT ln(0.0)")
    assert math.isnan(spark.sql("SELECT sqrt(-1.0)").first()[0])
    with _pt.raises(Exception, match="Out of Range"):
        con.execute("SELECT sqrt(-1.0)")
    agree = (
        "SELECT power(0.0, 0.0) AS p, round(1234.5678, -2) AS r, "
        "mod(7.5, 2.0) AS m"
    )
    assert tuple(spark.sql(agree).first()) == con.execute(agree).fetchone()


# ---- shared array-surface fuzz (round 7, third wave) --------------------
#
# The probe sweep mapped the cross-engine array surface: construction by
# literal is DISJOINT (Spark `array(...)` vs DuckDB `[...]`), and most
# function NAMES are disjoint too (size/len, transform/list_transform,
# element_at/list_element, slice/list_slice, array_join/array_to_string).
# The genuinely SHARED one-SQL-text subset is: split(), array_contains,
# array_position (1-based, 0 when absent), array_sort, the `filter`
# lambda, list equality/comparison/DISTINCT, and unnest-style expansion.
# This fuzzer hammers that shared subset with random compositions; the
# traps found live in the pinned tests below it.

_ARR_BASE = "split(lower(text), ' ')"
_ARR_WRAPS = {
    "none": "{a}",
    "sort": "array_sort({a})",
    "distinct_sorted": "array_sort(array_distinct({a}))",
    "filter_len": "filter({a}, x -> length(x) > {k})",
    "filter_ge": "filter({a}, x -> x >= '{c}')",
    "filter_pfx": "filter({a}, x -> substr(x, 1, 1) = '{c}')",
}
_ARR_WORDS = ["the", "a", "of", "data", "zebra", ""]


@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    wraps=st.lists(
        st.sampled_from(sorted(_ARR_WRAPS)), min_size=0, max_size=2
    ),
    k=st.integers(min_value=0, max_value=7),
    c=st.sampled_from("abcdmstz"),
    word=st.sampled_from(_ARR_WORDS),
    digest=st.sampled_from(["pos", "has", "eqsorted"]),
)
def test_random_shared_array_expr_matches_duckdb(docs_env, wraps, k, c, word, digest):
    """Random compositions over the SHARED array subset — split,
    array_sort, array_distinct (always re-sorted: DuckDB's distinct
    order is a hash-set order, pinned below), `filter` lambdas over
    string predicates — digested per row as array_position /
    array_contains / sorted-self-equality, then summed, plus a
    count(DISTINCT <array>) group-key check. One SQL text both engines."""
    df, con = docs_env
    df.createOrReplaceTempView("docs_pt")
    arr = _ARR_BASE
    for w in wraps:
        arr = _ARR_WRAPS[w].format(a=arr, k=k, c=c)
    if digest == "pos":
        dig = f"array_position({arr}, '{word}')"
    elif digest == "has":
        dig = f"CAST(array_contains({arr}, '{word}') AS INT)"
    else:
        dig = f"CAST({arr} = array_sort({arr}) AS INT)"
    sql = (
        f"SELECT CAST(sum({dig}) AS BIGINT) AS s, "
        f"CAST(count(DISTINCT {arr}) AS BIGINT) AS nd FROM docs_pt"
    )
    got = df.sparkSession.sql(sql).first()
    exp = con.execute(sql.replace("docs_pt", "documents")).fetchone()
    assert (got["s"], got["nd"]) == exp, sql


def test_array_index_base_divergence_pinned(docs_env):
    """Eleventh divergence class — the array-indexing trap family. The
    dangerous half is that the SAME text succeeds on both engines with
    DIFFERENT values: bracket indexing is 0-based in Spark and 1-based
    in DuckDB (arr[1] = second vs first element; arr[0] = first vs
    NULL), concat(list, list) concatenates the LISTS in Spark but
    string-casts and concatenates the RENDERINGS in DuckDB, and
    array_distinct preserves first-occurrence order in Spark but
    returns DuckDB's hash-set order. Positional expansion differs by
    the same base: posexplode positions start at 0, DuckDB's
    generate_subscripts at 1. Porting rules: never bracket-index in
    shared SQL (array_position is 1-based in BOTH — use it, or add 1
    on the Spark side); re-sort after any distinct/set op; list concat
    via per-engine names (concat vs list_concat)."""
    df, con = docs_env
    idx = "SELECT split('a,b,c', ',')[1] AS v"
    assert df.sparkSession.sql(idx).first()[0] == "b"  # 0-based
    assert con.execute(idx).fetchone()[0] == "a"  # 1-based
    zero = "SELECT split('a,b,c', ',')[0] AS v"
    assert df.sparkSession.sql(zero).first()[0] == "a"
    assert con.execute(zero).fetchone()[0] is None  # below range
    cc = "SELECT concat(split('a,b', ','), split('c', ',')) AS v"
    assert list(df.sparkSession.sql(cc).first()[0]) == ["a", "b", "c"]
    assert con.execute(cc).fetchone()[0] == "[a, b][c]"  # stringified!
    # distinct order: set-equal, sequence-divergent
    dd = "SELECT array_distinct(split('c,b,a,b', ',')) AS v"
    s_raw = list(df.sparkSession.sql(dd).first()[0])
    d_raw = list(con.execute(dd).fetchone()[0])
    assert s_raw == ["c", "b", "a"]  # first-occurrence order
    assert sorted(s_raw) == sorted(d_raw)
    agree = "SELECT array_sort(array_distinct(split('c,b,a,b', ','))) AS v"
    assert list(df.sparkSession.sql(agree).first()[0]) == list(
        con.execute(agree).fetchone()[0]
    )
    # 1-based array_position agrees — the portable index idiom
    ap = "SELECT array_position(split('a,b,c', ','), 'b') AS v"
    assert df.sparkSession.sql(ap).first()[0] == con.execute(ap).fetchone()[0] == 2
    # positional expansion bases
    s_pos = [
        tuple(r)
        for r in df.sparkSession.sql(
            "SELECT posexplode(split('x,y', ','))"
        ).collect()
    ]
    d_pos = con.execute(
        "SELECT generate_subscripts(split('x,y', ','), 1) - 1, unnest(split('x,y', ','))"
    ).fetchall()
    assert s_pos == [(0, "x"), (1, "y")] == [tuple(r) for r in d_pos]


def test_array_agg_empty_divergence_pinned(events_env):
    """Twelfth divergence class — list aggregation over ZERO rows:
    Spark's array_agg/collect_list returns an EMPTY ARRAY, DuckDB (SQL
    standard) returns NULL. Also a construction gap in both directions:
    DuckDB's in-aggregate ORDER BY (array_agg(x ORDER BY x)) does not
    parse in Spark, and Spark's collect_list name doesn't exist in
    DuckDB — the portable ordered-list idiom is array_sort over the
    unordered aggregate (which the oracle corpus uses throughout)."""
    spark, con = events_env
    sql = "SELECT array_agg(x) AS v FROM (VALUES (1), (2)) t(x) WHERE x < 0"
    assert list(spark.sql(sql).first()[0]) == []
    assert con.execute(sql).fetchone()[0] is None
    with pytest.raises(Exception):
        spark.sql("SELECT array_agg(x ORDER BY x) FROM (VALUES (1)) t(x)").collect()
    with pytest.raises(Exception):
        con.execute("SELECT collect_list(x) FROM (VALUES (1)) t(x)")
    agree = (
        "SELECT array_sort(array_agg(x)) AS v "
        "FROM (VALUES (3), (1), (2)) t(x) HAVING count(*) > 0"
    )
    assert list(spark.sql(agree).first()[0]) == list(
        con.execute(agree).fetchone()[0]
    ) == [1, 2, 3]


# ---- decimal precision/scale propagation fuzz (round 7) -----------------

_DEC_LITS = ["0.005", "1.25", "-2.5", "37.125", "0.001", "100"]


@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    s=st.integers(min_value=2, max_value=6),
    lit=st.sampled_from(_DEC_LITS),
    op=st.sampled_from(["+", "-", "*", "%"]),
)
def test_random_decimal_arith_matches_duckdb(events_env, s, lit, op):
    """Decimal +,-,*,% over exactly-representable operands (value has 2
    decimals, so scale >= 2 is an exact cast; literals carry <= 3
    decimals) must produce the SAME VALUE AND SCALE on both engines —
    compared via the rendered string of the decimal-space sum (exact,
    order-independent) and min/max/distinct of the per-row rendering.
    Division is EXCLUDED by design: its result TYPE diverges (pinned
    below). Operand precision is kept <= 18 so DuckDB's physical-width
    selection can't overflow (also pinned below)."""
    spark, con = events_env
    s3 = max(s, 3)
    expr = f"(CAST(value AS DECIMAL(18, {s})) {op} CAST({lit} AS DECIMAL(12, {s3})))"
    sql = (
        f"SELECT CAST(sum({expr}) AS STRING) AS tot, "
        f"min(CAST({expr} AS STRING)) AS lo, "
        f"max(CAST({expr} AS STRING)) AS hi, "
        f"CAST(count(DISTINCT {expr}) AS BIGINT) AS nd FROM ev_pt"
    )
    got = spark.sql(sql).first()
    exp = con.execute(sql).fetchone()
    assert (got["tot"], got["lo"], got["hi"], got["nd"]) == exp, sql


def test_decimal_family_divergence_pinned(events_env):
    """Thirteenth divergence class — the decimal TYPE-PROPAGATION family
    (the probe found + - * % values AND scales agree; everything else
    diverges):
      * decimal / decimal: Spark stays DECIMAL under its scale rule
        (max(6, s1+p2+1), capped), DuckDB converts to DOUBLE — same
        math, different type, different rendering and downstream
        rounding.
      * avg(DECIMAL): Spark DECIMAL(p+4, s+4), DuckDB DOUBLE.
      * decimal->decimal RESCALE: Spark rounds HALF_UP, DuckDB
        TRUNCATES toward zero (CAST(123.456 AS DECIMAL(6,2)) = 123.46
        vs 123.45!) — silent value divergence, both succeed.
      * multiplication overflow: Spark auto-widens precision (cap 38),
        DuckDB raises Out of Range when the result precision exceeds
        its chosen physical width.
    Porting rules (the corpus's decimal-sandwich discipline, extended):
    divide in DOUBLE or via explicit final-scale casts on both sides;
    rescale only at scales where the value is exact; keep operand
    precision <= 18 on the DuckDB side or pre-cast to the final
    precision."""
    spark, con = events_env
    tq = "SELECT typeof(CAST(1 AS DECIMAL(10,2)) / CAST(3 AS DECIMAL(10,2))) AS t"
    assert spark.sql(tq).first()[0].startswith("decimal")
    assert con.execute(tq).fetchone()[0] == "DOUBLE"
    ta = "SELECT typeof(avg(CAST(x AS DECIMAL(10,2)))) AS t FROM (VALUES (1.0)) t(x)"
    assert spark.sql(ta).first()[0] == "decimal(14,6)"
    assert con.execute(ta).fetchone()[0] == "DOUBLE"
    rs = "SELECT CAST(CAST(123.456 AS DECIMAL(6,2)) AS STRING) AS v"
    assert spark.sql(rs).first()[0] == "123.46"  # HALF_UP
    assert con.execute(rs).fetchone()[0] == "123.45"  # truncation
    rn = "SELECT CAST(CAST(-123.455 AS DECIMAL(6,2)) AS STRING) AS v"
    assert spark.sql(rn).first()[0] == "-123.46"
    assert con.execute(rn).fetchone()[0] == "-123.45"
    ov = (
        "SELECT CAST(99999999.99 AS DECIMAL(10,2)) * "
        "CAST(99999999.99 AS DECIMAL(10,2)) AS v"
    )
    assert spark.sql(ov).first()[0] is not None  # widened to DECIMAL(21,4)
    with pytest.raises(Exception, match="Overflow|Out of Range"):
        con.execute(ov)
    # the agreeing core the fuzzer leans on: + - * % value AND scale
    agree = (
        "SELECT CAST(CAST(1.5 AS DECIMAL(6,2)) * CAST(2.25 AS DECIMAL(6,3)) AS STRING) AS m, "
        "CAST(CAST(3 AS DECIMAL(10,2)) + CAST(1.25 AS DECIMAL(10,3)) AS STRING) AS a, "
        "CAST(CAST(7 AS DECIMAL(4,1)) % CAST(2.5 AS DECIMAL(4,2)) AS STRING) AS md"
    )
    assert tuple(spark.sql(agree).first()) == con.execute(agree).fetchone()


# ---- numeric-string cast fuzz (round 7) ---------------------------------

_INTISH = st.text(alphabet=" +-,qz0123456789", min_size=0, max_size=12)


@settings(max_examples=50, deadline=None, suppress_health_check=list(HealthCheck))
@given(s=_INTISH)
@example(s="- ")  # the r11 falsifier — must stay routed to the pinned class
def test_random_int_string_cast_matches_duckdb(events_env, s):
    """TRY_CAST of arbitrary integer-ish strings (digits, signs,
    whitespace, separators, junk letters — NO decimal point, exponent,
    hex prefix, underscore, or sign-then-whitespace, those are the
    pinned divergences below) to SMALLINT/INT/BIGINT must agree: same
    acceptance, same value, same overflow-to-NULL. One SQL text both
    engines."""
    spark, con = events_env
    if re.fullmatch(r"\s*[+-]\s+", s):
        # Sign-then-whitespace divergence (found by THIS fuzzer, r11, input
        # '- '): a sign followed by only whitespace parses as 0 in
        # DuckDB 1.0.0 ('-' alone is NULL; the trailing whitespace arm
        # of its parser commits the accumulated 0 before noticing no
        # digit ever arrived). Spark returns NULL. Asserted in
        # test_numeric_string_cast_divergence_pinned.
        return
    sql = (
        f"SELECT TRY_CAST('{s}' AS SMALLINT) AS a, "
        f"TRY_CAST('{s}' AS INT) AS b, TRY_CAST('{s}' AS BIGINT) AS c"
    )
    assert tuple(spark.sql(sql).first()) == con.execute(sql).fetchone(), repr(s)


def test_numeric_string_cast_divergence_pinned(events_env):
    """Fourteenth divergence class — string->number/date casts beyond
    plain integers:
      * '42.7' -> INT: Spark TRUNCATES (42), DuckDB parses-then-ROUNDS
        (43) — the double->int rounding pin resurfacing through strings,
        both succeed silently.
      * '1e3' -> INT: Spark NULL (no exponent grammar for int casts),
        DuckDB 1000.
      * '0x1A' -> INT: Spark NULL, DuckDB parses hex (26).
      * underscore digit separators ('1_000', found by THIS fuzzer):
        Spark NULL, DuckDB extends its numeric-literal grammar into
        string casts (1000).
      * sign followed by only whitespace ('- ', found by THIS fuzzer
        in r11): DuckDB 0, Spark NULL. Bare '-' is NULL in both —
        DuckDB's trailing-whitespace arm commits the accumulated 0
        before checking a digit was ever seen.
      * 'yes' -> BOOLEAN: Spark true, DuckDB Conversion Error (its
        grammar is true/false/t/f/1/0).
      * invalid date ('2024-02-30', '20240105'): Spark (ansi=false)
        NULL, DuckDB raises — TRY_CAST restores agreement.
    Porting rule: route messy strings through TRY_CAST + an explicit
    DOUBLE hop (TRY_CAST(s AS DOUBLE) then floor/cast) so both engines
    share one grammar and one rounding path."""
    spark, con = events_env
    frac = "SELECT CAST('42.7' AS INT) AS v"
    assert spark.sql(frac).first()[0] == 42
    assert con.execute(frac).fetchone()[0] == 43
    exp_ = "SELECT CAST('1e3' AS INT) AS v"
    assert spark.sql(exp_).first()[0] is None
    assert con.execute(exp_).fetchone()[0] == 1000
    hx = "SELECT CAST('0x1A' AS INT) AS v"
    assert spark.sql(hx).first()[0] is None
    assert con.execute(hx).fetchone()[0] == 26
    us = "SELECT CAST('1_000' AS INT) AS v"
    assert spark.sql(us).first()[0] is None
    assert con.execute(us).fetchone()[0] == 1000
    # sign followed by ONLY whitespace: DuckDB commits 0, Spark NULL;
    # bare '-' is NULL in both (the boundary that makes this a parser
    # quirk, not a grammar extension)
    for sw in ("- ", "+ ", " - ", "+  "):
        q = f"SELECT TRY_CAST('{sw}' AS SMALLINT) AS v"
        assert spark.sql(q).first()[0] is None, repr(sw)
        assert con.execute(q).fetchone()[0] == 0, repr(sw)
    bare = "SELECT TRY_CAST('-' AS SMALLINT) AS v"
    assert spark.sql(bare).first()[0] is None
    assert con.execute(bare).fetchone()[0] is None
    yb = "SELECT CAST('yes' AS BOOLEAN) AS v"
    assert spark.sql(yb).first()[0] is True
    with pytest.raises(Exception, match="Conversion Error"):
        con.execute(yb)
    bad = "SELECT CAST('2024-02-30' AS DATE) AS v"
    assert spark.sql(bad).first()[0] is None  # ansi=false
    with pytest.raises(Exception, match="Conversion Error"):
        con.execute(bad)
    tc = "SELECT TRY_CAST('2024-02-30' AS DATE) AS v"
    assert spark.sql(tc).first()[0] is None
    assert con.execute(tc).fetchone()[0] is None
    dbl = "SELECT CAST(floor(TRY_CAST('42.7' AS DOUBLE)) AS INT) AS v"
    assert spark.sql(dbl).first()[0] == con.execute(dbl).fetchone()[0] == 42


def test_dispersion_estimator_divergence_pinned(events_env):
    """Fifteenth divergence class — higher-moment aggregate CONVENTIONS:
    skewness/kurtosis return the POPULATION estimators in Spark (g1,
    excess g2) but the SAMPLE estimators in DuckDB (G1, excess G2) —
    same data, silently different numbers. The exact conversion is
    pinned numerically:  G1 = g1*sqrt(n(n-1))/(n-2)  and
    G2 = (n-1)/((n-2)(n-3)) * ((n+1)*g2 + 6).  Also: stddev/var over
    +/-inf or NaN inputs return NaN in Spark but raise Out of Range in
    DuckDB (the out-of-domain inversion, class 10, reappearing in
    aggregates). stddev/var/corr/covar on finite data agree — the
    census oracles rely on that."""
    import math

    spark, con = events_env
    for vals in ["(1.0),(2.0),(3.0),(10.0)", "(2.0),(4.0),(4.0),(4.0),(5.0),(5.0),(7.0),(9.0)"]:
        n = vals.count("(")
        sql = f"SELECT skewness(x) AS sk, kurtosis(x) AS ku FROM (VALUES {vals}) t(x)"
        g1, g2 = tuple(spark.sql(sql).first())
        G1, G2 = con.execute(sql).fetchone()
        assert abs(G1 - g1 * math.sqrt(n * (n - 1)) / (n - 2)) < 1e-9
        assert abs(G2 - (n - 1) / ((n - 2) * (n - 3)) * ((n + 1) * g2 + 6)) < 1e-9
    inf_sql = (
        "SELECT stddev_samp(x) AS v FROM "
        "(VALUES (CAST('inf' AS DOUBLE)), (1.0)) t(x)"
    )
    assert math.isnan(spark.sql(inf_sql).first()[0])
    with pytest.raises(Exception, match="Out of Range"):
        con.execute(inf_sql)
    fin = (
        "SELECT round(stddev_samp(x), 9) AS sd, round(var_samp(x), 9) AS vr "
        "FROM (VALUES (1.5), (2.5), (9.0)) t(x)"
    )
    assert tuple(spark.sql(fin).first()) == con.execute(fin).fetchone()


def test_null_sweep_micro_divergences_pinned(events_env):
    """Sixteenth catalog class — the micro-divergences behind the
    null-injection sweep's 104 failures (tools/sweep.py --kind null), pinned
    independently of the operators that tripped over them:
      * size(split(NULL)) = -1 under non-ANSI Spark vs len(NULL) = NULL
        in DuckDB (and sequence() RAISES on the resulting bound);
      * format_string/printf with a NULL arg: Spark renders the STRING
        'null', DuckDB printf returns NULL;
      * regexp_extract on no match: '' on BOTH engines (never NULL) —
        a genuinely-NULL derived value comes back as '' and must be
        nullif'd at the boundary;
      * multi-argument count(DISTINCT a, b): Spark drops rows where ANY
        argument is NULL, DuckDB's (a, b) row-value form counts them;
      * min_by/max_by: DuckDB skips NULL *values*, Spark returns the
        winning row's value even when NULL;
      * x <> 'F' vs x IS DISTINCT FROM 'F' over NULLs (the partition-
        survival trap).
    The catalog rules (docs/DIVERGENCES.md class 16) are the porting
    disciplines the operator corpus now follows on both sides."""
    spark, con = events_env
    # size-of-null
    assert spark.sql("SELECT size(split(CAST(NULL AS STRING), ' '))").first()[0] == -1
    assert con.execute("SELECT len(string_split(NULL, ' '))").fetchone()[0] is None
    # with an explicit positive step the poisoned bound RAISES (bare
    # two-arg sequence would infer step -1 and "succeed" descending)
    with pytest.raises(Exception, match="[Ss]equence boundaries"):
        spark.sql(
            "SELECT sequence(0, size(split(CAST(NULL AS STRING), ' ')) - 1, 2)"
        ).collect()
    # format_string / printf
    assert (
        spark.sql("SELECT format_string('%s|', CAST(NULL AS STRING))").first()[0]
        == "null|"
    )
    assert con.execute("SELECT printf('%s|', NULL)").fetchone()[0] is None
    # regexp_extract no-match: '' on BOTH engines (agreement) — the trap
    # is that a derived partition VALUE that was genuinely NULL comes
    # back as '' from the regex, so boundary code must nullif(x, '')
    assert spark.sql("SELECT regexp_extract('abc', 'x(y)', 1)").first()[0] == ""
    assert con.execute("SELECT regexp_extract('abc', 'x(y)', 1)").fetchone()[0] == ""
    # multi-arg count distinct
    vals = "(VALUES (1, 'a'), (1, NULL), (NULL, 'a'), (2, 'b')) t(a, b)"
    assert spark.sql(f"SELECT count(DISTINCT a, b) FROM {vals}").first()[0] == 2
    assert con.execute(f"SELECT count(DISTINCT (a, b)) FROM {vals}").fetchone()[0] == 4
    # min_by/max_by null-value handling
    mv = "(VALUES ('x', 1), (NULL, 2)) t(v, k)"
    assert spark.sql(f"SELECT max_by(v, k) FROM {mv}").first()[0] is None
    assert con.execute(f"SELECT max_by(v, k) FROM {mv}").fetchone()[0] == "x"
    # <> vs IS DISTINCT FROM (agrees across engines; the trap is 3VL)
    tri = "(VALUES ('F'), ('O'), (NULL)) t(s)"
    one = f"SELECT count(*) FROM {tri} WHERE s <> 'F'"
    two = f"SELECT count(*) FROM {tri} WHERE s IS DISTINCT FROM 'F'"
    assert spark.sql(one).first()[0] == con.execute(one).fetchone()[0] == 1
    assert spark.sql(two).first()[0] == con.execute(two).fetchone()[0] == 2


def test_nonfinite_micro_divergences_pinned(events_env):
    """Seventeenth catalog class — the micro-divergences behind the
    NaN/Infinity-injection sweep's 88 failures (tools/sweep.py --kind
    nonfinite), pinned independently of the operators that tripped over
    them:
      * CAST(NaN AS DECIMAL): DuckDB RAISES, non-ANSI Spark silently
        yields NULL — why every decimal sandwich carries the finite
        guard (operators/util.py::money / money_sql);
      * CAST(NaN/Inf AS BIGINT): DuckDB raises, Spark silently emits 0
        for NaN and Long.MaxValue for +Inf — why every double→integer
        cast goes through finite();
      * stddev/var with an Inf input: DuckDB raises OutOfRange, Spark
        returns NaN — no propagation semantics can agree, hence the
        class-B "non-finite measures are missing" contract;
      * ln/sqrt of a negative (incl -Inf): DuckDB raises, Spark NULL —
        domain-guarded duck-side;
      * double→string rendering: Spark 'NaN'/'-Infinity' vs DuckDB
        'nan'/'-inf' — render numerics numerically or via the canonical
        CASE (dq_profile_columns);
      * AGREEMENTS the contracts lean on: NaN = NaN is true, NaN
        compares greater than +Inf (so ``abs(e) < Inf`` is a portable
        single-reference finite test and ``NaN > threshold`` flags
        identically), and min/max place NaN at the top on both engines.
    The catalog rules are docs/DIVERGENCES.md class 17."""
    spark, con = events_env

    # decimal sandwich crash class
    assert (
        spark.sql("SELECT CAST(double('NaN') AS DECIMAL(18,2))").first()[0] is None
    )
    with pytest.raises(Exception, match="[Cc]ast"):
        con.execute("SELECT CAST('NaN'::DOUBLE AS DECIMAL(18,2))").fetchone()

    # integer cast class
    row = spark.sql(
        "SELECT CAST(double('NaN') AS BIGINT), CAST(double('Infinity') AS BIGINT)"
    ).first()
    assert row[0] == 0 and row[1] == 9223372036854775807
    with pytest.raises(Exception, match="[Cc]ast"):
        con.execute("SELECT CAST('NaN'::DOUBLE AS BIGINT)").fetchone()

    # second-moment class
    vals = "(VALUES (1.0), (CAST('Infinity' AS DOUBLE))) t(x)"
    import math

    assert math.isnan(spark.sql(f"SELECT stddev_samp(x) FROM {vals}").first()[0])
    with pytest.raises(Exception, match="[Oo]ut of [Rr]ange"):
        con.execute(f"SELECT stddev_samp(x) FROM {vals}").fetchone()

    # math domain class (on -Inf specifically; finite negatives are the
    # already-pinned class in test_math_error_domain_divergence_pinned)
    assert spark.sql("SELECT ln(double('-Infinity'))").first()[0] is None
    with pytest.raises(Exception, match="logarithm"):
        con.execute("SELECT ln('-Infinity'::DOUBLE)").fetchone()

    # rendering class
    assert spark.sql("SELECT CAST(double('NaN') AS STRING)").first()[0] == "NaN"
    assert (
        con.execute("SELECT CAST('NaN'::DOUBLE AS STRING)").fetchone()[0] == "nan"
    )
    assert (
        spark.sql("SELECT CAST(double('-Infinity') AS STRING)").first()[0]
        == "-Infinity"
    )
    assert (
        con.execute("SELECT CAST('-Infinity'::DOUBLE AS STRING)").fetchone()[0]
        == "-inf"
    )

    # agreements: the portable finite test and NaN ordering
    probes = [
        "double('NaN') = double('NaN')",
        "double('NaN') > CAST('Infinity' AS DOUBLE)",
        "NOT (abs(double('NaN')) < CAST('Infinity' AS DOUBLE))",
        "abs(5.0) < CAST('Infinity' AS DOUBLE)",
        "double('NaN') > 3.0",
    ]
    duck_probes = [p.replace("double('", "('").replace("')", "'::DOUBLE)") for p in probes]
    for sp, dp in zip(probes, duck_probes):
        assert spark.sql(f"SELECT {sp}").first()[0] is True, sp
        assert con.execute(f"SELECT {dp}").fetchone()[0] is True, dp
    mm = "(VALUES (1.0), (CAST('NaN' AS DOUBLE)), (CAST('Infinity' AS DOUBLE))) t(x)"
    assert math.isnan(spark.sql(f"SELECT max(x) FROM {mm}").first()[0])
    assert math.isnan(con.execute(f"SELECT max(x) FROM {mm}").fetchone()[0])
    assert spark.sql(f"SELECT min(x) FROM {mm}").first()[0] == 1.0
    assert con.execute(f"SELECT min(x) FROM {mm}").fetchone()[0] == 1.0


# ---- time zone / DST / calendar-arithmetic fuzz (round-8 widening) ----
#
# The one boundary family the r7 fuzzers did not touch: session-TZ-dependent
# truncation and bucketing over DST transitions, month-end calendar
# arithmetic, and ISO week-year edges. Probe grid findings (2026-08): the
# surfaces agree EXCEPT ambiguous fall-back wall clocks (pinned below).

_TZ_ZONES = [
    "America/New_York",   # 2024-03-10 07:00Z spring fwd / 2024-11-03 06:00Z fall back
    "Europe/Berlin",      # 2024-03-31 01:00Z / 2024-10-27 01:00Z
    "Australia/Sydney",   # southern hemisphere: 2024-04-06 16:00Z / 2024-10-05 16:00Z
    "America/Santiago",   # transitions AT LOCAL MIDNIGHT (the date_trunc edge)
    "Asia/Kolkata",       # +05:30, no DST (half-hour-offset control)
    "Pacific/Auckland",   # 2024-04-06 14:00Z / 2024-09-28 14:00Z
]

# UTC instants bracketing every 2024 transition of the zones above, on a
# 20-minute grid ±1h (spring-forward gaps, fall-back ambiguity, and the
# Santiago local-midnight gap), plus mid-season controls.
_TZ_TRANSITIONS_UTC = [
    "2024-03-10 07:00:00", "2024-11-03 06:00:00",  # New_York
    "2024-03-31 01:00:00", "2024-10-27 01:00:00",  # Berlin
    "2024-04-06 16:00:00", "2024-10-05 16:00:00",  # Sydney
    "2024-09-08 04:00:00", "2024-04-07 03:00:00",  # Santiago (midnight local)
    "2024-04-06 14:00:00", "2024-09-28 14:00:00",  # Auckland
    "2024-01-15 12:00:00", "2024-07-15 12:00:00",  # controls
]

_CAL_DATES = [
    # month-end ladder incl leap day and both leap/non-leap February
    "2024-01-29", "2024-01-30", "2024-01-31", "2024-02-28", "2024-02-29",
    "2023-02-28", "2024-03-31", "2024-04-30", "2024-08-31", "2024-12-31",
    # ISO week-year edges: week-53 years (2015/2020/2026) and week-1 spills
    "2015-12-28", "2015-12-31", "2016-01-01", "2016-01-03", "2016-01-04",
    "2020-12-28", "2020-12-31", "2021-01-01", "2021-01-03", "2021-01-04",
    "2024-12-30", "2025-01-01", "2026-01-01", "2026-12-28", "2027-01-03",
]


@pytest.fixture(scope="module")
def tz_env(spark):
    import pandas as pd

    base = pd.to_datetime(_TZ_TRANSITIONS_UTC)
    grid = pd.DatetimeIndex(
        sorted({t + pd.Timedelta(minutes=m) for t in base for m in range(-60, 61, 20)})
    )
    ts_pdf = pd.DataFrame({"ts": grid})
    d_pdf = pd.DataFrame({"d": pd.to_datetime(_CAL_DATES).date})
    spark.createDataFrame(ts_pdf).createOrReplaceTempView("tz_pt")
    spark.createDataFrame(d_pdf).createOrReplaceTempView("cal_pt")
    con = duckdb.connect()
    con.register("tz_pt", ts_pdf)
    con.register("cal_pt", d_pdf)
    yield spark, con
    con.close()


@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    zone=st.sampled_from(_TZ_ZONES),
    unit=st.sampled_from(["day", "hour", "minute", "month"]),
)
def test_random_tz_conversion_and_trunc_matches_duckdb(tz_env, zone, unit):
    """UTC→zone wall-clock conversion and LOCAL-wall-clock truncation over
    every DST transition instant: Spark ``from_utc_timestamp`` /
    ``date_trunc`` in a zone session vs DuckDB ``AT TIME ZONE`` with the
    matching ``SET TimeZone``. Engines cannot share one SQL text here
    (Spark lacks AT TIME ZONE, DuckDB lacks from_utc_timestamp), so each
    side gets its native spelling of the same semantics and the digests
    must agree. Spring-forward gap instants and the Santiago
    local-midnight gap (trunc 'day' lands ON a nonexistent wall clock —
    both engines shift it forward to 01:00) are all in the grid."""
    spark, con = tz_env
    sp = (
        f"SELECT CAST(count(DISTINCT x) AS BIGINT) AS nd, min(CAST(x AS STRING)) AS lo, "
        f"max(CAST(x AS STRING)) AS hi FROM (SELECT date_trunc('{unit}', "
        f"from_utc_timestamp(ts, '{zone}')) AS x FROM tz_pt)"
    )
    du = (
        f"SELECT CAST(count(DISTINCT x) AS BIGINT) AS nd, min(CAST(x AS VARCHAR)) AS lo, "
        f"max(CAST(x AS VARCHAR)) AS hi FROM (SELECT date_trunc('{unit}', "
        f"(ts AT TIME ZONE 'UTC') AT TIME ZONE '{zone}') AS x FROM tz_pt)"
    )
    got = spark.sql(sp).first()
    exp = con.execute(du).fetchone()
    # DuckDB renders midnight-exact DAY/MONTH truncations as DATE strings
    # (the pinned date_trunc return-type divergence) — normalize via
    # length-10 pad, same rule as the r7 pinned test
    def _norm(s):
        return f"{s} 00:00:00" if s is not None and len(s) == 10 else s
    assert (got["nd"], got["lo"], got["hi"]) == (exp[0], _norm(exp[1]), _norm(exp[2])), (sp, du)


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    zone=st.sampled_from(_TZ_ZONES),
    days=st.sampled_from([1, 7]),
)
def test_random_window_bucket_epoch_aligned_matches_duckdb(tz_env, zone, days):
    """``window()`` start edges over DST transitions: Spark's windows are
    EPOCH-ALIGNED INSTANTS — a '1 day' window under a DST-observing
    session TZ does NOT snap to local midnight (that is date_trunc's
    job) and every bucket is exactly 24h of real time. DuckDB's
    ``time_bucket`` over TIMESTAMPTZ has the same fixed-width semantics,
    so the two agree bucket-for-bucket across every transition — the
    porting rule a 100 TB pipeline needs when moving daily rollups
    between engines (use date_trunc for civil days, window/time_bucket
    for fixed 24h spans; they differ by the DST shear).

    Multi-day widths need DuckDB's EXPLICIT origin argument pinned to the
    epoch — the default origins differ (pinned divergence below)."""
    spark, con = tz_env
    spark.conf.set("spark.sql.session.timeZone", zone)
    try:
        got = spark.sql(
            f"SELECT CAST(count(DISTINCT w.start) AS BIGINT) AS nd, "
            f"CAST(min(unix_timestamp(w.start)) AS BIGINT) AS lo, "
            f"CAST(max(unix_timestamp(w.start)) AS BIGINT) AS hi "
            f"FROM (SELECT window(ts, '{days} day') AS w FROM tz_pt)"
        ).first()
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    con.execute(f"SET TimeZone='{zone}'")
    try:
        exp = con.execute(
            f"SELECT CAST(count(DISTINCT b) AS BIGINT), "
            f"CAST(min(epoch(b)) AS BIGINT), CAST(max(epoch(b)) AS BIGINT) "
            f"FROM (SELECT time_bucket(INTERVAL {days} DAY, ts AT TIME ZONE 'UTC', "
            f"TIMESTAMPTZ '1970-01-01 00:00:00+00') AS b FROM tz_pt)"
        ).fetchone()
    finally:
        con.execute("SET TimeZone='UTC'")
    assert (got["nd"], got["lo"], got["hi"]) == exp


def test_multiday_bucket_origin_divergence_pinned(tz_env):
    """Second divergence FOUND BY the round-8 TZ fuzzer: multi-day bucket
    ORIGINS differ. Spark's ``window(ts, '7 day')`` anchors to the epoch
    (1970-01-01, a THURSDAY); DuckDB's ``time_bucket(INTERVAL 7 DAY, ..)``
    anchors to its documented origin 2000-01-03 (a MONDAY) — so default
    "weekly" buckets are shifted by 4 days between engines:

        2024-01-15 12:00 → Spark week start Thu 2024-01-11
                         → DuckDB week start Mon 2024-01-15

    Widths that divide 24h can't see the anchor (both origins are
    midnight-UTC-aligned), which is why the day/hour fuzzer never trips.
    Porting rule (docs/DIVERGENCES.md class 18): any bucket wider than a
    day must carry an explicit origin — DuckDB's third time_bucket
    argument, Spark's window startTime offset."""
    spark, con = tz_env
    probe = "2024-01-15 12:00:00"
    got = spark.sql(
        f"SELECT CAST(window(TIMESTAMP '{probe}', '7 day').start AS STRING)"
    ).first()[0]
    dflt = str(
        con.execute(
            f"SELECT time_bucket(INTERVAL 7 DAY, TIMESTAMP '{probe}')"
        ).fetchone()[0]
    )
    anchored = str(
        con.execute(
            f"SELECT time_bucket(INTERVAL 7 DAY, TIMESTAMP '{probe}', "
            f"TIMESTAMP '1970-01-01')"
        ).fetchone()[0]
    )
    assert got == "2024-01-11 00:00:00"  # Thursday (epoch anchor)
    assert dflt == "2024-01-15 00:00:00"  # Monday (2000-01-03 anchor)
    assert anchored == got


@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    sign=st.sampled_from(["+", "-"]),
    n=st.sampled_from([1, 2, 11, 12, 13, 24, 25, 47]),
)
def test_random_month_arith_end_of_month_matches_duckdb(tz_env, sign, n):
    """Month arithmetic over the month-end ladder (Jan 29/30/31, leap and
    non-leap Feb, every 31-day month end): ONE SQL text ``d ± INTERVAL n
    MONTH`` both engines (DuckDB needs the sign OUTSIDE the interval
    literal), plus Spark's ``add_months`` asserted equal to its own
    interval path — all three clamp to end-of-month identically and
    none is end-of-month STICKY (Feb 29 + 1 month = Mar 29, not
    Mar 31; the pre-2.3 Spark stickiness is long gone)."""
    spark, con = tz_env
    one = (
        f"SELECT CAST(count(DISTINCT x) AS BIGINT) AS nd, "
        f"min(CAST(x AS STRING)) AS lo, max(CAST(x AS STRING)) AS hi "
        f"FROM (SELECT CAST(d {sign} INTERVAL {n} MONTH AS DATE) AS x FROM cal_pt)"
    )
    got = spark.sql(one).first()
    exp = con.execute(one.replace("AS STRING", "AS VARCHAR")).fetchone()
    assert (got["nd"], got["lo"], got["hi"]) == exp, one
    am = spark.sql(
        f"SELECT CAST(count(*) AS BIGINT) AS bad FROM cal_pt "
        f"WHERE add_months(d, {'-' if sign == '-' else ''}{n}) "
        f"IS DISTINCT FROM CAST(d {sign} INTERVAL {n} MONTH AS DATE)"
    ).first()
    assert am["bad"] == 0


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(field=st.sampled_from(["WEEK", "ISO"]))
def test_random_iso_week_year_edges_match_duckdb(tz_env, field):
    """ISO week fields on the week-53/week-1 year edges: EXTRACT(WEEK) is
    ISO-numbered in BOTH engines (one shared text); the ISO week-YEAR is
    spelled EXTRACT(YEAROFWEEK) in Spark and EXTRACT(ISOYEAR) in DuckDB —
    same values, different keyword (the porting rename). Dec 28 is always
    in the old ISO year, Jan 4 always in the new one; the ladder covers
    week-53 years (2015, 2020, 2026) where Dec 31 → week 53 of the OLD
    year and Jan 1-3 spill backward."""
    spark, con = tz_env
    if field == "WEEK":
        one = (
            "SELECT CAST(sum(EXTRACT(WEEK FROM d) * 31 + EXTRACT(WEEK FROM d)) AS BIGINT) AS s, "
            "CAST(min(EXTRACT(WEEK FROM d)) AS BIGINT) AS lo, "
            "CAST(max(EXTRACT(WEEK FROM d)) AS BIGINT) AS hi FROM cal_pt"
        )
        got = spark.sql(one).first()
        exp = con.execute(one).fetchone()
        assert (got["s"], got["lo"], got["hi"]) == exp
    else:
        sp = "SELECT CAST(d AS STRING) AS d, CAST(EXTRACT(YEAROFWEEK FROM d) AS BIGINT) AS y FROM cal_pt ORDER BY 1"
        du = "SELECT CAST(d AS VARCHAR) AS d, CAST(EXTRACT(ISOYEAR FROM d) AS BIGINT) AS y FROM cal_pt ORDER BY 1"
        got = [(r["d"], r["y"]) for r in spark.sql(sp).collect()]
        exp = [(str(a), b) for a, b in con.execute(du).fetchall()]
        assert got == exp


def test_ambiguous_fallback_wallclock_divergence_pinned(tz_env):
    """Divergence FOUND BY the round-8 TZ fuzzer probes and pinned: an
    AMBIGUOUS local wall clock (the repeated hour at fall-back, e.g.
    2024-11-03 01:30 in America/New_York) resolves to the EARLIER offset
    (DST, -04) in Spark's ``to_utc_timestamp`` (java.time
    ZonedDateTime.of semantics) but to the LATER offset (standard, -05)
    in DuckDB's ICU ``AT TIME ZONE`` — one full hour apart:

        Spark  to_utc_timestamp('2024-11-03 01:30', NY) = 05:30Z
        DuckDB ('2024-11-03 01:30' AT TIME ZONE NY)      = 06:30Z

    NONEXISTENT wall clocks (spring-forward gap, incl. Santiago's
    local-midnight gap) agree — both shift forward past the gap. Porting
    rule (docs/DIVERGENCES.md class 18): local→UTC conversion of
    untagged wall clocks is only portable for unambiguous times; tag
    ambiguous readings with an explicit UTC offset upstream, or accept a
    ±1h skew on one hour per year per DST zone. The engine census never
    converts local→UTC (ingest normalizes to UTC instants — tables.load);
    this pins the boundary for pipelines that do."""
    spark, con = tz_env

    amb = "2024-11-03 01:30:00"  # NY fall-back: 01:30 EDT and 01:30 EST both exist
    got = spark.sql(
        f"SELECT CAST(to_utc_timestamp(TIMESTAMP '{amb}', 'America/New_York') AS STRING)"
    ).first()[0]
    exp = str(
        con.execute(
            f"SELECT (TIMESTAMP '{amb}' AT TIME ZONE 'America/New_York') AT TIME ZONE 'UTC'"
        ).fetchone()[0]
    )
    assert got == "2024-11-03 05:30:00"  # Spark: earlier offset (EDT, -04)
    assert exp == "2024-11-03 06:30:00"  # DuckDB: later offset (EST, -05)

    # the agreement half of the class: nonexistent wall clocks shift
    # forward identically (NY 02:30 spring-fwd; Santiago 00:30 midnight gap)
    for wall, zone in [
        ("2024-03-10 02:30:00", "America/New_York"),
        ("2024-09-08 00:30:00", "America/Santiago"),
    ]:
        g = spark.sql(
            f"SELECT CAST(to_utc_timestamp(TIMESTAMP '{wall}', '{zone}') AS STRING)"
        ).first()[0]
        e = str(
            con.execute(
                f"SELECT (TIMESTAMP '{wall}' AT TIME ZONE '{zone}') AT TIME ZONE 'UTC'"
            ).fetchone()[0]
        )
        assert g == e, (wall, zone)


def test_extreme_magnitude_micro_divergences_pinned(events_env):
    """Eighteenth-plus catalog class — the micro-divergences behind the
    extreme-magnitude sweep's 42 failures (tools/sweep.py --kind extreme),
    pinned independently of the operators that tripped over them
    (docs/DIVERGENCES.md class 19):

      * round(x, 2) of an extreme double: DuckDB's multiply-based kernel
        drifts from the input (2dp of 1e256 is sub-ULP anyway) while
        Spark's BigDecimal round returns the input exactly — why every
        2dp emit of a possibly-extreme value goes through money()
        (in-bounds: identical decimal round; out-of-bounds: raw
        passthrough on BOTH sides);
      * round() of a tiny negative: Spark NORMALIZES the result to +0.0,
        DuckDB preserves -0.0 — why wsum()/zn() add +0.0 (and why the
        money() sandwich is immune: decimal zero is unsigned);
      * plain double sum over extremes: parallel fold order becomes
        VISIBLE in the last ULP (a 1e291 total has a 1e275 ULP that no
        rounding hides) — why summands carry the well-scaled contract;
      * AGREEMENTS the guards lean on: |x| < 1e12 is a single-reference
        test that NaN fails in both engines; an extreme double
        round-trips CAST→STRING→DOUBLE bit-exactly in both; min/max of
        raw extremes agree (no fold, same doubles).
    """
    import math

    spark, con = events_env

    # round() drift class: DuckDB's double round at extreme magnitude is
    # not the identity; Spark's is
    probe = "round(CAST(2.4341214408285853e+256 AS DOUBLE), 2)"
    s = spark.sql(f"SELECT {probe}").first()[0]
    d = con.execute(f"SELECT {probe}").fetchone()[0]
    assert s == 2.4341214408285853e256  # Spark: exact identity
    assert d != s and abs(d / s - 1) < 1e-15  # DuckDB: one-ULP drift

    # signed-zero class
    sz = "round(CAST(-1e-310 AS DOUBLE), 2)"
    s = spark.sql(f"SELECT {sz}").first()[0]
    d = con.execute(f"SELECT {sz}").fetchone()[0]
    assert math.copysign(1.0, s) == 1.0  # Spark: +0.0
    assert math.copysign(1.0, d) == -1.0  # DuckDB: -0.0
    # +0.0 normalizes identically in both engines
    for eng in (lambda q: spark.sql(q).first()[0],
                lambda q: con.execute(q).fetchone()[0]):
        assert math.copysign(1.0, eng(f"SELECT {sz} + 0.0")) == 1.0

    # agreements: the single-reference well-scaled test and raw-extreme
    # rendering round-trips
    for probe in [
        "abs(CAST('NaN' AS DOUBLE)) < 1e12",           # False both
        "abs(CAST(1e250 AS DOUBLE)) < 1e12",           # False both
        "abs(CAST(-1e-310 AS DOUBLE)) < 1e12",         # True both (tiny is in-contract)
    ]:
        s = spark.sql(f"SELECT {probe}").first()[0]
        d = con.execute(f"SELECT {probe}").fetchone()[0]
        assert bool(s) == bool(d), probe
    rt = ("CAST(CAST(CAST(-7.361632249604216e+291 AS DOUBLE) AS STRING) "
          "AS DOUBLE) = CAST(-7.361632249604216e+291 AS DOUBLE)")
    assert spark.sql(f"SELECT {rt}").first()[0] is True
    assert con.execute(
        f"SELECT {rt.replace('AS STRING', 'AS VARCHAR')}"
    ).fetchone()[0] is True


def test_map_access_shape_divergence_pinned(events_env):
    """Map-dialect probes (round 8, docs/DIVERGENCES.md class 20):

      * ACCESS SHAPE diverges: DuckDB's ``m[key]`` / element_at return a
        LIST of matching values — ``[]`` when the key is absent — while
        Spark returns the SCALAR value or NULL. A ported null-check
        (``m['k'] IS NULL``) silently breaks: DuckDB's empty list is NOT
        NULL. Portable access is Spark element_at vs DuckDB
        ``m[key][1]`` (indexing the list yields NULL when empty).
      * AGREEMENTS: both engines RAISE on duplicate keys at map
        construction (Spark's default mapKeyDedupPolicy=EXCEPTION —
        merge pipelines must opt into LAST_WIN) and on NULL keys.
    """
    spark, con = events_env

    assert spark.sql("SELECT map('a',1)['b']").first()[0] is None
    assert con.execute("SELECT MAP{'a':1}['b']").fetchone()[0] == []
    # the portable spelling agrees
    assert spark.sql("SELECT element_at(map('a',1),'b')").first()[0] is None
    assert con.execute("SELECT MAP{'a':1}['b'][1]").fetchone()[0] is None
    assert spark.sql("SELECT element_at(map('a',1),'a')").first()[0] == 1
    assert con.execute("SELECT MAP{'a':1}['a'][1]").fetchone()[0] == 1

    with pytest.raises(Exception, match="DUPLICATED_MAP_KEY"):
        spark.sql("SELECT map('a',1,'a',2)").collect()
    with pytest.raises(Exception, match="unique"):
        con.execute("SELECT MAP{'a':1,'a':2}").fetchone()
    with pytest.raises(Exception, match="NULL_MAP_KEY"):
        spark.sql("SELECT map(CAST(NULL AS STRING),1)").collect()
    with pytest.raises(Exception, match="NULL"):
        con.execute("SELECT MAP{NULL:1}").fetchone()


def test_json_fastpath_equals_from_json(spark):
    """Round-11 q6 kernel: json_key_double_fastpath's anchored-regex
    fast path must be indistinguishable from a pure from_json parse on
    EVERY document class — fires only where the two provably agree
    (strict single-key envelope with an RFC 8259 number), falls back to
    from_json everywhere else. Pins the adversarial set: leading zeros
    (cast() would accept '007'; JSON must not), Java-ism suffixes
    ('1d', hex) and bare Infinity (cast() accepts, Jackson rejects),
    whitespace variants, duplicate/extra/nested keys, string-typed
    numbers, huge/overflow literals, malformed docs, NULL."""
    from aced_etl_pod_spark.operators.functions import (
        json_key_double_fastpath,
    )

    docs = [
        '{"k": 69}', '{"k": 0}', '{"k": -0}', '{"k": -7}',
        '{"k": 1.5}', '{"k": -2.5e-3}', '{"k": 1E5}', '{"k": 1e999}',
        '{"k": 123456789012345678901}',
        '{"k": 007}', '{"k": 1.}', '{"k": .5}', '{"k": +5}',
        '{"k": 1d}', '{"k": 0x1A}', '{"k": Infinity}', '{"k": NaN}',
        '{"k": null}', '{"k": "5"}', '{"k": "NaN"}', '{"k": true}',
        '{"k":69}', '{ "k": 69}', '{"k": 69 }', '{"k": 69, }',
        '{"kk": 69}', '{"a": 1, "k": 2}', '{"k": 1, "k": 2}',
        '{"a": {"k": 5}}', '{"k": [1]}', '[1, 2]', 'not json', '',
        '{}', None,
    ]
    df = spark.createDataFrame([(d,) for d in docs], "props string")
    from pyspark.sql import functions as F

    got = df.select(
        "props",
        json_key_double_fastpath(F.col("props"), "k").alias("fast"),
        F.from_json("props", "k DOUBLE").getField("k").alias("ref"),
    ).collect()
    diverged = [
        (r["props"], r["fast"], r["ref"])
        for r in got
        if not (
            (r["fast"] is None and r["ref"] is None)
            or (
                r["fast"] is not None
                and r["ref"] is not None
                and (r["fast"] == r["ref"] or (r["fast"] != r["fast"] and r["ref"] != r["ref"]))
            )
        )
    ]
    assert not diverged, diverged
    # the fast path must actually FIRE on the envelope shape (else the
    # 3.2x A/B win is a dead branch): strict docs parse without Jackson
    strict = df.filter(
        F.regexp_extract("props", r'^\{"k": (-?(?:0|[1-9]\d*)(?:\.\d+)?(?:[eE][+-]?\d+)?)\}$', 1) != ""
    ).count()
    assert strict >= 8
    # ...and so must the regex-free INTEGER tier specifically (the 6.8x
    # headline): count rows satisfying tier 1's own predicate so a
    # refactor can't silently turn it into a dead branch
    cand = F.expr("substring(props, 7, length(props) - 7)")
    as_long = cand.try_cast("long")
    int_tier = df.filter(
        F.col("props").startswith('{"k": ')
        & F.col("props").endswith("}")
        & as_long.isNotNull()
        & (as_long.cast("string") == cand)
    ).count()
    assert int_tier >= 3  # {"k": 69}, {"k": 0}, {"k": -7} at minimum


def test_epoch_bucket_equals_window(spark):
    """Round-11 q5 kernel: the epoch-hour arithmetic bucket
    (floor(epoch/3600)) must assign every timestamp to the same tumbling
    window as F.window(ts, '1 hour') — including pre-1970 (floor, not
    truncate-toward-zero), sub-second fractions on both sides of an
    hour boundary, and far-future instants."""
    import datetime as dt

    from pyspark.sql import functions as F

    tz = dt.timezone.utc
    stamps = [
        dt.datetime(1969, 12, 31, 23, 59, 59, 999999, tz),
        dt.datetime(1969, 12, 31, 23, 0, 0, 0, tz),
        dt.datetime(1969, 12, 31, 22, 59, 59, 999999, tz),
        dt.datetime(1970, 1, 1, 0, 0, 0, 0, tz),
        dt.datetime(1970, 1, 1, 0, 59, 59, 999999, tz),
        dt.datetime(1970, 1, 1, 1, 0, 0, 0, tz),
        dt.datetime(1970, 1, 1, 1, 0, 0, 1, tz),
        dt.datetime(1900, 6, 15, 12, 30, 0, 500000, tz),
        dt.datetime(2026, 8, 16, 17, 59, 59, 999999, tz),
        dt.datetime(2026, 8, 16, 18, 0, 0, 0, tz),
        dt.datetime(9999, 6, 15, 23, 59, 59, 999999, tz),
        # year-1 instants blow up in PySpark's OWN collect-side
        # datetime.fromtimestamp conversion (types.py), independent of
        # either bucketing spelling — 1900/1969 cover negative epochs
        dt.datetime(1777, 7, 4, 12, 0, 0, 1, tz),
    ]
    df = spark.createDataFrame(
        [(s.replace(tzinfo=None),) for s in stamps], "ts timestamp"
    )
    # the double-division spelling FAILED here (year-9999 23:59:59.999999
    # bucketed into the next hour — 2.5e17 us exceeds a double mantissa);
    # the shipped op uses exact long microsecond arithmetic
    h = F.expr(
        "(unix_micros(ts) - pmod(unix_micros(ts), 3600000000))"
        " DIV 3600000000"
    )
    got = df.select(
        "ts",
        (h * 3600).cast("timestamp").alias("epoch_start"),
        F.window("ts", "1 hour").start.alias("window_start"),
    ).collect()
    diverged = [
        (r["ts"], r["epoch_start"], r["window_start"])
        for r in got
        if r["epoch_start"] != r["window_start"]
    ]
    assert not diverged, diverged
