"""Scalar function families (SURVEY.md §2.b — 8 IDs, one query per family).

Anchors: project-id split (``_get_program_project``,
etl-job/fhir_import_export.py:55-59), snapshot-name formatting
``{project_id}_{%Y%m%d-%H%M%S}_SNAPSHOT.zip`` (:341-342), the metadata map
(:349), and JSON parsing of job params / resources (:52, :287).

Everything here is a built-in ``pyspark.sql.functions`` expression — JVM
codegen, no Python in the hot path. Output types are pinned (BIGINT for
integral, formatted strings for timestamps) so the value hash can never
trip on engine-specific rendering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aced_etl_pod_spark.operators.util import (
    finite,
    finite_sql,
    money,
    money_sql,
    wsum,
    wsum_sql,
    zn,
    zn_sql,
)
from aced_etl_pod_spark.registry import op
from aced_etl_pod_spark.tables import load, read_parquet


@op(
    "fn_string",
    oracle="""
    SELECT c_custkey,
           lower(c_mktsegment) AS seg_lower,
           regexp_extract(c_name, '(\\d+)', 1) AS name_num,
           substring(c_name, 1, 8) AS name_head,
           c_mktsegment || '-' || CAST(c_custkey AS VARCHAR) AS seg_key,
           CAST(length(c_name) AS BIGINT) AS name_len,
           CAST(CASE WHEN c_mktsegment LIKE 'BUILD%' THEN 1 ELSE 0 END AS BIGINT) AS is_building,
           trim('  ' || c_mktsegment || ' ') AS trimmed,
           regexp_replace(c_name, 'Customer#', 'C') AS short_name,
           string_split(c_name, '#')[2] AS after_hash
    FROM customer
    """,
    tags=("fn",),
)
def fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String family: split/concat/case/substring/trim/regexp/length/like
    (project-id split :55-59; snapshot name build :341-342)."""
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.lower("c_mktsegment").alias("seg_lower"),
        F.regexp_extract("c_name", r"(\d+)", 1).alias("name_num"),
        F.substring("c_name", 1, 8).alias("name_head"),
        F.concat(F.col("c_mktsegment"), F.lit("-"), F.col("c_custkey").cast("string")).alias(
            "seg_key"
        ),
        F.length("c_name").cast("long").alias("name_len"),
        F.when(F.col("c_mktsegment").like("BUILD%"), 1).otherwise(0).cast("long").alias(
            "is_building"
        ),
        F.trim(F.concat(F.lit("  "), F.col("c_mktsegment"), F.lit(" "))).alias("trimmed"),
        F.regexp_replace("c_name", "Customer#", "C").alias("short_name"),
        F.split("c_name", "#").getItem(1).alias("after_hash"),
    )


@op(
    "fn_date",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS BIGINT) AS yr,
           CAST(month(o_orderdate) AS BIGINT) AS mo,
           CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
           CAST(dayofmonth(o_orderdate) AS BIGINT) AS dom,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
           CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS BIGINT) AS days_since,
           strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30,
           CAST(floor(epoch(o_orderdate)) AS BIGINT) AS epoch_s,
           strftime(o_orderdate, '%Y%m%d-%H%M%S') AS snap_fmt
    FROM orders
    """,
    tags=("fn",),
)
def fn_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date family: extract/trunc/add/diff/epoch/format — incl. the
    reference's snapshot timestamp format %Y%m%d-%H%M%S (:341)."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("yr"),
        F.month("o_orderdate").cast("long").alias("mo"),
        F.quarter("o_orderdate").cast("long").alias("qtr"),
        F.dayofmonth("o_orderdate").cast("long").alias("dom"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("month_start"),
        F.datediff("o_orderdate", F.lit("1995-01-01").cast("date")).cast("long").alias(
            "days_since"
        ),
        F.date_format(F.date_add("o_orderdate", 30), "yyyy-MM-dd").alias("plus30"),
        F.unix_timestamp("o_orderdate").alias("epoch_s"),
        F.date_format("o_orderdate", "yyyyMMdd-HHmmss").alias("snap_fmt"),
    )


@op(
    "fn_math",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           (CASE WHEN abs(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DOUBLE)) < 1e12 THEN CAST(round(CAST(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DOUBLE) AS DECIMAL(18,6)), 2) AS DOUBLE) ELSE CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DOUBLE) END) AS charged,
           {money_sql("abs(l_discount - 0.05)", 4, 8)} AS disc_dev,
           CAST(floor((CASE WHEN abs(CAST(l_extendedprice AS DOUBLE)) < 1e12 THEN CAST(l_extendedprice AS DOUBLE) END)) AS BIGINT) AS price_floor,
           CAST(ceiling((CASE WHEN abs(CAST(l_extendedprice AS DOUBLE)) < 1e12 THEN CAST(l_extendedprice AS DOUBLE) END)) AS BIGINT) AS price_ceil,
           l_orderkey % 7 AS key_mod,
           {money_sql("pow(1 + l_discount, 2)", 6, 9)} AS disc_sq,
           round(ln(CASE WHEN l_extendedprice >= 0 THEN l_extendedprice END), 6) AS price_ln,
           {money_sql("exp(l_discount)", 6, 9)} AS disc_exp,
           {money_sql("sqrt(CASE WHEN l_quantity >= 0 THEN l_quantity END)", 6, 9)} AS qty_sqrt
    FROM lineitem
    """,
    tags=("fn",),
)
def fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math family: arithmetic/round/abs/floor/ceil/mod/pow/ln/exp/sqrt."""
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        money(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
        ).alias("charged"),
        # money-style guards: round() of a finite-but-extreme derived
        # value (|x| up to ~1e308 after abs/pow/sqrt/exp) drifts a ULP in
        # DuckDB's multiply-based kernel; the sandwich rounds in-bounds
        # identically and passes extremes raw (bit-identical)
        money(F.abs(F.col("l_discount") - 0.05), 4, 8).alias("disc_dev"),
        # non-finite prices have no integer floor/ceil image (Spark would
        # silently emit 0 / Long.MaxValue; DuckDB raises) — NULL both sides
        F.floor(finite(F.col("l_extendedprice"))).alias("price_floor"),
        F.ceil(finite(F.col("l_extendedprice"))).alias("price_ceil"),
        (F.col("l_orderkey") % 7).alias("key_mod"),
        money(F.pow(F.col("l_discount") + 1, 2), 6, 9).alias("disc_sq"),
        F.round(F.log("l_extendedprice"), 6).alias("price_ln"),
        money(F.exp("l_discount"), 6, 9).alias("disc_exp"),
        money(F.sqrt("l_quantity"), 6, 9).alias("qty_sqrt"),
    )


@op(
    "fn_conditional",
    oracle=f"""
    SELECT o_orderkey,
           CASE WHEN o_totalprice < 50000 THEN 'low'
                WHEN o_totalprice < 150000 THEN 'mid'
                ELSE 'high' END AS bucket,
           nullif(o_orderstatus, 'P') AS status_np,
           coalesce(nullif(o_orderstatus, 'P'), 'was_p') AS status_filled,
           {money_sql("greatest(o_totalprice, 100000)")} AS at_least,
           {money_sql("least(o_totalprice, 100000)")} AS at_most,
           CAST(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS BIGINT) AS is_urgent
    FROM orders
    """,
    tags=("fn",),
)
def fn_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional family: CASE WHEN / coalesce / nullif / greatest / least
    (empty-input branching analog, fhir_import_export.py:228-258)."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") < 50000, "low")
        .when(F.col("o_totalprice") < 150000, "mid")
        .otherwise("high")
        .alias("bucket"),
        F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("status_np"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("was_p")).alias(
            "status_filled"
        ),
        money(F.greatest("o_totalprice", F.lit(100000))).alias("at_least"),
        money(F.least("o_totalprice", F.lit(100000))).alias("at_most"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).cast("long").alias(
            "is_urgent"
        ),
    )


@op(
    "fn_array",
    oracle="""
    SELECT p_partkey,
           CAST(len(string_split(p_name, ' ')) AS BIGINT) AS n_tokens,
           string_split(p_name, ' ')[1] AS first_tok,
           CAST(CASE WHEN list_contains(string_split(p_name, ' '), 'red') THEN 1 ELSE 0 END
                AS BIGINT) AS has_red,
           array_to_string(list_sort(list_distinct(string_split(p_name, ' '))), ',')
               AS toks_sorted,
           array_to_string(string_split(p_name, ' ')[1:1], ',') AS first_slice
    FROM part
    """,
    tags=("fn",),
)
def fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array family: size/element_at/contains/distinct/sort/slice/join
    (identifier/relations arrays, fhir_import_export.py:281-285). Arrays are
    emitted as joined strings so hashing never depends on array rendering."""
    p = load(spark, sf_dir, "part")
    toks = F.split("p_name", " ")
    return p.select(
        "p_partkey",
        # size(NULL) is -1 under non-ANSI Spark; DuckDB len(NULL) is NULL
        F.when(F.col("p_name").isNotNull(), F.size(toks))
        .cast("long")
        .alias("n_tokens"),
        F.element_at(toks, 1).alias("first_tok"),
        F.when(F.array_contains(toks, "red"), 1).otherwise(0).cast("long").alias("has_red"),
        F.array_join(F.array_sort(F.array_distinct(toks)), ",").alias("toks_sorted"),
        F.array_join(F.slice(toks, 1, 1), ",").alias("first_slice"),
    )


@op(
    "fn_map",
    oracle="""
    SELECT o_orderkey,
           o_orderstatus AS status_v,
           CAST(2 AS BIGINT) AS n_keys,
           'prio,status' AS keys_sorted,
           CASE WHEN o_orderstatus IS NULL AND o_orderpriority IS NULL
                THEN '@null@,@null@'
                WHEN o_orderstatus IS NULL
                THEN o_orderpriority || ',@null@'
                WHEN o_orderpriority IS NULL
                THEN o_orderstatus || ',@null@'
                ELSE least(o_orderstatus, o_orderpriority) || ',' ||
                     greatest(o_orderstatus, o_orderpriority)
           END AS vals_sorted
    FROM orders
    """,
    tags=("fn",),
)
def fn_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map family: creation/keys/values/element access (metadata dict
    ``{'is_snapshot': True, ...}``, fhir_import_export.py:349). The oracle
    states the expected scalars directly — the map plumbing is Spark-side."""
    o = load(spark, sf_dir, "orders")
    m = F.create_map(
        F.lit("status"), F.col("o_orderstatus"), F.lit("prio"), F.col("o_orderpriority")
    )
    return o.select(
        "o_orderkey",
        F.element_at(m, "status").alias("status_v"),
        F.size(m).cast("long").alias("n_keys"),
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("keys_sorted"),
        # array_join SKIPS nulls by default, silently shrinking the list
        # — emit a sentinel instead (array_sort places NULLs last)
        F.array_join(F.array_sort(F.map_values(m)), ",", "@null@").alias(
            "vals_sorted"
        ),
    )


#: RFC 8259 number grammar (leading-zero rejecting), shared by the JSON
#: fast path (PLANS.md "Round-11 (post-verdict session): q6 kernel").
_JSON_NUM_RX = r"-?(?:0|[1-9]\d*)(?:\.\d+)?(?:[eE][+-]?\d+)?"


def json_key_double_fastpath(props_col, key: str):
    """Extract top-level ``key`` as DOUBLE without parsing on the fast
    path — exact by construction (round-11 q6 kernel A/B).

    Round-10 proved both of Spark's query-path parse engines (Jackson
    ``from_json``, the variant shredder) are ~20x DuckDB's yyjson on
    single-key envelopes, and the round-10/11 answer was architectural
    (shred at ingest). This is the complementary KERNEL answer for the
    query path itself: an anchored ``regexp_extract`` whose pattern is
    ``^{"<key>": (<RFC 8259 number>)}$``. When it matches, the document
    provably contains exactly one top-level ``key`` with a strict JSON
    number literal, where ``Double.parseDouble`` (Spark's string→double
    cast) and Jackson's ``getDoubleValue`` agree by definition — so the
    fast path cannot diverge. EVERY other document — other keys, extra
    whitespace, string/object/array values, duplicate keys, leading
    zeros (which cast() would wrongly accept), malformed JSON, NULL —
    fails the anchor and takes the real ``from_json`` parse, so the
    worst case is one cheap regex over the fallback's former cost.

    TWO fast tiers, cheapest first (each certifies its own rows; any
    row neither can certify pays the real parse):

    1. INTEGER ROUND-TRIP (regex-free, pure codegen string/cast ops):
       candidate = the bytes between ``{"<key>": `` and ``}``; valid
       iff ``cast(candidate AS LONG)`` re-stringifies to exactly the
       candidate. That accepts precisely the canonical integer strings
       ``-?(0|[1-9]\\d*)`` minus ``-0`` — every one a strict JSON
       number Jackson parses to the same value — and rejects '007',
       '1d', '+5', '-0', hex, spaces by construction.
    2. REGEX NUMBER GRAMMAR: the anchored extract above, for
       fractional/exponent literals tier 1 can't certify.

    Measured (PLANS.md round-11 q6 kernel + x800 ladder, honest
    interleaved protocol): x200
    from_json 8.67 s → regex tier 2.70 s (3.2x); x800 pure from_json
    12.9 s → regex tier 3.9-4.2 s → **integer tier 1.90 s (6.8x
    total, 2.75x vs DuckDB)**. Parquet scan floor 0.42 s. The
    mapInArrow RE2 + per-batch-partial variant measured transfer-bound
    (rejected; PLANS.md). tests/test_property.py pins the tiered path
    == pure from_json row-for-row on the adversarial document set."""
    import re as _re

    # key is interpolated into the string prefix AND the from_json
    # schema — only the regex tier is re.escape-protected, so restrict
    # to plain identifiers up front (a quote/backtick in key would
    # silently break the prefix match and the schema string).
    if not _re.fullmatch(r"\w+", key):
        raise ValueError(f"json_key_double_fastpath: key must be \\w+, got {key!r}")
    prefix = '{"' + key + '": '
    cand = props_col.substr(
        F.lit(len(prefix) + 1), F.length(props_col) - (len(prefix) + 1)
    )
    # try_cast, not cast: the tier-1 predicate evaluates on EVERY row
    # (junk candidates included), and a plain cast would throw under
    # ANSI mode — keep the helper safe regardless of session config.
    as_long = cand.try_cast("long")
    int_ok = (
        props_col.startswith(prefix)
        & props_col.endswith("}")
        & as_long.isNotNull()
        & (as_long.cast("string") == cand)
    )
    rx = r'^\{"' + _re.escape(key) + r'": (' + _JSON_NUM_RX + r")\}$"
    x = F.regexp_extract(props_col, rx, 1)
    return F.when(int_ok, as_long.cast("double")).otherwise(
        F.when(x != "", x.try_cast("double")).otherwise(
            F.from_json(props_col, f"`{key}` DOUBLE").getField(key)
        )
    )


@op(
    "fn_json",
    oracle="""
    SELECT event_type,
           round(avg(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 2) AS avg_k,
           CAST(count(*) FILTER (
             WHERE CAST(json_extract_string(props, '$.k') AS DOUBLE) > 50
           ) AS BIGINT) AS n_high,
           CAST(max(CAST(json_extract_string(props, '$.k') AS DOUBLE)) AS DOUBLE) AS max_k,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k
    FROM events
    GROUP BY event_type
    """,
    tags=("fn",),
)
def fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON family — json.loads analog (fhir_import_export.py:52, :287).
    BASELINE B6 shape.

    PARSE ONCE (round-9 ladder finding): the original shape ran
    get_json_object AND from_json over the same string — two full Jackson
    parses per row, and q6's x10 wall was dominated by exactly that. One
    schema-full ``from_json`` now feeds every output; per-path
    get_json_object re-parses the document per path and is the
    anti-pattern at scale (it remains covered by fn_string/fn_map tests).
    The int column replicates the old ``from_json("k INT")`` semantics
    exactly — NULL outside int range or for fractional values — so the
    oracle and every recorded sweep row are unchanged.

    ROUND-11 KERNEL: extraction goes through
    :func:`json_key_double_fastpath` — an anchored-regex raw-string
    fast path for single-key envelopes with a full ``from_json``
    fallback for everything else (semantics identical by construction;
    see its docstring for the exactness argument and the 3.2x-at-x200
    A/B).

    LAYOUT-DISPATCHED since round 12: past ~4 M events the op answers
    from the shred-at-ingest typed column
    (fn_json_shredded_ingest / :func:`_shredded_events_fixture`) — the
    same footer-count dispatch q1/q7 ship. The r10/r11 rounds kept
    fn_json on the parse path to keep the parse kernel measurable; that
    role now belongs to the explicitly-pinned kernel ops
    (fn_json_variant, and json_key_double_fastpath's regex/integer
    tiers, measured in PLANS.md "Round-11 (post-verdict session): q6
    kernel" and "q6 tier 2"), while the PUBLIC op serves queries the
    way a 100 TB deployment actually would — columnar, parsed once at
    landing. Below the knee
    the one-time shred doesn't amortize and the kernel plan stays."""
    from aced_etl_pod_spark.tables import table_row_count

    if table_row_count(sf_dir, "events") >= 4_000_000:
        return fn_json_shredded_ingest(spark, sf_dir)
    e = load(spark, sf_dir, "events")
    k = json_key_double_fastpath(F.col("props"), "k")
    k_int = F.when(
        k.between(-2147483648, 2147483647) & (k == F.floor(k)),
        k.cast("int"),
    )
    return (
        e.select("event_type", k.alias("k"), k_int.alias("k_i"))
        .groupBy("event_type")
        .agg(
            F.round(F.avg("k"), 2).alias("avg_k"),
            F.count(F.when(F.col("k") > 50, 1)).alias("n_high"),
            F.max("k").alias("max_k"),
            F.sum("k_i").cast("long").alias("sum_k"),
        )
    )


@op(
    "fn_json_variant",
    oracle="""
    SELECT event_type,
           round(avg(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 2) AS avg_k,
           CAST(count(*) FILTER (
             WHERE CAST(json_extract_string(props, '$.k') AS DOUBLE) > 50
           ) AS BIGINT) AS n_high,
           CAST(max(CAST(json_extract_string(props, '$.k') AS DOUBLE)) AS DOUBLE) AS max_k,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k
    FROM events
    GROUP BY event_type
    """,
    tags=("fn", "extra"),
)
def fn_json_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fn_json's exact query through Spark 4's VARIANT path (round-10
    verdict item 3's A/B contender): ``try_parse_json`` shreds the
    document once into the binary variant encoding, ``try_variant_get``
    then extracts '$.k' without re-running Jackson per path. Same
    output contract and oracle as fn_json — the only difference is the
    parse kernel, which is the point: q6's at-scale gap is JSON-parse
    bound, so the two ops measure Spark's two parse engines against the
    identical downstream plan. A malformed document yields NULL through
    try_parse_json exactly as from_json's null-row does in fn_json."""
    e = load(spark, sf_dir, "events")
    k = F.try_variant_get(F.try_parse_json("props"), "$.k", "double")
    k_int = F.when(
        k.between(-2147483648, 2147483647) & (k == F.floor(k)),
        k.cast("int"),
    )
    return (
        e.select("event_type", k.alias("k"), k_int.alias("k_i"))
        .groupBy("event_type")
        .agg(
            F.round(F.avg("k"), 2).alias("avg_k"),
            F.count(F.when(F.col("k") > 50, 1)).alias("n_high"),
            F.max("k").alias("max_k"),
            F.sum("k_i").cast("long").alias("sum_k"),
        )
    )


def _shredded_events_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Parse-once-at-ingest fixture for the JSON family (round-10: the
    q6 A/Bs proved the query-path parse gap kernel-irreducible — both
    Spark parse engines are ~20x DuckDB's yyjson — so the 100 TB answer
    is ARCHITECTURAL: shred the document into typed columns once at
    ingest, the load_validated_embeddings posture). First access per
    source fingerprint writes (event_type, k DOUBLE) parquet to scratch
    through :func:`tables.fixture`."""
    from aced_etl_pod_spark.tables import fixture

    def build(tmp):
        e = load(spark, sf_dir, "events")
        k = json_key_double_fastpath(F.col("props"), "k")
        e.select("event_type", k.alias("k")).write.mode(
            "overwrite"
        ).parquet(f"{tmp}/events_k")

    return fixture("shred_events", sf_dir, ("events.parquet",), build)


@op(
    "fn_json_shredded_ingest",
    oracle="""
    SELECT event_type,
           round(avg(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 2) AS avg_k,
           CAST(count(*) FILTER (
             WHERE CAST(json_extract_string(props, '$.k') AS DOUBLE) > 50
           ) AS BIGINT) AS n_high,
           CAST(max(CAST(json_extract_string(props, '$.k') AS DOUBLE)) AS DOUBLE) AS max_k,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k
    FROM events
    GROUP BY event_type
    """,
    tags=("fn", "ingest", "extra"),
)
def fn_json_shredded_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fn_json's exact query over a SHREDDED-AT-INGEST typed column —
    the architecture answer to the q6 parse gap (round-10 A/Bs: the
    query-path JSON parse is kernel-irreducible in Spark at ~20x
    DuckDB's yyjson; fn_json_variant measured SLOWER at x200 and x800).
    :func:`_shredded_events_fixture` parses '$.k' ONCE per source
    fingerprint into (event_type, k DOUBLE) parquet — the same
    one-time-ingest-pass discipline as load_validated_embeddings — and
    every subsequent query is a typed-column scan+agg with no Jackson
    anywhere in the plan. At 100 TB this is how a JSON-heavy corpus is
    actually served: documents parse once at landing (where DLQ routing
    happens anyway), hot paths read columnar-shredded keys. The oracle
    keeps the full parse semantics, so the hash check proves the shred
    round-trips the extraction exactly (incl. NULL on malformed/missing
    keys). The one-time parse cost is fn_json's wall once; it amortizes
    over every query after (measured: PLANS.md round-10)."""
    path = _shredded_events_fixture(spark, sf_dir)
    e = read_parquet(spark, f"{path}/events_k")
    k_int = F.when(
        F.col("k").between(-2147483648, 2147483647)
        & (F.col("k") == F.floor("k")),
        F.col("k").cast("int"),
    )
    return (
        e.select("event_type", "k", k_int.alias("k_i"))
        .groupBy("event_type")
        .agg(
            F.round(F.avg("k"), 2).alias("avg_k"),
            F.count(F.when(F.col("k") > 50, 1)).alias("n_high"),
            F.max("k").alias("max_k"),
            F.sum("k_i").cast("long").alias("sum_k"),
        )
    )


def _schema_shredded_events_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Schema-DRIVEN multi-key shred-at-ingest fixture (round-11 verdict
    item 5 — fn_json_shredded_ingest generalized from one hand-picked
    key to every key of a sampled schema, nested keys included).

    The raw shape is the JSON EVENT ENVELOPE a landing zone actually
    receives: ``{"event_id":…,"user_id":…,"event_type":…,"value":…,
    "props":{"k":…}}`` (built once from the events table via
    ``to_json(struct(...))`` — the only JSON source in the testdata is
    props, so the envelope supplies the multi-key/nested corpus the
    generalization needs). Ingest then:

    1. SAMPLES 512 envelopes (bounded driver state — the dictionary-
       driven idiom of sources/dictionary.py: schema from a sample, not
       a full pass),
    2. infers the full nested schema with ``spark.read.json`` over the
       sample,
    3. parses every envelope ONCE with ``from_json`` at the inferred
       schema and writes the flattened typed columns
       (event_id, user_id, event_type, value, k) as parquet.

    Both the raw envelopes (``raw/``) and the shredded columns
    (``shred/``) persist under one fingerprint so the payoff is
    measurable: query-over-shred vs query-over-raw-parse on identical
    data (PLANS.md "Round-11: schema-driven shred-at-ingest"). Published
    through :func:`tables.fixture`. Empty corpus publishes an empty
    shred with the stable 5-column schema (the inference sample is
    empty, so the schema comes from the contract, not the data)."""
    from aced_etl_pod_spark.tables import fixture

    def build(tmp):
        e = load(spark, sf_dir, "events")
        envelope = e.select(
            F.to_json(
                F.struct(
                    "event_id",
                    "user_id",
                    "event_type",
                    "value",
                    F.from_json("props", "k DOUBLE").alias("props"),
                )
            ).alias("doc")
        )
        envelope.write.mode("overwrite").parquet(f"{tmp}/raw")
        raw = read_parquet(spark, f"{tmp}/raw")
        sample = [r["doc"] for r in raw.limit(512).collect() if r["doc"]]
        if sample:
            inferred = spark.read.json(
                spark.sparkContext.parallelize(sample, 1)
            ).schema
            parsed = raw.select(
                F.from_json("doc", inferred).alias("d")
            ).select("d.*")
            cols = []
            for col, typ in (
                ("event_id", "long"),
                ("user_id", "long"),
                ("event_type", "string"),
                ("value", "double"),
            ):
                cols.append(
                    (
                        F.col(col) if col in parsed.columns else F.lit(None)
                    ).cast(typ).alias(col)
                )
            k = (
                F.col("props.k")
                if "props" in parsed.columns
                else F.lit(None)
            )
            shred = parsed.select(*cols, k.cast("double").alias("k"))
        else:
            shred = spark.createDataFrame(
                [],
                "event_id long, user_id long, event_type string,"
                " value double, k double",
            )
        shred.write.mode("overwrite").parquet(f"{tmp}/shred")

    return fixture("shredsch_events", sf_dir, ("events.parquet",), build)


FN_JSON_SHRED_SCHEMA_ORACLE = """
    SELECT event_type,
           round(avg(value), 2) AS avg_value,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER))
                AS BIGINT) AS sum_k,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY event_type
    """


@op(
    "fn_json_shred_schema_ingest",
    oracle=FN_JSON_SHRED_SCHEMA_ORACLE,
    tags=("fn", "ingest", "scale", "extra"),
)
def fn_json_shred_schema_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key schema-driven shred-at-ingest, queried (the
    generalization the round-11 verdict asked for —
    fn_json_shredded_ingest covers one hand-picked key; this op shreds
    EVERY key of a sampled ``spark.read.json`` schema, nested props.k
    included, via :func:`_schema_shredded_events_fixture`).

    The query touches four shredded keys of the envelope (event_type,
    value, user_id, nested props.k) with zero JSON functions in the hot
    plan — pure typed-column scan+agg. The oracle re-derives every value
    from the BASE columns and a full json_extract of props, so the hash
    check proves the sample-inferred shred round-trips all keys and
    types exactly (envelope serialization included). At 100 TB this is
    the landing-zone contract: infer once from a sample, shred once at
    ingest, serve hot queries columnar (the q6 answer made
    schema-driven; cost/payoff rows in PLANS.md round-11)."""
    path = _schema_shredded_events_fixture(spark, sf_dir)
    s = read_parquet(spark, f"{path}/shred")
    k_int = F.when(
        F.col("k").between(-2147483648, 2147483647)
        & (F.col("k") == F.floor("k")),
        F.col("k").cast("int"),
    )
    return (
        s.select("event_type", "value", "user_id", k_int.alias("k_i"))
        .groupBy("event_type")
        .agg(
            F.round(F.avg("value"), 2).alias("avg_value"),
            F.sum("k_i").cast("long").alias("sum_k"),
            F.countDistinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
        )
    )


@op(
    "fn_cast",
    oracle="""
    SELECT event_id,
           CAST(user_id AS DOUBLE) AS uid_d,
           CAST(trunc((CASE WHEN abs(CAST(value AS DOUBLE)) < 1e12 THEN CAST(value AS DOUBLE) END)) AS BIGINT) AS val_trunc,
           CAST(CAST(event_id AS VARCHAR) AS BIGINT) AS id_roundtrip,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
           CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
           CAST(CAST((CASE WHEN abs(CAST(value AS DOUBLE)) < 1e12 THEN CAST(value AS DOUBLE) END) AS DECIMAL(18, 2)) AS VARCHAR) AS val_dec_str,
           -- direct bool->int cast so a NULL value stays NULL (the CASE
           -- ELSE-0 form would coerce NULL comparisons to 0)
           CAST(value > 100 AS BIGINT) AS is_big
    FROM events
    """,
    tags=("fn",),
)
def fn_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cast family across int/long/double/string/timestamp/decimal/bool.
    NB Spark double→int truncates while DuckDB rounds — oracle uses trunc().
    Non-finite doubles have no integer image (non-ANSI Spark silently
    yields 0 for NaN and Long.MaxValue for Inf; DuckDB raises) — the
    finite guard maps them to NULL on both sides."""
    e = load(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.col("user_id").cast("double").alias("uid_d"),
        finite(F.col("value")).cast("long").alias("val_trunc"),
        F.col("event_id").cast("string").cast("long").alias("id_roundtrip"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        F.unix_timestamp("ts").alias("epoch_s"),
        finite(F.col("value")).cast("decimal(18,2)").cast("string").alias("val_dec_str"),
        (F.col("value") > 100).cast("long").alias("is_big"),
    )
