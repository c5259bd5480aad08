"""Similarity-search + multimodal operators (SURVEY.md §2.b LLM-pipeline
extensions over the ``embeddings`` table, plus the ANN scale path and
embedding near-dup from the north star).

The cosine kernel (functions/similarity.py) is a sequential double fold —
bit-identical to DuckDB's ``list_dot_product``, so exact ops hash-check.
The sign-LSH ANN variants are approximate in the recall sense but
DETERMINISTIC in construction (sha256-derived planes, portable folds), so
since round 6 even they carry full hash oracles that replay the index
build bit-for-bit; recall vs the brute-force baseline stays asserted in
tests/test_similarity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from aced_etl_pod_spark.functions.similarity import (
    ann_lsh_topk,
    brute_force_topk,
    brute_force_topk_unrolled,
    cosine_expr,
)
from aced_etl_pod_spark.operators.util import (
    finite,
    finite_sql,
    finite_vec,
    finite_vec_sql,
    money,
    money_sql,
)
from aced_etl_pod_spark.registry import op
from aced_etl_pod_spark.sources.binary import (
    decode_stub,
    generate_blob_fixture,
    read_binary,
)
from aced_etl_pod_spark.tables import load

DUCK_COS = (
    "list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[])) / "
    "(sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[]))) * "
    " sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[]))))"
)

# Little-endian uint64 from the first 8 bytes of a sha256 hex string — the
# DuckDB mirror of struct.unpack('<Q', sha256(...).digest()[:8]) used by
# functions/similarity.random_hyperplanes. Division by 2^64 is an exact
# power-of-two scaling, so round(u)/2^64 == round(u/2^64) and the plane
# components are bit-identical to the Python-derived literals.
DUCK_LE64 = ("CAST('0x' || substr({h}, 15, 2) || substr({h}, 13, 2)"
             " || substr({h}, 11, 2) || substr({h}, 9, 2)"
             " || substr({h}, 7, 2) || substr({h}, 5, 2)"
             " || substr({h}, 3, 2) || substr({h}, 1, 2) AS UBIGINT)")


def _duck_lsh_buckets(target_bucket: int) -> str:
    """Shared oracle CTE block: rebuild the sign-LSH buckets in DuckDB from
    first principles — plane count from the corpus size (lsh_planes_for),
    plane components from DuckDB's own sha256() via DUCK_LE64, bucket bits
    from the same double-widened dot fold Spark codegens. Because every
    arithmetic step is replayed bit-for-bit, the 'approximate' index is
    deterministically reproducible: the oracle hash-checks the exact
    bucketing, not a recall proxy."""
    return f"""
    nn AS (SELECT count(*) AS n FROM embeddings
           WHERE (embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR NOT (abs(x) < 1e12))) = 0)),
    np AS (
      SELECT greatest(4, least(24,
               CAST(ceil(log2(greatest(n / {target_bucket}.0, 2.0)))
                    AS INTEGER))) AS planes
      FROM nn
    ),
    dims AS (SELECT len(embedding) AS dim FROM embeddings
             WHERE (embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR NOT (abs(x) < 1e12))) = 0) LIMIT 1),
    planes AS (
      SELECT p,
             list_transform(generate_series(0, (SELECT dim FROM dims) - 1),
               d ->
               (CAST({DUCK_LE64.format(h="sha256('42:' || p || ':' || d)")}
                     AS DOUBLE)
                  / 18446744073709551616.0) * 2.0 - 1.0
             ) AS vec
      FROM (SELECT unnest(generate_series(0, (SELECT planes FROM np) - 1))
                 AS p)
    ),
    b AS (
      SELECT e.vec_id,
             sum(CASE WHEN list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                            pl.vec) >= 0
                      THEN (CAST(1 AS BIGINT) << pl.p) ELSE 0 END) AS bucket
      FROM embeddings e CROSS JOIN planes pl
      WHERE (e.embedding IS NOT NULL AND len(list_filter(e.embedding, x -> x IS NULL OR NOT (abs(x) < 1e12))) = 0)
      GROUP BY e.vec_id
    ),
    -- MATERIALIZED: the multiprobe unnest downstream makes DuckDB
    -- evaluate list_dot_product eagerly across pre-filter rows (even a
    -- CASE guard doesn't help — the vectorized THEN branch runs on the
    -- whole vector); materializing the null-free CTE fences the kernel
    be AS MATERIALIZED (SELECT b.vec_id, b.bucket, e.embedding
           FROM b JOIN embeddings e USING (vec_id)
           WHERE (e.embedding IS NOT NULL AND len(list_filter(e.embedding, x -> x IS NULL OR NOT (abs(x) < 1e12))) = 0)),
    bn AS (SELECT bucket, count(*) AS cnt FROM be GROUP BY 1)
    """


@op(
    "sim_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT embedding AS q_emb FROM embeddings
               WHERE vec_id = 0 AND (embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR NOT (abs(x) < 1e12))) = 0))
    SELECT vec_id,
           round({DUCK_COS.format(a="embedding", b="q_emb")}, 6) AS cos_sim
    FROM embeddings CROSS JOIN q
    WHERE (embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR NOT (abs(x) < 1e12))) = 0)
    ORDER BY {DUCK_COS.format(a="embedding", b="q_emb")} DESC, vec_id
    LIMIT 10
    """,
    tags=("similarity", "bench"),
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 vs the vec_id=0 query vector (BASELINE B8).
    Query side broadcast; scan side never shuffles — at 100 TB this is one
    pass + a TakeOrdered.

    KERNEL-DISPATCHED since round 12 (PLANS.md "Round-12: q8-exact"):
    past ~50 k
    vectors the op answers via the mapInArrow gemm kernel
    (sim_cosine_topk_arrow's plan) — x10 0.20 vs 0.33 s, x200 0.49 vs
    1.51 s, x800 1.17 vs 2.90 s (ratio vs DuckDB 7.1x → 2.9x); below
    the knee the JVM kernels win (x1: 0.13 vs 0.19 s — the Python
    worker roundtrip doesn't amortize) and the HOF-fold plan stays.
    The r12 verdict's all-cells-gemm-through-the-IVF-index lever was
    measured and REJECTED: 2.74 s at x800 vs the raw-parquet arrow
    kernel's 1.17 s — per-query driver-side cell ranking plus the
    1264-value isin pushdown cost more than the zstd cells layout
    saves when every cell is probed anyway (PLANS.md round-12).

    PACKED-LAYOUT since the round-12 optimization session
    (OPTIMIZATION_r12.md q8_cosine_topk): the arrow kernel was decomposed
    as 100 %
    Arrow-transfer-bound (a mapInArrow pass-through costs the full
    kernel's wall at x800; the gemm adds ~nothing), so past the same
    knee the dispatch now reads the ingest-time packed float32-binary
    layout (sim_cosine_topk_packed_ingest — one memcpy per row across
    the JVM→Python boundary instead of one copy per list element):
    x200 0.45 → 0.31 s (ratio vs DuckDB 1.29x → 0.87x WIN), x800
    1.01 → 0.44 s (2.78x → 1.21x), x10 tie at the job floor; cosines
    bit-identical (float32 bits round-trip the pack). Same oracle all
    paths; dispatch count from parquet footers."""
    from aced_etl_pod_spark.tables import (
        load_validated_embeddings,
        table_row_count,
    )

    if table_row_count(sf_dir, "embeddings") >= _ARROW_COSINE_MIN_VECS:
        return sim_cosine_topk_packed_ingest(spark, sf_dir)
    emb = load_validated_embeddings(spark, sf_dir)  # ingest-validated (r8)
    q = emb.filter(F.col("vec_id") == 0)
    topk = brute_force_topk(emb, q, k=10)
    return topk.select("vec_id", F.round("cos_sim", 6).alias("cos_sim"))


#: x1 (8 k vectors): arrow 1.4x slower (worker roundtrip); x10 (80 k):
#: 1.6x faster — 50 k splits the bracket (PLANS.md "Round-12: q8-exact").
_ARROW_COSINE_MIN_VECS = 50_000


@op(
    "sim_cosine_topk_fast",
    oracle=f"""
    WITH q AS (SELECT embedding AS q_emb FROM embeddings
               WHERE vec_id = 0 AND (embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR NOT (abs(x) < 1e12))) = 0))
    SELECT vec_id,
           round({DUCK_COS.format(a="embedding", b="q_emb")}, 6) AS cos_sim
    FROM embeddings CROSS JOIN q
    WHERE (embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR NOT (abs(x) < 1e12))) = 0)
    ORDER BY {DUCK_COS.format(a="embedding", b="q_emb")} DESC, vec_id
    LIMIT 10
    """,
    tags=("similarity", "bench", "extra"),
)
def sim_cosine_topk_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same query as sim_cosine_topk, with the codegen-unrolled kernel
    (BASELINE B8 bench path). Identical plan shape — ONE scan, zero
    shuffles, zero extra jobs (the query vector is inlined as literals, so
    no broadcast-build job), TakeOrdered — and the dot product is straight-
    line codegen arithmetic instead of an interpreted HOF fold. Sequential
    addition order ⇒ bit-identical to the fold, hash-matches the same
    oracle. (For high-dim embeddings the Arrow/numpy ``brute_force_topk_
    fast`` kernel is the scale path; at dim 64 the unrolled form wins.)"""
    from aced_etl_pod_spark.tables import load_validated_embeddings

    # ingest-validated corpus (r8 guard A/B: the per-query finite_vec
    # guard costs +17% of this kernel at 400 k rows; validating once at
    # ingest makes every exact/ANN query inherit clean vectors for free)
    emb = load_validated_embeddings(spark, sf_dir)
    q = emb.filter(F.col("vec_id") == 0)
    topk = brute_force_topk_unrolled(emb, q, k=10)
    return topk.select("vec_id", F.round("cos_sim", 6).alias("cos_sim"))


@op(
    "sim_cosine_topk_arrow",
    oracle=f"""
    WITH q AS (SELECT embedding AS q_emb FROM embeddings
               WHERE vec_id = 0 AND (embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR NOT (abs(x) < 1e12))) = 0))
    SELECT vec_id,
           round({DUCK_COS.format(a="embedding", b="q_emb")}, 6) AS cos_sim
    FROM embeddings CROSS JOIN q
    WHERE (embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR NOT (abs(x) < 1e12))) = 0)
    ORDER BY {DUCK_COS.format(a="embedding", b="q_emb")} DESC, vec_id
    LIMIT 10
    """,
    tags=("similarity", "extra"),
)
def sim_cosine_topk_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same query as sim_cosine_topk via the mapInArrow kernel
    (functions/similarity.py::brute_force_topk_arrow): zero-object-
    assembly flatten of the list column, one float64 gemm per Arrow
    batch, per-batch argpartition top-k so only k rows per batch reach
    the JVM TakeOrdered. The measured-best exact PYTHON kernel
    (0.31 µs/row asymptote vs pandas-UDF 0.38; both are Arrow-transfer-
    bound against DuckDB's 0.105 fused native — the indexed
    ivf_index_probe path is the scale answer, this is the strongest
    honest exact baseline). float64 compute ⇒ agrees with the fold
    kernels at 6 dp, hash-matches the same oracle."""
    from aced_etl_pod_spark.functions.similarity import brute_force_topk_arrow

    from aced_etl_pod_spark.tables import load_validated_embeddings

    emb = load_validated_embeddings(spark, sf_dir)  # ingest-validated (r8)
    q = emb.filter(F.col("vec_id") == 0)
    topk = brute_force_topk_arrow(emb, q, k=10)
    return topk.select("vec_id", F.round("cos_sim", 6).alias("cos_sim"))


@op(
    "sim_cosine_topk_packed_ingest",
    oracle=f"""
    WITH q AS (SELECT embedding AS q_emb FROM embeddings
               WHERE vec_id = 0 AND (embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR NOT (abs(x) < 1e12))) = 0))
    SELECT vec_id,
           round({DUCK_COS.format(a="embedding", b="q_emb")}, 6) AS cos_sim
    FROM embeddings CROSS JOIN q
    WHERE (embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR NOT (abs(x) < 1e12))) = 0)
    ORDER BY {DUCK_COS.format(a="embedding", b="q_emb")} DESC, vec_id
    LIMIT 10
    """,
    tags=("similarity", "ingest", "scale", "extra"),
)
def sim_cosine_topk_packed_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same query as sim_cosine_topk via the PACKED-layout gemm kernel
    (round-12 optimization session 2): the exact scan was measured 100 %
    Arrow-TRANSFER-bound at x800 (a mapInArrow pass-through over the
    list column costs the full kernel's wall; the gemm adds ~nothing),
    so the one remaining lever was to make the bytes cross the boundary
    cheaper — tables.load_packed_embeddings rewrites each vector at
    ingest as a single little-endian float32 binary cell, which the JVM
    converts to Arrow with one memcpy per ROW instead of one copy per
    ELEMENT (pass-through 1.41 → 0.51 s on 6.4 M dim-64 vectors).
    float32 bits round-trip the pack exactly ⇒ cosines are bit-identical
    to the list-column kernels; the oracle recomputes from the BASE
    embeddings table, so the driver hash check proves the packed layout
    changes nothing semantically. The query vector still comes from the
    validated list-column copy (it is a query parameter, not corpus)."""
    from aced_etl_pod_spark.functions.similarity import (
        brute_force_topk_packed,
    )
    from aced_etl_pod_spark.tables import (
        load_packed_embeddings,
        load_validated_embeddings,
    )

    packed = load_packed_embeddings(spark, sf_dir)
    q = load_validated_embeddings(spark, sf_dir).filter(F.col("vec_id") == 0)
    topk = brute_force_topk_packed(packed, q, k=10)
    return topk.select("vec_id", F.round("cos_sim", 6).alias("cos_sim"))


@op(
    "sim_knn_all_pairs_topk",
    oracle=f"""
    WITH pairs AS (
      SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id, a.label AS label,
             {DUCK_COS.format(a="a.embedding", b="b.embedding")} AS cos
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id <> b.vec_id
    ), ranked AS (
      SELECT vec_id, nbr_id, label, cos,
             row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr_id) AS rk
      FROM pairs
    )
    SELECT vec_id, nbr_id, CAST(label AS BIGINT) AS label,
           CAST(rk AS BIGINT) AS rk, round(cos, 6) AS cos_sim
    FROM ranked WHERE rk <= 3
    """,
    tags=("similarity",),
)
def sim_knn_all_pairs_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector k-NN (k=3) within each label group: group-bounded join +
    window top-k — the shuffle is on label, never a global cross join.

    SALT-GRID DISPATCH since round 13 (guide §2.5 — the label domain is
    small by construction, 10 values on this corpus, so past the
    corpus-size knee every label is a hot join key and the whole
    quadratic enumeration lands on ≤ n_labels tasks): the salted variant
    spreads each label over k_salt² deterministic (salt_a, salt_b) cells
    and recovers the EXACT global top-3 from per-cell partial top-3s
    (any total order's top-k is contained in the union of its cells'
    top-k). Below the knee the plain plan is unchanged; results are
    identical on every path (asserted across plain/salted + oracle in
    tools/hotblock_ladder.py)."""
    import math

    from aced_etl_pod_spark.tables import table_row_count

    n = table_row_count(sf_dir, "embeddings")
    if n >= _KNN_SALT_MIN_VECS:
        k_salt = min(32, max(2, math.ceil(math.sqrt(n / 10_000))))
        return _knn_all_pairs_salted(spark, sf_dir, k_salt)
    return _knn_all_pairs_plain(spark, sf_dir)


def _knn_all_pairs_plain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The undispatched per-label all-pairs plan (the below-knee
    regime)."""
    emb = load(spark, sf_dir, "embeddings")
    a = emb.select(
        F.col("vec_id").alias("vec_id"), F.col("label"), F.col("embedding").alias("emb_a")
    )
    b = emb.select(
        F.col("vec_id").alias("nbr_id"), F.col("label"), F.col("embedding").alias("emb_b")
    )
    pairs = (
        a.join(b, "label")
        .filter(F.col("vec_id") != F.col("nbr_id"))
        .withColumn("cos", cosine_expr("emb_a", "emb_b"))
    )
    w = W.partitionBy("vec_id").orderBy(F.desc("cos"), "nbr_id")
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "vec_id",
            "nbr_id",
            F.col("label").cast("long").alias("label"),
            F.col("rk").cast("long").alias("rk"),
            F.round("cos", 6).alias("cos_sim"),
        )
    )


# Salt-grid knee/width: below 50 k vectors the plain plan is at the job
# floor (same knee family as _ARROW_COSINE_MIN_VECS); past it, k_salt ≈
# sqrt(n / 10k) bounds a hot label of size L to (L/k_salt)² pairs per
# cell at a replication cost of k_salt× on ONE side (§2.5: salt the key,
# explode one side k ways).
_KNN_SALT_MIN_VECS = 50_000


def _knn_all_pairs_salted(
    spark: SparkSession, sf_dir: str, k_salt: int
) -> DataFrame:
    """sim_knn_all_pairs_topk's skew-hardened plan: deterministic salt
    s(v) = pmod(xxhash64(vec_id), k_salt) on the neighbor side; the
    query side replicates k_salt ways so each ORDERED pair (a, b) meets
    exactly once, in cell (label, s(b)). Per-cell partial top-3 rides
    the join's own (label, sb) hash partitioning (window partition keys
    are a superset → no extra exchange of the n² pair rows); only ≤
    3·k_salt candidate rows per vector cross the final vec_id exchange.
    Norms are computed once per ROW before the join (sqrt(dot(x,x)) per
    row, not per pair) — the same doubles the per-pair expression would
    produce, so cosines are bit-identical to the plain plan."""
    emb = load(spark, sf_dir, "embeddings")
    from aced_etl_pod_spark.functions.similarity import dot_expr

    salt = F.pmod(F.xxhash64(F.col("vec_id")), F.lit(k_salt)).cast("int")
    a = (
        emb.select(
            F.col("vec_id").alias("vec_id"),
            F.col("label"),
            F.col("embedding").alias("emb_a"),
        )
        .withColumn("na", F.sqrt(dot_expr("emb_a", "emb_a")))
        .crossJoin(
            spark.range(k_salt).select(F.col("id").cast("int").alias("sb"))
        )
    )
    b = emb.select(
        F.col("vec_id").alias("nbr_id"),
        F.col("label"),
        F.col("embedding").alias("emb_b"),
    ).withColumn(
        "sb", F.pmod(F.xxhash64(F.col("nbr_id")), F.lit(k_salt)).cast("int")
    ).withColumn("nb", F.sqrt(dot_expr("emb_b", "emb_b")))
    pairs = (
        a.join(b, ["label", "sb"])
        .filter(F.col("vec_id") != F.col("nbr_id"))
        .withColumn(
            "cos", dot_expr("emb_a", "emb_b") / (F.col("na") * F.col("nb"))
        )
    )
    w_cell = W.partitionBy("label", "sb", "vec_id").orderBy(
        F.desc("cos"), "nbr_id"
    )
    cand = (
        pairs.withColumn("rk1", F.row_number().over(w_cell))
        .filter(F.col("rk1") <= 3)
        .select("vec_id", "nbr_id", "label", "cos")
    )
    w = W.partitionBy("vec_id").orderBy(F.desc("cos"), "nbr_id")
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "vec_id",
            "nbr_id",
            F.col("label").cast("long").alias("label"),
            F.col("rk").cast("long").alias("rk"),
            F.round("cos", 6).alias("cos_sim"),
        )
    )


@op(
    "dedup_embedding_cosine",
    oracle=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({DUCK_COS.format(a="a.embedding", b="b.embedding")}, 6) AS cos_sim
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {DUCK_COS.format(a="a.embedding", b="b.embedding")} >= 0.3
    """,
    tags=("similarity", "dedup", "extra"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within a label group
    (cos ≥ 0.3 on this synthetic data; production would use ~0.95+ and the
    LSH bucketing below for candidate generation)."""
    emb = load(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("id_a"), "label", F.col("embedding").alias("emb_a"))
    b = emb.select(F.col("vec_id").alias("id_b"), "label", F.col("embedding").alias("emb_b"))
    pairs = a.join(b, "label").filter(F.col("id_a") < F.col("id_b"))
    cos = cosine_expr("emb_a", "emb_b")
    return (
        pairs.withColumn("cos_sim", F.round(cos, 6))
        .filter(cos >= 0.3)
        .select("id_a", "id_b", "cos_sim")
    )


# Full oracle since round 6: sign-LSH is pseudo-random, not random — the
# planes derive from sha256 and the bucket bits from the portable double
# fold, so DuckDB replays the ENTIRE index build (planes → buckets →
# mega-bucket cap → in-bucket exact re-rank) bit-for-bit. The recall
# tests in tests/test_similarity.py remain the semantic gate; this hash
# gate pins the implementation.
SIM_ANN_LSH_TOPK_ORACLE = f"""
    WITH
    {_duck_lsh_buckets(64)},
    keep AS (SELECT be.* FROM be JOIN bn USING (bucket)
             WHERE bn.cnt <= {16 * 64}),
    pairs AS (
      SELECT x.vec_id, y.vec_id AS nbr_id,
             {DUCK_COS.format(a='x.embedding', b='y.embedding')} AS cos
      FROM keep x JOIN keep y USING (bucket)
      WHERE x.vec_id != y.vec_id
    ),
    rk AS (
      SELECT vec_id, nbr_id, cos,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cos DESC, nbr_id) AS rk
      FROM pairs
    )
    SELECT vec_id, nbr_id, round(cos, 6) AS cos_sim FROM rk WHERE rk <= 3
"""


@op("sim_ann_lsh_topk", oracle=SIM_ANN_LSH_TOPK_ORACLE,
    tags=("similarity", "approx", "extra"))
def sim_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via sign-LSH bucketing (the 100 TB scale path), now
    scale-parameterized: plane count derived from the corpus size so
    expected bucket occupancy stays ~64 at any n (2k vectors → 5 planes;
    2B vectors → 24 planes / 16M buckets), and buckets wider than
    16×target are dropped before the self-join — the same degenerate-key
    cap as minhash_band_candidates. Candidates = same-bucket vectors;
    exact cosine re-rank inside buckets; top-3 per query vector.
    Full hash oracle (SIM_ANN_LSH_TOPK_ORACLE replays the index build);
    recall vs brute force and the bucket-width bound at synthetic 100× n
    asserted in tests/test_similarity.py."""
    emb = load(spark, sf_dir, "embeddings").filter(
        finite_vec(F.col("embedding"))
    )
    return ann_lsh_topk(emb, k=3, target_bucket=64)


# Full oracle by fixture regeneration from first principles (the
# feature_embed_topk trick): blob i IS sha256('blob-i') × 4, so DuckDB
# rebuilds every byte from its own sha256() hex and re-derives length,
# digest, byte stats and feature0 without touching the blob dir. The
# content digest is taken over the lowercase-hex rendering of the bytes
# (not the raw BLOB) because DuckDB 1.0's sha256() only accepts VARCHAR —
# still content-addressed, now cross-engine recomputable.
MULTIMODAL_BINARY_META_ORACLE = """
    WITH ids AS (SELECT unnest(generate_series(0, 63)) AS blob_id),
    h AS (SELECT blob_id, sha256('blob-' || blob_id) AS hex FROM ids),
    b AS (SELECT blob_id, hex,
            list_transform(generate_series(0, 31),
              j -> CAST('0x' || substr(hex, 2*j + 1, 2) AS INTEGER)) AS bytes
          FROM h)
    SELECT blob_id,
           CAST(128 AS BIGINT) AS length,
           sha256(repeat(hex, 4)) AS digest,
           CAST(128 AS BIGINT) AS n_bytes,
           round(CAST(list_sum(bytes) * 4 AS DOUBLE) / 128, 4) AS byte_mean,
           CAST(bytes[1] AS DOUBLE) / 255.0 AS feature0
    FROM b
"""


@op("multimodal_binary_meta", oracle=MULTIMODAL_BINARY_META_ORACLE,
    tags=("multimodal",))
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary/file column + typed metadata + stubbed decode (north star
    multimodal plumbing; blob channel anchor fhir_import_export.py:148-180,
    :344-352). Generates a deterministic blob fixture, scans it as
    ``binaryFile`` rows, extracts path metadata JVM-side, then runs the
    Arrow-batched decode stub (mapInPandas). Full oracle since round 6:
    the DuckDB side regenerates the fixture bytes from its own sha256()
    (see MULTIMODAL_BINARY_META_ORACLE) — the blob dir itself never needs
    a view. The digest is hex-domain (sha256 of the lowercase hex of the
    content) so both engines can compute it."""
    src = generate_blob_fixture(n=64)
    blobs = read_binary(spark, src)
    meta = blobs.select(
        F.regexp_extract(F.col("path"), r"img_(\d+)\.bin", 1).cast("long").alias("blob_id"),
        "length",
        F.sha2(F.lower(F.hex("content")), 256).alias("digest"),
        "path",
        "content",
    )
    decoded = decode_stub(meta.select("path", "length", "content"))
    joined = meta.select("blob_id", "length", "digest", "path").join(
        decoded.select("path", "n_bytes", F.round("byte_mean", 4).alias("byte_mean"), "feature0"),
        "path",
    )
    return joined.select("blob_id", "length", "digest", "n_bytes", "byte_mean", "feature0")


# Full fixture-regeneration oracle (round 6): the video fixture's pixels
# are closed-form integer functions of (blob, frame, x, y), so DuckDB
# rebuilds every sampled frame — geometry, pixel mean (the op's exact
# float order: (mean_r + mean_g + mean_b) / 3), and the hex-domain digest
# of the canonical P6 re-encode (header 'P6\n8 6\n255\n' + row-major RGB
# raster) — from first principles. The torn blob (15) decodes a 5-frame
# prefix, so its sampled frames 0/2/4 are identical to the clean formula
# rows and its quarantine row is pinned literally: frame 5's header sits
# at offset 5·155 = 775 and only 74 of its 144 raster bytes survive the
# 70-byte tear. Only the binaryFile I/O itself has no DuckDB analog.
MULTIMODAL_FRAME_SAMPLE_ORACLE = """
    WITH px AS (
      SELECT i, t, y, x,
             (x*5 + t*31 + i*7) % 256 AS r,
             (y*9 + t*13 + i*3) % 256 AS g,
             (x + y + t + i) % 256 AS b
      FROM (SELECT unnest(generate_series(0, 15)) AS i) ii
      CROSS JOIN (SELECT unnest([0, 2, 4]) AS t) tt
      CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS y) yy
      CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS x) xx
    ),
    fr AS (
      SELECT i, t, sum(r) AS sr, sum(g) AS sg, sum(b) AS sb,
             string_agg(printf('%02x%02x%02x', r, g, b), ''
                        ORDER BY y, x) AS raster_hex
      FROM px GROUP BY 1, 2
    )
    SELECT CAST(i AS BIGINT) AS blob_id, CAST(t AS BIGINT) AS frame_idx,
           CAST(8 AS INTEGER) AS width, CAST(6 AS INTEGER) AS height,
           round((sr/48.0 + sg/48.0 + sb/48.0) / 3.0, 4) AS frame_mean,
           sha256('50360a3820360a3235350a' || raster_hex) AS frame_digest,
           CAST(NULL AS VARCHAR) AS decode_error
    FROM fr
    UNION ALL
    SELECT 15, -1, NULL, NULL, NULL, NULL,
           'torn frame at offset 775: 74/144'
"""


@op("multimodal_frame_sample", oracle=MULTIMODAL_FRAME_SAMPLE_ORACLE,
    tags=("multimodal", "extra"))
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-style frame sampling: each blob is a genuine
    concatenated-P6 (Netpbm multi-image) stream; the mapInPandas stage
    parses every frame header + raster (functions/imagecodec.py), keeps
    every 2nd decoded frame, and emits geometry, pixel mean, and the
    digest of the canonical re-encode — 1→N Arrow row explosion with
    frame-level quarantine (the torn last blob yields its decodable
    prefix plus a decode_error row instead of killing the scan).
    Rows-checked; exact frame counts, pixel math vs local NumPy decode,
    and quarantine behavior asserted in tests/test_multimodal.py."""
    from aced_etl_pod_spark.sources.binary import (
        generate_ppm_video_fixture,
        sample_ppm_frames,
    )

    src = generate_ppm_video_fixture(n=16, frames=6, sub="multimodal_frames_ppm")
    blobs = read_binary(spark, src, glob="*.ppm")
    frames = sample_ppm_frames(blobs.select("path", "content"), every_n=2)
    return frames.select(
        F.regexp_extract("path", r"vid_(\d+)\.ppm", 1).cast("long").alias("blob_id"),
        "frame_idx",
        "width",
        "height",
        F.round("frame_mean", 4).alias("frame_mean"),
        "frame_digest",
        "decode_error",
    )


# Channel formulas of the PPM fixture (sources/binary.py::
# generate_ppm_fixture), parameterized on pixel coordinates so the
# bilinear corners substitute directly.
_PPM_R_F = "({x}*7 + i*13) % 256"
_PPM_G_F = "({y}*11 + i*29) % 256"
_PPM_B_F = "({x}*3 + {y}*5 + i) % 256"


def _duck_bilinear(formula: str) -> str:
    """SQL for one resized output channel, replaying resize_bilinear
    (functions/imagecodec.py) with the IDENTICAL float-op order — corner
    lookups are the closed-form fixture formulas, weights come from the
    surrounding CTE (y0/y1/x0/x1/wy/wx), and the final floor(·+0.5)+clamp
    matches the uint8 conversion bit-for-bit (every step is an exactly-
    specified IEEE double op, so same order ⇒ same bits)."""

    def v(yv: str, xv: str) -> str:
        return f"CAST(({formula.format(y=yv, x=xv)}) AS DOUBLE)"

    top = f"({v('y0', 'x0')} * (1 - wx) + {v('y0', 'x1')} * wx)"
    bot = f"({v('y1', 'x0')} * (1 - wx) + {v('y1', 'x1')} * wx)"
    return (
        f"CAST(least(greatest(floor({top} * (1 - wy) + {bot} * wy + 0.5),"
        f" 0), 255) AS BIGINT)"
    )


# Full fixture-regeneration oracle (round 6): blob i is a closed-form
# (16+i)×(12+i) integer-gradient PPM, so DuckDB replays decode geometry,
# the mean_r channel mean, the ENTIRE bilinear 8×8 resample (see
# _duck_bilinear), the canonical re-encode ('P6\n8 8\n255\n' + row-major
# RGB raster, 203 bytes), and its hex-domain sha256 digest. The corrupt
# blob (23: header kept, file halved → 2041 of 4095 raster bytes) is
# pinned as the literal quarantine row.
MULTIMODAL_RESIZE_ORACLE = f"""
    WITH dims AS (
      SELECT i, 12 + i AS h, 16 + i AS w
      FROM (SELECT unnest(generate_series(0, 22)) AS i)
    ),
    grid AS (
      SELECT i, h, w, oy, ox,
             (oy + 0.5) * (h / 8.0) - 0.5 AS sy,
             (ox + 0.5) * (w / 8.0) - 0.5 AS sx
      FROM dims
      CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS oy)
      CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS ox)
    ),
    coords AS (
      SELECT *,
             CAST(least(greatest(floor(sy), 0), h - 1) AS BIGINT) AS y0,
             CAST(least(greatest(floor(sx), 0), w - 1) AS BIGINT) AS x0
      FROM grid
    ),
    weights AS (
      SELECT *, least(y0 + 1, h - 1) AS y1, least(x0 + 1, w - 1) AS x1,
             least(greatest(sy - y0, 0.0), 1.0) AS wy,
             least(greatest(sx - x0, 0.0), 1.0) AS wx
      FROM coords
    ),
    outs AS (
      SELECT i, oy, ox,
             {_duck_bilinear(_PPM_R_F)} AS r,
             {_duck_bilinear(_PPM_G_F)} AS g,
             {_duck_bilinear(_PPM_B_F)} AS b
      FROM weights
    ),
    thumbs AS (
      SELECT i, string_agg(printf('%02x%02x%02x', r, g, b), ''
                           ORDER BY oy, ox) AS raster_hex
      FROM outs GROUP BY i
    ),
    means AS (
      SELECT d.i, sum(({_PPM_R_F.format(x='x', y='y')})) AS sr,
             any_value(d.h * d.w) AS npx
      FROM dims d,
           LATERAL (SELECT unnest(generate_series(0, d.h - 1)) AS y) ys,
           LATERAL (SELECT unnest(generate_series(0, d.w - 1)) AS x) xs
      GROUP BY d.i
    )
    SELECT CAST(d.i AS BIGINT) AS blob_id,
           CAST(d.w AS INTEGER) AS width, CAST(d.h AS INTEGER) AS height,
           round(CAST(m.sr AS DOUBLE) / m.npx, 4) AS mean_r,
           sha256('50360a3820380a3235350a' || t.raster_hex) AS thumb_digest,
           CAST(203 AS BIGINT) AS thumb_len,
           CAST(NULL AS VARCHAR) AS decode_error
    FROM dims d JOIN thumbs t ON t.i = d.i JOIN means m ON m.i = d.i
    UNION ALL
    SELECT 23, NULL, NULL, NULL, NULL, NULL,
           'short PPM raster: 2041 < 4095'
"""


@op("multimodal_resize", oracle=MULTIMODAL_RESIZE_ORACLE,
    tags=("multimodal", "extra"))
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode + resize: the fixture is genuine PPM (P6) files,
    and the mapInPandas stage parses the Netpbm header, reshapes the raster
    to (H,W,3), bilinear-resamples to 8×8, and re-encodes — an actual codec
    (functions/imagecodec.py), not a byte stride. One deliberately corrupt
    blob exercises the per-record quarantine (``decode_error`` populated,
    metrics NULL) so a single bad file can't kill a large blob scan.
    Rows-checked (no DuckDB view over a blob dir); decode exactness,
    resize math, and thumbnail byte-determinism asserted in
    tests/test_multimodal.py."""
    from aced_etl_pod_spark.sources.binary import decode_resize_ppm, generate_ppm_fixture

    src = generate_ppm_fixture(n=24, sub="multimodal_resize_ppm")
    blobs = read_binary(spark, src, glob="*.ppm")
    thumbs = decode_resize_ppm(blobs.select("path", "content"), out_h=8, out_w=8)
    return thumbs.select(
        F.regexp_extract("path", r"img_(\d+)\.ppm", 1).cast("long").alias("blob_id"),
        "width",
        "height",
        F.round("mean_r", 4).alias("mean_r"),
        # hex-domain digest (sha256 of the lowercase-hex thumb bytes):
        # DuckDB sha256() only takes VARCHAR, so this keeps the digest
        # replayable by MULTIMODAL_RESIZE_ORACLE (the WAV/frame pattern).
        F.sha2(F.lower(F.hex("thumb")), 256).alias("thumb_digest"),
        "thumb_len",
        "decode_error",
    )


@op(
    "multimodal_feature_embed_topk",
    # Full first-principles oracle (round 6, VERDICT r5 item 5 — upgraded
    # from rows-only): the blob fixture is sha256(f"blob-{i}") * 4, and the
    # feature is the L1-normalized high-nibble histogram — so the high
    # nibble of byte j is exactly hex char 2j of DuckDB's own sha256()
    # hex digest, and the ×4 repetition scales every count by 4 (cancels
    # in the normalization: count/32 == 4·count/128). DuckDB therefore
    # recomputes fixture bytes, features, cosine, and the top-5 ranking
    # from scratch, sharing zero runtime artifacts with the Spark side;
    # only the binaryFile I/O itself has no DuckDB analog.
    oracle="""
    WITH blobs AS (
      SELECT i AS blob_id, sha256('blob-' || i) AS hx
      FROM generate_series(0, 31) AS t(i)
    ),
    nib AS (
      SELECT b.blob_id, v.v AS bin,
             (SELECT count(*) FROM generate_series(0, 31) AS p(p)
                WHERE substr(b.hx, p.p * 2 + 1, 1)
                      = substr('0123456789abcdef', v.v + 1, 1)) AS c
      FROM blobs b, generate_series(0, 15) AS v(v)
    ),
    feat AS (SELECT blob_id, bin, c / 32.0 AS f FROM nib),
    q AS (SELECT bin, f AS qf FROM feat WHERE blob_id = 0),
    sc AS (
      SELECT f.blob_id,
             round(sum(f.f * q.qf)
                   / (sqrt(sum(f.f * f.f)) * sqrt(sum(q.qf * q.qf))), 6)
               AS cos_sim
      FROM feat f JOIN q USING (bin)
      WHERE f.blob_id <> 0
      GROUP BY f.blob_id
    )
    SELECT blob_id, cos_sim FROM sc ORDER BY cos_sim DESC, blob_id LIMIT 5
    """,
    tags=("multimodal", "similarity", "extra"),
)
def multimodal_feature_embed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal → embedding → similarity composition: binaryFile scan
    → Arrow-batched feature extraction (16-bin byte-nibble histogram, the
    deterministic stand-in for a CNN/CLIP encoder — sources/binary.py::
    feature_extract_stub) → cosine top-5 against blob 0's features,
    entirely JVM-side after the one Python stage. Full-oracle since round
    6: DuckDB regenerates the deterministic fixture (its own sha256) and
    recomputes features + cosine + ranking from first principles — see the
    oracle comment. Feature normalization, determinism, and neighbor
    ordering additionally asserted in tests/test_multimodal.py.

    Plan shape at 100 TB: the extractor is the only Python stage (Arrow
    batches, vectorized numpy), the query vector broadcasts as literals,
    and the ranking is one TakeOrdered pass — the same zero-shuffle shape
    as sim_cosine_topk_fast."""
    from aced_etl_pod_spark.sources.binary import feature_extract_stub

    src = generate_blob_fixture(n=32, sub="multimodal_embed")
    blobs = read_binary(spark, src)
    feats = feature_extract_stub(blobs.select("path", "content"))
    ids = feats.select(
        F.regexp_extract("path", r"img_(\d+)\.bin", 1).cast("long").alias("blob_id"),
        "features",
    )
    q = ids.filter(F.col("blob_id") == 0).select(
        F.col("features").alias("q_features")
    )
    scored = ids.filter(F.col("blob_id") != 0).crossJoin(F.broadcast(q)).select(
        "blob_id",
        F.round(
            F.expr(
                "aggregate(zip_with(features, q_features, (a, b) -> a * b),"
                " 0D, (acc, x) -> acc + x)"
            )
            / (
                F.sqrt(
                    F.expr(
                        "aggregate(features, 0D, (acc, x) -> acc + x * x)"
                    )
                )
                * F.sqrt(
                    F.expr(
                        "aggregate(q_features, 0D, (acc, x) -> acc + x * x)"
                    )
                )
            ),
            6,
        ).alias("cos_sim"),
    )
    return scored.orderBy(F.desc("cos_sim"), "blob_id").limit(5)


def _pq_books_and_query(spark: SparkSession, sf_dir: str):
    """Shared PQ setup: deterministic training sample (lowest 512 vec_ids
    — a bounded driver-side collect, the standard codebook-training split:
    O(sample) cost regardless of corpus size) and the vec_id-0 query."""
    import numpy as np

    from aced_etl_pod_spark.functions.pq import train_codebooks

    # null-vector contract: codebook training and encoding operate on the
    # non-null embeddings (duck_pq_sample_ctes mirrors the filter)
    emb = load(spark, sf_dir, "embeddings").filter(
        finite_vec(F.col("embedding"))
    )
    sample_rows = (
        emb.orderBy("vec_id").limit(512).select("embedding").collect()
    )
    if not sample_rows:  # empty corpus: no codebooks to train, no query
        return emb, None, None
    sample = np.stack([np.asarray(r["embedding"]) for r in sample_rows])
    books = train_codebooks(sample.astype(np.float64), m=8, k=16, iters=10)
    # query contract: pinned to vec_id 0; a NULL query embedding means no
    # query (consumers return empty, oracles' q CTE is empty too)
    q_row = emb.filter(F.col("vec_id") == 0).select("embedding").head()
    q = (
        np.asarray(q_row["embedding"], dtype=np.float64)
        if q_row is not None
        else None
    )
    return emb, books, q


# Full oracle since round 6: with the kernels' float reductions pinned to
# left-to-right folds (functions/pq.py::_ordered_sum), the ENTIRE PQ
# pipeline — Lloyd codebook training included — replays as a DuckDB
# recursive CTE (duck_kmeans_ctes) + list_reduce folds, bit-for-bit.
def _pq_codes_oracle() -> str:
    from aced_etl_pod_spark.functions.pq import (
        DUCK_SQDIST,
        duck_kmeans_ctes,
        duck_pq_sample_ctes,
    )

    m, k, d, iters = 8, 16, 64, 10
    ds = d // m
    return f"""
    WITH RECURSIVE
    {duck_pq_sample_ctes(m, ds)},
    {duck_kmeans_ctes('pq_', 'pq_samp', m, k, ds, iters)},
    pqc_vecs AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings
      WHERE (embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR NOT (abs(x) < 1e12))) = 0)
    ),
    pqc_sub AS (
      SELECT vec_id, j, x[j * {ds} + 1 : (j + 1) * {ds}] AS v
      FROM pqc_vecs
      CROSS JOIN (SELECT unnest(generate_series(0, {m - 1})) AS j)
    ),
    pqc_coded AS (
      SELECT vec_id, j, cid, cv FROM (
        SELECT s.vec_id, s.j, b.cid, b.v AS cv,
               row_number() OVER (
                 PARTITION BY s.vec_id, s.j
                 ORDER BY {DUCK_SQDIST.format(ds=ds, a='s.v', b='b.v')},
                          b.cid) AS rk
        FROM pqc_sub s JOIN pq_books b ON b.j = s.j
      ) WHERE rk = 1
    ),
    pqc_recon AS (
      SELECT vec_id,
             string_agg(printf('%02x', cid), '' ORDER BY j) AS pq_code,
             flatten(list(cv ORDER BY j)) AS r
      FROM pqc_coded GROUP BY vec_id
    )
    SELECT v.vec_id, rc.pq_code,
           round(sqrt({DUCK_SQDIST.format(ds=d, a='v.x', b='rc.r')}), 4)
             AS recon_err
    FROM pqc_vecs v JOIN pqc_recon rc ON rc.vec_id = v.vec_id
    """


EMBEDDING_PQ_CODES_ORACLE = _pq_codes_oracle()


@op("embedding_pq_codes", oracle=EMBEDDING_PQ_CODES_ORACLE,
    tags=("similarity", "llm", "approx", "extra"))
def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization compression (published FAISS/Jégou design,
    functions/pq.py): 64 float32s → 8 uint8 codes per vector (32×; m=8 subspaces of
    dim 8, k=16 centroids — empirically the best recall/size point on this
    synthetic corpus, see tests).
    Codebooks train driver-side on a bounded deterministic sample and ride
    to executors in the task closure; encoding is vectorized per Arrow
    batch; no shuffle anywhere. Full oracle since round 6: the pinned
    left-to-right folds make even the Lloyd training SQL-replayable
    (EMBEDDING_PQ_CODES_ORACLE); determinism across runs/partitionings,
    reconstruction-error bounds, and code distribution are additionally
    asserted in tests/test_similarity.py."""
    from aced_etl_pod_spark.functions.pq import pq_quantize

    emb, books, _ = _pq_books_and_query(spark, sf_dir)
    if books is None:  # empty corpus (empty-partition contract)
        return spark.createDataFrame(
            [], "vec_id long, pq_code string, recon_err double"
        )
    out = pq_quantize(emb, books)
    return out.select(
        "vec_id", "pq_code", F.round("recon_err", 4).alias("recon_err")
    ).orderBy("vec_id")


def _pq_adc_oracle() -> str:
    from aced_etl_pod_spark.functions.pq import (
        DUCK_SQDIST,
        duck_kmeans_ctes,
        duck_pq_sample_ctes,
    )

    m, k, d, iters = 8, 16, 64, 10
    ds = d // m
    return f"""
    WITH RECURSIVE
    {duck_pq_sample_ctes(m, ds)},
    {duck_kmeans_ctes('pq_', 'pq_samp', m, k, ds, iters)},
    adc_q AS (
      SELECT j, CAST(embedding[j * {ds} + 1 : (j + 1) * {ds}] AS DOUBLE[]) AS qv
      FROM (SELECT embedding FROM embeddings
            WHERE vec_id = 0 AND (embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR NOT (abs(x) < 1e12))) = 0))
      CROSS JOIN (SELECT unnest(generate_series(0, {m - 1})) AS j)
    ),
    adc_tab AS (
      SELECT b.j, b.cid,
             {DUCK_SQDIST.format(ds=ds, a='b.v', b='q.qv')} AS td
      FROM pq_books b JOIN adc_q q ON q.j = b.j
    ),
    adc_sub AS (
      SELECT vec_id, j,
             CAST(embedding[j * {ds} + 1 : (j + 1) * {ds}] AS DOUBLE[]) AS v
      FROM (SELECT vec_id, embedding FROM embeddings
            WHERE vec_id != 0 AND (embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR NOT (abs(x) < 1e12))) = 0))
      CROSS JOIN (SELECT unnest(generate_series(0, {m - 1})) AS j)
    ),
    adc_coded AS (
      SELECT vec_id, j, cid FROM (
        SELECT s.vec_id, s.j, b.cid,
               row_number() OVER (
                 PARTITION BY s.vec_id, s.j
                 ORDER BY {DUCK_SQDIST.format(ds=ds, a='s.v', b='b.v')},
                          b.cid) AS rk
        FROM adc_sub s JOIN pq_books b ON b.j = s.j
      ) WHERE rk = 1
    ),
    adc_dists AS (
      SELECT c.vec_id,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(t.td ORDER BY c.j)), (acc, x) -> acc + x) AS dist
      FROM adc_coded c JOIN adc_tab t ON t.j = c.j AND t.cid = c.cid
      GROUP BY c.vec_id
    )
    SELECT vec_id, round(dist, 6) AS adc_dist
    FROM adc_dists ORDER BY round(dist, 6), vec_id LIMIT 10
    """


SIM_ANN_PQ_ADC_TOPK_ORACLE = _pq_adc_oracle()


@op("sim_ann_pq_adc_topk", oracle=SIM_ANN_PQ_ADC_TOPK_ORACLE,
    tags=("similarity", "approx", "extra"))
def sim_ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via PQ + Asymmetric Distance Computation: the query stays exact;
    each database vector is scored by summing 8 lookup-table entries
    addressed by its PQ codes — the memory-bandwidth trick that lets one
    machine scan billions of compressed vectors. One scan, one vectorized
    Python stage, TakeOrdered top-k: zero shuffles, same plan shape as
    sim_cosine_topk_fast. Completes the ANN family (sign-LSH buckets, IVF
    probe, PQ compression — compose IVF+PQ for the full billion-scale
    recipe). Full oracle since round 6 (SIM_ANN_PQ_ADC_TOPK_ORACLE
    replays training, tables, and scoring); recall vs exact L2 asserted
    in tests."""
    from aced_etl_pod_spark.functions.pq import adc_topk

    emb, books, q = _pq_books_and_query(spark, sf_dir)
    if books is None or q is None:  # empty corpus or NULL query embedding
        return spark.createDataFrame([], "vec_id long, adc_dist double")
    return adc_topk(emb.filter(F.col("vec_id") != 0), books, q, k=10)


def _ivf_pq_oracle() -> str:
    """IVF-PQ (FAISS IVFADC) replayed end-to-end: coarse quantizer
    training (m=1 k-means over the full 64 dims), sample residuals,
    residual codebook training, query probing, per-cell ADC tables, and
    the probe-filtered scoring — every float fold left-to-right, matching
    the pinned numpy kernels."""
    from aced_etl_pod_spark.functions.pq import (
        DUCK_SQDIST,
        duck_kmeans_ctes,
        duck_pq_sample_ctes,
    )

    m, k, d, iters, n_probe = 8, 16, 64, 10, 4
    ds = d // m
    d64 = DUCK_SQDIST.format(ds=d, a="s.x", b="c.v")
    return f"""
    WITH RECURSIVE
    {duck_pq_sample_ctes(1, d, name='cq_samp')},
    {duck_kmeans_ctes('cq_', 'cq_samp', 1, k, d, iters)},
    ipq_sraw AS (
      SELECT row_number() OVER (ORDER BY vec_id) AS pos,
             CAST(embedding AS DOUBLE[]) AS x
      FROM (SELECT vec_id, embedding FROM embeddings
            WHERE (embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR NOT (abs(x) < 1e12))) = 0)
            ORDER BY vec_id LIMIT 512)
    ),
    ipq_sassign AS (
      SELECT pos, x, cv FROM (
        SELECT s.pos, s.x, c.v AS cv,
               row_number() OVER (PARTITION BY s.pos
                                  ORDER BY {d64}, c.cid) AS rk
        FROM ipq_sraw s JOIN cq_books c ON TRUE
      ) WHERE rk = 1
    ),
    rq_samp AS (
      SELECT pos, j,
             list_transform(generate_series(1, {d}),
                            t -> x[t] - cv[t])[j * {ds} + 1 : (j + 1) * {ds}]
               AS v
      FROM ipq_sassign
      CROSS JOIN (SELECT unnest(generate_series(0, {m - 1})) AS j)
    ),
    {duck_kmeans_ctes('rq_', 'rq_samp', m, k, ds, iters)},
    ipq_q AS (SELECT CAST(embedding AS DOUBLE[]) AS qx
              FROM embeddings
              WHERE vec_id = 0 AND (embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR NOT (abs(x) < 1e12))) = 0)),
    ipq_probed AS (
      SELECT cid, v AS cv FROM (
        SELECT c.cid, c.v,
               row_number() OVER (ORDER BY
                 {DUCK_SQDIST.format(ds=d, a='c.v', b='q.qx')},
                 c.cid) AS rk
        FROM cq_books c CROSS JOIN ipq_q q
      ) WHERE rk <= {n_probe}
    ),
    ipq_qres AS (
      SELECT p.cid, j,
             list_transform(generate_series(1, {d}),
                            t -> q.qx[t] - p.cv[t]
                           )[j * {ds} + 1 : (j + 1) * {ds}] AS qv
      FROM ipq_probed p CROSS JOIN ipq_q q
      CROSS JOIN (SELECT unnest(generate_series(0, {m - 1})) AS j)
    ),
    ipq_tabs AS (
      SELECT q.cid AS cell, b.j, b.cid,
             {DUCK_SQDIST.format(ds=ds, a='b.v', b='q.qv')} AS td
      FROM rq_books b JOIN ipq_qres q ON q.j = b.j
    ),
    ipq_corpus AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x
      FROM embeddings WHERE vec_id != 0 AND (embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR NOT (abs(x) < 1e12))) = 0)
    ),
    ipq_cells AS (
      SELECT vec_id, x, cell, cv FROM (
        SELECT s.vec_id, s.x, c.cid AS cell, c.v AS cv,
               row_number() OVER (PARTITION BY s.vec_id
                                  ORDER BY {d64}, c.cid) AS rk
        FROM ipq_corpus s JOIN cq_books c ON TRUE
      ) WHERE rk = 1
    ),
    ipq_kept AS (
      SELECT k2.vec_id, k2.cell,
             list_transform(generate_series(1, {d}),
                            t -> k2.x[t] - k2.cv[t]) AS r
      FROM ipq_cells k2 JOIN ipq_probed p ON p.cid = k2.cell
    ),
    ipq_coded AS (
      SELECT vec_id, cell, j, cid FROM (
        SELECT s.vec_id, s.cell, s.j, b.cid,
               row_number() OVER (
                 PARTITION BY s.vec_id, s.j
                 ORDER BY {DUCK_SQDIST.format(ds=ds, a='s.v', b='b.v')},
                          b.cid) AS rk
        FROM (SELECT vec_id, cell, j,
                     r[j * {ds} + 1 : (j + 1) * {ds}] AS v
              FROM ipq_kept
              CROSS JOIN (SELECT unnest(generate_series(0, {m - 1})) AS j)) s
        JOIN rq_books b ON b.j = s.j
      ) WHERE rk = 1
    ),
    ipq_dists AS (
      SELECT c.vec_id,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(t.td ORDER BY c.j)), (acc, x) -> acc + x) AS dist
      FROM ipq_coded c
      JOIN ipq_tabs t ON t.cell = c.cell AND t.j = c.j AND t.cid = c.cid
      GROUP BY c.vec_id
    )
    SELECT vec_id, round(dist, 6) AS adc_dist
    FROM ipq_dists ORDER BY round(dist, 6), vec_id LIMIT 10
    """


SIM_ANN_IVF_PQ_TOPK_ORACLE = _ivf_pq_oracle()


@op("sim_ann_ivf_pq_topk", oracle=SIM_ANN_IVF_PQ_TOPK_ORACLE,
    tags=("similarity", "approx", "extra"))
def sim_ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the full published billion-scale ANN recipe (FAISS IVFADC):
    a 16-cell coarse quantizer routes vectors; PQ encodes each vector's
    RESIDUAL against its cell centroid (residuals are smaller than raw
    vectors, so the same codebook budget quantizes finer); the query
    probes its 4 nearest cells and ADC-scores only those candidates with
    per-cell residual lookup tables. Everything trains driver-side on the
    bounded sample; the search is one scan + one vectorized Python stage
    + TakeOrdered, zero shuffles, and ~n_probe/C of the corpus does PQ
    work (the rest dies at a centroid argmin). Full oracle since round 6
    (SIM_ANN_IVF_PQ_TOPK_ORACLE replays the whole architecture: coarse
    training, residual codebooks, probing, per-cell tables, scoring);
    recall vs exact L2 asserted in tests/test_similarity.py."""
    import numpy as np

    from aced_etl_pod_spark.functions.pq import ivfpq_topk, train_codebooks

    emb, _, q = _pq_books_and_query(spark, sf_dir)
    if q is None:  # empty corpus (empty-partition contract)
        return spark.createDataFrame([], "vec_id long, adc_dist double")
    sample_rows = emb.orderBy("vec_id").limit(512).select("embedding").collect()
    S = np.stack([np.asarray(r["embedding"]) for r in sample_rows]).astype(np.float64)
    coarse = train_codebooks(S, m=1, k=16, iters=10)[0]
    from aced_etl_pod_spark.functions.pq import _ordered_sum

    assign = _ordered_sum(
        (S[:, None, :] - coarse[None, :, :]) ** 2, axis=2
    ).argmin(axis=1)
    books = train_codebooks(S - coarse[assign], m=8, k=16, iters=10)
    return ivfpq_topk(
        emb.filter(F.col("vec_id") != 0), coarse, books, q, k=10, n_probe=4
    )


# ---------------------------------------------------------------------------
# multimodal_audio_features (round-7 registration queue; FULL oracle since
# round 6 by fixture regeneration)
# ---------------------------------------------------------------------------

# The WAV fixture is pure integer arithmetic (triangle waves of known
# period/amplitude per clip), so DuckDB rebuilds every SAMPLE from first
# principles, re-derives the features with exact integer math, and even
# re-derives the echo digest by constructing the canonical RIFF/WAVE byte
# stream AS LOWERCASE HEX (44-byte header from printf'%08x'/'%04x'
# little-endian reassembly + per-sample two's-complement LE int16) and
# sha256-ing that hex — the digest is hex-domain on both engines because
# DuckDB's sha256() accepts only VARCHAR. The truncated clip 23 must
# surface as the exact quarantine row (RIFF size check fires first).
MULTIMODAL_AUDIO_FEATURES_ORACLE = """
    WITH params AS (
      SELECT clip_id, 200 + 40*clip_id AS n, 80 + 4*clip_id AS p,
             (80 + 4*clip_id) // 2 AS h, 1000 + 500*clip_id AS a
      FROM (SELECT unnest(generate_series(0, 22)) AS clip_id)
    ),
    s AS (
      SELECT clip_id, n, t,
             (abs((t % p) - h) * 2 * a) // h - a AS v
      FROM (SELECT clip_id, n, p, h, a,
                   unnest(generate_series(0, n - 1)) AS t
            FROM params)
    ),
    sl AS (
      SELECT clip_id, n, t, v,
             lag(v) OVER (PARTITION BY clip_id ORDER BY t) AS pv,
             substr(printf('%04x', (v + 65536) % 65536), 3, 2)
               || substr(printf('%04x', (v + 65536) % 65536), 1, 2) AS le
      FROM s
    ),
    agg AS (
      SELECT clip_id, any_value(n) AS n,
             string_agg(le, '' ORDER BY t) AS data_hex,
             CAST(sum(v * v) AS DOUBLE) AS ss,
             max(abs(v)) AS peak,
             sum(CASE WHEN pv IS NOT NULL AND ((pv >= 0) != (v >= 0))
                      THEN 1 ELSE 0 END) AS zc
      FROM sl GROUP BY clip_id
    ),
    hdr AS (
      SELECT clip_id, n, data_hex, ss, peak, zc,
             '52494646'
             || substr(printf('%08x', 36 + 2*n), 7, 2)
               || substr(printf('%08x', 36 + 2*n), 5, 2)
               || substr(printf('%08x', 36 + 2*n), 3, 2)
               || substr(printf('%08x', 36 + 2*n), 1, 2)
             || '57415645' || '666d7420'
             || '10000000' || '0100' || '0100'
             || '401f0000' || '803e0000' || '0200' || '1000'
             || '64617461'
             || substr(printf('%08x', 2*n), 7, 2)
               || substr(printf('%08x', 2*n), 5, 2)
               || substr(printf('%08x', 2*n), 3, 2)
               || substr(printf('%08x', 2*n), 1, 2)
             AS header_hex
      FROM agg
    )
    SELECT clip_id,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST(n AS BIGINT) AS n_samples,
           round(n * 1000.0 / 8000, 3) AS duration_ms,
           round(sqrt(ss / n), 4) AS rms,
           CAST(peak AS BIGINT) AS peak,
           CAST(zc AS BIGINT) AS zero_crossings,
           sha256(header_hex || data_hex) AS echo_digest,
           CAST(NULL AS VARCHAR) AS decode_error
    FROM hdr
    UNION ALL
    SELECT 23, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
           'RIFF size exceeds blob (truncated file)'
"""


@op("multimodal_audio_features", oracle=MULTIMODAL_AUDIO_FEATURES_ORACLE,
    tags=('similarity', 'extra'))
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode: the fixture is genuine RIFF/WAVE PCM-16 files
    and the mapInPandas stage runs a spec-correct chunk walker
    (functions/audiocodec.py — skips unknown chunks, honors odd-chunk
    padding), then emits exact integer clip features (duration, RMS,
    peak, zero crossings) and the digest of a canonical re-encode. The
    deliberately truncated last clip exercises the per-record quarantine
    (decode_error populated, metrics NULL). Completes the multimodal
    triad: PPM images (multimodal_resize), concatenated-P6 video frames
    (multimodal_frame_sample), and now WAV audio — every modality
    exercising a real published codec in pure NumPy.

    Scale: binaryFile scan → Arrow-batched decode, embarrassingly
    parallel, zero shuffle; features are O(1) per clip and mergeable
    downstream (the corpus-stats partials pattern)."""
    from aced_etl_pod_spark.sources.binary import (
        decode_wav_features,
        generate_wav_fixture,
        read_binary,
    )

    src = generate_wav_fixture(n=24)
    blobs = read_binary(spark, src, glob="*.wav")
    feats = decode_wav_features(blobs.select("path", "content"))
    return feats.select(
        F.regexp_extract("path", r"clip_(\d+)\.wav", 1).cast("long").alias("clip_id"),
        "sample_rate",
        "n_samples",
        "duration_ms",
        "rms",
        "peak",
        "zero_crossings",
        "echo_digest",
        "decode_error",
    ).orderBy("clip_id")


# ---------------------------------------------------------------------------
# sim_mmr_diversified_topk (round-7 registration queue; rows-only)
# ---------------------------------------------------------------------------

MMR_LAMBDA = 0.7
MMR_K = 5
_MMR_POOL = 20

# Each greedy round's argmax embeds the previously selected vectors into
# the next round's expression — not a static SQL string as a flat query,
# but a recursive CTE carrying (selected positions, pool ids, pool rels,
# pairwise sim matrix) as LIST state replays the greedy exactly: the
# pairwise sims are the same double-widened fold as the Spark kernel
# (list_dot_product over CAST DOUBLE[], cf. DUCK_COS), the argmax is
# list_position of list_max (first hit = lowest-vec_id tie-break because
# the pool lists are ordered by vec_id), and (1 - 0.7) reproduces the
# exact double the Python expression embeds. Full hash-match since r6.
SIM_MMR_DIVERSIFIED_TOPK_ORACLE = f"""
    WITH RECURSIVE
    q AS (SELECT embedding AS q_emb FROM embeddings
              WHERE vec_id = 0 AND (embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR NOT (abs(x) < 1e12))) = 0)),
    sc AS (
      SELECT vec_id, embedding,
             {DUCK_COS.format(a="embedding", b="q_emb")} AS rel
      FROM embeddings CROSS JOIN q
      WHERE vec_id != 0 AND (embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR NOT (abs(x) < 1e12))) = 0)
    ),
    pool AS (
      SELECT vec_id, embedding, rel,
             row_number() OVER (ORDER BY vec_id) AS pos
      FROM (SELECT * FROM sc ORDER BY rel DESC, vec_id LIMIT {_MMR_POOL})
    ),
    pairs AS (
      SELECT a.pos AS pa, b.pos AS pb,
             {DUCK_COS.format(a="a.embedding", b="b.embedding")} AS sim
      FROM pool a CROSS JOIN pool b
    ),
    mat AS (SELECT pa, list(sim ORDER BY pb) AS sims FROM pairs GROUP BY pa),
    state AS (
      SELECT CAST(0 AS BIGINT) AS k, []::BIGINT[] AS sel,
             CAST(NULL AS BIGINT) AS vec_id, CAST(NULL AS DOUBLE) AS relevance,
             CAST(NULL AS DOUBLE) AS mmr_score,
             (SELECT list(vec_id ORDER BY pos) FROM pool) AS ids,
             (SELECT list(rel ORDER BY pos) FROM pool) AS rels,
             (SELECT list(sims ORDER BY pa) FROM mat) AS m
      UNION ALL
      SELECT s.k + 1, list_append(s.sel, s.best),
             s.ids[CAST(s.best AS INTEGER)],
             round(s.rels[CAST(s.best AS INTEGER)], 6),
             round(s.scores[CAST(s.best AS INTEGER)], 6),
             s.ids, s.rels, s.m
      FROM (
        SELECT s2.*, list_position(s2.scores, list_max(s2.scores)) AS best
        FROM (
          SELECT st.*,
                 list_transform(generate_series(1, len(st.ids)), c ->
                   CASE WHEN list_contains(st.sel, CAST(c AS BIGINT)) THEN NULL
                        ELSE {MMR_LAMBDA} * st.rels[CAST(c AS INTEGER)]
                             - (1 - {MMR_LAMBDA}) * (CASE WHEN len(st.sel) = 0
                                  THEN CAST(0.0 AS DOUBLE)
                                  ELSE list_max(list_transform(st.sel, j ->
                                         st.m[CAST(c AS INTEGER)]
                                             [CAST(j AS INTEGER)]))
                                  END)
                   END) AS scores
          FROM state st
          WHERE st.k < {MMR_K}
            -- stop when the pool is EMPTY (NULL query / null-vector
            -- corpus) or exhausted; on a clean 20-row pool this is
            -- always true for k < K, so behavior is unchanged
            AND coalesce(len(st.ids), 0) > len(st.sel)
        ) s2
      ) s
    )
    SELECT CAST(k AS INTEGER) AS rank, vec_id, relevance, mmr_score
    FROM state WHERE k >= 1
"""


@op("sim_mmr_diversified_topk", oracle=SIM_MMR_DIVERSIFIED_TOPK_ORACLE,
    tags=('similarity', 'extra'))
def sim_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell-Goldstein) — the
    diversified-retrieval stage a RAG serving path runs after ANN
    recall: from the cosine top-20 candidate pool for query vec_id=0,
    greedily pick K=5 results maximizing
    lambda*sim(q,d) - (1-lambda)*max_{s in selected} sim(d,s).

    Distributed shape: candidate RECALL is the scalable part (one scan +
    TakeOrdered, or the ANN/PQ path at corpus scale); the greedy runs K
    rounds over the POOL as Catalyst expressions — each round one job on
    a 20-row frame, with the selected vectors inlined as array literals
    (driver state = K vectors, the k-means/PQ discipline). Penalty terms
    use the same zip_with dot-product kernel as the recall stage. An
    all-pairs pool similarity matrix is never materialized."""
    emb = load(spark, sf_dir, "embeddings").filter(
        finite_vec(F.col("embedding"))
    )
    q = emb.filter(F.col("vec_id") == 0)
    pool = (
        brute_force_topk(emb.filter(F.col("vec_id") != 0), q, k=_MMR_POOL)
        .join(emb, "vec_id")
        .select("vec_id", "embedding", F.col("cos_sim").alias("rel"))
        .cache()
    )

    def cos_to_lit(vec):
        # Same double-widened sequential fold as the house DOT kernel
        # (functions/similarity.py) — bit-identical to DuckDB's
        # list_dot_product over CAST(... AS DOUBLE[]), which is what lets
        # SIM_MMR_DIVERSIFIED_TOPK_ORACLE replay the greedy exactly.
        from aced_etl_pod_spark.functions.similarity import DOT

        lit = "array(" + ", ".join(f"CAST({float(x)!r} AS DOUBLE)" for x in vec) + ")"
        return (
            f"{DOT.format(a='embedding', b=lit)}"
            f" / (sqrt({DOT.format(a='embedding', b='embedding')})"
            f" * sqrt({DOT.format(a=lit, b=lit)}))"
        )

    selected: list = []
    chosen_ids: list = []
    remaining = pool
    for rank in range(1, MMR_K + 1):
        if len(selected) > 1:
            penalty = "greatest(" + ", ".join(cos_to_lit(v) for v in selected) + ")"
        elif selected:
            penalty = cos_to_lit(selected[0])
        else:
            penalty = "CAST(0.0 AS DOUBLE)"
        score = F.expr(
            f"{MMR_LAMBDA} * rel - {1 - MMR_LAMBDA} * ({penalty})"
        ).alias("mmr")
        picked = (
            remaining.select("vec_id", "embedding", "rel", score)
            .orderBy(F.desc("mmr"), "vec_id")
            .limit(1)
            .collect()
        )
        if not picked:  # pool exhausted (or empty corpus): stop gracefully
            break
        best = picked[0]
        chosen_ids.append(
            (rank, int(best.vec_id), round(float(best.rel), 6), round(float(best.mmr), 6))
        )
        selected.append(list(best.embedding))
        remaining = remaining.filter(F.col("vec_id") != int(best.vec_id))
    return spark.createDataFrame(
        chosen_ids, "rank int, vec_id long, relevance double, mmr_score double"
    ).orderBy("rank")


# ---------------------------------------------------------------------------
# sim_ann_lsh_multiprobe_topk (round-7 registration queue; rows-only)
# ---------------------------------------------------------------------------

# Full oracle since round 6 — same bit-exact replay as SIM_ANN_LSH_TOPK_
# ORACLE, narrower target bucket (16) plus the Hamming-1 probe explode
# (list_prepend + xor mirror Spark's F.array(bucket, bucket ^ 1<<i)).
SIM_ANN_LSH_MULTIPROBE_TOPK_ORACLE = f"""
    WITH
    {_duck_lsh_buckets(16)},
    base AS (SELECT be.vec_id AS nbr_id, be.bucket, be.embedding AS emb_b
             FROM be JOIN bn USING (bucket) WHERE bn.cnt <= {16 * 16}),
    probe AS (
      SELECT vec_id, embedding AS emb_a,
             unnest(list_prepend(bucket,
               list_transform(
                 generate_series(0, (SELECT planes FROM np) - 1),
                 i -> xor(bucket, CAST(1 AS BIGINT) << i)))) AS bucket
      FROM be
    ),
    pairs AS (
      SELECT p.vec_id, b2.nbr_id,
             {DUCK_COS.format(a='p.emb_a', b='b2.emb_b')} AS cos
      FROM probe p JOIN base b2 USING (bucket)
      WHERE p.vec_id != b2.nbr_id
    ),
    rk AS (
      SELECT vec_id, nbr_id, cos,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cos DESC, nbr_id) AS rk
      FROM pairs
    )
    SELECT vec_id, nbr_id, round(cos, 6) AS cos_sim FROM rk WHERE rk <= 3
"""


@op("sim_ann_lsh_multiprobe_topk", oracle=SIM_ANN_LSH_MULTIPROBE_TOPK_ORACLE,
    tags=('similarity', 'extra'))
def sim_ann_lsh_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiprobe sign-LSH k-NN — the refinement the round-4 review asked
    for on top of the scale-parameterized LSH: Hamming-1 neighbor buckets
    are probed too (functions/similarity.py::ann_lsh_multiprobe_topk), so
    recall no longer depends on every separating hyperplane being lucky,
    and bucket width can shrink (target ~16 vs ~64) for the same recall —
    smaller in-bucket re-ranks, probe side grows only (1 + planes)x.
    Full hash oracle (probe explode replayed in SQL); recall vs brute
    force, and recall >= single-probe LSH, asserted in tests."""
    from aced_etl_pod_spark.functions.similarity import ann_lsh_multiprobe_topk

    emb = load(spark, sf_dir, "embeddings").filter(
        finite_vec(F.col("embedding"))
    )
    return ann_lsh_multiprobe_topk(emb, k=3)


def _duck_bilinear_px(name: str, src: str, dims: str, oh: int, ow: int) -> str:
    """CTE chain ending in ``{name}(img, y, x, v)`` — long-format replay of
    resize_bilinear over per-image pixel rows ``src(img, y, x, v)`` with
    per-image ``dims(img, h, w)``: same pixel-center mapping, same IEEE
    double op order, same floor(·+0.5) uint8 rounding as the numpy kernel
    (the _duck_bilinear precedent, in join form so source dims can vary
    per image)."""
    return f"""
    {name}_co AS MATERIALIZED (
      SELECT d.img, o.oy, o.ox,
             CAST(least(greatest(floor((o.oy + 0.5) * (d.h / {oh}.0) - 0.5),
                  0), d.h - 1) AS BIGINT) AS y0,
             CAST(least(greatest(floor((o.ox + 0.5) * (d.w / {ow}.0) - 0.5),
                  0), d.w - 1) AS BIGINT) AS x0,
             (o.oy + 0.5) * (d.h / {oh}.0) - 0.5 AS sy,
             (o.ox + 0.5) * (d.w / {ow}.0) - 0.5 AS sx,
             d.h, d.w
      FROM {dims} d
      CROSS JOIN (SELECT oy, ox
                  FROM (SELECT unnest(generate_series(0, {oh} - 1)) AS oy)
                  CROSS JOIN (SELECT unnest(generate_series(0, {ow} - 1))
                                AS ox)) o
    ),
    {name}_w AS MATERIALIZED (
      SELECT img, oy, ox, y0, x0,
             least(y0 + 1, h - 1) AS y1, least(x0 + 1, w - 1) AS x1,
             least(greatest(sy - y0, 0.0), 1.0) AS wy,
             least(greatest(sx - x0, 0.0), 1.0) AS wx
      FROM {name}_co
    ),
    {name} AS MATERIALIZED (
      SELECT c.img, c.oy AS y, c.ox AS x,
             CAST(least(greatest(floor(
               (CAST(p00.v AS DOUBLE) * (1 - c.wx)
                  + CAST(p01.v AS DOUBLE) * c.wx) * (1 - c.wy)
               + (CAST(p10.v AS DOUBLE) * (1 - c.wx)
                  + CAST(p11.v AS DOUBLE) * c.wx) * c.wy
               + 0.5), 0), 255) AS BIGINT) AS v
      FROM {name}_w c
      JOIN {src} p00 ON p00.img = c.img AND p00.y = c.y0 AND p00.x = c.x0
      JOIN {src} p01 ON p01.img = c.img AND p01.y = c.y0 AND p01.x = c.x1
      JOIN {src} p10 ON p10.img = c.img AND p10.y = c.y1 AND p10.x = c.x0
      JOIN {src} p11 ON p11.img = c.img AND p11.y = c.y1 AND p11.x = c.x1
    )"""


def _image_phash_oracle() -> str:
    """Complete first-principles replay of dedup_image_phash: the fixture
    is re-synthesized from its integer-hash DCT coefficients (IDCT as
    pinned-fold matmuls against the literal orthonormal DCT-II matrix),
    the three variants re-rendered (bilinear 48×64, +1 brightness,
    bilinear 44×60), every blob re-hashed (luma → uint8 → bilinear 32×32
    → two pinned-fold DCT matmuls → 8×8 block, DC dropped → strict-median
    threshold → 63-bit pack), and the byte-band candidate join, Hamming ≤ 4
    verify, and recursive-CTE connected components replayed on top. The
    pinned _ordered_matmul in functions/imagecodec.py is what makes the
    DCT legs exact; the corrupt blob is the literal quarantine row."""
    from aced_etl_pod_spark.functions.imagecodec import _DCT_M

    m_lit = "[" + ", ".join(
        "[" + ", ".join(repr(float(x)) for x in row) + "]" for row in _DCT_M
    ) + "]"

    def fold32(prod: str) -> str:
        return (
            "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
            f"list_transform(generate_series(1, 32), t -> {prod})), "
            "(acc, x) -> acc + x)"
        )

    return f"""
    WITH RECURSIVE
    phm AS (SELECT {m_lit} AS m),
    syn_cm AS MATERIALIZED (
      SELECT g, list(row ORDER BY u) AS cm
      FROM (
        SELECT g.g, u.u,
               list_transform(generate_series(0, 31), v ->
                 CAST(CASE WHEN u.u - 1 < 8 AND v < 8
                           AND NOT (u.u - 1 = 0 AND v = 0)
                 THEN CASE WHEN (((((u.u - 1) * 8 + v + 64 * g.g + 1)
                                  * 2654435761) % 4294967296) // 8192) % 2 = 1
                      THEN 40.0 ELSE -40.0 END
                 ELSE 0.0 END AS DOUBLE)) AS row
        FROM (SELECT unnest(generate_series(0, 5)) AS g) g
        CROSS JOIN (SELECT unnest(generate_series(1, 32)) AS u) u
      ) GROUP BY g
    ),
    syn_c1 AS MATERIALIZED (
      SELECT g,
             list_transform(generate_series(1, 32), i ->
               list_transform(generate_series(1, 32), j ->
                 {fold32("pm.m[t][i] * s.cm[t][j]")})) AS c1
      FROM syn_cm s CROSS JOIN phm pm
    ),
    syn_c2 AS MATERIALIZED (
      SELECT g,
             list_transform(generate_series(1, 32), i ->
               list_transform(generate_series(1, 32), j ->
                 {fold32("s.c1[i][t] * pm.m[t][j]")})) AS c2
      FROM syn_c1 s CROSS JOIN phm pm
    ),
    syn_flat AS (SELECT g, unnest(flatten(c2)) AS x FROM syn_c2),
    syn_mn AS (SELECT g, min(x) AS mn FROM syn_flat GROUP BY g),
    syn_mx AS (SELECT f.g, max(f.x - n.mn) AS mx
               FROM syn_flat f JOIN syn_mn n USING (g) GROUP BY f.g),
    syn_px AS MATERIALIZED (
      SELECT s.g AS img, i.i - 1 AS y, j.j - 1 AS x,
             CAST(trunc((s.c2[i.i][j.j] - n.mn) / x2.mx * 255.0)
                  AS BIGINT) AS v
      FROM syn_c2 s JOIN syn_mn n USING (g) JOIN syn_mx x2 ON x2.g = s.g
      CROSS JOIN (SELECT unnest(generate_series(1, 32)) AS i) i
      CROSS JOIN (SELECT unnest(generate_series(1, 32)) AS j) j
    ),
    syn_dims AS (SELECT unnest(generate_series(0, 5)) AS img,
                        32 AS h, 32 AS w),
    {_duck_bilinear_px('base_px', 'syn_px', 'syn_dims', 48, 64)},
    base_src AS MATERIALIZED (SELECT img, y, x, v FROM base_px),
    base_dims AS (SELECT unnest(generate_series(0, 5)) AS img,
                         48 AS h, 64 AS w),
    {_duck_bilinear_px('v2_px', 'base_src', 'base_dims', 44, 60)},
    blob_px AS MATERIALIZED (
      SELECT img * 3 AS img, y, x, v FROM base_px
      UNION ALL
      SELECT img * 3 + 1, y, x, least(v + 1, 255) FROM base_px
      UNION ALL
      SELECT img * 3 + 2, y, x, v FROM v2_px
    ),
    blob_dims AS (
      SELECT img * 3 AS img, 48 AS h, 64 AS w FROM syn_dims
      UNION ALL SELECT img * 3 + 1, 48, 64 FROM syn_dims
      UNION ALL SELECT img * 3 + 2, 44, 60 FROM syn_dims
    ),
    luma_px AS MATERIALIZED (
      SELECT img, y, x,
             CAST(trunc((0.299 * CAST(v AS DOUBLE)
                         + 0.587 * CAST(v AS DOUBLE))
                        + 0.114 * CAST(v AS DOUBLE)) AS BIGINT) AS v
      FROM blob_px
    ),
    {_duck_bilinear_px('small_px', 'luma_px', 'blob_dims', 32, 32)},
    small_m AS MATERIALIZED (
      SELECT img, list(row ORDER BY y) AS sm
      FROM (SELECT img, y, list(CAST(v AS DOUBLE) ORDER BY x) AS row
            FROM small_px GROUP BY img, y)
      GROUP BY img
    ),
    ph_c1 AS MATERIALIZED (
      SELECT img,
             list_transform(generate_series(1, 32), i ->
               list_transform(generate_series(1, 32), j ->
                 {fold32("pm.m[i][t] * s.sm[t][j]")})) AS c1
      FROM small_m s CROSS JOIN phm pm
    ),
    ph_c2 AS MATERIALIZED (
      SELECT img,
             list_transform(generate_series(1, 8), i ->
               list_transform(generate_series(1, 8), j ->
                 {fold32("s.c1[i][t] * pm.m[j][t]")})) AS c2
      FROM ph_c1 s CROSS JOIN phm pm
    ),
    ph_vals AS MATERIALIZED (
      SELECT img, jj.j AS j, c2[jj.j // 8 + 1][jj.j % 8 + 1] AS val
      FROM ph_c2
      CROSS JOIN (SELECT unnest(generate_series(1, 63)) AS j) jj
    ),
    ph_med AS MATERIALIZED (
      SELECT img, val AS med FROM (
        SELECT img, val,
               row_number() OVER (PARTITION BY img ORDER BY val) AS rk
        FROM ph_vals
      ) WHERE rk = 32
    ),
    ph_hash AS MATERIALIZED (
      SELECT v.img AS blob_id,
             CAST(sum(CASE WHEN v.val > m.med
                 THEN CAST(1 AS BIGINT) << CAST(v.j - 1 AS INTEGER)
                 ELSE 0 END) AS BIGINT) AS phash
      FROM ph_vals v JOIN ph_med m ON m.img = v.img
      GROUP BY v.img
    ),
    ph_bands AS MATERIALIZED (
      SELECT blob_id, phash, b.b,
             (phash // CAST(pow(2, b.b * 8) AS BIGINT)) % 256 AS v
      FROM ph_hash
      CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS b) b
    ),
    ph_cand AS MATERIALIZED (
      SELECT DISTINCT a.blob_id AS id_a, b2.blob_id AS id_b,
             a.phash AS ha, b2.phash AS hb
      FROM ph_bands a
      JOIN ph_bands b2 ON a.b = b2.b AND a.v = b2.v
                       AND a.blob_id < b2.blob_id
    ),
    ph_edges0 AS (SELECT id_a, id_b FROM ph_cand
                  WHERE bit_count(xor(ha, hb)) <= 4),
    ph_edges AS (SELECT id_a AS u, id_b AS v FROM ph_edges0
                 UNION SELECT id_b, id_a FROM ph_edges0),
    ph_reach AS (
      SELECT u AS node, u AS r FROM ph_edges
      UNION
      SELECT ph_reach.node, e.v FROM ph_reach
      JOIN ph_edges e ON e.u = ph_reach.r
    ),
    ph_comp AS (SELECT node, min(r) AS component FROM ph_reach GROUP BY 1),
    ph_sz AS (SELECT component, CAST(count(*) AS BIGINT) AS group_size
              FROM ph_comp GROUP BY 1)
    SELECT h.blob_id, printf('%016x', h.phash) AS phash_hex,
           CAST(coalesce(c.component, h.blob_id) AS BIGINT) AS group_id,
           coalesce(s.group_size, 1) AS group_size,
           coalesce(s.group_size, 1) > 1 AS is_dup,
           CAST(NULL AS VARCHAR) AS decode_error
    FROM ph_hash h LEFT JOIN ph_comp c ON c.node = h.blob_id
                   LEFT JOIN ph_sz s ON s.component = c.component
    UNION ALL
    -- the quarantined blob: Spark's format_string('%016x', NULL) renders
    -- the STRING 'null' right-aligned in a 16-char field, not SQL NULL
    SELECT 18, '            null', 18, 1, false,
           'short PPM raster: 5 < 9216'
    """


DEDUP_IMAGE_PHASH_ORACLE = _image_phash_oracle()

_PHASH_BANDS = 8
_PHASH_HAM_T = 4


@op("dedup_image_phash", oracle=DEDUP_IMAGE_PHASH_ORACLE,
    tags=('text', 'dedup', 'extra'))
def dedup_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate IMAGE dedup by DCT perceptual hash — the visual
    sibling of dedup_minhash_lsh and a core multimodal-training-data op
    (re-encoded/resized/brightness-shifted copies of the same picture
    must collapse to one exemplar before training). REAL codec path:
    binaryFile scan → PPM decode (functions/imagecodec.py) → luma →
    bilinear 32×32 → matrix-multiply DCT-II (fixed arithmetic order, no
    FFT plan variance) → 8×8 low-frequency block thresholded at its
    median → 64-bit hash. Uniform brightness shifts cancel in the
    median threshold; resizes preserve the low-frequency block.

    Grouping is Hamming-tolerant, the production shape: the 64-bit hash
    splits into 8 byte-bands; pairs sharing ANY band become candidates
    (pigeonhole: hamming ≤ 7 ⇒ at least one identical band — lossless
    for the ≤ 4 verify threshold), the verify is a JVM
    bit_count(xor) ≤ 4, and verified pairs merge through the join-based
    connected components (functions/cluster.py) into duplicate groups.
    Only 8-byte keys and band slices ever shuffle. Per-record decode
    quarantine as multimodal_resize; grouping/robustness/determinism +
    a from-scratch reference hash are the semantic gate; since round 6
    the op also carries a FULL oracle (DEDUP_IMAGE_PHASH_ORACLE — fixture
    synthesis, both bilinear renders, the pinned-fold DCT, median
    threshold, banding, Hamming verify, and connected components all
    replayed in SQL)."""
    import pandas as pd

    from aced_etl_pod_spark.functions.cluster import connected_components
    from aced_etl_pod_spark.functions.imagecodec import decode_ppm, phash64
    from aced_etl_pod_spark.sources.binary import (
        generate_phash_fixture,
        read_binary,
    )

    src = generate_phash_fixture()
    blobs = read_binary(spark, src, glob="*.ppm").select("path", "content")

    def hash_batch(it):
        for pdf in it:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                try:
                    img = decode_ppm(bytes(content))
                    rows.append((path, phash64(img), None))
                except Exception as exc:  # noqa: BLE001 - quarantine
                    rows.append((path, None, str(exc)[:80]))
            # object columns, then nullable Int64: a quarantined blob's
            # None would otherwise make the batch's hashes float64 and
            # drop their low bits (53-bit mantissa)
            out = pd.DataFrame(
                rows, columns=["path", "phash", "decode_error"], dtype=object
            )
            out["phash"] = out["phash"].astype("Int64")
            yield out

    hashed = blobs.mapInPandas(
        hash_batch, "path string, phash long, decode_error string"
    ).withColumn(
        "blob_id",
        F.regexp_extract("path", r"img_(\d+)_", 1).cast("long"),
    )
    ok = hashed.filter(F.col("phash").isNotNull()).select("blob_id", "phash")
    bands = ok.select(
        "blob_id",
        "phash",
        F.explode(
            F.expr(
                f"transform(sequence(0, {_PHASH_BANDS - 1}),"
                f" b -> named_struct('b', b,"
                f" 'v', (phash div CAST(pow(2, b * 8) AS BIGINT)) % 256))"
            )
        ).alias("band"),
    ).select("blob_id", "phash", F.col("band.b").alias("b"), F.col("band.v").alias("v"))
    left = bands.select(
        F.col("blob_id").alias("id_a"), F.col("phash").alias("ha"), "b", "v"
    )
    right = bands.select(
        F.col("blob_id").alias("id_b"), F.col("phash").alias("hb"), "b", "v"
    )
    pairs = (
        left.join(right, ["b", "v"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "ha", "hb")
        .distinct()
        .filter(
            F.bit_count(
                F.col("ha").bitwiseXOR(F.col("hb"))
            )
            <= _PHASH_HAM_T
        )
        .select("id_a", "id_b")
    )
    comps = connected_components(pairs)
    sizes = comps.groupBy("component").agg(F.count("*").alias("group_size"))
    labeled = comps.join(sizes, "component").select(
        F.col("node").alias("blob_id"), "component", "group_size"
    )
    return (
        hashed.join(labeled, "blob_id", "left")
        .select(
            "blob_id",
            F.format_string("%016x", F.col("phash")).alias("phash_hex"),
            F.coalesce(
                F.col("component"), F.col("blob_id")
            ).cast("long").alias("group_id"),
            F.coalesce("group_size", F.lit(1)).cast("long").alias(
                "group_size"
            ),
            (F.coalesce("group_size", F.lit(1)) > 1).alias("is_dup"),
            "decode_error",
        )
        .orderBy("blob_id")
    )
