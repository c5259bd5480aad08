"""Vector-similarity primitives over ARRAY<FLOAT> embedding columns
(north star: similarity search at scale).

The cosine kernel is a sequential left-fold in double precision —
bit-identical to DuckDB's ``list_dot_product`` evaluation, which is what
makes the oracle hash-checkable. Brute-force top-k is the correctness
baseline; the LSH-bucketed variant is the 100 TB path (candidate
generation by equi-join on hyperplane sign buckets, then exact re-rank).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from aced_etl_pod_spark.tables import read_parquet

DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
    "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
)


def dot_expr(a: str, b: str) -> Column:
    return F.expr(DOT.format(a=a, b=b))


def _flatten_embeddings(lst, num_rows: int, dim: int, col_name: str):
    """Flatten an Arrow list column to a (num_rows, dim) float64 matrix,
    REFUSING null or ragged slots: pyarrow's ``flatten()`` silently DROPS
    null list slots, which would shift every subsequent row's values by
    ``dim`` while the reshape still succeeds — silently wrong cosines.
    Our own indexes/scans filter to finite vectors so this never fires on
    them; a foreign or hand-built input must error, not corrupt."""
    if lst.null_count:
        raise ValueError(
            f"{lst.null_count} null {col_name} slots in Arrow batch; "
            "the gemm kernels require a null-free embedding column "
            "(ivf_index_build guarantees this for its own cells)."
        )
    flat = lst.flatten().to_numpy(zero_copy_only=False)
    if len(flat) != num_rows * dim:
        raise ValueError(
            f"ragged {col_name} lists in Arrow batch: {len(flat)} "
            f"values for {num_rows} rows of dim {dim}."
        )
    return flat.reshape(-1, dim).astype(np.float64)


def cosine_expr(a: str, b: str) -> Column:
    """cos(a,b) = dot/(sqrt(dot_aa)*sqrt(dot_bb)) — mirror of the DuckDB
    ``list_dot_product`` formulation."""
    return F.expr(
        f"{DOT.format(a=a, b=b)} / "
        f"(sqrt({DOT.format(a=a, b=a)}) * sqrt({DOT.format(a=b, b=b)}))"
    )


# NOTE (round-10, measured and REJECTED): an unrolled two-COLUMN cosine
# (straight-line a[i]*b[i] sums for plan-time-known dim, the twin of
# brute_force_topk_unrolled's literal-folded form) is 5x SLOWER than the
# zip_with/aggregate HOF on the batched-probe re-rank (141 s vs 27 s at
# x200/Q=256): 384 GetArrayItem calls per row blow past the codegen
# budget and fall back to interpreted eval, where the HOF's three array
# traversals win. Literal-folded single-column unrolling (the rerank
# kernels) stays fast; two-column unrolling does not generalize.


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes for sign-LSH (pure python —
    tiny, broadcast as literals into the plan)."""
    import hashlib
    import struct

    planes = []
    for p in range(n_planes):
        vec = []
        for d in range(dim):
            h = hashlib.sha256(f"{seed}:{p}:{d}".encode()).digest()[:8]
            (u,) = struct.unpack("<Q", h)
            vec.append((u / 2**64) * 2.0 - 1.0)
        planes.append(vec)
    return planes


def signature_bucket(emb_col: str, planes: list[list[float]]) -> Column:
    """Sign-LSH bucket id: bit p = sign(dot(emb, plane_p)). Vectors in the
    same bucket are cosine-close with high probability."""
    bits = []
    for p, plane in enumerate(planes):
        lits = ", ".join(f"CAST({v!r} AS DOUBLE)" for v in plane)
        dot = DOT.format(a=emb_col, b=f"array({lits})")
        bits.append(f"CASE WHEN {dot} >= 0 THEN shiftleft(1L, {p}) ELSE 0L END")
    return F.expr(" + ".join(bits))


def lsh_planes_for(n: int, target_bucket: int = 64) -> int:
    """Number of sign-LSH hyperplanes for a corpus of ``n`` vectors, sized
    so the EXPECTED bucket occupancy is ~``target_bucket``: 2^planes ≈
    n / target_bucket. A fixed plane count is the classic ANN scale bug —
    right at 2k vectors, quadratic-in-bucket at 2B (buckets grow O(n) and
    the in-bucket re-rank O(n²/2^planes)); deriving planes from n keeps
    per-bucket work constant as the corpus grows. Clamped to [4, 24]
    (16 buckets … 16M buckets — beyond 24 planes random-hyperplane
    collision probability for true neighbors starts to dominate and
    multiprobe, not more planes, is the next lever)."""
    import math

    return max(4, min(24, math.ceil(math.log2(max(n / max(target_bucket, 1), 2.0)))))


def ann_lsh_topk(
    emb: DataFrame,
    k: int = 3,
    target_bucket: int = 64,
    max_bucket_size: int | None = None,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Sign-LSH approximate all-vectors k-NN, scale-parameterized:

    * plane count derived from the corpus size (:func:`lsh_planes_for`) so
      expected bucket width stays ~``target_bucket`` at any n;
    * buckets wider than ``max_bucket_size`` (default 16×target) are
      DROPPED before the self-join — the same degenerate-key cap as
      ``minhash_band_candidates`` (functions/dedup.py): a pathological
      bucket (e.g. a mass of zero/near-identical vectors) would otherwise
      go quadratic at 100 TB. Members of a dropped mega-bucket are all
      near-identical by construction, so the exact-dedup pass, not ANN,
      is the right tool for them.

    One count() job sizes the planes (a query parameter, like the literal
    query vector); then bucket → self-equi-join → exact cosine re-rank →
    per-vector top-k. Returns (vec_id, nbr_id, cos_sim)."""
    from pyspark.sql import Window as W

    n = emb.count()
    head = emb.select(emb_col).head(1)
    dim = len(head[0][0]) if head else 0
    planes = random_hyperplanes(dim=dim, n_planes=lsh_planes_for(n, target_bucket))
    if max_bucket_size is None:
        max_bucket_size = 16 * target_bucket
    bucketed = emb.withColumn("bucket", signature_bucket(emb_col, planes))
    bucket_n = F.count("*").over(W.partitionBy("bucket"))
    bucketed = bucketed.withColumn("bucket_n", bucket_n).filter(
        F.col("bucket_n") <= max_bucket_size
    )
    a = bucketed.select(
        F.col(id_col).alias("vec_id"), "bucket", F.col(emb_col).alias("emb_a")
    )
    b = bucketed.select(
        F.col(id_col).alias("nbr_id"), "bucket", F.col(emb_col).alias("emb_b")
    )
    pairs = (
        a.join(b, "bucket")
        .filter(F.col("vec_id") != F.col("nbr_id"))
        .withColumn("cos", cosine_expr("emb_a", "emb_b"))
    )
    w = W.partitionBy("vec_id").orderBy(F.desc("cos"), "nbr_id")
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("vec_id", "nbr_id", F.round("cos", 6).alias("cos_sim"))
    )


def _assign_nearest_centroid(emb: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment via broadcast argmin — the vector table
    never shuffles."""
    from pyspark.sql import Window as W

    scored = emb.crossJoin(F.broadcast(centroids)).withColumn(
        "d", cosine_expr("embedding", "c_emb")
    )
    w = W.partitionBy("vec_id").orderBy(F.desc("d"), "cid")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", "cid")
    )


def ivf_centroids_for(n: int) -> int:
    """IVF coarse-quantizer size for ``n`` vectors: ~sqrt(n) centroids (the
    standard IVF guidance — balances cell-scan cost n/C against the
    C-sized quantizer probe), clamped to [4, 65536]. A fixed C is the same
    scale bug as fixed LSH planes: C=16 means cells of n/16 and the probe
    re-rank goes linear-in-corpus; sqrt(n) keeps both sides O(sqrt(n))."""
    import math

    return max(4, min(65536, int(math.isqrt(max(n, 16)))))


def ivf_buckets_for(
    n_rows: int,
    dim: int,
    n_centroids: int,
    target_file_bytes: int = 96 << 20,
) -> int:
    """Bucket count for the persisted IVF cells layout (docs/SCALE.md
    cluster-changes item 6): ``partitionBy(cid)`` at C = sqrt(n) means
    one tiny file per cell (~300 k files at 100 TB — a listing and
    footer-read tax on every full-index pass, measured at x200 as a
    26 MB/633-file scan costing seconds of pure scheduling). Instead the
    cells are laid out as ~file-sized BUCKETS: partition key
    ``bkt = cid % B``, cid sorted within each file, so single probes
    prune buckets at file level (PartitionFilters) and cid ranges at
    row-group level (parquet min/max on the sorted cid column), and
    batch probes DPP on the bucket key.

    B is sized so one bucket ≈ one healthy parquet file
    (``target_file_bytes``, default 96 MB): rows are ~4·dim bytes of
    float lanes + id overhead; B grows linearly with the corpus and is
    capped at C (a bucket never holds less than one cell). At sf0.01
    this yields B=1 (one file — the floor); at 100 TB it yields
    ~bytes/96 MB files, each a few hundred cells."""
    import math

    bytes_per_row = 4 * max(dim, 1) + 16
    rows_per_bucket = max(1, target_file_bytes // bytes_per_row)
    return max(1, min(n_centroids, math.ceil(n_rows / rows_per_bucket)))


def ivf_rowgroup_bytes(n_rows: int, dim: int, n_centroids: int) -> int:
    """Parquet row-group (block) size for the bucketed cells write: ~ONE
    CELL per row group, clamped to [512 KB, 128 MB]. This is the half of
    the bucket layout that keeps probes sublinear at every scale: file-
    level pruning on bkt only narrows to B files, and a probe that then
    has to decode whole buckets reads O(corpus/B) — measured at x200
    (B=2): the bucketed probe re-read the entire 104 MB corpus because
    each bucket file was ONE row group spanning every cid (354 ms vs the
    per-cell layout's ~155 ms). With cid sorted within the file and row
    groups sized to ~one cell, the pushed `cid IN (...)` filter skips
    every non-probed cell's row group off its min/max stats, restoring
    the n_probe·(n/C)-rows-touched contract without the per-cell file
    count. At 100 TB a cell is ~GBs, so the 128 MB cap applies and a
    probed cell spans several row groups — pruning granularity stays
    ≤128 MB regardless of corpus size."""
    bytes_per_row = 4 * max(dim, 1) + 16
    cell_bytes = (max(n_rows, 1) * bytes_per_row) // max(n_centroids, 1)
    return int(min(max(cell_bytes, 512 << 10), 128 << 20))


def _ivf_train(
    emb: DataFrame, n_centroids: int | None, lloyd_iters: int
) -> DataFrame:
    """The IVF coarse quantizer: deterministic seed centroids (lowest
    vec_ids) refined by ``lloyd_iters`` Lloyd iterations. Shared by the
    per-query :func:`ivf_topk` and the persisted-index
    :func:`ivf_index_build`; the fold discipline below is what keeps the
    training oracle-replayable."""
    if n_centroids is None:
        n_centroids = ivf_centroids_for(emb.count())
    centroids = emb.orderBy("vec_id").limit(n_centroids).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("c_emb")
    )
    for _ in range(lloyd_iters):
        assigned = _assign_nearest_centroid(emb, centroids)
        # Cell means as a vec_id-ORDERED left fold per dimension, not a
        # distributed avg: fold order is part of the contract
        # (docs/SCALE.md §10) — a partial-agg avg sums in partition order,
        # which no oracle can replay. The collect_list is bounded by the
        # cell width (~sqrt(n) vectors by construction), the same
        # collect-sort-fold shape as agg_moments_mergeable_chan.
        members = assigned.join(emb, "vec_id").groupBy("cid").agg(
            F.expr("array_sort(collect_list(struct(vec_id, embedding)))").alias(
                "ms"
            )
        )
        centroids = members.select(
            "cid",
            F.expr(
                "transform(sequence(1, size(element_at(ms, 1).embedding)), t -> "
                "CAST(aggregate(ms, CAST(0 AS DOUBLE), (acc, s) -> "
                "acc + CAST(element_at(s.embedding, CAST(t AS INT)) AS DOUBLE)) "
                "/ size(ms) AS FLOAT))"
            ).alias("c_emb"),
        )
    return centroids


def ivf_index_build(
    emb: DataFrame,
    path: str,
    n_centroids: int | None = None,
    lloyd_iters: int = 10,
    sample_size: int = 8192,
) -> int:
    """Build and PERSIST an IVF index: train the coarse quantizer
    driver-side on a bounded deterministic sample (lowest vec_ids, numpy
    Lloyd — model-sized state, the PQ-codebook pattern), assign every
    vector in ONE Arrow/BLAS pass, and write the inverted lists as
    ~file-sized cell BUCKETS — parquet ``partitionBy(bkt)`` with
    ``bkt = cid % B`` (:func:`ivf_buckets_for`) and cid SORTED within
    each file — with the centroid table alongside (``<path>/centroids``,
    C rows, carrying each cell's bkt so readers never re-derive the
    modulus). The bucket layout (round-10; docs/SCALE.md item 6)
    replaces the one-file-per-cell ``partitionBy(cid)`` whose C = sqrt(n)
    tiny files cost a listing/footer tax on every pass: probes prune
    buckets at file level and cid ranges at row-group level via the
    sorted cid column's parquet min/max.

    Unlike the per-query :func:`ivf_topk` (whose distributed Lloyd is
    deliberately oracle-replayable and priced for small corpora), an
    index build is infrastructure: correctness is a recall property, so
    the training can use the fast kernels. The first cut reused the
    replayable trainer and took 505 s at 100 k vectors — the interpreted
    per-centroid HOF folds are O(n·C) expression evaluations per Lloyd
    pass; this form is one gemm per Arrow batch and builds the same
    index in seconds.

    This is the one-time full pass that makes serving sublinear: a probe
    reads only its n_probe cells via partition pruning (measured at x50:
    86 ms vs 273 ms exact scan, recall@10 = 1.0, 16/316 cells touched).
    At 100 TB the build cost equals ONE exact scan — what DuckDB pays
    per query batch — amortized over every query after. Returns the
    number of centroids."""
    from ..operators.util import finite_vec

    # well-scaled-vector contract (same as the query-time kernels): a
    # NULL embedding makes np.stack raise and one non-finite/extreme lane
    # would poison every centroid through the Lloyd means
    emb = emb.filter(finite_vec(F.col("embedding"))).select(
        "vec_id", "embedding"
    )
    n_rows = emb.count()
    if n_centroids is None:
        n_centroids = ivf_centroids_for(n_rows)
    rows = emb.orderBy("vec_id").limit(max(sample_size, n_centroids)).collect()
    if not rows:
        # empty-partition contract: an index over zero valid vectors is an
        # EMPTY index (0 cells, 0 centroids), not a crash — probes on it
        # return the empty k-NN frame. The schema must match what the
        # NORMAL path's partitionBy('bkt') read-back yields — data columns
        # first (vec_id, embedding, cid LONG), then bkt as the
        # (IntegerType-inferred) partition column — or readers scanning
        # {path}/cells see a different schema depending on which branch
        # built the index. (partitionBy on a zero-row frame writes no
        # files at all, so the empty branch keeps the unpartitioned
        # writer and matches the layout instead.)
        emb.withColumn("cid", F.lit(0).cast("long")).withColumn(
            "bkt", F.lit(0).cast("int")
        ).limit(0).write.mode("overwrite").parquet(f"{path}/cells")
        emb.sparkSession.createDataFrame(
            [], "cid long, c_emb array<double>, bkt int"
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
        return 0
    S = np.stack([np.asarray(r["embedding"]) for r in rows]).astype(np.float64)
    # an explicit n_centroids larger than the (filtered) corpus would seed
    # from missing rows and desync the centroid-id arange below
    n_centroids = min(n_centroids, len(S))
    cents = S[:n_centroids].copy()
    for _ in range(lloyd_iters):
        # cosine assignment on the sample (normalized dot); zero-norm
        # clamp mirrors assign_cells — a zero vector must not NaN-poison
        # the whole assignment
        Sn = S / np.maximum(np.linalg.norm(S, axis=1, keepdims=True), 1e-30)
        Cn = cents / np.maximum(
            np.linalg.norm(cents, axis=1, keepdims=True), 1e-30
        )
        assign = (Sn @ Cn.T).argmax(axis=1)
        for c in range(n_centroids):
            mask = assign == c
            if mask.any():
                cents[c] = S[mask].mean(axis=0)
    Cn = cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-30)

    def assign_cells(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["embedding"].map(np.asarray).values).astype(
                np.float64
            )
            Xn = X / np.maximum(
                np.linalg.norm(X, axis=1, keepdims=True), 1e-30
            )
            pdf = pdf.copy()
            pdf["cid"] = (Xn @ Cn.T).argmax(axis=1).astype("int64")
            yield pdf

    inverted = emb.mapInPandas(
        assign_cells, "vec_id long, embedding array<float>, cid long"
    )
    # Bucketed cells layout: B ~file-sized partitions keyed cid % B, cid
    # sorted within each file (repartition on bkt makes one task own a
    # bucket; sortWithinPartitions gives the writer cid-runs so parquet
    # row-group min/max stats on cid are tight).
    n_buckets = ivf_buckets_for(n_rows, len(S[0]), n_centroids)
    (
        inverted.withColumn(
            "bkt", (F.col("cid") % n_buckets).cast("int")
        )
        .repartition(n_buckets, "bkt")
        .sortWithinPartitions("bkt", "cid")
        .write.mode("overwrite")
        # ~one cell per row group so the pushed cid filter prunes at
        # row-group level (see ivf_rowgroup_bytes — file-level bkt
        # pruning alone reads O(corpus/B))
        .option(
            "parquet.block.size",
            ivf_rowgroup_bytes(n_rows, len(S[0]), n_centroids),
        )
        # zstd (round-11 codec A/B at x800): probe 229 -> 182 ms,
        # batched 62.8 -> 70.5 qps — the probed bytes shrink faster
        # than the decode costs. The tiled fixture overstates the SIZE
        # win (clone vectors compress unrealistically); on
        # incompressible embeddings expect ~neutral, not a regression
        # (zstd stores near-raw blocks with cheap decode).
        .option("compression", "zstd")
        .partitionBy("bkt")
        .parquet(f"{path}/cells")
    )
    cids = np.arange(n_centroids, dtype="int64")
    cpdf = pd.DataFrame(
        {
            "cid": cids,
            "c_emb": list(cents),
            "bkt": (cids % n_buckets).astype("int32"),
        }
    )
    emb.sparkSession.createDataFrame(
        cpdf, "cid long, c_emb array<double>, bkt int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    return n_centroids


def ivf_index_probe(
    spark,
    path: str,
    query: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Serve a single-query cosine top-k from a persisted IVF index
    (:func:`ivf_index_build`): argmax the C-row centroid table driver-side
    (model-sized state, like a literal), then scan ONLY the ``n_probe``
    nearest cells — ``bkt`` is the partition column, so the bucket filter
    prunes at the file level (plan shows PartitionFilters) while the cid
    filter prunes row groups via the sorted cid column's parquet min/max
    — and exact-re-rank survivors with the Arrow/BLAS kernel. The
    cid→bkt mapping rides the centroid table (written at build time), so
    readers never re-derive the bucket modulus.

    Latency scales with n_probe·n/C = O(sqrt(n)·n_probe) rows touched,
    not n; this is the registered ops' serving twin for repeated queries
    against a static corpus. The survivor re-rank delegates to the exact
    kernels: codegen-unrolled straight-line arithmetic for dim ≤ 128
    (pure JVM — no python worker roundtrip, which costs ~200 ms/query at
    micro scale), Arrow/BLAS above (per-batch overhead amortizes, the
    expression tree doesn't)."""
    head1 = query.select(emb_col).head(1)
    if not head1:  # empty query side (empty-partition contract): no matches
        return spark.createDataFrame([], f"{id_col} long, cos_sim double")
    qvec = np.asarray(head1[0][0], dtype=np.float64)
    q_norm = float(np.sqrt(qvec @ qvec))
    cpdf = read_parquet(spark, f"{path}/centroids").toPandas()
    if not len(cpdf):  # empty index (built over zero valid vectors)
        return spark.createDataFrame([], f"{id_col} long, cos_sim double")
    C = np.stack(cpdf["c_emb"].to_numpy()).astype(np.float64)
    sims = (C @ qvec) / (np.sqrt((C * C).sum(axis=1)) * q_norm)
    order = np.lexsort((cpdf["cid"].to_numpy(), -sims))
    cells = [int(cpdf["cid"].iloc[i]) for i in order[:n_probe]]
    bkts = sorted({int(cpdf["bkt"].iloc[i]) for i in order[:n_probe]})

    idx = (
        read_parquet(spark, f"{path}/cells")
        .filter(F.col("bkt").isin(bkts))
        .filter(F.col("cid").isin(cells))
    )
    rerank = (
        brute_force_topk_unrolled if len(qvec) <= 128 else brute_force_topk_fast
    )
    return rerank(idx, query, id_col=id_col, emb_col=emb_col, k=k)


def ivf_index_probe_many(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    broadcast_queries: bool = False,
    exclude_self: bool = True,
) -> DataFrame:
    """Batch serving against a persisted IVF index
    (:func:`ivf_index_build`) — the batch-inference shape: MANY queries,
    each probing its own ``n_probe`` nearest cells, answered by ONE scan
    of the union of probed cells.

    ``broadcast_queries`` is a CONTRACT declaration, not a tuning knob
    (docs/SCALE.md §16 — hint/collect only construction-bounded sides),
    and it now selects between two physical strategies:

    * True — the caller bounds Q by construction (a serving batch of
      fixed size, model-sized state like a literal): the query matrix is
      collected driver-side, cells are ranked per query with one numpy
      gemm (exactly the single probe's driver-side argmax, Q-wide), the
      cells scan statically prunes to the probed (bkt, cid) union, and a
      ``mapInArrow`` gemm kernel scores every (query, candidate) pair
      per Arrow batch — one BLAS call instead of 2.6 M interpreted HOF
      folds (measured at x200/Q=256: the join+HOF plan spent ~23 of its
      27 s in the fold). Per-batch top-k with the argpartition +
      boundary-tie lexsort idiom (brute_force_topk_arrow) keeps only
      k·Q rows per batch; a final tiny window merges batches. Float64
      gemm agrees with the fold kernels at 6 dp (the
      sim_cosine_topk_fast precedent — BLAS vs exact SQL is
      hash-parity-proven in this repo).
    * False (the DEFAULT — preserves the fully distributed contract
      for any pre-existing caller) — the query set is a corpus FRACTION
      (unbounded at scale; collecting OR broadcasting it would OOM at
      100 TB): the fully distributed plan — centroid table broadcasts
      against the query set, per-query cell ranking is a window, the
      (bkt, cid) equi-join against the bucket-partitioned cells table
      prunes via DPP only OPPORTUNISTICALLY (Spark's default
      ``dynamicPartitionPruning.reuseBroadcastOnly=true`` inserts the
      pruning subquery only when AQE happens to broadcast q_cells —
      which, by this path's own unbounded-Q contract, it won't at
      scale; the cells scan then reads all buckets and relies on the
      join to discard), survivors re-rank with the codegen cosine,
      top-k per query is one shuffle. AQE picks the join build side
      from accurate runtime sizes (the same rationale as
      :func:`ivf_topk`'s unhinted join).

    At 100 TB with Q queries, both paths touch Q·n_probe·(n/C) candidate
    rows; the bounded path additionally holds Q·dim floats of driver
    state — fine for a serving batch, forbidden for a corpus scan."""
    from pyspark.sql import Window as W

    if broadcast_queries:
        return _ivf_probe_many_gemm(
            spark, path, queries, k, n_probe, id_col, emb_col,
            exclude_self=exclude_self,
        )

    cents = F.broadcast(read_parquet(spark, f"{path}/centroids"))
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(emb_col).alias("q_emb")
    )
    q_cells = (
        q.crossJoin(cents)
        .withColumn("d", cosine_expr("q_emb", "c_emb"))
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("q_id").orderBy(F.desc("d"), "cid")
            ),
        )
        .filter(F.col("rk") <= n_probe)
        .select("q_id", "q_emb", "cid", "bkt")
    )
    # Coalesce the cells scan to the cluster width (shuffle-free: file and
    # partition pruning still happen per split; coalesce only merges the
    # resulting splits into fewer tasks). The bucketed layout already
    # bounds the file count at B ~ corpus/96 MB, but aggressive split
    # pins (bench harnesses use 4 MB) still shatter buckets into tiny
    # splits — measured at x200 under the old per-cell layout: 2528
    # tasks for 26 MB, 6 of 12 s wall on pure scheduling; coalesced, the
    # same probe runs ~4 s warm.
    idx = read_parquet(spark, f"{path}/cells").coalesce(
        spark.sparkContext.defaultParallelism
    )
    cands = idx.join(q_cells, ["bkt", "cid"])
    if exclude_self:
        cands = cands.filter(F.col("q_id") != F.col(id_col))
    scored = cands.withColumn("cos", cosine_expr("q_emb", emb_col))
    w = W.partitionBy("q_id").orderBy(F.desc("cos"), id_col)
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            "q_id",
            F.col(id_col).alias("nbr_id"),
            F.round("cos", 6).alias("cos_sim"),
        )
    )


def _ivf_probe_many_gemm(
    spark,
    path: str,
    queries: DataFrame,
    k: int,
    n_probe: int,
    id_col: str,
    emb_col: str,
    exclude_self: bool = True,
) -> DataFrame:
    """The bounded-Q batch-serving kernel (see ivf_index_probe_many):
    driver-side cell ranking (Q·C gemm — the single probe's argmax,
    Q-wide), statically pruned cells scan, one float64 gemm per Arrow
    batch scoring all queries at once, per-(batch, query) top-k with the
    boundary-tie lexsort idiom, tiny final merge window."""
    import pyarrow as pa

    from pyspark.sql import Window as W

    empty = "q_id long, nbr_id long, cos_sim double"
    qpdf = queries.select(
        F.col(id_col).alias("q_id"), F.col(emb_col).alias("q_emb")
    ).toPandas()
    cpdf = read_parquet(spark, f"{path}/centroids").toPandas()
    if not len(qpdf) or not len(cpdf):
        return spark.createDataFrame([], empty)
    if not np.issubdtype(qpdf["q_id"].to_numpy().dtype, np.integer):
        raise TypeError(
            "ivf_index_probe_many(broadcast_queries=True) requires an "
            f"integer {id_col}; got dtype {qpdf['q_id'].dtype}. The "
            "bounded-Q gemm contract collects Q driver-side and packs "
            "ids as int64 — use broadcast_queries=False (the default, "
            "fully distributed plan) for non-integer ids."
        )
    q_ids = qpdf["q_id"].to_numpy().astype(np.int64)
    Qm = np.stack(qpdf["q_emb"].to_numpy()).astype(np.float64)
    q_norms = np.sqrt((Qm * Qm).sum(axis=1))
    dim = Qm.shape[1]
    Cm = np.stack(cpdf["c_emb"].to_numpy()).astype(np.float64)
    c_norms = np.sqrt((Cm * Cm).sum(axis=1))
    cids_all = cpdf["cid"].to_numpy().astype(np.int64)
    with np.errstate(divide="ignore", invalid="ignore"):
        csims = (Qm @ Cm.T) / np.outer(
            np.maximum(q_norms, 1e-300), np.maximum(c_norms, 1e-300)
        )
    # per-query n_probe nearest cells, tie on cid asc — the single
    # probe's exact ordering, Q-wide
    nq = len(q_ids)
    probe_cells = np.empty((nq, min(n_probe, len(cids_all))), dtype=np.int64)
    for j in range(nq):
        order = np.lexsort((cids_all, -csims[j]))
        probe_cells[j] = cids_all[order[: probe_cells.shape[1]]]
    cell_union = np.unique(probe_cells)
    bkt_by_cid = dict(
        zip(cpdf["cid"].astype(int), cpdf["bkt"].astype(int))
    )
    bkts = sorted({bkt_by_cid[int(c)] for c in cell_union})
    # compact cid index -> allowed-query mask (C_union x Q bools; both
    # axes construction-bounded)
    cid_sorted = np.sort(cell_union)
    allow = np.zeros((len(cid_sorted), nq), dtype=bool)
    for j in range(nq):
        allow[np.searchsorted(cid_sorted, probe_cells[j]), j] = True

    scan = (
        read_parquet(spark, f"{path}/cells")
        .filter(F.col("bkt").isin(bkts))
        .filter(F.col("cid").isin([int(c) for c in cell_union]))
        .select(id_col, emb_col, "cid")
        .coalesce(spark.sparkContext.defaultParallelism)
    )

    def gen(batches):
        for b in batches:
            if b.num_rows == 0:
                continue
            ids = b.column(0)
            lst = b.column(1)
            if isinstance(lst, pa.ChunkedArray):
                lst = lst.combine_chunks()
            X = _flatten_embeddings(lst, b.num_rows, dim, emb_col)
            ids_np = ids.to_numpy(zero_copy_only=False).astype(np.int64)
            cid_np = b.column(2).to_numpy(zero_copy_only=False).astype(
                np.int64
            )
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = (X @ Qm.T) / np.outer(
                    np.sqrt((X * X).sum(axis=1)), q_norms
                )
            mask = allow[np.searchsorted(cid_sorted, cid_np)]
            if exclude_self:
                mask &= ids_np[:, None] != q_ids[None, :]
            cosm = np.where(mask & ~np.isnan(cos), cos, -np.inf)
            out_q, out_i, out_c = [], [], []
            kk = min(k, cosm.shape[0])
            for j in range(nq):
                col = cosm[:, j]
                if len(col) > kk:
                    kth = col[np.argpartition(-col, kk - 1)[:kk]].min()
                    cand = np.flatnonzero(col >= kth)
                else:
                    cand = np.arange(len(col))
                cand = cand[col[cand] > -np.inf]
                if not len(cand):
                    continue
                sel = cand[np.lexsort((ids_np[cand], -col[cand]))[:kk]]
                out_q.append(np.full(len(sel), q_ids[j], dtype=np.int64))
                out_i.append(ids_np[sel])
                out_c.append(col[sel])
            if not out_q:
                continue
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(out_q)),
                    pa.array(np.concatenate(out_i)),
                    pa.array(np.concatenate(out_c)),
                ],
                names=["q_id", "nbr_id", "cos"],
            )

    partial = scan.mapInArrow(gen, "q_id long, nbr_id long, cos double")
    w = W.partitionBy("q_id").orderBy(F.desc("cos"), "nbr_id")
    return (
        partial.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", "nbr_id", F.round("cos", 6).alias("cos_sim"))
    )


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int | None = 16,
    n_probe: int = 4,
    lloyd_iters: int = 2,
) -> DataFrame:
    """IVF approximate top-k: deterministic seed centroids (lowest vec_ids)
    → Lloyd refinement (posexplode + per-dimension avg, one shuffle per
    iteration) → inverted-list assignment → probe the ``n_probe`` nearest
    cells per query → exact cosine re-rank of candidates only.

    ``n_centroids=None`` derives ~sqrt(n) from a count (see
    :func:`ivf_centroids_for`); an explicit value is for tests/small data.
    ``emb``/``queries`` need (vec_id, embedding ARRAY<FLOAT>). At 100 TB
    the assignment is the only full pass; queries touch n_probe/n_centroids
    of the data."""
    from pyspark.sql import Window as W

    emb = emb.select("vec_id", "embedding").cache()
    centroids = _ivf_train(emb, n_centroids, lloyd_iters)
    inverted = _assign_nearest_centroid(emb, centroids).join(emb, "vec_id")
    q = queries.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
    q_cells = (
        q.crossJoin(F.broadcast(centroids))
        .withColumn("d", cosine_expr("q_emb", "c_emb"))
        .withColumn(
            "rk", F.row_number().over(W.partitionBy("q_id").orderBy(F.desc("d"), "cid"))
        )
        .filter(F.col("rk") <= n_probe)
        .select("q_id", "q_emb", "cid")
    )
    # No broadcast hint here, unlike ivf_index_probe_many: this op's query
    # set is a corpus FRACTION (unbounded at scale), and both join inputs
    # are derived (no file-stats misestimate to correct) — AQE picks the
    # build side from accurate runtime sizes, which is the right call.
    cands = q_cells.join(inverted, "cid").filter(F.col("q_id") != F.col("vec_id"))
    scored = cands.withColumn("cos", cosine_expr("q_emb", "embedding"))
    w = W.partitionBy("q_id").orderBy(F.desc("cos"), "vec_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", F.col("vec_id").alias("nbr_id"), F.round("cos", 6).alias("cos_sim"))
    )


def brute_force_topk(
    df: DataFrame,
    query: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k of every row in ``df`` against the single-row
    ``query`` (broadcast). Tie-break on id for determinism.

    The query norm is hoisted into the broadcast side (computed once, not
    re-folded per scan row) — the scan-side work is one dot + one norm fold
    per row."""
    q = F.broadcast(
        query.select(
            F.col(emb_col).alias("q_emb"),
            F.expr(f"sqrt({DOT.format(a=emb_col, b=emb_col)})").alias("q_norm"),
        )
    )
    cos = F.expr(
        f"{DOT.format(a=emb_col, b='q_emb')} / "
        f"(sqrt({DOT.format(a=emb_col, b=emb_col)}) * q_norm)"
    )
    scored = df.crossJoin(q).select(id_col, cos.alias("cos_sim"))
    return scored.orderBy(F.desc("cos_sim"), id_col).limit(k)


def brute_force_topk_fast(
    df: DataFrame,
    query: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Arrow-vectorized variant of :func:`brute_force_topk`: the cosine is a
    numpy matrix-vector product inside a scalar pandas UDF (one BLAS gemv
    per Arrow batch) instead of the interpreted higher-order fold. Same plan
    shape — one scan, no shuffle, TakeOrdered — but the per-row kernel runs
    ~10-100× faster, which is what matters at 100 TB where the fold's CPU
    constant dominates the scan.

    The single query vector is collected driver-side (it is a query
    *parameter*, like a literal) and closed over by the UDF. Results can
    differ from the fold in the last ulp (pairwise vs sequential summation);
    rounded to 6 dp they agree."""
    head = query.select(emb_col).head(1)
    if not head:  # empty query side (empty-partition contract): no matches
        return df.select(id_col).limit(0).withColumn(
            "cos_sim", F.lit(None).cast("double")
        )
    qvec = np.asarray(head[0][0], dtype=np.float64)
    q_norm = float(np.sqrt(qvec @ qvec))

    @F.pandas_udf("double")
    def _cos(embs: pd.Series) -> pd.Series:
        m = np.stack(embs.to_numpy()).astype(np.float64)
        dots = m @ qvec
        norms = np.sqrt((m * m).sum(axis=1))
        return pd.Series(dots / (norms * q_norm))

    scored = df.select(id_col, _cos(F.col(emb_col)).alias("cos_sim"))
    return scored.orderBy(F.desc("cos_sim"), id_col).limit(k)


def brute_force_topk_arrow(
    df: DataFrame,
    query: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """mapInArrow variant of :func:`brute_force_topk_fast` — the best
    exact Python-side kernel: the list column flattens to a contiguous
    float buffer WITHOUT per-row object assembly (the pandas kernel pays
    np.stack over an object array), one float64 gemm per batch, and a
    per-batch argpartition top-k so only k rows per Arrow batch cross
    back to the JVM (TakeOrdered input shrinks from n to k·batches).

    Measured asymptote (x200→x500 ladder, 400 k→1 M rows): 0.31 µs/row
    vs the pandas kernel's 0.38 and DuckDB's fused native 0.105 — the
    Python exact path is Arrow-TRANSFER-bound, not compute-bound (the
    gemm itself is ~0.01 µs/row), which is why the INDEXED path
    (ivf_index_probe) rather than any exact kernel is the scale answer.
    Compute runs in float64, so results agree with the fold kernels at
    6 dp and hash-match the same oracle."""
    import pyarrow as pa

    head1 = query.select(emb_col).head(1)
    if not head1:  # empty query side (empty-partition contract)
        return df.select(id_col).limit(0).withColumn(
            "cos_sim", F.lit(None).cast("double")
        )
    qvec = np.asarray(head1[0][0], dtype=np.float64)
    q_norm = float(np.sqrt(qvec @ qvec))
    dim = len(qvec)

    def gen(batches):
        for b in batches:
            if b.num_rows == 0:
                continue
            ids = b.column(0)
            lst = b.column(1)
            if isinstance(lst, pa.ChunkedArray):
                lst = lst.combine_chunks()
            X = _flatten_embeddings(lst, b.num_rows, dim, emb_col)
            dots = X @ qvec
            norms = np.sqrt((X * X).sum(axis=1))
            cos = dots / (norms * q_norm)
            # per-batch top-k WITH the id tie-break: bare argpartition on
            # -cos is free to keep any k of a >k-way tie at the k-th
            # cosine, dropping the row the global ORDER BY cos DESC, id
            # would keep BEFORE it ever reaches the orderBy. A full-batch
            # lexsort fixes that but costs O(n log n) in the hot exact
            # path — instead argpartition to a candidate set (the top-k
            # block PLUS every boundary tie at the k-th cosine, the only
            # rows the id tie-break can reorder), then lexsort just the
            # candidates: near-linear, same k rows as the global sort.
            ids_np = ids.to_numpy(zero_copy_only=False)
            idx = _batch_topk_indices(ids_np, cos, k)
            yield pa.RecordBatch.from_arrays(
                [ids.take(pa.array(idx)), pa.array(cos[idx])],
                names=[id_col, "cos_sim"],
            )

    scored = df.select(id_col, emb_col).mapInArrow(
        gen, f"{id_col} long, cos_sim double"
    )
    return scored.orderBy(F.desc("cos_sim"), id_col).limit(k)


def _batch_topk_indices(ids_np, cos, k: int):
    """Top-k row indices of one batch under ORDER BY cos DESC, id — the
    tie-break block shared by the exact gemm kernels (see the comment in
    :func:`brute_force_topk_arrow` for why bare argpartition is wrong)."""
    if len(cos) > k:
        kth = cos[np.argpartition(-cos, k - 1)[:k]].min()
        # a NaN cosine (zero-norm vector) poisons the boundary
        # min; kth != kth detects it and falls back to the full
        # lexsort, whose NaN-last order matched the old kernel
        cand = (
            np.flatnonzero(cos >= kth)
            if kth == kth
            else np.arange(len(cos))
        )
    else:
        cand = np.arange(len(cos))
    return cand[np.lexsort((ids_np[cand], -cos[cand]))[:k]]


def _unpack_vectors(arr, num_rows: int, dim: int, col_name: str, widen=True):
    """(num_rows, dim) matrix from a packed little-endian float32
    ``binary`` column (tables.load_packed_embeddings), REFUSING null or
    ragged slots — the :func:`_flatten_embeddings` contract for the
    packed layout. Zero-copy: the binary column is one contiguous data
    buffer plus an offsets array, so the unpack is an ``np.frombuffer``
    view + reshape (guide §4.2). ``widen=True`` (the pre-r13 shape)
    additionally materializes the float64 copy of the whole batch;
    ``widen=False`` returns the float32 VIEW — callers widen per cache-
    sized row block instead (see _packed_dots_norms)."""
    if arr.null_count:
        raise ValueError(
            f"{arr.null_count} null {col_name} slots in Arrow batch; "
            "the packed gemm kernel requires a null-free vector column "
            "(load_packed_embeddings guarantees this for its own layout)."
        )
    off = np.frombuffer(arr.buffers()[1], dtype=np.int32)[
        arr.offset : arr.offset + num_rows + 1
    ]
    if (np.diff(off) != dim * 4).any():
        raise ValueError(
            f"ragged/mis-sized packed {col_name} cells in Arrow batch "
            f"(expected {dim * 4} bytes per row)."
        )
    data = np.frombuffer(arr.buffers()[2], dtype=np.uint8)
    flat = data[off[0] : off[-1]].view("<f4")
    X = flat.reshape(-1, dim)
    return X.astype(np.float64) if widen else X


# Row-block size for the blocked float64 widen: 8192 × dim-64 float64 is
# a 4 MB working set — cache-resident, so the widened block is consumed
# by dgemv/the norm kernel before it is evicted, where the full-batch
# astype writes (and re-reads) the whole 2×-sized copy through memory.
_WIDEN_BLOCK_ROWS = 8192


def _packed_dots_norms(X4, qvec):
    """(dots, norms) in float64 from a float32 matrix view, widening one
    cache-sized row block at a time (round-13 verdict item 4 — removes
    the full-batch float64 materialization). BIT-IDENTICAL to
    ``X64 @ q`` / ``(X64*X64).sum(axis=1)`` on the full copy: each row's
    dot/norm is computed by the same BLAS/pairwise kernel on the same
    widened doubles, and row-block splitting cannot change a row-local
    reduction (asserted per batch by the x800 widen A/B's verify
    kernel on the real corpus, OPTIMIZATION_r13.md item 4; the einsum
    alternative was measured faster still but NOT bit-identical —
    recorded negative)."""
    n = X4.shape[0]
    dots = np.empty(n)
    norms = np.empty(n)
    for s in range(0, n, _WIDEN_BLOCK_ROWS):
        Xb = X4[s : s + _WIDEN_BLOCK_ROWS].astype(np.float64)
        dots[s : s + _WIDEN_BLOCK_ROWS] = Xb @ qvec
        norms[s : s + _WIDEN_BLOCK_ROWS] = (Xb * Xb).sum(axis=1)
    return dots, np.sqrt(norms)


def brute_force_topk_packed(
    df_packed: DataFrame,
    query: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "vec",
    emb_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """:func:`brute_force_topk_arrow` over the PACKED vector layout
    (tables.load_packed_embeddings) — same float64 gemm, same per-batch
    argpartition+lexsort top-k (shared :func:`_batch_topk_indices`),
    but the corpus crosses the JVM→Python boundary as one binary cell
    per row instead of a float list. The kernel was measured 100 %
    transfer-bound at x800 (pass-through == full kernel wall), and the
    binary column's boundary cost is 2.8x lower (0.51 vs 1.41 s for
    6.4 M dim-64 vectors), so the packed form attacks exactly the
    measured floor. float32 bits round-trip the pack exactly, so
    cosines are bit-identical to the list-column kernels and hash-match
    the same oracle. ``query`` is the usual (validated) list-column
    side — only the corpus is packed."""
    import pyarrow as pa

    head1 = query.select(emb_col).head(1)
    if not head1:  # empty query side (empty-partition contract)
        return df_packed.select(id_col).limit(0).withColumn(
            "cos_sim", F.lit(None).cast("double")
        )
    qvec = np.asarray(head1[0][0], dtype=np.float64)
    q_norm = float(np.sqrt(qvec @ qvec))
    dim = len(qvec)

    def gen(batches):
        for b in batches:
            if b.num_rows == 0:
                continue
            ids = b.column(0)
            arr = b.column(1)
            if isinstance(arr, pa.ChunkedArray):
                arr = arr.combine_chunks()
            X4 = _unpack_vectors(arr, b.num_rows, dim, vec_col, widen=False)
            dots, norms = _packed_dots_norms(X4, qvec)
            cos = dots / (norms * q_norm)
            ids_np = ids.to_numpy(zero_copy_only=False)
            idx = _batch_topk_indices(ids_np, cos, k)
            yield pa.RecordBatch.from_arrays(
                [ids.take(pa.array(idx)), pa.array(cos[idx])],
                names=[id_col, "cos_sim"],
            )

    scored = df_packed.select(id_col, vec_col).mapInArrow(
        gen, f"{id_col} long, cos_sim double"
    )
    return scored.orderBy(F.desc("cos_sim"), id_col).limit(k)


def brute_force_topk_unrolled(
    df: DataFrame,
    query: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Codegen-unrolled variant of :func:`brute_force_topk` for plan-time-
    known dimensionality: the query vector is collected driver-side (it is a
    query *parameter*) and the dot/norm folds are emitted as straight-line
    ``e[0]*q0 + e[1]*q1 + …`` expressions — whole-stage-codegen-able
    arithmetic with the literals constant-folded, no interpreted lambda and
    no second job for a broadcast build. Addition order is the same
    sequential left fold as the HOF kernel, so results are bit-identical.

    Right-sized for moderate dims (≤ a few hundred; the expression tree is
    O(dim)). For high-dim embeddings prefer :func:`brute_force_topk_fast`
    (Arrow + BLAS), whose per-batch overhead amortizes at real data sizes.
    """
    head1 = query.select(emb_col).head(1)
    if not head1:  # empty query side (empty-partition contract): no matches
        return df.select(id_col).limit(0).withColumn(
            "cos_sim", F.lit(None).cast("double")
        )
    head = head1[0][0]
    qvec = [float(x) for x in head]
    q_norm = sum(x * x for x in qvec) ** 0.5
    dot_q = " + ".join(
        f"CAST({emb_col}[{i}] AS DOUBLE)*CAST({qvec[i]!r} AS DOUBLE)"
        for i in range(len(qvec))
    )
    norm_e = " + ".join(
        f"CAST({emb_col}[{i}] AS DOUBLE)*CAST({emb_col}[{i}] AS DOUBLE)"
        for i in range(len(qvec))
    )
    cos = F.expr(dot_q) / (F.sqrt(F.expr(norm_e)) * F.lit(q_norm))
    scored = df.select(id_col, cos.alias("cos_sim"))
    return scored.orderBy(F.desc("cos_sim"), id_col).limit(k)


def ann_lsh_multiprobe_topk(
    emb: DataFrame,
    k: int = 3,
    target_bucket: int = 16,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    queries: DataFrame | None = None,
) -> DataFrame:
    """Multiprobe sign-LSH k-NN (Lv et al.): the probe side visits its own
    bucket AND every Hamming-1 neighbor (one exploded row per flipped
    plane), so a true neighbor separated by a single unlucky hyperplane is
    still found. The payoff is the plane/recall trade: multiprobe affords
    NARROWER buckets (here target ~16 vs single-probe's ~64) for the same
    recall, so the in-bucket re-rank shrinks while the probe side grows
    only by the constant factor (1 + planes) — the same economics as the
    geo join's 3x3 neighborhood explode. Each ordered pair matches at
    most once (the base bucket is fixed; the probe set is distinct), so
    no dedup pass is needed.

    ``queries`` (round-12, recall-ladder escalation tier): when given,
    only that query set probes — the serving shape (the index side is
    still the full corpus; plane count is still sized from the corpus).
    Default None keeps the all-pairs kNN contract."""
    from pyspark.sql import Window as W

    n = emb.count()
    head = emb.select(emb_col).head(1)
    dim = len(head[0][0]) if head else 0
    n_planes = lsh_planes_for(n, target_bucket)
    planes = random_hyperplanes(dim=dim, n_planes=n_planes)
    max_bucket_size = 16 * target_bucket
    bucketed = emb.withColumn("bucket", signature_bucket(emb_col, planes))
    bucket_n = F.count("*").over(W.partitionBy("bucket"))
    base = (
        bucketed.withColumn("bucket_n", bucket_n)
        .filter(F.col("bucket_n") <= max_bucket_size)
        .select(
            F.col(id_col).alias("nbr_id"), "bucket", F.col(emb_col).alias("emb_b")
        )
    )
    probes = F.array(
        F.col("bucket"),
        *[F.expr(f"int(bucket) ^ {1 << i}").alias(f"p{i}") for i in range(n_planes)],
    )
    probe_src = (
        bucketed
        if queries is None
        else queries.withColumn("bucket", signature_bucket(emb_col, planes))
    )
    probe = probe_src.select(
        F.col(id_col).alias("vec_id"),
        F.col(emb_col).alias("emb_a"),
        F.explode(probes).alias("bucket"),
    )
    pairs = (
        probe.join(base, "bucket")
        .filter(F.col("vec_id") != F.col("nbr_id"))
        .withColumn("cos", cosine_expr("emb_a", "emb_b"))
    )
    w = W.partitionBy("vec_id").orderBy(F.desc("cos"), "nbr_id")
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("vec_id", "nbr_id", F.round("cos", 6).alias("cos_sim"))
    )
