"""Text-analysis + deduplication operators (SURVEY.md §2.b LLM-pipeline
extensions, plus the wider dedup family from the north star: exact hash,
MinHash-LSH, SimHash, n-gram Jaccard, plus language-ID / quality scoring /
fingerprinting).

Run over the ``documents`` table. Everything except the LSH family is
hash-checked against DuckDB; MinHash/SimHash are approximate-by-design and
rows-checked here, with recall proven on synthetic near-dups in
tests/test_dedup.py (SURVEY §7.3.5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from aced_etl_pod_spark.functions.dedup import (
    duck_minhash_pairs_cte,
    duck_simhash_pairs_cte,
    minhash_candidate_pairs,
    simhash_near_pairs,
)
from aced_etl_pod_spark.functions.text import ngrams_expr, normalize
from aced_etl_pod_spark.operators.util import finite, finite_sql, money, money_sql
from aced_etl_pod_spark.registry import op
from aced_etl_pod_spark.tables import load, read_parquet

# English-ish stopword set used by the language-ID heuristic (tiny, inlined
# into the plan as a literal array — broadcast-free).
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

# DuckDB mirror of functions.text.NORMALIZE_SQL (DuckDB regexp_replace needs
# the 'g' flag; Spark's replaces all matches by default).
DUCK_NORMALIZE = (
    "trim(regexp_replace(regexp_replace(lower({col}), '[^a-z0-9 ]', '', 'g'),"
    " ' +', ' ', 'g'))"
)


@op(
    "text_tokenize_stats",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(len(string_split(text, ' '))), 2) AS avg_tokens,
           CAST(max(len(string_split(text, ' '))) AS BIGINT) AS max_tokens,
           round(avg(n_chars), 2) AS avg_chars
    FROM documents
    GROUP BY lang
    """,
    tags=("text", "bench"),
)
def text_tokenize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + per-language stats (BASELINE B7), with the token
    kernel DISPATCHED on corpus size (round-10; the same size-dispatch
    idiom as the unrolled-vs-BLAS cosine rerank):

    * below ~100 k docs: JVM ``size(split(text, ' '))`` — whole-stage
      codegen, no Python worker round-trip; the Arrow path's transfer
      overhead doesn't amortize here (x10 A/B: Arrow 1.18x SLOWER).
    * at/above: the Arrow ``count_substring`` kernel — one vectorized
      C++ pass with zero per-row allocation vs the JVM split's String[]
      per row; measured 0.58x at x40 and 0.49x at x200 (PLANS.md
      round-10). Since round 11 the kernel is
      :func:`_tokenize_partial_arrow`: same count, plus per-batch
      partial aggregation so the return transfer is rows-per-lang, not
      rows-per-doc (x800 1.56 -> 1.38 s; PLANS.md round-11 q7 residue).
      Identical
      counts by construction, same oracle, hash-verified both ways.

    The r9 A/B already rejected the JVM allocation-free rewrite
    (length-replace arithmetic, 30% slower — split has a fast
    single-char path); the Arrow kernel is the one that actually beats
    it. The dispatch count comes from parquet FOOTERS
    (tables.table_row_count, driver-side, lru-cached) — df.count() here
    would be a real scan job hidden in plan construction (round-11
    advice)."""
    from aced_etl_pod_spark.tables import table_row_count

    if table_row_count(sf_dir, "documents") >= _TOKENIZE_INGEST_MIN_DOCS:
        # round-12: past ~1 M docs the op answers from the tokenize-at-
        # ingest layout (text_tokenize_stats_ingest) — 72% of the Arrow
        # kernel's wall was transfer of the text bytes INTO Python
        # (PLANS.md round-11 q7 residue decomposition), so stop shipping
        # the bytes at
        # query time entirely, the q1/q6 storage-layer move.
        return text_tokenize_stats_ingest(spark, sf_dir)
    d = load(spark, sf_dir, "documents")
    if table_row_count(sf_dir, "documents") >= _ARROW_TOKENIZE_MIN_DOCS:
        # round-11: the kernel also PARTIALLY AGGREGATES per batch
        # (_tokenize_partial_arrow), so the return transfer and the JVM
        # agg see one row per (batch, lang), not per doc. Integer-sum
        # partials keep avg exact.
        partial = d.select("lang", "text", "n_chars").mapInArrow(
            _tokenize_partial_arrow,
            "lang string, n_rows long, s_ntok long, c_ntok long,"
            " m_ntok long, s_chars long, c_chars long",
        )
        return partial.groupBy("lang").agg(
            F.sum("n_rows").alias("n_docs"),
            F.round(F.sum("s_ntok") / F.sum("c_ntok"), 2).alias("avg_tokens"),
            F.max("m_ntok").cast("long").alias("max_tokens"),
            F.round(F.sum("s_chars") / F.sum("c_chars"), 2).alias("avg_chars"),
        )
    # NULL-text guard: non-ANSI Spark's size(split(NULL)) is -1
    # (legacy sizeOfNull), which silently POISONS avg(); DuckDB's
    # len(NULL) is NULL and drops out of avg(). Null docs count in
    # n_docs only.
    ntok = F.when(
        F.col("text").isNotNull(), F.size(F.split(F.col("text"), " "))
    )
    pre = d.select("lang", ntok.alias("ntok"), "n_chars")
    return (
        pre.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("ntok"), 2).alias("avg_tokens"),
            F.max("ntok").cast("long").alias("max_tokens"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
    )


# x10 (50 k docs): Arrow 1.18x slower; x40 (200 k): 0.58x — the transfer
# overhead amortizes somewhere between; 100 k splits the bracket
_ARROW_TOKENIZE_MIN_DOCS = 100_000

#: Past this corpus size the one-time tokenize-at-ingest pass amortizes
#: in ~1 query (x200 A/B, PLANS.md "Round-12: q7 falls the same way") —
#: below it the job floor
#: dominates and the Arrow kernel is already at that floor.
_TOKENIZE_INGEST_MIN_DOCS = 1_000_000


def _token_stats_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Tokenize-at-ingest layout for the documents table (round-12
    verdict item 4 — q7's 72%-of-wall Arrow transfer of text bytes made
    unnecessary, the exact posture that answered q6: parse/tokenize once
    at landing, serve hot queries columnar).

    One pass over documents publishes two artifacts under one source
    fingerprint:

    * ``docs/`` — the SILVER per-document stats (doc_id, lang, ntok,
      n_chars): the generic artifact every downstream length filter /
      seq-pack / quality gate reads instead of re-tokenizing;
    * ``lang/`` — the GOLD per-lang decomposable partials (row count,
      integer sum/count/max of tokens, sum/count of chars) derived from
      silver: metadata-sized (one row per language), answers the stats
      query at the job floor.

    ntok uses the same JVM ``size(split(text, ' '))`` count the
    query-path kernels compute (count_substring+1 ≡ split-size for
    non-null text; NULL text → NULL ntok, counted in n only). Published
    through :func:`tables.fixture`."""
    from aced_etl_pod_spark.tables import fixture

    def build(tmp):
        d = load(spark, sf_dir, "documents")
        ntok = F.when(
            F.col("text").isNotNull(),
            F.size(F.split(F.col("text"), " ")).cast("long"),
        )
        silver = d.select(
            "doc_id", "lang", ntok.alias("ntok"), "n_chars"
        )
        silver.write.mode("overwrite").parquet(f"{tmp}/docs")
        gold = (
            read_parquet(spark, f"{tmp}/docs")
            .groupBy("lang")
            .agg(
                F.count("*").alias("n"),
                F.sum("ntok").alias("s_ntok"),
                F.count("ntok").alias("c_ntok"),
                F.max("ntok").alias("m_ntok"),
                F.sum("n_chars").alias("s_chars"),
                F.count("n_chars").alias("c_chars"),
            )
            .coalesce(1)
        )
        gold.write.mode("overwrite").parquet(f"{tmp}/lang")

    return fixture("toksum_documents", sf_dir, ("documents.parquet",), build)


@op(
    "text_tokenize_stats_ingest",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(len(string_split(text, ' '))), 2) AS avg_tokens,
           CAST(max(len(string_split(text, ' '))) AS BIGINT) AS max_tokens,
           round(avg(n_chars), 2) AS avg_chars
    FROM documents
    GROUP BY lang
    """,
    tags=("text", "ingest", "scale", "extra"),
)
def text_tokenize_stats_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text_tokenize_stats answered from the tokenize-at-ingest layout
    (:func:`_token_stats_fixture`) — zero text bytes move at query time:
    the query reads the per-lang GOLD partials (one row per language)
    and finalizes sums/counts/max, all integer-exact, so avg = s/c has
    no fp fold-order drift at any scale. The oracle re-tokenizes BASE
    documents in DuckDB, so the driver hash check proves the ingest
    artifact round-trips the split-size token count exactly (NULL-text
    docs count in n_docs only — the same guard the scan plans carry).
    At 100 TB this is how token statistics are actually served: the
    corpus tokenizes once at landing (where quality gates already read
    every byte), per-doc counts land next to the documents as the
    silver table, and recurring stats are metadata reads."""
    path = _token_stats_fixture(spark, sf_dir)
    g = read_parquet(spark, f"{path}/lang")
    return g.groupBy("lang").agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.round(F.sum("s_ntok") / F.sum("c_ntok"), 2).alias("avg_tokens"),
        F.max("m_ntok").cast("long").alias("max_tokens"),
        F.round(F.sum("s_chars") / F.sum("c_chars"), 2).alias("avg_chars"),
    )


def _tokenize_partial_arrow(batches):
    """Round-11 q7 kernel: the Arrow ``count_substring`` token count PLUS
    per-batch partial aggregation — each Arrow batch emits one row per
    lang (count_all / integer sum / count / max partials) instead of one
    row per document, so the Python->JVM return transfer and the
    downstream group-agg shrink by ~batch_size/n_langs. The decomposition
    (PLANS.md "Round-11: q7 residue") showed 72% of the kernel op's wall
    is Arrow transfer
    of the text bytes INTO Python (irreducible: the strings are the
    input); this claws back the return leg: x800 1.56 -> 1.38 s (ratio
    6.8x -> 6.0x), neutral at x200. Integer sums make the final
    avg = sum/count EXACT (no fp summation-order drift). Null semantics:
    count_all counts every row (null lang is its own group, like Spark);
    sum/count/max skip null tokens — the same when(isNotNull) the JVM
    branch guards."""
    import pyarrow as pa
    import pyarrow.compute as pc

    for b in batches:
        if b.num_rows == 0:
            continue
        ntok = pc.add(pc.count_substring(b.column("text"), " "), 1).cast(
            pa.int64()
        )
        t = pa.table(
            {
                "lang": b.column("lang"),
                "ntok": ntok,
                "n_chars": b.column("n_chars"),
            }
        )
        g = t.group_by("lang").aggregate(
            [
                ([], "count_all"),
                ("ntok", "sum"),
                ("ntok", "count"),
                ("ntok", "max"),
                ("n_chars", "sum"),
                ("n_chars", "count"),
            ]
        )
        yield pa.RecordBatch.from_arrays(
            [
                g.column("lang").combine_chunks(),
                g.column("count_all").cast(pa.int64()).combine_chunks(),
                g.column("ntok_sum").cast(pa.int64()).combine_chunks(),
                g.column("ntok_count").cast(pa.int64()).combine_chunks(),
                g.column("ntok_max").cast(pa.int64()).combine_chunks(),
                g.column("n_chars_sum").cast(pa.int64()).combine_chunks(),
                g.column("n_chars_count").cast(pa.int64()).combine_chunks(),
            ],
            ["lang", "n_rows", "s_ntok", "c_ntok", "m_ntok", "s_chars", "c_chars"],
        )


def _tokenize_ntok_arrow(batches):
    """Arrow token-count kernel: ``count_substring(text, ' ') + 1`` ==
    ``size(split(text, ' '))`` for every non-null string (a single-char
    delimiter yields separators+1 fields, empties included); null text
    propagates to a null count. Used by the explicit
    text_tokenize_stats_arrow op; text_tokenize_stats' big-corpus branch
    runs :func:`_tokenize_partial_arrow` instead."""
    import pyarrow as pa
    import pyarrow.compute as pc

    for b in batches:
        ntok = pc.add(pc.count_substring(b.column("text"), " "), 1).cast(
            pa.int32()
        )
        yield pa.RecordBatch.from_arrays(
            [b.column("lang"), ntok, b.column("n_chars")],
            ["lang", "ntok", "n_chars"],
        )


@op(
    "text_tokenize_stats_arrow",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(len(string_split(text, ' '))), 2) AS avg_tokens,
           CAST(max(len(string_split(text, ' '))) AS BIGINT) AS max_tokens,
           round(avg(n_chars), 2) AS avg_chars
    FROM documents
    GROUP BY lang
    """,
    tags=("text", "extra"),
)
def text_tokenize_stats_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text_tokenize_stats' exact query with the token count computed in
    an ARROW kernel (round-10 verdict item 6's A/B contender):
    ``pyarrow.compute.count_substring(text, ' ') + 1`` is equal to
    ``size(split(text, ' '))`` for every non-null string (split on a
    single-char delimiter yields separators+1 fields, including empty
    ones), evaluated as one vectorized C++ pass with zero per-row
    allocation — vs the JVM split which materializes a String[] per row
    just to take its length. Null text propagates to a null count, the
    same when(isNotNull) semantics the original guards. The group-agg
    downstream is identical, so the two ops measure only the
    tokenization kernel + Arrow transfer against whole-stage codegen.
    Same oracle as text_tokenize_stats — whose big-corpus branch uses
    the same count_substring count (since round 11 fused with per-batch
    partial aggregation, :func:`_tokenize_partial_arrow`); this op pins
    the plain per-doc Arrow kernel unconditionally so that kernel stays
    measurable at any size."""
    d = load(spark, sf_dir, "documents").select("lang", "text", "n_chars")
    return (
        d.mapInArrow(_tokenize_ntok_arrow, "lang string, ntok int, n_chars long")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("ntok"), 2).alias("avg_tokens"),
            F.max("ntok").cast("long").alias("max_tokens"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
    )


@op(
    "text_normalize",
    oracle=f"""
    SELECT doc_id, {DUCK_NORMALIZE.format(col="text")} AS norm
    FROM documents
    """,
    tags=("text",),
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lower / strip punctuation / collapse whitespace (NB: DuckDB
    regexp_replace needs the 'g' flag; Spark replaces all matches)."""
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", normalize(F.col("text")).alias("norm"))


@op(
    "text_ngram_freq",
    oracle="""
    WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
    grams AS (
      SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1]))
               AS bigram
      FROM toks
    )
    SELECT bigram, CAST(count(*) AS BIGINT) AS n
    FROM grams GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 20
    """,
    tags=("text",),
)
def text_ngram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k word bigrams with total-order tie-break (count desc, gram asc)."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(F.explode(ngrams_expr("split(text, ' ')", 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "bigram")
        .limit(20)
    )


@op(
    "dedup_exact_hash",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT sha256(text)) AS BIGINT) AS n_distinct,
           min(sha256(text)) AS min_hash
    FROM documents
    GROUP BY lang
    """,
    tags=("text", "dedup"),
)
def dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content-hash dedup accounting (sha256 both engines; the
    groupBy-on-digest pattern scales to 100 TB because only 32-byte digests
    shuffle, never the documents)."""
    d = load(spark, sf_dir, "documents")
    h = F.sha2("text", 256)
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(h).alias("n_distinct"),
        F.min(h).alias("min_hash"),
    )


# Full oracle since round 6: the minhash family moved from xxhash64 to
# sha256-derived universal hashing (functions/dedup.py), so the whole
# LSH index — signatures, band buckets, mega-bucket cap, Jaccard verify —
# replays deterministically in DuckDB. The recall tests in
# tests/test_dedup.py remain the semantic gate; this pins the bits.
DEDUP_MINHASH_LSH_ORACLE = f"""
    WITH {duck_minhash_pairs_cte()}
    SELECT id_a, id_b, jaccard FROM mh_pairs
"""


@op("dedup_minhash_lsh", oracle=DEDUP_MINHASH_LSH_ORACLE,
    tags=("text", "dedup", "approx"))
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidate pairs. 32 universal hashes over a
    31-bit sha256 base hash × 8 bands; word-3-gram shingles; exact
    Jaccard ≥ 0.5 verify on surviving candidates. Full hash oracle
    (DEDUP_MINHASH_LSH_ORACLE replays the index build); recall proven on
    synthetic near-dups in tests/test_dedup.py."""
    d = load(spark, sf_dir, "documents")
    return minhash_candidate_pairs(d, "doc_id", "text")


DEDUP_SIMHASH_ORACLE = f"""
    WITH {duck_simhash_pairs_cte()}
    SELECT id_a, id_b, hamming FROM sh_pairs
"""


@op("dedup_simhash", oracle=DEDUP_SIMHASH_ORACLE,
    tags=("text", "dedup", "approx", "extra"))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 64-bit sign-sum signature over sha256
    chunk bits, multi-block-pair blocking with a recall GUARANTEE for
    Hamming ≤ 7, bit_count verify. Full hash oracle since round 6
    (DEDUP_SIMHASH_ORACLE replays votes, block keys, and the Hamming
    verify); recall proven in tests/test_dedup.py."""
    d = load(spark, sf_dir, "documents")
    return simhash_near_pairs(d, "doc_id", "text")


@op(
    "dedup_ngram_jaccard",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS toks
      FROM documents
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_filter(a.toks, x -> list_contains(b.toks, x))) AS inter,
             len(a.toks) + len(b.toks)
               - len(list_filter(a.toks, x -> list_contains(b.toks, x))) AS uni
      FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           round(CAST(inter AS DOUBLE) / uni, 4) AS jaccard
    FROM pairs
    WHERE CAST(inter AS DOUBLE) / uni >= 0.85
    """,
    tags=("text", "dedup", "extra"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard pairs (threshold 0.85) via PPJoin-style
    PREFIX FILTERING (Xiao et al., WWW'08) — not an all-pairs product:
    tokens are globally ordered by ascending document frequency; if
    J(A,B) ≥ τ their (n − ⌈τ·n⌉ + 1)-prefixes under that order MUST share
    a token (pigeonhole on the suffix), so candidates are generated by an
    equi-join on PREFIX postings only — the rarest ~15% of each doc's
    tokens, which is what keeps join buckets small even though common
    tokens (stopwords) are shared by every document. Survivors are then
    verified EXACTLY with array_intersect, so the result set is identical
    to the naive form the DuckDB oracle still computes (the scale ladder
    measured the naive plan at 27× cost for 10× data; this plan removes
    the quadratic candidate step while keeping exactness — unlike minhash
    banding, which would trade recall).

    Plan: postings → df count (broadcast back) → per-doc (df, token) sort
    → prefix explode → equi-join on (token, lang) → distinct pairs →
    verify join. At 100 TB the df table join becomes a shuffle join and a
    hot-prefix cap bounds the worst bucket; the verify stage touches only
    true candidates."""
    TAU = 0.85
    d = load(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", "lang", F.array_distinct(F.split("text", " ")).alias("toks")
    )
    # explode_OUTER + isNotNull: a plain explode lets Catalyst infer
    # size(toks) > 0 and re-evaluate array_distinct(split(...)) inside
    # the scan filter (docs/SCALE.md §11); empty docs have no tokens to
    # emit either way, so the row set is identical.
    post = t.select(
        "doc_id", "lang", F.explode_outer("toks").alias("tok")
    ).filter(F.col("tok").isNotNull())
    dfreq = post.groupBy("tok").agg(F.count("*").alias("df"))
    ranked = (
        post.join(dfreq, "tok")
        .groupBy("doc_id", "lang")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("df"), F.col("tok")))
            ).alias("s")
        )
    )
    n = F.size("s")
    plen = n - F.ceil(n * TAU).cast("int") + 1
    pref = ranked.select(
        "doc_id", "lang", F.explode(F.slice("s", 1, plen)).alias("p")
    ).select("doc_id", "lang", F.col("p.tok").alias("tok"))
    cand = (
        pref.alias("a")
        .join(
            pref.alias("b"),
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )
    va = t.select(F.col("doc_id").alias("id_a"), F.col("toks").alias("toks_a"))
    vb = t.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("toks_b"))
    pairs = cand.join(va, "id_a").join(vb, "id_b")
    inter = F.size(F.array_intersect("toks_a", "toks_b")).cast("double")
    uni = (F.size("toks_a") + F.size("toks_b")).cast("double") - inter
    jac = inter / uni
    return (
        pairs.withColumn("jaccard", F.round(jac, 4))
        .filter(jac >= TAU)
        .select("id_a", "id_b", "jaccard")
    )


@op(
    "text_langid",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(string_split({DUCK_NORMALIZE.format(col="text")}, ' '),
                    x -> list_contains({list(STOPWORDS)!r}::VARCHAR[], x))) AS DOUBLE)
               / len(string_split(text, ' ')) AS stop_ratio
      FROM documents
    )
    SELECT doc_id, lang, round(stop_ratio, 4) AS stop_ratio,
           CASE WHEN stop_ratio >= 0.1 THEN 'en_like' ELSE 'other' END AS guess
    FROM scored
    """,
    tags=("text", "extra"),
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: stopword-hit ratio against an inlined English
    stoplist → threshold classify (the n-gram-profile approach reduced to
    its simplest deterministic form)."""
    d = load(spark, sf_dir, "documents")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    toks = F.split(normalize(F.col("text")), " ")
    # stopword OCCURRENCES (not distinct hits), mirroring list_filter
    hits = F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x)))
    # -1/-1 = 1.0 for NULL text under non-ANSI size() — gate so null
    # docs get NULL ratio → 'other', as in the oracle's CASE
    ratio = F.when(
        F.col("text").isNotNull(),
        hits.cast("double") / F.size(F.split("text", " ")),
    )
    return d.select(
        "doc_id",
        "lang",
        F.round(ratio, 4).alias("stop_ratio"),
        F.when(ratio >= 0.1, "en_like").otherwise("other").alias("guess"),
    )


@op(
    "text_quality_score",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS DOUBLE) AS ntok,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS nuniq,
             CAST(n_chars AS DOUBLE) AS nchar
      FROM documents
    )
    SELECT doc_id,
           CAST(ntok AS BIGINT) AS n_tokens,
           (CASE WHEN abs(CAST(nuniq / ntok AS DOUBLE)) < 1e10 THEN CAST(round(CAST(CAST(nuniq / ntok AS DOUBLE) AS DECIMAL(18,8)), 4) AS DOUBLE) ELSE CAST(nuniq / ntok AS DOUBLE) END) AS uniq_ratio,
           (CASE WHEN abs(CAST(nchar / ntok AS DOUBLE)) < 1e10 THEN CAST(round(CAST(CAST(nchar / ntok AS DOUBLE) AS DECIMAL(18,8)), 4) AS DOUBLE) ELSE CAST(nchar / ntok AS DOUBLE) END) AS avg_tok_len,
           (CASE WHEN abs(CAST(0.5 * (nuniq / ntok) + 0.3 * least(ntok / 20, 1.0)
                 + 0.2 * least(nchar / ntok / 8, 1.0) AS DOUBLE)) < 1e10 THEN CAST(round(CAST(CAST(0.5 * (nuniq / ntok) + 0.3 * least(ntok / 20, 1.0)
                 + 0.2 * least(nchar / ntok / 8, 1.0) AS DOUBLE) AS DECIMAL(18,8)), 4) AS DOUBLE) ELSE CAST(0.5 * (nuniq / ntok) + 0.3 * least(ntok / 20, 1.0)
                 + 0.2 * least(nchar / ntok / 8, 1.0) AS DOUBLE) END)
             AS quality
    FROM m
    """,
    tags=("text", "extra"),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: lexical diversity + length saturation +
    token-length saturation, weighted (the length/punct/stopword-ratio
    family of pretraining-data filters)."""
    d = load(spark, sf_dir, "documents")
    # size(split(NULL)) = -1 under non-ANSI Spark — gate on text so null
    # docs emit NULL stats (DuckDB's len(NULL) does the same there).
    nn = F.col("text").isNotNull()
    ntok = F.when(nn, F.size(F.split("text", " "))).cast("double")
    nuniq = F.when(
        nn, F.size(F.array_distinct(F.split("text", " ")))
    ).cast("double")
    nchar = F.col("n_chars").cast("double")
    quality = (
        0.5 * (nuniq / ntok)
        + 0.3 * F.least(ntok / 20, F.lit(1.0))
        + 0.2 * F.least(nchar / ntok / 8, F.lit(1.0))
    )
    return d.select(
        "doc_id",
        ntok.cast("long").alias("n_tokens"),
        money(nuniq / ntok, 4, 8).alias("uniq_ratio"),
        money(nchar / ntok, 4, 8).alias("avg_tok_len"),
        money(quality, 4, 8).alias("quality"),
    )


@op(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           sha256(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                      ' +', ' ', 'g'))) AS fp,
           sha256(array_to_string(string_split(text, ' ')[1:8], ' ')) AS head_fp
    FROM documents
    """,
    tags=("text", "extra"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: content digest of the normalized text +
    digest of the 8-token head (prefix-dup detection)."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.sha2(normalize(F.col("text")), 256).alias("fp"),
        F.sha2(F.array_join(F.slice(F.split("text", " "), 1, 8), " "), 256).alias("head_fp"),
    )

# Regexes shared by text_pii_redact (kept backslash-free so the same string
# parses identically as a Spark SQL literal and a DuckDB literal).
PII_EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z][a-z]+"
PII_PHONE_RE = "[+][0-9]+-[0-9]{3}-[0-9]{4}"


@op(
    "text_pii_redact",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id,
             text || ' contact user' || doc_id ||
             '@example.com or +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
             AS t
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{PII_EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t, '{PII_PHONE_RE}')) AS BIGINT) AS n_phones,
           sha256(regexp_replace(regexp_replace(t, '{PII_EMAIL_RE}', '[EMAIL]', 'g'),
                                 '{PII_PHONE_RE}', '[PHONE]', 'g')) AS redacted_digest
    FROM aug
    """,
    tags=("text", "extra"),
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the standard pre-training redaction pass (emails /
    phone numbers → typed placeholder tokens), as pure Catalyst regex
    expressions (JVM-side, codegen; no UDF). The corpus is synthetic and
    PII-free, so each doc is first augmented with a deterministic contact
    string derived from its id — both engines build the identical input,
    then the match counts and the digest of the redacted text hash-check
    the actual redaction machinery."""
    d = load(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(aug, PII_EMAIL_RE, "[EMAIL]"), PII_PHONE_RE, "[PHONE]"
    )
    # || propagates NULL in both engines, so null text → null augmented
    # string; gate the counts (size of a NULL match list is -1 in
    # non-ANSI Spark, NULL in DuckDB)
    nn = F.col("text").isNotNull()
    return d.select(
        "doc_id",
        F.when(nn, F.size(F.regexp_extract_all(aug, F.lit(PII_EMAIL_RE), F.lit(0))))
        .cast("long")
        .alias("n_emails"),
        F.when(nn, F.size(F.regexp_extract_all(aug, F.lit(PII_PHONE_RE), F.lit(0))))
        .cast("long")
        .alias("n_phones"),
        F.sha2(redacted, 256).alias("redacted_digest"),
    )


@op(
    "dedup_chunk_content_defined",
    oracle="""
    WITH toks AS (
      SELECT doc_id, t.tok, t.pos
      FROM documents,
           LATERAL (SELECT unnest(string_split(text, ' ')) AS tok,
                           generate_subscripts(string_split(text, ' '), 1) AS pos) t
    ), flagged AS (
      SELECT doc_id, tok, pos,
             CASE WHEN substr(sha256(tok), 1, 1) = '0' THEN 1 ELSE 0 END AS boundary
      FROM toks
    ), chunked AS (
      SELECT doc_id, tok, pos,
             sum(boundary) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS chunk_id
      FROM flagged
    ), chunks AS (
      SELECT doc_id, chunk_id,
             sha256(string_agg(tok, ' ' ORDER BY pos)) AS chunk_digest,
             CAST(count(*) AS BIGINT) AS chunk_tokens
      FROM chunked GROUP BY doc_id, chunk_id
    )
    SELECT chunk_digest,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(max(chunk_tokens) AS BIGINT) AS chunk_tokens
    FROM chunks
    GROUP BY chunk_digest
    HAVING count(*) > 1
    """,
    tags=("text", "dedup", "extra"),
)
def dedup_chunk_content_defined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup — the fine-grained pattern for long
    documents where whole-doc hashing misses shared passages. Chunk
    boundaries are a pure function of CONTENT (token's sha256 starts with
    '0', ~1/16 rate), so identical passages chunk identically regardless of
    their position or surrounding edits (the rsync/CDC property). Pipeline:
    posexplode tokens → boundary flag → running-sum chunk ids (one window
    over the doc key) → per-chunk digest → digest-level duplicate counts.
    Only digests shuffle in the final stage — never chunk text."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    from pyspark.sql import Window as W

    boundary = F.when(F.sha2("tok", 256).startswith("0"), 1).otherwise(0)
    w = (
        W.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    chunked = toks.withColumn("chunk_id", F.sum(boundary).over(w))
    chunks = chunked.groupBy("doc_id", "chunk_id").agg(
        F.sha2(
            F.concat_ws(
                " ",
                F.expr("transform(array_sort(collect_list(struct(pos, tok))), s -> s.tok)"),
            ),
            256,
        ).alias("chunk_digest"),
        F.count("*").alias("chunk_tokens"),
    )
    return (
        chunks.groupBy("chunk_digest")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.max("chunk_tokens").cast("long").alias("chunk_tokens"),
        )
        .filter(F.col("n_occurrences") > 1)
    )


# ---------------------------------------------------------------------------
# Containment dedup (round-6 registration queue — finished + verified in
# tests/test_incremental.py; registers when the driver window rotates).
# ---------------------------------------------------------------------------

CONTAIN_TAU = 0.8

DEDUP_NGRAM_CONTAINMENT_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
    ), sh AS (
      SELECT doc_id, lang,
             list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                            for i in generate_series(1, len(w)-2)]) AS g
      FROM t WHERE len(w) >= 3
    ), post AS (
      SELECT doc_id, lang, len(g) AS n, unnest(g) AS gram FROM sh
    ), cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na,
             count(*) AS inter
      FROM post a JOIN post b
        ON a.gram = b.gram AND a.lang = b.lang AND a.doc_id != b.doc_id
       AND (a.n < b.n OR (a.n = b.n AND a.doc_id < b.doc_id))
      GROUP BY a.doc_id, b.doc_id, a.n
    )
    SELECT id_a, id_b,
           round(CAST(inter AS DOUBLE) / na, 4) AS containment
    FROM cand
    WHERE CAST(inter AS DOUBLE) / na >= {CONTAIN_TAU}
"""


@op(
    "dedup_ngram_containment",
    oracle=DEDUP_NGRAM_CONTAINMENT_ORACLE,
    tags=("text", "dedup", "extra"),
)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup detection: 3-gram shingle containment
    |A∩B| / |A| — catches a document embedded inside a larger one (quoted
    articles, boilerplate-wrapped reposts), exactly the case symmetric
    Jaccard misses because the big document inflates the union. The
    smaller doc is always the contained side (size tie → id order), so
    each candidate pair appears once with a well-defined direction.

    Plan is the INVERTED-INDEX set-similarity join, not an all-pairs
    product: shingle postings equi-join on (gram, lang) — only documents
    that actually SHARE a shingle ever meet, and the shared-shingle
    count IS the intersection, accumulated by a map-side-combining
    aggregate. At sf0.1 that is ~0.58M candidate rows instead of 12.5M
    array-intersect pairs (the naive form measured 40× slower at 10×
    data); discriminative shingles keep bucket width tiny (max df 25).
    At corpus scale a hot-shingle cap / minhash banding
    (functions/dedup.py) bounds the worst bucket; shingling itself is
    pure Catalyst (sequence + transform + element_at)."""
    d = load(spark, sf_dir, "documents")
    w = F.split("text", " ")
    # Shingles as a zip of three shifted slices (one pass over the array,
    # no per-index element_at probing — measured ~1.5× faster than the
    # transform(sequence)+element_at form at sf0.1).
    grams = F.array_distinct(
        F.expr(
            "transform(arrays_zip(slice(w, 1, size(w) - 2),"
            " slice(w, 2, size(w) - 2), slice(w, 3, size(w) - 2)),"
            " z -> concat(z['0'], ' ', z['1'], ' ', z['2']))"
        )
    )
    t = (
        d.select("doc_id", "lang", w.alias("w"))
        .filter(F.size("w") >= 3)
        .select("doc_id", "lang", grams.alias("g"))
        .select("doc_id", "lang", F.size("g").alias("n"), "g")
    )
    # explode_OUTER deliberately: with a plain explode, Catalyst's
    # infer-filters-from-generate rule derives size(g) > 0, collapses it
    # through the projections, and re-evaluates the ENTIRE shingle
    # expression inside the scan filter — tripling the most expensive
    # expression in the plan (measured 8.7 s → 2.9 s at sf0.1). The
    # doc-side filter size(w) >= 3 already guarantees non-empty grams,
    # and the isNotNull keeps the row set identical.
    post = t.select(
        "doc_id", "lang", "n", F.explode_outer("g").alias("gram")
    ).filter(F.col("gram").isNotNull())
    a = post.select(
        F.col("doc_id").alias("id_a"), "lang", F.col("n").alias("na"), "gram"
    )
    b = post.select(
        F.col("doc_id").alias("id_b"), "lang", F.col("n").alias("nb"), "gram"
    )
    cand = (
        a.join(b, ["gram", "lang"])
        .filter(
            (F.col("id_a") != F.col("id_b"))
            & (
                (F.col("na") < F.col("nb"))
                | ((F.col("na") == F.col("nb")) & (F.col("id_a") < F.col("id_b")))
            )
        )
        .groupBy("id_a", "id_b", "na")
        .agg(F.count("*").alias("inter"))
    )
    contain = F.col("inter").cast("double") / F.col("na")
    return (
        cand.withColumn("containment", F.round(contain, 4))
        .filter(contain >= CONTAIN_TAU)
        .select("id_a", "id_b", "containment")
    )


# ---------------------------------------------------------------------------
# text_readability_score (round-7 registration queue)
# ---------------------------------------------------------------------------

TEXT_READABILITY_SCORE_ORACLE = """
    WITH m AS (
      SELECT doc_id, lang,
             greatest(CAST(length(regexp_extract_all(text, '[a-z]+')) AS BIGINT), 1)
               AS n_words,
             CAST(length(regexp_extract_all(text, '[aeiou]+')) AS BIGINT)
               AS n_syllables,
             1 + CAST(length(regexp_extract_all(text, '[.!?]+')) AS BIGINT)
               AS n_sentences
      FROM documents
    )
    SELECT doc_id, lang, n_words, n_syllables, n_sentences,
           (CASE WHEN abs(CAST(206.835 - 1.015 * (n_words / CAST(n_sentences AS DOUBLE))
                      - 84.6 * (n_syllables / CAST(n_words AS DOUBLE)) AS DOUBLE)) < 1e9 THEN CAST(round(CAST(CAST(206.835 - 1.015 * (n_words / CAST(n_sentences AS DOUBLE))
                      - 84.6 * (n_syllables / CAST(n_words AS DOUBLE)) AS DOUBLE) AS DECIMAL(18,9)), 2) AS DOUBLE) ELSE CAST(206.835 - 1.015 * (n_words / CAST(n_sentences AS DOUBLE))
                      - 84.6 * (n_syllables / CAST(n_words AS DOUBLE)) AS DOUBLE) END) AS flesch
    FROM m ORDER BY doc_id
"""


@op("text_readability_score", oracle=TEXT_READABILITY_SCORE_ORACLE, tags=('text', 'extra'))
def text_readability_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document with a deterministic syllable
    heuristic: syllables = vowel-group runs, words = letter runs,
    sentences = 1 + terminal-punctuation runs (floored at 1 word so the
    ratio can't divide by zero on a degenerate row). Every count is a
    regexp_count over character-class patterns — identical regex semantics
    on Java and RE2, so even the raw counts cross-engine match, and the
    one float (the score) goes through the decimal sandwich.

    This is the document-quality signal family's readability axis, next to
    text_quality_score's length/punct ratios and text_entropy_stats'
    compressibility — all whole-stage-codegen expressions, no Python in
    the scan. Scale: embarrassingly parallel projection; the regex cost is
    linear in bytes and pushes no shuffle at all."""
    d = load(spark, sf_dir, "documents")
    m = d.select(
        "doc_id",
        "lang",
        F.greatest(
            F.expr("regexp_count(text, '[a-z]+')").cast("long"), F.lit(1)
        ).alias("n_words"),
        F.expr("regexp_count(text, '[aeiou]+')").cast("long").alias("n_syllables"),
        (1 + F.expr("regexp_count(text, '[.!?]+')")).cast("long").alias(
            "n_sentences"
        ),
    )
    return m.select(
        "doc_id",
        "lang",
        "n_words",
        "n_syllables",
        "n_sentences",
        F.expr(
            "CAST(round(CAST(206.835 - 1.015 * (n_words / CAST(n_sentences AS DOUBLE))"
            " - 84.6 * (n_syllables / CAST(n_words AS DOUBLE))"
            " AS DECIMAL(18,9)), 2) AS DOUBLE)"
        ).alias("flesch"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# text_search_boolean (round-7 registration queue)
# ---------------------------------------------------------------------------

TEXT_SEARCH_BOOLEAN_ORACLE = """
    SELECT doc_id,
           (' ' || text || ' ') LIKE '% table scan %' AS matched_phrase,
           ((' ' || text || ' ') LIKE '% spark %'
            AND (' ' || text || ' ') LIKE '% join %') AS matched_and
    FROM documents
    WHERE (' ' || text || ' ') LIKE '% table scan %'
       OR ((' ' || text || ' ') LIKE '% spark %'
           AND (' ' || text || ' ') LIKE '% join %')
"""


@op("text_search_boolean", oracle=TEXT_SEARCH_BOOLEAN_ORACLE, tags=('text', 'extra'))
def text_search_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean + phrase full-text retrieval over an inverted index — the
    search primitive next to text_bm25_score's ranking. The query is
    `"table scan" OR (spark AND join)`:

    * postings = posexplode of the token array → (doc, position, term);
      only the query's terms survive the filter, so the probe reads a
      sliver of the index (at scale: partition the postings table BY TERM
      and this becomes a pruned scan);
    * phrase match = positional self-join (term2's position = term1's +1)
      — the classic positional-postings adjacency probe;
    * AND match = group-by-doc HAVING countDistinct(term) = 2.

    The oracle deliberately runs the OTHER algorithm (padded LIKE full
    scan) — differential testing across query plans, not just engines.
    Exact because tokens are single-space separated; positions come from
    the same split, so adjacency == substring match."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(F.expr("filter(split(text, ' '), x -> x <> '')")).alias(
            "pos", "term"
        ),
    ).filter(F.col("term").isin("table", "scan", "spark", "join"))
    t1 = toks.filter(F.col("term") == "table").select("doc_id", F.col("pos").alias("p1"))
    t2 = toks.filter(F.col("term") == "scan").select("doc_id", F.col("pos").alias("p2"))
    phrase = (
        t1.join(t2, "doc_id")
        .filter(F.col("p2") == F.col("p1") + 1)
        .select("doc_id")
        .distinct()
        .withColumn("matched_phrase", F.lit(True))
    )
    conj = (
        toks.filter(F.col("term").isin("spark", "join"))
        .groupBy("doc_id")
        .agg(F.countDistinct("term").alias("nt"))
        .filter(F.col("nt") == 2)
        .select("doc_id")
        .withColumn("matched_and", F.lit(True))
    )
    return (
        phrase.join(conj, "doc_id", "full")
        .select(
            "doc_id",
            F.coalesce("matched_phrase", F.lit(False)).alias("matched_phrase"),
            F.coalesce("matched_and", F.lit(False)).alias("matched_and"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# dedup_exact_substring_spans (round-7 registration queue)
# ---------------------------------------------------------------------------

_SPAN_W = 50  # window width in characters

DEDUP_EXACT_SUBSTRING_SPANS_ORACLE = f"""
    WITH idx AS (
      SELECT doc_id, text,
             unnest(generate_series(1, length(text) - {_SPAN_W - 1})) AS i
      FROM documents
    ),
    wins AS (
      SELECT doc_id, substr(text, i, {_SPAN_W}) AS w FROM idx
    ),
    rep AS (
      SELECT w FROM wins GROUP BY w HAVING count(*) >= 2
    ),
    per_doc AS (
      SELECT wins.doc_id,
             count(*) AS n_windows,
             count(rep.w) AS n_repeated
      FROM wins LEFT JOIN rep ON wins.w = rep.w
      GROUP BY wins.doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(p.n_windows, 0) AS BIGINT) AS n_windows,
           CAST(coalesce(p.n_repeated, 0) AS BIGINT) AS n_repeated,
           (CASE WHEN abs(CAST(coalesce(p.n_repeated, 0)
                      / greatest(CAST(coalesce(p.n_windows, 0) AS DOUBLE), 1.0) AS DOUBLE)) < 1e9 THEN CAST(round(CAST(CAST(coalesce(p.n_repeated, 0)
                      / greatest(CAST(coalesce(p.n_windows, 0) AS DOUBLE), 1.0) AS DOUBLE) AS DECIMAL(18,9)), 4) AS DOUBLE) ELSE CAST(coalesce(p.n_repeated, 0)
                      / greatest(CAST(coalesce(p.n_windows, 0) AS DOUBLE), 1.0) AS DOUBLE) END) AS frac_repeated
    FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
    ORDER BY d.doc_id
"""


@op("dedup_exact_substring_spans", oracle=DEDUP_EXACT_SUBSTRING_SPANS_ORACLE, tags=('text', 'dedup', 'extra'))
def dedup_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-substring detection (the 'deduplicating training
    data' signal): every 50-character window of every document, stride 1;
    a window whose text occurs >= 2 times anywhere in the corpus (another
    doc OR another offset — self-repetition counts, as in the published
    recipe) marks its position as duplicated, and each document reports
    its duplicated-window fraction — the signal used to cut verbatim
    boilerplate and templated spam before training.

    Plan: windows via sequence+explode (distributed, no driver loop),
    repeated set via one partial-agg groupBy on the window text, marks
    via an equi-join back onto the postings. Stride-1 windows shuffle
    O(corpus bytes × W) — that IS the cost of exact span dedup; the
    documented cheap tiers are dedup_chunk_content_defined (content-
    defined anchors) and dedup_minhash_lsh (probabilistic), with this op
    as the exact verifier on their candidates. At 100 TB the window text
    would be xxhash64-digested before the shuffle (dedup_exact_hash's
    trick); the raw-text key here keeps the oracle portable. Docs shorter
    than one window carry zero windows (left join keeps them)."""
    d = load(spark, sf_dir, "documents")
    wins = d.filter(F.length("text") >= _SPAN_W).select(
        "doc_id",
        F.explode(F.expr(f"sequence(1, length(text) - {_SPAN_W - 1})")).alias("i"),
        "text",
    ).select("doc_id", F.expr(f"substr(text, i, {_SPAN_W})").alias("w"))
    rep = wins.groupBy("w").agg(F.count("*").alias("n")).filter(F.col("n") >= 2)
    per_doc = (
        wins.join(rep.select("w"), "w", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_repeated"))
    )
    totals = wins.groupBy("doc_id").agg(F.count("*").alias("n_windows"))
    return (
        d.select("doc_id")
        .join(totals, "doc_id", "left")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_windows", F.lit(0)).cast("long").alias("n_windows"),
            F.coalesce("n_repeated", F.lit(0)).cast("long").alias("n_repeated"),
            F.expr(
                "CAST(round(CAST(coalesce(n_repeated, 0)"
                " / greatest(CAST(coalesce(n_windows, 0) AS DOUBLE), 1.0)"
                " AS DECIMAL(18,9)), 4) AS DOUBLE)"
            ).alias("frac_repeated"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# dedup_incremental_minhash (round-7 registration queue; rows-only)
# ---------------------------------------------------------------------------

# Full oracle since round 6 (sha256 minhash): the cap population is the
# UNION of corpus and increment bands — i.e. ALL documents' bands — so the
# replay is the full minhash pipeline with the candidate set restricted to
# pairs touching the increment (doc_id % 10 == 0). Equality vs a full
# recompute is additionally asserted in tests/test_queue7.py.
DEDUP_INCREMENTAL_MINHASH_ORACLE = f"""
    WITH {duck_minhash_pairs_cte(
        pair_filter="(id_a % 10 = 0 OR id_b % 10 = 0)")}
    SELECT id_a, id_b, jaccard FROM mh_pairs
"""


@op("dedup_incremental_minhash", oracle=DEDUP_INCREMENTAL_MINHASH_ORACLE,
    tags=('text', 'dedup', 'extra'))
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup detection: dedupe a NEW batch (10% of docs)
    against the existing corpus via a PERSISTED minhash band index — the
    daily-increment pattern at 100 TB, where re-shingling and re-hashing
    the whole corpus per batch is the cost that matters (the band join
    itself is cheap; the text work is not). The corpus' (doc, band,
    bucket) rows are computed once and stored as the index partial (the
    same persisted-partial algebra as the MV/sketch families); each
    increment hashes ONLY its own documents, joins its bands against the
    stored index (plus within-batch self-collisions), and exact-verifies
    survivors. The degenerate-bucket cap applies over the UNION
    population, so results are IDENTICAL to a full recompute restricted
    to pairs touching the increment — asserted exactly in tests.

    Index contents: band rows only (fixed ~24 bytes/doc/band); shingle
    arrays are re-joined once per surviving candidate, never stored or
    shuffled wholesale (functions/dedup.py's O(candidates) discipline)."""
    from aced_etl_pod_spark.functions.dedup import (
        _shingled_signatures,
        band_buckets_expr,
    )
    from aced_etl_pod_spark.tables import fixture

    num_hashes, bands, threshold, cap = 32, 8, 0.5, 200
    d = load(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    inc = d.filter(F.col("doc_id") % 10 == 0)

    def banded(df):
        sigged = _shingled_signatures(df, "doc_id", "text", 3, num_hashes)
        return sigged.select(
            F.col("doc_id").alias("doc"),
            F.posexplode(band_buckets_expr(num_hashes, bands)).alias(
                "band", "bucket"
            ),
        )

    # v2: cache key versioned with the hash scheme — a persisted index
    # built with a previous scheme must never satisfy a new-scheme run.
    idx = fixture(
        "mh_index_v2",
        sf_dir,
        ("documents.parquet",),
        lambda tmp: banded(corpus).write.mode("overwrite").parquet(tmp),
    )
    stored = read_parquet(spark, idx)
    allb = stored.unionAll(banded(inc))
    from pyspark.sql.window import Window as _W

    bucket_n = F.count("*").over(_W.partitionBy("band", "bucket"))
    allb = allb.withColumn("bn", bucket_n).filter(F.col("bn") <= cap).drop("bn")
    left = allb.select(F.col("doc").alias("id_a"), "band", "bucket")
    right = allb.select(F.col("doc").alias("id_b"), "band", "bucket")
    cands = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter((F.col("id_a") % 10 == 0) | (F.col("id_b") % 10 == 0))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    from aced_etl_pod_spark.functions.dedup import with_shingles

    sh = with_shingles(d.select("doc_id", "text"), "text", 3).select(
        F.col("doc_id").alias("vid"), "shingles"
    )
    paired = cands.join(
        sh.select(F.col("vid").alias("id_a"), F.col("shingles").alias("sh_a")),
        "id_a",
    ).join(
        sh.select(F.col("vid").alias("id_b"), F.col("shingles").alias("sh_b")),
        "id_b",
    )
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b")
    )
    return (
        paired.withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# text_vocab_growth_heaps (round-7 registration queue)
# ---------------------------------------------------------------------------

TEXT_VOCAB_GROWTH_HEAPS_ORACLE = """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    firsts AS (
      SELECT tok, min(doc_id) AS first_doc FROM toks
      WHERE tok <> '' GROUP BY tok
    ),
    doc_tokens AS (
      SELECT doc_id, count(*) AS n_tok FROM toks WHERE tok <> '' GROUP BY doc_id
    ),
    checkpoints AS (
      SELECT doc_id AS cp FROM doc_tokens WHERE (doc_id + 1) % 100 = 0
    )
    SELECT cp AS docs_seen,
           CAST((SELECT sum(n_tok) FROM doc_tokens WHERE doc_id <= cp)
                AS BIGINT) AS tokens_seen,
           CAST((SELECT count(*) FROM firsts WHERE first_doc <= cp)
                AS BIGINT) AS vocab_size
    FROM checkpoints ORDER BY cp
"""


@op("text_vocab_growth_heaps", oracle=TEXT_VOCAB_GROWTH_HEAPS_ORACLE, tags=('text', 'extra'))
def text_vocab_growth_heaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve (the Heaps'-law measurement every
    tokenizer-budget and dedup-planning exercise starts from): at every
    100-document checkpoint, how many tokens have been seen and how many
    DISTINCT tokens exist among them. The cumulative-distinct trick: a
    token's contribution is its FIRST document (one partial agg), so the
    curve is a join of checkpoints against first-occurrence counts —
    no per-checkpoint rescans, no quadratic prefix work; both cumulative
    sums come from sorted one-pass aggregates over O(vocab) and O(docs)
    rows. Corpus order here is doc_id (ingestion order); any other
    curriculum order just swaps the ordering key."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.expr("filter(split(text, ' '), x -> x <> '')")).alias("tok")
    )
    firsts = toks.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    doc_tokens = toks.groupBy("doc_id").agg(F.count("*").alias("n_tok"))
    cps = doc_tokens.filter((F.col("doc_id") + 1) % 100 == 0).select(
        F.col("doc_id").alias("cp")
    )
    tok_cum = (
        cps.join(doc_tokens, doc_tokens.doc_id <= cps.cp)
        .groupBy("cp")
        .agg(F.sum("n_tok").cast("long").alias("tokens_seen"))
    )
    vocab_cum = (
        cps.join(firsts, firsts.first_doc <= cps.cp)
        .groupBy("cp")
        .agg(F.count("*").alias("vocab_size"))
    )
    return (
        tok_cum.join(vocab_cum, "cp")
        .select(
            F.col("cp").alias("docs_seen"),
            "tokens_seen",
            F.col("vocab_size").cast("long"),
        )
        .orderBy("docs_seen")
    )


# ---------------------------------------------------------------------------
# text_zipf_rank_frequency (round-7 registration queue)
# ---------------------------------------------------------------------------

TEXT_ZIPF_RANK_FREQUENCY_ORACLE = """
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    freq AS (
      SELECT tok, count(*) AS f FROM toks WHERE tok <> '' GROUP BY tok
    ),
    ranked AS (
      SELECT tok, f,
             row_number() OVER (ORDER BY f DESC, tok) AS r
      FROM freq
    ),
    logs AS (
      SELECT tok, f, r, ln(r) AS lx, ln(f) AS ly FROM ranked
    )
    SELECT tok, CAST(r AS BIGINT) AS rank, CAST(f AS BIGINT) AS freq,
           (CASE WHEN abs(CAST((SELECT (count(*) * sum(lx * ly) - sum(lx) * sum(ly))
                     / (count(*) * sum(lx * lx) - sum(lx) * sum(lx))
              FROM logs) AS DOUBLE)) < 1e9 THEN CAST(round(CAST(CAST((SELECT (count(*) * sum(lx * ly) - sum(lx) * sum(ly))
                     / (count(*) * sum(lx * lx) - sum(lx) * sum(lx))
              FROM logs) AS DOUBLE) AS DECIMAL(18,9)), 4) AS DOUBLE) ELSE CAST((SELECT (count(*) * sum(lx * ly) - sum(lx) * sum(ly))
                     / (count(*) * sum(lx * lx) - sum(lx) * sum(lx))
              FROM logs) AS DOUBLE) END) AS zipf_slope
    FROM logs ORDER BY rank
"""


@op("text_zipf_rank_frequency", oracle=TEXT_ZIPF_RANK_FREQUENCY_ORACLE, tags=('text', 'extra'))
def text_zipf_rank_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency table + the fitted log-log slope (the
    corpus-law pair with text_vocab_growth_heaps: Heaps for vocabulary
    growth, Zipf for frequency decay — the two checks a corpus-synthesis
    or tokenizer-budget exercise runs first). Token frequencies from one
    partial agg; ranks from a total-order window over the O(vocab)
    table; the slope is the closed-form OLS over (ln r, ln f), the same
    closed form as win_rolling_regression_slope, computed once and
    repeated per row (O(vocab) output). A natural corpus fits slope ≈ -1;
    this synthetic word-salad corpus is deliberately flat — the op
    reports what IS, and the property test asserts the slope is negative
    and the frequencies monotone."""
    d = load(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(F.expr("filter(split(text, ' '), x -> x <> '')")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("f"))
    )
    from pyspark.sql.window import Window as _W

    ranked = freq.withColumn(
        "r", F.row_number().over(_W.orderBy(F.desc("f"), "tok"))
    ).select("tok", "f", "r", F.log("r").alias("lx"), F.log("f").alias("ly"))
    slope = ranked.agg(
        F.expr(
            "CAST(round(CAST((count(*) * sum(lx * ly) - sum(lx) * sum(ly))"
            " / (count(*) * sum(lx * lx) - sum(lx) * sum(lx))"
            " AS DECIMAL(18,9)), 4) AS DOUBLE)"
        ).alias("zipf_slope")
    )
    return (
        ranked.crossJoin(F.broadcast(slope))
        .select(
            "tok",
            F.col("r").cast("long").alias("rank"),
            F.col("f").cast("long").alias("freq"),
            "zipf_slope",
        )
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# text_line_dedup_c4 (round-7+ registration queue, tranche 47)
# ---------------------------------------------------------------------------

TEXT_LINE_DEDUP_C4_ORACLE = """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS l FROM documents
    ), spans AS (
      SELECT doc_id, i.i AS pos,
             array_to_string(l[(i.i * 8 + 1):least((i.i + 1) * 8, len(l))],
                             ' ') AS line
      FROM toks,
           -- span-index bound derived from the longest document (ADVICE
           -- r5: a fixed cap silently truncated docs past it)
           (SELECT unnest(range(0,
                   (SELECT (MAX(len(l)) + 7) // 8 FROM toks))) AS i) i
      WHERE i.i * 8 < len(l)
    ), ranked AS (
      SELECT doc_id, pos, line,
             row_number() OVER (PARTITION BY line ORDER BY doc_id, pos)
               AS occ
      FROM spans
    ), kept AS (
      SELECT doc_id, pos, line FROM ranked WHERE occ = 1
    ), stats AS (
      SELECT s.doc_id,
             CAST(count(*) AS BIGINT) AS n_lines,
             CAST(count(*) - count(k.line) AS BIGINT) AS n_dropped,
             coalesce(string_agg(k.line, ' ' ORDER BY s.pos), '')
               AS kept_text
      FROM spans s
      LEFT JOIN kept k ON k.doc_id = s.doc_id AND k.pos = s.pos
      GROUP BY s.doc_id
    )
    SELECT doc_id, n_lines, n_dropped, kept_text
    FROM stats ORDER BY doc_id
"""


@op("text_line_dedup_c4", oracle=TEXT_LINE_DEDUP_C4_ORACLE, tags=('text', 'extra'))
def text_line_dedup_c4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-global LINE deduplication — the web-corpus step
    that strips boilerplate (nav bars, cookie banners, license headers)
    repeated across pages: every document is segmented into lines (the
    fixture's word-soup texts use non-overlapping 8-word spans as the
    line unit), any line occurring more than once in the WHOLE corpus
    keeps only its first occurrence (min (doc_id, pos) — C4's
    keep-one-of-any-repeated-span rule), and documents are reassembled
    from their surviving lines in order.

    Scale shape (round-12 rewrite, after the dedup ladder's stable-3.1x
    row): one explode to the (doc_id, pos, line) table, ONE window
    keyed by the line's sha256 DIGEST (dedup_exact_hash's rule: group
    on digests, not documents — the shuffle sorts/compares 32-byte
    keys instead of arbitrary-length strings), then one groupBy(doc_id)
    to reassemble, with the kept/dropped flag carried straight from the
    window's occ — the former spans⋈kept self-join (a third
    string-carrying shuffle) is gone; the window output already knows
    occ per row. Equal lines always share a digest, so grouping is
    unchanged; distinct lines colliding on sha256 is the same
    cryptographic non-event dedup_exact_hash already rests on (and
    would fail the exact oracle hash if it ever occurred). Documents
    whose every line is boilerplate come back EMPTY, not missing —
    cardinality is preserved for the downstream mixture accounting.
    Dedup-ladder A/B at x40 (200 k docs): 9.24 -> 5.13 s (r12 s1 digest
    window) -> 3.34 s (r12 s3: regex spans + binary key; closing
    A/B row = 1.08x vs DuckDB 3.10 s; PLANS.md round-12 optimization
    session 3, line-dedup). Sorted-rows
    equal to the oracle at every step."""
    # null-text docs have no lines to dedup — excluded on both sides
    # (the oracle's spans CTE never yields a row for them)
    #
    # Span derivation (round-12 session 3): one regexp_extract_all pass
    # replaces split -> transform(sequence) -> slice -> array_join —
    # the decomposed x40 profile showed the array pipeline WAS the
    # dominant cost (1.89 s of the 4.8 s wall; the regex pass is
    # 1.00 s, spans byte-identical on 1.44 M rows). The pattern eats an
    # optional leading separator per match so greedy `{0,7}` groups
    # exactly 8 split(' ')-elements per span, preserving empty fields
    # from consecutive spaces just like the array form.
    spans = (
        load(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    r"regexp_extract_all(text,"
                    r" '(?:^| )([^ ]*(?: [^ ]*){0,7})', 1)"
                )
            ).alias("pos", "line"),
        )
    )
    # binary digest (unhex halves the 64-char hex key): the window's
    # exchange+sort compares 32-byte keys (x40: 3.99 -> 3.54 s)
    w = W.partitionBy(F.unhex(F.sha2("line", 256))).orderBy(
        "doc_id", "pos"
    )
    ranked = spans.withColumn(
        "kline", F.when(F.row_number().over(w) == 1, F.col("line"))
    )
    stats = ranked.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_lines"),
        (F.count("*") - F.count("kline")).cast("long").alias("n_dropped"),
        F.coalesce(
            F.array_join(
                F.transform(
                    F.filter(
                        F.array_sort(
                            F.collect_list(F.struct("pos", "kline"))
                        ),
                        lambda x: x["kline"].isNotNull(),
                    ),
                    lambda x: x["kline"],
                ),
                " ",
            ),
            F.lit(""),
        ).alias("kept_text"),
    )
    return stats.select(
        "doc_id", "n_lines", "n_dropped", "kept_text"
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# fn_unicode_normalize_nfc (round-7+ registration queue, tranche 47)
# ---------------------------------------------------------------------------

# The fixture corpus is ASCII, where NFC is the identity — so the op first
# DERIVES a decomposed-form column (every 'e' becomes 'e' + U+0301 combining
# acute, same replace on both engines) and then normalizes THAT, making the
# differential compare two independent Unicode implementations doing real
# composition work (Python unicodedata vs DuckDB's utf8proc).
FN_UNICODE_NFC_ORACLE = """
    WITH derived AS (
      SELECT doc_id,
             replace(substr(text, 1, 40), 'e', 'e' || chr(769)) AS raw
      FROM documents
    )
    SELECT doc_id,
           CAST(length(raw) AS BIGINT) AS raw_cp,
           CAST(length(nfc_normalize(raw)) AS BIGINT) AS nfc_cp,
           length(raw) <> length(nfc_normalize(raw)) AS composed,
           substr(nfc_normalize(raw), 1, 20) AS nfc_prefix
    FROM derived
    ORDER BY doc_id
"""


@op("fn_unicode_normalize_nfc", oracle=FN_UNICODE_NFC_ORACLE, tags=('fn', 'extra'))
def fn_unicode_normalize_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization — the text-cleanup stage every
    multilingual corpus needs before hashing/dedup (decomposed "e +
    combining accent" and precomposed "é" are different byte strings but
    the SAME text; unnormalized corpora silently split duplicate groups
    and vocabulary entries). Spark has no built-in normalizer, so this
    is an honest Arrow-optimized Python UDF over ``unicodedata`` —
    batch-shipped, stateless, the right tool for a per-row library call.

    The differential pits two INDEPENDENT implementations of the Unicode
    standard against each other (CPython's unicodedata vs DuckDB's
    utf8proc) on derived decomposed text — they must agree codepoint for
    codepoint. Codepoint counts before/after prove real composition
    happened (raw_cp > nfc_cp wherever an 'e' existed)."""
    import unicodedata

    @F.udf("string", useArrow=True)
    def nfc(s: str) -> str:
        # NULL text rows flow through as NULL (utf8proc's nfc_normalize
        # does the same on the oracle side)
        return None if s is None else unicodedata.normalize("NFC", s)

    d = load(spark, sf_dir, "documents")
    derived = d.select(
        "doc_id",
        F.regexp_replace(
            F.substring("text", 1, 40), "e", "e\u0301"
        ).alias("raw"),
    )
    return (
        derived.select(
            "doc_id",
            F.length("raw").cast("long").alias("raw_cp"),
            F.length(nfc(F.col("raw"))).cast("long").alias("nfc_cp"),
            (F.length("raw") != F.length(nfc(F.col("raw")))).alias(
                "composed"
            ),
            F.substring(nfc(F.col("raw")), 1, 20).alias("nfc_prefix"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# dedup_ppjoin_prefix_filter (round-7+ registration queue, tranche 51)
# ---------------------------------------------------------------------------

_PPJ_TAU = 0.6
# 10% doc sample keeps the brute-force ORACLE quadratic feasible at sf0.1;
# the op's own prefix-filter plan is the part that scales past the sample.
_PPJ_SAMPLE = "(((doc_id % 2147483648) * 2654435761) % 4294967296) % 100 < 10"

DEDUP_PPJOIN_PREFIX_FILTER_ORACLE = f"""
    WITH docs AS (
      SELECT doc_id, list_sort(list_distinct(string_split(text, ' '))) AS s
      FROM documents WHERE {_PPJ_SAMPLE}
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS inter,
             CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))
                  AS BIGINT) AS uni
      FROM docs a JOIN docs b ON a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, inter, uni,
           round(CAST(inter AS DOUBLE) / uni, 4) AS jaccard
    FROM pairs
    WHERE CAST(inter AS DOUBLE) / uni >= {_PPJ_TAU}
    ORDER BY id_a, id_b
"""


@op("dedup_ppjoin_prefix_filter", oracle=DEDUP_PPJOIN_PREFIX_FILTER_ORACLE, tags=('text', 'dedup', 'extra'))
def dedup_ppjoin_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join (Jaccard ≥ 0.6) via PPJoin-style
    prefix filtering — the deterministic tier above dedup_minhash_lsh:
    where MinHash trades recall for speed probabilistically, prefix
    filtering is provably LOSSLESS (two sets with Jaccard ≥ τ must share
    at least one token among each one's (|x| − ⌈τ·|x|⌉ + 1) rarest
    tokens — pigeonhole on the required overlap), so candidates ⊇ true
    pairs and the verify step makes the result exact.

    Plan: token-frequency table (vocab-sized, broadcast) orders each
    doc's distinct tokens rarest-first; only PREFIX tokens enter the
    candidate equi-join (rare tokens → few collisions — that asymmetry
    is the whole trick); a length filter |y| ≥ τ·|x| prunes further;
    then one join back to full sorted token arrays verifies exact
    Jaccard. The ORACLE runs the opposite algorithm — brute-force
    all-pairs over the same sample — so the differential proves the
    filter lost nothing."""
    import math as _math  # noqa: F401  (documents the ceil identity below)

    d = load(spark, sf_dir, "documents").filter(F.expr(_PPJ_SAMPLE)).select(
        "doc_id", F.array_sort(F.array_distinct(F.split("text", " "))).alias("s")
    )
    # explode_OUTER + isNotNull: a plain explode lets Catalyst infer
    # size(s) > 0 and collapse the whole sort+distinct+split chain into
    # the scan filter (docs/SCALE.md §11; flagged by tools/plan_audit.py).
    # split() never yields an empty array, so the row set is identical.
    toks = d.select(
        "doc_id", F.explode_outer("s").alias("tok"), F.size("s").alias("n")
    ).filter(F.col("tok").isNotNull())
    freq = toks.groupBy("tok").agg(F.count("*").alias("c"))
    w = W.partitionBy("doc_id").orderBy("c", "tok")
    # prefix length = n - ceil(tau*n) + 1
    prefix = (
        toks.join(freq, "tok")
        .withColumn("rn", F.row_number().over(w))
        .filter(
            F.col("rn")
            <= F.col("n") - F.ceil(F.lit(_PPJ_TAU) * F.col("n")) + 1
        )
        .select("doc_id", "tok", "n")
    )
    a = prefix.select(
        F.col("doc_id").alias("id_a"), "tok", F.col("n").alias("na")
    )
    b = prefix.select(
        F.col("doc_id").alias("id_b"), "tok", F.col("n").alias("nb")
    )
    cand = (
        a.join(b, "tok")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("nb") >= _PPJ_TAU * F.col("na"))
            & (F.col("na") >= _PPJ_TAU * F.col("nb"))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    sa = d.select(F.col("doc_id").alias("id_a"), F.col("s").alias("s_a"))
    sb = d.select(F.col("doc_id").alias("id_b"), F.col("s").alias("s_b"))
    verified = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("s_a", "s_b")).cast("long").alias(
                "inter"
            ),
            (
                F.size("s_a") + F.size("s_b")
                - F.size(F.array_intersect("s_a", "s_b"))
            )
            .cast("long")
            .alias("uni"),
        )
        .filter(F.col("inter").cast("double") / F.col("uni") >= _PPJ_TAU)
    )
    return verified.select(
        "id_a",
        "id_b",
        "inter",
        "uni",
        F.round(F.col("inter").cast("double") / F.col("uni"), 4).alias(
            "jaccard"
        ),
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# dedup_winnowing_fingerprints (round-7+ registration queue, tranche 57)
# ---------------------------------------------------------------------------

_WINNOW_K = 4  # gram size (tokens)
_WINNOW_W = 4  # winnowing window (grams)

DEDUP_WINNOWING_FINGERPRINTS_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS l FROM documents
    ), grams AS (
      SELECT doc_id, i.i AS pos,
             md5(array_to_string(l[i.i:i.i + {_WINNOW_K} - 1], ' ')) AS h
      FROM toks,
           -- gram-start bound derived from the longest document (ADVICE
           -- r5: a fixed cap silently truncated docs past it)
           (SELECT unnest(range(1,
                   (SELECT MAX(len(l)) + 1 FROM toks))) AS i) i
      WHERE i.i + {_WINNOW_K} - 1 <= len(l)
    ), winmin AS (
      SELECT doc_id, pos,
             min(h) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN 0 PRECEDING AND {_WINNOW_W - 1} FOLLOWING) AS wm,
             count(*) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN 0 PRECEDING AND {_WINNOW_W - 1} FOLLOWING) AS wn
      FROM grams
    ), fps AS (
      SELECT DISTINCT doc_id, wm AS fp
      FROM winmin WHERE wn = {_WINNOW_W}
    ), sizes AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp FROM fps GROUP BY 1
    ), shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT s.id_a, s.id_b, s.n_shared, za.n_fp AS n_fp_a,
           round(CAST(s.n_shared AS DOUBLE) / za.n_fp, 4) AS containment
    FROM shared s JOIN sizes za ON za.doc_id = s.id_a
    WHERE s.n_shared >= 3
    ORDER BY containment DESC, s.id_a, s.id_b
    LIMIT 20
"""


@op("dedup_winnowing_fingerprints", oracle=DEDUP_WINNOWING_FINGERPRINTS_ORACLE, tags=('text', 'dedup', 'extra'))
def dedup_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken — the
    MOSS plagiarism-detection algorithm): hash every k-token shingle,
    then keep only each sliding window's MINIMUM hash. The selection is
    content-synchronized ("local"), so two documents sharing any run of
    ≥ w+k−1 tokens are GUARANTEED to share a fingerprint — the
    deterministic-recall sparse tier between exact substring spans
    (stride-1, dense) and MinHash (probabilistic): ~1/w of the grams
    survive, cutting index size w-fold with a provable detection floor.

    Portability: the gram hash is md5 hex, whose LEXICOGRAPHIC order is
    the same total order on both engines — the window min needs only an
    order, never arithmetic. Plan: one per-doc window (doc-partitioned
    exchange) selects fingerprints; the cross-doc join is an equi-join
    on the sparse fingerprint table; containment = shared/|FP_a| is an
    exact integer ratio. The guarantee is pinned in the gate by planting
    a copied run and asserting detection."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("l")
    )
    # Filter BEFORE building grams: for sub-k-token docs the sequence
    # bound (size-k+1) goes non-positive (sequence(1,0) is DESCENDING in
    # Spark, and slice would then raise), and evaluating it must not
    # depend on Catalyst pushing the filter below the Generate (ADVICE
    # r5: correctness shouldn't hang on an optimizer rule). The
    # greatest(..., 1) keeps the expression itself crash-free under
    # speculative evaluation; rows it would mis-gram are already gone.
    grams = (
        d.filter(F.size("l") >= _WINNOW_K)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, greatest(size(l) - {_WINNOW_K} + 1, 1)),"
                    f" i -> md5(array_join(slice(l, i, {_WINNOW_K}), ' ')))"
                )
            ).alias("pos", "h"),
        )
    )
    w = (
        W.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(0, _WINNOW_W - 1)
    )
    winmin = grams.select(
        "doc_id",
        F.min("h").over(w).alias("wm"),
        F.count("*").over(w).alias("wn"),
    )
    fps = (
        winmin.filter(F.col("wn") == _WINNOW_W)
        .select("doc_id", F.col("wm").alias("fp"))
        .distinct()
    )
    sizes = fps.groupBy("doc_id").agg(F.count("*").alias("n_fp"))
    a = fps.select(F.col("doc_id").alias("id_a"), "fp")
    b = fps.select(F.col("doc_id").alias("id_b"), "fp")
    shared = (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
    )
    za = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_fp").alias("n_fp_a"))
    return (
        shared.join(za, "id_a")
        .filter(F.col("n_shared") >= 3)
        .select(
            "id_a",
            "id_b",
            F.col("n_shared").cast("long").alias("n_shared"),
            F.col("n_fp_a").cast("long").alias("n_fp_a"),
            F.round(
                F.col("n_shared").cast("double") / F.col("n_fp_a"), 4
            ).alias("containment"),
        )
        .orderBy(F.desc("containment"), "id_a", "id_b")
        .limit(20)
    )
