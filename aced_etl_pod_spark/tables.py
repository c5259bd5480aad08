"""Test-table loaders and the package's one parquet read path.

Ten parquet tables per scale factor (TESTDATA.md / FIXTURES.md §A). Every
plain parquet scan in the package goes through :func:`read_parquet`:
``load`` for the test tables, the embeddings loaders and every operator
that reads a build-once artifact back from :func:`fixture`. Only the
transaction-log snapshot reads (``sources/txnlog.py``,
``operators/table_format.py``) list their files themselves.

``read_parquet`` remembers the schema of a source that cannot change under
its key: a parquet file by ``(path, mtime_ns, size)``, a directory inside
a published fixture by its path (the fixture's name already carries its
source fingerprint, and a published fixture is never rewritten). A known
schema is handed to the reader, so planning the scan starts no Spark job;
without it Spark runs one job per read to merge the footers' schemas
(docs/SCALE.md §26). The executed plan is the same either way: predicate
pushdown and column pruning come from the parquet source, and the session
is tuned once per ``load``.
"""

from __future__ import annotations

import functools as _functools
import os
import threading
from collections import OrderedDict
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StructType, TimestampNTZType

from aced_etl_pod_spark.session import tune

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"
_SCHEMAS: OrderedDict[tuple, StructType] = OrderedDict()
_SCHEMAS_MAX = 1024
_SCHEMAS_LOCK = threading.Lock()


def _schema_key(spark: SparkSession, path: str) -> tuple | None:
    """The key under which ``path``'s schema cannot change, or None when
    it can (a build's ``.tmp.`` dir, an ``mv_*`` snapshot, a session
    sink, a warehouse store) or ``path`` cannot be stat'd. The session's
    ``nanosAsLong`` is part of it: it decides whether a TIMESTAMP(NANOS)
    column reads as ``bigint``."""
    ap = os.path.abspath(path)
    try:
        st = os.stat(ap)
    except (OSError, ValueError):
        return None
    nanos = spark.conf.get(_NANOS_AS_LONG, "false")
    if not os.path.isdir(ap):
        return (ap, st.st_mtime_ns, st.st_size, nanos)
    base = os.path.abspath(os.environ.get("SPARK_GRAFT_SCRATCH", _DEFAULT_SCRATCH))
    rel = os.path.relpath(ap, base)
    name = rel.split(os.sep, 1)[0]
    if name in (".", "..") or name.startswith("."):
        return None
    if not os.path.exists(os.path.join(base, name, "_DONE")):
        return None
    return (ap, nanos)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, planned with no Spark job when the
    schema is already known under :func:`_schema_key`. The first read of
    a key infers it (one job, as before) and remembers it; the cache is a
    bounded LRU. An uncacheable or missing path reads exactly as
    ``spark.read.parquet`` does, errors included."""
    key = _schema_key(spark, path)
    if key is None:
        return spark.read.parquet(path)
    with _SCHEMAS_LOCK:
        schema = _SCHEMAS.get(key)
        if schema is not None:
            _SCHEMAS.move_to_end(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    with _SCHEMAS_LOCK:
        _SCHEMAS[key] = df.schema
        if len(_SCHEMAS) > _SCHEMAS_MAX:
            _SCHEMAS.popitem(last=False)
    return df


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one test table, through :func:`read_parquet`.

    ``events.ts`` has been written by the generator as parquet
    TIMESTAMP(NANOS) in some rounds and TIMESTAMP(MICROS, ntz) in others, so
    normalise whatever the reader hands back to a session-UTC ``timestamp``:

    * ``bigint``        — raw nanos (legacy ``nanosAsLong`` read): truncate
      to micros, exactly what DuckDB does on the same file.
    * ``timestamp_ntz`` — naive micros: cast to ``timestamp`` (session tz is
      pinned to UTC, so the instant is unchanged and matches DuckDB).
    * ``timestamp``     — already what we want.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    tune(spark)
    path = f"{sf_dir}/{name}.parquet"
    if name != "events":
        return read_parquet(spark, path)
    from pyspark.sql import functions as F

    spark.conf.set(_NANOS_AS_LONG, "true")
    df = read_parquet(spark, path)
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def table_row_count(sf_dir: str, name: str) -> int:
    """Row count of one test table read from PARQUET FOOTERS only —
    pure driver-side metadata, NO Spark job. Size-dispatch sites
    (join_multiway_star's customer-side hint, text_tokenize_stats'
    Arrow-kernel knee) previously used ``df.count()``, which is a real
    scan job unless ``spark.sql.parquet.aggregatePushdown`` is on
    (round-11 advice) — hiding a scan inside plan construction. Footer
    reads cost one file-open per footer and are cached per path and
    ``(mtime_ns, size)``, as :func:`read_parquet` keys its schemas: a
    table rewritten at the same path is counted again."""
    path = f"{sf_dir}/{name}.parquet"
    st = os.stat(path)
    return _footer_rows(os.path.abspath(path), st.st_mtime_ns, st.st_size)


@_functools.lru_cache(maxsize=256)
def _footer_rows(path: str, mtime_ns: int, size: int) -> int:
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    total += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
        return total
    return pq.ParquetFile(path).metadata.num_rows


def evict_stale_fixtures(
    base: str, prefixes: tuple[str, ...], keep: str, grace_sec: int = 1800
) -> None:
    """Best-effort pruning of SUPERSEDED fingerprint-keyed fixture dirs,
    AGE-GATED (round-11 advice): atomic publish (temp dir + rename)
    protects readers from half-written data, but an immediate
    rmtree of an old fingerprint can still delete a concurrent reader's
    cells scan mid-query — the reader resolved the old fingerprint and
    saw its _DONE marker before we evicted. A grace period bounds that
    window: only dirs untouched for ``grace_sec`` (default 30 min, far
    past any single query) are pruned, so a racer that just resolved a
    stale fingerprint finishes before its data disappears. Reader
    contract: fixture paths are valid for at least ``grace_sec`` after
    resolution; do not cache them across sessions."""
    import shutil
    import time

    now = time.time()
    for d in os.listdir(base):
        if d == keep or not any(d.startswith(p) for p in prefixes):
            continue
        full = os.path.join(base, d)
        try:
            if now - os.stat(full).st_mtime < grace_sec:
                continue
        except OSError:
            continue
        shutil.rmtree(full, ignore_errors=True)


_DEFAULT_SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
)


def scratch_dir(sub: str = "") -> str:
    """Writable scratch area for sink / round-trip operators (gitignored;
    ``SPARK_GRAFT_SCRATCH`` overrides the checkout's ``.scratch``).

    SHARED across sessions: :func:`fixture` is the only publisher of
    build-once artifacts into it (fingerprint-keyed name, temp dir +
    _DONE + rename, age-gated eviction). Only the ``mv_*`` snapshots,
    which later ops mutate in place, keep their own lifecycle and take
    only their names from :func:`fixture_name`. EPHEMERAL
    state (streaming checkpoints, rmtree-then-rebuild sinks, test
    scratch) must use :func:`session_scratch_dir` instead: two
    concurrent runners sharing a checkpoint dir or an evict-then-rebuild
    cycle corrupt each other (round-11 verdict item — the double-pytest
    races on test_wm_evict / ivf_schema_parity)."""
    base = os.environ.get("SPARK_GRAFT_SCRATCH", _DEFAULT_SCRATCH)
    path = os.path.join(base, sub) if sub else base
    os.makedirs(path, exist_ok=True)
    return path


def fixture_name(label: str, sf_dir: str, *sources: str) -> str:
    """``{label}_{sf_tag}_{mtime_ns:x}_{size:x}[_…]`` over ``sources``
    (paths relative to ``sf_dir``, in the order given): the one source
    fingerprint, so a regenerated table at the same path gets a new name
    and never reuses a copy derived from its old bytes."""
    parts = [label, sf_dir.rstrip("/").rsplit("/", 1)[-1]]
    for src in sources:
        st = os.stat(os.path.join(sf_dir, src))
        parts.append(f"{st.st_mtime_ns:x}_{st.st_size:x}")
    return "_".join(parts)


def fixture(
    label: str, sf_dir: str, sources: tuple[str, ...], build: Callable[[str], None]
) -> str:
    """Build-once derived artifact under the shared scratch: the path of
    ``fixture_name(label, sf_dir, *sources)``, calling ``build(tmp)``
    only when no complete copy exists yet.

    ``build`` writes into a private ``.{name}.tmp.*`` dir that is marked
    _DONE and ``os.rename``d into place, so a reader that saw the marker
    never scans a half-written dir. The first publisher wins: a losing
    racer finds the marker and discards its copy; a marker-less target
    (a crashed writer) is cleared and the rename retried once. The temp
    dir is always removed, so a failing ``build`` leaves nothing behind.
    After a build, superseded fingerprints of the same label and sf_tag
    are evicted through :func:`evict_stale_fixtures`' age gate."""
    import shutil
    import tempfile

    name = fixture_name(label, sf_dir, *sources)
    base = scratch_dir()
    path = os.path.join(base, name)
    marker = os.path.join(path, "_DONE")
    if os.path.exists(marker):
        return path
    tmp = tempfile.mkdtemp(prefix=f".{name}.tmp.", dir=base)
    try:
        build(tmp)
        open(os.path.join(tmp, "_DONE"), "w").close()
        for _ in range(2):
            try:
                os.rename(tmp, path)  # atomic publish on the same fs
                break
            except OSError:
                if os.path.exists(marker):
                    break  # a concurrent builder published first
                shutil.rmtree(path, ignore_errors=True)
        else:
            raise OSError(f"could not publish fixture at {path}")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    evict_stale_fixtures(base, (f"{label}_{sf_tag}_",), keep=name)
    return path


# One token per PROCESS (pid alone recycles; a nonce disambiguates a
# recycled pid and a forked worker inheriting the parent's module state
# re-imports and gets its own).
_SESSION_TOKEN = f"{os.getpid():x}-{os.urandom(4).hex()}"


def session_scratch_dir(sub: str = "") -> str:
    """SESSION-PRIVATE scratch, keyed by pid + startup nonce, for state
    that is rebuilt per run and must never be shared between concurrent
    runners: streaming source dirs and checkpoints, rmtree-then-rebuild
    sink/round-trip dirs, test-local fixtures. Everything under it is
    garbage after the process exits (best-effort cleaned by the next
    scratch sweep); nothing may publish cross-session artifacts here."""
    rel = os.path.join("sess", _SESSION_TOKEN)
    return scratch_dir(os.path.join(rel, sub) if sub else rel)


def load_validated_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table VALIDATED AT INGEST (round-8 guard A/B
    finding): the well-scaled-vector contract (operators.util.finite_vec
    — non-null, every lane finite and |x| < 1e12) is an INPUT contract,
    not query logic, and enforcing it per query costs a measured
    +1.6 µs/row = +17% of the exact cosine kernel at 400 k rows
    (PLANS.md "Round-8: finite_vec guard A/B"). This helper enforces it ONCE:
    the first access per source fingerprint writes a validated parquet
    copy to scratch; every later scan reads pre-validated vectors with
    zero per-row guard work.

    Published through :func:`fixture`, so a concurrent session never
    observes a half-written copy and superseded fingerprints don't
    accumulate as the source regenerates across sweep rounds.

    At 100 TB this is the standard corpus-curation posture — validation
    is a bounded one-time pass at ingest (where the quarantine/DLQ
    routing happens anyway), and every downstream similarity/ANN/dedup
    query inherits clean vectors for free. Guards stay on genuinely raw
    external inputs. The fingerprint key (mtime_ns + size) invalidates
    the cache whenever the source regenerates, so injection sweeps and
    testdata refreshes validate the NEW bytes."""
    from pyspark.sql import functions as F

    from aced_etl_pod_spark.operators.util import finite_vec

    def build(tmp):
        load(spark, sf_dir, "embeddings").filter(
            finite_vec(F.col("embedding"))
        ).write.mode("overwrite").parquet(os.path.join(tmp, "emb"))

    path = fixture("validated_emb", sf_dir, ("embeddings.parquet",), build)
    return read_parquet(spark, os.path.join(path, "emb"))


def load_packed_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The validated embeddings PACKED for the Python boundary (round-12
    optimization session 2): one ingest-time pass rewrites each
    ``array<float>`` vector as a single little-endian float32 ``binary``
    cell — ``(vec_id long, vec binary)``.

    Why: the exact-scan gemm kernel is 100 % Arrow-TRANSFER-bound at
    scale (x800 decomposition: a mapInArrow pass-through over the list
    column costs the same 1.4-1.6 s as the full kernel, vs a 0.40 s
    JVM-only scan floor), and most of that boundary cost is the JVM's
    per-ELEMENT conversion of the list column into Arrow. A binary cell
    converts with one memcpy per ROW: the same pass-through measured
    0.51 s on the packed column — 2.8x less boundary for identical
    bytes. Kernels unpack with a zero-copy ``np.frombuffer`` view
    (guide §4.2: binary columns are one contiguous buffer + offsets).

    The pack itself re-slices buffers (``pa.Array.from_buffers`` over
    the flattened float32 values — no per-row byte copies), refuses
    null/ragged slots (the _flatten_embeddings contract: a foreign
    input must error, not corrupt), and float32 bits round-trip exactly,
    so every downstream cosine is bit-identical to the list-column
    kernels. Published through :func:`fixture` like the validated copy
    it derives from; snappy codec (hot-full-scan artifact — the r11
    codec rule)."""
    from pyspark.sql.types import BinaryType, StructField

    def pack(batches):
        import numpy as np
        import pyarrow as pa

        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            ids = b.column(0)
            if isinstance(ids, pa.ChunkedArray):
                ids = ids.combine_chunks()
            lst = b.column(1)
            if isinstance(lst, pa.ChunkedArray):
                lst = lst.combine_chunks()
            if lst.null_count:
                raise ValueError(
                    "null embedding slots reached the packer; "
                    "load_validated_embeddings guarantees none"
                )
            flat = lst.flatten().to_numpy(zero_copy_only=False)
            if len(flat) % n:
                raise ValueError(
                    f"ragged embedding lists: {len(flat)} values "
                    f"for {n} rows"
                )
            dim = len(flat) // n
            loff = np.frombuffer(lst.buffers()[1], dtype=np.int32)[
                lst.offset : lst.offset + n + 1
            ]
            if (np.diff(loff) != dim).any():
                raise ValueError("ragged embedding lists in batch")
            boff = pa.py_buffer(
                (np.arange(n + 1, dtype=np.int32) * (dim * 4)).tobytes()
            )
            bdata = pa.py_buffer(flat.astype("<f4", copy=False).tobytes())
            vec = pa.Array.from_buffers(pa.binary(), n, [None, boff, bdata])
            yield pa.RecordBatch.from_arrays([ids, vec], ["vec_id", "vec"])

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("vec", BinaryType()),
        ]
    )

    def build(tmp):
        load_validated_embeddings(spark, sf_dir).select(
            "vec_id", "embedding"
        ).mapInArrow(pack, schema).write.mode("overwrite").parquet(
            os.path.join(tmp, "emb")
        )

    path = fixture("packed_emb", sf_dir, ("embeddings.parquet",), build)
    return read_parquet(spark, os.path.join(path, "emb"))
