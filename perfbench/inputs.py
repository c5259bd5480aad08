"""Seeded benchmark inputs, built once per seed outside every timer.

* ``write_tables`` — the ten relational/stream/LLM tables in the shape and
  size of the sf0.1 test set (FIXTURES.md §A): same columns, types, key
  ranges, category sets and row counts, values drawn from the seed.
* ``write_tiled`` — a ×N key-offset tiling of those tables (every fact key
  offset per replica so join cardinalities hold; nation/region stay
  constant), one parquet row group per replica.
* ``write_fhir`` — FHIR-shaped graph-envelope NDJSON commits (FIXTURES.md
  §B), one zip per project, plus the generated counts the checks use.

Every writer is deterministic: the same seed gives byte-identical files.
"""

from __future__ import annotations

import io
import json
import os
import shutil
import uuid
import zipfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 row counts (FIXTURES.md §A); region/nation are fixed dimensions.
ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

# Key columns offset per replica by ``write_tiled`` (join integrity).
KEY_OFFSETS = {
    "lineitem": ["l_orderkey", "l_suppkey", "l_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
TABLES = ("region", "nation", *KEY_OFFSETS)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 30)


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(np.int64)) + 1
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def make_tables(seed: int, frac: float = 1.0) -> dict[str, pa.Table]:
    """The ten tables for ``seed``; ``frac`` shrinks every sized table (tests)."""
    rng = np.random.default_rng(seed)
    n = {t: max(int(r * frac), 10) for t, r in ROWS.items()}
    i64 = lambda k: pa.array(np.arange(k, dtype=np.int64))  # noqa: E731
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    k = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": i64(k),
            "c_name": [f"Customer#{i:09d}" for i in range(k)],
            "c_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, k),
            "c_mktsegment": _pick(rng, SEGMENTS, k),
        }
    )
    k = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": i64(k),
            "s_name": [f"Supplier#{i:09d}" for i in range(k)],
            "s_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, k),
        }
    )
    k = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": i64(k),
            "p_name": _pick(rng, names, k),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], k),
            "p_type": _pick(rng, PART_TYPES, k),
            "p_size": pa.array(rng.integers(1, 51, k), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(k) % 1000) / 10, 1),
        }
    )
    k = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": i64(k),
            "o_custkey": rng.integers(0, n["customer"], k),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], k),
            "o_totalprice": _money(rng, 1000.0, 500000.0, k),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", k),
            "o_orderpriority": _pick(rng, PRIORITIES, k),
        }
    )
    k = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n["orders"], k),
            "l_partkey": rng.integers(0, n["part"], k),
            "l_suppkey": rng.integers(0, n["supplier"], k),
            "l_linenumber": pa.array(rng.integers(1, 8, k), pa.int32()),
            "l_quantity": rng.integers(1, 51, k).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, k),
            "l_discount": rng.integers(0, 11, k) / 100,
            "l_tax": rng.integers(0, 9, k) / 100,
            "l_returnflag": _pick(rng, ["A", "N", "R"], k),
            "l_linestatus": _pick(rng, ["F", "O"], k),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", k),
        }
    )
    k = n["events"]
    month_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, month_us, k)) + np.datetime64("2024-01-01", "us")
    out["events"] = pa.table(
        {
            "event_id": i64(k),
            "ts": ts,
            "user_id": rng.integers(0, 1500, k),
            "event_type": _pick(rng, EVENT_TYPES, k),
            "value": np.round(rng.exponential(50.0, k), 2),
            "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)],
        }
    )
    k = n["documents"]
    lens = rng.integers(8, 96, k)
    words = np.array(WORDS)[rng.integers(0, len(WORDS), int(lens.sum()))]
    dup = rng.random(k) < 0.05
    texts, pos = [], 0
    for i in range(k):
        w = list(words[pos : pos + lens[i]])
        pos += lens[i]
        if dup[i]:
            w[len(w) // 2] = "dup"
        texts.append(" ".join(w))
    out["documents"] = pa.table(
        {
            "doc_id": i64(k),
            "text": texts,
            "lang": _pick(rng, LANGS, k, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(k)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    k = n["embeddings"]
    vecs = rng.normal(0.0, 0.1, (k, 64)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": i64(k),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, 64 * k + 1, 64, dtype=np.int32)),
                pa.array(vecs.ravel()),
            ),
            "label": pa.array(rng.integers(0, 10, k), pa.int32()),
        }
    )
    return out


def write_tables(out_dir: str, seed: int, frac: float = 1.0) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed, frac).items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))


def write_tiled(src_dir: str, out_dir: str, scale: int) -> None:
    """×``scale`` key-offset tiling of ``src_dir``, one row group per replica."""
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        base = pq.read_table(os.path.join(src_dir, f"{name}.parquet"))
        path = os.path.join(out_dir, f"{name}.parquet")
        keys = KEY_OFFSETS.get(name)
        if keys is None:
            _write(base, path)
            continue
        span = {c: int(pa.compute.max(base[c]).as_py()) + 1 for c in keys}
        with pq.ParquetWriter(path, base.schema, compression="snappy") as w:
            for r in range(scale):
                t = base
                for c in keys:
                    i = t.schema.get_field_index(c)
                    t = t.set_column(i, c, pa.compute.add(t[c], r * span[c]))
                w.write_table(t, row_group_size=1 << 30)


# ---------------------------------------------------------------- FHIR


def _uuids(rng, n: int) -> list[str]:
    raw = rng.integers(0, 256, (n, 16), dtype=np.uint8)
    return [str(uuid.UUID(bytes=bytes(r))) for r in raw]


def _env(rid, name, obj, dst=None, dst_name=None, label=None) -> str:
    rel = [] if dst is None else [
        {"dst_id": dst, "dst_name": dst_name, "label": label}
    ]
    return json.dumps({"id": rid, "name": name, "relations": rel, "object": obj})


def fhir_commit(rng, project_id: str, n_patients: int) -> tuple[dict, dict]:
    """NDJSON text per resource file for one project, and its counts."""
    study = _uuids(rng, 1)[0]
    pats = _uuids(rng, n_patients)
    n_obs = rng.integers(1, 4, n_patients)  # 1-3 observations per patient
    n_doc = rng.integers(0, 3, n_patients)  # 0-2 documents per patient
    obs_ids = _uuids(rng, int(n_obs.sum()))
    doc_ids = _uuids(rng, int(n_doc.sum()))
    values = np.round(rng.normal(100.0, 25.0, len(obs_ids)), 3)
    days = rng.integers(0, 365, len(obs_ids))
    ident = [f"{project_id}#bench"]
    coding = [f"https://aced-idp.org/{project_id}#bench"]
    files = {
        "ResearchStudy.ndjson": _env(
            study,
            "research_study",
            {
                "id": study,
                "resourceType": "ResearchStudy",
                "project_id": project_id,
                "status": "active",
                "description": f"Benchmark ResearchStudy for {project_id}",
                "identifier": ident,
                "identifier_coding": coding,
            },
        )
        + "\n"
    }
    lines = []
    for p in pats:
        obj = {
            "id": p,
            "resourceType": "Patient",
            "project_id": project_id,
            "status": "active",
            "identifier": ident,
            "subject_id": study,
        }
        lines.append(_env(p, "patient", obj, study, "research_study", "member_of"))
    files["Patient.ndjson"] = "\n".join(lines) + "\n"
    lines, j = [], 0
    for p, k in zip(pats, n_obs):
        for _ in range(k):
            ts = np.datetime64("2024-01-01") + days[j]
            obj = {
                "id": obs_ids[j],
                "resourceType": "Observation",
                "project_id": project_id,
                "status": "final",
                "subject_id": p,
                "value": float(values[j]),
                "effective_ts": f"{ts}T00:00:00",
            }
            lines.append(_env(obs_ids[j], "observation", obj, p, "patient", "subject_of"))
            j += 1
    files["Observation.ndjson"] = "\n".join(lines) + "\n"
    lines, j = [], 0
    for p, k in zip(pats, n_doc):
        for _ in range(k):
            obj = {
                "id": doc_ids[j],
                "resourceType": "DocumentReference",
                "project_id": project_id,
                "status": "current",
                "subject_id": p,
            }
            lines.append(_env(doc_ids[j], "document_reference", obj, p, "patient", "describes"))
            j += 1
    files["DocumentReference.ndjson"] = "\n".join(lines) + "\n" if lines else ""
    counts = {
        "ResearchStudy": 1,
        "Patient": n_patients,
        "Observation": len(obs_ids),
        "DocumentReference": len(doc_ids),
    }
    return files, counts


def write_zip(path: str, files: dict[str, str]) -> None:
    """Deterministic zip: fixed member order, timestamps and attributes."""
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name in sorted(files):
            info = zipfile.ZipInfo(name, date_time=(2024, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            info.external_attr = 0o644 << 16
            zf.writestr(info, files[name].encode())
    with open(path, "wb") as f:
        f.write(buf.getvalue())


def write_fhir(out_dir: str, seed: int, sizes: dict[str, int]) -> dict:
    """One zipped commit per project; returns ``{project_id: counts}``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    manifest = {}
    for project_id, n_patients in sizes.items():
        files, counts = fhir_commit(rng, project_id, n_patients)
        write_zip(os.path.join(out_dir, f"{project_id}.zip"), files)
        manifest[project_id] = counts
    return manifest


def build_once(path: str, build) -> str:
    """Run ``build(tmp_dir)`` unless ``path`` is already complete, then
    publish atomically (temp dir + marker + rename)."""
    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    tmp = f"{path}.tmp.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        build(tmp)
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return path
