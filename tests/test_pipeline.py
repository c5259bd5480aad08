"""Pipeline round-trip tests (SURVEY §5.5, mirroring reference R1–R19):
put two projects → stores populated; export → re-read equals original
projection; delete project A → B untouched (anti-join invariant); authz
gates each method; zip ingestion path works."""

from __future__ import annotations

import json
import os
import threading
import zipfile

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from aced_etl_pod_spark.plans.authz import can_create, can_read
from aced_etl_pod_spark.plans.pipeline import STORE_SCHEMAS, EtlPodPipeline
from aced_etl_pod_spark.sources.archives import zip_dir
from tests.conftest import jobs_in_group

# Reference-shaped profile (_can_create/_can_read fhir_import_export.py:62-145):
# program paths in `resources`, grant under the PROJECT-level authz path.
USER_FULL = {
    "resources": ["/programs/prog", "/programs/prog/projects"],
    "authz": {
        "/programs/prog/projects/alpha": [
            {"method": "create", "service": "*"},
            {"method": "read-storage", "service": "*"},
        ]
    },
}
# A grant on the program-wide projects *collection* (no project-level path)
# must NOT authorize individual projects — the reference requires the
# project-scoped authz entry.
USER_PROGRAM_WIDE = {
    "resources": ["/programs/prog", "/programs/prog/projects"],
    "authz": {
        "/programs/prog/projects": [
            {"method": "create", "service": "*"},
            {"method": "read-storage", "service": "*"},
        ]
    },
}
USER_NONE = {"resources": [], "authz": {}}


@pytest.fixture()
def pipeline(spark, tmp_path):
    return EtlPodPipeline(spark, str(tmp_path / "warehouse"))


def test_put_populates_all_stores(pipeline, fhir_fixture):
    out = pipeline.put("prog-alpha", fhir_fixture["prog-alpha"])
    assert out == {"project_id": "prog-alpha", "patient": 4, "observation": 8, "file": 4}
    v = pipeline.spark.read.parquet(pipeline.path("graph/vertices"))
    e = pipeline.spark.read.parquet(pipeline.path("graph/edges"))
    assert v.count() == 1 + 4 + 8 + 4
    assert e.count() == 4 + 8 + 4  # every non-study resource has one relation
    assert pipeline.patient_count("prog-alpha") == 4
    disc = pipeline.discovery().filter(F.col("project_id") == "prog-alpha").first()
    assert disc["patient_count"] == 4
    assert "prog-alpha" in disc["description"]


def test_denormalized_patient_has_observation_stats(pipeline, fhir_fixture):
    pipeline.put("prog-alpha", fhir_fixture["prog-alpha"])
    pat = pipeline.spark.read.parquet(pipeline.path("flat/patient"))
    row = pat.filter(F.col("id") == "patient-prog-alpha-2").first()
    # patient 2 has observations valued 20.0 and 21.0
    assert row["observation_count"] == 2
    assert row["observation_avg"] == pytest.approx(20.5)
    # DocumentReference rollup (README.md:24: files associate with a
    # patient): each fixture patient carries exactly one document
    assert row["file_count"] == 1
    assert row["latest_file_id"] == "doc-prog-alpha-2"


def test_discovery_study_pick_is_deterministic(pipeline, fhir_fixture):
    """A project with >1 ResearchStudy row must pick the min-id study for
    its discovery record, independent of file or partition order."""
    src = fhir_fixture["prog-alpha"]
    extra = {
        "id": "study-0-first",
        "name": "research_study",
        "relations": [],
        "object": {
            "id": "study-0-first",
            "resourceType": "ResearchStudy",
            "project_id": "prog-alpha",
            "status": "active",
            "description": "the lexicographically-first study",
            "identifier": [],
            "identifier_coding": [],
        },
    }
    with open(os.path.join(src, "ResearchStudy.ndjson"), "a") as f:
        f.write(json.dumps(extra) + "\n")
    pipeline.put("prog-alpha", src)
    disc = pipeline.discovery().filter(F.col("project_id") == "prog-alpha").first()
    assert disc["description"] == "the lexicographically-first study"


def test_put_is_idempotent(pipeline, fhir_fixture):
    pipeline.put("prog-alpha", fhir_fixture["prog-alpha"])
    pipeline.put("prog-alpha", fhir_fixture["prog-alpha"])  # re-run same commit
    assert pipeline.patient_count("prog-alpha") == 4  # no duplication


def test_export_roundtrip(pipeline, fhir_fixture, tmp_path):
    pipeline.put("prog-alpha", fhir_fixture["prog-alpha"])
    zip_path = pipeline.get("prog-alpha", str(tmp_path / "out"), ts="20240101-000000")
    assert zip_path.endswith("prog-alpha_20240101-000000_SNAPSHOT.zip")
    with zipfile.ZipFile(zip_path) as zf:
        names = set(zf.namelist())
        assert {"ResearchStudy.ndjson", "Patient.ndjson", "Observation.ndjson",
                "DocumentReference.ndjson"} <= names
        patients = [
            json.loads(line)
            for line in zf.read("Patient.ndjson").decode().splitlines()
        ]
    exported_ids = {p["id"] for p in patients}
    original_ids = {f"patient-prog-alpha-{i}" for i in range(4)}
    assert exported_ids == original_ids


def test_delete_isolates_projects(pipeline, fhir_fixture):
    pipeline.put("prog-alpha", fhir_fixture["prog-alpha"])
    pipeline.put("prog-beta", fhir_fixture["prog-beta"])
    assert pipeline.patient_count("prog-beta") == 3
    pipeline.delete("prog-alpha")
    assert pipeline.patient_count("prog-alpha") == 0
    assert pipeline.patient_count("prog-beta") == 3  # B unchanged
    raw = pipeline.spark.read.parquet(pipeline.path("raw/resources"))
    assert raw.filter(F.col("project_id") == "prog-alpha").count() == 0


def test_zip_ingestion(pipeline, fhir_fixture, tmp_path):
    """R5: zip-of-NDJSON → same result as the directory path."""
    zip_path = zip_dir(fhir_fixture["prog-alpha"], str(tmp_path / "commit.zip"))
    out = pipeline.put("prog-alpha", zip_path)
    assert out["patient"] == 4


def test_authz_gates_methods(pipeline, fhir_fixture, tmp_path):
    assert can_create(USER_FULL, "prog-alpha") and can_read(USER_FULL, "prog-alpha")
    assert not can_create(USER_NONE, "prog-alpha")
    # project-scoped grant does not leak to sibling projects in the program
    assert not can_create(USER_FULL, "prog-beta")
    assert not can_read(USER_FULL, "prog-beta")
    # program-collection grant does not fan out to every project (the
    # privilege-escalation shape the reference rejects)
    assert not can_create(USER_PROGRAM_WIDE, "prog-alpha")
    assert not can_read(USER_PROGRAM_WIDE, "prog-alpha")
    # both program resource paths are required
    missing_program = {
        "resources": ["/programs/prog/projects"],
        "authz": USER_FULL["authz"],
    }
    assert not can_create(missing_program, "prog-alpha")
    with pytest.raises(PermissionError):
        pipeline.put("prog-alpha", fhir_fixture["prog-alpha"], user=USER_NONE)
    pipeline.put("prog-alpha", fhir_fixture["prog-alpha"], user=USER_FULL)
    with pytest.raises(PermissionError):
        pipeline.get("prog-alpha", str(tmp_path / "o"), user=USER_NONE)
    with pytest.raises(PermissionError):
        pipeline.delete("prog-alpha", user=USER_NONE)


def test_empty_input_type_still_loads(pipeline, fhir_fixture):
    """The reference's /dev/null branch (R9 :235-238): a project with no
    DocumentReference file still loads cleanly elsewhere."""
    os.remove(os.path.join(fhir_fixture["prog-beta"], "DocumentReference.ndjson"))
    out = pipeline.put("prog-beta", fhir_fixture["prog-beta"])
    assert out["patient"] == 3 and out["file"] == 0


def test_job_protocol_dispatch(spark, fhir_fixture, tmp_path):
    """R1/R18/R19: INPUT_DATA-shaped blob → put (with chained snapshot) →
    get → delete, with the [out] marshalling."""
    from aced_etl_pod_spark.plans.job import format_out, run_job

    wh = str(tmp_path / "wh")
    blob = {
        "project_id": "prog-alpha",
        "method": "put",
        "push": {"commits": [{"meta_path": fhir_fixture["prog-alpha"],
                              "commit_id": "c1", "object_id": "o1"}]},
    }
    out = run_job(spark, blob, wh, export_dir=str(tmp_path / "exp"))
    assert out["commits"][0]["patient"] == 4
    assert out["snapshot"].endswith("_SNAPSHOT.zip")
    assert format_out(out).startswith("[out] {")

    got = run_job(spark, {"project_id": "prog-alpha", "method": "get"}, wh)
    assert got["snapshot"].endswith("_SNAPSHOT.zip")

    del_out = run_job(spark, {"project_id": "prog-alpha", "method": "delete"}, wh)
    assert del_out["dropped"]["flat/patient"] is True

    import pytest as _pytest
    with _pytest.raises(ValueError):
        run_job(spark, {"project_id": "prog-alpha", "method": "bogus"}, wh)


def test_put_jobs_run_in_the_callers_job_group(pipeline, fhir_fixture):
    """The put's concurrent writes inherit the caller's job group, so
    ``cancelJobGroup`` and per-group metrics cover the whole put."""
    in_group, ungrouped = jobs_in_group(
        pipeline.spark, "g", lambda: pipeline.put("prog-alpha", fhir_fixture["prog-alpha"])
    )
    assert in_group
    assert not ungrouped


def test_put_and_get_job_counts(pipeline, fhir_fixture, tmp_path):
    """Pinned at the fixture: a recount after a write, or a scan per
    exported type, adds jobs and fails here. The get's one job is its
    export: the raw store is read with its pinned schema, so no job
    infers it."""
    spark = pipeline.spark
    put_jobs, _ = jobs_in_group(
        spark, "put-jobs", lambda: pipeline.put("prog-alpha", fhir_fixture["prog-alpha"])
    )
    get_jobs, _ = jobs_in_group(
        spark, "get-jobs", lambda: pipeline.get("prog-alpha", str(tmp_path / "out"))
    )
    assert (len(put_jobs), len(get_jobs)) == (15, 1)


def test_pinned_store_schemas_match_the_writes(pipeline, fhir_fixture):
    """Each store's pinned read schema is the one Spark infers from what
    the put wrote, so a change to a write cannot leave a stale pin."""
    spark = pipeline.spark
    pipeline.put("prog-alpha", fhir_fixture["prog-alpha"])
    for store, ddl in STORE_SCHEMAS.items():
        pinned = spark.read.schema(ddl).parquet(pipeline.path(store)).schema
        assert pinned == spark.read.parquet(pipeline.path(store)).schema, store


def test_get_of_a_project_with_no_partition_exports_empty_files(
    pipeline, fhir_fixture, tmp_path
):
    """Another project is resident, this one has no partition: the export
    still holds one empty file per type, and no other project's rows."""
    pipeline.put("prog-alpha", fhir_fixture["prog-alpha"])
    zip_path = pipeline.get("prog-beta", str(tmp_path / "out"))
    with zipfile.ZipFile(zip_path) as zf:
        assert sorted(zf.namelist()) == sorted(
            f"{t}.ndjson"
            for t in ("ResearchStudy", "Patient", "Observation", "DocumentReference")
        )
        assert all(zf.read(n) == b"" for n in zf.namelist())


def test_export_of_a_missing_type_is_an_empty_file(pipeline, fhir_fixture, tmp_path):
    os.remove(os.path.join(fhir_fixture["prog-beta"], "DocumentReference.ndjson"))
    pipeline.put("prog-beta", fhir_fixture["prog-beta"])
    zip_path = pipeline.get("prog-beta", str(tmp_path / "out"))
    with zipfile.ZipFile(zip_path) as zf:
        assert sorted(zf.namelist()) == sorted(
            f"{t}.ndjson"
            for t in ("ResearchStudy", "Patient", "Observation", "DocumentReference")
        )
        assert zf.read("DocumentReference.ndjson") == b""
        assert zf.read("Patient.ndjson").count(b"\n") == 3


def test_get_surfaces_a_read_error(pipeline, fhir_fixture, tmp_path):
    """A present but unreadable raw store raises its read error; only an
    absent store reads as empty."""
    with pytest.raises(FileNotFoundError, match="raw store is empty"):
        pipeline.get("prog-alpha", str(tmp_path / "out"))
    pipeline.put("prog-alpha", fhir_fixture["prog-alpha"])
    part_dir = pipeline.path("raw/resources/project_id=prog-alpha")
    for name in os.listdir(part_dir):
        with open(os.path.join(part_dir, name), "wb") as f:
            f.write(b"not parquet")
    with pytest.raises(Py4JJavaError):
        pipeline.get("prog-alpha", str(tmp_path / "out"))


def test_store_with_every_project_dropped_reads_as_empty(pipeline, fhir_fixture, tmp_path):
    pipeline.put("prog-alpha", fhir_fixture["prog-alpha"])
    pipeline.delete("prog-alpha")
    assert pipeline.patient_count("prog-alpha") == 0
    with pytest.raises(FileNotFoundError, match="raw store is empty"):
        pipeline.get("prog-alpha", str(tmp_path / "out"))


def test_failed_put_reraises_and_releases_its_cache(pipeline, fhir_fixture):
    """One write of the concurrent wave fails (a file sits where the
    flat/file store goes): the put re-raises it, returns, and leaves
    nothing cached."""
    spark = pipeline.spark
    spark.catalog.clearCache()
    os.makedirs(pipeline.path("flat"))
    with open(pipeline.path("flat/file"), "w") as f:
        f.write("in the way\n")
    raised = []

    def put():
        try:
            pipeline.put("prog-alpha", fhir_fixture["prog-alpha"])
        except Exception as e:
            raised.append(e)

    t = threading.Thread(target=put, daemon=True)
    t.start()
    t.join(timeout=300)
    assert not t.is_alive(), "put did not return"
    assert len(raised) == 1 and isinstance(raised[0], Py4JJavaError)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
