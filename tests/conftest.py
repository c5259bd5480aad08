"""Shared fixtures: one tuned local session per test run, FHIR-shaped
NDJSON fixtures (FIXTURES.md §B) with two projects for isolation tests."""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aced_etl_pod_spark.ladder import jobs_in_group  # noqa: F401  (tests import it from here)
from aced_etl_pod_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


def assert_gated(*pairs):
    """Each (fn, oracle) pair is exactly a registered op's: the same
    function object and the same oracle SQL. tests/test_parity.py then
    runs its DuckDB differential check at SF_SMALL, once per op, so a
    queue test need not run it a second time."""
    from aced_etl_pod_spark.registry import registry

    ops = {o.fn: o for o in registry().values()}
    for fn, oracle in pairs:
        assert fn in ops, f"{fn.__name__} is not registered"
        assert ops[fn].oracle == oracle, f"{fn.__name__}: oracle differs"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s
    # Explicit stop so the JVM exits promptly and a detached pytest run
    # can't drop the trailing summary line (VERDICT r5 minor item 4).
    s.stop()


def _envelope(rid, name, obj, relations=None):
    return {"id": rid, "name": name, "relations": relations or [], "object": obj}


def write_fhir_fixture(root: str, project_id: str, n_patients: int = 4) -> str:
    """FHIR-shaped NDJSON per FIXTURES.md §B: ResearchStudy + Patients +
    Observations (2/patient) + DocumentReferences (1/patient)."""
    out = os.path.join(root, project_id)
    os.makedirs(out, exist_ok=True)
    study_id = f"study-{project_id}"
    study = _envelope(
        study_id,
        "research_study",
        {
            "id": study_id,
            "resourceType": "ResearchStudy",
            "project_id": project_id,
            "status": "active",
            "description": f"Skeleton ResearchStudy for {project_id}",
            "identifier": [f"{project_id}#idp"],
            "identifier_coding": [f"https://example.org/{project_id}#idp"],
        },
    )
    with open(os.path.join(out, "ResearchStudy.ndjson"), "w") as f:
        f.write(json.dumps(study) + "\n")
    with open(os.path.join(out, "Patient.ndjson"), "w") as f:
        for i in range(n_patients):
            pid = f"patient-{project_id}-{i}"
            env = _envelope(
                pid,
                "patient",
                {
                    "id": pid,
                    "resourceType": "Patient",
                    "project_id": project_id,
                    "status": "active",
                    "subject_id": study_id,
                },
                relations=[{"dst_id": study_id, "dst_name": "research_study", "label": "member_of"}],
            )
            f.write(json.dumps(env) + "\n")
    with open(os.path.join(out, "Observation.ndjson"), "w") as f:
        for i in range(n_patients):
            for j in range(2):
                oid = f"obs-{project_id}-{i}-{j}"
                env = _envelope(
                    oid,
                    "observation",
                    {
                        "id": oid,
                        "resourceType": "Observation",
                        "project_id": project_id,
                        "status": "final",
                        "subject_id": f"patient-{project_id}-{i}",
                        "value": 10.0 * i + j,
                        "effective_ts": "2024-01-01T00:00:00",
                    },
                    relations=[
                        {
                            "dst_id": f"patient-{project_id}-{i}",
                            "dst_name": "patient",
                            "label": "subject_of",
                        }
                    ],
                )
                f.write(json.dumps(env) + "\n")
    with open(os.path.join(out, "DocumentReference.ndjson"), "w") as f:
        for i in range(n_patients):
            did = f"doc-{project_id}-{i}"
            env = _envelope(
                did,
                "document_reference",
                {
                    "id": did,
                    "resourceType": "DocumentReference",
                    "project_id": project_id,
                    "status": "current",
                    "subject_id": f"patient-{project_id}-{i}",
                },
                relations=[
                    {
                        "dst_id": f"patient-{project_id}-{i}",
                        "dst_name": "patient",
                        "label": "describes",
                    }
                ],
            )
            f.write(json.dumps(env) + "\n")
    return out


@pytest.fixture()
def fhir_fixture(tmp_path):
    """Two projects (isolation tests need ≥2 — FIXTURES.md §B)."""
    a = write_fhir_fixture(str(tmp_path), "prog-alpha", n_patients=4)
    b = write_fhir_fixture(str(tmp_path), "prog-beta", n_patients=3)
    return {"prog-alpha": a, "prog-beta": b, "root": str(tmp_path)}
