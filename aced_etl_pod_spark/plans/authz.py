"""Authorization-as-filter (reference R3/R4).

The reference gates jobs on a user profile: resource-path membership plus a
method/service grant (``_can_create`` etl-job/fhir_import_export.py:62-102,
``_can_read`` :105-145; docs/project-access.txt). In a Spark engine that
reduces to (a) a pure predicate on the job parameters, and (b) row-level
security: a broadcast set of permitted project_ids applied as a filter.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def split_project_id(project_id: str) -> tuple[str, str]:
    """``<program>-<project>`` split (``_get_program_project``,
    fhir_import_export.py:55-59)."""
    assert project_id.count("-") == 1, f"{project_id} must be <program>-<project>"
    program, project = project_id.split("-")
    return program, project


def _check(user: dict, project_id: str, method: str) -> bool:
    """Shared shape of ``_can_create``/``_can_read``
    (fhir_import_export.py:62-102 / :105-145): the user's *resources* must
    contain BOTH /programs/{program} and /programs/{program}/projects, and
    the *authz* grant is looked up under the PROJECT-level path
    /programs/{program}/projects/{project} as the exact entry
    ``{'method': <method>, 'service': '*'}``. Program-level grants do NOT
    fan out to every project in the program."""
    program, project = split_project_id(project_id)
    resources = set(user.get("resources") or [])
    if f"/programs/{program}" not in resources:
        return False
    if f"/programs/{program}/projects" not in resources:
        return False
    grants = (user.get("authz") or {}).get(
        f"/programs/{program}/projects/{project}", []
    )
    return {"method": method, "service": "*"} in grants


def can_create(user: dict, project_id: str) -> bool:
    """Mirror of ``_can_create`` (fhir_import_export.py:62-102)."""
    return _check(user, project_id, "create")


def can_read(user: dict, project_id: str) -> bool:
    """Mirror of ``_can_read`` (fhir_import_export.py:105-145)."""
    return _check(user, project_id, "read-storage")


def readable_projects_filter(user: dict, all_project_ids: list[str]) -> Column:
    """Row-level security: the set of project_ids the user may read, as a
    filter predicate (broadcast-small by construction)."""
    allowed = [p for p in all_project_ids if can_read(user, p)]
    return F.col("project_id").isin(allowed) if allowed else F.lit(False)
