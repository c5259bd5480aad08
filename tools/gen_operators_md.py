"""Generate docs/OPERATORS.md — the full operator inventory from the live
registry (id, tags, correctness mode, source file, first doc line).

    python tools/gen_operators_md.py

Regenerate after adding operators; tests/test_parity.py::test_operators_md_fresh
asserts the committed file matches the registry.
"""

from __future__ import annotations

import inspect
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aced_etl_pod_spark.registry import census  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(REPO, "docs", "OPERATORS.md")


def render() -> str:
    # census order, NOT registry() order: registry() puts the self-rotating
    # driver_window() first, so a doc committed in its order goes stale the
    # moment the driver lands a new CORRECTNESS_r*.json (r6 verdict item 2)
    reg = census()
    lines = [
        "# Operator inventory (auto-generated — `python tools/gen_operators_md.py`)",
        "",
        f"{len(reg)} registered operators; "
        f"{sum(1 for v in reg.values() if v.oracle)} DuckDB-oracle-checked, "
        f"{sum(1 for v in reg.values() if not v.oracle)} rows-only by design "
        "(approximate/iterative — each recall/exactness-tested in tests/).",
        "",
        "Rows are in canonical census order (module, source line). The "
        "external-driver correctness window is dynamic — query it live with "
        "`python -c \"from aced_etl_pod_spark.registry import driver_window; "
        "print(driver_window())\"`.",
        "",
        "| # | operator | correctness | tags | source | summary |",
        "|---|---|---|---|---|---|",
    ]
    for i, (op_id, o) in enumerate(reg.items(), 1):
        fn = inspect.unwrap(o.fn)
        # file only: a line number would stale the doc on any unrelated edit
        src = os.path.relpath(fn.__code__.co_filename, REPO)
        mode = "oracle" if o.oracle else "rows+tests"
        doc = (o.doc or "").strip().splitlines()[0] if o.doc else ""
        doc = doc.replace("|", "\\|")
        lines.append(
            f"| {i} | `{op_id}` | {mode} | {', '.join(o.tags)} | {src} | {doc} |"
        )
    lines.append("")
    return "\n".join(lines)


if __name__ == "__main__":
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as f:
        f.write(render())
    print(f"wrote {OUT}")
