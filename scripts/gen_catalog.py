#!/usr/bin/env python
"""Generate QUERIES.md: the full registry catalog (name, module,
oracle status, one-line doc) so coverage is reviewable without
reading the plan modules. Run: python scripts/gen_catalog.py"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "QUERIES.md")


def render() -> str:
    """The QUERIES.md text for the current registry."""
    from email_etl_spark.plans.registry import REGISTRY

    lines = [
        "# QUERIES — registry catalog",
        "",
        "Auto-generated by `scripts/gen_catalog.py`. One row per",
        "registered query (the `__spark_entry__.queries()` surface);",
        "`oracle` = has a DuckDB twin checked by the parity gate.",
        "",
        f"**{len(REGISTRY)} queries, "
        f"{sum(1 for q in REGISTRY.values() if q.oracle)} oracle-backed.**",
        "",
        "| query | module | oracle | headline | summary |",
        "| --- | --- | --- | --- | --- |",
    ]
    for name in sorted(REGISTRY):
        q = REGISTRY[name]
        mod = q.builder.__module__.rsplit(".", 1)[-1]
        doc = " ".join((q.doc or "").split())
        if len(doc) > 220:
            doc = doc[:217] + "..."
        doc = doc.replace("|", "\\|")
        lines.append(
            f"| {name} | {mod} | {'yes' if q.oracle else 'rows-only'} | "
            f"{'yes' if q.headline else ''} | {doc} |"
        )
    return "\n".join(lines) + "\n"


def main() -> None:
    with open(OUT, "w") as fh:
        fh.write(render())
    print("wrote QUERIES.md")


if __name__ == "__main__":
    main()
