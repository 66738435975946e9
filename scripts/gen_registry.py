"""Regenerate docs/REGISTRY.md from the query registry docstrings.

Run from the repo root: `python scripts/gen_registry.py`.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from taar_gcp_etl_spark.queries import (  # noqa: E402
    ORACLE_SQL,
    SPARK_QUERIES,
)


def main() -> None:
    lines = [
        "# Query registry",
        "",
        "One row per `queries()` entry — REGENERATE with",
        "`python scripts/gen_registry.py` whenever the registry changes.",
        "`oracle` = a DuckDB twin exists and is hash-compared by the",
        "driver / test harness; rows-only entries are iterative-ML/sketch",
        "ops whose outputs are checked for shape + determinism instead.",
        "The first 50 entries are all oracle-paired (the driver's",
        "artifact budget).",
        "",
        "| # | query | oracle | what it computes |",
        "|---|---|---|---|",
    ]
    for i, (name, fn) in enumerate(SPARK_QUERIES.items(), 1):
        doc = " ".join((fn.__doc__ or "").split())
        first = doc.split(". ")[0].rstrip(".")
        if len(first) > 110:
            first = first[:107] + "..."
        first = first.replace("|", "/")
        oracle = "yes" if name in ORACLE_SQL else "rows-only"
        lines.append(f"| {i} | `{name}` | {oracle} | {first} |")
    lines.append("")
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "docs",
        "REGISTRY.md",
    )
    with open(out, "w") as fh:
        fh.write("\n".join(lines))
    print(f"wrote {len(SPARK_QUERIES)} entries to {out}")


if __name__ == "__main__":
    main()
