#!/usr/bin/env python3
"""Regenerate QUERIES.md: the index of every registered query with its
docstring summary and oracle status, straight from the registry."""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from kafka_spark_streaming_pipeline_spark.plans import QUERIES  # noqa: E402

GROUPS = [
    ("p", "Pipeline semantics (the reference's dataflow as declarative plans)"),
    ("q", "Relational core (scans, joins, aggregations, windows, set ops, scalars)"),
    ("x", "Training-data extensions (dedup, similarity, text, multimodal, sketches)"),
]


def render() -> str:
    """QUERIES.md's text, generated from the registry."""
    lines = [
        "# QUERIES — the registered query surface",
        "",
        f"{len(QUERIES)} queries; `oracle` = value-checked against DuckDB by the",
        "correctness gate, `rows-only` = approximate/sketch semantics with accuracy",
        "asserted in tests instead.  Generated by `tools/dump_queries.py`.",
        "",
    ]
    for prefix, title in GROUPS:
        lines += [f"## {title}", ""]
        for name in sorted(QUERIES):
            if not name.startswith(prefix):
                continue
            q = QUERIES[name]
            status = "oracle" if q.oracle else "rows-only"
            first = " ".join(" ".join(q.doc.split("\n")[:3]).split())
            cut = first.find(". ")
            summary = first[:cut] if cut != -1 else first.rstrip(".")
            lines.append(f"- **{name}** ({status}) — {summary}.")
        lines.append("")
    return "\n".join(lines) + "\n"


def main() -> None:
    with open(os.path.join(ROOT, "QUERIES.md"), "w") as f:
        f.write(render())
    print(f"wrote QUERIES.md ({len(QUERIES)} queries)")


if __name__ == "__main__":
    main()
