#!/usr/bin/env python3
"""Fast per-commit registry linter — the cheap twin of the full
``test_entire_registry_lints_clean`` pytest gate.

Lints the physical plan of every registered query (or just the named
ones) against the house anti-pattern linter: cartesian products,
data-bearing single-partition exchanges, row-at-a-time Python.  Plans
are built and linted WITHOUT executing the queries, so a handful of
names finishes in seconds — cheap enough to run on every commit that
touches an operator:

    python tools/lint_registry.py x162_conformal_threshold x163_retrieval_eval
    python tools/lint_registry.py                 # whole registry
    python tools/lint_registry.py --sf /root/testdata/sf0.001 x94_curation_pipeline

Prefix matching is supported (``x16`` lints x160..x163), mirroring
check_oracle.py's name-filter convention.  Exit 0 = clean, 1 = flagged.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    argv = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.001"
    if "--sf" in argv:
        i = argv.index("--sf")
        sf_dir = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    names = argv

    from kafka_spark_streaming_pipeline_spark.plans import QUERIES
    from kafka_spark_streaming_pipeline_spark.plans.lint import lint_plan
    from kafka_spark_streaming_pipeline_spark.session import get_spark

    if names:
        selected = sorted(
            q for q in QUERIES if any(q == n or q.startswith(n) for n in names)
        )
        unknown = [
            n for n in names if not any(q == n or q.startswith(n) for q in QUERIES)
        ]
        if unknown:
            print(f"unknown query name(s): {unknown}", file=sys.stderr)
            return 2
    else:
        selected = sorted(QUERIES)

    spark = get_spark(shuffle_partitions=8)
    flagged: dict[str, list[str]] = {}
    for name in selected:
        try:
            findings = lint_plan(QUERIES[name].builder(spark, sf_dir))
        except Exception as e:  # a broken builder is also a red commit
            findings = [f"builder-error: {type(e).__name__}: {e}"]
        if findings:
            flagged[name] = findings
            print(f"FLAGGED {name}")
            for f in findings:
                print(f"    {f}")
        else:
            print(f"ok      {name}")
    print(f"\n{len(selected) - len(flagged)}/{len(selected)} clean")
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())
