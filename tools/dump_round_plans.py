#!/usr/bin/env python3
"""Capture `.explain("formatted")` for the headline queries into
plans/<round>/<query>_<tag>.txt — an optimization round's before/after
plan evidence (OPTIMIZATION_<round>.md cites these files).

    python3 tools/dump_round_plans.py r13 before [query ...]
    python3 tools/dump_round_plans.py r13 after  [query ...]

With no query args, dumps the whole bench headline set.  Plans are
captured against sf0.01 (plan SHAPE is scale-invariant here; the
bench's timings are at sf0.1).  Iterative builders (EM loops,
closures) run their driver-loop actions eagerly while building — the
dumped plan is the final returned frame, same convention as
tools/dump_plans.py.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_spark_streaming_pipeline_spark.plans import QUERIES  # noqa: E402
from kafka_spark_streaming_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_PLAN_SF_DIR", "/root/testdata/sf0.01")


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit("usage: dump_round_plans.py <round> [before|after] [query ...]")
    round_ = sys.argv[1]
    tag = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3:]
    if not names:
        from bench import HEADLINE

        names = list(HEADLINE)
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        round_,
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name=f"{round_}_plans_{tag}")
    explain_mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode
    for name in names:
        df = QUERIES[name].builder(spark, SF_DIR)
        fmt = df._jdf.queryExecution().explainString(
            explain_mode.fromString("formatted")
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {name} — explain('formatted'), {tag}, {SF_DIR}\n")
            fh.write(fmt)
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
