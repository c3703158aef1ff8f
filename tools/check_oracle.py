#!/usr/bin/env python3
"""Local oracle differential checker — mimics the driver's t2 gate.

Runs every query in the registry through BOTH Spark and DuckDB at the
given scale factor and compares row count, column names, and an
order-insensitive value hash.  Usage:

    python tools/check_oracle.py [--json OUT.json] [sf_dir] [query ...]

With ``--json`` the per-query results are also written as a single
JSON object in the driver's CORRECTNESS_r*.json shape, so the queries
outside the driver's 50-slot window keep an in-repo green record
(ORACLE_FULL_r{N}.json, committed per round).
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def canonical(rows: list[tuple], cols: list[str]) -> str:
    """Order-insensitive canonical form: sort columns by name, render
    every value to a stable string, sort rows, hash."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def render(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return f"{v:.6f}"
        if isinstance(v, bool):
            return "true" if v else "false"
        return str(v)

    lines = sorted("|".join(render(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def _query_names() -> set[str]:
    from kafka_spark_streaming_pipeline_spark.plans import QUERIES

    return set(QUERIES)


def main() -> int:
    argv = sys.argv[1:]
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    unknown = [a for a in argv if a.startswith("--")]
    if unknown:
        raise SystemExit(
            f"unknown flags {unknown}: usage is "
            "check_oracle.py [--json OUT.json] [sf_dir] [query ...] "
            "(a misparsed flag would silently select zero queries and "
            "report a vacuous '0 failures')"
        )
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    missing = [q for q in only if q not in _query_names()]
    if missing:
        raise SystemExit(
            f"unknown query names {missing}: a typo here would silently "
            "select nothing and report a vacuous '0 failures'"
        )

    import duckdb

    from kafka_spark_streaming_pipeline_spark.catalog import TABLES, table_path
    from kafka_spark_streaming_pipeline_spark.plans import QUERIES
    from kafka_spark_streaming_pipeline_spark.session import get_spark

    spark = get_spark(shuffle_partitions=8)
    con = duckdb.connect()
    import os
    for t in TABLES:
        p = table_path(sf_dir, t)
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    failures = []
    record: dict[str, dict] = {}
    for name, q in sorted(QUERIES.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = q.builder(spark, sf_dir)
            s_rows = [tuple(r) for r in sdf.collect()]
            s_cols = sdf.columns
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            record[name] = {"err": f"spark: {e}"[:300]}
            continue
        if q.oracle is None:
            print(f"ok   {name}: rows-only, {len(s_rows)} rows ({time.time()-t0:.1f}s)")
            record[name] = {
                "err": None,
                "spark_rows": len(s_rows),
                "rows_only": True,
                "sec": round(time.time() - t0, 2),
            }
            continue
        try:
            res = con.execute(q.oracle)
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            record[name] = {"err": f"duckdb: {e}"[:300]}
            continue
        problems = []
        if len(s_rows) != len(d_rows):
            problems.append(f"rows {len(s_rows)} vs {len(d_rows)}")
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"cols {sorted(s_cols)} vs {sorted(d_cols)}")
        if not problems and canonical(s_rows, list(s_cols)) != canonical(d_rows, d_cols):
            problems.append("value-hash mismatch")
            # show a sample diff
            order_s = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
            order_d = sorted(range(len(d_cols)), key=lambda i: d_cols[i])
            ss = sorted(tuple(r[i] for i in order_s) for r in s_rows)
            dd = sorted(tuple(r[i] for i in order_d) for r in d_rows)
            for a, b in zip(ss, dd):
                if a != b:
                    problems.append(f"first diff:\n  spark  {a}\n  duckdb {b}")
                    break
        if problems:
            print(f"FAIL {name}: {'; '.join(problems[:3])}")
            failures.append(name)
        else:
            print(f"PASS {name}: {len(s_rows)} rows ({time.time()-t0:.1f}s)")
        record[name] = {
            "err": None,
            "spark_rows": len(s_rows),
            "oracle_rows": len(d_rows),
            "rows_match": len(s_rows) == len(d_rows),
            "schema_match": sorted(s_cols) == sorted(d_cols),
            "hash_match": not problems,
            "sec": round(time.time() - t0, 2),
        }

    if json_out:
        with open(json_out, "w") as f:
            json.dump({"sf_dir": sf_dir, "queries": record}, f, sort_keys=True)
            f.write("\n")
        print(f"wrote {json_out} ({len(record)} queries)")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
