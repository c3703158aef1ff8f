"""query_mix: one closed-loop client noop-writes registered queries.

Here ``plans`` and ``operators`` do all the work and ``streaming`` none.
An untimed first pass collects every query and checks it against its
DuckDB oracle (and fills per-process caches, such as x95's PQ index);
it counts in ``setup_s``.  Timed rounds then noop-write every query once
in a seeded order, until ``--seconds`` have passed (at least two rounds);
a query's time is its fastest round and the mix's time the sum.
"""

from __future__ import annotations

import random
import time

from common import median, percentile
from corpus import canonical, ensure_corpus, oracle_results

# bound by execution: a few jobs each
RELATIONAL = [
    "p01_stream_health",
    "q01_pricing_summary",
    "q33_star_join_five_tables",
    "q40_resample_ffill",
]
# bound by driver loops: eager actions inside the builders
LLM = [
    "p14_dedup_clusters",
    "x74_bigram_perplexity",
    "x95_pq_index_search",
    "x104_entity_resolution",
]


ROUNDS = 2


def short(name: str) -> str:
    return name.split("_", 1)[0]


def prepare(root_work: str) -> dict:
    """Build step, outside every timed region: the corpus and the oracle
    side of the checks (cached in the checkout after the first run)."""
    from kafka_spark_streaming_pipeline_spark.plans import QUERIES

    corpus = ensure_corpus(root_work)
    oracles = {q: QUERIES[q].oracle for q in RELATIONAL + LLM}
    missing = [q for q, sql in oracles.items() if sql is None]
    if missing:
        raise RuntimeError(f"queries without an oracle: {missing}")
    return {"corpus": corpus, "oracle": oracle_results(root_work, corpus, oracles)}


def run(spark, ctx, prep: dict) -> dict:
    from kafka_spark_streaming_pipeline_spark.cache import session_gc, unpersist_tracked
    from kafka_spark_streaming_pipeline_spark.plans import QUERIES

    tracer, counters = ctx.tracer, ctx.counters
    corpus, oracle = prep["corpus"], prep["oracle"]
    names = RELATIONAL + LLM
    rng = random.Random(ctx.seed)
    attempted = failed = 0
    checks: list[tuple[str, bool, str]] = []

    # ---- untimed check pass (also the warm pass)
    t_warm = time.perf_counter()
    for name in rng.sample(names, len(names)):
        try:
            df = QUERIES[name].builder(spark, corpus)
            rows = [tuple(r) for r in df.collect()]
            cols = list(df.columns)
        except Exception as e:  # a query that raises fails its check
            checks.append((f"oracle:{name}", False, f"spark error: {e}"[:200]))
            continue
        finally:
            unpersist_tracked()
        want = oracle[name]
        ok = (len(rows) == want["rows"] and sorted(cols) == want["cols"]
              and canonical(rows, cols) == want["hash"])
        checks.append((f"oracle:{name}", ok,
                       f"rows {len(rows)}/{want['rows']}"))
    session_gc(spark)
    warm_s = time.perf_counter() - t_warm

    # ---- timed rounds: every query once per round, in a seeded order,
    # until --seconds have passed (at least ROUNDS rounds); a query's time
    # is its fastest round (bench.py's best-of-N, which filters co-tenant
    # noise; spreading the draws over rounds decorrelates them).  Caches
    # are released after every query, so each round recomputes.
    per_query: dict[str, list[float]] = {n: [] for n in names}
    layer: dict[str, list[float]] = {}
    released = rounds = 0
    t_timed = time.perf_counter()
    deadline = t_timed + ctx.seconds
    while rounds < ROUNDS or time.perf_counter() < deadline:
        for name in rng.sample(names, len(names)):
            attempted += 1
            group = f"q-{name}-{rounds}"
            if counters:
                counters.set_group(group)
            try:
                with tracer.span(f"plans.{short(name)}", trace=name):
                    t0 = time.perf_counter()
                    with tracer.span("plans.build", trace=name):
                        df = QUERIES[name].builder(spark, corpus)
                    t1 = time.perf_counter()
                    with tracer.span("operators.exec", trace=name):
                        df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
            except Exception:
                failed += 1
                continue
            finally:
                if counters:
                    counters.set_group(None)
                with tracer.span("cache.release", trace=name):
                    released += unpersist_tracked()
            per_query[name].append(t2 - t0)
            if counters:
                st = counters.group_stats(group)
                p = f"plans.{short(name)}"
                for key, val in ((f"{p}.build_s", t1 - t0), (f"{p}.exec_s", t2 - t1),
                                 (f"{p}.jobs", st["jobs"]),
                                 (f"{p}.shuffle_write_bytes", st["shuffle_bytes"]),
                                 (f"{p}.spill_bytes", st["spill_bytes"])):
                    layer.setdefault(key, []).append(val)
        rounds += 1
        session_gc(spark)

    best = {n: min(v) for n, v in per_query.items() if v}
    rel = sum(best[n] for n in RELATIONAL if n in best)
    llm = sum(best[n] for n in LLM if n in best)
    e2e = {
        "throughput_per_s": len(best) / (rel + llm),
        "latency_p50_ms": median(list(best.values())) * 1000.0,
        "latency_p90_ms": percentile(list(best.values()), 90.0) * 1000.0,
        "read_ms": rel * 1000.0,
    }
    report = {
        "query_mix_s": (rel + llm, "s"),
        "query_relational_s": (rel, "s"),
        "query_llm_s": (llm, "s"),
        "rounds": (rounds, "count"),
        "wall_rounds_s": (time.perf_counter() - t_timed, "s"),
        **{f"q.{short(n)}_s": (v, "s") for n, v in best.items()},
    }
    per_layer = {k: median(v) for k, v in layer.items()}
    per_layer["cache.released_frames"] = released / rounds
    return {"warm_s": warm_s, "e2e": e2e, "report": report, "layer": per_layer,
            "attempted": attempted, "failed": failed, "checks": checks}
