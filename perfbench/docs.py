"""doc_ingest: one closed-loop caller pushes seeded document batches
through the quality gate, curation, datasheet and heavy-hitter sinks
(``make_*_sink``) with explicit batch ids.

This is where the sink and curation operators act; it has no streaming
state and no registry plans.  History grows with every batch, so a cost
that scales with history instead of with the batch shows as
``doc.batch_s_last_over_first``.
"""

from __future__ import annotations

import os
import random
import time

import numpy as np

from common import median, percentile
from corpus import VOCAB, doc_texts

POOL_SEED = 5_000  # the fixed document pool the LM is trained on
EVAL_SEED = 5_001  # the fixed held-out eval set curation decontaminates against
POOL_DOCS = 5_000
EVAL_DOCS = 100
BATCH_DOCS = 400
MAX_CROSS_ENTROPY = 100.0
# shares of each batch; the rest are fresh documents
SHARES = {"exact": 0.10, "near": 0.10, "eval": 0.05}
SINKS = ("gate", "curation", "datasheet", "heavy_hitters")


def layer_metric_names() -> list[tuple[str, str]]:
    out = []
    for s in SINKS:
        out += [(f"streaming.sinks.{s}.call_s", "s"),
                (f"streaming.sinks.{s}.jobs_per_batch", "count"),
                (f"streaming.sinks.{s}.shuffle_bytes", "bytes")]
    return out + [("operators.curation.accept_ratio", "ratio"),
                  ("doc.batch_s_last_over_first", "ratio")]


def prepare(work_root: str) -> dict:
    return {}


class DocBatches:
    """Seeded document batches.  Each batch mixes fresh documents (pool
    documents with a third of their words replaced), exact repeats and
    near-duplicates of documents fed in earlier batches, and copies of
    eval-set documents.  ``kinds`` records every document's kind, the
    ground truth of the checks."""

    def __init__(self, seed: int, pool: list[str], evals: list[str]):
        self.rng = random.Random(seed)
        self.pool, self.evals = pool, evals
        self.fed: list[str] = []
        self.kinds: dict[int, str] = {}
        self.next_id = 0

    def _fresh(self) -> str:
        words = self.rng.choice(self.pool).split()
        for i in self.rng.sample(range(len(words)), len(words) // 3):
            words[i] = self.rng.choice(VOCAB)
        return " ".join(words)

    def _near(self, text: str) -> str:
        words = text.split()
        words[self.rng.randrange(len(words))] = self.rng.choice(VOCAB)
        return " ".join(words) + " dup"

    def next(self, n: int) -> list[tuple[int, str, str]]:
        rows = []
        for _ in range(n):
            r = self.rng.random()
            if r < SHARES["eval"]:
                kind, text = "eval", self.rng.choice(self.evals)
            elif self.fed and r < SHARES["eval"] + SHARES["exact"]:
                kind, text = "exact", self.rng.choice(self.fed)
            elif self.fed and r < SHARES["eval"] + SHARES["exact"] + SHARES["near"]:
                kind, text = "near", self._near(self.rng.choice(self.fed))
            else:
                kind, text = "fresh", self._fresh()
            doc_id = self.next_id
            self.next_id += 1
            self.kinds[doc_id] = kind
            rows.append((doc_id, f"src{doc_id % 20}", text))
        self.fed.extend(t for _, _, t in rows)
        return rows


class _Sinks:
    def __init__(self, spark, base: str, lm_path: str, eval_df):
        from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
            make_curation_sink,
            make_datasheet_sink,
            make_heavy_hitters_sink,
            make_quality_gate_sink,
        )

        self.base = base
        self.gate = make_quality_gate_sink(
            f"{base}/acc", f"{base}/rej", lm_path, f"{base}/fp",
            max_cross_entropy=MAX_CROSS_ENTROPY)
        self.curation = make_curation_sink(f"{base}/cur", eval_df)
        self.datasheet = make_datasheet_sink(f"{base}/ds")
        self.heavy_hitters = make_heavy_hitters_sink(f"{base}/hh", candidate_floor=100)

    def push(self, batch, batch_id: int, tracer, counters) -> dict[str, float]:
        from pyspark.sql import functions as F

        inputs = {
            "gate": batch.select("doc_id", "text"),
            "curation": batch.select("doc_id", "text"),
            "datasheet": batch,
            "heavy_hitters": batch.select(
                F.explode(F.split(F.lower(F.col("text")), " ")).alias("term")),
        }
        times = {}
        for name in SINKS:
            if counters:
                counters.set_group(f"doc-{name}-{batch_id}")
            t0 = time.perf_counter()
            try:
                with tracer.span(f"streaming.sinks.{name}", trace=f"batch-{batch_id}"):
                    getattr(self, name)(inputs[name], batch_id)
            finally:
                if counters:
                    counters.set_group(None)
            times[name] = time.perf_counter() - t0
        return times


def _frame(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def run(spark, ctx, prep: dict) -> dict:
    from pyspark.sql import functions as F

    from kafka_spark_streaming_pipeline_spark.operators.curation import save_bigram_lm
    from kafka_spark_streaming_pipeline_spark.operators.text import fingerprint
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        curation_yield_view,
        datasheet_view,
        gate_view,
        heavy_hitters_view,
    )

    tracer, counters = ctx.tracer, ctx.counters
    base = os.path.join(ctx.run_dir, "doc")
    pool = doc_texts(np.random.default_rng(POOL_SEED), POOL_DOCS)
    evals = doc_texts(np.random.default_rng(EVAL_SEED), EVAL_DOCS, near_dup_share=0.0)

    # ---- set-up: LM build, sinks, one warm batch into throwaway logs
    t_warm = time.perf_counter()
    lm_path = f"{base}/lm"
    with tracer.span("operators.curation.save_bigram_lm"):
        save_bigram_lm(_frame(spark, [(i, "", t) for i, t in enumerate(pool)]), lm_path)
    eval_df = spark.createDataFrame(list(enumerate(evals)), "doc_id long, text string")
    warm = DocBatches(ctx.seed + 1, pool, evals)
    warm_sinks = _Sinks(spark, f"{base}/warm", lm_path, eval_df)
    warm_sinks.push(_frame(spark, warm.next(BATCH_DOCS)), 0, tracer, None)
    sinks = _Sinks(spark, f"{base}/live", lm_path, eval_df)
    warm_s = time.perf_counter() - t_warm

    # ---- timed closed loop
    gen = DocBatches(ctx.seed, pool, evals)
    batch_s: list[float] = []
    batch_ids: list[int] = []
    sink_s: dict[str, list[float]] = {s: [] for s in SINKS}
    failed = 0
    elapsed = 0.0
    while not batch_s or elapsed < ctx.seconds:
        batch = _frame(spark, gen.next(BATCH_DOCS))
        b = len(batch_s) + failed
        t0 = time.perf_counter()
        try:
            times = sinks.push(batch, b, tracer, counters)
        except Exception:
            failed += 1
            elapsed += time.perf_counter() - t0
            continue
        dt = time.perf_counter() - t0
        elapsed += dt
        batch_s.append(dt)
        batch_ids.append(b)
        for s, v in times.items():
            sink_s[s].append(v)
    n_docs = gen.next_id

    # ---- read side: every view the sinks maintain
    t_read = time.perf_counter()
    with tracer.span("streaming.sinks.views"):
        yields = {r["stage"]: r for r in curation_yield_view(spark, f"{sinks.base}/cur").collect()}
        acc = gate_view(spark, f"{sinks.base}/acc").select("doc_id").collect()
        rej = gate_view(spark, f"{sinks.base}/rej").select("doc_id").collect()
        ds = datasheet_view(spark, f"{sinks.base}/ds").collect()
        hh = heavy_hitters_view(spark, f"{sinks.base}/hh", k=5).collect()
    read_s = time.perf_counter() - t_read

    # ---- checks (outside every timed region)
    checks: list[tuple[str, bool, str]] = []
    acc_ids = [r["doc_id"] for r in acc]
    rej_ids = [r["doc_id"] for r in rej]
    landed = acc_ids + rej_ids
    checks.append(("doc:gate_exactly_once",
                   len(landed) == n_docs and set(landed) == set(range(n_docs)),
                   f"{len(acc_ids)} accepted + {len(rej_ids)} rejected / {n_docs} fed"))
    docs_in = yields["1_quality"]["docs_in"] if "1_quality" in yields else -1
    checks.append(("doc:curation_docs_in", docs_in == n_docs, f"{docs_in} / {n_docs}"))
    cur_acc = (gate_view(spark, f"{sinks.base}/cur/acc")
               .select("doc_id", fingerprint(F.col("text")).alias("fp")).collect())
    gate_fp = (gate_view(spark, f"{sinks.base}/acc")
               .select(fingerprint(F.col("text")).alias("fp")).collect())
    for name, rows in (("gate", gate_fp), ("curation", cur_acc)):
        fps = [r["fp"] for r in rows]
        checks.append((f"doc:{name}_fingerprints_unique", len(fps) == len(set(fps)),
                       f"{len(fps)} accepted, {len(set(fps))} distinct fingerprints"))
    repeats = {i for i, k in gen.kinds.items() if k == "exact"}
    leaked = len(repeats & set(acc_ids)) + len(repeats & {r["doc_id"] for r in cur_acc})
    checks.append(("doc:exact_repeats_rejected", leaked == 0,
                   f"{len(repeats)} injected exact repeats, {leaked} accepted"))
    evals_fed = {i for i, k in gen.kinds.items() if k == "eval"}
    leaked = len(evals_fed & {r["doc_id"] for r in cur_acc})
    checks.append(("doc:eval_overlap_removed", leaked == 0,
                   f"{len(evals_fed)} injected eval copies, {leaked} accepted by curation"))
    checks.append(("doc:views_nonempty", len(ds) > 0 and len(hh) == 5,
                   f"{len(ds)} datasheet sources, {len(hh)} heavy hitters"))

    docs_per_s = len(batch_s) * BATCH_DOCS / sum(batch_s)
    e2e = {
        "throughput_per_s": docs_per_s,
        "latency_p50_ms": median(batch_s) * 1000.0,
        "latency_p90_ms": percentile(batch_s, 90.0) * 1000.0,
        "read_ms": read_s * 1000.0,
    }
    report = {
        "doc_docs_per_s": (docs_per_s, "1/s"),
        "doc_batch_p50_s": (median(batch_s), "s"),
        "batches": (len(batch_s), "count"),
        **{f"{s}_call_p50_s": (median(v), "s") for s, v in sink_s.items()},
    }
    layer = {}
    if counters:
        for s in SINKS:
            st = [counters.group_stats(f"doc-{s}-{b}") for b in batch_ids]
            layer[f"streaming.sinks.{s}.call_s"] = median(sink_s[s])
            layer[f"streaming.sinks.{s}.jobs_per_batch"] = median([x["jobs"] for x in st])
            layer[f"streaming.sinks.{s}.shuffle_bytes"] = median([x["shuffle_bytes"] for x in st])
        layer["operators.curation.accept_ratio"] = (
            yields["4_decontaminate"]["docs_out"] / yields["1_quality"]["docs_in"])
        layer["doc.batch_s_last_over_first"] = batch_s[-1] / batch_s[0]
    # every sink call is one operation
    return {"warm_s": warm_s, "e2e": e2e, "report": report, "layer": layer,
            "attempted": (len(batch_s) + failed) * len(SINKS), "failed": failed,
            "checks": checks}
