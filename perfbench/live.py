"""live_stream: the reference's own workload, which bypasses ``plans`` and
``operators``.

A generator process writes live-chunk parquet files (``live_gen.py``).  Two
streaming queries read them through the file source: the live path
(``live_transform`` -> ``start_foreach_batch(make_live_log_sink)``) and the
keyed gap state (``track_gaps``, noop sink).  Both use a 5 s trigger with
no files-per-trigger cap.

- Phase A: the backlog is present when the queries start.  Draining it
  is the cold start (JVM, code generation, Python UDF workers); it counts
  in set-up and its catch-up rate is reported on stderr only.
- Phase B: the generator writes at one fixed rate (open loop) for
  ``--seconds``, in whole trigger periods aligned with Spark's trigger
  clock.  An event's
  latency runs from its file's due time to the end of the sink call that
  committed it: the wait for the next trigger (the same share of a period
  in every run) plus the micro-batch (bound by per-batch overhead).
- Phase C: once phase B has drained, a burst lands just before a trigger;
  its events divided by the time from landing to the end of the sink call
  that committed them is the catch-up throughput (bound by the cost per
  row).
- Then ``latest_view`` reads over the metadata log, the read side: a few
  untimed reads, then the median of a few more.

Completion is read from the queries' checkpoints (the file source's log and
the commit log), not from progress row counts: a foreachBatch sink that
reads its batch more than once reports more input rows than it received.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import time

from common import median, percentile

STREAMS = 1000
BACKLOG = 3_000  # phase A
BURST = 20_000  # phase C
RATE = 50.0  # events/s in phase B
INTERVAL = 0.2  # s between phase-B files
# The reference's live trigger is 1 s; on 4 cores a warm micro-batch of
# this engine takes 2.5-3.5 s, and twice that when the host is busy, so at
# 1 s (or 2 s) batches queue behind each other and latency follows the
# queue.  At 5 s, the reference's other cadence, every batch fits its
# period.
TRIGGER_S = 5
# latest_view reads: the first few after the run are slower (about 2.4,
# 1.35 and 1.3 s, then 1.1-1.2 s), so they are untimed
WARM_READS = 3
READS = 3
NO_CAP = 1_000_000  # files per trigger: effectively uncapped
KEYS = ["stream_id", "chunk_index"]


def prepare(work_root: str) -> dict:
    return {}


def _file_batches(checkpoint: str) -> dict[str, int]:
    """File name -> micro-batch id, from the file source's own log in the
    checkpoint (plain and compacted entries)."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        with open(path) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    out.setdefault(os.path.basename(e["path"]), int(e["batchId"]))
    return out


def _committed(checkpoint: str, names: list[str]) -> bool:
    """True once every named file is in a micro-batch the query committed."""
    batches = _file_batches(checkpoint)
    if any(n not in batches for n in names):
        return False
    last = max(batches[n] for n in names)
    return os.path.exists(os.path.join(checkpoint, "commits", str(last)))


class _Topology:
    """The two streaming queries over one input directory."""

    def __init__(self, spark, base: str, tracer, counters):
        from kafka_spark_streaming_pipeline_spark.schemas import LIVE_CHUNK_SCHEMA
        from kafka_spark_streaming_pipeline_spark.sources.files import parquet_stream
        from kafka_spark_streaming_pipeline_spark.streaming.pipeline import (
            live_transform,
            start_foreach_batch,
        )
        from kafka_spark_streaming_pipeline_spark.streaming.sinks import make_live_log_sink
        from kafka_spark_streaming_pipeline_spark.streaming.state import track_gaps

        self.meta = os.path.join(base, "meta")
        self.ckpts = (os.path.join(base, "ckpt_sink"), os.path.join(base, "ckpt_gaps"))
        self.calls: dict[int, tuple[float, float]] = {}
        inner = make_live_log_sink(self.meta, os.path.join(base, "chunks"))

        def sink(batch_df, batch_id):
            if counters:
                counters.set_group(f"live-sink-{batch_id}")
            t0 = time.time()
            try:
                with tracer.span("streaming.sinks.live_log", trace=f"batch-{batch_id}"):
                    inner(batch_df, batch_id)
            finally:
                self.calls[batch_id] = (t0, time.time())
                if counters:
                    counters.set_group(None)

        with tracer.span("sources.files"):
            raw = parquet_stream(spark, os.path.join(base, "in"), LIVE_CHUNK_SCHEMA, NO_CAP)
        with tracer.span("streaming.pipeline"):
            stream = live_transform(raw)
            self.sink_q = start_foreach_batch(
                stream, sink, self.ckpts[0], trigger_seconds=TRIGGER_S,
                query_name="live_sink")
        with tracer.span("streaming.state"):
            self.gaps_q = (
                track_gaps(stream.select("stream_id", "sequence_number"))
                .writeStream.format("noop").outputMode("update").queryName("live_gaps")
                .option("checkpointLocation", self.ckpts[1])
                .trigger(processingTime=f"{TRIGGER_S} seconds").start())

    def wait(self, names: list[str], timeout: float) -> bool:
        deadline = time.time() + timeout
        while time.time() < deadline:
            for q in (self.sink_q, self.gaps_q):
                if q.exception() is not None:
                    raise RuntimeError(f"{q.name} failed: {q.exception()}")
            if all(_committed(c, names) for c in self.ckpts):
                return True
            time.sleep(0.02)
        return False

    def stop(self) -> None:
        for q in (self.sink_q, self.gaps_q):
            q.stop()


class _Generator:
    """The generator process, stepped through its phases over stdin; each
    step answers with the names of the files it wrote."""

    def __init__(self, in_dir: str, ledger: str, seed: int, seconds: float):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                          "live_gen.py"),
             "--dir", in_dir, "--ledger", ledger, "--seed", str(seed),
             "--streams", str(STREAMS), "--backlog", str(BACKLOG), "--burst", str(BURST),
             "--rate", str(RATE), "--interval", str(INTERVAL), "--period", str(TRIGGER_S),
             "--seconds", str(seconds)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )

    def expect(self, step: str) -> list[str]:
        line = self.proc.stdout.readline()
        got = json.loads(line) if line.startswith("{") else {"step": line.strip()}
        if got["step"] != step:
            raise RuntimeError(f"live generator said {got['step']!r}, expected {step!r}")
        return got["files"]

    def step(self, step: str) -> list[str]:
        self.proc.stdin.write("next\n")
        self.proc.stdin.flush()
        return self.expect(step)

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait(30)
        self.proc.stdin.close()
        self.proc.stdout.close()


def run(spark, ctx, prep: dict) -> dict:
    from pyspark.sql import functions as F

    from kafka_spark_streaming_pipeline_spark.streaming.sinks import latest_view

    tracer, counters = ctx.tracer, ctx.counters
    base = os.path.join(ctx.run_dir, "live")
    os.makedirs(os.path.join(base, "in"))
    ledger_path = os.path.join(base, "ledger.json")
    gen = _Generator(os.path.join(base, "in"), ledger_path, ctx.seed, ctx.seconds)
    topo = None
    try:
        # ---- set-up: start the queries over the backlog (phase A), cold
        backlog = gen.expect("backlog")
        t_start = time.time()
        topo = _Topology(spark, base, tracer, counters)
        if not topo.wait(backlog, 120):
            raise RuntimeError("phase A backlog not committed in 120 s")
        warm_s = time.time() - t_start
        marks = [time.time()]

        # ---- phase B: open loop at RATE
        opened = gen.step("open")
        t_gen_end = time.time()
        if not topo.wait(opened, 60):
            raise RuntimeError("events left uncommitted 60 s after phase B")
        t_drained = time.time()
        marks.append(t_drained)

        # ---- phase C: a burst on the warm queries
        burst = gen.step("burst")
        gen.proc.wait(30)
        if not topo.wait(burst, 120):
            raise RuntimeError("phase C burst not committed in 120 s")
        marks.append(time.time())
        sink_progress = list(topo.sink_q.recentProgress)
        gaps_progress = list(topo.gaps_q.recentProgress)
    finally:
        gen.close()
        if topo is not None:
            topo.stop()
    with open(ledger_path) as f:
        ledger = json.load(f)

    # ---- latencies: file -> batch from the checkpoint, batch -> sink call end
    batch_of = _file_batches(topo.ckpts[0])
    calls = topo.calls
    lat_ms: list[float] = []
    rows_in: dict[int, int] = {}
    backlog_at_end = 0
    by_phase: dict[str, list[dict]] = {}
    for fr in ledger["files"]:
        b = batch_of[fr["name"]]
        rows_in[b] = rows_in.get(b, 0) + fr["n"]
        by_phase.setdefault(fr["phase"], []).append(fr)
        if fr["phase"] == "B" and calls[b][1] > t_gen_end:
            backlog_at_end += fr["n"]
        if fr["phase"] == "B":
            lat_ms.extend([(calls[b][1] - fr["due"]) * 1000.0] * fr["n"])
    cold = BACKLOG / (max(calls[batch_of[fr["name"]]][1] for fr in by_phase["A"]) - t_start)
    c_end = max(calls[batch_of[fr["name"]]][1] for fr in by_phase["C"])
    catchup = BURST / (c_end - min(fr["due"] for fr in by_phase["C"]))
    b_ids = sorted({batch_of[fr["name"]] for fr in by_phase["B"]})
    c_ids = sorted({batch_of[fr["name"]] for fr in by_phase["C"]})
    late = [(fr["written"] - fr["due"]) * 1000.0 for fr in by_phase["B"]]

    # ---- read side: latest_view over the metadata log; the read also
    # counts the rows flagged by checksum validation
    reads = []
    for k in range(WARM_READS + READS):
        t0 = time.perf_counter()
        with tracer.span("streaming.sinks.latest_view"):
            n_latest, n_bad = latest_view(spark, topo.meta, KEYS, "sequence_number").agg(
                F.count("*"), F.count(F.when(~F.col("checksum_ok"), 1))).first()
        if k >= WARM_READS:
            reads.append(time.perf_counter() - t0)

    marks.append(time.time())

    # ---- checks (outside every timed region)
    checks: list[tuple[str, bool, str]] = []
    checks.append(("live:latest_rows", n_latest == ledger["n_events"],
                   f"{n_latest} rows / {ledger['n_events']} distinct keys generated"))
    checks.append(("live:checksum_failures", n_bad == ledger["corrupt"],
                   f"{n_bad} flagged / {ledger['corrupt']} injected"))
    gaps = _final_gaps(spark, topo.ckpts[1])
    truth = {k: tuple(v) for k, v in ledger["truth"].items()}
    wrong = sum(1 for k, v in truth.items() if gaps.get(k) != v)
    checks.append(("live:gap_state", wrong == 0 and len(gaps) == len(truth),
                   f"{len(truth) - wrong}/{len(truth)} streams match injected gaps"))

    p50, p90 = percentile(lat_ms, 50.0), percentile(lat_ms, 90.0)
    e2e = {
        "throughput_per_s": catchup,
        "latency_p50_ms": p50,
        "latency_p90_ms": p90,
        "read_ms": median(reads) * 1000.0,
    }
    report = {
        "live_catchup_events_per_s": (catchup, "1/s"),
        "live_latency_p50_ms": (p50, "ms"),
        "live_latency_p90_ms": (p90, "ms"),
        "live_read_s": (median(reads), "s"),
        "cold_catchup_events_per_s": (cold, "1/s"),
        "phase_b_batches": (len(b_ids), "count"),
        "phase_b_events": (len(lat_ms), "count"),
        "phase_c_batches": (len(c_ids), "count"),
        "backlog_s_at_phase_b_end": (backlog_at_end / RATE, "s"),
        "drain_s": (t_drained - t_gen_end, "s"),
        "generator_late_p90_ms": (percentile(late, 90.0), "ms"),
        **{f"wall_{k}_s": (t1 - t0, "s")
           for k, t0, t1 in zip(("phase_b", "phase_c", "reads"), marks, marks[1:])},
    }
    layer = {}
    if counters:
        layer = _layer(counters, calls, b_ids, rows_in, sink_progress, gaps_progress, topo.meta)
        layer.update({
            "live.batches": len(b_ids),
            "live.backlog_s_at_end": backlog_at_end / RATE,
            "live.drain_s": t_drained - t_gen_end,
            "live.generator_late_p90_ms": percentile(late, 90.0),
        })
    # operations: every sink call and every gap-state micro-batch
    gap_batches = len(os.listdir(os.path.join(topo.ckpts[1], "commits")))
    return {"warm_s": warm_s, "e2e": e2e, "report": report, "layer": layer,
            "attempted": len(calls) + gap_batches, "failed": 0, "checks": checks}


def _final_gaps(spark, checkpoint: str) -> dict[str, tuple[int, int]]:
    """Final (gap_events, missing_total) per stream, read from the gap
    query's state store through Spark's state data source."""
    rows = spark.read.format("statestore").load(checkpoint).collect()
    return {r["key"]["stream_id"]: (int(r["value"]["groupState"]["gap_events"]),
                                    int(r["value"]["groupState"]["missing_total"]))
            for r in rows}


def _layer(counters, calls, b_ids, rows_in, sink_progress, gaps_progress, meta) -> dict:
    def dur(p, *keys):
        return sum(p["durationMs"].get(k, 0) for k in keys)

    sink_b = [p for p in sink_progress if p["batchId"] in set(b_ids)]
    stats = [counters.group_stats(f"live-sink-{b}") for b in b_ids]
    gp = [p for p in gaps_progress if p["numInputRows"] > 0]
    state = [p["stateOperators"][0] for p in gp if p["stateOperators"]]
    files = [os.path.join(d, f) for d, _, fs in os.walk(meta) for f in fs]
    return {
        "sources.files.offset_ms": median([dur(p, "latestOffset", "getBatch") for p in sink_b]),
        "streaming.pipeline.planning_ms": median([dur(p, "queryPlanning") for p in sink_b]),
        "live.rows_per_batch": median([rows_in[b] for b in b_ids]),
        "streaming.sinks.live_log.call_s": median([calls[b][1] - calls[b][0] for b in b_ids]),
        "streaming.sinks.live_log.jobs_per_batch": median([s["jobs"] for s in stats]),
        "streaming.state.gaps.add_batch_ms": median([dur(p, "addBatch") for p in gp]),
        "streaming.state.gaps.rows_total": state[-1]["numRowsTotal"],
        "streaming.state.gaps.memory_bytes": state[-1]["memoryUsedBytes"],
        "streaming.state.gaps.commit_ms": median([s["commitTimeMs"] for s in state]),
        "streaming.txn.checkpoint_ms": median([dur(p, "walCommit", "commitOffsets")
                                               for p in sink_b]),
        "streaming.txn.meta_log_files": len(files),
        "streaming.txn.meta_log_bytes": sum(os.path.getsize(f) for f in files),
    }
