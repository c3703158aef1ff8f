#!/usr/bin/env python3
"""Seeded live-chunk generator, run as its own single-threaded process.

    python3 perfbench/live_gen.py --dir IN --ledger OUT.json --seed N
        --streams 1000 --backlog 3000 --burst 20000 --rate 50
        --interval 0.2 --period 5 --seconds 10

It is stepped over stdin and answers each step with one JSON line naming
the files it wrote:

- at start, the phase-A backlog (``--backlog`` events in 4 files);
- after the first line on stdin, the phase-B open loop: one file every
  ``--interval`` seconds (a late file is written as soon as possible,
  never skipped), each carrying ``rate * interval`` events, for
  ``--seconds`` rounded to whole trigger periods.  Spark fires processing-time
  triggers on multiples of the trigger period since the epoch, so the
  loop starts on the next such multiple, and each file is due half an
  interval into its slot, strictly inside one period;
- after the second line, the phase-C burst (``--burst`` events in 4
  files), written half a second before a trigger fires, and the ledger.

Files appear by atomic rename.  The ledger records every file's phase,
due and write time and the injected faults, the ground truth of the
checks.

Events follow the reference producer (FIXTURES.md §1): event ``i`` is chunk
``i // streams`` of stream ``i % streams``; each stream skips 1-3 sequence
numbers once, at a chunk position scaled from [50, 200] of 1,000 chunks to
the chunks the run generates; about 2% of checksums are corrupted.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORRUPT_SHARE = 0.02
BACKLOG_FILES = 4
LEAD_S = 0.5  # the burst lands this long before a trigger


def plan(seed: int, streams: int, n_events: int) -> dict:
    """The deterministic event plan: stream ids, each stream's gap, and
    which event indexes carry a corrupted checksum."""
    rng = np.random.default_rng(seed)
    ids = [f"live-{h}" for h in (bytes(rng.integers(0, 256, 5, dtype=np.uint8)).hex()
                                 for _ in range(streams))]
    if len(set(ids)) != streams:
        raise RuntimeError("stream id collision; pick another seed")
    chunks = -(-n_events // streams)
    lo = max(1, chunks * 50 // 1000)
    hi = max(lo, min(chunks - 1, chunks * 200 // 1000))
    return {
        "ids": ids,
        "gap_at": rng.integers(lo, hi + 1, streams).tolist(),
        "gap_size": rng.integers(1, 4, streams).tolist(),
        "corrupt": sorted(
            rng.choice(n_events, int(round(n_events * CORRUPT_SHARE)), replace=False).tolist()
        ),
        "size_bytes": rng.integers(500_000, 2_000_001, n_events).tolist(),
        "duration_ms": rng.integers(2000, 4001, n_events).tolist(),
    }


def ground_truth(p: dict, n_events: int) -> dict:
    """Per stream, the gap events and missing total the final gap state
    must report (a gap counts only if the stream reached its position)."""
    streams = len(p["ids"])
    out = {}
    for s, sid in enumerate(p["ids"]):
        n_chunks = len(range(s, n_events, streams))
        hit = n_chunks > p["gap_at"][s]
        out[sid] = [1 if hit else 0, p["gap_size"][s] if hit else 0]
    return out


def events_table(p: dict, lo: int, hi: int, event_time: str) -> pa.Table:
    streams = len(p["ids"])
    corrupt = set(p["corrupt"])
    sid, cidx, seq, chk = [], [], [], []
    for i in range(lo, hi):
        s, c = i % streams, i // streams
        stream_id = p["ids"][s]
        size = p["size_bytes"][i]
        key = f"{stream_id}-{c}-{size + 1 if i in corrupt else size}"
        sid.append(stream_id)
        cidx.append(c)
        seq.append(c + (p["gap_size"][s] if c >= p["gap_at"][s] else 0))
        chk.append(hashlib.md5(key.encode()).hexdigest())
    n = hi - lo
    return pa.table({
        "stream_id": sid,
        "chunk_index": pa.array(cidx, pa.int64()),
        "sequence_number": pa.array(seq, pa.int64()),
        "timestamp": [event_time] * n,
        "size_bytes": pa.array(p["size_bytes"][lo:hi], pa.int64()),
        "stream_type": ["live"] * n,
        "status": ["received"] * n,
        "checksum": chk,
        "duration_ms": pa.array(p["duration_ms"][lo:hi], pa.int64()),
        "keyframe_aligned": [True] * n,
        "audio_track_id": [f"audio-{x}" for x in sid],
        "video_track_id": [f"video-{x}" for x in sid],
        "match_home": ["Home FC"] * n,
        "match_away": ["Away FC"] * n,
        "competition": ["League"] * n,
    })


def write_atomic(table: pa.Table, directory: str, name: str) -> None:
    tmp = os.path.join(directory, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(directory, name))


def iso(t: float) -> str:
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(t)) + f".{int(t % 1 * 1e6):06d}+00:00"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", required=True)
    ap.add_argument("--ledger", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--streams", type=int, default=1000)
    ap.add_argument("--backlog", type=int, required=True)
    ap.add_argument("--burst", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--interval", type=float, required=True)
    ap.add_argument("--period", type=float, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    a = ap.parse_args()
    pa.set_cpu_count(1)
    pa.set_io_thread_count(1)

    per_file = int(round(a.rate * a.interval))
    periods = max(1, round(a.seconds / a.period))
    n_open = int(round(periods * a.period / a.interval))
    first_open = a.backlog
    first_burst = first_open + per_file * n_open
    n_events = first_burst + a.burst
    p = plan(a.seed, a.streams, n_events)
    files = []

    def record(name, phase, n, due):
        files.append({"name": name, "phase": phase, "n": int(n), "due": due,
                      "written": time.time()})
        return name

    def write_block(prefix, phase, lo, hi):
        now = time.time()
        bounds = np.linspace(lo, hi, BACKLOG_FILES + 1).astype(int)
        names = []
        for k in range(BACKLOG_FILES):
            name = f"{prefix}{k:04d}.parquet"
            write_atomic(events_table(p, bounds[k], bounds[k + 1], iso(now)), a.dir, name)
            names.append(record(name, phase, bounds[k + 1] - bounds[k], now))
        return names

    def say(step, names):
        print(json.dumps({"step": step, "files": names}), flush=True)

    say("backlog", write_block("a", "A", 0, first_open))
    # build the open loop's and the burst's tables before the clock starts,
    # so the timed steps only write
    tables = [events_table(p, lo, lo + per_file, "")
              for lo in range(first_open, first_burst, per_file)]
    bounds = np.linspace(first_burst, n_events, BACKLOG_FILES + 1).astype(int)
    burst = [events_table(p, bounds[k], bounds[k + 1], "") for k in range(BACKLOG_FILES)]
    if not sys.stdin.readline():  # the benchmark went away
        return 1

    win_lo = math.ceil(time.time() / a.period) * a.period
    names = []
    for k, table in enumerate(tables):
        due = win_lo + (k + 0.5) * a.interval
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        table = table.set_column(3, "timestamp", pa.array([iso(due)] * table.num_rows))
        name = f"b{k:05d}.parquet"
        write_atomic(table, a.dir, name)
        names.append(record(name, "B", per_file, due))
    t_end = time.time()
    say("open", names)
    if not sys.stdin.readline():
        return 1

    # the first trigger at least LEAD_S away, less LEAD_S
    due = math.ceil((time.time() + 2 * LEAD_S) / a.period) * a.period - LEAD_S
    time.sleep(max(0.0, due - time.time()))
    names = []
    for k, table in enumerate(burst):
        table = table.set_column(3, "timestamp", pa.array([iso(due)] * table.num_rows))
        name = f"c{k:04d}.parquet"
        write_atomic(table, a.dir, name)
        names.append(record(name, "C", table.num_rows, due))
    with open(a.ledger, "w") as f:
        json.dump({"files": files, "n_events": n_events, "t_end": t_end,
                   "corrupt": len(p["corrupt"]),
                   "truth": ground_truth(p, n_events)}, f)
    say("burst", names)
    return 0


if __name__ == "__main__":
    sys.exit(main())
