"""Keyed cross-batch state (SURVEY.md §2.9 ST5/ST6 — the hard 20%).

The reference keeps per-stream state in a plain driver dict
(``_live_last_seq``, spark_job/spark_streaming.py:348-350 — lost on
restart, admitted in its README:912) and rebuilds the DVR manifest by
re-reading its own object-store output per event (:398-456).  Here
both live in Spark's fault-tolerant keyed state via
``applyInPandasWithState``: checkpointed, RocksDB-backed, partitioned
by stream_id so per-key ordering is guaranteed within the operator.

Ordering note (SURVEY §7 hard-item 1): within a micro-batch the rows
of one key arrive as one pandas group, possibly split across several
UNORDERED Arrow chunks (spark.sql.execution.arrow.maxRecordsPerBatch).
The gap tracker therefore materializes and globally sorts the group's
sequence numbers across all chunks before folding; the DVR fold is
commutative (dict upsert + max), so chunk order cannot affect it.
This preserves the reference's single-threaded per-stream semantics
under distributed execution.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..schemas import DVR_WINDOW_SIZE

# ------------------------------------------------------------ gap tracking

GAP_OUTPUT_SCHEMA = (
    "stream_id string, last_seq long, n_chunks long, gap_events long, missing_total long"
)
GAP_STATE_SCHEMA = "last_seq long, gap_events long, missing_total long"


def _track_gaps_fn(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold each micro-batch's sequence numbers into (last_seq,
    gap_events, missing_total).  Gap semantics mirror the reference
    exactly (spark_streaming.py:379-385): a jump seq > last+1 counts
    one gap event and seq-last-1 missing chunks; missing_total is the
    inc(gap_size) Prometheus counter."""
    (stream_id,) = key
    if state.exists:
        last_seq, gap_events, missing_total = state.get
    else:
        last_seq, gap_events, missing_total = -1, 0, 0
    # Materialize the WHOLE group before sorting: one key's micro-batch
    # can span multiple Arrow chunks (arrow.maxRecordsPerBatch), and the
    # chunks are not ordered — a per-chunk sort folded chunk-by-chunk
    # would report spurious gaps (e.g. seqs 1-10 delivered as
    # [6-10],[1-5] -> gap_events=1).  The group is bounded by one key's
    # rows in one micro-batch, so this stays executor-memory-safe.
    seqs = sorted(s for pdf in batches for s in pdf["sequence_number"].tolist())
    n_chunks = len(seqs)
    for seq in seqs:
        if last_seq >= 0 and seq > last_seq + 1:
            gap_events += 1
            missing_total += seq - last_seq - 1
        if seq > last_seq:
            last_seq = seq
    state.update((last_seq, gap_events, missing_total))
    yield pd.DataFrame(
        {
            "stream_id": [stream_id],
            "last_seq": [last_seq],
            "n_chunks": [n_chunks],
            "gap_events": [gap_events],
            "missing_total": [missing_total],
        }
    )


def track_gaps(chunks: DataFrame) -> DataFrame:
    """ST5 — fault-tolerant per-stream sequence tracking: one updated
    health row per stream per micro-batch."""
    return chunks.groupBy("stream_id").applyInPandasWithState(
        _track_gaps_fn,
        outputStructType=GAP_OUTPUT_SCHEMA,
        stateStructType=GAP_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ------------------------------------------------------------ DVR manifest

DVR_OUTPUT_SCHEMA = "stream_id string, media_sequence long, n_segments long, manifest string"
DVR_STATE_SCHEMA = "chunk_indexes array<long>, durations array<long>, max_chunk long"


def render_live_manifest_py(
    stream_id: str,
    segments: list[tuple[int, int]],
    media_sequence: int,
    ended: bool = False,
) -> str:
    """Python twin of functions/manifest.render_live_manifest — byte-
    identical output (golden-tested against the batch column form) so
    the streaming operator and the batch materialization agree."""
    # reference parity: int(seconds) + 1 (spark_streaming.py:441) —
    # floor-div + 1, always >= 1, same formula as the column renderer
    target = max(d for _, d in segments) // 1000 + 1
    lines = [
        "#EXTM3U",
        "#EXT-X-VERSION:3",
        f"#EXT-X-TARGETDURATION:{target}",
        "#EXT-X-PLAYLIST-TYPE:EVENT",
        f"#EXT-X-MEDIA-SEQUENCE:{media_sequence}",
    ]
    for idx, dur in segments:
        lines.append(f"#EXTINF:{dur // 1000}.{dur % 1000:03d},")
        lines.append(f"{stream_id}/chunks/{idx}.ts")
    if ended:
        lines.append("#EXT-X-ENDLIST")
    return "\n".join(lines)


def _dvr_fn(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Maintain the bounded last-N segment list + advancing media
    sequence per stream (reference spark_streaming.py:398-456), without
    ever re-reading sink output: the window IS the state."""
    (stream_id,) = key
    if state.exists:
        idxs, durs, max_chunk = state.get
        segments: dict[int, int] = dict(zip(list(idxs), list(durs)))
    else:
        segments, max_chunk = {}, -1
    for pdf in batches:
        for idx, dur in sorted(zip(pdf["chunk_index"].tolist(), pdf["duration_ms"].tolist())):
            segments[int(idx)] = int(dur)
            max_chunk = max(max_chunk, int(idx))
    # slide: keep only the newest DVR_WINDOW_SIZE chunk indexes
    kept = sorted(segments)[-DVR_WINDOW_SIZE:]
    segments = {i: segments[i] for i in kept}
    media_sequence = max(0, max_chunk - DVR_WINDOW_SIZE + 1)
    state.update((kept, [segments[i] for i in kept], max_chunk))
    manifest = render_live_manifest_py(
        stream_id, [(i, segments[i]) for i in kept], media_sequence
    )
    yield pd.DataFrame(
        {
            "stream_id": [stream_id],
            "media_sequence": [media_sequence],
            "n_segments": [len(kept)],
            "manifest": [manifest],
        }
    )


def dvr_manifests(chunks: DataFrame) -> DataFrame:
    """ST6 — the rolling DVR playlist as checkpointed keyed state: one
    re-rendered manifest per stream per micro-batch."""
    return chunks.groupBy("stream_id").applyInPandasWithState(
        _dvr_fn,
        outputStructType=DVR_OUTPUT_SCHEMA,
        stateStructType=DVR_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ------------------------------------------------------- EWMA anomalies

EWMA_OUTPUT_SCHEMA = (
    "stream_id string, sequence_number long, value double, n_seen long, "
    "ewma double, zscore double, is_anomaly boolean"
)
EWMA_STATE_SCHEMA = "ewma double, ewvar double, n_seen long"

EWMA_ALPHA = 0.3
EWMA_Z_THRESHOLD = 2.0
EWMA_MIN_OBS = 3


def _ewma_fn(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Recursive (online) EWMA + exponentially-weighted variance per
    key — the streaming twin of operators/timeseries.ewma_zscore.  The
    batch form uses a trailing-window normalized EWMA so a SQL oracle
    can verify it; the streaming form is the classical O(1)-state
    recursion (West's EW variance), which never re-reads history and
    therefore survives restart from checkpoint with 3 doubles of state
    per key.  Rows are globally sorted by sequence_number across Arrow
    chunks before folding (same ordering hazard as _track_gaps_fn)."""
    (stream_id,) = key
    if state.exists:
        ewma, ewvar, n_seen = state.get
    else:
        ewma, ewvar, n_seen = 0.0, 0.0, 0
    rows = sorted(
        (
            (int(s), float(v))
            for pdf in batches
            for s, v in zip(pdf["sequence_number"].tolist(), pdf["value"].tolist())
        ),
    )
    out: dict[str, list] = {c: [] for c in ("sequence_number", "value", "n_seen", "ewma", "zscore", "is_anomaly")}
    for seq, x in rows:
        if n_seen == 0:
            z = None
            ewma, ewvar = x, 0.0
        else:
            delta = x - ewma
            std = ewvar ** 0.5
            z = (delta / std) if (std > 0 and n_seen >= EWMA_MIN_OBS) else None
            ewma += EWMA_ALPHA * delta
            ewvar = (1.0 - EWMA_ALPHA) * (ewvar + EWMA_ALPHA * delta * delta)
        n_seen += 1
        out["sequence_number"].append(seq)
        out["value"].append(x)
        out["n_seen"].append(n_seen)
        out["ewma"].append(round(ewma, 4))
        out["zscore"].append(None if z is None else round(z, 4))
        out["is_anomaly"].append(bool(z is not None and abs(z) > EWMA_Z_THRESHOLD))
    state.update((ewma, ewvar, n_seen))
    yield pd.DataFrame({"stream_id": [stream_id] * len(rows), **out})


def ewma_anomalies(events: DataFrame, value_col: str = "size_bytes") -> DataFrame:
    """ST+ — per-stream online anomaly detection over a metric column:
    one flagged row per event, O(1) checkpointed state per key."""
    keyed = events.select(
        "stream_id", "sequence_number", F.col(value_col).cast("double").alias("value")
    )
    return keyed.groupBy("stream_id").applyInPandasWithState(
        _ewma_fn,
        outputStructType=EWMA_OUTPUT_SCHEMA,
        stateStructType=EWMA_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
