"""Idempotent keyed sinks (SURVEY.md §2.1 S5-S9, §4.1 exactly-once).

The reference achieves effective exactly-once with idempotent MongoDB
upserts keyed on (stream_id, chunk_index) (spark_streaming.py:322-337,
463-486; README:563-569).  The engine keeps that design — deterministic
keys + merge — on parquet tables:

- ``upsert_partitioned``: MERGE-shaped upsert that only rewrites the
  *partitions touched by the batch* (dynamic partition overwrite).  At
  100 TB the per-batch cost is O(touched streams), not O(table) — the
  same access pattern a Delta/Iceberg MERGE would compile to, without
  requiring those jars in this environment.
- ``append_chunk_objects``: the object-store placeholder writes (S5)
  as an append-only file sink, one file per task with no directory
  fan-out; rows are sorted by ``(part_bucket, stream_id,
  chunk_index)`` so parquet min/max statistics still let a bucket or
  stream filter skip row groups.

Both are safe under checkpoint replay: re-running a batch rewrites the
same keys to the same values (last-writer-wins on the compound key).
Crash-atomicity comes from the commit-marker protocol in ``txn``: the
merge-on-read log (the DEFAULT live path, ``make_live_log_sink``) and
the compactor publish every mutation as an atomic manifest rename, so
a writer dying mid-write can never tear the table.  The plain
dynamic-partition-overwrite ``upsert_partitioned`` remains as the
lightweight alternative where the storage layer already provides
atomic directory swap semantics.

Every log view here reads its log through ``_read_log``: one parquet
scan over all committed files under the schema the manifest records
(see ``txn``), so a view's read cost follows the rows in the log, not
the number of commits behind them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from .txn import AtomicParquetTable, fs_exists


def upsert_partitioned(
    batch_df: DataFrame,
    table_path: str,
    keys: list[str],
    partition_col: str = "stream_id",
    order_col: str | None = None,
) -> None:
    """Upsert ``batch_df`` into the parquet table at ``table_path``.

    Within the batch, the last row per key wins (ordered by
    ``order_col`` if given).  Existing rows for *touched partitions
    only* are read back, anti-joined on the key, and the union is
    written with dynamic partition overwrite — untouched partitions
    are never rewritten.

    NOT crash-atomic: the per-partition overwrite can tear if the
    writer dies mid-rewrite.  Where that matters (it does on object
    stores), use ``txn.AtomicParquetTable.upsert`` — same MERGE
    semantics behind an atomic commit.
    """
    spark = batch_df.sparkSession

    # dedup within the batch (replay / duplicate events)
    order = F.col(order_col).desc() if order_col else F.monotonically_increasing_id().desc()
    w = W.partitionBy(*keys).orderBy(order)
    deduped = (
        batch_df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )

    # Hadoop FS probe, not os.path — the table may live on s3a://hdfs://
    if fs_exists(spark, table_path):
        existing = spark.read.parquet(table_path)
        touched = deduped.select(partition_col).distinct()
        # rows already in the touched partitions that are NOT replaced
        kept = (
            existing.join(F.broadcast(touched), partition_col, "left_semi")
            .join(deduped.select(*keys).distinct(), keys, "left_anti")
        )
        out = kept.unionByName(deduped, allowMissingColumns=True)
    else:
        out = deduped
    (
        out.write.mode("overwrite")
        # per-write option, NOT session conf: no cross-query leakage
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(table_path)
    )


def append_chunk_objects(batch_df: DataFrame, path: str) -> None:
    """S5 — the chunk 'objects' as an append-only sink; the object key
    is carried as a column (functions/scalars.chunk_object_key), so the
    reference's {stream_id}/{quality}/{chunk_index}.ts keyspace lives
    in the data, not in the directory tree.

    Each task writes ONE file: a directory per hash bucket would make
    every task open a file in every bucket it touches (up to 64 tiny
    files per task per micro-batch), and no reader prunes chunk
    objects by directory.  ``part_bucket`` is kept as a data column
    and rows are sorted within each task by ``(part_bucket, stream_id,
    chunk_index)`` — all three are required — so a filter on bucket or
    stream still skips row groups by their min/max statistics."""
    (
        batch_df.sortWithinPartitions("part_bucket", "stream_id", "chunk_index")
        .write.mode("append")
        .parquet(path)
    )


N_PARTITION_BUCKETS = 64


def with_partition_bucket(
    df: DataFrame, key_col: str = "stream_id", buckets: int = N_PARTITION_BUCKETS
) -> DataFrame:
    """Bounded partition key: hash-bucket of the stream id.  Partitioning
    a 100 TB table by raw stream_id means millions of directories (a
    catalog/listing disaster) and single-stream batches rewriting one
    tiny file per stream.  A fixed bucket count keeps the copy-on-write
    metadata table's partition dirs bounded while per-stream reads
    still prune: filter on ``part_bucket = pmod(xxhash64(id), buckets)``
    + the id itself.  The append-only sinks (the merge-on-read log and
    the chunk objects) keep the bucket as a plain column instead: they
    never rewrite a partition, so a directory per bucket would only
    multiply the files each commit writes."""
    return df.withColumn("part_bucket", F.pmod(F.xxhash64(key_col), F.lit(buckets)))


def make_live_sink(metadata_path: str, chunks_path: str):
    """Copy-on-write variant of the live-path foreachBatch body
    (reference process_live_batch, spark_streaming.py:519-539, minus
    the collect()): dedup-upsert the per-chunk metadata, append the
    chunk objects.  The metadata upsert partitions on the bounded hash
    bucket, not the raw stream id; the chunk objects carry the bucket
    as a column.  ``make_live_log_sink`` is the DEFAULT live
    path — crash-atomic and O(batch) per commit; this COW variant
    trades that for zero read-time merge."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_df = with_partition_bucket(batch_df).persist()
        try:
            upsert_partitioned(
                batch_df,
                metadata_path,
                keys=["stream_id", "chunk_index"],
                partition_col="part_bucket",
                order_col="sequence_number",
            )
            append_chunk_objects(
                batch_df.select(
                    "stream_id", "chunk_index", "chunk_path", "size_bytes", "part_bucket"
                ),
                chunks_path,
            )
        finally:
            batch_df.unpersist()

    return sink


# ----------------------------------------------------- merge-on-read log

def append_log_upsert(batch_df: DataFrame, table_path: str, batch_id: int) -> None:
    """Merge-on-read upsert: O(batch) append of the rows stamped with
    the commit id — no read-modify-write on the hot path (the
    copy-on-write ``upsert_partitioned`` pays a partition rewrite per
    batch, which at high commit rates dominates; this is the
    Hudi-MOR/Delta-CDF shape).  Readers resolve the latest row per key
    via ``latest_view``; ``compact_log`` folds the log back to one row
    per key when read amplification grows.  The append itself is a
    crash-atomic ``AtomicParquetTable`` commit: files written by a
    dying batch are invisible until the manifest rename lands."""
    AtomicParquetTable(table_path).append(
        batch_df.withColumn("__commit", F.lit(batch_id))
    )


def _drop_replays_behind_watermark(log: DataFrame) -> DataFrame:
    """Replay guard for logs compacted ONLINE (``quiesced=False``):
    folded rows encode the highest batch id they absorbed as
    ``__commit = -(wm + 2)``; a batch the stream replays after a crash
    re-appends under its ORIGINAL id <= wm, and since its first copy
    was folded away, per-commit dedup alone can no longer drop it.
    This filter can: keep folded rows (negative) and live rows with
    ``__commit > wm`` only.  Quiesced compaction stamps -1, which
    decodes to wm = -1 — every live row passes, today's semantics.
    The watermark is derived IN-PLAN (tiny aggregate, broadcast back);
    no driver-side collect."""
    wm = log.agg(
        F.coalesce(
            F.max(F.when(F.col("__commit") < -1, -F.col("__commit") - 2)),
            F.lit(-1),
        ).alias("__wm")
    )
    return (
        log.crossJoin(F.broadcast(wm))
        .filter((F.col("__commit") < 0) | (F.col("__commit") > F.col("__wm")))
        .drop("__wm")
    )


def _stamp_folded(resolved: DataFrame, log: DataFrame, quiesced: bool) -> DataFrame:
    """Attach the ``__commit`` stamp compaction puts on folded rows.

    Quiesced (default): -1 — folded history can never collide with a
    stream restarted on a FRESH checkpoint (ids restart at 0), which
    is the supported restart path after an offline compaction.

    Online (``quiesced=False``): -(wm + 2) where wm is the highest
    batch id being folded (carried forward across successive online
    folds) — safe to run UNDER a live stream, because a replayed
    uncheckpointed batch (id <= wm) is dropped by
    ``_drop_replays_behind_watermark`` while future batches (id > wm)
    merge normally.  Before restarting on a fresh checkpoint, run one
    quiesced compaction to reset the stamp to -1.  The watermark is a
    tiny in-plan aggregate broadcast onto the folded rows."""
    if quiesced:
        return resolved.withColumn("__commit", F.lit(-1))
    wm = log.agg(
        F.coalesce(
            F.max(
                F.when(F.col("__commit") >= 0, F.col("__commit")).otherwise(
                    -F.col("__commit") - 2
                )
            ),
            F.lit(-1),
        ).alias("__fold_wm")
    )
    return (
        resolved.crossJoin(F.broadcast(wm))
        .withColumn("__commit", -(F.col("__fold_wm") + F.lit(2)))
        .drop("__fold_wm")
    )


def _read_log(spark, table_path: str) -> DataFrame:
    log = AtomicParquetTable(table_path).read(spark)
    if log is None:
        raise FileNotFoundError(f"no committed version at {table_path}")
    return log


def _compact(spark, table_path: str, fold_of, quiesced: bool) -> None:
    """Shared compaction driver: resolve ONE version, read exactly that
    snapshot, build the fold AND the watermark from that single
    DataFrame, and publish with compare-and-swap at version+1.

    The CAS is what makes online compaction sound: without it, a batch
    the live stream commits between the fold's read and the overwrite
    would be silently dropped (the new manifest references only the
    folded files), and a batch appended between two independent reads
    could be folded yet excluded from the watermark — re-admitting its
    replay.  With the pinned snapshot neither interleaving exists, and
    a concurrent commit surfaces as txn.ConcurrentWriteError with the
    table untouched — the caller simply re-runs compaction."""
    table = AtomicParquetTable(table_path)
    version = table.version(spark)
    if version == 0:
        raise FileNotFoundError(f"no committed version at {table_path}")
    log = table.read(spark, version=version)
    folded = _stamp_folded(fold_of(log), log, quiesced)
    table.overwrite(folded, expect_version=version)
    table.vacuum(spark)


def _latest_view_of(
    log: DataFrame, keys: list[str], order_col: str | None = None
) -> DataFrame:
    log = _drop_replays_behind_watermark(log)
    order = [F.col("__commit").desc()] + (
        [F.col(order_col).desc()] if order_col else []
    )
    w = W.partitionBy(*keys).orderBy(*order)
    return (
        log.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__commit")
    )


def latest_view(
    spark, table_path: str, keys: list[str], order_col: str | None = None
) -> DataFrame:
    """Last-writer-wins view over the append log: one row per key,
    newest commit (then ``order_col``) winning — the read-side half of
    merge-on-read.  Replays of batches folded by an online compaction
    are dropped via the in-band watermark (see
    ``_drop_replays_behind_watermark``)."""
    return _latest_view_of(_read_log(spark, table_path), keys, order_col)


def compact_log(
    spark,
    table_path: str,
    keys: list[str],
    order_col: str | None = None,
    quiesced: bool = True,
) -> None:
    """Fold the log to one row per key (the background compaction that
    bounds read amplification).  The rewrite is an atomic ``overwrite``
    commit — a crash mid-compaction leaves the uncompacted log fully
    intact — and superseded files are vacuumed only after the new
    version is live.

    Folded rows carry ``__commit=-1`` (as in compact_rollup /
    compact_index): a stream restarted on a FRESH checkpoint replays
    batch 0, and a folded row stamped 0 would tie with the replayed
    batch in latest_view's ordering — the stale compacted row could
    nondeterministically win.  -1 always loses to any live batch.

    With the default ``quiesced=True`` the log must be quiesced and
    fully checkpointed when compaction runs — if the stream appended a
    batch whose checkpoint commit had not landed when compaction
    folded it, the restarted stream re-appends that batch under its
    original id and per-commit dedup cannot drop it (the original
    rows were folded into -1).  ``quiesced=False`` lifts that
    requirement for a LIVE stream: the fold stamps the in-band
    watermark instead (see ``_stamp_folded``) and the views drop such
    replays.  Fold, watermark, and publish all pin ONE snapshot with a
    CAS commit (see ``_compact``)."""
    _compact(
        spark,
        table_path,
        lambda log: _latest_view_of(log, keys, order_col),
        quiesced,
    )


def make_live_log_sink(metadata_path: str, chunks_path: str):
    """The DEFAULT live-path sink: merge-on-read log, so the per-batch
    work is two appends — constant in table size, linear in batch
    size — and the metadata append is a crash-atomic commit.  The
    chunk-object append stays a plain file append by design: it models
    per-object PUTs (each object is atomic on its own, reference
    spark_streaming.py:300-320), not a table mutation."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_df = with_partition_bucket(batch_df).persist()
        try:
            append_log_upsert(batch_df, metadata_path, batch_id)
            append_chunk_objects(
                batch_df.select(
                    "stream_id", "chunk_index", "chunk_path", "size_bytes", "part_bucket"
                ),
                chunks_path,
            )
        finally:
            batch_df.unpersist()

    return sink


# ---------------------------------------------------- incremental rollup

def make_rollup_sink(
    rollup_path: str,
    key_cols: list[str],
    time_col: str = "event_ts",
    value_col: str = "size_bytes",
    window: str = "1 hour",
):
    """Incrementally-maintained aggregate table (the streaming
    materialized-view pattern): each micro-batch appends its PARTIAL
    per-(key, bucket) aggregate — count + sum are mergeable, so the
    per-batch cost is O(batch) and the rollup table is never read on
    the write path.  Readers merge partials with ``rollup_view``;
    ``compact_rollup`` folds the log when partial-row amplification
    grows.  Append is an AtomicParquetTable commit, and every partial
    row carries its batch id, so a replayed batch (foreachBatch
    at-least-once) deduplicates exactly at read time."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        partial = (
            batch_df.groupBy(
                *key_cols, F.window(time_col, window).alias("__w")
            )
            .agg(
                F.count("*").alias("n_events"),
                F.sum(value_col).alias("value_sum"),
            )
            .select(
                *key_cols,
                F.col("__w.start").alias("bucket"),
                "n_events",
                "value_sum",
            )
        )
        AtomicParquetTable(rollup_path).append(
            partial.withColumn("__commit", F.lit(batch_id))
        )

    return sink


def rollup_view(spark, rollup_path: str, key_cols: list[str]) -> DataFrame:
    """Merged rollup: sum the partial aggregates per (key, bucket).
    Replayed batches are deduplicated by (commit, key, bucket) first —
    a retried foreachBatch recomputes the identical partial row, so
    keeping one copy per commit makes the view exactly-once."""
    return _rollup_view_of(_read_log(spark, rollup_path), key_cols)


def _rollup_view_of(log: DataFrame, key_cols: list[str]) -> DataFrame:
    return (
        _drop_replays_behind_watermark(log)
        .dropDuplicates(["__commit", *key_cols, "bucket"])
        .groupBy(*key_cols, "bucket")
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum("value_sum").cast("long").alias("value_sum"),
        )
    )


def compact_rollup(
    spark, rollup_path: str, key_cols: list[str], quiesced: bool = True
) -> None:
    """Fold the partial-aggregate log to one row per (key, bucket);
    atomic overwrite, crash leaves the uncompacted log intact.
    Quiesced folds carry __commit=-1: foreachBatch batch ids are
    always >= 0, so a stream restarted on a FRESH checkpoint (batch
    ids starting over at 0) can never collide with compacted history
    in the per-commit dedup.

    The default requires a quiesced, fully-checkpointed log: folding
    an appended-but-uncheckpointed batch loses its __commit identity,
    so the stream's replay of that batch re-appends rows the
    per-commit dedup can no longer match — partials double-count.
    ``quiesced=False`` makes compaction safe UNDER a live stream
    instead: the fold stamps the in-band replay watermark
    (``_stamp_folded``) and the views drop replayed batches behind it.
    (Same contract for compact_index and compact_log.)  Fold,
    watermark, and publish all pin ONE snapshot with a CAS commit
    (see ``_compact``)."""
    _compact(
        spark, rollup_path, lambda log: _rollup_view_of(log, key_cols), quiesced
    )


# ------------------------------------------------ incremental inverted index

def make_index_sink(
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_token_len: int = 3,
):
    """Incrementally-maintained inverted index (streaming corpus →
    searchable index): each micro-batch appends its PARTIAL per-term
    (df, postings) rows — df sums and posting lists concatenate, so
    both are mergeable, per-batch cost is O(batch), and the index is
    never read on the write path.  Same log shape as make_rollup_sink:
    every partial row carries its batch id, a replayed batch
    (foreachBatch at-least-once) recomputes the identical partial and
    deduplicates at read time, and the append is an atomic commit.

    Assumes each document arrives in exactly one batch (an append-only
    corpus stream); upstream dedup handles re-crawls."""
    from ..operators.retrieval import inverted_index

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        partial = inverted_index(
            batch_df, text_col=text_col, id_col=id_col, min_token_len=min_token_len
        ).select("term", "df", "postings")
        AtomicParquetTable(index_path).append(
            partial.withColumn("__commit", F.lit(batch_id))
        )

    return sink


def index_view(
    spark, index_path: str, max_postings: int | None = None
) -> DataFrame:
    """Merged inverted index: sum partial dfs and concat+sort partial
    posting lists per term, after per-commit dedup (exactly-once under
    replay).  ``max_postings`` applies the same stopword truncation cap
    as operators.retrieval.inverted_index, with df staying exact;
    the output schema matches inverted_index exactly."""
    return _index_view_of(_read_log(spark, index_path), max_postings)


def _index_view_of(log: DataFrame, max_postings: int | None = None) -> DataFrame:
    merged = (
        _drop_replays_behind_watermark(log)
        .dropDuplicates(["__commit", "term"])
        .groupBy("term")
        .agg(
            F.sum("df").cast("long").alias("df"),
            F.array_sort(F.flatten(F.collect_list("postings"))).alias("postings"),
        )
    )
    if max_postings is not None:
        return merged.select(
            "term",
            "df",
            F.slice("postings", 1, max_postings).alias("postings"),
            (F.col("df") > max_postings).alias("postings_truncated"),
        )
    return merged.withColumn("postings_truncated", F.lit(False))


def compact_index(spark, index_path: str, quiesced: bool = True) -> None:
    """Fold the partial-index log to one row per term; atomic
    overwrite, crash leaves the uncompacted log intact.  Quiesced
    folds stamp __commit=-1 for the same fresh-checkpoint-restart
    reason as compact_rollup; ``quiesced=False`` stamps the in-band
    replay watermark so compaction is safe under a live stream (see
    compact_rollup's docstring for the full contract; pinned-snapshot
    CAS semantics in ``_compact``)."""
    _compact(
        spark,
        index_path,
        lambda log: _index_view_of(log).select("term", "df", "postings"),
        quiesced,
    )


# ------------------------------------------------ incremental IVF ANN index

def make_ivf_sink(
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Incrementally-maintained IVF postings (streaming embedding
    corpus → searchable ANN index): centroids are FIXED at build time
    (written by ``operators.similarity.ivf_index_build`` at
    ``{index_path}/centroids`` — retraining is an offline rebuild, as
    in every production IVF system); each micro-batch assigns its
    vectors with the broadcast argmax (shuffle-free) and APPENDS
    (cell, neighbor_id, v) rows — O(batch) per batch, the index is
    never read on the write path.  Same log contract as
    make_rollup_sink/make_index_sink: every row carries its batch id,
    replays dedupe at read time, appends are atomic commits."""
    from ..operators.similarity import _as_double, nearest_cells

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        cents = spark.read.parquet(f"{index_path}/centroids")
        c = batch_df.select(
            F.col(id_col).alias("neighbor_id"),
            _as_double(F.col(vec_col)).alias("v"),
        )
        assigned = nearest_cells(c, cents, 1, "cell")
        AtomicParquetTable(f"{index_path}/postings_log").append(
            assigned.withColumn("__commit", F.lit(batch_id))
        )

    return sink


def ivf_stream_view(spark, index_path: str) -> DataFrame:
    """Merged streaming postings: per-commit dedup (exactly-once under
    replay, with the online-compaction watermark honored) → the
    (cell, neighbor_id, v) frame ``ivf_search_postings`` scores
    against."""
    return _ivf_view_of(_read_log(spark, f"{index_path}/postings_log"))


def _ivf_view_of(log: DataFrame) -> DataFrame:
    return (
        _drop_replays_behind_watermark(log)
        .dropDuplicates(["__commit", "neighbor_id"])
        .select("cell", "neighbor_id", "v")
    )


def ivf_stream_search(
    spark, queries: DataFrame, index_path: str, nprobe: int = 4, k: int = 5
) -> DataFrame:
    """ANN top-k over the STREAMING index: probe the fixed centroids,
    score only the probed cells' postings from the merged view."""
    from ..operators.similarity import ivf_search_postings

    cents = spark.read.parquet(f"{index_path}/centroids")
    return ivf_search_postings(
        queries, cents, ivf_stream_view(spark, index_path), nprobe=nprobe, k=k
    )


def compact_ivf(spark, index_path: str, quiesced: bool = True) -> None:
    """Fold the postings log to one row per vector; atomic overwrite.
    Same quiesced/online contract as compact_rollup (pinned-snapshot
    CAS semantics in ``_compact``)."""
    _compact(spark, f"{index_path}/postings_log", _ivf_view_of, quiesced)


# ------------------------------------------- incremental count-min sketch

def make_cms_sink(sketch_path: str, term_col: str = "term"):
    """Incrementally-maintained count-min sketch (streaming term
    frequencies → bounded-size frequency oracle): each micro-batch
    appends its PARTIAL counter matrix — depth*width rows regardless
    of batch size, cell-wise additive, so the merged sketch equals the
    batch-built sketch over all data (count-min is exactly mergeable).
    Same log contract as make_rollup_sink: per-commit replay dedup,
    atomic appends, online-compaction watermark honored."""
    from ..operators.sketches import cms_build

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        partial = cms_build(batch_df, term_col)
        AtomicParquetTable(sketch_path).append(
            partial.withColumn("__commit", F.lit(batch_id))
        )

    return sink


def cms_view(spark, sketch_path: str) -> DataFrame:
    """Merged sketch: cell-wise sum of the partial counter matrices
    after per-commit dedup — feed to operators.sketches.cms_estimate."""
    return _cms_view_of(_read_log(spark, sketch_path))


def _cms_view_of(log: DataFrame) -> DataFrame:
    return (
        _drop_replays_behind_watermark(log)
        .dropDuplicates(["__commit", "depth", "slot"])
        .groupBy("depth", "slot")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def compact_cms(spark, sketch_path: str, quiesced: bool = True) -> None:
    """Fold the partial-sketch log to one counter matrix; same
    quiesced/online contract as the other compactors (pinned-snapshot
    CAS semantics in ``_compact``)."""
    _compact(spark, sketch_path, _cms_view_of, quiesced)


# -------------------------------------------- streaming heavy hitters

def make_heavy_hitters_sink(
    path: str,
    term_col: str = "term",
    candidates_per_batch: int = 32,
    candidate_floor: int | None = None,
):
    """Streaming heavy-hitter tracking as two bounded mergeable logs:
    the count-min sketch (exact mergeable counts-with-bias) plus a
    per-batch candidate log.  Both logs stay far smaller than full
    term counts, which at 100 TB is exactly what cannot be kept.

    Candidacy is a HEURISTIC, not a guarantee: local top-N alone can
    permanently miss a term with steady moderate frequency that is
    globally top-k yet crowded out of every batch's top-N by bursty
    terms — such a term never enters the candidate log, so
    ``heavy_hitters_view`` never ranks it however large its sketch
    count grows.  ``candidate_floor`` closes the common case: every
    term whose count in a SINGLE batch reaches the floor is logged too
    (bounded by batch_size / floor rows), so any term sustaining >=
    floor occurrences per batch becomes a candidate on its first such
    batch.  A term below BOTH nets in every batch still escapes —
    that residual failure mode is inherent to bounded candidate
    tracking (tested in test_streaming.py).

    Same replay contract as the underlying CMS sink; the candidate log
    dedups per commit and a replayed batch re-appends an identical
    candidate set."""
    from pyspark.sql import functions as F

    cms_sink = make_cms_sink(f"{path}/cms", term_col)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        cms_sink(batch_df, batch_id)
        counts = batch_df.groupBy(term_col).agg(F.count("*").alias("__cnt"))
        top = (
            counts.orderBy(F.desc("__cnt"), F.asc(term_col))
            .limit(candidates_per_batch)
            .select(term_col)
        )
        if candidate_floor is not None:
            top = top.union(
                counts.filter(F.col("__cnt") >= candidate_floor).select(term_col)
            ).distinct()
        AtomicParquetTable(f"{path}/cands").append(
            top.withColumn("__commit", F.lit(batch_id))
        )

    return sink


def heavy_hitters_view(
    spark, path: str, k: int = 20, term_col: str = "term"
) -> DataFrame:
    """Current top-k: estimate every logged candidate against the
    merged sketch, rank by estimate.  Touches only the candidate set
    and the 1024-cell sketch — no raw data."""
    from ..operators.sketches import cms_estimate

    cands = (
        _drop_replays_behind_watermark(_read_log(spark, f"{path}/cands"))
        .select(term_col)
        .distinct()
    )
    est = cms_estimate(_cms_view_of(_read_log(spark, f"{path}/cms")), cands)
    return est.orderBy(F.desc("cms_estimate"), F.asc(term_col)).limit(k)


def compact_heavy_hitters(
    spark, path: str, quiesced: bool = True, term_col: str = "term"
) -> None:
    """Compact both logs: fold the sketch cell-wise and the candidate
    log to its distinct terms."""
    compact_cms(spark, f"{path}/cms", quiesced)
    _compact(
        spark,
        f"{path}/cands",
        lambda log: _drop_replays_behind_watermark(log).select(term_col).distinct(),
        quiesced,
    )


# ------------------------------------ incremental portable HLL registers

def make_hll_sink(sketch_path: str, keys: list[str], col: str):
    """Incrementally-maintained portable HLL (streaming distinct
    counts): each micro-batch appends its PARTIAL (keys..., bucket,
    rho) registers — at most |keys| x 256 rows regardless of batch
    size.  HLL union is the element-wise register MAX, which is not
    just mergeable but IDEMPOTENT — a replayed batch's registers
    cannot inflate the estimate even without commit dedup — so this is
    the most replay-tolerant sink in the family; the per-commit dedup
    is kept anyway for log-size hygiene and the shared compaction
    contract.  Estimates come from
    operators.sketches.hll_portable_estimate over the merged view,
    identical to the batch-built sketch (the x89 mergeability law)."""
    from ..operators.sketches import hll_portable_registers

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        partial = hll_portable_registers(batch_df, keys, col)
        AtomicParquetTable(sketch_path).append(
            partial.withColumn("__commit", F.lit(batch_id))
        )

    return sink


def hll_stream_view(spark, sketch_path: str, keys: list[str]) -> DataFrame:
    """Merged registers: per-commit dedup then max(rho) per (keys,
    bucket) — feed to operators.sketches.hll_portable_estimate."""
    return _hll_view_of(_read_log(spark, sketch_path), keys)


def _hll_view_of(log: DataFrame, keys: list[str]) -> DataFrame:
    return (
        _drop_replays_behind_watermark(log)
        .dropDuplicates(["__commit", *keys, "bucket"])
        .groupBy(*keys, "bucket")
        .agg(F.max("rho").alias("rho"))
    )


def compact_hll(spark, sketch_path: str, keys: list[str], quiesced: bool = True) -> None:
    """Fold the register log to one row set per (keys, bucket); same
    quiesced/online contract as the other compactors."""
    _compact(spark, sketch_path, lambda log: _hll_view_of(log, keys), quiesced)


def make_kmv_sink(sketch_path: str, keys: list[str], col: str, k: int = 64):
    """Incrementally-maintained per-group KMV distinct sketches — the
    streaming twin of operators.sketches.kmv_sketch_by and the input
    x97's source-overlap matrix consumes.  Each micro-batch appends
    its per-group bottom-k distinct hash rows: at most |groups| x k
    rows regardless of batch size.  KMV union is the k smallest of
    the union — min-like, hence IDEMPOTENT under replay exactly like
    HLL's register max: a re-appended batch cannot perturb the merged
    bottom-k.  Per-commit hygiene and the shared compaction contract
    are kept anyway (compact_kmv)."""
    from ..operators.sketches import kmv_partial_rows

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        partial = kmv_partial_rows(batch_df, keys, F.col(col), k)
        AtomicParquetTable(sketch_path).append(
            partial.withColumn("__commit", F.lit(batch_id))
        )

    return sink


def _kmv_view_of(log: DataFrame, keys: list[str], k: int) -> DataFrame:
    deduped = (
        _drop_replays_behind_watermark(log).select(*keys, "h").distinct()
    )
    w = W.partitionBy(*keys).orderBy("h")
    return (
        deduped.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def kmv_stream_view(spark, sketch_path: str, keys: list[str], k: int = 64) -> DataFrame:
    """Merged per-group sketch arrays, identical to the batch-built
    kmv_sketch_by over all data ever logged — feed straight to
    kmv_overlap_matrix for the continuously-maintained source-overlap
    report."""
    rows = _kmv_view_of(_read_log(spark, sketch_path), keys, k)
    return rows.groupBy(*keys).agg(F.array_sort(F.collect_list("h")).alias("kmv"))


def compact_kmv(
    spark, sketch_path: str, keys: list[str], k: int = 64, quiesced: bool = True
) -> None:
    """Fold the hash log to the current per-group bottom-k rows; same
    quiesced/online contract as the other compactors."""
    _compact(spark, sketch_path, lambda log: _kmv_view_of(log, keys, k), quiesced)


# ---------------------------------------- streaming corpus datasheet

def make_datasheet_sink(path: str):
    """Continuously-maintained per-source corpus datasheet (the
    streaming twin of x93): each document batch appends (a) its
    per-source integer partials — doc/token/quality/language counts,
    all sum-mergeable — and (b) portable-HLL registers of the exact
    md5 fingerprints, because distinct-count is NOT sum-mergeable and
    at 100 TB the fingerprint set cannot be kept; the register sketch
    is the standard fix.  Both logs are bounded per batch (sources x
    1 row; sources x 256 registers) and share the replay/compaction
    contract."""
    from ..operators import text as tx

    hll = make_hll_sink(f"{path}/fps", ["source"], "__fp")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        t = F.col("text")
        per = batch_df.select(
            "source",
            tx.token_count(t).alias("n_tokens"),
            (tx.quality_score(t) >= 0.9).cast("long").alias("hi_q"),
            (tx.lang_id(t) == "en").cast("long").alias("is_en"),
            tx.fingerprint(t).alias("__fp"),
        )
        sums = per.groupBy("source").agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("hi_q").alias("hi_q_docs"),
            F.sum("is_en").alias("en_docs"),
        )
        AtomicParquetTable(f"{path}/sums").append(
            sums.withColumn("__commit", F.lit(batch_id))
        )
        hll(per.select("source", "__fp"), batch_id)

    return sink


def _datasheet_sums_of(log: DataFrame) -> DataFrame:
    return (
        _drop_replays_behind_watermark(log)
        .dropDuplicates(["__commit", "source"])
        .groupBy("source")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("total_tokens").cast("long").alias("total_tokens"),
            F.sum("hi_q_docs").cast("long").alias("hi_q_docs"),
            F.sum("en_docs").cast("long").alias("en_docs"),
        )
    )


def datasheet_view(spark, path: str) -> DataFrame:
    """Current datasheet: merged integer partials + HLL distinct
    fingerprints -> rates and an approximate duplicate rate per
    source.  Touches only the two small logs, never raw documents."""
    from ..operators.sketches import hll_portable_estimate

    sums = _datasheet_sums_of(_read_log(spark, f"{path}/sums"))
    fps = hll_portable_estimate(
        _hll_view_of(_read_log(spark, f"{path}/fps"), ["source"]), ["source"]
    ).select("source", F.col("approx_distinct").alias("approx_distinct_fps"))
    n = F.col("n_docs").cast("double")
    return sums.join(fps, "source").select(
        "source",
        "n_docs",
        "total_tokens",
        F.round(F.col("total_tokens").cast("double") / n + F.lit(1e-9), 4).alias(
            "mean_tokens"
        ),
        F.round(F.col("hi_q_docs").cast("double") / n + F.lit(1e-9), 4).alias(
            "hi_quality_rate"
        ),
        F.round(F.col("en_docs").cast("double") / n + F.lit(1e-9), 4).alias("en_rate"),
        "approx_distinct_fps",
        F.round(
            F.greatest(
                F.lit(0.0), F.lit(1.0) - F.col("approx_distinct_fps") / n
            )
            + F.lit(1e-9),
            4,
        ).alias("dup_rate_est"),
    )


def compact_datasheet(spark, path: str, quiesced: bool = True) -> None:
    """Fold both datasheet logs; same contract as the other sinks."""
    _compact(spark, f"{path}/sums", _datasheet_sums_of, quiesced)
    compact_hll(spark, f"{path}/fps", ["source"], quiesced)


# ------------------------------------ incremental ddsketch quantiles

def make_dd_sink(sketch_path: str, value_col: str, keys: list[str] | None = None):
    """Incrementally-maintained DDSketch (streaming values → quantile
    oracle with a relative-error guarantee): each micro-batch appends
    its partial log-bucket counts — bucket cardinality is log-range-
    sized regardless of batch size, bucket-wise additive, so the
    merged sketch equals the batch-built sketch over all data
    (DDSketch merge is exact).  The streaming answer to "p99 latency
    right now" without ever re-scanning history.  Same log contract
    as make_cms_sink: per-commit replay dedup, atomic appends,
    online-compaction watermark honored."""
    from ..operators.sketches import dd_build

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        partial = dd_build(batch_df, value_col, keys=keys)
        AtomicParquetTable(sketch_path).append(
            partial.withColumn("__commit", F.lit(batch_id))
        )

    return sink


def dd_stream_view(spark, sketch_path: str) -> DataFrame:
    """Merged sketch: bucket-wise sum of the partials after per-commit
    dedup — feed to operators.sketches.dd_quantiles.  Sketch keys are
    derived from the log's own columns (everything that is not
    bucket/cnt/__commit), so a keyed sketch can never be silently
    folded without its keys."""
    return _dd_view_of(_read_log(spark, sketch_path))


def _dd_view_of(log: DataFrame) -> DataFrame:
    if "sgn" not in log.columns:
        # state-format migration: sketch logs persisted before the
        # mirrored negative store carried only positive buckets, with
        # the exact-zero bucket encoded as bucket NULL — derive the
        # sgn column on read so old stores keep working (they never
        # held negative values, so sgn=1/0 reconstructs them exactly)
        log = log.withColumn(
            "sgn",
            F.when(F.col("bucket").isNotNull(), F.lit(1)).otherwise(F.lit(0)),
        )
    keys = [c for c in log.columns if c not in ("sgn", "bucket", "cnt", "__commit")]
    return (
        _drop_replays_behind_watermark(log)
        .dropDuplicates(["__commit", *keys, "sgn", "bucket"])
        .groupBy(*keys, "sgn", "bucket")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def compact_dd(spark, sketch_path: str, quiesced: bool = True) -> None:
    """Fold the partial-sketch log to one bucket table (keys derived
    from the log's columns, like dd_stream_view); same quiesced/online
    contract as the other compactors."""
    _compact(spark, sketch_path, _dd_view_of, quiesced)


# ------------------------------------ streaming seasonal anomalies

def make_seasonal_sink(
    counts_path: str, type_col: str = "event_type", time_col: str = "ts"
):
    """Streaming half of the seasonal anomaly detector (the
    reference's continuous-monitoring story — its Grafana thresholds
    watch exactly this kind of per-hour health signal): each
    micro-batch appends its partial per-(type, hour) event counts —
    counts are bucket-wise additive, so the merged state equals the
    batch-built hourly series exactly, and the per-batch cost is
    O(batch).  Same log contract as make_rollup_sink: per-commit
    replay dedup, atomic appends, online-compaction watermark.

    The sink maintains the SPARSE hourly counts, not the scored
    anomalies: zero-filling needs the global observed range and the
    leave-one-out slot baselines shift with every new hour, so scoring
    happens at read time (``seasonal_view``) over the tiny hours x
    types state — where it reuses the batch operator's exact plan."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        partial = (
            batch_df.groupBy(
                F.col(type_col).alias("t"),
                F.window(time_col, "1 hour").alias("__w"),
            )
            .agg(F.count("*").alias("cnt"))
            .select("t", F.col("__w.start").alias("h"), "cnt")
        )
        AtomicParquetTable(counts_path).append(
            partial.withColumn("__commit", F.lit(batch_id))
        )

    return sink


def _seasonal_sparse_of(log: DataFrame) -> DataFrame:
    return (
        _drop_replays_behind_watermark(log)
        .dropDuplicates(["__commit", "t", "h"])
        .groupBy("h", "t")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


# frames the LAST seasonal_view call persisted (via densify_hourly's
# tracked_persist) — released on the next call, so a long-running
# monitoring loop re-reading the view holds at most one view's worth
# of cached state instead of accumulating per read (Engine.clear_caches
# is not reachable from this streaming read path)
_SEASONAL_VIEW_FRAMES: list[DataFrame] = []


def seasonal_view(spark, counts_path: str, z_threshold: float = 2.0) -> DataFrame:
    """Anomalies over the MERGED hourly state: per-commit dedup
    (exactly-once under foreachBatch replay), then the dense grid +
    leave-one-out scoring runs through the IDENTICAL code path as the
    batch operator (``seasonal_scores_from_dense``) — merged-view ==
    batch-operator is a structural guarantee, tested with planted
    outage + spike batches.  Each call scope-releases the hour-grid
    frames the PREVIOUS call persisted (cache.release), bounding a
    monitoring loop's cached state at one view."""
    from .. import cache
    from ..operators.timeseries import densify_hourly, seasonal_scores_from_dense

    cache.release(_SEASONAL_VIEW_FRAMES)
    _SEASONAL_VIEW_FRAMES.clear()
    pos = cache.mark()
    sparse = _seasonal_sparse_of(_read_log(spark, counts_path))
    view = seasonal_scores_from_dense(densify_hourly(sparse), z_threshold)
    _SEASONAL_VIEW_FRAMES.extend(cache.tracked_since(pos))
    return view


def compact_seasonal(spark, counts_path: str, quiesced: bool = True) -> None:
    """Fold the hourly-count log to one row per (hour, type); same
    quiesced/online contract as the other compactors."""
    _compact(spark, counts_path, _seasonal_sparse_of, quiesced)


_ROBUST_VIEW_FRAMES: list[DataFrame] = []


def robust_view(spark, counts_path: str, z_threshold: float = 3.5) -> DataFrame:
    """Median/MAD robust outliers over the SAME hourly-count store the
    seasonal sink maintains — the third detector served by the one
    rollup (seasonal = hour-of-day deviations, CUSUM = sustained
    shifts, robust = contamination-proof point outliers).  Identical
    code path as the batch operator; same replay dedup and
    scope-release cache bounds as the sibling views."""
    from .. import cache
    from ..operators.timeseries import densify_hourly, robust_scores_from_dense

    cache.release(_ROBUST_VIEW_FRAMES)
    _ROBUST_VIEW_FRAMES.clear()
    pos = cache.mark()
    sparse = _seasonal_sparse_of(_read_log(spark, counts_path))
    view = robust_scores_from_dense(densify_hourly(sparse), z_threshold)
    _ROBUST_VIEW_FRAMES.extend(cache.tracked_since(pos))
    return view


_CUSUM_VIEW_FRAMES: list[DataFrame] = []


def cusum_view(
    spark, counts_path: str, slack: float = 0.5, threshold: float = 5.0
) -> DataFrame:
    """CUSUM level-shift detection over the SAME incrementally-
    maintained hourly-count store the seasonal sink writes — no new
    state format, the one rollup serves both detectors (seasonal =
    hour-of-day deviations, CUSUM = sustained level shifts).  Scores
    through the IDENTICAL code path as the batch operator
    (``cusum_scores_from_dense``), so merged-view == batch is a
    structural guarantee; same per-commit replay dedup and
    scope-release cache bounds as ``seasonal_view``."""
    from .. import cache
    from ..operators.timeseries import cusum_scores_from_dense, densify_hourly

    cache.release(_CUSUM_VIEW_FRAMES)
    _CUSUM_VIEW_FRAMES.clear()
    pos = cache.mark()
    sparse = _seasonal_sparse_of(_read_log(spark, counts_path))
    view = cusum_scores_from_dense(densify_hourly(sparse), slack, threshold)
    _CUSUM_VIEW_FRAMES.extend(cache.tracked_since(pos))
    return view


# --------------------------------------- incremental signature history

def make_signature_sink(
    history_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_k: int = 3,
):
    """Incrementally-maintained MinHash signature history (streaming
    document ingest → the near-dup matching substrate): each
    micro-batch shingles ONLY its own documents and appends their
    (id, sig) rows — O(batch) per batch, the history is never read on
    the write path, and downstream near-dup checks
    (``neardup_stream_check``) match against ~128-byte signature rows
    instead of re-reading corpus text.  Same log contract as the other
    incremental sinks: per-commit replay dedup, atomic appends,
    online-compaction watermark honored."""
    from ..operators.dedup import minhash_signatures

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sigs = minhash_signatures(batch_df, text_col, id_col, num_hashes, shingle_k)
        AtomicParquetTable(history_path).append(
            sigs.withColumn("__commit", F.lit(batch_id))
        )

    return sink


def signature_view(spark, history_path: str, id_col: str = "doc_id") -> DataFrame:
    """Merged signature history: per-commit dedup (exactly-once under
    replay) → the (id, sig) frame ``incremental_neardup`` consumes."""
    return _signature_view_of(_read_log(spark, history_path), id_col)


def _signature_view_of(log: DataFrame, id_col: str = "doc_id") -> DataFrame:
    return (
        _drop_replays_behind_watermark(log)
        .dropDuplicates(["__commit", id_col])
        .select(id_col, "sig")
    )


def neardup_stream_check(
    spark,
    new_docs: DataFrame,
    history_path: str,
    min_est_jaccard: float = 0.5,
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup-match a candidate batch against the STREAMING signature
    history: band joins against the merged view — history text is
    never touched."""
    from ..operators.dedup import incremental_neardup

    return incremental_neardup(
        new_docs,
        signature_view(spark, history_path, id_col),
        id_col=id_col,
        min_est_jaccard=min_est_jaccard,
    )


def compact_signatures(spark, history_path: str, quiesced: bool = True) -> None:
    """Fold the signature log to one row per document; same
    quiesced/online contract as the other compactors (pinned-snapshot
    CAS semantics in ``_compact``)."""
    _compact(spark, history_path, _signature_view_of, quiesced)


# ------------------- incremental substring-dedup (window-hash history)

def make_substring_clean_sink(
    history_path: str,
    clean_path: str,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Streaming substring-dedup ingest (the streamed form of x194):
    each micro-batch is cleaned against the window-hash history of all
    PRIOR batches plus its own internal duplication
    (operators.dedup.incremental_substring_clean — corpus-prefix
    causality, shipped batches are final), its cleaned rows append to
    ``clean_path`` and its distinct window hashes to ``history_path``.
    O(batch windows) per batch; history text is never re-read.

    Replay safety: the clean step excludes hashes the SAME batch id
    committed (a replayed batch must not see its own first attempt as
    'history'), so re-running a batch reproduces byte-identical
    cleaned rows and per-commit dedup in the views drops them.  Same
    log contract as the other incremental sinks: atomic appends,
    per-commit replay dedup, online-compaction watermark honored."""
    from ..cache import unpersist_tracked
    from ..operators.dedup import (
        _window_occurrences,
        incremental_substring_clean,
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        try:
            log = _read_log(spark, history_path)
            hist = _window_hash_view_of(
                log.filter(F.col("__commit") != batch_id)
            )
        except FileNotFoundError:
            hist = spark.createDataFrame([], "h bigint")
        cleaned = incremental_substring_clean(
            batch_df, hist, k, text_col, id_col
        )
        AtomicParquetTable(clean_path).append(
            cleaned.withColumn("__commit", F.lit(batch_id))
        )
        hashes = (
            _window_occurrences(batch_df, k, text_col, id_col)
            .select("h")
            .distinct()
        )
        AtomicParquetTable(history_path).append(
            hashes.withColumn("__commit", F.lit(batch_id))
        )
        unpersist_tracked()

    return sink


def window_hash_view(spark, history_path: str) -> DataFrame:
    """Merged distinct window-hash history — the frame
    ``incremental_substring_clean`` consumes."""
    return _window_hash_view_of(_read_log(spark, history_path))


def _window_hash_view_of(log: DataFrame) -> DataFrame:
    return _drop_replays_behind_watermark(log).select("h").distinct()


def substring_clean_view(
    spark, clean_path: str, id_col: str = "doc_id"
) -> DataFrame:
    """Merged cleaned corpus: per-commit dedup (exactly-once under
    replay) over the streamed x194 output rows."""
    return _substring_clean_view_of(_read_log(spark, clean_path), id_col)


def _substring_clean_view_of(
    log: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    return (
        _drop_replays_behind_watermark(log)
        .dropDuplicates(["__commit", id_col])
        .drop("__commit")
    )


def compact_window_hashes(
    spark, history_path: str, quiesced: bool = True
) -> None:
    """Fold the hash log to one row per distinct hash; same
    quiesced/online contract as the other compactors."""
    _compact(spark, history_path, _window_hash_view_of, quiesced)


def compact_substring_clean(
    spark, clean_path: str, id_col: str = "doc_id", quiesced: bool = True
) -> None:
    """Fold the cleaned-corpus log to one row per document."""
    _compact(
        spark,
        clean_path,
        lambda log: _substring_clean_view_of(log, id_col),
        quiesced,
    )


# ------------------------------------------- incremental bloom filter

def make_bloom_sink(sketch_path: str, value_col: str):
    """Incrementally-maintained Bloom filter (streaming values → a
    bounded-size membership oracle): each micro-batch appends its
    PARTIAL (word, bits) rows — at most bits/63 rows regardless of
    batch size, word-wise OR-mergeable, so the merged filter equals
    the batch-built filter over all data.  The streamed form of the
    decontamination / blocklist screen: keep the filter current as
    eval sets or blocklists arrive.  Same log contract as the other
    sketch sinks: per-commit replay dedup, atomic appends,
    online-compaction watermark honored."""
    from ..operators.sketches import bloom_build

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        partial = bloom_build(batch_df, value_col)
        AtomicParquetTable(sketch_path).append(
            partial.withColumn("__commit", F.lit(batch_id))
        )

    return sink


def bloom_stream_view(spark, sketch_path: str) -> DataFrame:
    """Merged filter: word-wise bit_or of the partial filters after
    per-commit dedup — feed through operators.sketches.bloom_pack to
    probe."""
    return _bloom_view_of(_read_log(spark, sketch_path))


def _bloom_view_of(log: DataFrame) -> DataFrame:
    return (
        _drop_replays_behind_watermark(log)
        .dropDuplicates(["__commit", "word"])
        .groupBy("word")
        .agg(F.bit_or("bits").alias("bits"))
    )


def compact_bloom(spark, sketch_path: str, quiesced: bool = True) -> None:
    """Fold the partial-filter log to one (word, bits) set; same
    quiesced/online contract as the other compactors."""
    _compact(spark, sketch_path, _bloom_view_of, quiesced)


# ---------------------------------------------- streaming quality gate

def make_quality_gate_sink(
    accept_path: str,
    reject_path: str,
    lm_path: str,
    fingerprint_history_path: str,
    max_cross_entropy: float,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """The full production ingest gate as ONE foreachBatch sink: each
    micro-batch of raw documents is (1) scored under the PERSISTED
    bigram LM (perplexity filter — O(batch), two vocabulary-sized
    joins, the training corpus never re-read), (2) exact-deduplicated
    against the PERSISTED fingerprint history (O(batch) join against
    fingerprints only), and routed to the accept or reject log with
    per-doc rejection attribution (``duplicate`` / ``unscoreable`` /
    ``high_perplexity``).  EVERY input doc lands in exactly one log:
    NULL text normalizes to empty, and docs with no scorable bigram
    (empty / single-token) are rejected as ``unscoreable`` rather
    than silently bypassing the threshold.  Accepted fingerprints
    append to the history commit-stamped so the NEXT batch sees them
    — the complete incremental curation loop.

    Replay contract: the history read excludes rows carrying THIS
    batch's own commit id, so a batch replayed after a crash joins
    the identical pre-batch history and re-derives byte-identical
    decisions.  Restarting the stream on a FRESH checkpoint resets
    batch ids; run ``compact_gate_history`` first (it folds history
    to the reserved commit -1, which no live batch ever excludes) —
    the same quiesced-restart contract the other incremental sinks
    document.  The per-batch decision frame is persisted so the
    accept/reject/history appends run the scoring and dedup joins
    once, not three times."""
    from ..operators.curation import score_with_bigram_lm
    from ..operators.dedup import incremental_dedup

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        batch = batch_df.withColumn(text_col, F.coalesce(F.col(text_col), F.lit("")))
        scored = score_with_bigram_lm(batch, lm_path, id_col, text_col)
        history = AtomicParquetTable(fingerprint_history_path).read(spark)
        if history is None:
            history = spark.createDataFrame([], "fingerprint string, __commit long")
        deduped = incremental_dedup(
            batch,
            history.filter(F.col("__commit") != batch_id).select("fingerprint"),
            text_col=text_col,
            id_col=id_col,
        )
        decided = (
            batch.select(id_col, text_col)
            .join(scored.select(id_col, "cross_entropy"), id_col, "left")
            .join(deduped.select(id_col, "fingerprint", "keep"), id_col)
            .withColumn(
                "reject_reason",
                F.when(~F.col("keep"), F.lit("duplicate"))
                .when(F.col("cross_entropy").isNull(), F.lit("unscoreable"))
                .when(
                    F.col("cross_entropy") > F.lit(max_cross_entropy),
                    F.lit("high_perplexity"),
                ),
            )
            .withColumn("__commit", F.lit(batch_id))
            .persist()
        )
        try:
            accepted = decided.filter(F.col("reject_reason").isNull())
            rejected = decided.filter(F.col("reject_reason").isNotNull()).drop(
                "keep", "fingerprint"
            )
            AtomicParquetTable(accept_path).append(
                accepted.drop("keep", "fingerprint", "reject_reason")
            )
            AtomicParquetTable(reject_path).append(rejected)
            AtomicParquetTable(fingerprint_history_path).append(
                accepted.select("fingerprint")
                .distinct()
                .withColumn("__commit", F.lit(batch_id))
            )
        finally:
            decided.unpersist()

    return sink


def compact_gate_history(spark, fingerprint_history_path: str) -> None:
    """Fold the gate's fingerprint history to one distinct-fingerprint
    table stamped with the reserved commit -1 (never a live batch id,
    so no batch's own-commit exclusion can hide it).  Run against a
    quiesced stream before restarting on a fresh checkpoint — with
    batch ids reset, un-compacted history rows whose commit collides
    with a new batch id would be invisible to exactly that batch.
    Goes through the shared ``_compact`` driver: pinned-snapshot CAS
    (a fingerprint batch appended mid-fold surfaces as
    ConcurrentWriteError instead of vanishing) + vacuum."""
    _compact(
        spark,
        fingerprint_history_path,
        lambda log: log.select("fingerprint").distinct(),
        quiesced=True,
    )


def gate_view(spark, path: str, id_col: str = "doc_id") -> DataFrame:
    """Replay-deduplicated view of an accept/reject log."""
    return _read_log(spark, path).dropDuplicates(["__commit", id_col])


# ------------------------------------------------- streaming curation


def make_curation_sink(
    path: str,
    eval_set: DataFrame,
    gram_k: int = 5,
    min_est_jaccard: float = 0.5,
    contamination_threshold: float = 0.2,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """The curation funnel's STREAMING form — x94's tiers applied
    incrementally per micro-batch against persisted state, so a
    continuously-ingesting corpus pays O(batch) per batch instead of
    re-running the batch pipeline:

      1_quality        Gopher rules (map-only on the batch)
      2_exact_dedup    incremental_dedup vs the fingerprint history
                       (+ in-batch groups, min-id canonical)
      3_near_dedup     incremental_neardup vs the signature history
                       (+ in-batch pairs; GREEDY: a doc is removed if
                       it matches history or is the larger member of
                       an in-batch pair — incremental ingest cannot
                       retroactively re-cluster, which is the
                       standard, documented divergence from the batch
                       closure)
      4_decontaminate  exact 5-gram overlap vs the broadcast eval
                       gram set (swap in bloom_decontaminate when the
                       eval set outgrows a broadcast)

    State under ``path``: fingerprint + signature histories (appended
    with ACCEPTED docs only, commit-stamped), accept/reject logs with
    per-doc stage attribution, and a per-batch per-stage yield log
    (sum-mergeable counters — ``curation_yield_view`` folds it to the
    cumulative funnel).  Replay contract: both history reads exclude
    THIS batch's own commit id and every log dedups per commit, so a
    replayed batch re-derives byte-identical decisions (test-pinned)."""
    from ..operators.curation import (
        decontaminate,
        gopher_quality_rules,
    )
    from ..operators.dedup import incremental_dedup, minhash_signatures
    from ..operators.text import fingerprint

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        batch = batch_df.select(id_col, text_col)
        n_in = batch.count()

        # tier 1: quality
        q = gopher_quality_rules(batch, id_col, text_col).select(id_col, "keep")
        staged = batch.join(q, id_col).persist()
        try:
            quality_pass = staged.filter("keep").select(id_col, text_col)
            n_q = quality_pass.count()

            # tier 2: exact, vs history (excluding own commit) + in-batch
            fp_log = AtomicParquetTable(f"{path}/fp").read(spark)
            if fp_log is None:
                fp_log = spark.createDataFrame(
                    [], "fingerprint string, __commit long"
                )
            ex = incremental_dedup(
                quality_pass,
                fp_log.filter(F.col("__commit") != batch_id).select("fingerprint"),
                text_col=text_col,
                id_col=id_col,
            )
            exact_pass = (
                quality_pass.join(
                    ex.filter("keep").select(id_col), id_col, "left_semi"
                )
            ).persist()
            n_e = exact_pass.count()

            # tier 3: near-dup, vs signature history (excluding own
            # commit) + in-batch pairs
            sig_log = AtomicParquetTable(f"{path}/sig").read(spark)
            if sig_log is None:
                sig_log = spark.createDataFrame(
                    [], f"{id_col} long, sig array<bigint>, __commit long"
                )
            from ..operators.dedup import incremental_neardup

            hist_sigs = _signature_view_of(
                sig_log.filter(F.col("__commit") != batch_id), id_col
            )
            pairs = incremental_neardup(
                exact_pass, hist_sigs, min_est_jaccard=min_est_jaccard
            )
            removed_nd = (
                pairs.filter("from_history")
                .select(F.col("new_id").alias(id_col))
                .unionByName(
                    pairs.filter(~F.col("from_history")).select(
                        F.col("matched_id").alias(id_col)
                    )
                )
                .distinct()
            )
            nd_pass = exact_pass.join(removed_nd, id_col, "left_anti").persist()
            n_n = nd_pass.count()

            # tier 4: decontamination vs the eval gram set
            dc = decontaminate(
                nd_pass, eval_set, gram_k, text_col, id_col, contamination_threshold
            )
            accepted = nd_pass.join(
                dc.filter("contaminated").select(id_col), id_col, "left_anti"
            ).persist()
            n_d = accepted.count()

            # route + advance state (accepted docs only)
            stamp = F.lit(batch_id).alias("__commit")
            AtomicParquetTable(f"{path}/acc").append(accepted.select("*", stamp))
            rejected = (
                staged.filter(~F.col("keep"))
                .select(id_col, F.lit("1_quality").alias("stage"))
                .unionByName(
                    quality_pass.join(exact_pass, id_col, "left_anti").select(
                        id_col, F.lit("2_exact_dedup").alias("stage")
                    )
                )
                .unionByName(
                    exact_pass.join(nd_pass, id_col, "left_anti").select(
                        id_col, F.lit("3_near_dedup").alias("stage")
                    )
                )
                .unionByName(
                    nd_pass.join(accepted, id_col, "left_anti").select(
                        id_col, F.lit("4_decontaminate").alias("stage")
                    )
                )
            )
            AtomicParquetTable(f"{path}/rej").append(rejected.select("*", stamp))
            AtomicParquetTable(f"{path}/fp").append(
                accepted.select(
                    fingerprint(F.col(text_col)).alias("fingerprint"), stamp
                )
            )
            AtomicParquetTable(f"{path}/sig").append(
                minhash_signatures(accepted, text_col, id_col).select("*", stamp)
            )
            yields = spark.createDataFrame(
                [
                    ("1_quality", n_in, n_in - n_q, n_q),
                    ("2_exact_dedup", n_q, n_q - n_e, n_e),
                    ("3_near_dedup", n_e, n_e - n_n, n_n),
                    ("4_decontaminate", n_n, n_n - n_d, n_d),
                ],
                "stage string, docs_in long, docs_removed long, docs_out long",
            )
            AtomicParquetTable(f"{path}/yield").append(yields.select("*", stamp))
            for frame in (exact_pass, nd_pass, accepted):
                frame.unpersist()
        finally:
            staged.unpersist()

    return sink


def curation_yield_view(spark, path: str) -> DataFrame:
    """Cumulative per-stage funnel from the yield log: per-commit dedup
    then sum — the continuously-maintained counterpart of x94's
    one-shot funnel rows."""
    log = _read_log(spark, f"{path}/yield")
    return (
        _drop_replays_behind_watermark(log)
        .dropDuplicates(["__commit", "stage"])
        .groupBy("stage")
        .agg(
            F.sum("docs_in").cast("long").alias("docs_in"),
            F.sum("docs_removed").cast("long").alias("docs_removed"),
            F.sum("docs_out").cast("long").alias("docs_out"),
        )
    )


def datasheet_drift_view(
    spark,
    path: str,
    new_docs: DataFrame,
    text_col: str = "text",
    rate_drift_threshold: float = 0.1,
) -> DataFrame:
    """Drift of an INCOMING batch against the whole ingested corpus —
    operators.curation.snapshot_drift's columns, but the "old" side
    comes from the streaming datasheet's maintained per-source sums,
    so the history is never rescanned: the check costs one pass over
    the new batch plus the tiny sum log, however much was ingested
    before.  The gate a pipeline puts in front of a suspicious crawl
    drop."""
    from ..operators import text as tx

    sums = _datasheet_sums_of(_read_log(spark, f"{path}/sums"))
    t = F.col(text_col)
    new_sums = (
        new_docs.select(
            "source",
            tx.token_count(t).alias("n_tokens"),
            (tx.quality_score(t) >= 0.9).cast("long").alias("hi_q"),
            (tx.lang_id(t) == "en").cast("long").alias("is_en"),
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs_new"),
            F.sum("n_tokens").cast("long").alias("tok_new"),
            F.sum("hi_q").alias("hi_q_new"),
            F.sum("is_en").alias("en_new"),
        )
    )
    joined = sums.select(
        "source",
        F.col("n_docs").alias("n_docs_old"),
        F.col("total_tokens").alias("tok_old"),
        F.col("hi_q_docs").alias("hi_q_old"),
        F.col("en_docs").alias("en_old"),
    ).join(new_sums, "source", "full_outer")
    no = F.when(F.col("n_docs_old") > 0, F.col("n_docs_old").cast("double"))
    nn = F.when(F.col("n_docs_new") > 0, F.col("n_docs_new").cast("double"))
    hi_old, hi_new = F.col("hi_q_old") / no, F.col("hi_q_new") / nn
    en_old, en_new = F.col("en_old") / no, F.col("en_new") / nn
    mean_old, mean_new = F.col("tok_old") / no, F.col("tok_new") / nn

    def _r4(x):
        return F.round(x + F.lit(1e-9), 4)

    return joined.select(
        "source",
        F.coalesce("n_docs_old", F.lit(0)).alias("n_docs_old"),
        F.coalesce("n_docs_new", F.lit(0)).alias("n_docs_new"),
        _r4(mean_old).alias("mean_tokens_old"),
        _r4(mean_new).alias("mean_tokens_new"),
        _r4(mean_new - mean_old).alias("delta_mean_tokens"),
        _r4(hi_old).alias("hi_q_rate_old"),
        _r4(hi_new).alias("hi_q_rate_new"),
        _r4(hi_new - hi_old).alias("delta_hi_q_rate"),
        _r4(en_old).alias("en_rate_old"),
        _r4(en_new).alias("en_rate_new"),
        _r4(en_new - en_old).alias("delta_en_rate"),
        (
            (F.abs(hi_new - hi_old) > rate_drift_threshold)
            | (F.abs(en_new - en_old) > rate_drift_threshold)
        ).alias("drift"),
    )


# ------------------------------------- streaming shard manifest

def make_manifest_sink(path: str, n_shards: int = 16):
    """Continuously-maintained content-addressed shard manifest (the
    streaming twin of x108): each document batch appends its n_shards
    partial rows — counts and min/max compose, and BOTH checksums are
    commutative-mergeable (xor of xors, sum of modular sums), so the
    merged view equals the batch manifest over all data ever ingested
    EXACTLY, not approximately.  The log grows by n_shards rows per
    batch regardless of batch size; replay dedup and compaction follow
    the shared contract.  (checksum_sum headroom: per-doc terms are
    < 1e9+7 and BIGINT holds ~9.2e18, so a shard absorbs ~9e9 docs
    between compactions; production n_shards scales with the corpus,
    keeping per-shard counts far below that.)"""
    from ..operators.curation import shard_manifest

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        partial = shard_manifest(batch_df, n_shards=n_shards)
        AtomicParquetTable(path).append(
            partial.withColumn("__commit", F.lit(batch_id))
        )

    return sink


def _manifest_view_of(log: DataFrame) -> DataFrame:
    return (
        _drop_replays_behind_watermark(log)
        .dropDuplicates(["__commit", "shard_id"])
        .groupBy("shard_id")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.sum("n_chars").cast("long").alias("n_chars"),
            F.min("min_doc_id").alias("min_doc_id"),
            F.max("max_doc_id").alias("max_doc_id"),
            F.expr("bit_xor(checksum_xor)").alias("checksum_xor"),
            F.sum("checksum_sum").cast("long").alias("checksum_sum"),
        )
    )


def manifest_stream_view(spark, path: str) -> DataFrame:
    """Current merged manifest — bit-equal to shard_manifest() run
    batch-side over every document ever ingested.  Feed two views (or
    a view and a pinned batch manifest) to operators.curation.
    manifest_diff for incremental re-validation."""
    return _manifest_view_of(_read_log(spark, path))


def compact_manifest(spark, path: str, quiesced: bool = True) -> None:
    """Fold the manifest log to its current n_shards merged rows; the
    fold is itself a valid partial (same mergeable schema), so live
    appends keep composing after compaction."""
    _compact(spark, path, _manifest_view_of, quiesced)


def make_priority_sample_sink(path: str, k: int = 100, **candidate_kwargs):
    """Continuously-maintained priority sample (the streaming twin of
    x124): each batch appends its LOCAL top-(k+1) priority candidates
    — any member of the global top-(k+1) is necessarily in its own
    batch's top-(k+1), so the union of candidate logs always contains
    the exact global candidate set and the merged view is BIT-EQUAL
    to batch priority_sample over every document ever ingested.  The
    log grows by at most k+1 rows per batch regardless of batch size;
    priorities are deterministic per doc id, so replays and
    re-ingestions append identical rows that the view dedups."""
    from ..operators.curation import priority_candidates

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        cand = priority_candidates(batch_df, k, **candidate_kwargs)
        AtomicParquetTable(path).append(
            cand.withColumn("__commit", F.lit(batch_id))
        )

    return sink


def _psample_candidates_of(log: DataFrame, k: int, id_col: str) -> DataFrame:
    # priorities are a pure function of doc id, so identical rows from
    # replays OR genuine re-ingestions collapse under the id dedup
    dedup = _drop_replays_behind_watermark(log).dropDuplicates([id_col])
    return (
        dedup.drop("__commit")
        .orderBy(F.col("priority").desc(), F.col(id_col))
        .limit(k + 1)
    )


def priority_sample_view(
    spark, path: str, k: int = 100, id_col: str = "doc_id"
) -> DataFrame:
    """Current merged priority sample with Horvitz-Thompson weights —
    bit-equal to operators.curation.priority_sample over the union of
    all ingested batches."""
    from ..operators.curation import sample_from_candidates

    return sample_from_candidates(
        _psample_candidates_of(_read_log(spark, path), k, id_col), k, id_col
    )


def compact_priority_sample(
    spark, path: str, k: int = 100, id_col: str = "doc_id", quiesced: bool = True
) -> None:
    """Fold the candidate log to the current global top-(k+1) rows;
    the fold is itself a valid candidate partial (same schema, and
    top-(k+1) of a union that includes the folded top-(k+1) is
    unchanged), so live appends keep composing after compaction."""
    _compact(
        spark, path, lambda log: _psample_candidates_of(log, k, id_col), quiesced
    )


def make_bootstrap_ci_sink(path: str, value_q, n_boot: int = 32, **kw):
    """Continuously-maintained Poisson-bootstrap CI (the streaming
    twin of x125): each batch appends its per-(group, replicate)
    BIGINT partial sums — multiplicities are pure functions of
    (replicate, doc id), so partials from disjoint batches ADD to
    exactly the whole-corpus partial and the merged CI is BIT-EQUAL
    to the batch bootstrap over every document ever ingested.  The
    log grows by ~groups x (n_boot + 1) rows per batch regardless of
    batch size.  ``value_q`` is a Column producing the pre-quantized
    BIGINT value (e.g. floor(quality_score * 1e6))."""
    from ..operators.profile import bootstrap_partials

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        rated = batch_df.select(
            kw.get("group_col", "source"),
            kw.get("id_col", "doc_id"),
            value_q.alias("value_q"),
        )
        partial = bootstrap_partials(rated, n_boot=n_boot, **kw)
        AtomicParquetTable(path).append(
            partial.withColumn("__commit", F.lit(batch_id))
        )

    return sink


def _bootstrap_partials_of(log: DataFrame) -> DataFrame:
    return (
        _drop_replays_behind_watermark(log)
        .dropDuplicates(["__commit", "grp", "b"])
        .groupBy("grp", "b")
        .agg(
            F.sum("sum_m").cast("long").alias("sum_m"),
            F.sum("sum_mv").cast("long").alias("sum_mv"),
        )
    )


def bootstrap_ci_view(spark, path: str, group_col: str = "source") -> DataFrame:
    """Current merged bootstrap CI — bit-equal to
    operators.profile.bootstrap_mean_ci over the union of all
    ingested batches."""
    from ..operators.profile import ci_from_bootstrap_partials

    return ci_from_bootstrap_partials(
        _bootstrap_partials_of(_read_log(spark, path)), group_col
    )


def compact_bootstrap_ci(spark, path: str, quiesced: bool = True) -> None:
    """Fold the partial log to one merged row per (group, replicate);
    the fold is itself a valid partial (sums of sums), so live appends
    keep composing after compaction."""
    _compact(spark, path, _bootstrap_partials_of, quiesced)


def make_gini_sink(path: str, weight, group_col: str = "source"):
    """Continuously-maintained Gini concentration (the streaming twin
    of x127): each batch appends its (group, weight) count histogram —
    histograms ADD cell-wise, so the merged view is BIT-EQUAL to batch
    gini_concentration over every document ever ingested.  State is
    bounded by the weight DOMAIN (distinct token counts), not the
    corpus.  ``weight`` is a Column producing the per-doc BIGINT
    weight.  Append-exactly-once per doc contract, like the other
    counting sinks."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        hist = (
            batch_df.select(
                F.col(group_col).alias("grp"), weight.cast("long").alias("weight")
            )
            .groupBy("grp", "weight")
            .agg(F.count("*").cast("long").alias("cnt"))
        )
        AtomicParquetTable(path).append(
            hist.withColumn("__commit", F.lit(batch_id))
        )

    return sink


def _gini_hist_of(log: DataFrame) -> DataFrame:
    return (
        _drop_replays_behind_watermark(log)
        .dropDuplicates(["__commit", "grp", "weight"])
        .groupBy("grp", "weight")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def gini_view(spark, path: str, group_col: str = "source") -> DataFrame:
    """Current merged Gini concentration per group — bit-equal to
    operators.profile.gini_concentration over the union of all
    ingested batches."""
    from ..operators.profile import gini_from_hist

    return gini_from_hist(
        _gini_hist_of(_read_log(spark, path)), "weight", "grp"
    ).withColumnRenamed("grp", group_col)


def compact_gini(spark, path: str, quiesced: bool = True) -> None:
    """Fold the histogram log to one row per (group, weight) cell; the
    fold is itself a valid partial (cell-wise sums), so live appends
    keep composing after compaction."""
    _compact(spark, path, _gini_hist_of, quiesced)


_DISPERSION_VIEW_FRAMES: list[DataFrame] = []


def dispersion_view(spark, counts_path: str, threshold: float = 1.5) -> DataFrame:
    """Fano-factor burstiness over the SAME hourly-count store the
    seasonal sink maintains — the fourth detector on the one rollup
    (seasonal deviations / CUSUM shifts / robust point outliers /
    dispersion).  Identical code path as the batch operator
    (``dispersion_scores_from_dense``), so merged-view == batch is a
    structural guarantee; same per-commit replay dedup and
    scope-release cache bounds as the sibling views."""
    from .. import cache
    from ..operators.timeseries import densify_hourly, dispersion_scores_from_dense

    cache.release(_DISPERSION_VIEW_FRAMES)
    _DISPERSION_VIEW_FRAMES.clear()
    pos = cache.mark()
    sparse = _seasonal_sparse_of(_read_log(spark, counts_path))
    view = dispersion_scores_from_dense(densify_hourly(sparse), threshold)
    _DISPERSION_VIEW_FRAMES.extend(cache.tracked_since(pos))
    return view


def make_term_histogram_sink(path: str, source_col: str = "source",
                             text_col: str = "text"):
    """Continuously-maintained (source, term) token histogram — ONE
    shared lexical store serving every downstream term statistic
    (lexical diversity x129, Zipf fit x132, and any fightin'-words
    comparison), the way the hourly-count store serves the four
    time-series detectors.  Each batch appends its batch-local
    histogram; cells ADD, so merged views are BIT-EQUAL to the batch
    operators over every document ever ingested.  State is bounded by
    the vocabulary, not the corpus.  Append-exactly-once per doc
    contract, like the other counting sinks."""
    from ..operators.curation import term_histogram

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        hist = term_histogram(batch_df, source_col, text_col)
        AtomicParquetTable(path).append(
            hist.withColumn("__commit", F.lit(batch_id))
        )

    return sink


def _term_hist_of(log: DataFrame) -> DataFrame:
    return (
        _drop_replays_behind_watermark(log)
        .dropDuplicates(["__commit", "src", "term"])
        .groupBy("src", "term")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def lexical_view(spark, path: str) -> DataFrame:
    """Current merged lexical-diversity report (TTR / hapax /
    Simpson) — bit-equal to operators.curation.lexical_diversity over
    the union of all ingested batches.  The finisher's two consumers
    re-read the (tiny, vocabulary-bounded) log rather than persisting
    per call — a monitoring loop must not accumulate cached frames."""
    from ..operators.curation import lexical_diversity_from_hist

    return lexical_diversity_from_hist(_term_hist_of(_read_log(spark, path)))


def zipf_view(spark, path: str) -> DataFrame:
    """Current merged Zipf fit — bit-equal to
    operators.curation.zipf_fit over the union of all ingested
    batches."""
    from ..operators.curation import zipf_fit_from_hist

    return zipf_fit_from_hist(_term_hist_of(_read_log(spark, path)))


def compact_term_histogram(spark, path: str, quiesced: bool = True) -> None:
    """Fold the histogram log to one row per (src, term) cell; the
    fold is itself a valid partial (cell-wise sums), so live appends
    keep composing after compaction."""
    _compact(spark, path, _term_hist_of, quiesced)


_TREND_VIEW_FRAMES: list[DataFrame] = []


def trend_view(spark, counts_path: str, z_crit: float = 1.96) -> DataFrame:
    """Mann-Kendall trend + Sen's slope over the SAME hourly-count
    store the seasonal sink maintains — the FIFTH detector on the one
    rollup (seasonal deviations / CUSUM shifts / robust point
    outliers / dispersion / monotonic trend).  Identical code path as
    the batch operator (``mann_kendall_from_dense``), so merged-view
    == batch is a structural guarantee; same per-commit replay dedup
    and scope-release cache bounds as the sibling views."""
    from .. import cache
    from ..operators.timeseries import densify_hourly, mann_kendall_from_dense

    cache.release(_TREND_VIEW_FRAMES)
    _TREND_VIEW_FRAMES.clear()
    pos = cache.mark()
    sparse = _seasonal_sparse_of(_read_log(spark, counts_path))
    view = mann_kendall_from_dense(densify_hourly(sparse), z_crit)
    _TREND_VIEW_FRAMES.extend(cache.tracked_since(pos))
    return view


def make_length_histogram_sink(path: str, source_col: str = "source",
                               text_col: str = "text"):
    """Continuously-maintained (source, doc-length) histogram — the
    mergeable state behind the streaming KS drift monitor: each batch
    appends its batch-local length histogram; cells ADD, so the
    merged KS report is BIT-EQUAL to the batch operator over every
    document ever ingested.  State is bounded by the number of
    distinct lengths per source, never the corpus.  Same
    append-exactly-once contract as the other counting sinks."""
    from ..operators.curation import length_histogram

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        hist = length_histogram(batch_df, source_col, text_col)
        AtomicParquetTable(path).append(
            hist.withColumn("__commit", F.lit(batch_id))
        )

    return sink


def _length_hist_of(log: DataFrame) -> DataFrame:
    return (
        _drop_replays_behind_watermark(log)
        .dropDuplicates(["__commit", "src", "len"])
        .groupBy("src", "len")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def ks_view(spark, path: str) -> DataFrame:
    """Current merged pairwise KS drift report — bit-equal to
    operators.curation.ks_drift over the union of all ingested
    batches: the continuously-answered 'has any source's length
    profile drifted?' monitor."""
    from ..operators.curation import ks_from_hist

    return ks_from_hist(_length_hist_of(_read_log(spark, path)))


def compact_length_histogram(spark, path: str, quiesced: bool = True) -> None:
    """Fold the length-histogram log to one row per (src, len) cell;
    the fold is a valid partial (cell-wise sums), so live appends keep
    composing after compaction."""
    _compact(spark, path, _length_hist_of, quiesced)


_ACF_VIEW_FRAMES: list[DataFrame] = []


def acf_view(spark, counts_path: str, max_lag_hours: int = 24) -> DataFrame:
    """Autocorrelation over the SAME hourly-count store — the SIXTH
    consumer of the one rollup (four anomaly detectors + trend +
    periodicity).  Identical code path as the batch operator
    (``acf_from_dense``); same replay dedup and scope-release cache
    bounds as the sibling views."""
    from .. import cache
    from ..operators.timeseries import acf_from_dense, densify_hourly

    cache.release(_ACF_VIEW_FRAMES)
    _ACF_VIEW_FRAMES.clear()
    pos = cache.mark()
    sparse = _seasonal_sparse_of(_read_log(spark, counts_path))
    view = acf_from_dense(densify_hourly(sparse), max_lag_hours)
    _ACF_VIEW_FRAMES.extend(cache.tracked_since(pos))
    return view


_HW_VIEW_FRAMES: list[DataFrame] = []


def forecast_view(spark, counts_path: str, **hw_kwargs) -> DataFrame:
    """Holt-Winters forecast over the SAME hourly-count store — the
    SEVENTH consumer of the one rollup (detectors + trend +
    periodicity + forecast).  Identical code path as the batch
    operator (``holt_winters_from_dense``); same replay dedup and
    scope-release cache bounds as the sibling views."""
    from .. import cache
    from ..operators.timeseries import densify_hourly, holt_winters_from_dense

    cache.release(_HW_VIEW_FRAMES)
    _HW_VIEW_FRAMES.clear()
    pos = cache.mark()
    sparse = _seasonal_sparse_of(_read_log(spark, counts_path))
    view = holt_winters_from_dense(densify_hourly(sparse), **hw_kwargs)
    _HW_VIEW_FRAMES.extend(cache.tracked_since(pos))
    return view


def psi_view(spark, path: str, smooth: float = 0.5, crit: float = 0.2) -> DataFrame:
    """Current merged PSI drift report — the SECOND consumer of the
    length-histogram store (KS answers 'statistically different?',
    PSI scores how far the mass moved); bit-equal to
    operators.curation.length_psi over all ingested docs."""
    from ..operators.curation import psi_from_hist

    return psi_from_hist(_length_hist_of(_read_log(spark, path)), smooth, crit)


# ----------------------------------------- incremental privacy audit


def make_privacy_sink(path: str, quasi_cols: list[str], sensitive_col: str):
    """Continuously-maintained k-anonymity / l-diversity state (the
    streaming twin of x160): each batch appends its (quasi...,
    sensitive, n) count partials — sum-mergeable, bounded per batch by
    QI x sensitive cardinality, never by rows — so the privacy screen
    of a growing release projection is answerable at any moment
    without rescanning history.  Anonymity degrades MONOTONICALLY
    under ingest only per class (new rows can only grow a class), but
    new rows create NEW small classes, which is exactly why the audit
    must re-run as the corpus grows; this sink makes that re-run
    log-sized.  Shares the replay/compaction contract of the other
    sinks."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        counts = batch_df.groupBy(*quasi_cols, sensitive_col).agg(
            F.count("*").cast("long").alias("n")
        )
        AtomicParquetTable(path).append(
            counts.withColumn("__commit", F.lit(batch_id))
        )

    return sink


def _privacy_counts_of(
    log: DataFrame, quasi_cols: list[str], sensitive_col: str
) -> DataFrame:
    return (
        _drop_replays_behind_watermark(log)
        .dropDuplicates(["__commit", *quasi_cols, sensitive_col])
        .groupBy(*quasi_cols, sensitive_col)
        .agg(F.sum("n").cast("long").alias("n"))
    )


def privacy_view(
    spark,
    path: str,
    quasi_cols: list[str],
    sensitive_col: str,
    ks: tuple[int, ...] = (2, 5, 10, 25),
) -> DataFrame:
    """Current k-anonymity report over everything ingested: fold the
    count partials to equivalence classes (cls_n = sum of partials,
    l_div = distinct sensitive values present) and run the SAME per-k
    walk as the batch audit (operators/profile.k_anonymity_from_classes)
    — bit-equal to x160 over the union of all batches.  Touches only
    the class-count log, never raw documents."""
    from ..operators.profile import k_anonymity_from_classes

    counts = _privacy_counts_of(
        _read_log(spark, path), quasi_cols, sensitive_col
    )
    classes = counts.groupBy(*quasi_cols).agg(
        F.sum("n").cast("long").alias("cls_n"),
        # counts is already unique per (quasi, sensitive): row count IS
        # the distinct-sensitive count
        F.count("*").cast("long").alias("l_div"),
    )
    return k_anonymity_from_classes(classes, ks)


def compact_privacy(
    spark,
    path: str,
    quasi_cols: list[str],
    sensitive_col: str,
    quiesced: bool = True,
) -> None:
    """Fold the privacy count log; same CAS contract as the other
    sinks."""
    _compact(
        spark,
        path,
        lambda log: _privacy_counts_of(log, quasi_cols, sensitive_col),
        quiesced,
    )


# ------------------------------------ incremental classifier training


def make_classifier_sink(path: str, label_col: str = "lang", text_col: str = "text"):
    """Continuously-trained Naive Bayes classifier state (the
    streaming twin of x159's train step): each labeled batch appends
    its (label, tok, c) token-count partials and (label, n) document
    counts — both sum-mergeable, bounded per batch by batch vocabulary
    x labels, never by history — so the model retrains from log-sized
    state as labeled data streams in, instead of rescanning the whole
    labeled corpus per refresh.  Shares the replay/compaction contract
    of the other sinks."""
    from ..operators.text import tokens

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        lbl = F.col(label_col).alias("label")
        counts = (
            batch_df.select(lbl, F.explode(tokens(F.col(text_col))).alias("tok"))
            .groupBy("label", "tok")
            .agg(F.count("*").cast("long").alias("c"))
        )
        AtomicParquetTable(f"{path}/toks").append(
            counts.withColumn("__commit", F.lit(batch_id))
        )
        docn = batch_df.groupBy(lbl).agg(F.count("*").cast("long").alias("n"))
        AtomicParquetTable(f"{path}/docs").append(
            docn.withColumn("__commit", F.lit(batch_id))
        )

    return sink


def _classifier_toks_of(log: DataFrame) -> DataFrame:
    return (
        _drop_replays_behind_watermark(log)
        .dropDuplicates(["__commit", "label", "tok"])
        .groupBy("label", "tok")
        .agg(F.sum("c").cast("long").alias("c"))
    )


def _classifier_docs_of(log: DataFrame) -> DataFrame:
    return (
        _drop_replays_behind_watermark(log)
        .dropDuplicates(["__commit", "label"])
        .groupBy("label")
        .agg(F.sum("n").cast("long").alias("n"))
    )


def classifier_model_view(spark, path: str, alpha: float = 0.5) -> DataFrame:
    """Current dense NB model over everything ingested: fold both
    count logs and run the SAME densification as batch training
    (operators/classify.nb_model_from_counts) — bit-equal to
    ``nb_train`` over the union of all batches.  The returned frame
    plugs straight into ``nb_score`` / the size-gated model join."""
    from ..operators.classify import nb_model_from_counts

    counts = _classifier_toks_of(_read_log(spark, f"{path}/toks"))
    docn = _classifier_docs_of(_read_log(spark, f"{path}/docs"))
    return nb_model_from_counts(counts, docn, alpha=alpha)


def compact_classifier(spark, path: str, quiesced: bool = True) -> None:
    """Fold both classifier count logs; same CAS contract as the
    other sinks."""
    _compact(spark, f"{path}/toks", _classifier_toks_of, quiesced)
    _compact(spark, f"{path}/docs", _classifier_docs_of, quiesced)


def release_audit_view(
    spark,
    datasheet_path: str,
    privacy_path: str,
    quasi_cols: list[str],
    sensitive_col: str,
    ks: tuple[int, ...] = (2, 5, 10, 25),
    pii_path: str | None = None,
) -> DataFrame:
    """The CONTINUOUS form of the x164 pre-publication gate for the
    families with streaming state: the same long-form (family, item,
    metric, value, ok) report, served from the datasheet and privacy
    stores — plus the PII-residue family when a ``make_pii_sink``
    store is given — so 'is this corpus releasable right now?' is
    answerable at any moment from log-sized state instead of a
    full-corpus audit run.  Verdict semantics mirror x164: NULL ok on
    informational datasheet rows (dup_rate here is the HLL estimate,
    hence 'dup_rate_est'), risky_row_frac <= 0.05 per anonymity
    threshold, zero PII residue."""
    okn = F.lit(None).cast("boolean")
    ds = datasheet_view(spark, datasheet_path).select(
        F.lit("datasheet").alias("family"),
        F.col("source").alias("item"),
        F.expr(
            "stack(4,"
            " 'n_docs', CAST(n_docs AS DOUBLE) + 0.0D,"
            " 'total_tokens', CAST(total_tokens AS DOUBLE) + 0.0D,"
            " 'dup_rate_est', dup_rate_est + 0.0D,"
            " 'hi_quality_rate', hi_quality_rate + 0.0D) AS (metric, value)"
        ),
        okn.alias("ok"),
    )
    ka = privacy_view(spark, privacy_path, quasi_cols, sensitive_col, ks).select(
        F.lit("k_anonymity").alias("family"),
        F.concat(F.lit("k="), F.col("k").cast("string")).alias("item"),
        F.lit("risky_row_frac").alias("metric"),
        (F.col("risky_row_frac") + F.lit(0.0)).alias("value"),
        (F.col("risky_row_frac") <= F.lit(0.05)).alias("ok"),
    )
    out = ds.unionByName(ka)
    if pii_path is not None:
        pii = pii_view(spark, pii_path).select(
            F.lit("pii").alias("family"),
            F.col("source").alias("item"),
            F.lit("pii_doc_rate").alias("metric"),
            (F.col("pii_doc_rate") + F.lit(0.0)).alias("value"),
            "ok",
        )
        out = out.unionByName(pii)
    return out


# -------------------------------------- incremental tokenizer budget


def make_fertility_sink(path: str, group_col: str = "lang", text_col: str = "text"):
    """Continuously-maintained tokenizer-budget state (the streaming
    twin of x168): each batch appends per-group exact BIGINT sums of
    whitespace words, BPE-ish sub-word tokens, bytes and chars — all
    sum-mergeable, |groups| rows per batch — so fertility and
    bytes-per-token stay answerable as the corpus grows without
    re-tokenizing history.  Shares the replay/compaction contract."""
    from ..operators.text import bpe_regex_token_count, token_count

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        t = F.col(text_col)
        sums = (
            batch_df.select(
                F.col(group_col).alias("grp"),
                token_count(t).alias("ws"),
                bpe_regex_token_count(t).alias("bpe"),
                F.octet_length(t).cast("long").alias("bytes"),
                F.length(t).cast("long").alias("chars"),
            )
            .groupBy("grp")
            .agg(
                F.count("*").cast("long").alias("n_docs"),
                F.sum("ws").cast("long").alias("n_words"),
                F.sum("bpe").cast("long").alias("n_tokens"),
                F.sum("bytes").cast("long").alias("n_bytes"),
                F.sum("chars").cast("long").alias("n_chars"),
            )
        )
        AtomicParquetTable(path).append(
            sums.withColumn("__commit", F.lit(batch_id))
        )

    return sink


def _fertility_sums_of(log: DataFrame) -> DataFrame:
    return (
        _drop_replays_behind_watermark(log)
        .dropDuplicates(["__commit", "grp"])
        .groupBy("grp")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.sum("n_bytes").cast("long").alias("n_bytes"),
            F.sum("n_chars").cast("long").alias("n_chars"),
        )
    )


def fertility_view(spark, path: str, group_col: str = "lang") -> DataFrame:
    """Current tokenizer-budget report over everything ingested —
    bit-equal to the batch x168 operator over the union of batches
    (corpus-level ratios of exact folded sums)."""
    sums = _fertility_sums_of(_read_log(spark, path))

    def ratio(num, den):
        return (
            F.round(
                F.col(num).cast("double") / F.col(den).cast("double")
                + F.lit(1e-9),
                6,
            )
            + F.lit(0.0)
        )

    return sums.select(
        F.col("grp").alias(group_col),
        "n_docs",
        "n_words",
        "n_tokens",
        "n_bytes",
        ratio("n_tokens", "n_words").alias("fertility"),
        ratio("n_bytes", "n_tokens").alias("bytes_per_token"),
        ratio("n_chars", "n_words").alias("chars_per_word"),
    )


def compact_fertility(spark, path: str, quiesced: bool = True) -> None:
    """Fold the fertility sum log; same CAS contract as the other
    sinks."""
    _compact(spark, path, _fertility_sums_of, quiesced)


def make_pii_sink(path: str, source_col: str = "source", text_col: str = "text"):
    """Continuously-maintained PII-residue state (the streaming form
    of x164's pii family): per batch, per-source counts of documents
    and of documents with ANY PII regex hit — sum-mergeable, |sources|
    rows per batch — so the zero-residue release invariant is
    checkable at any moment without rescanning text.  Shares the
    replay/compaction contract."""
    from ..operators.text import pii_counts

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        pii = pii_counts(F.col(text_col))
        sums = (
            batch_df.select(
                F.col(source_col).alias("src"),
                ((pii["EMAIL"] + pii["IPV4"] + pii["PHONE"]) > 0)
                .cast("long")
                .alias("has_pii"),
            )
            .groupBy("src")
            .agg(
                F.count("*").cast("long").alias("n_docs"),
                F.sum("has_pii").cast("long").alias("n_pii_docs"),
            )
        )
        AtomicParquetTable(path).append(
            sums.withColumn("__commit", F.lit(batch_id))
        )

    return sink


def _pii_sums_of(log: DataFrame) -> DataFrame:
    return (
        _drop_replays_behind_watermark(log)
        .dropDuplicates(["__commit", "src"])
        .groupBy("src")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("n_pii_docs").cast("long").alias("n_pii_docs"),
        )
    )


def pii_view(spark, path: str) -> DataFrame:
    """Current per-source PII residue over everything ingested:
    (source, n_docs, n_pii_docs, pii_doc_rate, ok = zero residue)."""
    sums = _pii_sums_of(_read_log(spark, path))
    return sums.select(
        F.col("src").alias("source"),
        "n_docs",
        "n_pii_docs",
        (
            F.round(
                F.col("n_pii_docs").cast("double")
                / F.col("n_docs").cast("double")
                + F.lit(1e-9),
                6,
            )
            + F.lit(0.0)
        ).alias("pii_doc_rate"),
        (F.col("n_pii_docs") == 0).alias("ok"),
    )


def compact_pii(spark, path: str, quiesced: bool = True) -> None:
    """Fold the PII count log; same CAS contract as the other sinks."""
    _compact(spark, path, _pii_sums_of, quiesced)


# --------------------------------------- incremental embedding health


def make_embedding_health_sink(path: str, vec_col: str = "embedding",
                               near_zero: float = 0.01):
    """Continuously-maintained embedding-space health (the streaming
    twin of x156): each vector batch appends per-dimension quantized
    moment partials (n, sum, sum-of-squares, near-zero count) — all
    sum-mergeable, |dims| rows per batch — so dead-dimension and
    anisotropy screens stay answerable as vectors stream in, without
    re-reading the embedding store.  Shares the replay/compaction
    contract."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        q = F.lit(1e8)
        rows = batch_df.select(
            F.posexplode(F.col(vec_col).cast("array<double>"))
        ).select(
            (F.col("pos") + 1).alias("dim"),
            (F.col("col") * q).cast("long").alias("qv"),
            (F.col("col") * F.col("col") * q).cast("long").alias("qvv"),
            (F.abs(F.col("col")) < F.lit(near_zero)).cast("long").alias("nz"),
        )
        per = rows.groupBy("dim").agg(
            F.count("*").cast("long").alias("n"),
            F.sum("qv").cast("long").alias("sv"),
            F.sum("qvv").cast("long").alias("svv"),
            F.sum("nz").cast("long").alias("n_near_zero"),
        )
        AtomicParquetTable(path).append(
            per.withColumn("__commit", F.lit(batch_id))
        )

    return sink


def _embedding_moments_of(log: DataFrame) -> DataFrame:
    return (
        _drop_replays_behind_watermark(log)
        .dropDuplicates(["__commit", "dim"])
        .groupBy("dim")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("sv").cast("long").alias("sv"),
            F.sum("svv").cast("long").alias("svv"),
            F.sum("n_near_zero").cast("long").alias("n_near_zero"),
        )
    )


def embedding_health_view(spark, path: str) -> DataFrame:
    """Current per-dimension health report over every ingested vector
    — bit-equal to the batch x156 operator over the union of batches
    (the SAME report derivation runs on the folded moments)."""
    from ..operators.embed import embedding_health_from_moments

    return embedding_health_from_moments(
        _embedding_moments_of(_read_log(spark, path))
    )


def compact_embedding_health(spark, path: str, quiesced: bool = True) -> None:
    """Fold the moment log; same CAS contract as the other sinks."""
    _compact(spark, path, _embedding_moments_of, quiesced)


# ------------------------------------- incremental conformal calibration


def make_conformal_sink(path: str, id_col: str = "doc_id", text_col: str = "text"):
    """Continuously-maintained split-conformal calibration state (the
    x162 audit's streaming twin): each batch appends its exact
    per-split score-histogram cells (is_cal, q, nk) — the
    lexical-diversity score and the doc_id-parity cal/test split are
    shared verbatim with the batch query — and cells ADD, so the
    merged thresholds are BIT-EQUAL to conformal_thresholds over every
    document ever ingested.  State is bounded by score quantization
    (distinct q values), never the corpus.  Same append-exactly-once
    contract as the other counting sinks."""
    from ..operators.curation import lexdiv_qscore

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        cells = (
            batch_df.select(
                (F.col(id_col) % 2 == 0).alias("is_cal"),
                lexdiv_qscore(F.col(text_col)).alias("q"),
            )
            .groupBy("is_cal", "q")
            .agg(F.count("*").cast("long").alias("nk"))
        )
        AtomicParquetTable(path).append(
            cells.withColumn("__commit", F.lit(batch_id))
        )

    return sink


def _conformal_hist_of(log: DataFrame) -> DataFrame:
    return (
        _drop_replays_behind_watermark(log)
        .dropDuplicates(["__commit", "is_cal", "q"])
        .groupBy("is_cal", "q")
        .agg(F.sum("nk").cast("long").alias("nk"))
    )


def conformal_view(
    spark, path: str, alpha_ppm: tuple[int, ...] = (10_000, 50_000, 100_000)
) -> DataFrame:
    """Current conformal quality-filter thresholds + achieved held-out
    keep rates — the continuously-answered 'what cutoff gives an
    alpha-bounded reject rate right now?'.  Bit-equal to the batch
    x162 operator over the union of ingested batches: both entry the
    same conformal_from_hist core, and the maintained state IS its
    input histogram."""
    from ..operators.curation import conformal_from_hist

    hist = _conformal_hist_of(_read_log(spark, path))
    return conformal_from_hist(
        hist.filter(F.col("is_cal")).select("q", "nk"),
        hist.filter(~F.col("is_cal")).select("q", "nk"),
        alpha_ppm,
    )


def compact_conformal(spark, path: str, quiesced: bool = True) -> None:
    """Fold the conformal score-histogram log to one row per
    (is_cal, q) cell; cell-wise sums are a valid partial, so live
    appends keep composing after compaction."""
    _compact(spark, path, _conformal_hist_of, quiesced)


# --------------------------------------- incremental retrieval evaluation


def make_retrieval_eval_sink(
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    rel_col: str = "source",
):
    """Incrementally-maintained tf-grade postings store (d, rel, dl,
    term, tf) — the eval-ready sibling of make_index_sink's (term, df,
    postings) index: the retrieval-quality harness needs per-(doc,
    term) frequencies, doc lengths, and relevance labels, which the
    search index deliberately drops.  Rows are PER-DOCUMENT facts, so
    per-batch partials union to exactly the batch frame (each document
    arrives in one batch — the same append-only-corpus assumption as
    make_index_sink); a replayed batch recomputes identical rows and
    deduplicates at read time."""
    from ..operators.retrieval import eval_tf_frame

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        partial = eval_tf_frame(batch_df, id_col, text_col, rel_col)
        AtomicParquetTable(path).append(
            partial.withColumn("__commit", F.lit(batch_id))
        )

    return sink


def _retrieval_tf_of(log: DataFrame) -> DataFrame:
    return (
        _drop_replays_behind_watermark(log)
        .dropDuplicates(["__commit", "d", "term"])
        .select("d", "rel", "dl", "term", "tf")
    )


def retrieval_eval_view(spark, path: str, **eval_kwargs) -> DataFrame:
    """Current retrieval-quality report (MRR / p@k / nDCG per query)
    over the maintained postings store — the continuously-answered
    'how good is the ranker against the corpus as ingested so far?'.
    Bit-equal to the batch x163 operator over the union of ingested
    batches: both enter the same retrieval_eval_from_tf core, and the
    merged store is exactly its input frame."""
    from ..operators.retrieval import retrieval_eval_from_tf

    return retrieval_eval_from_tf(
        _retrieval_tf_of(_read_log(spark, path)), **eval_kwargs
    )


def compact_retrieval_eval(spark, path: str, quiesced: bool = True) -> None:
    """Fold the postings log to one row per (d, term); rows are
    per-document facts (no cross-batch merging), so the fold is pure
    replay-dedup and live appends keep composing after compaction."""
    _compact(spark, path, _retrieval_tf_of, quiesced)


# -------------------------------------- incremental tokenizer retraining


def make_wordfreq_sink(path: str, text_col: str = "text", max_word_len: int = 12):
    """Continuously-maintained corpus word-frequency state — the ONE
    corpus-derived input of unigram-LM tokenizer training (x172): each
    batch appends its (w, freq) count partials; counts ADD, so the
    model retrained from the merged store is BIT-EQUAL to batch
    training over every document ever ingested.  State is bounded by
    the vocabulary (distinct truncated words), never the corpus.  Same
    append-exactly-once contract as the other counting sinks.

    ``max_word_len`` must match the training parameter (words are
    truncated BEFORE counting, exactly as _word_freqs does)."""
    from ..operators.text import _word_freqs

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        partial = _word_freqs(batch_df, text_col, max_word_len)
        AtomicParquetTable(path).append(
            partial.withColumn("__commit", F.lit(batch_id))
        )

    return sink


def _wordfreq_of(log: DataFrame) -> DataFrame:
    return (
        _drop_replays_behind_watermark(log)
        .dropDuplicates(["__commit", "w"])
        .groupBy("w")
        .agg(F.sum("freq").cast("long").alias("freq"))
    )


def wordfreq_view(spark, path: str) -> DataFrame:
    """Current merged (w, freq) word-frequency table over all ingested
    batches — the tokenizer trainer's input state, also useful on its
    own (Zipf checks, vocabulary growth)."""
    return _wordfreq_of(_read_log(spark, path))


def unigram_model_view(spark, path: str, **train_kwargs) -> DataFrame:
    """Continuously-retrained unigram-LM tokenizer: runs the full
    Viterbi hard-EM (x172) from the maintained word-frequency store —
    the 'would the tokenizer trained RIGHT NOW differ?' answer a
    corpus owner checks before re-tokenizing.  Bit-equal to the batch
    x172 operator over the union of ingested batches: both enter the
    same unigram_lm_train_from_words core, and word counts are
    sum-mergeable.  NOTE: this runs the EM loop (bounded driver
    iterations over the vocabulary-sized store), so it is a
    train-on-read view, not a constant-time report — run it on the
    retraining cadence, not per batch."""
    from ..operators.text import unigram_lm_train_from_words

    return unigram_lm_train_from_words(
        _wordfreq_of(_read_log(spark, path)), **train_kwargs
    )


def compact_wordfreq(spark, path: str, quiesced: bool = True) -> None:
    """Fold the word-frequency log to one row per word; word counts are
    a valid partial (sums), so live appends keep composing after
    compaction."""
    _compact(spark, path, _wordfreq_of, quiesced)


# --------------------------------- incremental semantic decontamination


def make_semantic_decontam_sink(
    path: str,
    eval_emb: DataFrame,
    planes: list,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Continuously-maintained semantic-contamination verdicts (the
    x178 screen at ingest): each embedding batch is screened against
    the FIXED eval set (SRP-bucket blocking, broadcast eval side —
    exactly the batch operator) and its per-document verdict rows are
    appended.  Verdicts are per-document facts against an immutable
    eval suite, so per-batch partials union to exactly the batch
    screen over every vector ever ingested — the same
    append-only-corpus contract as make_index_sink; a changed eval
    suite is an offline re-screen, not a merge.

    ``eval_emb`` and ``planes`` must match the batch x178 parameters
    for the view to be bit-equal."""
    from ..operators.similarity import semantic_decontaminate

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        verdicts = semantic_decontaminate(
            batch_df, eval_emb, planes, threshold, id_col, vec_col
        )
        AtomicParquetTable(path).append(
            verdicts.withColumn("__commit", F.lit(batch_id))
        )

    return sink


def _semantic_decontam_of(log: DataFrame) -> DataFrame:
    return (
        _drop_replays_behind_watermark(log)
        .dropDuplicates(["__commit", "vec_id"])
        .select("vec_id", "max_eval_cosine", "matched_eval_id", "is_contaminated")
    )


def semantic_decontam_view(spark, path: str) -> DataFrame:
    """Current per-document semantic-contamination verdicts over all
    ingested embedding batches — bit-equal to batch x178 on the union
    corpus (verdicts are per-document facts against the fixed eval
    suite)."""
    return _semantic_decontam_of(_read_log(spark, path))


def compact_semantic_decontam(spark, path: str, quiesced: bool = True) -> None:
    """Fold the verdict log to one row per vector; pure replay-dedup
    (no cross-batch merging), live appends keep composing."""
    _compact(spark, path, _semantic_decontam_of, quiesced)


def t_closeness_view(
    spark,
    path: str,
    quasi_cols: list[str],
    sensitive_col: str,
    t_ppm: tuple[int, ...] = (100_000, 200_000, 300_000),
) -> DataFrame:
    """Current t-closeness report over everything ingested — the THIRD
    consumer of the privacy count store (k-anonymity and l-diversity
    read it via privacy_view): the maintained (QI..., sensitive, n)
    cells are exactly the batch audit's cell frame, so the report is
    bit-equal to x181 over the union of all batches.  Touches only the
    class-count log, never raw documents."""
    from ..operators.profile import t_closeness_from_cells

    cells = _privacy_counts_of(
        _read_log(spark, path), quasi_cols, sensitive_col
    ).withColumnRenamed("n", "cv")
    return t_closeness_from_cells(cells, quasi_cols, sensitive_col, t_ppm)


# ------------------------------------- leakage-safe split stability

def make_split_anchor_sink(
    assign_path: str,
    history_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_k: int = 3,
    min_est_jaccard: float = 0.5,
):
    """The streaming twin of x179 (leakage-safe splits): maintains
    per-document near-dup CLUSTER ANCHORS incrementally as the corpus
    grows, so split assignments stay cluster-keyed — and therefore
    leakage-safe — without ever recomputing the closure over the full
    corpus.

    Contract: attach AFTER ``make_signature_sink`` on the same stream
    (the batch's signatures are already in the history view when this
    runs; per-commit dedup keeps that exact under replay).  Per batch:

    1. Band-join the batch against the merged signature history
       (``incremental_neardup`` — O(batch) work, history text never
       read) to get this batch's near-dup matches.
    2. Map each matched partner to its CURRENT anchor from the
       assignment log (a matched doc with no assignment yet — an
       in-batch partner — anchors on itself).
    3. Run the pointer-doubled closure over the BATCH-SCOPE graph
       (batch ids x matched anchors — pairs-sized, never corpus):
       one batch can transitively bridge several existing clusters,
       and old anchors are exactly the minima of their clusters, so
       the group minimum IS the merged cluster's true min-id anchor.
    4. Append one assignment row per batch doc — (doc, anchor,
       split_of(anchor), moved, anchor_changed) with the x179/x26 md5
       arithmetic — plus one UPDATE row for every existing doc whose
       cluster was absorbed into a smaller anchor (anchor_changed =
       true).  Anchors therefore only ever DECREASE for a given doc
       (min over a growing merge set — the monotonicity invariant the
       test pins), and the final state equals the one-shot batch
       x179 assignment over the full corpus regardless of batch
       order.

    Scale shape: per-batch cost is band joins + a closure bounded by
    the batch's match graph; the update scan joins the assignment
    view on the ANCHOR key (anchors are cluster-sized, well-spread).
    Nothing re-reads corpus text and nothing is O(corpus) per batch
    except the assignment-view read, which is the same merged-log
    read every other incremental view pays."""
    from ..operators.curation import split_of_id
    from ..operators.dedup import connected_components, incremental_neardup

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        hist = signature_view(spark, history_path, id_col)
        pairs = (
            incremental_neardup(
                batch_df,
                hist,
                text_col=text_col,
                id_col=id_col,
                num_hashes=num_hashes,
                shingle_k=shingle_k,
                min_est_jaccard=min_est_jaccard,
            )
            .filter(F.col("new_id") != F.col("matched_id"))
            .select("new_id", "matched_id")
            .distinct()
        )
        try:
            assigned = _split_assign_view_of(
                _read_log(spark, assign_path), id_col
            ).select(
                F.col(id_col).alias("matched_id"),
                F.col("anchor_id").alias("cur_anchor"),
            )
        except FileNotFoundError:
            assigned = spark.createDataFrame(
                [], f"matched_id long, cur_anchor long"
            )
        edges = pairs.join(assigned, "matched_id", "left").select(
            F.col("new_id").alias("doc_a"),
            F.coalesce(F.col("cur_anchor"), F.col("matched_id")).alias("doc_b"),
        )
        comp = connected_components(edges).localCheckpoint(eager=False)

        batch_ids = batch_df.select(id_col).distinct()
        prev = assigned.select(
            F.col("matched_id").alias(id_col),
            F.col("cur_anchor").alias("prev_anchor"),
        )
        anchor = F.coalesce(F.col("component"), F.col(id_col))
        batch_rows = (
            batch_ids.join(
                comp.select(F.col("id").alias(id_col), "component"), id_col, "left"
            )
            .join(prev, id_col, "left")
            .select(
                F.col(id_col),
                anchor.alias("anchor_id"),
                split_of_id(anchor).alias("split"),
                (split_of_id(anchor) != split_of_id(F.col(id_col))).alias("moved"),
                F.coalesce(
                    F.col("prev_anchor") != anchor, F.lit(False)
                ).alias("anchor_changed"),
            )
        )
        # existing docs whose cluster anchor was absorbed by a smaller
        # one this batch (never the batch's own docs — those already
        # carry their final row above)
        updates = (
            prev.join(
                comp.select(F.col("id").alias("prev_anchor"), "component"),
                "prev_anchor",
            )
            .filter(F.col("component") < F.col("prev_anchor"))
            .join(batch_ids, id_col, "left_anti")
            .select(
                F.col(id_col),
                F.col("component").alias("anchor_id"),
                split_of_id(F.col("component")).alias("split"),
                (
                    split_of_id(F.col("component")) != split_of_id(F.col(id_col))
                ).alias("moved"),
                F.lit(True).alias("anchor_changed"),
            )
        )
        AtomicParquetTable(assign_path).append(
            batch_rows.unionByName(updates).withColumn("__commit", F.lit(batch_id))
        )

    return sink


def _split_assign_view_of(log: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Latest assignment per doc.  Within one commit a doc appears at
    most once (batch rows and update rows are disjoint by the
    left_anti in the sink); across commits the LOWEST anchor is the
    newest (anchors only decrease), so ordering by anchor ascending
    inside the __commit tiebreak makes replayed-then-compacted logs
    resolve identically to live ones."""
    w = W.partitionBy(id_col).orderBy(
        F.col("__commit").desc(), F.col("anchor_id").asc()
    )
    return (
        _drop_replays_behind_watermark(log)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__commit")
    )


def split_stability_view(spark, assign_path: str, id_col: str = "doc_id") -> DataFrame:
    """Current leakage-safe split assignment for every ingested doc:
    (doc, anchor_id, split, moved, anchor_changed) — equal to the
    one-shot batch x179 assignment over everything ingested (pinned by
    test), with ``anchor_changed`` marking docs whose cluster was
    merged into a smaller anchor after first assignment."""
    return _split_assign_view_of(_read_log(spark, assign_path), id_col)


def compact_split_assignments(
    spark, assign_path: str, quiesced: bool = True
) -> None:
    """Fold the assignment log to one row per document; same
    quiesced/online contract as the other compactors."""
    _compact(spark, assign_path, _split_assign_view_of, quiesced)


# --------------------------------------------- incremental bitext mining

def make_bitext_candidate_sink(
    cand_path: str,
    emb_path: str,
    tables: list[list[list[int]]],
    src_lang: str,
    tgt_lang: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lang_col: str = "lang",
):
    """Streaming twin of x183/x185 (bitext mining), candidate-log
    form: margins depend on k-NN neighborhood MEANS that change
    retroactively as the corpus grows, so the margin itself cannot be
    maintained row-incrementally — but the CANDIDATE SET can: a
    cross-language pair is discovered exactly once, when its later
    endpoint arrives (new-src x all-tgt plus new-tgt x old-src — the
    same later-endpoint contract as the signature history), so the
    union of per-batch candidates equals the one-shot batch candidate
    set regardless of batch order.  ``bitext_stream_view`` then
    re-derives neighborhoods and margins over the merged log through
    the SAME core the batch miner uses
    (``bitext_margin_from_candidates``) — bit-equal to batch x183/x185
    by construction (pinned by test).

    Per batch: O(batch x matched buckets) join work + one read of the
    merged embedding log (the prep side is the persisted artifact,
    ~(dim+3) values per vector — the corpus itself is never re-read;
    same cost class as the other incremental views).  Both logs get
    the house contract: per-commit replay dedup, atomic appends,
    online compaction."""
    from ..operators.similarity import (
        bitext_candidates_between,
        bitext_prep_frame,
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        prep = bitext_prep_frame(
            batch_df.filter(F.col(lang_col).isin(src_lang, tgt_lang)),
            tables,
            id_col,
            vec_col,
            lang_col,
        ).localCheckpoint(eager=False)
        try:
            old = _bitext_emb_view_of(_read_log(spark, emb_path))
        except FileNotFoundError:
            old = spark.createDataFrame(
                [],
                "id long, l string, v array<double>, n double, "
                "buckets array<long>",
            )
        new_s = prep.filter(F.col("l") == src_lang)
        new_t = prep.filter(F.col("l") == tgt_lang)
        old_s = old.filter(F.col("l") == src_lang)
        all_t = old.filter(F.col("l") == tgt_lang).unionByName(new_t)
        cand = bitext_candidates_between(new_s, all_t).unionByName(
            bitext_candidates_between(old_s, new_t)
        )
        AtomicParquetTable(cand_path).append(
            cand.withColumn("__commit", F.lit(batch_id))
        )
        AtomicParquetTable(emb_path).append(
            prep.withColumn("__commit", F.lit(batch_id))
        )

    return sink


def _bitext_emb_view_of(log: DataFrame) -> DataFrame:
    return (
        _drop_replays_behind_watermark(log)
        .dropDuplicates(["__commit", "id"])
        .select("id", "l", "v", "n", "buckets")
        .dropDuplicates(["id"])
    )


def _bitext_cand_view_of(log: DataFrame) -> DataFrame:
    return (
        _drop_replays_behind_watermark(log)
        .dropDuplicates(["__commit", "sid", "tid"])
        .select("sid", "tid", "cos", "cq")
        .dropDuplicates(["sid", "tid"])
    )


def bitext_stream_view(
    spark,
    cand_path: str,
    knn_k: int = 8,
    margin_threshold: float = 1.05,
    mutual_best: bool = False,
) -> DataFrame:
    """Current mined bitext pairs over everything ingested — margins
    and (optionally) the mutual-best alignment recomputed over the
    merged candidate log through the batch miner's own core, so the
    view is bit-equal to running x183/x185 on the full corpus."""
    from ..operators.similarity import bitext_margin_from_candidates

    return bitext_margin_from_candidates(
        _bitext_cand_view_of(_read_log(spark, cand_path)),
        knn_k=knn_k,
        margin_threshold=margin_threshold,
        mutual_best=mutual_best,
    )


def compact_bitext_candidates(spark, cand_path: str, quiesced: bool = True) -> None:
    """Fold the candidate log to one row per pair; house contract."""
    _compact(spark, cand_path, _bitext_cand_view_of, quiesced)


def compact_bitext_embeddings(spark, emb_path: str, quiesced: bool = True) -> None:
    """Fold the embedding prep log to one row per vector."""
    _compact(spark, emb_path, _bitext_emb_view_of, quiesced)


# --------------------------------------- continuous trigram-LM counts

def make_trigram_counts_sink(path: str, text_col: str = "text", id_col: str = "doc_id"):
    """Continuously-maintained trigram-LM count state — the x184
    family's wordfreq-sink analogue: each batch appends its three tier
    count PARTIALS (trigram types with their tier keys, bigram-tail
    counts, unigram-tail counts), all sum-mergeable, so the model
    derived from the merged store is BIT-EQUAL to batch training over
    every document ever ingested (the ctx12/ctx2/scalar tables are
    deterministic functions of the folded tiers, exactly as in
    _trigram_model_tables).  State is bounded by the distinct-n-gram
    vocabulary, never the corpus.  House append-exactly-once
    contract on all three sub-logs."""
    from ..operators.curation import _trigram_model_tables

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        narrow, tgc, _, bgc, _, unic, _ = _trigram_model_tables(
            batch_df, id_col, text_col
        )
        AtomicParquetTable(f"{path}/tgc").append(
            tgc.withColumn("__commit", F.lit(batch_id))
        )
        AtomicParquetTable(f"{path}/bgc").append(
            bgc.withColumn("__commit", F.lit(batch_id))
        )
        AtomicParquetTable(f"{path}/unic").append(
            unic.withColumn("__commit", F.lit(batch_id))
        )
        narrow.unpersist()

    return sink


def _trigram_tgc_of(log: DataFrame) -> DataFrame:
    return (
        _drop_replays_behind_watermark(log)
        .dropDuplicates(["__commit", "tg_h"])
        .groupBy("tg_h")
        .agg(
            F.sum("c3").cast("long").alias("c3"),
            F.min("c12_h").alias("c12_h"),
            F.min("b23_h").alias("b23_h"),
            F.min("w3_h").alias("w3_h"),
        )
    )


def _trigram_bgc_of(log: DataFrame) -> DataFrame:
    return (
        _drop_replays_behind_watermark(log)
        .dropDuplicates(["__commit", "b23_h"])
        .groupBy("b23_h")
        .agg(
            F.sum("c2b").cast("long").alias("c2b"),
            F.min("w2_h").alias("w2_h"),
        )
    )


def _trigram_unic_of(log: DataFrame) -> DataFrame:
    return (
        _drop_replays_behind_watermark(log)
        .dropDuplicates(["__commit", "w3_h"])
        .groupBy("w3_h")
        .agg(F.sum("c1w").cast("long").alias("c1w"))
    )


def trigram_stream_score(
    spark,
    path: str,
    batch: DataFrame,
    k_smooth: float = 0.5,
    lambdas: tuple[float, float, float] = (0.6, 0.3, 0.1),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score any frame against the CONTINUOUSLY-trained trigram LM:
    folds the three tier logs, derives contexts and scalars exactly as
    batch training does, and scores through the shared
    score_with_trigram_tables core — scoring the union of ingested
    docs here is bit-equal to x184 over that union (pinned by test)."""
    from ..operators.curation import score_with_trigram_tables

    tgc = _trigram_tgc_of(_read_log(spark, f"{path}/tgc"))
    bgc = _trigram_bgc_of(_read_log(spark, f"{path}/bgc"))
    unic = _trigram_unic_of(_read_log(spark, f"{path}/unic"))
    ctx12 = tgc.groupBy("c12_h").agg(F.sum("c3").alias("c12"))
    ctx2 = bgc.groupBy("w2_h").agg(F.sum("c2b").alias("c2"))
    scalars = (
        ctx12.agg(F.count("*").alias("v3"))
        .crossJoin(ctx2.agg(F.count("*").alias("v2")))
        .crossJoin(unic.agg(F.count("*").alias("v1"), F.sum("c1w").alias("n1")))
    )
    return score_with_trigram_tables(
        batch, tgc, ctx12, bgc, ctx2, unic, scalars,
        k_smooth=k_smooth, lambdas=lambdas, id_col=id_col, text_col=text_col,
    )


def compact_trigram_counts(spark, path: str, quiesced: bool = True) -> None:
    """Fold all three tier logs; counts are valid partials (sums), so
    live appends keep composing after compaction."""
    _compact(spark, f"{path}/tgc", _trigram_tgc_of, quiesced)
    _compact(spark, f"{path}/bgc", _trigram_bgc_of, quiesced)
    _compact(spark, f"{path}/unic", _trigram_unic_of, quiesced)
