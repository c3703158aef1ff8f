"""Idempotent keyed sinks (SURVEY.md §2.1 S5-S9, §4.1 exactly-once).

The reference achieves effective exactly-once with idempotent MongoDB
upserts keyed on (stream_id, chunk_index) (spark_streaming.py:322-337,
463-486; README:563-569).  The engine keeps that design — deterministic
keys + merge — on parquet tables:

- ``make_live_log_sink``: the live path.  The per-chunk metadata is
  a merge-on-read log: ``append_log_upsert`` appends the batch stamped
  with its batch id as one crash-atomic ``txn`` commit, ``latest_view``
  resolves the last row per key at read time, and ``compact_log``
  folds the log back to one row per key when read amplification grows.
- ``append_chunk_objects``: the object-store placeholder writes (S5)
  as an append-only file sink, one file per task with no directory
  fan-out; rows are sorted by ``(stream_id, chunk_index)`` so parquet
  min/max statistics still let a stream filter skip row groups.

Both are safe under checkpoint replay: a replayed batch re-appends the
same rows under the same batch id; ``latest_view`` keeps one row per
key (last-writer-wins on the compound key), and a chunk object's key
names the same object again, as a repeated PUT would.

Every incremental sink after the live path — rollups, sketches,
histograms, indexes and per-document fact logs — is one entry of the
``_LOGS`` table, a ``MergeableLog`` that holds the shared contract
(incremental and exactly-once under replay, the Structured Streaming
sink model) once:

- write: a non-empty micro-batch appends its PARTIAL stamped with the
  batch id as ``__commit``, as one crash-atomic commit; an empty batch
  publishes nothing.  The log is never read on the write path.
- read: drop replays behind the fold watermark the manifest records
  (a literal filter, none when no online compaction ran), deduplicate
  on ``(__commit, keys)`` (a retried foreachBatch recomputes the
  identical partial, so one copy per commit is exactly-once), then
  ``merge`` the partials.
- compact: fold the log to its merged view — itself a valid partial,
  so live appends keep composing — under a pinned-snapshot CAS commit.

The public ``make_*`` / ``*_view`` / ``compact_*`` functions are thin
bindings of those entries; their docstrings say only why the log is
mergeable and what the merged view guarantees.

Every log here, views and sinks alike, is read through ``_read_log``:
one parquet scan over all committed files under the schema the
manifest records, filtered by the fold watermark from the same
manifest read (see ``txn``), so a view's read cost follows the rows in
the log, not the number of commits behind them.
"""


from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from .txn import AtomicParquetTable


def append_chunk_objects(batch_df: DataFrame, path: str) -> None:
    """S5 — the chunk 'objects' as an append-only sink; the object key
    is carried as a column (functions/scalars.chunk_object_key), so the
    reference's {stream_id}/{quality}/{chunk_index}.ts keyspace lives
    in the data, not in the directory tree.

    Each task writes ONE file: no reader prunes chunk objects by
    directory, so a directory per key range would only multiply the
    files each micro-batch writes.  Rows are sorted within each task by
    ``(stream_id, chunk_index)`` so a stream filter still skips row
    groups by their min/max statistics."""
    (
        batch_df.sortWithinPartitions("stream_id", "chunk_index")
        .write.mode("append")
        .parquet(path)
    )


# ----------------------------------------------------- merge-on-read log

def append_log_upsert(batch_df: DataFrame, table_path: str, batch_id: int) -> None:
    """Merge-on-read upsert: O(batch) append of the rows stamped with
    the commit id — no read-modify-write on the hot path (the
    Hudi-MOR/Delta-CDF shape).  Readers resolve the latest row per key
    via ``latest_view``; ``compact_log`` folds the log back to one row
    per key when read amplification grows.  The append itself is a
    crash-atomic ``AtomicParquetTable`` commit: files written by a
    dying batch are invisible until the manifest rename lands."""
    AtomicParquetTable(table_path).append(
        batch_df.withColumn("__commit", F.lit(batch_id))
    )


def _read_log(
    spark, table_path: str, empty: str | None = None
) -> tuple[int, DataFrame, int]:
    """The one reader of every log here: ``(version, rows, fold
    watermark)`` of its latest commit (``txn``'s snapshot).  A batch the
    stream replays after an online compaction folded its first copy
    re-appends under its ORIGINAL id <= the watermark, where per-commit
    dedup can no longer drop it; this literal filter does (none at -1).
    With nothing committed, ``empty`` (a DDL schema) gives an empty log;
    without it the read raises FileNotFoundError."""
    version, log, wm = AtomicParquetTable(table_path).snapshot(spark)
    if log is None:
        if empty is None:
            raise FileNotFoundError(f"no committed version at {table_path}")
        log = spark.createDataFrame([], empty)
    if wm >= 0:
        log = log.filter((F.col("__commit") < 0) | (F.col("__commit") > wm))
    return version, log, wm


def _compact(spark, table_path: str, fold_of, quiesced: bool) -> None:
    """Shared compaction driver: resolve ONE version, fold exactly that
    snapshot with its rows stamped ``__commit = -1``, and publish with
    compare-and-swap at version+1.  The new fold watermark is -1 when
    ``quiesced`` (a stream restarted on a FRESH checkpoint replays from
    id 0); online, the larger of the previous one and the highest live
    batch id folded, so ``_read_log`` drops a replayed uncheckpointed
    batch while later batches merge.

    The CAS is what makes online compaction sound: without it, a batch
    the live stream commits between the fold's read and the overwrite
    would be silently dropped (the new manifest references only the
    folded files), and a batch appended between two independent reads
    could be folded yet excluded from the watermark — re-admitting its
    replay.  With the pinned snapshot neither interleaving exists, and
    a concurrent commit surfaces as txn.ConcurrentWriteError with the
    table untouched — the caller simply re-runs compaction."""
    version, log, wm = _read_log(spark, table_path)
    if quiesced:
        wm = -1
    else:
        wm = max(wm, log.agg(F.coalesce(F.max("__commit"), F.lit(-1))).first()[0])
    table = AtomicParquetTable(table_path)
    folded = fold_of(log).withColumn("__commit", F.lit(-1))
    table.overwrite(folded, expect_version=version, fold_watermark=wm)
    table.vacuum(spark)


def _latest_view_of(
    log: DataFrame, keys: list[str], order_col: str | None = None
) -> DataFrame:
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
    are dropped by the manifest's fold watermark (see ``_read_log``)."""
    return _latest_view_of(_read_log(spark, table_path)[1], keys, order_col)


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
    requirement for a LIVE stream: the fold records the highest batch
    id it absorbed as the manifest's fold watermark, and every read
    drops replays behind it.  Fold, watermark, and publish all pin ONE
    snapshot with a CAS commit (see ``_compact``)."""
    _compact(
        spark,
        table_path,
        lambda log: _latest_view_of(log, keys, order_col),
        quiesced,
    )


def make_live_log_sink(metadata_path: str, chunks_path: str):
    """The live-path sink (reference process_live_batch,
    spark_streaming.py:519-539, minus the collect()): merge-on-read
    log, so the per-batch work is two appends — constant in table
    size, linear in batch size — and the metadata append is a
    crash-atomic commit.  The
    chunk-object append stays a plain file append by design: it models
    per-object PUTs (each object is atomic on its own, reference
    spark_streaming.py:300-320), not a table mutation."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_df = batch_df.persist()
        try:
            append_log_upsert(batch_df, metadata_path, batch_id)
            append_chunk_objects(
                batch_df.select("stream_id", "chunk_index", "chunk_path", "size_bytes"),
                chunks_path,
            )
        finally:
            batch_df.unpersist()

    return sink


# --------------------------------------------------------- mergeable logs

def _nonempty(body):
    """The one emptiness guard of every mergeable-log sink: an empty
    micro-batch publishes no commit, so no reader ever scans an empty
    version (one cheap ``isEmpty`` job per batch)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        body(batch_df, batch_id)

    return sink


class MergeableLog:
    """One append log of mergeable partials (module-internal; the public
    names below bind the ``_LOGS`` entries).

    ``keys`` are the columns a partial row is unique on within one
    commit — a list, or a function of the log's columns for logs keyed
    by their own schema; ``keyed(*cols)`` prefixes caller-chosen key
    columns.  ``merge(deduped, keys, **params)`` folds the deduplicated
    partials into the view."""

    def __init__(self, keys, merge):
        self.keys = keys
        self.merge = merge

    def keyed(self, *cols: str) -> "MergeableLog":
        return MergeableLog([*cols, *self.keys], self.merge)

    def append(self, df: DataFrame, path: str, batch_id: int) -> None:
        """Crash-atomic append of ``df`` stamped with its commit id."""
        AtomicParquetTable(path).append(df.withColumn("__commit", F.lit(batch_id)))

    def sink(self, path: str, partial):
        """foreachBatch body appending ``partial(batch_df)``."""
        return _nonempty(
            lambda batch_df, batch_id: self.append(partial(batch_df), path, batch_id)
        )

    def view_of(self, log: DataFrame, **params) -> DataFrame:
        keys = self.keys(log.columns) if callable(self.keys) else self.keys
        deduped = log.dropDuplicates(["__commit", *keys])
        return self.merge(deduped, keys, **params)

    def view(self, spark, path: str, **params) -> DataFrame:
        return self.view_of(_read_log(spark, path)[1], **params)

    def compact(self, spark, path: str, quiesced: bool = True, **params) -> None:
        """Fold the log to its merged view; atomic overwrite, a crash
        leaves the uncompacted log intact (pinned-snapshot CAS in
        ``_compact``).

        ``quiesced=True`` stamps folded rows ``__commit=-1``: batch ids
        are always >= 0, so a stream restarted on a FRESH checkpoint can
        never collide with folded history.  It needs a quiesced,
        fully-checkpointed log — a folded but uncheckpointed batch loses
        its commit identity and its replay would double-count.
        ``quiesced=False`` is safe UNDER a live stream instead: the fold
        records the manifest's fold watermark and every read drops
        replays behind it (``_read_log``).  Run one quiesced fold before
        restarting on a fresh checkpoint."""
        _compact(spark, path, lambda log: self.view_of(log, **params), quiesced)


def _total(col: str):
    return F.sum(col).cast("long").alias(col)


def _folded(*values):
    """Merge that groups the deduplicated partials by the keys and folds
    each value column: a bare name is its BIGINT sum, ``(fn, name)`` is
    ``fn(name)`` — min, max, bit_or, bit_xor."""

    def fold(v):
        return _total(v) if isinstance(v, str) else v[0](v[1]).alias(v[1])

    def merge(d: DataFrame, keys: list[str]) -> DataFrame:
        return d.groupBy(*keys).agg(*map(fold, values))

    return merge


def _ratio(num: str, den: str, digits: int):
    """``num / den`` as doubles, rounded the way the batch reports round."""
    return F.round(
        F.col(num).cast("double") / F.col(den).cast("double") + F.lit(1e-9), digits
    )


def _distinct(d: DataFrame, keys: list[str]) -> DataFrame:
    return d.select(*keys).distinct()


def _projected(*cols: str):
    """Merge for per-document fact logs: no cross-batch merging, only
    the replay dedup."""
    return lambda d, keys: d.select(*cols)


def _merge_index(d: DataFrame, keys: list[str]) -> DataFrame:
    return d.groupBy(*keys).agg(
        _total("df"),
        F.array_sort(F.flatten(F.collect_list("postings"))).alias("postings"),
    )


def _merge_dd(d: DataFrame, keys: list[str]) -> DataFrame:
    if "sgn" not in d.columns:
        # state-format migration: sketch logs persisted before the
        # mirrored negative store carried only positive buckets, with
        # the exact-zero bucket encoded as bucket NULL — derive the
        # sgn column on read so old stores keep working (they never
        # held negative values, so sgn=1/0 reconstructs them exactly)
        d = d.withColumn(
            "sgn", F.when(F.col("bucket").isNotNull(), F.lit(1)).otherwise(F.lit(0))
        )
    groups = [c for c in keys if c not in ("sgn", "bucket")]
    return d.groupBy(*groups, "sgn", "bucket").agg(_total("cnt"))


def _bottom_k(d: DataFrame, keys: list[str], k: int) -> DataFrame:
    w = W.partitionBy(*keys[:-1]).orderBy("h")
    return (
        _distinct(d, keys)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def _top_priority(d: DataFrame, keys: list[str], k: int) -> DataFrame:
    # priorities are a pure function of doc id, so identical rows from
    # replays OR genuine re-ingestions collapse under the id dedup
    return (
        d.dropDuplicates(keys)
        .drop("__commit")
        .orderBy(F.col("priority").desc(), F.col(keys[0]))
        .limit(k + 1)
    )


def _latest_anchor(d: DataFrame, keys: list[str]) -> DataFrame:
    """Latest assignment per doc.  Within one commit a doc appears at
    most once (batch rows and update rows are disjoint by the
    left_anti in the sink); across commits the LOWEST anchor is the
    newest (anchors only decrease), so ordering by anchor ascending
    inside the __commit tiebreak makes replayed-then-compacted logs
    resolve identically to live ones."""
    w = W.partitionBy(keys[0]).orderBy(
        F.col("__commit").desc(), F.col("anchor_id").asc()
    )
    return (
        d.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__commit")
    )


# Every mergeable log in the module.  Entries with empty or partial
# keys are completed per call with ``keyed`` (caller-chosen key columns).
_LOGS: dict[str, MergeableLog] = {
    "rollup": MergeableLog(["bucket"], _folded("n_events", "value_sum")),
    "index": MergeableLog(["term"], _merge_index),
    "ivf": MergeableLog(
        ["neighbor_id"],
        lambda d, keys: _latest_view_of(d, keys).select("cell", "neighbor_id", "v"),
    ),
    "cms": MergeableLog(["depth", "slot"], _folded("cnt")),
    "hh_candidates": MergeableLog([], _distinct),
    "hll": MergeableLog(["bucket"], _folded((F.max, "rho"))),
    "kmv": MergeableLog(["h"], _bottom_k),
    "datasheet": MergeableLog(
        ["source"], _folded("n_docs", "total_tokens", "hi_q_docs", "en_docs")
    ),
    # keys are the log's own columns: sketch keys, sgn (absent in the
    # pre-sgn format) and bucket
    "dd": MergeableLog(
        lambda cols: [c for c in cols if c not in ("cnt", "__commit")], _merge_dd
    ),
    "seasonal": MergeableLog(["h", "t"], _folded("cnt")),
    "signature": MergeableLog([], lambda d, keys: d.select(*keys, "sig")),
    "window_hash": MergeableLog(["h"], _distinct),
    "substring_clean": MergeableLog([], lambda d, keys: d.drop("__commit")),
    "bloom": MergeableLog(["word"], _folded((F.bit_or, "bits"))),
    "curation_yield": MergeableLog(
        ["stage"], _folded("docs_in", "docs_removed", "docs_out")
    ),
    "manifest": MergeableLog(
        ["shard_id"],
        _folded(
            "n_docs", "n_tokens", "n_chars", (F.min, "min_doc_id"),
            (F.max, "max_doc_id"), (F.bit_xor, "checksum_xor"), "checksum_sum",
        ),
    ),
    "priority_sample": MergeableLog([], _top_priority),
    "bootstrap": MergeableLog(["grp", "b"], _folded("sum_m", "sum_mv")),
    "gini": MergeableLog(["grp", "weight"], _folded("cnt")),
    "term_histogram": MergeableLog(["src", "term"], _folded("cnt")),
    "length_histogram": MergeableLog(["src", "len"], _folded("cnt")),
    "privacy": MergeableLog([], _folded("n")),
    "classifier_tokens": MergeableLog(["label", "tok"], _folded("c")),
    "classifier_docs": MergeableLog(["label"], _folded("n")),
    "fertility": MergeableLog(
        ["grp"], _folded("n_docs", "n_words", "n_tokens", "n_bytes", "n_chars")
    ),
    "pii": MergeableLog(["src"], _folded("n_docs", "n_pii_docs")),
    "embedding_health": MergeableLog(["dim"], _folded("n", "sv", "svv", "n_near_zero")),
    "conformal": MergeableLog(["is_cal", "q"], _folded("nk")),
    "retrieval_eval": MergeableLog(
        ["d", "term"], _projected("d", "rel", "dl", "term", "tf")
    ),
    "wordfreq": MergeableLog(["w"], _folded("freq")),
    "semantic_decontam": MergeableLog(
        ["vec_id"],
        _projected("vec_id", "max_eval_cosine", "matched_eval_id", "is_contaminated"),
    ),
    # split and moved are functions of (doc, anchor): whole-row dedup
    "split_assign": MergeableLog(["anchor_id", "anchor_changed"], _latest_anchor),
    "bitext_embeddings": MergeableLog(
        ["id"],
        lambda d, keys: d.select("id", "l", "v", "n", "buckets").dropDuplicates(keys),
    ),
    "bitext_candidates": MergeableLog(
        ["sid", "tid"],
        lambda d, keys: d.select("sid", "tid", "cos", "cq").dropDuplicates(keys),
    ),
    "trigram_tgc": MergeableLog(
        ["tg_h"], _folded("c3", (F.min, "c12_h"), (F.min, "b23_h"), (F.min, "w3_h"))
    ),
    "trigram_bgc": MergeableLog(["b23_h"], _folded("c2b", (F.min, "w2_h"))),
    "trigram_unic": MergeableLog(["w3_h"], _folded("c1w")),
}


# ---------------------------------------------------- incremental rollup

def make_rollup_sink(
    rollup_path: str, key_cols: list[str], time_col: str = "event_ts",
    value_col: str = "size_bytes", window: str = "1 hour",
):
    """Incrementally-maintained aggregate table (the streaming
    materialized-view pattern): each micro-batch appends its partial
    per-(key, bucket) count + sum — both additive, so the merged
    ``rollup_view`` equals the batch aggregate over all data."""

    def partial(batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.groupBy(*key_cols, F.window(time_col, window).alias("__w"))
            .agg(
                F.count("*").alias("n_events"),
                F.sum(value_col).alias("value_sum"),
            )
            .select(
                *key_cols, F.col("__w.start").alias("bucket"), "n_events", "value_sum"
            )
        )

    return _LOGS["rollup"].sink(rollup_path, partial)


def rollup_view(spark, rollup_path: str, key_cols: list[str]) -> DataFrame:
    """Merged rollup: the partial aggregates summed per (key, bucket)."""
    return _LOGS["rollup"].keyed(*key_cols).view(spark, rollup_path)


def compact_rollup(
    spark, rollup_path: str, key_cols: list[str], quiesced: bool = True
) -> None:
    _LOGS["rollup"].keyed(*key_cols).compact(spark, rollup_path, quiesced)


# ------------------------------------------------ incremental inverted index

def make_index_sink(
    index_path: str, text_col: str = "text", id_col: str = "doc_id",
    min_token_len: int = 3,
):
    """Incrementally-maintained inverted index: each micro-batch
    appends its partial per-term (df, postings) rows — dfs sum and
    posting lists concatenate, so both are mergeable.

    Assumes each document arrives in exactly one batch (an append-only
    corpus stream); upstream dedup handles re-crawls."""
    from ..operators.retrieval import inverted_index

    return _LOGS["index"].sink(
        index_path,
        lambda batch_df: inverted_index(
            batch_df, text_col=text_col, id_col=id_col, min_token_len=min_token_len
        ).select("term", "df", "postings"),
    )


def index_view(spark, index_path: str, max_postings: int | None = None) -> DataFrame:
    """Merged inverted index: summed dfs, concatenated + sorted posting
    lists.  ``max_postings`` applies the same stopword truncation cap
    as operators.retrieval.inverted_index, with df staying exact; the
    output schema matches inverted_index exactly."""
    merged = _LOGS["index"].view(spark, index_path)
    if max_postings is not None:
        return merged.select(
            "term",
            "df",
            F.slice("postings", 1, max_postings).alias("postings"),
            (F.col("df") > max_postings).alias("postings_truncated"),
        )
    return merged.withColumn("postings_truncated", F.lit(False))


def compact_index(spark, index_path: str, quiesced: bool = True) -> None:
    _LOGS["index"].compact(spark, index_path, quiesced)


# ------------------------------------------------ incremental IVF ANN index

def make_ivf_sink(index_path: str, id_col: str = "vec_id", vec_col: str = "embedding"):
    """Incrementally-maintained IVF postings: centroids are FIXED at
    build time (``operators.similarity.ivf_index_build`` writes them to
    ``{index_path}/centroids``; retraining is an offline rebuild, as in
    every production IVF system), so each micro-batch assigns its
    vectors with the broadcast argmax (shuffle-free) and appends
    (cell, neighbor_id, v) rows — per-vector facts that union to the
    one-shot assignment."""
    from ..operators.similarity import _as_double, nearest_cells

    def partial(batch_df: DataFrame) -> DataFrame:
        cents = batch_df.sparkSession.read.parquet(f"{index_path}/centroids")
        c = batch_df.select(
            F.col(id_col).alias("neighbor_id"),
            _as_double(F.col(vec_col)).alias("v"),
        )
        return nearest_cells(c, cents, 1, "cell")

    return _LOGS["ivf"].sink(f"{index_path}/postings_log", partial)


def ivf_stream_view(spark, index_path: str) -> DataFrame:
    """Merged streaming postings: the newest (cell, neighbor_id, v)
    posting per vector — a vector re-sent in a later batch replaces its
    old posting — the frame ``ivf_search_postings`` scores against."""
    return _LOGS["ivf"].view(spark, f"{index_path}/postings_log")


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
    _LOGS["ivf"].compact(spark, f"{index_path}/postings_log", quiesced)


# ------------------------------------------- incremental count-min sketch

def make_cms_sink(sketch_path: str, term_col: str = "term"):
    """Incrementally-maintained count-min sketch: each micro-batch
    appends its partial counter matrix — depth*width rows regardless of
    batch size, cell-wise additive, so the merged sketch equals the
    batch-built sketch over all data (count-min is exactly mergeable)."""
    from ..operators.sketches import cms_build

    return _LOGS["cms"].sink(
        sketch_path, lambda batch_df: cms_build(batch_df, term_col)
    )


def cms_view(spark, sketch_path: str) -> DataFrame:
    """Merged sketch — feed to operators.sketches.cms_estimate."""
    return _LOGS["cms"].view(spark, sketch_path)


def compact_cms(spark, sketch_path: str, quiesced: bool = True) -> None:
    _LOGS["cms"].compact(spark, sketch_path, quiesced)


# -------------------------------------------- streaming heavy hitters

def make_heavy_hitters_sink(
    path: str, term_col: str = "term", candidates_per_batch: int = 32,
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
    tracking (tested in test_streaming.py)."""
    from ..operators.sketches import cms_build

    @_nonempty
    def sink(batch_df: DataFrame, batch_id: int) -> None:
        _LOGS["cms"].append(cms_build(batch_df, term_col), f"{path}/cms", batch_id)
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
        _LOGS["hh_candidates"].append(top, f"{path}/cands", batch_id)

    return sink


def heavy_hitters_view(
    spark, path: str, k: int = 20, term_col: str = "term"
) -> DataFrame:
    """Current top-k: estimate every logged candidate against the
    merged sketch, rank by estimate.  Touches only the candidate set
    and the 1024-cell sketch — no raw data."""
    from ..operators.sketches import cms_estimate

    cands = _LOGS["hh_candidates"].keyed(term_col).view(spark, f"{path}/cands")
    est = cms_estimate(cms_view(spark, f"{path}/cms"), cands)
    return est.orderBy(F.desc("cms_estimate"), F.asc(term_col)).limit(k)


def compact_heavy_hitters(
    spark, path: str, quiesced: bool = True, term_col: str = "term"
) -> None:
    """Compact both logs: fold the sketch cell-wise and the candidate
    log to its distinct terms."""
    compact_cms(spark, f"{path}/cms", quiesced)
    _LOGS["hh_candidates"].keyed(term_col).compact(spark, f"{path}/cands", quiesced)


# ------------------------------------ incremental portable HLL registers

def make_hll_sink(sketch_path: str, keys: list[str], col: str):
    """Incrementally-maintained portable HLL (streaming distinct
    counts): each micro-batch appends its partial (keys..., bucket,
    rho) registers — at most |keys| x 256 rows regardless of batch
    size.  HLL union is the element-wise register MAX, which is not
    just mergeable but IDEMPOTENT — a replayed batch cannot inflate
    the estimate even without commit dedup.  Estimates come from
    operators.sketches.hll_portable_estimate over the merged view,
    identical to the batch-built sketch (the x89 mergeability law)."""
    from ..operators.sketches import hll_portable_registers

    return _LOGS["hll"].sink(
        sketch_path, lambda batch_df: hll_portable_registers(batch_df, keys, col)
    )


def hll_stream_view(spark, sketch_path: str, keys: list[str]) -> DataFrame:
    """Merged registers, max(rho) per (keys, bucket) — feed to
    operators.sketches.hll_portable_estimate."""
    return _LOGS["hll"].keyed(*keys).view(spark, sketch_path)


def compact_hll(spark, sketch_path: str, keys: list[str], quiesced: bool = True) -> None:
    _LOGS["hll"].keyed(*keys).compact(spark, sketch_path, quiesced)


def make_kmv_sink(sketch_path: str, keys: list[str], col: str, k: int = 64):
    """Incrementally-maintained per-group KMV distinct sketches — the
    streaming twin of operators.sketches.kmv_sketch_by and the input
    x97's source-overlap matrix consumes.  Each micro-batch appends
    its per-group bottom-k distinct hash rows: at most |groups| x k
    rows regardless of batch size.  KMV union is the k smallest of
    the union — min-like, hence IDEMPOTENT under replay exactly like
    HLL's register max."""
    from ..operators.sketches import kmv_partial_rows

    return _LOGS["kmv"].sink(
        sketch_path, lambda batch_df: kmv_partial_rows(batch_df, keys, F.col(col), k)
    )


def kmv_stream_view(spark, sketch_path: str, keys: list[str], k: int = 64) -> DataFrame:
    """Merged per-group sketch arrays, identical to the batch-built
    kmv_sketch_by over all data ever logged — feed straight to
    kmv_overlap_matrix for the continuously-maintained source-overlap
    report."""
    rows = _LOGS["kmv"].keyed(*keys).view(spark, sketch_path, k=k)
    return rows.groupBy(*keys).agg(F.array_sort(F.collect_list("h")).alias("kmv"))


def compact_kmv(
    spark, sketch_path: str, keys: list[str], k: int = 64, quiesced: bool = True
) -> None:
    """Fold the hash log to the current per-group bottom-k rows."""
    _LOGS["kmv"].keyed(*keys).compact(spark, sketch_path, quiesced, k=k)


# ---------------------------------------- streaming corpus datasheet

def make_datasheet_sink(path: str):
    """Continuously-maintained per-source corpus datasheet (the
    streaming twin of x93): each document batch appends (a) its
    per-source integer partials — doc/token/quality/language counts,
    all sum-mergeable — and (b) portable-HLL registers of the exact
    md5 fingerprints, because distinct-count is NOT sum-mergeable and
    at 100 TB the fingerprint set cannot be kept; the register sketch
    is the standard fix.  Both logs are bounded per batch (sources x
    1 row; sources x 256 registers)."""
    from ..operators.sketches import hll_portable_registers
    from ..operators.text import fingerprint

    @_nonempty
    def sink(batch_df: DataFrame, batch_id: int) -> None:
        t = F.col("text")
        per = batch_df.select("source", *_doc_stats(t), fingerprint(t).alias("__fp"))
        sums = _LOGS["datasheet"].merge(per.drop("__fp"), ["source"])
        _LOGS["datasheet"].append(sums, f"{path}/sums", batch_id)
        fps = hll_portable_registers(per.select("source", "__fp"), ["source"], "__fp")
        _LOGS["hll"].append(fps, f"{path}/fps", batch_id)

    return sink


def _doc_stats(t):
    """One document as a one-row partial of the datasheet sums."""
    from ..operators import text as tx

    return (
        F.lit(1).alias("n_docs"),
        tx.token_count(t).alias("total_tokens"),
        (tx.quality_score(t) >= 0.9).cast("long").alias("hi_q_docs"),
        (tx.lang_id(t) == "en").cast("long").alias("en_docs"),
    )


def datasheet_view(spark, path: str) -> DataFrame:
    """Current datasheet: merged integer partials + HLL distinct
    fingerprints -> rates and an approximate duplicate rate per
    source.  Touches only the two small logs, never raw documents."""
    from ..operators.sketches import hll_portable_estimate

    sums = _LOGS["datasheet"].view(spark, f"{path}/sums")
    fps = hll_portable_estimate(
        hll_stream_view(spark, f"{path}/fps", ["source"]), ["source"]
    ).select("source", F.col("approx_distinct").alias("approx_distinct_fps"))
    n = F.col("n_docs").cast("double")
    return sums.join(fps, "source").select(
        "source",
        "n_docs",
        "total_tokens",
        _ratio("total_tokens", "n_docs", 4).alias("mean_tokens"),
        _ratio("hi_q_docs", "n_docs", 4).alias("hi_quality_rate"),
        _ratio("en_docs", "n_docs", 4).alias("en_rate"),
        "approx_distinct_fps",
        F.round(
            F.greatest(F.lit(0.0), F.lit(1.0) - F.col("approx_distinct_fps") / n)
            + F.lit(1e-9),
            4,
        ).alias("dup_rate_est"),
    )


def compact_datasheet(spark, path: str, quiesced: bool = True) -> None:
    """Fold both datasheet logs."""
    _LOGS["datasheet"].compact(spark, f"{path}/sums", quiesced)
    compact_hll(spark, f"{path}/fps", ["source"], quiesced)


# ------------------------------------ incremental ddsketch quantiles

def make_dd_sink(sketch_path: str, value_col: str, keys: list[str] | None = None):
    """Incrementally-maintained DDSketch (streaming values → quantile
    oracle with a relative-error guarantee): each micro-batch appends
    its partial log-bucket counts — bucket cardinality is log-range-
    sized regardless of batch size, bucket-wise additive, so the
    merged sketch equals the batch-built sketch over all data
    (DDSketch merge is exact).  The streaming answer to "p99 latency
    right now" without ever re-scanning history."""
    from ..operators.sketches import dd_build

    return _LOGS["dd"].sink(
        sketch_path, lambda batch_df: dd_build(batch_df, value_col, keys=keys)
    )


def dd_stream_view(spark, sketch_path: str) -> DataFrame:
    """Merged sketch: bucket-wise sums — feed to
    operators.sketches.dd_quantiles.  Sketch keys are derived from the
    log's own columns (everything that is not sgn/bucket/cnt/__commit),
    so a keyed sketch can never be silently folded without its keys;
    logs written before the sgn column read unchanged."""
    return _LOGS["dd"].view(spark, sketch_path)


def compact_dd(spark, sketch_path: str, quiesced: bool = True) -> None:
    _LOGS["dd"].compact(spark, sketch_path, quiesced)


# ------------------------------------ streaming seasonal anomalies

def make_seasonal_sink(
    counts_path: str, type_col: str = "event_type", time_col: str = "ts"
):
    """Streaming half of the seasonal anomaly detector (the
    reference's continuous-monitoring story — its Grafana thresholds
    watch exactly this kind of per-hour health signal): each
    micro-batch appends its partial per-(type, hour) event counts —
    bucket-wise additive, so the merged state equals the batch-built
    hourly series exactly.

    The sink maintains the SPARSE hourly counts, not the scored
    anomalies: zero-filling needs the global observed range and the
    leave-one-out slot baselines shift with every new hour, so scoring
    happens at read time over the tiny hours x types state, through
    the batch operators' exact plans (``seasonal_view`` and the six
    sibling detectors below)."""

    def partial(batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.groupBy(
                F.col(type_col).alias("t"),
                F.window(time_col, "1 hour").alias("__w"),
            )
            .agg(F.count("*").alias("cnt"))
            .select("t", F.col("__w.start").alias("h"), "cnt")
        )

    return _LOGS["seasonal"].sink(counts_path, partial)


# hour-grid frames the LAST call of each hourly-store view persisted
# (via densify_hourly's tracked_persist), keyed by view name — released
# on that view's next call, so a long-running monitoring loop holds at
# most one read's worth of cached state per view instead of accumulating
# per read (Engine.clear_caches is not reachable from this read path)
_HOURLY_VIEW_FRAMES: dict[str, list[DataFrame]] = {}


def _hourly_view(
    name: str, spark, counts_path: str, score, *args, **kwargs
) -> DataFrame:
    """``score(grid, *args, **kwargs)`` — a batch detector's
    ``*_from_dense`` core — over the dense grid of the MERGED hourly-count
    store, so merged-view == batch-operator is a structural guarantee.
    Scope-releases only the frames this view's previous call persisted
    (cache.release), never the ones other readers hold."""
    from .. import cache
    from ..operators.timeseries import densify_hourly

    cache.release(_HOURLY_VIEW_FRAMES.pop(name, []))
    pos = cache.mark()
    grid = densify_hourly(_LOGS["seasonal"].view(spark, counts_path))
    view = score(grid, *args, **kwargs)
    _HOURLY_VIEW_FRAMES[name] = cache.tracked_since(pos)
    return view


def seasonal_view(spark, counts_path: str, z_threshold: float = 2.0) -> DataFrame:
    """Hour-of-day anomalies (leave-one-out scoring), tested with
    planted outage + spike batches."""
    from ..operators.timeseries import seasonal_scores_from_dense as score

    return _hourly_view("seasonal", spark, counts_path, score, z_threshold)



def compact_seasonal(spark, counts_path: str, quiesced: bool = True) -> None:
    _LOGS["seasonal"].compact(spark, counts_path, quiesced)


def robust_view(spark, counts_path: str, z_threshold: float = 3.5) -> DataFrame:
    """Median/MAD robust point outliers over the hourly-count store."""
    from ..operators.timeseries import robust_scores_from_dense as score

    return _hourly_view("robust", spark, counts_path, score, z_threshold)



def cusum_view(
    spark, counts_path: str, slack: float = 0.5, threshold: float = 5.0
) -> DataFrame:
    """CUSUM sustained level shifts over the hourly-count store."""
    from ..operators.timeseries import cusum_scores_from_dense as score

    return _hourly_view("cusum", spark, counts_path, score, slack, threshold)



def dispersion_view(spark, counts_path: str, threshold: float = 1.5) -> DataFrame:
    """Fano-factor burstiness over the hourly-count store."""
    from ..operators.timeseries import dispersion_scores_from_dense as score

    return _hourly_view("dispersion", spark, counts_path, score, threshold)



def trend_view(spark, counts_path: str, z_crit: float = 1.96) -> DataFrame:
    """Mann-Kendall trend + Sen's slope over the hourly-count store."""
    from ..operators.timeseries import mann_kendall_from_dense as score

    return _hourly_view("trend", spark, counts_path, score, z_crit)



def acf_view(spark, counts_path: str, max_lag_hours: int = 24) -> DataFrame:
    """Autocorrelation (periodicity) over the hourly-count store."""
    from ..operators.timeseries import acf_from_dense as score

    return _hourly_view("acf", spark, counts_path, score, max_lag_hours)



def forecast_view(spark, counts_path: str, **hw_kwargs) -> DataFrame:
    """Holt-Winters forecast over the hourly-count store."""
    from ..operators.timeseries import holt_winters_from_dense as score

    return _hourly_view("forecast", spark, counts_path, score, **hw_kwargs)



# --------------------------------------- incremental signature history

def make_signature_sink(
    history_path: str, text_col: str = "text", id_col: str = "doc_id",
    num_hashes: int = 16, shingle_k: int = 3,
):
    """Incrementally-maintained MinHash signature history (streaming
    document ingest → the near-dup matching substrate): each
    micro-batch shingles ONLY its own documents and appends their
    (id, sig) rows — per-document facts, so downstream near-dup checks
    (``neardup_stream_check``) match against ~128-byte signature rows
    instead of re-reading corpus text."""
    from ..operators.dedup import minhash_signatures

    return _LOGS["signature"].sink(
        history_path,
        lambda batch_df: minhash_signatures(
            batch_df, text_col, id_col, num_hashes, shingle_k
        ),
    )


def signature_view(spark, history_path: str, id_col: str = "doc_id") -> DataFrame:
    """Merged signature history — the (id, sig) frame
    ``incremental_neardup`` consumes."""
    return _LOGS["signature"].keyed(id_col).view(spark, history_path)


def neardup_stream_check(
    spark, new_docs: DataFrame, history_path: str, min_est_jaccard: float = 0.5,
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
    _LOGS["signature"].keyed("doc_id").compact(spark, history_path, quiesced)


# ------------------- incremental substring-dedup (window-hash history)

def make_substring_clean_sink(
    history_path: str, clean_path: str, k: int = 8, text_col: str = "text",
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
    cleaned rows.  Once an online compaction has folded a batch's
    hashes, that exclusion can no longer see them; but its cleaned rows
    were appended before its hashes, so they are already committed and
    a replay at or behind the history's fold watermark is skipped.
    The frames the clean step persists are released when the call
    ends — only those, never other readers' caches."""
    from .. import cache
    from ..operators.dedup import (
        _window_occurrences,
        incremental_substring_clean,
    )

    @_nonempty
    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        _, log, wm = _read_log(spark, history_path, "h bigint, __commit bigint")
        if batch_id <= wm:
            return
        hist = _LOGS["window_hash"].view_of(log.filter(F.col("__commit") != batch_id))
        pos = cache.mark()
        try:
            cleaned = incremental_substring_clean(
                batch_df, hist, k, text_col, id_col
            )
            _LOGS["substring_clean"].append(cleaned, clean_path, batch_id)
            hashes = (
                _window_occurrences(batch_df, k, text_col, id_col)
                .select("h")
                .distinct()
            )
            _LOGS["window_hash"].append(hashes, history_path, batch_id)
        finally:
            cache.release(cache.tracked_since(pos))

    return sink


def window_hash_view(spark, history_path: str) -> DataFrame:
    """Merged distinct window-hash history — the frame
    ``incremental_substring_clean`` consumes."""
    return _LOGS["window_hash"].view(spark, history_path)


def substring_clean_view(spark, clean_path: str, id_col: str = "doc_id") -> DataFrame:
    """Merged cleaned corpus: the streamed x194 output rows."""
    return _LOGS["substring_clean"].keyed(id_col).view(spark, clean_path)


def compact_window_hashes(spark, history_path: str, quiesced: bool = True) -> None:
    _LOGS["window_hash"].compact(spark, history_path, quiesced)


def compact_substring_clean(
    spark, clean_path: str, id_col: str = "doc_id", quiesced: bool = True
) -> None:
    _LOGS["substring_clean"].keyed(id_col).compact(spark, clean_path, quiesced)


# ------------------------------------------- incremental bloom filter

def make_bloom_sink(sketch_path: str, value_col: str):
    """Incrementally-maintained Bloom filter (streaming values → a
    bounded-size membership oracle): each micro-batch appends its
    partial (word, bits) rows — at most bits/63 rows regardless of
    batch size, word-wise OR-mergeable, so the merged filter equals
    the batch-built filter over all data.  The streamed form of the
    decontamination / blocklist screen."""
    from ..operators.sketches import bloom_build

    return _LOGS["bloom"].sink(
        sketch_path, lambda batch_df: bloom_build(batch_df, value_col)
    )


def bloom_stream_view(spark, sketch_path: str) -> DataFrame:
    """Merged filter (word-wise bit_or) — feed through
    operators.sketches.bloom_pack to probe."""
    return _LOGS["bloom"].view(spark, sketch_path)


def compact_bloom(spark, sketch_path: str, quiesced: bool = True) -> None:
    _LOGS["bloom"].compact(spark, sketch_path, quiesced)


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
        _, history, _ = _read_log(
            spark, fingerprint_history_path, "fingerprint string, __commit long"
        )
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
            # accepted fingerprints are unique: an accepted row is its
            # fingerprint's batch-minimum id (``keep``); every history
            # reader dedups the log anyway
            AtomicParquetTable(fingerprint_history_path).append(
                accepted.select("fingerprint", "__commit")
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
    return _read_log(spark, path)[1].dropDuplicates(["__commit", id_col])


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
    replayed batch re-derives byte-identical decisions (test-pinned).
    Every frame the call persists, and the near-dup step's signature
    checkpoint, is released when the call ends."""
    from .. import cache
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
        held = [staged]
        pairs = None
        try:
            quality_pass = staged.filter("keep").select(id_col, text_col)
            n_q = quality_pass.count()

            # tier 2: exact, vs history (excluding own commit) + in-batch
            _, fp_log, _ = _read_log(
                spark, f"{path}/fp", "fingerprint string, __commit long"
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
            held.append(exact_pass)
            n_e = exact_pass.count()

            # tier 3: near-dup, vs signature history (excluding own
            # commit) + in-batch pairs
            _, sig_log, _ = _read_log(
                spark, f"{path}/sig", f"{id_col} long, sig array<bigint>, __commit long"
            )
            from ..operators.dedup import incremental_neardup

            hist_sigs = _LOGS["signature"].keyed(id_col).view_of(
                sig_log.filter(F.col("__commit") != batch_id)
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
            held.append(nd_pass)
            n_n = nd_pass.count()

            # tier 4: decontamination vs the eval gram set
            dc = decontaminate(
                nd_pass, eval_set, gram_k, text_col, id_col, contamination_threshold
            )
            accepted = nd_pass.join(
                dc.filter("contaminated").select(id_col), id_col, "left_anti"
            ).persist()
            held.append(accepted)
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
        finally:
            for frame in held:
                frame.unpersist()
            if pairs is not None:
                cache.release_checkpoints(pairs)

    return sink


def curation_yield_view(spark, path: str) -> DataFrame:
    """Cumulative per-stage funnel from the yield log — the
    continuously-maintained counterpart of x94's one-shot funnel rows."""
    return _LOGS["curation_yield"].view(spark, f"{path}/yield")


def datasheet_drift_view(
    spark, path: str, new_docs: DataFrame, text_col: str = "text",
    rate_drift_threshold: float = 0.1,
) -> DataFrame:
    """Drift of an INCOMING batch against the whole ingested corpus —
    operators.curation.snapshot_drift's columns, but the "old" side
    comes from the streaming datasheet's maintained per-source sums,
    so the history is never rescanned: the check costs one pass over
    the new batch plus the tiny sum log, however much was ingested
    before.  The gate a pipeline puts in front of a suspicious crawl
    drop."""
    names = {
        "n_docs": "n_docs", "total_tokens": "tok", "hi_q_docs": "hi_q", "en_docs": "en"
    }

    def side(sums, suffix):
        return sums.select(
            "source", *(F.col(c).alias(f"{n}_{suffix}") for c, n in names.items())
        )

    old = _LOGS["datasheet"].view(spark, f"{path}/sums")
    new = _LOGS["datasheet"].merge(
        new_docs.select("source", *_doc_stats(F.col(text_col))), ["source"]
    )
    joined = side(old, "old").join(side(new, "new"), "source", "full_outer")
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
    EXACTLY, not approximately.  (checksum_sum headroom: per-doc terms
    are < 1e9+7 and BIGINT holds ~9.2e18, so a shard absorbs ~9e9 docs
    between compactions; production n_shards scales with the corpus,
    keeping per-shard counts far below that.)"""
    from ..operators.curation import shard_manifest

    return _LOGS["manifest"].sink(
        path, lambda batch_df: shard_manifest(batch_df, n_shards=n_shards)
    )


def manifest_stream_view(spark, path: str) -> DataFrame:
    """Current merged manifest — bit-equal to shard_manifest() run
    batch-side over every document ever ingested.  Feed two views (or
    a view and a pinned batch manifest) to operators.curation.
    manifest_diff for incremental re-validation."""
    return _LOGS["manifest"].view(spark, path)


def compact_manifest(spark, path: str, quiesced: bool = True) -> None:
    _LOGS["manifest"].compact(spark, path, quiesced)


def make_priority_sample_sink(path: str, k: int = 100, **candidate_kwargs):
    """Continuously-maintained priority sample (the streaming twin of
    x124): each batch appends its LOCAL top-(k+1) priority candidates
    — any member of the global top-(k+1) is necessarily in its own
    batch's top-(k+1), so the union of candidate logs always contains
    the exact global candidate set and the merged view is BIT-EQUAL
    to batch priority_sample over every document ever ingested.  The
    log grows by at most k+1 rows per batch regardless of batch size."""
    from ..operators.curation import priority_candidates

    return _LOGS["priority_sample"].sink(
        path, lambda batch_df: priority_candidates(batch_df, k, **candidate_kwargs)
    )


def priority_sample_view(
    spark, path: str, k: int = 100, id_col: str = "doc_id"
) -> DataFrame:
    """Current merged priority sample with Horvitz-Thompson weights —
    bit-equal to operators.curation.priority_sample over the union of
    all ingested batches."""
    from ..operators.curation import sample_from_candidates

    cands = _LOGS["priority_sample"].keyed(id_col).view(spark, path, k=k)
    return sample_from_candidates(cands, k, id_col)


def compact_priority_sample(
    spark, path: str, k: int = 100, id_col: str = "doc_id", quiesced: bool = True
) -> None:
    """Fold the candidate log to the current global top-(k+1) rows
    (top-(k+1) of a union that includes them is unchanged)."""
    _LOGS["priority_sample"].keyed(id_col).compact(spark, path, quiesced, k=k)


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

    def partial(batch_df: DataFrame) -> DataFrame:
        rated = batch_df.select(
            kw.get("group_col", "source"),
            kw.get("id_col", "doc_id"),
            value_q.alias("value_q"),
        )
        return bootstrap_partials(rated, n_boot=n_boot, **kw)

    return _LOGS["bootstrap"].sink(path, partial)


def bootstrap_ci_view(spark, path: str, group_col: str = "source") -> DataFrame:
    """Current merged bootstrap CI — bit-equal to
    operators.profile.bootstrap_mean_ci over the union of all
    ingested batches."""
    from ..operators.profile import ci_from_bootstrap_partials

    return ci_from_bootstrap_partials(_LOGS["bootstrap"].view(spark, path), group_col)


def compact_bootstrap_ci(spark, path: str, quiesced: bool = True) -> None:
    _LOGS["bootstrap"].compact(spark, path, quiesced)


def make_gini_sink(path: str, weight, group_col: str = "source"):
    """Continuously-maintained Gini concentration (the streaming twin
    of x127): each batch appends its (group, weight) count histogram —
    histograms ADD cell-wise, so the merged view is BIT-EQUAL to batch
    gini_concentration over every document ever ingested.  State is
    bounded by the weight DOMAIN (distinct token counts), not the
    corpus.  ``weight`` is a Column producing the per-doc BIGINT
    weight."""

    def partial(batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.select(
                F.col(group_col).alias("grp"), weight.cast("long").alias("weight")
            )
            .groupBy("grp", "weight")
            .agg(F.count("*").cast("long").alias("cnt"))
        )

    return _LOGS["gini"].sink(path, partial)


def gini_view(spark, path: str, group_col: str = "source") -> DataFrame:
    """Current merged Gini concentration per group — bit-equal to
    operators.profile.gini_concentration over the union of all
    ingested batches."""
    from ..operators.profile import gini_from_hist

    return gini_from_hist(
        _LOGS["gini"].view(spark, path), "weight", "grp"
    ).withColumnRenamed("grp", group_col)


def compact_gini(spark, path: str, quiesced: bool = True) -> None:
    _LOGS["gini"].compact(spark, path, quiesced)


def make_term_histogram_sink(path: str, source_col: str = "source",
                             text_col: str = "text"):
    """Continuously-maintained (source, term) token histogram — ONE
    shared lexical store serving every downstream term statistic
    (lexical diversity x129, Zipf fit x132, and any fightin'-words
    comparison), the way the hourly-count store serves the
    time-series detectors.  Cells ADD, so merged views are BIT-EQUAL
    to the batch operators over every document ever ingested; state
    is bounded by the vocabulary, not the corpus."""
    from ..operators.curation import term_histogram

    return _LOGS["term_histogram"].sink(
        path, lambda batch_df: term_histogram(batch_df, source_col, text_col)
    )


def lexical_view(spark, path: str) -> DataFrame:
    """Current merged lexical-diversity report (TTR / hapax /
    Simpson) — bit-equal to operators.curation.lexical_diversity over
    the union of all ingested batches.  The finisher's two consumers
    re-read the (tiny, vocabulary-bounded) log rather than persisting
    per call — a monitoring loop must not accumulate cached frames."""
    from ..operators.curation import lexical_diversity_from_hist

    return lexical_diversity_from_hist(_LOGS["term_histogram"].view(spark, path))


def zipf_view(spark, path: str) -> DataFrame:
    """Current merged Zipf fit — bit-equal to
    operators.curation.zipf_fit over the union of all ingested
    batches."""
    from ..operators.curation import zipf_fit_from_hist

    return zipf_fit_from_hist(_LOGS["term_histogram"].view(spark, path))


def compact_term_histogram(spark, path: str, quiesced: bool = True) -> None:
    _LOGS["term_histogram"].compact(spark, path, quiesced)


def make_length_histogram_sink(path: str, source_col: str = "source",
                               text_col: str = "text"):
    """Continuously-maintained (source, doc-length) histogram — the
    mergeable state behind the streaming KS and PSI drift monitors:
    cells ADD, so the merged reports are BIT-EQUAL to the batch
    operators over every document ever ingested.  State is bounded by
    the number of distinct lengths per source, never the corpus."""
    from ..operators.curation import length_histogram

    return _LOGS["length_histogram"].sink(
        path, lambda batch_df: length_histogram(batch_df, source_col, text_col)
    )


def ks_view(spark, path: str) -> DataFrame:
    """Current merged pairwise KS drift report — bit-equal to
    operators.curation.ks_drift over the union of all ingested
    batches: the continuously-answered 'has any source's length
    profile drifted?' monitor."""
    from ..operators.curation import ks_from_hist

    return ks_from_hist(_LOGS["length_histogram"].view(spark, path))


def compact_length_histogram(spark, path: str, quiesced: bool = True) -> None:
    _LOGS["length_histogram"].compact(spark, path, quiesced)


def psi_view(spark, path: str, smooth: float = 0.5, crit: float = 0.2) -> DataFrame:
    """Current merged PSI drift report — the SECOND consumer of the
    length-histogram store (KS answers 'statistically different?',
    PSI scores how far the mass moved); bit-equal to
    operators.curation.length_psi over all ingested docs."""
    from ..operators.curation import psi_from_hist

    return psi_from_hist(_LOGS["length_histogram"].view(spark, path), smooth, crit)


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
    log-sized."""
    return _LOGS["privacy"].sink(
        path,
        lambda batch_df: batch_df.groupBy(*quasi_cols, sensitive_col).agg(
            F.count("*").cast("long").alias("n")
        ),
    )


def privacy_view(
    spark, path: str, quasi_cols: list[str], sensitive_col: str,
    ks: tuple[int, ...] = (2, 5, 10, 25),
) -> DataFrame:
    """Current k-anonymity report over everything ingested: fold the
    count partials to equivalence classes (cls_n = sum of partials,
    l_div = distinct sensitive values present) and run the SAME per-k
    walk as the batch audit (operators/profile.k_anonymity_from_classes)
    — bit-equal to x160 over the union of all batches.  Touches only
    the class-count log, never raw documents."""
    from ..operators.profile import k_anonymity_from_classes

    counts = _LOGS["privacy"].keyed(*quasi_cols, sensitive_col).view(spark, path)
    classes = counts.groupBy(*quasi_cols).agg(
        F.sum("n").cast("long").alias("cls_n"),
        # counts is already unique per (quasi, sensitive): row count IS
        # the distinct-sensitive count
        F.count("*").cast("long").alias("l_div"),
    )
    return k_anonymity_from_classes(classes, ks)


def compact_privacy(
    spark, path: str, quasi_cols: list[str], sensitive_col: str, quiesced: bool = True
) -> None:
    _LOGS["privacy"].keyed(*quasi_cols, sensitive_col).compact(spark, path, quiesced)


# ------------------------------------ incremental classifier training


def make_classifier_sink(path: str, label_col: str = "lang", text_col: str = "text"):
    """Continuously-trained Naive Bayes classifier state (the
    streaming twin of x159's train step): each labeled batch appends
    its (label, tok, c) token-count partials and (label, n) document
    counts — both sum-mergeable, bounded per batch by batch vocabulary
    x labels, never by history — so the model retrains from log-sized
    state as labeled data streams in, instead of rescanning the whole
    labeled corpus per refresh."""
    from ..operators.text import tokens

    @_nonempty
    def sink(batch_df: DataFrame, batch_id: int) -> None:
        lbl = F.col(label_col).alias("label")
        counts = (
            batch_df.select(lbl, F.explode(tokens(F.col(text_col))).alias("tok"))
            .groupBy("label", "tok")
            .agg(F.count("*").cast("long").alias("c"))
        )
        _LOGS["classifier_tokens"].append(counts, f"{path}/toks", batch_id)
        docn = batch_df.groupBy(lbl).agg(F.count("*").cast("long").alias("n"))
        _LOGS["classifier_docs"].append(docn, f"{path}/docs", batch_id)

    return sink


def classifier_model_view(spark, path: str, alpha: float = 0.5) -> DataFrame:
    """Current dense NB model over everything ingested: fold both
    count logs and run the SAME densification as batch training
    (operators/classify.nb_model_from_counts) — bit-equal to
    ``nb_train`` over the union of all batches.  The returned frame
    plugs straight into ``nb_score`` / the size-gated model join."""
    from ..operators.classify import nb_model_from_counts

    counts = _LOGS["classifier_tokens"].view(spark, f"{path}/toks")
    docn = _LOGS["classifier_docs"].view(spark, f"{path}/docs")
    return nb_model_from_counts(counts, docn, alpha=alpha)


def compact_classifier(spark, path: str, quiesced: bool = True) -> None:
    """Fold both classifier count logs."""
    _LOGS["classifier_tokens"].compact(spark, f"{path}/toks", quiesced)
    _LOGS["classifier_docs"].compact(spark, f"{path}/docs", quiesced)


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
    re-tokenizing history."""
    from ..operators.text import bpe_regex_token_count, token_count

    def partial(batch_df: DataFrame) -> DataFrame:
        t = F.col(text_col)
        per_doc = batch_df.select(
            F.col(group_col).alias("grp"),
            F.lit(1).alias("n_docs"),
            token_count(t).alias("n_words"),
            bpe_regex_token_count(t).alias("n_tokens"),
            F.octet_length(t).alias("n_bytes"),
            F.length(t).alias("n_chars"),
        )
        return _LOGS["fertility"].merge(per_doc, ["grp"])

    return _LOGS["fertility"].sink(path, partial)


def fertility_view(spark, path: str, group_col: str = "lang") -> DataFrame:
    """Current tokenizer-budget report over everything ingested —
    bit-equal to the batch x168 operator over the union of batches
    (corpus-level ratios of exact folded sums)."""
    sums = _LOGS["fertility"].view(spark, path)

    def ratio(num, den):
        return _ratio(num, den, 6) + F.lit(0.0)

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
    _LOGS["fertility"].compact(spark, path, quiesced)


def make_pii_sink(path: str, source_col: str = "source", text_col: str = "text"):
    """Continuously-maintained PII-residue state (the streaming form
    of x164's pii family): per batch, per-source counts of documents
    and of documents with ANY PII regex hit — sum-mergeable, |sources|
    rows per batch — so the zero-residue release invariant is
    checkable at any moment without rescanning text."""
    from ..operators.text import pii_counts

    def partial(batch_df: DataFrame) -> DataFrame:
        pii = pii_counts(F.col(text_col))
        per_doc = batch_df.select(
            F.col(source_col).alias("src"),
            F.lit(1).alias("n_docs"),
            ((pii["EMAIL"] + pii["IPV4"] + pii["PHONE"]) > 0).cast("long").alias(
                "n_pii_docs"
            ),
        )
        return _LOGS["pii"].merge(per_doc, ["src"])

    return _LOGS["pii"].sink(path, partial)


def pii_view(spark, path: str) -> DataFrame:
    """Current per-source PII residue over everything ingested:
    (source, n_docs, n_pii_docs, pii_doc_rate, ok = zero residue)."""
    sums = _LOGS["pii"].view(spark, path)
    return sums.select(
        F.col("src").alias("source"),
        "n_docs",
        "n_pii_docs",
        (_ratio("n_pii_docs", "n_docs", 6) + F.lit(0.0)).alias("pii_doc_rate"),
        (F.col("n_pii_docs") == 0).alias("ok"),
    )


def compact_pii(spark, path: str, quiesced: bool = True) -> None:
    _LOGS["pii"].compact(spark, path, quiesced)


# --------------------------------------- incremental embedding health


def make_embedding_health_sink(path: str, vec_col: str = "embedding",
                               near_zero: float = 0.01):
    """Continuously-maintained embedding-space health (the streaming
    twin of x156): each vector batch appends per-dimension quantized
    moment partials (n, sum, sum-of-squares, near-zero count) — all
    sum-mergeable, |dims| rows per batch — so dead-dimension and
    anisotropy screens stay answerable as vectors stream in, without
    re-reading the embedding store."""

    def partial(batch_df: DataFrame) -> DataFrame:
        q = F.lit(1e8)
        per_value = batch_df.select(
            F.posexplode(F.col(vec_col).cast("array<double>"))
        ).select(
            (F.col("pos") + 1).alias("dim"),
            F.lit(1).alias("n"),
            (F.col("col") * q).cast("long").alias("sv"),
            (F.col("col") * F.col("col") * q).cast("long").alias("svv"),
            (F.abs(F.col("col")) < F.lit(near_zero)).cast("long").alias("n_near_zero"),
        )
        return _LOGS["embedding_health"].merge(per_value, ["dim"])

    return _LOGS["embedding_health"].sink(path, partial)


def embedding_health_view(spark, path: str) -> DataFrame:
    """Current per-dimension health report over every ingested vector
    — bit-equal to the batch x156 operator over the union of batches
    (the SAME report derivation runs on the folded moments)."""
    from ..operators.embed import embedding_health_from_moments

    return embedding_health_from_moments(_LOGS["embedding_health"].view(spark, path))


def compact_embedding_health(spark, path: str, quiesced: bool = True) -> None:
    _LOGS["embedding_health"].compact(spark, path, quiesced)


# ------------------------------------- incremental conformal calibration


def make_conformal_sink(path: str, id_col: str = "doc_id", text_col: str = "text"):
    """Continuously-maintained split-conformal calibration state (the
    x162 audit's streaming twin): each batch appends its exact
    per-split score-histogram cells (is_cal, q, nk) — the
    lexical-diversity score and the doc_id-parity cal/test split are
    shared verbatim with the batch query — and cells ADD, so the
    merged thresholds are BIT-EQUAL to conformal_thresholds over every
    document ever ingested.  State is bounded by score quantization
    (distinct q values), never the corpus."""
    from ..operators.curation import lexdiv_qscore

    return _LOGS["conformal"].sink(
        path,
        lambda batch_df: batch_df.select(
            (F.col(id_col) % 2 == 0).alias("is_cal"),
            lexdiv_qscore(F.col(text_col)).alias("q"),
        )
        .groupBy("is_cal", "q")
        .agg(F.count("*").cast("long").alias("nk")),
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

    hist = _LOGS["conformal"].view(spark, path)
    return conformal_from_hist(
        hist.filter(F.col("is_cal")).select("q", "nk"),
        hist.filter(~F.col("is_cal")).select("q", "nk"),
        alpha_ppm,
    )


def compact_conformal(spark, path: str, quiesced: bool = True) -> None:
    _LOGS["conformal"].compact(spark, path, quiesced)


# --------------------------------------- incremental retrieval evaluation


def make_retrieval_eval_sink(
    path: str, id_col: str = "doc_id", text_col: str = "text", rel_col: str = "source"
):
    """Incrementally-maintained tf-grade postings store (d, rel, dl,
    term, tf) — the eval-ready sibling of make_index_sink's (term, df,
    postings) index: the retrieval-quality harness needs per-(doc,
    term) frequencies, doc lengths, and relevance labels, which the
    search index deliberately drops.  Rows are PER-DOCUMENT facts, so
    per-batch partials union to exactly the batch frame (each document
    arrives in one batch — the same append-only-corpus assumption as
    make_index_sink)."""
    from ..operators.retrieval import eval_tf_frame

    return _LOGS["retrieval_eval"].sink(
        path, lambda batch_df: eval_tf_frame(batch_df, id_col, text_col, rel_col)
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
        _LOGS["retrieval_eval"].view(spark, path), **eval_kwargs
    )


def compact_retrieval_eval(spark, path: str, quiesced: bool = True) -> None:
    _LOGS["retrieval_eval"].compact(spark, path, quiesced)


# -------------------------------------- incremental tokenizer retraining


def make_wordfreq_sink(path: str, text_col: str = "text", max_word_len: int = 12):
    """Continuously-maintained corpus word-frequency state — the ONE
    corpus-derived input of unigram-LM tokenizer training (x172): each
    batch appends its (w, freq) count partials; counts ADD, so the
    model retrained from the merged store is BIT-EQUAL to batch
    training over every document ever ingested.  State is bounded by
    the vocabulary (distinct truncated words), never the corpus.

    ``max_word_len`` must match the training parameter (words are
    truncated BEFORE counting, exactly as _word_freqs does)."""
    from ..operators.text import _word_freqs

    return _LOGS["wordfreq"].sink(
        path, lambda batch_df: _word_freqs(batch_df, text_col, max_word_len)
    )


def wordfreq_view(spark, path: str) -> DataFrame:
    """Current merged (w, freq) word-frequency table over all ingested
    batches — the tokenizer trainer's input state, also useful on its
    own (Zipf checks, vocabulary growth)."""
    return _LOGS["wordfreq"].view(spark, path)


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

    return unigram_lm_train_from_words(wordfreq_view(spark, path), **train_kwargs)


def compact_wordfreq(spark, path: str, quiesced: bool = True) -> None:
    _LOGS["wordfreq"].compact(spark, path, quiesced)


# --------------------------------- incremental semantic decontamination


def make_semantic_decontam_sink(
    path: str, eval_emb: DataFrame, planes: list, threshold: float = 0.4,
    id_col: str = "vec_id", vec_col: str = "embedding",
):
    """Continuously-maintained semantic-contamination verdicts (the
    x178 screen at ingest): each embedding batch is screened against
    the FIXED eval set (SRP-bucket blocking, broadcast eval side —
    exactly the batch operator) and its per-document verdict rows are
    appended.  Verdicts are per-document facts against an immutable
    eval suite, so per-batch partials union to exactly the batch
    screen over every vector ever ingested; a changed eval suite is an
    offline re-screen, not a merge.

    ``eval_emb`` and ``planes`` must match the batch x178 parameters
    for the view to be bit-equal."""
    from ..operators.similarity import semantic_decontaminate

    return _LOGS["semantic_decontam"].sink(
        path,
        lambda batch_df: semantic_decontaminate(
            batch_df, eval_emb, planes, threshold, id_col, vec_col
        ),
    )


def semantic_decontam_view(spark, path: str) -> DataFrame:
    """Current per-document semantic-contamination verdicts over all
    ingested embedding batches — bit-equal to batch x178 on the union
    corpus."""
    return _LOGS["semantic_decontam"].view(spark, path)


def compact_semantic_decontam(spark, path: str, quiesced: bool = True) -> None:
    _LOGS["semantic_decontam"].compact(spark, path, quiesced)


def t_closeness_view(
    spark, path: str, quasi_cols: list[str], sensitive_col: str,
    t_ppm: tuple[int, ...] = (100_000, 200_000, 300_000),
) -> DataFrame:
    """Current t-closeness report over everything ingested — the THIRD
    consumer of the privacy count store (k-anonymity and l-diversity
    read it via privacy_view): the maintained (QI..., sensitive, n)
    cells are exactly the batch audit's cell frame, so the report is
    bit-equal to x181 over the union of all batches.  Touches only the
    class-count log, never raw documents."""
    from ..operators.profile import t_closeness_from_cells

    cells = (
        _LOGS["privacy"]
        .keyed(*quasi_cols, sensitive_col)
        .view(spark, path)
        .withColumnRenamed("n", "cv")
    )
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
            assigned = _LOGS["split_assign"].keyed(id_col).view(
                spark, assign_path
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
def split_stability_view(spark, assign_path: str, id_col: str = "doc_id") -> DataFrame:
    """Current leakage-safe split assignment for every ingested doc:
    (doc, anchor_id, split, moved, anchor_changed) — equal to the
    one-shot batch x179 assignment over everything ingested (pinned by
    test), with ``anchor_changed`` marking docs whose cluster was
    merged into a smaller anchor after first assignment."""
    return _LOGS["split_assign"].keyed(id_col).view(spark, assign_path)


def compact_split_assignments(spark, assign_path: str, quiesced: bool = True) -> None:
    _LOGS["split_assign"].keyed("doc_id").compact(spark, assign_path, quiesced)


# --------------------------------------------- incremental bitext mining

def make_bitext_candidate_sink(
    cand_path: str, emb_path: str, tables: list[list[list[int]]], src_lang: str,
    tgt_lang: str, id_col: str = "vec_id", vec_col: str = "embedding",
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
    same cost class as the other incremental views)."""
    from ..operators.similarity import (
        bitext_candidates_between,
        bitext_prep_frame,
    )

    @_nonempty
    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        prep = bitext_prep_frame(
            batch_df.filter(F.col(lang_col).isin(src_lang, tgt_lang)),
            tables,
            id_col,
            vec_col,
            lang_col,
        ).localCheckpoint(eager=False)
        try:
            old = _LOGS["bitext_embeddings"].view(spark, emb_path)
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
        _LOGS["bitext_candidates"].append(cand, cand_path, batch_id)
        _LOGS["bitext_embeddings"].append(prep, emb_path, batch_id)

    return sink


def bitext_stream_view(
    spark, cand_path: str, knn_k: int = 8, margin_threshold: float = 1.05,
    mutual_best: bool = False,
) -> DataFrame:
    """Current mined bitext pairs over everything ingested — margins
    and (optionally) the mutual-best alignment recomputed over the
    merged candidate log through the batch miner's own core, so the
    view is bit-equal to running x183/x185 on the full corpus."""
    from ..operators.similarity import bitext_margin_from_candidates

    return bitext_margin_from_candidates(
        _LOGS["bitext_candidates"].view(spark, cand_path),
        knn_k=knn_k,
        margin_threshold=margin_threshold,
        mutual_best=mutual_best,
    )


def compact_bitext_candidates(spark, cand_path: str, quiesced: bool = True) -> None:
    _LOGS["bitext_candidates"].compact(spark, cand_path, quiesced)


def compact_bitext_embeddings(spark, emb_path: str, quiesced: bool = True) -> None:
    _LOGS["bitext_embeddings"].compact(spark, emb_path, quiesced)


# --------------------------------------- continuous trigram-LM counts

_TRIGRAM_TIERS = ("tgc", "bgc", "unic")


def make_trigram_counts_sink(path: str, text_col: str = "text", id_col: str = "doc_id"):
    """Continuously-maintained trigram-LM count state — the x184
    family's wordfreq-sink analogue: each batch appends its three tier
    count PARTIALS (trigram types with their tier keys, bigram-tail
    counts, unigram-tail counts), all sum-mergeable, so the model
    derived from the merged store is BIT-EQUAL to batch training over
    every document ever ingested (the ctx12/ctx2/scalar tables are
    deterministic functions of the folded tiers, exactly as in
    _trigram_model_tables).  State is bounded by the distinct-n-gram
    vocabulary, never the corpus.  The narrow frame the tier counts
    share is released when the call ends."""
    from .. import cache
    from ..operators.curation import _trigram_model_tables

    @_nonempty
    def sink(batch_df: DataFrame, batch_id: int) -> None:
        pos = cache.mark()
        try:
            _, tgc, _, bgc, _, unic, _ = _trigram_model_tables(
                batch_df, id_col, text_col
            )
            for tier, counts in zip(_TRIGRAM_TIERS, (tgc, bgc, unic)):
                _LOGS[f"trigram_{tier}"].append(counts, f"{path}/{tier}", batch_id)
        finally:
            cache.release(cache.tracked_since(pos))

    return sink


def trigram_stream_score(
    spark, path: str, batch: DataFrame, k_smooth: float = 0.5,
    lambdas: tuple[float, float, float] = (0.6, 0.3, 0.1), id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score any frame against the CONTINUOUSLY-trained trigram LM:
    folds the three tier logs, derives contexts and scalars exactly as
    batch training does, and scores through the shared
    score_with_trigram_tables core — scoring the union of ingested
    docs here is bit-equal to x184 over that union (pinned by test)."""
    from ..operators.curation import score_with_trigram_tables

    tgc, bgc, unic = (
        _LOGS[f"trigram_{tier}"].view(spark, f"{path}/{tier}")
        for tier in _TRIGRAM_TIERS
    )
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
    """Fold all three tier logs."""
    for tier in _TRIGRAM_TIERS:
        _LOGS[f"trigram_{tier}"].compact(spark, f"{path}/{tier}", quiesced)
