"""Commit-marker protocol tests (streaming/txn.py): a writer dying at
the worst moment — after its data files are fully written but before
the manifest rename — must leave the table byte-identical to the
previous committed version, and a retry must land cleanly.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_spark_streaming_pipeline_spark.streaming import txn
from kafka_spark_streaming_pipeline_spark.streaming.txn import (
    AtomicParquetTable,
    ConcurrentWriteError,
    fs_exists,
)

SCHEMA = "stream_id string, chunk_index long, sequence_number long, payload string"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _fail_publish(monkeypatch):
    """Simulate the writer dying between data write and commit rename."""

    def boom(fs, root, version, manifest):
        raise RuntimeError("simulated writer crash before commit")

    monkeypatch.setattr(txn, "_publish", boom)


def test_crash_before_commit_preserves_upsert_table(spark, tmp_path, monkeypatch):
    """The keyed upsert is a log append: a writer dying after its data
    files are written leaves the version and the latest view as they
    were, and the retried batch lands."""
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        append_log_upsert,
        latest_view,
    )

    path = str(tmp_path / "t")
    table = AtomicParquetTable(path)

    def view():
        rows = latest_view(spark, path, ["stream_id", "chunk_index"], "sequence_number")
        return {(r.stream_id, r.chunk_index): r.payload for r in rows.collect()}

    append_log_upsert(_df(spark, [("s1", 0, 1, "v1"), ("s2", 0, 1, "v1")]), path, batch_id=0)
    before = view()
    v_before = table.version(spark)

    _fail_publish(monkeypatch)
    with pytest.raises(RuntimeError, match="simulated"):
        append_log_upsert(_df(spark, [("s1", 0, 2, "TORN")]), path, batch_id=1)
    # the half-written commit is invisible: same version, same view
    assert table.version(spark) == v_before
    assert view() == before

    monkeypatch.undo()
    # retry after "restart" lands normally
    append_log_upsert(_df(spark, [("s1", 0, 2, "v2")]), path, batch_id=1)
    assert view() == {("s1", 0): "v2", ("s2", 0): "v1"}
    # the crashed writer's files were never referenced
    assert len(table.vacuum(spark)) == 1


def test_crash_mid_compaction_preserves_log(spark, tmp_path, monkeypatch):
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        append_log_upsert,
        compact_log,
        latest_view,
    )

    path = str(tmp_path / "log")
    keys = ["stream_id", "chunk_index"]
    append_log_upsert(_df(spark, [("s1", 0, 1, "v1"), ("s1", 1, 1, "v1")]), path, batch_id=1)
    append_log_upsert(_df(spark, [("s1", 0, 2, "v2")]), path, batch_id=2)
    before = sorted(tuple(r) for r in latest_view(spark, path, keys, "sequence_number").collect())

    _fail_publish(monkeypatch)
    with pytest.raises(RuntimeError, match="simulated"):
        compact_log(spark, path, keys, "sequence_number")
    # uncompacted log intact, view unchanged
    assert sorted(tuple(r) for r in latest_view(spark, path, keys, "sequence_number").collect()) == before

    monkeypatch.undo()
    compact_log(spark, path, keys, "sequence_number")
    assert sorted(tuple(r) for r in latest_view(spark, path, keys, "sequence_number").collect()) == before
    # post-compaction the physical log is one row per key
    assert AtomicParquetTable(path).read(spark).count() == 2


def test_compacted_rows_lose_to_fresh_checkpoint_batch_zero(spark, tmp_path):
    """Folded rows are stamped __commit=-1, so a stream restarted on a
    FRESH checkpoint (batch ids starting over at 0) deterministically
    beats compacted history in latest_view — a 0-stamp would tie and
    let the stale row nondeterministically win."""
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        append_log_upsert,
        compact_log,
        latest_view,
    )

    path = str(tmp_path / "log")
    keys = ["stream_id", "chunk_index"]
    append_log_upsert(_df(spark, [("s1", 0, 5, "old")]), path, batch_id=7)
    compact_log(spark, path, keys, "sequence_number")
    folded = AtomicParquetTable(path).read(spark).collect()
    assert [r["__commit"] for r in folded] == [-1]

    # fresh checkpoint: the restarted stream's first batch is id 0, and
    # its write must win even with a LOWER order_col value
    append_log_upsert(_df(spark, [("s1", 0, 1, "new")]), path, batch_id=0)
    got = {(r.stream_id, r.chunk_index): r.payload
           for r in latest_view(spark, path, keys, "sequence_number").collect()}
    assert got == {("s1", 0): "new"}


def test_concurrent_commit_one_winner(spark, tmp_path):
    """Rename-if-absent is the put-if-absent primitive: a second writer
    preparing the same version loses with ConcurrentWriteError and the
    winner's data is untouched."""
    root = str(tmp_path / "t")
    table = AtomicParquetTable(root)
    table.append(_df(spark, [("s1", 0, 1, "a")]).withColumn("__commit", F.lit(0)))
    fs = txn._FS(spark, root)
    # hand-roll a racing commit for the NEXT version, then let the
    # table try to publish the same version
    v = table.version(spark) + 1
    txn._publish(fs, root, v, {"version": v, "partition_col": None, "entries": []})
    with pytest.raises(ConcurrentWriteError):
        txn._publish(fs, root, v, {"version": v, "partition_col": None, "entries": []})


def test_vacuum_removes_only_unreferenced(spark, tmp_path):
    root = str(tmp_path / "t")
    table = AtomicParquetTable(root)
    table.append(_df(spark, [("s1", 0, 1, "a")]))
    table.append(_df(spark, [("s1", 1, 1, "b")]))
    assert table.read(spark).count() == 2
    table.overwrite(table.read(spark))
    removed = table.vacuum(spark)
    assert len(removed) == 2  # the two superseded append dirs
    assert table.read(spark).count() == 2
    assert fs_exists(spark, root)


def test_time_travel_reads_and_vacuum_expires(spark, tmp_path):
    table = AtomicParquetTable(str(tmp_path / "tt"))
    df1 = spark.range(3).withColumn("tag", F.lit("a"))
    df2 = spark.range(3, 5).withColumn("tag", F.lit("b"))
    v1 = table.append(df1)
    v2 = table.append(df2)
    v3 = table.overwrite(spark.range(100, 101).withColumn("tag", F.lit("c")))
    assert (v1, v2, v3) == (1, 2, 3)
    # commit files are immutable, data dirs copy-on-write: every
    # un-vacuumed version reads exactly as published
    assert table.read(spark, version=1).count() == 3
    assert table.read(spark, version=2).count() == 5
    assert table.read(spark).count() == 1
    with pytest.raises(KeyError, match="version 9"):
        table.read(spark, version=9)
    table.vacuum(spark)
    assert table.read(spark).count() == 1  # latest unaffected
    with pytest.raises(KeyError, match="vacuumed"):
        table.read(spark, version=1)


def test_snapshot_diff_classifies_changes(spark, tmp_path):
    """Row-level diff between immutable snapshots: inserted / deleted /
    updated keys, unchanged keys absent — the audit companion to time
    travel."""
    from kafka_spark_streaming_pipeline_spark.streaming.txn import snapshot_diff

    table = AtomicParquetTable(str(tmp_path / "diff"))
    v1 = table.overwrite(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "c", 30)], ["id", "tag", "val"]
        )
    )
    v2 = table.overwrite(
        spark.createDataFrame(
            [(1, "a", 10),          # unchanged
             (2, "b", 99),          # updated
             (4, "d", 40)],         # inserted; 3 deleted
            ["id", "tag", "val"],
        )
    )
    out = {r.id: r.change for r in snapshot_diff(spark, table, ["id"], v1, v2).collect()}
    assert out == {2: "updated", 3: "deleted", 4: "inserted"}

    # v_new defaults to the latest snapshot
    out2 = {r.id: r.change for r in snapshot_diff(spark, table, ["id"], v1).collect()}
    assert out2 == out

    # diff of a version against itself is empty
    assert snapshot_diff(spark, table, ["id"], v2, v2).count() == 0

    # NULL-swap updates are real updates: ('x', NULL) -> (NULL, 'x')
    # must be reported (a null-skipping digest would hash them equal)
    v3 = table.overwrite(
        spark.createDataFrame([(1, "x", None)], "id int, tag string, note string")
    )
    v4 = table.overwrite(
        spark.createDataFrame([(1, None, "x")], "id int, tag string, note string")
    )
    nulls = {r.id: r.change for r in snapshot_diff(spark, table, ["id"], v3, v4).collect()}
    assert nulls == {1: "updated"}


def _parquet_scans(df) -> int:
    return df._jdf.queryExecution().sparkPlan().toString().count("FileScan parquet")


def test_log_view_plans_the_same_scans_at_any_commit_count(spark, tmp_path):
    """Every unpartitioned entry is read by one scan under the
    manifest's schema: a log view over 8 commits plans exactly the scans
    it plans over 1 (one relation per commit made this 2 x commits)."""
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        append_log_upsert,
        latest_view,
    )

    keys = ["stream_id", "chunk_index"]
    scans = {}
    for n in (1, 8):
        path = str(tmp_path / f"log{n}")
        for b in range(n):
            append_log_upsert(_df(spark, [("s1", b, b, f"v{b}")]), path, batch_id=b)
        view = latest_view(spark, path, keys, "sequence_number")
        assert view.count() == n
        scans[n] = _parquet_scans(view)
    assert scans[1] == scans[8]


def test_added_column_reads_older_rows_as_null(spark, tmp_path):
    """``append`` merges the batch schema into the manifest's by column
    name, so a column added by a later commit reads as NULL on the
    older rows — the result the per-commit unionByName gave."""
    table = AtomicParquetTable(str(tmp_path / "evolve"))
    table.append(spark.createDataFrame([(1, "a")], "id int, tag string"))
    table.append(spark.createDataFrame([(2, 7.5, "b")], "id int, score double, tag string"))
    out = table.read(spark)
    assert out.columns == ["id", "tag", "score"]
    assert sorted(tuple(r) for r in out.collect()) == [(1, "a", None), (2, "b", 7.5)]
    assert _parquet_scans(out) == 1
    # the reader widens int to bigint; a type it cannot read fails the
    # append before any data is written
    table.append(spark.createDataFrame([(3, "c")], "id bigint, tag string"))
    assert dict(table.read(spark).dtypes)["id"] == "bigint"
    v = table.version(spark)
    with pytest.raises(ValueError, match="'tag' is string in the table and int"):
        table.append(spark.createDataFrame([(4, 1)], "id int, tag int"))
    assert table.version(spark) == v


def test_manifest_without_schema_reads_as_before(spark, tmp_path):
    """A manifest with no schema field (the format before manifests
    carried one) infers the schema once and reads the same rows; its
    next append records the schema."""
    root = str(tmp_path / "legacy")
    fs = txn._FS(spark, root)
    spark.createDataFrame([(1, "a")], "id int, tag string").write.parquet(f"{root}/data/d1")
    spark.createDataFrame([(2, 7.5, "b")], "id int, score double, tag string").write.parquet(
        f"{root}/data/d2"
    )
    txn._publish(fs, root, 1, {
        "version": 1,
        "partition_col": None,
        "entries": [{"dir": "data/d1", "partitions": None},
                    {"dir": "data/d2", "partitions": None}],
    })
    table = AtomicParquetTable(root)
    out = table.read(spark)
    assert out.columns == ["id", "tag", "score"]
    assert sorted(tuple(r) for r in out.collect()) == [(1, "a", None), (2, "b", 7.5)]

    table.append(spark.createDataFrame([(3, "c")], "id int, tag string"))
    _, manifest = table._resolve(fs)
    assert [f["name"] for f in manifest["schema"]["fields"]] == ["id", "tag", "score"]
    assert sorted(tuple(r) for r in table.read(spark).collect()) == [
        (1, "a", None), (2, "b", 7.5), (3, "c", None)
    ]


def test_online_live_log_compaction_drops_replay(spark, tmp_path):
    """compact_log(quiesced=False) under a live stream: batch 1 is
    folded before its checkpoint lands, and the restarted stream
    replays it under its original id.  The replay must not bring its
    status back over batch 2's, and a genuinely new batch still wins."""
    from kafka_spark_streaming_pipeline_spark.streaming.sinks import (
        append_log_upsert,
        compact_log,
        latest_view,
    )

    path = str(tmp_path / "log")
    keys = ["stream_id", "chunk_index"]

    def status():
        return {(r.stream_id, r.chunk_index): r.payload
                for r in latest_view(spark, path, keys, "sequence_number").collect()}

    append_log_upsert(_df(spark, [("s1", 0, 1, "A")]), path, batch_id=1)
    append_log_upsert(_df(spark, [("s1", 0, 1, "B")]), path, batch_id=2)
    compact_log(spark, path, keys, "sequence_number", quiesced=False)
    append_log_upsert(_df(spark, [("s1", 0, 1, "A")]), path, batch_id=1)
    assert status() == {("s1", 0): "B"}
    append_log_upsert(_df(spark, [("s1", 0, 1, "C")]), path, batch_id=3)
    assert status() == {("s1", 0): "C"}


def _legacy_table(spark, root, schema, entries):
    """A table in the manifest format without ``fold_watermark``: one
    data dir per entry of ``entries`` (lists of rows), one manifest."""
    fs = txn._FS(spark, root)
    for i, rows in enumerate(entries):
        spark.createDataFrame(rows, schema).write.parquet(f"{root}/data/d{i}")
    txn._publish(fs, root, 1, {
        "version": 1,
        "schema": txn._nullable(spark.createDataFrame([], schema).schema).jsonValue(),
        "entries": [{"dir": f"data/d{i}"} for i in range(len(entries))],
    })
    return AtomicParquetTable(root)


def test_manifest_without_fold_watermark_reads_as_before(spark, tmp_path):
    """A manifest without ``fold_watermark`` whose rows an online fold
    stamped ``__commit = -(wm + 2)`` (wm = 2), then a replay of batch 1
    and a new batch 3: the replay is dropped and the new batch merged,
    in the live log's view and a mergeable log's view alike.  The
    table's next commit records the decoded watermark."""
    from kafka_spark_streaming_pipeline_spark.streaming import sinks as S

    live_schema = SCHEMA + ", __commit long"
    live = _legacy_table(spark, str(tmp_path / "live"), live_schema, [
        [("s1", 0, 1, "B", -4), ("s2", 0, 1, "A", -4)],
        [("s1", 0, 1, "A", 1)],
        [("s2", 0, 1, "C", 3)],
    ])
    keys = ["stream_id", "chunk_index"]

    def status():
        return {(r.stream_id, r.chunk_index): r.payload
                for r in S.latest_view(spark, live.root, keys, "sequence_number").collect()}

    assert status() == {("s1", 0): "B", ("s2", 0): "C"}

    cms = _legacy_table(spark, str(tmp_path / "cms"),
                        "depth int, slot int, cnt long, __commit long", [
        [(0, 1, 5, -4)],
        [(0, 1, 3, 1)],
        [(0, 1, 2, 3), (0, 2, 7, 3)],
    ])

    def counts():
        return {(r.depth, r.slot): r.cnt for r in S._LOGS["cms"].view(spark, cms.root).collect()}

    assert counts() == {(0, 1): 7, (0, 2): 7}
    assert live.snapshot(spark)[2] == 2

    S.append_log_upsert(_df(spark, [("s1", 0, 1, "A")]), live.root, batch_id=1)
    _, manifest = live._resolve(txn._FS(spark, live.root))
    assert manifest["fold_watermark"] == 2
    assert status() == {("s1", 0): "B", ("s2", 0): "C"}
