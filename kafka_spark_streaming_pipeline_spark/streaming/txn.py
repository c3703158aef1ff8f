"""Crash-atomic parquet tables via a commit-marker protocol.

The reference gets mutation atomicity from MongoDB document upserts
(spark_job/spark_streaming.py:322-337) — a mid-crash leaves the
previous document, never a torn table.  Plain ``mode("overwrite")``
parquet has no such guarantee: a failure between delete and rewrite
loses the live table.  This module closes that window with the same
mechanism Delta Lake uses on HDFS-compatible storage, re-implemented
on nothing but the Hadoop ``FileSystem`` API that ships with Spark:

- Data files are IMMUTABLE: every commit writes a fresh
  ``data/<uuid>/`` directory and never touches existing ones.
- A commit is ONE atomic operation: rename of a fully-written
  manifest to ``_commits/<version>.json``.  Hadoop ``rename`` is
  atomic and fails if the destination exists, so it doubles as
  put-if-absent — two racing writers produce one winner and one
  clean ``ConcurrentWriteError`` (optimistic concurrency, exactly
  Delta's HDFS LogStore contract).  On S3, rename is not atomic and
  this needs an external put-if-absent coordinator (as Delta's S3
  LogStore does); the protocol itself is unchanged.
- Readers resolve the highest committed version and read ONLY the
  directories its manifest lists.  A writer crash at any point before
  the rename leaves garbage data dirs that no manifest references —
  invisible to every reader, reclaimed by ``vacuum``.
- The manifest carries the table SCHEMA, as Delta's log does:
  ``append`` merges the batch's columns into it by name and
  ``overwrite`` replaces it.  A reader therefore scans every entry as
  ONE relation, ``spark.read.schema(S).parquet(*dirs)`` — no footer
  inference, no per-commit union — so a log view's plan stays one scan
  however many commits it spans, and rows of a commit written before a
  column existed read that column as NULL.  A manifest without the
  field (written before it existed) infers the schema once per read,
  from one footer per entry; its next append records it.
- The manifest carries the FOLD WATERMARK, the highest batch id an
  online compaction folded away (-1 for none): ``append`` carries it
  forward, ``overwrite`` records its caller's, and ``snapshot`` returns
  it from the manifest read that resolves the rows.  A manifest without
  the field encoded it in its rows (``__commit = -(wm + 2)``); it is
  decoded from them (one job) until the next commit records it.

Every table has one shape, the append log: a keyed upsert is an
append of commit-stamped rows, resolved at read time (``sinks``'
``latest_view``) and folded back by an ``overwrite`` compaction.  A
manifest entry is ``{"dir": ...}``; manifests written before the
table had one shape also carry two null keys, which readers ignore.

All path probing goes through the Hadoop FileSystem API, so the table
works on any scheme Spark can reach (file://, hdfs://, s3a://...) —
never ``os.path``, which silently reports False for remote stores.
"""

from __future__ import annotations

import json
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    ByteType,
    DataType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    ShortType,
    StructField,
    StructType,
)

_COMMITS = "_commits"
_DATA = "data"


class ConcurrentWriteError(RuntimeError):
    """Another writer committed the version this writer was preparing."""


class _FS:
    """Thin Hadoop FileSystem wrapper (scheme-agnostic path ops)."""

    def __init__(self, spark: SparkSession, path: str):
        self._jvm = spark._jvm
        self.fs = self._jvm.org.apache.hadoop.fs.Path(path).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )

    def path(self, p: str):
        return self._jvm.org.apache.hadoop.fs.Path(p)

    def exists(self, p: str) -> bool:
        return self.fs.exists(self.path(p))

    def write_text(self, p: str, text: str) -> None:
        out = self.fs.create(self.path(p), True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()

    def read_text(self, p: str) -> str:
        stream = self.fs.open(self.path(p))
        try:
            return self._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()

    def rename(self, src: str, dst: str) -> bool:
        return self.fs.rename(self.path(src), self.path(dst))

    def list_names(self, p: str) -> list[str]:
        if not self.exists(p):
            return []
        return [s.getPath().getName() for s in self.fs.listStatus(self.path(p))]

    def delete(self, p: str) -> None:
        self.fs.delete(self.path(p), True)


def fs_exists(spark: SparkSession, path: str) -> bool:
    """Existence probe that works on any Hadoop-reachable scheme."""
    return _FS(spark, path).exists(path)


def _nullable(dt: DataType) -> DataType:
    """``dt`` with every level nullable: what a file scan reports, and
    what makes two batches that differ only in nullability one type."""
    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True) for f in dt.fields]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


#: Type pairs the parquet reader widens at scan time: a file written as
#: the narrower type reads under the wider one.  ``unionByName`` widened
#: these too, back when every commit was its own relation.
_INTEGRAL = (ByteType, ShortType, IntegerType)
_WIDENS_TO = {LongType: _INTEGRAL, DoubleType: _INTEGRAL + (FloatType,)}


def _merge_schema(table: StructType | None, batch: StructType) -> StructType:
    """Merge ``batch`` into the table schema by column name: table
    columns keep their order, new ones are added at the end (the
    ``unionByName(allowMissingColumns=True)`` result).  A column whose
    type differs must be one the reader widens; anything else raises
    before a byte is written."""
    batch = _nullable(batch)
    if table is None:
        return batch
    fields = {f.name: f for f in table.fields}
    for f in batch.fields:
        old = fields.get(f.name)
        if old is None or old.dataType == f.dataType:
            fields.setdefault(f.name, f)
            continue
        types = {type(old.dataType), type(f.dataType)}
        for wide, narrow in _WIDENS_TO.items():
            if wide in types and types - {wide} <= set(narrow):
                fields[f.name] = StructField(f.name, wide(), True)
                break
        else:
            raise ValueError(
                f"column {f.name!r} is {old.dataType.simpleString()} in the "
                f"table and {f.dataType.simpleString()} in the batch"
            )
    return StructType(list(fields.values()))


def _commit_name(version: int) -> str:
    return f"{version:020d}.json"


def _publish(fs: _FS, root: str, version: int, manifest: dict) -> None:
    """The ONE atomic step: fully write the manifest to a temp name,
    then rename it to its version slot.  Rename-if-absent is the
    put-if-absent commit primitive; losing the race raises instead of
    clobbering the winner."""
    fs.fs.mkdirs(fs.path(f"{root}/{_COMMITS}"))
    tmp = f"{root}/{_COMMITS}/_tmp-{uuid.uuid4().hex}.json"
    final = f"{root}/{_COMMITS}/{_commit_name(version)}"
    fs.write_text(tmp, json.dumps(manifest))
    if not fs.rename(tmp, final):
        fs.delete(tmp)
        raise ConcurrentWriteError(
            f"version {version} of {root} was committed by another writer"
        )


class AtomicParquetTable:
    """A parquet append log whose every mutation is an atomic commit
    (``append`` / ``overwrite``): the merge-on-read shape of the live
    sink and of every mergeable log."""

    def __init__(self, root: str):
        self.root = root.rstrip("/")

    # ------------------------------------------------------------ resolve

    def _resolve(self, fs: _FS) -> tuple[int, dict | None]:
        names = fs.list_names(f"{self.root}/{_COMMITS}")
        versions = [
            int(n[:-5]) for n in names if n.endswith(".json") and n[:-5].isdigit()
        ]
        if not versions:
            return 0, None
        v = max(versions)
        return v, json.loads(fs.read_text(f"{self.root}/{_COMMITS}/{_commit_name(v)}"))

    def version(self, spark: SparkSession) -> int:
        return self._resolve(_FS(spark, self.root))[0]

    # --------------------------------------------------------------- read

    def snapshot(self, spark: SparkSession) -> tuple[int, DataFrame | None, int]:
        """``(version, read's rows, fold watermark)`` of the latest commit,
        from ONE manifest read."""
        version, manifest = self._resolve(_FS(spark, self.root))
        rows = self._scan(spark, manifest)
        return version, rows, self._fold_watermark(spark, manifest)

    def read(
        self, spark: SparkSession, version: int | None = None
    ) -> DataFrame | None:
        """The latest committed snapshot; ``None`` if nothing committed.

        ``version`` time-travels to an older commit: every commit file
        is immutable and data dirs are never rewritten, so any version
        not yet vacuumed reads exactly as it was published (the same
        mechanism as Delta's VERSION AS OF).  Raises KeyError for a
        version that never existed or whose commit was vacuumed.

        Every entry is read by ONE scan under the manifest's schema, so
        the plan has one relation for the whole log, not one per
        commit."""
        fs = _FS(spark, self.root)
        if version is None:
            _, manifest = self._resolve(fs)
        else:
            commit = f"{self.root}/{_COMMITS}/{_commit_name(version)}"
            if not fs.exists(commit):
                raise KeyError(
                    f"version {version} does not exist at {self.root} "
                    "(never committed, or vacuumed)"
                )
            manifest = json.loads(fs.read_text(commit))
        return self._scan(spark, manifest)

    def _scan(self, spark: SparkSession, manifest: dict | None) -> DataFrame | None:
        if manifest is None:
            return None
        dirs = [f"{self.root}/{e['dir']}" for e in manifest["entries"]]
        if not dirs:
            return None
        return spark.read.schema(self._schema(spark, manifest)).parquet(*dirs)

    def _fold_watermark(self, spark: SparkSession, manifest: dict | None) -> int:
        if manifest is not None and "fold_watermark" in manifest:
            return manifest["fold_watermark"]
        # written before manifests carried it: an online fold stamped
        # its rows -(wm + 2), a quiesced one -1
        rows = self._scan(spark, manifest)
        if rows is None or "__commit" not in rows.columns:
            return -1
        c = F.col("__commit")
        return rows.agg(F.coalesce(F.max(F.when(c < -1, -c - 2)), F.lit(-1))).first()[0]

    def _schema(self, spark: SparkSession, manifest: dict) -> StructType | None:
        """The schema of ``manifest``'s entries (None if it has none).  A
        manifest without the field (written before manifests carried
        it) gets the by-name merge of one footer per entry."""
        if "schema" in manifest:
            return StructType.fromJson(manifest["schema"])
        schema = None
        for entry in manifest["entries"]:
            d = f"{self.root}/{entry['dir']}"
            schema = _merge_schema(schema, spark.read.parquet(d).schema)
        return schema

    # ------------------------------------------------------------- append

    def append(self, df: DataFrame) -> int:
        """Commit ``df`` as new immutable files alongside the existing
        ones (merge-on-read log append).  O(batch) work, crash-atomic."""
        spark = df.sparkSession
        fs = _FS(spark, self.root)
        version, manifest = self._resolve(fs)
        schema = _merge_schema(self._schema(spark, manifest) if manifest else None, df.schema)
        rel = f"{_DATA}/{uuid.uuid4().hex[:12]}"
        df.write.parquet(f"{self.root}/{rel}")
        entries = (manifest["entries"] if manifest else []) + [{"dir": rel}]
        wm = self._fold_watermark(spark, manifest)
        _publish(
            fs,
            self.root,
            version + 1,
            {"version": version + 1, "schema": schema.jsonValue(),
             "fold_watermark": wm, "entries": entries},
        )
        return version + 1

    def overwrite(
        self, df: DataFrame, expect_version: int | None = None, fold_watermark: int = -1
    ) -> int:
        """Atomically replace the whole table content (compaction /
        full rewrite) and record ``fold_watermark`` in its manifest.
        Old dirs stay until ``vacuum`` — a reader that resolved the
        previous version keeps a consistent snapshot.

        ``expect_version`` makes the replace a compare-and-swap: the
        new manifest publishes at ``expect_version + 1``, and if any
        writer committed that slot in the meantime ``_publish``'s
        rename-if-absent raises ConcurrentWriteError and the table is
        untouched — the guard compaction needs so a concurrently
        appended batch can never be silently dropped by a fold computed
        from an older snapshot."""
        spark = df.sparkSession
        fs = _FS(spark, self.root)
        if expect_version is not None:
            version = expect_version
        else:
            version, _ = self._resolve(fs)
        rel = f"{_DATA}/{uuid.uuid4().hex[:12]}"
        df.write.parquet(f"{self.root}/{rel}")
        _publish(
            fs,
            self.root,
            version + 1,
            {
                "version": version + 1,
                "schema": _nullable(df.schema).jsonValue(),
                "fold_watermark": fold_watermark,
                "entries": [{"dir": rel}],
            },
        )
        return version + 1

    # ------------------------------------------------------------- vacuum

    def vacuum(self, spark: SparkSession) -> list[str]:
        """Delete data dirs unreferenced by the LATEST manifest and all
        superseded commit files.  Safe once no reader still holds an
        older snapshot (the caller's retention decision, as with
        Delta's VACUUM)."""
        fs = _FS(spark, self.root)
        version, manifest = self._resolve(fs)
        if manifest is None:
            return []
        live = {e["dir"].split("/", 1)[1] for e in manifest["entries"]}
        removed = []
        for name in fs.list_names(f"{self.root}/{_DATA}"):
            if name not in live:
                fs.delete(f"{self.root}/{_DATA}/{name}")
                removed.append(name)
        for name in fs.list_names(f"{self.root}/{_COMMITS}"):
            keep = name == _commit_name(version)
            if not keep and (name.endswith(".json")):
                fs.delete(f"{self.root}/{_COMMITS}/{name}")
        return removed


def snapshot_diff(
    spark: SparkSession,
    table: "AtomicParquetTable",
    keys: list[str],
    v_old: int,
    v_new: int | None = None,
) -> DataFrame:
    """Row-level diff between two committed snapshots (the audit
    companion to time travel — Delta's CDF shape computed after the
    fact): one row per changed key with ``change`` in
    ('inserted', 'deleted', 'updated').

    Works on any two not-yet-vacuumed versions because commits are
    immutable.  Scale shape: ONE full-outer join keyed on ``keys``
    (hash-spread, map-side combinable md5 row digests computed below
    the join), so the cost is a single co-partitioned shuffle of the
    two snapshots — never a collect, never per-row Python.  Rows
    whose digests match are dropped BEFORE the output (unchanged keys
    never leave the join stage)."""
    old = table.read(spark, version=v_old)
    new = table.read(spark, version=v_new) if v_new is not None else table.read(spark)
    if old is None or new is None:
        raise FileNotFoundError(f"missing snapshot(s) at {table.root}")

    def digested(df: DataFrame, tag: str) -> DataFrame:
        non_key = [c for c in df.columns if c not in keys]
        # NULL-sensitive encoding: concat_ws silently drops nulls AND
        # their separators, so ('x', NULL) and (NULL, 'x') would hash
        # identically; tag every cell with a null marker first
        cells = [
            F.when(F.col(c).isNull(), F.lit("\x00"))
            .otherwise(F.concat(F.lit("\x01"), F.col(c).cast("string")))
            for c in non_key
        ]
        digest = F.md5(F.concat_ws("\x1f", *cells))
        return df.select(*keys, digest.alias(f"__d_{tag}"))

    j = digested(old, "old").join(digested(new, "new"), keys, "full_outer")
    change = (
        F.when(F.col("__d_old").isNull(), F.lit("inserted"))
        .when(F.col("__d_new").isNull(), F.lit("deleted"))
        .when(F.col("__d_old") != F.col("__d_new"), F.lit("updated"))
    )
    return (
        j.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select(*keys, "change")
    )
