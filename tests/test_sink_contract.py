"""The mergeable-log contract, checked once per entry of the sink table.

Every entry of ``streaming.sinks._LOGS`` is fed by its own public sink
and must (a) publish no version for an empty micro-batch and (b) drop
a batch replayed after an online compaction (``quiesced=False``),
leaving its merged view unchanged.  Plus the cache release of the
sinks that persist intermediate frames.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from kafka_spark_streaming_pipeline_spark import cache
from kafka_spark_streaming_pipeline_spark.streaming import sinks as S
from kafka_spark_streaming_pipeline_spark.streaming import txn
from kafka_spark_streaming_pipeline_spark.streaming.txn import AtomicParquetTable

WORDS = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi "
    "omicron pi rho sigma tau upsilon phi chi psi omega"
).split()
DIM = 8
PLANES = [[((7 * i + 13 * p + 5) % 17) - 8 for i in range(DIM)] for p in range(4)]
TABLES = [
    [[((3 * j + 5 * p + 11 * t + 1) % 13) - 6 for j in range(DIM)] for p in range(2)]
    for t in range(2)
]


def _text(i: int) -> str:
    return " ".join(WORDS[(i * 7 + j * 3) % len(WORDS)] for j in range(10 + i % 5))


def _docs(spark, ids):
    return spark.createDataFrame(
        [(i, f"src{i % 3}", "en" if i % 2 else "de", _text(i)) for i in ids],
        "doc_id long, source string, lang string, text string",
    )


def _vectors(spark, ids):
    return spark.createDataFrame(
        [
            (i, [float((i * 7 + d * 3) % 13) - 6.0 for d in range(DIM)],
             "en" if i % 2 else "de")
            for i in ids
        ],
        "vec_id long, embedding array<double>, lang string",
    )


def _events(spark, ids):
    return spark.createDataFrame(
        [(f"s{i % 3}", f"t{i % 2}", f"2024-01-01 {i % 5:02d}:10:00", i * 10, i - 4.5)
         for i in ids],
        "stream_id string, event_type string, ts_s string, size_bytes long, v double",
    ).select(
        "*",
        F.to_timestamp("ts_s").alias("event_ts"),
        F.to_timestamp("ts_s").alias("ts"),
    )


def _terms(spark, ids):
    return _docs(spark, ids).select(F.explode(F.split("text", " ")).alias("term"))


INPUTS = {"docs": _docs, "vectors": _vectors, "events": _events, "terms": _terms}


def _ivf_sink(spark, base):
    from kafka_spark_streaming_pipeline_spark.operators.similarity import (
        ivf_index_build,
    )

    ivf_index_build(_vectors(spark, range(100, 140)), base, nlist=4)
    return S.make_ivf_sink(base)


def _split_sink(spark, base):
    sigs = S.make_signature_sink(f"{base}/sig")
    split = S.make_split_anchor_sink(f"{base}/assign", f"{base}/sig")

    def sink(batch_df, batch_id):
        sigs(batch_df, batch_id)  # the split sink's contract: signatures first
        split(batch_df, batch_id)

    return sink


def _substring_sink(spark, base):
    return S.make_substring_clean_sink(f"{base}/hist", f"{base}/clean", k=4)


def _bitext_sink(spark, base):
    return S.make_bitext_candidate_sink(
        f"{base}/cand", f"{base}/emb", TABLES, "en", "de"
    )


def _curation_sink(spark, base):
    eval_set = spark.createDataFrame([(900, _text(900))], "doc_id long, text string")
    return S.make_curation_sink(base, eval_set)


class Case(NamedTuple):
    sink: Callable  # (spark, base dir) -> foreachBatch function
    data: str = "docs"
    log: str = ""  # the entry's log, under the base dir
    keys: tuple = ()  # key columns the public view binds with ``keyed``
    params: dict = {}  # merge parameters the public view passes


CASES = {
    "rollup": Case(
        lambda sp, b: S.make_rollup_sink(b, ["stream_id"]), "events",
        keys=("stream_id",),
    ),
    "index": Case(lambda sp, b: S.make_index_sink(b)),
    "ivf": Case(_ivf_sink, "vectors", "postings_log"),
    "cms": Case(lambda sp, b: S.make_cms_sink(b), "terms"),
    "hh_candidates": Case(
        lambda sp, b: S.make_heavy_hitters_sink(b, candidates_per_batch=3),
        "terms", "cands", ("term",),
    ),
    "hll": Case(lambda sp, b: S.make_hll_sink(b, ["source"], "text"), keys=("source",)),
    "kmv": Case(
        lambda sp, b: S.make_kmv_sink(b, ["source"], "text", k=4),
        keys=("source",), params={"k": 4},
    ),
    "datasheet": Case(lambda sp, b: S.make_datasheet_sink(b), log="sums"),
    "dd": Case(lambda sp, b: S.make_dd_sink(b, "v"), "events"),
    "seasonal": Case(lambda sp, b: S.make_seasonal_sink(b), "events"),
    "signature": Case(lambda sp, b: S.make_signature_sink(b), keys=("doc_id",)),
    "window_hash": Case(_substring_sink, log="hist"),
    "substring_clean": Case(_substring_sink, log="clean", keys=("doc_id",)),
    "bloom": Case(lambda sp, b: S.make_bloom_sink(b, "text")),
    "curation_yield": Case(_curation_sink, log="yield"),
    "manifest": Case(lambda sp, b: S.make_manifest_sink(b, n_shards=4)),
    "priority_sample": Case(
        lambda sp, b: S.make_priority_sample_sink(b, k=3),
        keys=("doc_id",), params={"k": 3},
    ),
    "bootstrap": Case(
        lambda sp, b: S.make_bootstrap_ci_sink(
            b, F.length("text").cast("long"), n_boot=4
        )
    ),
    "gini": Case(lambda sp, b: S.make_gini_sink(b, F.length("text"))),
    "term_histogram": Case(lambda sp, b: S.make_term_histogram_sink(b)),
    "length_histogram": Case(lambda sp, b: S.make_length_histogram_sink(b)),
    "privacy": Case(
        lambda sp, b: S.make_privacy_sink(b, ["source"], "lang"),
        keys=("source", "lang"),
    ),
    "classifier_tokens": Case(lambda sp, b: S.make_classifier_sink(b), log="toks"),
    "classifier_docs": Case(lambda sp, b: S.make_classifier_sink(b), log="docs"),
    "fertility": Case(lambda sp, b: S.make_fertility_sink(b)),
    "pii": Case(lambda sp, b: S.make_pii_sink(b)),
    "embedding_health": Case(lambda sp, b: S.make_embedding_health_sink(b), "vectors"),
    "conformal": Case(lambda sp, b: S.make_conformal_sink(b)),
    "retrieval_eval": Case(lambda sp, b: S.make_retrieval_eval_sink(b)),
    "wordfreq": Case(lambda sp, b: S.make_wordfreq_sink(b)),
    "semantic_decontam": Case(
        lambda sp, b: S.make_semantic_decontam_sink(
            b, _vectors(sp, range(200, 204)).drop("lang"), PLANES
        ),
        "vectors",
    ),
    "split_assign": Case(_split_sink, log="assign", keys=("doc_id",)),
    "bitext_embeddings": Case(_bitext_sink, "vectors", "emb"),
    "bitext_candidates": Case(_bitext_sink, "vectors", "cand"),
    "trigram_tgc": Case(lambda sp, b: S.make_trigram_counts_sink(b), log="tgc"),
    "trigram_bgc": Case(lambda sp, b: S.make_trigram_counts_sink(b), log="bgc"),
    "trigram_unic": Case(lambda sp, b: S.make_trigram_counts_sink(b), log="unic"),
}


def test_every_mergeable_log_has_a_contract_case():
    assert set(CASES) == set(S._LOGS)


@pytest.mark.parametrize("name", sorted(S._LOGS))
def test_mergeable_log_contract(spark, tmp_path, name):
    """(a) an empty batch publishes no version; (b) after an online
    compaction folds batch 0, its replay is dropped and the merged view
    is unchanged."""
    case = CASES[name]
    base = str(tmp_path / name)
    path = f"{base}/{case.log}" if case.log else base
    sink = case.sink(spark, base)
    batch = INPUTS[case.data](spark, range(8))
    log = S._LOGS[name].keyed(*case.keys) if case.keys else S._LOGS[name]

    sink(batch.limit(0), 0)
    assert AtomicParquetTable(path).version(spark) == 0

    sink(batch, 0)

    def rows():
        return sorted(map(repr, log.view(spark, path, **case.params).collect()))

    want = rows()
    assert want
    log.compact(spark, path, quiesced=False, **case.params)
    assert rows() == want
    sink(batch, 0)  # the stream replays batch 0 after a crash
    assert rows() == want


def test_substring_clean_sink_keeps_caches_it_did_not_persist(spark, tmp_path):
    """The sink releases only the frames its own call persisted: a frame
    another reader tracked before the call stays cached."""
    held = cache.tracked_persist(spark.range(5))
    held.count()
    try:
        sink = S.make_substring_clean_sink(
            str(tmp_path / "hist"), str(tmp_path / "clean"), k=4
        )
        sink(_docs(spark, range(6)), 0)
        assert held.is_cached
        assert held in cache._TRACKED
    finally:
        cache.release([held])


def test_trigram_counts_sink_does_not_grow_the_cache_registry(spark, tmp_path):
    sink = S.make_trigram_counts_sink(str(tmp_path / "tri"))
    before = len(cache._TRACKED)
    for batch_id in range(3):
        sink(_docs(spark, range(batch_id * 4, batch_id * 4 + 4)), batch_id)
    assert len(cache._TRACKED) == before


def test_curation_sink_releases_its_frames_when_a_commit_fails(
    spark, tmp_path, monkeypatch
):
    """A curation batch whose commit fails leaves none of the frames it
    persisted cached."""
    sink = _curation_sink(spark, str(tmp_path / "cur"))
    frame_type = type(spark.range(1))
    persist = frame_type.persist
    persisted = []

    def recording_persist(df, *args, **kwargs):
        persisted.append(df)
        return persist(df, *args, **kwargs)

    def boom(fs, root, version, manifest):
        raise RuntimeError("simulated writer crash before commit")

    monkeypatch.setattr(frame_type, "persist", recording_persist)
    monkeypatch.setattr(txn, "_publish", boom)
    with pytest.raises(RuntimeError, match="simulated"):
        sink(_docs(spark, range(6)), 0)
    assert persisted
    assert [df.storageLevel for df in persisted] == [StorageLevel.NONE] * len(persisted)


def test_every_table_read_goes_through_the_one_log_reader():
    """``streaming/sinks.py`` reads a committed table in one place,
    ``_read_log``, which applies the manifest's fold watermark: views,
    compaction and the sinks that read their own history (the gate's
    fingerprints, curation's ``fp`` and ``sig``) all go through it."""
    import ast
    import inspect

    callers = set()
    for top in ast.parse(inspect.getsource(S)).body:
        for node in ast.walk(top):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("read", "snapshot")
            ):
                callers.add(top.name)
    assert callers == {"_read_log"}


def test_substring_clean_sink_reads_its_fold_watermark_from_the_manifest(
    spark, tmp_path, count_jobs
):
    """With a history committed, a batch runs no job to find its skip
    watermark: it comes from the manifest.  Aggregating it out of the
    history's rows made batches 1 and 2 run 21 jobs each."""
    sink = S.make_substring_clean_sink(
        str(tmp_path / "hist"), str(tmp_path / "clean"), k=4
    )
    jobs = [
        count_jobs(lambda b=b: sink(_docs(spark, range(b * 6, b * 6 + 6)), b))
        for b in range(3)
    ]
    assert jobs == [16, 15, 15]


def test_curation_sink_releases_its_signature_checkpoint(spark, tmp_path):
    """The near-dup step's eager signature checkpoint is released when
    the call ends: no RDD persisted during a curation batch outlives it."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    sink = _curation_sink(spark, str(tmp_path / "cur"))
    before = set(rdds().keySet())
    sink(_docs(spark, range(6)), 0)
    assert set(rdds().keySet()) - before == set()
