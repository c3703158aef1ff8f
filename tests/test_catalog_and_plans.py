"""Catalog + query-registry sanity (the oracle harness does the deep
value checks; these pin the contract shape and a few hand-computed
invariants)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_spark_streaming_pipeline_spark.catalog import TABLES, load_table, register_views
from kafka_spark_streaming_pipeline_spark.plans import QUERIES


def test_all_tables_load_with_expected_keys(spark, sf_dir):
    tables = register_views(spark, sf_dir)
    assert set(tables) == set(TABLES)
    assert dict(tables["events"].dtypes)["ts"] == "timestamp"  # nanos converted
    assert tables["lineitem"].count() == 6000
    assert spark.sql("SELECT count(*) n FROM region").collect()[0].n == 5


def test_registry_contract():
    assert len(QUERIES) >= 45
    for name, q in QUERIES.items():
        assert q.builder is not None
        assert q.doc, f"{name} missing docstring"
    no_oracle = {n for n, q in QUERIES.items() if q.oracle is None}
    # EVERY registry entry is value-checked.  r5 promoted the ANN tier
    # — x06/x49 quantized SRP, x15 portable IVF, x37 unrolled-CTE
    # k-means, x62 PQ, x69 IVF-PQ — plus x76 DDSketch and the x77 BPE
    # training loop (a RECURSIVE CTE replays the vocabulary evolution)
    # to full value oracles via the determinism kit: hash60 seeding,
    # exact-BIGINT sums, rounded argmax with tiebreaks.  Even x80's
    # power iteration is pinned bit-for-bit.  r6 retired the last
    # rows-only entry: x18 now runs the portable register-level HLL
    # (daily pre-agg -> weekly max(rho) merge) whose estimator is
    # exact-BIGINT arithmetic; the opaque DataSketches binary path
    # keeps its merge-equals-direct + error-bound operator tests.
    assert no_oracle == set()


def test_cache_lifecycle_clear_caches_releases_everything(spark, sf_dir):
    """Operator-internal persists (x84's dense hourly grid, x74's LM
    frames, x75's hashed shingle frame) accumulate in the tracked registry
    across facade calls; Engine.clear_caches must return the session
    to its pre-workload cache footprint — the round-5 advice leak,
    now pinned end to end."""
    from kafka_spark_streaming_pipeline_spark import cache as cache_reg
    from kafka_spark_streaming_pipeline_spark.engine import Engine

    sc = spark.sparkContext._jsc.sc()
    base_rdds = sc.getPersistentRDDs().size()
    n0 = len(cache_reg._TRACKED)
    for _ in range(3):
        for name in ("x84_leadlag_xcorr", "x74_bigram_perplexity", "x75_containment_pairs"):
            QUERIES[name].builder(spark, sf_dir).count()
    accumulated = len(cache_reg._TRACKED)
    assert accumulated > n0  # the loop really persisted
    released = Engine(spark, sf_dir).clear_caches(blocking=True)
    assert released >= accumulated - n0
    assert len(cache_reg._TRACKED) == 0
    assert sc.getPersistentRDDs().size() <= base_rdds


def test_flagship_matches_hand_computed_gaps(spark, sf_dir):
    out = {r.user_id: r for r in QUERIES["p01_stream_health"].builder(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events")
    ids = sorted(r.event_id for r in ev.filter(F.col("user_id") == 0).collect())
    missing = sum(b - a - 1 for a, b in zip(ids, ids[1:]))
    gaps = sum(1 for a, b in zip(ids, ids[1:]) if b - a > 1)
    assert out[0].n_events == len(ids)
    assert out[0].missing_total == missing
    assert out[0].gap_events == gaps
    assert out[0].last_event_id == ids[-1]


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    qs, oracles = e.queries(), e.oracle_sql()
    assert set(oracles) <= set(qs)
    got = qs["q17_orderby_limit"](spark, "/root/testdata/sf0.001")
    assert got.count() == 10


@pytest.mark.parametrize("name", ["q03_join_broadcast_dims", "p13_cosine_topk"])
def test_plans_are_broadcast_where_expected(spark, sf_dir, name):
    plan = QUERIES[name].builder(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_bpe_encode_plan_is_map_only(spark, sf_dir):
    # the whole tokenizer encode must be one codegen projection over
    # the scan: no Exchange, no join, no Python — that's what makes it
    # a scan-speed pass at 100 TB
    plan = (
        QUERIES["x88_bpe_encode"]
        .builder(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Python" not in plan and "ArrowEval" not in plan


def test_bpe_train_encode_roundtrip(spark):
    # encode with LEARNED merges: the trained pair list applied by
    # bpe_encode merges exactly the trained pairs and nothing else
    from kafka_spark_streaming_pipeline_spark.operators.text import (
        bpe_encode,
        bpe_train,
    )

    docs = spark.createDataFrame(
        [(1, "the thin then"), (2, "the other there")], "doc_id long, text string"
    )
    merges = bpe_train(docs, n_merges=3)
    enc = bpe_encode(docs, merges).orderBy("doc_id").collect()
    learned = [(r["left"], r["right"]) for r in merges.orderBy("merge_rank").collect()]
    # 'th' + 'the' are the dominant pairs in this corpus; every 'the'
    # word must therefore encode to the single symbol 'the'
    assert ("t", "h") == learned[0]
    assert enc[0].encoded.split(" | ")[0] == "the"
    assert enc[0].n_words == 3 and enc[1].n_words == 3


def test_batch_file_readers_explicit_schema(spark, tmp_path):
    from pyspark.sql import types as T

    from kafka_spark_streaming_pipeline_spark.sources.files import read_csv, read_json

    schema = T.StructType(
        [
            T.StructField("stream_id", T.StringType()),
            T.StructField("chunk_index", T.LongType()),
            T.StructField("size_bytes", T.LongType()),
        ]
    )
    (tmp_path / "d.jsonl").write_text(
        '{"stream_id": "s1", "chunk_index": 0, "size_bytes": 10}\n'
        '{"stream_id": "s1", "chunk_index": "BAD", "size_bytes": 20}\n'
    )
    rows = read_json(spark, str(tmp_path / "d.jsonl"), schema).collect()
    assert len(rows) == 2
    assert rows[0].chunk_index == 0
    assert rows[1].chunk_index is None  # malformed -> null, not an exception

    (tmp_path / "d.csv").write_text("stream_id,chunk_index,size_bytes\ns2,5,99\n")
    crow = read_csv(spark, str(tmp_path / "d.csv"), schema).collect()[0]
    assert (crow.stream_id, crow.chunk_index, crow.size_bytes) == ("s2", 5, 99)


def test_no_ntz_leak_and_no_post_scan_cast(spark, sf_dir):
    # the r2 per-column NTZ cast projection cost q16 3.6x; the fix reads
    # TIMESTAMP (ltz) at the scan itself. A timestamp_ntz dtype leaking
    # out of load_table means the scan-level normalization regressed.
    from kafka_spark_streaming_pipeline_spark.catalog import load_tables

    for name, df in load_tables(spark, sf_dir).items():
        bad = [(c, t) for c, t in df.dtypes if t == "timestamp_ntz"]
        assert not bad, (name, bad)

    from kafka_spark_streaming_pipeline_spark.plans import QUERIES

    plan = (
        QUERIES["q16_running_sum"]
        .builder(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # window partitioned by custkey: exactly one exchange, and the scan
    # output feeds it without a cast projection on the date column
    assert plan.count("Exchange hashpartitioning") == 1
    assert "cast(o_orderdate" not in plan


def test_orc_roundtrip_with_pushdown(spark, sf_dir, tmp_path):
    from kafka_spark_streaming_pipeline_spark.catalog import load_table
    from kafka_spark_streaming_pipeline_spark.sources.files import read_orc

    nation = load_table(spark, sf_dir, "nation")
    dest = str(tmp_path / "nation_orc")
    nation.write.orc(dest)
    back = read_orc(spark, dest)
    assert back.count() == nation.count()
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in nation.collect()}
    plan = (
        back.filter(F.col("n_regionkey") == 1)
        .select("n_name")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # ORC scans push filters and prune columns like parquet
    assert "PushedFilters: [IsNotNull(n_regionkey), EqualTo(n_regionkey,1)" in plan


def test_engine_facade_surfaces(spark, sf_dir):
    from kafka_spark_streaming_pipeline_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    assert eng.table("nation").count() == 25
    assert eng.sql("SELECT count(*) AS n FROM region").first()["n"] == 5
    assert eng.query("q01_pricing_summary").count() == 6
    assert "p18_bm25_topk" in eng.query_names()
    top = eng.search(["customer", "vector"], k=3).collect()
    assert len(top) == 3 and top[0]["rank"] == 1
    assert eng.chunks().count() > 0
    nn = eng.nearest_embeddings(k=1).collect()
    assert all(r.query_id == r.neighbor_id for r in nn)  # self-match
    ppl = eng.perplexity_scores()
    assert {"doc_id", "n_bigrams", "cross_entropy"} <= set(ppl.columns)
    assert eng.contained_docs().columns[:2] == ["doc_a", "doc_b"]
    pq = eng.price_quantiles(qs=[0.5])
    assert pq.count() > 0 and "estimate" in pq.columns
    trip = eng.mine_triplets()
    assert {"anchor_id", "positive_id", "negative_id"} <= set(trip.columns)


def test_engine_index_and_ingest(spark, sf_dir, tmp_path):
    from kafka_spark_streaming_pipeline_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    dest = str(tmp_path / "eng_idx")
    eng.build_search_index(dest, n_buckets=8)
    hits = eng.lookup(dest, ["customer"], n_buckets=8).collect()
    assert len(hits) == 1 and hits[0]["df"] > 0

    new_docs = spark.createDataFrame(
        [(10_000, "brand new never seen text")], ["doc_id", "text"]
    )
    flags = eng.ingest_dedup(new_docs).collect()
    assert len(flags) == 1 and flags[0]["keep"]


def test_engine_persisted_dedup_history_no_corpus_scan(spark, sf_dir, tmp_path):
    """The incremental-dedup loop: build the fingerprint history ONCE,
    then every batch plan reads only the persisted fingerprints — the
    documents table never appears in the batch plan — and accepted
    batches append their fingerprints for the next batch to see."""
    from kafka_spark_streaming_pipeline_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    dest = str(tmp_path / "fp_history")
    eng.build_dedup_history(dest)
    # idempotent: a second call must NOT rebuild (capture version dir count)
    import os

    commits = os.listdir(f"{dest}/_commits")
    eng.build_dedup_history(dest)
    assert os.listdir(f"{dest}/_commits") == commits

    batch1 = spark.createDataFrame(
        [(10_000, "persisted history batch text"),
         (10_001, "persisted history batch text")],  # in-batch dup
        ["doc_id", "text"],
    )
    result = eng.ingest_dedup(batch1)
    plan = result._jdf.queryExecution().executedPlan().toString()
    assert "documents" not in plan  # history table only, corpus untouched
    rows = {r["doc_id"]: r for r in result.collect()}
    assert not rows[10_000]["seen_in_history"] and rows[10_000]["keep"]
    assert not rows[10_001]["keep"]  # loses the in-batch dedup

    # accept the batch; the SAME text arriving later is now history
    eng.accept_ingest(result)
    batch2 = spark.createDataFrame(
        [(10_002, "persisted history batch text")], ["doc_id", "text"]
    )
    again = eng.ingest_dedup(batch2).collect()
    assert again[0]["seen_in_history"] and not again[0]["keep"]


def test_engine_ingest_dedup_without_history_warns(spark, sf_dir):
    """The convenience fallback (no fingerprint history) re-hashes the
    whole corpus per batch — it must be LOUD so a pipeline can't hit
    it silently in a loop."""
    import warnings

    from kafka_spark_streaming_pipeline_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    batch = spark.createDataFrame([(1, "warn path text")], ["doc_id", "text"])
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        eng.ingest_dedup(batch)
    assert any("build_dedup_history" in str(w.message) for w in caught)


def test_engine_persisted_neardup_history_no_corpus_scan(spark, sf_dir, tmp_path):
    """The incremental NEAR-dup loop: signatures persisted once; a
    batch plan reads only the signature table (no documents scan);
    accepted batches append their signatures for the next batch."""
    from kafka_spark_streaming_pipeline_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    dest = str(tmp_path / "sig_history")
    eng.build_neardup_history(dest)

    base = "the quick brown fox jumps over the lazy dog again and again today"
    batch1 = spark.createDataFrame(
        [(20_000, base), (20_001, base + " extra")], ["doc_id", "text"]
    )
    result = eng.ingest_neardup(batch1, min_est_jaccard=0.3)
    plan = result._jdf.queryExecution().executedPlan().toString()
    assert "documents" not in plan  # signature table only, corpus untouched
    pairs = {(r.new_id, r.matched_id): r for r in result.collect()}
    assert (20_000, 20_001) in pairs  # in-batch near-dup found
    assert not pairs[(20_000, 20_001)].from_history

    # accept batch1; a later near-identical doc must match via HISTORY
    eng.accept_neardup(batch1)
    batch2 = spark.createDataFrame([(20_002, base + " anew")], ["doc_id", "text"])
    later = eng.ingest_neardup(batch2, min_est_jaccard=0.3).collect()
    hist_matches = {r.matched_id for r in later if r.from_history}
    assert 20_000 in hist_matches


def test_read_evolved_merges_schema_with_defaults(spark, tmp_path):
    from kafka_spark_streaming_pipeline_spark.sources.files import read_evolved

    root = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(
        f"{root}/batch=1"
    )
    # later write adds a quality column
    spark.createDataFrame(
        [(2, "b", 0.9)], "id long, name string, quality double"
    ).write.parquet(f"{root}/batch=2")

    out = read_evolved(spark, root, defaults={"quality": 0.5})
    rows = {r["id"]: r for r in out.collect()}
    assert set(out.columns) >= {"id", "name", "quality"}
    assert rows[1]["quality"] == 0.5  # old files backfilled
    assert rows[2]["quality"] == 0.9


def test_engine_round4_surfaces(spark, sf_dir):
    """The round-4 facade additions: hybrid search, SemDeDup, the
    quality report, and training shards all return live DataFrames
    consistent with their underlying registered queries."""
    from kafka_spark_streaming_pipeline_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    hy = eng.hybrid_search(["customer", "vector", "merge", "stream"], k=5).collect()
    assert len(hy) == 5 and hy[0]["rank"] == 1
    assert all(r.n_sources in (1, 2) for r in hy)

    sd = eng.semantic_dedup().limit(5).collect()
    assert all(r.removed_id > r.kept_id for r in sd)

    qr = eng.quality_report()
    n_docs = eng.table("documents").count()
    assert qr.count() == n_docs
    kept = qr.filter("keep").count()
    assert 0 < kept < n_docs  # the rules discriminate

    sh = eng.shards(n_shards=4)
    assert sh.count() == n_docs
    assert sh.select("shard").distinct().count() == 4


def test_engine_round4_surface(spark, sf_dir):
    """The facade exposes the round-4 tiers: PQ search, bloom screen,
    DSIR selection, line dedup, KMV corpus overlap."""
    from pyspark.sql import functions as F

    from kafka_spark_streaming_pipeline_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    pq = eng.pq_search(k=1).collect()
    assert all(r.query_id == r.neighbor_id for r in pq if r.rank == 1)  # self-match

    docs = eng.table("documents")
    screen = eng.contamination_screen(
        docs.filter(F.col("doc_id") % 20 != 0), docs.filter(F.col("doc_id") % 20 == 0)
    )
    assert screen.count() > 0

    target = docs.filter(F.col("doc_id") < 25)
    sel = eng.dsir_select(target)
    assert {"dsir_weight", "selected"} <= set(sel.columns) and sel.count() > 0

    ld = eng.dedup_lines()
    assert {"dup_line_ratio", "cleaned_fingerprint"} <= set(ld.columns)

    ov = eng.corpus_overlap(docs.filter(F.col("doc_id") % 2 == 1)).first()
    assert 0.0 <= ov.kmv_jaccard <= 1.0 and ov.est_union > 0


def test_shingle_oracles_agree_on_short_docs(spark, tmp_path):
    """Spark's shingle_arr emits ONE PARTIAL shingle for docs shorter
    than k words (concat_ws skips the nulls); the DuckDB oracles must
    mirror that (concat_ws, not ||, which nulls the whole shingle and
    silently drops short docs).  Regression for the family-wide
    divergence found in round 4: a corpus with 1-2-token duplicate
    docs must produce IDENTICAL results from both engines."""
    import duckdb

    from kafka_spark_streaming_pipeline_spark.plans import QUERIES
    from tools.check_oracle import canonical

    docs = spark.createDataFrame(
        [
            (1, "hello world", "en", "web", 11),
            (2, "hello world", "en", "web", 11),
            (3, "solo", "en", "web", 4),
            (4, "solo", "en", "web", 4),
            (5, "alpha beta gamma delta epsilon common tail", "en", "web", 43),
            (6, "alpha beta gamma delta epsilon common tail", "en", "web", 43),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    sf_dir = str(tmp_path)
    docs.write.parquet(f"{sf_dir}/documents.parquet")

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet/*.parquet'"
    )
    for name in (
        "x02_ngram_jaccard",
        "x75_containment_pairs",
        "x29_repetition_stats",
        "x35_edit_distance_pairs",
        "p12_minhash_lsh",
        "p15_verified_neardups",
        "x16_winnow_fingerprints",
        "x53_gopher_rules",
        "x68_kmv_corpus_overlap",
        "x74_bigram_perplexity",
    ):
        q = QUERIES[name]
        sdf = q.builder(spark, sf_dir)
        s_rows = [tuple(r) for r in sdf.collect()]
        o = con.execute(q.oracle).fetchall()
        o_cols = [d[0] for d in con.description]
        assert len(s_rows) == len(o), (name, len(s_rows), len(o))
        assert canonical(s_rows, sdf.columns) == canonical(o, o_cols), name


def test_vector_index_family_matches_its_oracles(spark, sf_dir):
    """The vector-index family replays exactly in DuckDB at the test
    scale: IVF (x15), k-means (x37, and under x90's topics and x109's
    silhouettes), PQ (x62), the persisted PQ index (x95) and IVF-PQ
    (x69).  Every trainer's hash60 seeding, exact-BIGINT centroid sums
    and rounded argmax must match the SQL twin to the last row."""
    import os

    import duckdb

    from kafka_spark_streaming_pipeline_spark.catalog import table_path
    from tools.check_oracle import canonical

    with duckdb.connect() as con:
        for t in TABLES:
            path = table_path(sf_dir, t)
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        for name in (
            "x15_ivf_topk",
            "x37_kmeans_clusters",
            "x62_pq_topk",
            "x69_ivfpq_topk",
            "x90_cluster_topics",
            "x95_pq_index_search",
            "x109_cluster_silhouette",
        ):
            q = QUERIES[name]
            sdf = q.builder(spark, sf_dir)
            s_rows = [tuple(r) for r in sdf.collect()]
            o = con.execute(q.oracle).fetchall()
            o_cols = [d[0] for d in con.description]
            assert len(s_rows) == len(o), (name, len(s_rows), len(o))
            assert canonical(s_rows, sdf.columns) == canonical(o, o_cols), name


def test_engine_round5_surfaces(spark, sf_dir):
    """The round-5 facade additions: datasheet, cluster topics,
    canonical selection, portable distinct counts, BPE tokenize."""
    from kafka_spark_streaming_pipeline_spark.engine import Engine
    from kafka_spark_streaming_pipeline_spark.plans.extensions import X88_MERGES

    eng = Engine(spark, sf_dir)

    ds = eng.datasheet().collect()
    assert len(ds) > 0
    for r in ds:
        assert r.n_docs > 0 and 0.0 <= r.dup_rate < 1.0
        assert 0.0 <= r.en_rate <= 1.0

    ct = eng.cluster_topics(k=8, iterations=1).collect()
    cells = {r.cell for r in ct}
    assert len(cells) > 1  # several clusters got labels
    assert all(1 <= r.rank <= 3 for r in ct)

    cd = eng.canonical_docs()
    one_canon = cd.groupBy("component").agg(
        F.sum(F.col("is_canonical").cast("int")).alias("n")
    )
    assert one_canon.filter("n != 1").count() == 0  # exactly one keeper per cluster

    dc = {r.event_type: r.approx_distinct for r in
          eng.distinct_counts(["event_type"], "user_id").collect()}
    exact = {r.event_type: r.n for r in
             eng.table("events").groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("n")).collect()}
    for et, n in exact.items():
        assert abs(dc[et] - n) / n < 0.20

    tk = eng.tokenize(X88_MERGES)
    assert tk.count() == eng.table("documents").count()
    assert {"encoded", "n_words", "n_symbols"} <= set(tk.columns)


def test_engine_curation_facade_surfaces(spark, sf_dir):
    """Round-6 facade methods reach their operators with sane shapes."""
    from kafka_spark_streaming_pipeline_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    funnel = {r["stage"]: r for r in eng.curate().collect()}
    assert set(funnel) == {
        "0_eval_holdout", "1_quality", "2_exact_dedup",
        "3_near_dedup", "4_decontaminate", "5_shards",
    }
    assert funnel["5_shards"].docs_out <= funnel["0_eval_holdout"].docs_in

    leak = eng.split_leakage()
    assert {"split_a", "split_b", "n_pairs", "leaky"} <= set(leak.columns)

    m = eng.source_overlap()
    assert m.count() == 190  # 20 sources -> unordered pairs
    assert "kmv_jaccard" in m.columns

    from pyspark.sql import functions as F

    drift = eng.drift(eng.table("documents").filter(F.col("doc_id") % 2 == 1))
    assert "delta_en_rate" in drift.columns and drift.count() > 0

    cur = eng.curriculum(n_stages=2, n_shards=2)
    assert set(r["stage"] for r in cur.select("stage").distinct().collect()) <= {1, 2}

    plan = eng.budget_plan()
    assert {"alloc_tokens", "epochs", "capped", "unallocated_tokens"} <= set(plan.columns)
    assert plan.count() == 20
