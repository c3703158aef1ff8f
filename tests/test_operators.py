"""Unit tests for the extension operators (dedup, similarity, text,
multimodal) on small synthetic frames — the oracle harness covers the
driver tables; these cover edge semantics the oracle can't (near-dup
recall, LSH vs brute-force agreement, stubs)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_spark_streaming_pipeline_spark.operators.dedup import (
    exact_dedup_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash64,
)
from kafka_spark_streaming_pipeline_spark.operators.multimodal import (
    decode_image,
    fake_decode_meta,
    frame_sample_plan,
    with_binary_payload,
)
from kafka_spark_streaming_pipeline_spark.operators.similarity import (
    cosine_topk,
    lsh_cosine_topk,
)
from kafka_spark_streaming_pipeline_spark.operators.text import lang_id, tokens


BASE = (
    "the quick brown fox jumps over the lazy dog and then runs far away "
    "into the deep dark forest to find some food for the long cold winter"
)


def _docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact dup of 0
        (2, BASE.replace("lazy", "sleepy")),  # near dup of 0 (same block key)
        (3, "completely different content about spark sql engines and shuffles "
            "with many unrelated words appearing exactly once in this text"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(spark):
    out = {r.doc_id: r for r in exact_dedup_groups(_docs(spark)).collect()}
    assert out[0].group_size == 2 and out[1].group_size == 2
    assert out[0].is_canonical and not out[1].is_canonical
    assert out[1].canonical_id == 0
    assert out[2].group_size == 1  # near-dup is NOT an exact dup


def test_ngram_jaccard_finds_near_dup(spark):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(_docs(spark), block_words=2).collect()
    }
    assert pairs[(0, 1)] == pytest.approx(1.0)
    assert 0.5 < pairs[(0, 2)] < 1.0


def test_minhash_lsh_finds_dups_not_distinct(spark):
    pairs = {(r.doc_a, r.doc_b): r.est_jaccard for r in minhash_lsh_pairs(_docs(spark)).collect()}
    assert pairs[(0, 1)] == pytest.approx(1.0)  # identical docs share all bands
    assert (0, 3) not in pairs and (1, 3) not in pairs


def _sig_hamming(a: list[int], b: list[int]) -> int:
    return sum(bin(x ^ y).count("1") for x, y in zip(a, b))


def test_simhash_identical_docs_equal_hash(spark):
    out = {r.doc_id: list(r.sig) for r in simhash64(_docs(spark)).collect()}
    assert out[0] == out[1]
    assert len(out[0]) == 4 and all(0 <= w < 2 ** 16 for w in out[0])
    ham02 = _sig_hamming(out[0], out[2])
    ham03 = _sig_hamming(out[0], out[3])
    assert ham02 <= ham03  # near-dup at least as close as unrelated doc


def _vecs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [-1.0, 0.0, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_self_first(spark):
    emb = _vecs(spark)
    out = cosine_topk(emb.filter(F.col("vec_id") == 0), emb, k=3).collect()
    ranked = sorted(out, key=lambda r: r.rank)
    assert ranked[0].neighbor_id == 0 and ranked[0].cosine_sim == pytest.approx(1.0)
    assert ranked[1].neighbor_id == 1
    assert all(r.neighbor_id != 3 for r in ranked)  # opposite vector never top-3


def test_lsh_cosine_agrees_with_brute_force_on_top1(spark, sf_dir):
    from kafka_spark_streaming_pipeline_spark.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    planes = [[((7 * i + 13 * p) % 17) - 8 for i in range(64)] for p in range(4)]
    brute = {r.query_id: r.neighbor_id for r in cosine_topk(queries, emb, k=1).collect()}
    approx = {r.query_id: r.neighbor_id for r in lsh_cosine_topk(queries, emb, planes, k=1).collect()}
    # self-match always lands in the query's own bucket -> top-1 agrees
    assert approx == brute


def test_multimodal_stub_and_fake_decode(spark):
    docs = _docs(spark)
    with pytest.raises(NotImplementedError):
        decode_image(b"\x00")
    meta = fake_decode_meta(with_binary_payload(docs))
    rows = {r.doc_id: r for r in meta.collect()}
    assert rows[0].n_bytes == len(BASE.encode())
    assert rows[0].width == rows[0].n_bytes % 640 + 16
    frames = frame_sample_plan(meta, every_nth=5)
    n_frames0 = rows[0].n_frames
    expect = len(range(0, n_frames0, 5))
    assert frames.filter(F.col("doc_id") == 0).count() == expect


def test_lang_id_markers(spark):
    rows = [
        (0, "the cat and the dog of a house"),
        (1, "el gato y la casa de que"),
        (2, "der hund und die katze das haus"),
        (3, "xyzzy plugh quux"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.pred for r in df.select("doc_id", lang_id(F.col("text")).alias("pred")).collect()}
    assert out[0] == "en" and out[1] == "es" and out[2] == "de" and out[3] == "und"


def test_tokens_lowercase_split(spark):
    df = spark.createDataFrame([("A b C",)], "text string")
    [row] = df.select(tokens(F.col("text")).alias("t")).collect()
    assert row.t == ["a", "b", "c"]


def test_rolling_fingerprint_order_sensitive(spark):
    from kafka_spark_streaming_pipeline_spark.operators.text import rolling_fingerprint

    df = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "alpha beta gamma"), (2, "gamma beta alpha")],
        "doc_id long, text string",
    )
    fps = {r.doc_id: r.fp for r in df.select("doc_id", rolling_fingerprint(F.col("text")).alias("fp")).collect()}
    assert fps[0] == fps[1]          # deterministic
    assert fps[0] != fps[2]          # reorder changes it (bag-of-words wouldn't)
    assert 0 <= fps[0] < 2_147_483_647


def test_bpe_regex_token_count(spark):
    from kafka_spark_streaming_pipeline_spark.operators.text import bpe_regex_token_count

    df = spark.createDataFrame([(0, "Hello, world 123 foo-bar")], "doc_id long, text string")
    # hello | , | world | 1 | 2 | 3 | foo | - | bar  = 9 pre-tokens
    assert df.select(bpe_regex_token_count(F.col("text")).alias("n")).first().n == 9


def test_embedding_neardup_pairs(spark):
    from kafka_spark_streaming_pipeline_spark.operators.similarity import embedding_neardup_pairs

    # 0 and 1 nearly parallel (cosine ~1), 2 orthogonal-ish, 3 = -0
    rows = [
        (0, [1.0, 0.5, 0.25, 0.0]),
        (1, [0.9, 0.45, 0.2, 0.01]),
        (2, [-0.5, 1.0, -0.25, 0.5]),
        (3, [-1.0, -0.5, -0.25, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    planes = [[1, 1, 1, 1], [1, -1, 1, -1]]
    pairs = {(r.vec_a, r.vec_b): r.cosine_sim for r in
             embedding_neardup_pairs(emb, planes, threshold=0.9).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.99
    assert all(a == 0 and b == 1 for a, b in pairs)  # no false positives above 0.9


def test_ivf_topk_recall(spark, sf_dir):
    from kafka_spark_streaming_pipeline_spark.operators.similarity import ivf_topk
    from kafka_spark_streaming_pipeline_spark.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {r.query_id: r.neighbor_id for r in
             cosine_topk(queries, emb, k=1).filter(F.col("rank") == 1).collect()}
    approx_rows = ivf_topk(queries, emb, nlist=8, nprobe=4, k=5).collect()
    approx_top1 = {r.query_id: r.neighbor_id for r in approx_rows if r.rank == 1}
    # every query must at least find itself (cosine 1.0) when probing
    # its own cell; recall@1 vs brute force should be high with nprobe=4/8
    hits = sum(1 for q in exact if approx_top1.get(q) == exact[q])
    assert hits >= 8
    per_q = {}
    for r in approx_rows:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_q.values())


def test_nearest_cells_empty_centroid_set_assigns_nothing(spark):
    """An empty centroid set assigns no cell: the n=1 array_min path
    (NULL over an empty array) must give the same empty result as the
    sort path, not one row with a NULL cell."""
    from kafka_spark_streaming_pipeline_spark.operators.similarity import nearest_cells

    vecs = spark.createDataFrame([(1, [1.0, 0.0]), (2, [0.0, 1.0])], "id int, v array<double>")
    cents = spark.createDataFrame([], "cell int, centroid array<double>")
    one = nearest_cells(vecs, cents, 1, "cell").collect()
    two = nearest_cells(vecs, cents, 2, "cell").collect()
    assert one == two == []
    # a non-empty set still assigns every vector exactly one cell
    cents = spark.createDataFrame([(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cell int, centroid array<double>")
    got = {r.id: r.cell for r in nearest_cells(vecs, cents, 1, "cell").collect()}
    assert got == {1: 0, 2: 1}


def test_pq_topk_rerank_recall(spark, sf_dir):
    """PQ ADC shortlist + exact rerank: high recall vs brute force while
    the exact math only touches the shortlist; codes stay in-range; the
    whole pipeline is hash-seeded so reruns are identical."""
    from kafka_spark_streaming_pipeline_spark.operators.similarity import (
        pq_encode,
        pq_topk,
        pq_train_codebooks,
    )
    from kafka_spark_streaming_pipeline_spark.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact: dict[int, set[int]] = {}
    for r in cosine_topk(queries, emb, k=5).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)

    approx_rows = pq_topk(queries, emb, m=16, ksub=16, k=5, dim=64, rerank=50).collect()
    approx: dict[int, set[int]] = {}
    for r in approx_rows:
        approx.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    assert hits >= 40  # measured 46/50 (recall@5 = 0.92), deterministic

    # reranked scores are EXACT cosine: every query finds itself at 1.0
    self_rows = [r for r in approx_rows if r.query_id == r.neighbor_id]
    assert len(self_rows) == 10
    assert all(abs(r.cosine_sim - 1.0) < 1e-3 for r in self_rows)

    # codes: m entries, every position inside the trained codebook
    c = emb.select(
        F.col("vec_id").alias("id"), F.col("embedding").cast("array<double>").alias("v")
    )
    cb = pq_train_codebooks(c, m=16, ksub=16, dsub=4)
    codes = pq_encode(c, cb, m=16, dsub=4)
    stats = codes.select(
        F.min(F.size("codes")).alias("mn"),
        F.max(F.size("codes")).alias("mx"),
        F.max(F.array_max("codes")).alias("cmax"),
        F.min(F.array_min("codes")).alias("cmin"),
    ).first()
    assert stats.mn == stats.mx == 16
    assert 0 <= stats.cmin and stats.cmax < 16

    # determinism: a second run returns the identical ranked set
    again = pq_topk(queries, emb, m=16, ksub=16, k=5, dim=64, rerank=50).collect()
    assert sorted((r.query_id, r.neighbor_id, r.rank) for r in again) == sorted(
        (r.query_id, r.neighbor_id, r.rank) for r in approx_rows
    )


def test_winnowing_shares_fingerprints_on_overlap(spark):
    from kafka_spark_streaming_pipeline_spark.operators.text import winnow_fingerprints

    shared = "one two three four five six seven eight nine ten"
    df = spark.createDataFrame(
        [
            (0, f"intro words here {shared}"),
            (1, f"{shared} totally different tail content follows"),
            (2, "unrelated text with no overlap whatsoever in any span of words"),
        ],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(df, k=3, window=4).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fingerprint)
    # winnowing guarantee: overlap of >= window+k-1 tokens shares a fingerprint
    assert by_doc[0] & by_doc[1]
    assert not (by_doc[0] & by_doc[2])


def test_hll_sketch_rollup_matches_direct(spark, sf_dir):
    """Merging per-day sketches must equal sketching the whole table
    directly (identical registers), and estimates stay within 5% of
    exact distinct counts."""
    from kafka_spark_streaming_pipeline_spark.catalog import load_table
    from kafka_spark_streaming_pipeline_spark.operators.sketches import (
        hll_rollup,
        hll_sketch_by,
    )

    events = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    pre = hll_sketch_by(events, ["event_type", "day"], "user_id")
    rolled = {r.event_type: r.approx_distinct
              for r in hll_rollup(pre, ["event_type"]).collect()}
    direct = {r.event_type: r.approx_distinct
              for r in hll_sketch_by(events, ["event_type"], "user_id").collect()}
    exact = {r.event_type: r.n
             for r in events.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("n")).collect()}
    assert rolled == direct  # merge-of-parts == single pass
    for et, n in exact.items():
        assert abs(rolled[et] - n) / n < 0.05


def test_hll_portable_registers_merge_and_error(spark, sf_dir):
    """Portable HLL: rolled-up registers equal direct registers
    row-for-row (the mergeability law), and the estimator lands within
    the expected error envelope for 256 registers (~1.04/sqrt(256) =
    6.5% standard error; assert 3 sigma)."""
    from kafka_spark_streaming_pipeline_spark.catalog import load_table
    from kafka_spark_streaming_pipeline_spark.operators.sketches import (
        hll_portable_estimate,
        hll_portable_registers,
        hll_portable_rollup,
    )

    events = load_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    pre = hll_portable_registers(events, ["event_type", "day"], "user_id")
    rolled = hll_portable_rollup(pre, ["event_type"])
    direct = hll_portable_registers(events, ["event_type"], "user_id")
    assert sorted(map(tuple, rolled.collect())) == sorted(map(tuple, direct.collect()))

    est = {r.event_type: r.approx_distinct
           for r in hll_portable_estimate(rolled, ["event_type"]).collect()}
    exact = {r.event_type: r.n
             for r in events.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("n")).collect()}
    for et, n in exact.items():
        assert abs(est[et] - n) / n < 0.20, (et, est[et], n)


def test_connected_components_transitive_closure(spark):
    from kafka_spark_streaming_pipeline_spark.operators.dedup import connected_components

    # chain 1-2-3-4 (one cluster), pair 10-11, isolated pair 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20)], "doc_a long, doc_b long"
    )
    comp = {r.id: r.component for r in connected_components(pairs).collect()}
    assert comp[1] == comp[2] == comp[3] == comp[4] == 1
    assert comp[10] == comp[11] == 10
    assert comp[20] == comp[21] == 20


def test_pii_redaction_counts_and_replacement(spark):
    from kafka_spark_streaming_pipeline_spark.operators.text import pii_counts, redact_pii

    rows = [
        (0, "mail bob.smith+x@sub.example.org now"),
        (1, "host 192.168.1.200 and 10.0.0.1 up"),
        (2, "call 555-123-4567 today"),
        (3, "clean text with no sensitive content"),
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    counts = pii_counts(F.col("t"))
    out = {
        r.id: r
        for r in df.select(
            "id",
            counts["EMAIL"].alias("e"),
            counts["IPV4"].alias("i"),
            counts["PHONE"].alias("p"),
            redact_pii(F.col("t")).alias("red"),
        ).collect()
    }
    assert (out[0].e, out[0].i, out[0].p) == (1, 0, 0)
    assert out[0].red == "mail [EMAIL] now"
    assert out[1].i == 2 and out[1].red == "host [IPV4] and [IPV4] up"
    assert out[2].p == 1 and out[2].red == "call [PHONE] today"
    assert out[3].red == rows[3][1]  # untouched


def test_url_extraction_and_domain(spark):
    from kafka_spark_streaming_pipeline_spark.operators.text import (
        extract_urls,
        registrable_domain,
        url_host,
    )

    df = spark.createDataFrame(
        [(0, "see https://a.b.example.com/x/y?k=1 and http://plain.net plus text")],
        "id long, t string",
    )
    row = (
        df.select(F.explode(extract_urls(F.col("t"))).alias("url"))
        .select("url", url_host(F.col("url")).alias("h"), registrable_domain(url_host(F.col("url"))).alias("d"))
        .collect()
    )
    assert [r.url for r in row] == ["https://a.b.example.com/x/y?k=1", "http://plain.net"]
    assert [r.h for r in row] == ["a.b.example.com", "plain.net"]
    assert [r.d for r in row] == ["example.com", "plain.net"]


def test_edit_distance_pairs_verifies_small_edits(spark):
    from kafka_spark_streaming_pipeline_spark.operators.dedup import edit_distance_pairs

    out = {
        (r.doc_a, r.doc_b): r
        for r in edit_distance_pairs(_docs(spark)).collect()
    }
    assert out[(0, 1)].lev_distance == 0 and out[(0, 1)].char_sim == pytest.approx(1.0)
    # lazy -> sleepy: bounded character edit, high char_sim
    assert 0 < out[(0, 2)].lev_distance <= 6
    assert out[(0, 2)].char_sim > 0.95
    assert (0, 3) not in out  # different block, never compared


def test_matryoshka_truncate_norms(spark, sf_dir):
    from kafka_spark_streaming_pipeline_spark.catalog import load_table
    from kafka_spark_streaming_pipeline_spark.operators.similarity import matryoshka_truncate

    emb = load_table(spark, sf_dir, "embeddings")
    out = matryoshka_truncate(emb, dims=16).collect()
    assert all(len(r.truncated) == 16 for r in out)
    assert all(0.0 <= r.norm_retained <= 1.0 + 1e-6 for r in out)
    # renormalized prefix should be (approximately) unit length
    for r in out[:20]:
        norm = sum(x * x for x in r.truncated) ** 0.5
        assert norm == pytest.approx(1.0, abs=5e-3)


def test_kmeans_refinement_does_not_degrade(spark, sf_dir):
    from kafka_spark_streaming_pipeline_spark.catalog import load_table
    from kafka_spark_streaming_pipeline_spark.operators.similarity import kmeans_assign

    emb = load_table(spark, sf_dir, "embeddings")
    sim0 = (
        kmeans_assign(emb, k=8, iterations=0).agg(F.avg("sim").alias("s")).collect()[0].s
    )
    sim2 = (
        kmeans_assign(emb, k=8, iterations=2).agg(F.avg("sim").alias("s")).collect()[0].s
    )
    # Lloyd refinement must improve (or at least not degrade) mean
    # within-cluster cosine similarity vs the hash seeding
    assert sim2 >= sim0 - 1e-6
    # every vector assigned to exactly one of k cells
    cells = kmeans_assign(emb, k=8, iterations=1).select("cell").distinct().collect()
    assert 1 <= len(cells) <= 8


def test_ewma_zscore_matches_reference(spark):
    import math

    from kafka_spark_streaming_pipeline_spark.operators.timeseries import ewma_zscore

    vals = [10.0, 11.0, 9.0, 10.5, 10.0, 50.0, 10.2, 9.8]
    rows = [(1, i, float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "user_id long, event_id long, value double").withColumn(
        "ts", F.timestamp_micros(F.col("event_id") * 1_000_000)
    )
    # python reference for row 5 (trailing = rows 0..4)
    trail = vals[:5]
    wts = [(1 - 0.3) ** (len(trail) - 1 - i) for i in range(len(trail))]
    ref = sum(v * w for v, w in zip(trail, wts)) / sum(wts)
    got = ewma_zscore(df, alpha=0.3, span=20).orderBy("ts").collect()
    assert got[5].ewma == pytest.approx(ref, abs=1e-3)
    mean = sum(trail) / len(trail)
    std = math.sqrt(sum((v - mean) ** 2 for v in trail) / (len(trail) - 1))
    assert got[5].zscore == pytest.approx((50.0 - ref) / std, abs=1e-3)
    assert got[5].is_anomaly  # the 50.0 spike is flagged
    assert not got[4].is_anomaly
    assert got[0].ewma is None and got[1].ewma is None  # <3 trailing obs


def test_minhash_bucket_cap_flags_truncation(spark):
    # 5 identical docs -> every band bucket holds all 5; cap at 3
    rows = [(i, BASE) for i in range(5)] + [(9, "totally unrelated words " * 8)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = minhash_lsh_pairs(df, max_bucket_size=3).collect()
    pairs = {(r.doc_a, r.doc_b) for r in capped}
    # only the 3 surviving members pair up: C(3,2) = 3 pairs
    assert pairs == {(0, 1), (0, 2), (1, 2)}
    assert all(r.bucket_truncated for r in capped)
    # uncapped keeps the full C(5,2) = 10 pairs and the default schema
    full = minhash_lsh_pairs(df)
    assert full.count() == 10
    assert "bucket_truncated" not in full.columns


def test_capped_block_pairs_single_exchange(spark):
    """r12 plan pin for the shared pair expansion: rank/size window
    and the member-collect aggregate share ONE hash(blk) exchange
    (the groupBy reuses the window's partitioning), and the old
    narrow-rank + (blk, id) join-back shape is gone — payload bytes
    cross the network exactly once, with the cap still applied
    BEFORE any collect_list buffers a block."""
    from kafka_spark_streaming_pipeline_spark.operators.dedup import (
        _capped_block_pairs,
    )

    prepared = spark.createDataFrame(
        [("b1", i, [f"t{i}", "x"]) for i in range(5)]
        + [("b2", 10 + i, [f"u{i}"]) for i in range(3)],
        "blk string, doc_id long, payload array<string>",
    )
    pairs = _capped_block_pairs(prepared, "doc_id", "payload", 3)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "SortMergeJoin" not in plan and "Join" not in plan, plan
    rows = pairs.collect()
    got = {(r.doc_a, r.doc_b): r.block_truncated for r in rows}
    # b1 capped at its 3 smallest ids -> C(3,2) flagged pairs;
    # b2 under the cap -> full C(3,2), unflagged
    assert got == {
        (0, 1): True, (0, 2): True, (1, 2): True,
        (10, 11): False, (10, 12): False, (11, 12): False,
    }


def test_ivf_persisted_index_matches_inline(spark, sf_dir, tmp_path):
    from kafka_spark_streaming_pipeline_spark.catalog import load_table
    from kafka_spark_streaming_pipeline_spark.operators.similarity import (
        ivf_index_build,
        ivf_index_search,
        ivf_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    idx = str(tmp_path / "ivf")
    ivf_index_build(emb, idx, nlist=8)
    searched = ivf_index_search(spark, queries, idx, nprobe=4, k=5)
    inline = ivf_topk(queries, emb, nlist=8, nprobe=4, k=5)
    got = {(r.query_id, r.rank): r.neighbor_id for r in searched.collect()}
    want = {(r.query_id, r.rank): r.neighbor_id for r in inline.collect()}
    assert got == want  # same centroids training -> identical results
    # the postings scan must be dynamically partition-pruned, not a
    # full-index read
    plan = searched._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()


def test_cms_never_underestimates(spark, sf_dir):
    from kafka_spark_streaming_pipeline_spark.catalog import load_table
    from kafka_spark_streaming_pipeline_spark.operators.sketches import cms_build, cms_estimate
    from kafka_spark_streaming_pipeline_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("term"))
    sketch = cms_build(toks, "term")
    # sketch size is fixed: at most depth*width counters, total mass = depth * n_tokens
    n_counters = sketch.count()
    assert n_counters <= 4 * 256
    n_tokens = toks.count()
    assert sketch.agg(F.sum("cnt")).first()[0] == 4 * n_tokens
    # CMS invariant: estimate >= exact count, for EVERY term
    exact = toks.groupBy("term").agg(F.count("*").alias("exact"))
    est = cms_estimate(sketch, exact.select("term"))
    joined = exact.join(est, "term")
    assert joined.filter(F.col("cms_estimate") < F.col("exact")).count() == 0
    # unseen terms estimate to >= 0 (possibly colliding, never negative)
    unseen = spark.createDataFrame([("zzqqxx_never_seen",)], "term string")
    [row] = cms_estimate(sketch, unseen).collect()
    assert row.cms_estimate >= 0


def test_token_budget_sample_respects_budget(spark, sf_dir):
    from kafka_spark_streaming_pipeline_spark.plans import QUERIES

    out = QUERIES["x41_token_budget_sample"].builder(spark, sf_dir)
    per_source = out.groupBy("source").agg(
        F.max("cum_tokens").alias("used"), F.count("*").alias("kept")
    )
    assert per_source.filter(F.col("used") > 800).count() == 0
    assert per_source.filter(F.col("kept") < 1).count() == 0


def test_inverted_index_schema_df_and_truncation(spark):
    from kafka_spark_streaming_pipeline_spark.operators.retrieval import inverted_index

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, "alpha beta xx"),
            (3, "alpha delta yy"),
        ],
        ["doc_id", "text"],
    )
    uncapped = inverted_index(docs, min_token_len=3)
    capped = inverted_index(docs, min_token_len=3, max_postings=2)
    # schema is parameter-independent (postings_truncated always present)
    assert uncapped.columns == capped.columns

    rows = {r["term"]: r for r in uncapped.collect()}
    # min_token_len guard: sub-length tokens never indexed
    assert "xx" not in rows and "yy" not in rows
    assert rows["alpha"]["df"] == 3
    assert rows["alpha"]["postings"] == [1, 2, 3]
    assert not any(r["postings_truncated"] for r in rows.values())

    crows = {r["term"]: r for r in capped.collect()}
    # df stays exact while the stored list truncates, flagged
    assert crows["alpha"]["df"] == 3
    assert crows["alpha"]["postings"] == [1, 2]
    assert crows["alpha"]["postings_truncated"]
    assert not crows["delta"]["postings_truncated"]


def test_bm25_topk_ranking_and_stopword_guard(spark):
    from kafka_spark_streaming_pipeline_spark.operators.retrieval import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "spark query engine spark query"),
            (2, "spark query engine"),
            (3, "spark only here"),
            (4, "nothing relevant at all"),
        ],
        ["doc_id", "text"],
    )
    top = bm25_topk(docs, ["spark", "query", "a"], topk=3)
    rows = top.collect()
    # doc 4 shares no term -> never scored; ranks are 1..n by score desc
    assert [r["doc_id"] for r in rows] == [1, 2, 3]
    assert [r["rank"] for r in rows] == [1, 2, 3]
    assert rows[0]["n_terms_matched"] == 2 and rows[2]["n_terms_matched"] == 1
    assert rows[0]["score"] > rows[1]["score"] > rows[2]["score"] > 0
    # sub-min_token_len terms are dropped before any work
    empty = bm25_topk(docs, ["a"], topk=3)
    assert empty.count() == 0
    assert empty.columns == ["doc_id", "score", "n_terms_matched", "rank"]


def test_blocked_verify_ops_cap_hot_blocks(spark):
    from kafka_spark_streaming_pipeline_spark.operators.dedup import (
        edit_distance_pairs,
        ngram_jaccard_pairs,
    )

    # planted hot block: 1000 docs sharing their first-2-words prefix
    # (boilerplate), plus a small benign block
    hot = [(i, f"copyright all rights reserved variant {i}") for i in range(1000)]
    cold = [(2000, "unique doc one two three"), (2001, "unique doc one two four")]
    docs = spark.createDataFrame(hot + cold, ["doc_id", "text"])

    for op in (ngram_jaccard_pairs, edit_distance_pairs):
        capped = op(docs, max_block_size=8).collect()
        # bounded pair output: C(8,2)=28 from the truncated hot block
        # + 1 benign pair, instead of C(1000,2)=499500
        assert len(capped) == 28 + 1
        hot_pairs = [r for r in capped if r["doc_a"] < 1000]
        assert len(hot_pairs) == 28
        assert all(r["block_truncated"] for r in hot_pairs)
        # deterministic truncation: survivors are the smallest ids
        kept = {r["doc_a"] for r in hot_pairs} | {r["doc_b"] for r in hot_pairs}
        assert kept == set(range(8))
        benign = [r for r in capped if r["doc_a"] == 2000]
        assert len(benign) == 1 and not benign[0]["block_truncated"]

    # on a skew-free corpus the capped path agrees with the join path
    small = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma epsilon"),
         (3, "other prefix here now")],
        ["doc_id", "text"],
    )
    base = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in ngram_jaccard_pairs(small).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in ngram_jaccard_pairs(small, max_block_size=100).collect()
    }
    assert base == capped


def test_multimodal_codec_selection_via_monkeypatched_import(monkeypatch):
    import pytest

    from kafka_spark_streaming_pipeline_spark.operators import multimodal as mm

    # this container has neither codec: selection must be the stub path
    assert not mm.image_codec_available() and not mm.audio_codec_available()
    with pytest.raises(NotImplementedError):
        mm.decode_image(b"\x00")
    with pytest.raises(NotImplementedError):
        mm.decode_audio(b"\x00")
    routed: list[str] = []
    monkeypatch.setattr(mm, "fake_decode_meta", lambda df: routed.append("fake") or df)
    monkeypatch.setattr(mm, "real_decode_meta", lambda df: routed.append("real") or df)
    mm.decode_image_meta(object())
    assert routed == ["fake"]

    # monkeypatch the imported handles -> selection flips to the real codec
    class _Img:
        width, height, n_frames = 4, 3, 2

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            return False

    class _Pil:
        @staticmethod
        def open(buf):
            return _Img()

    monkeypatch.setattr(mm, "_pil_image", _Pil)
    assert mm.image_codec_available()
    assert mm.decode_image(b"abcd") == {
        "n_bytes": 4, "width": 4, "height": 3, "n_frames": 2,
    }
    routed.clear()
    mm.decode_image_meta(object())
    assert routed == ["real"]

    import numpy as np

    class _Sf:
        @staticmethod
        def read(buf):
            return [0.0, 0.5], 8000

    monkeypatch.setattr(mm, "_soundfile", _Sf)
    assert mm.audio_codec_available()
    assert mm.decode_audio(b"xy") == {"sample_rate": 8000, "samples": [0.0, 0.5]}

    class _SfStereo:
        @staticmethod
        def read(buf):
            return np.array([[0.0, 1.0], [0.5, 0.5]]), 44100

    # stereo files downmix to mono instead of crashing the decode task
    monkeypatch.setattr(mm, "_soundfile", _SfStereo)
    assert mm.decode_audio(b"xy") == {"sample_rate": 44100, "samples": [0.5, 0.5]}
    routed.clear()
    monkeypatch.setattr(mm, "fake_decode_audio", lambda df: routed.append("fake") or df)
    monkeypatch.setattr(mm, "real_decode_audio", lambda df: routed.append("real") or df)
    mm.decode_audio_samples(object())
    assert routed == ["real"]


def test_connected_components_salted_star_graph(spark):
    from kafka_spark_streaming_pipeline_spark.operators.dedup import connected_components

    # power-law boundary case: a star of 10k edges into one hub node —
    # every edge is keyed by the hub, and the labels stay exact (AQE's
    # skew-join splitting, on in get_spark, spreads the hub's task)
    star = spark.createDataFrame(
        [(0, i) for i in range(1, 10_001)], ["doc_a", "doc_b"]
    )
    rows = connected_components(star).collect()
    assert len(rows) == 10_001
    assert {r["component"] for r in rows} == {0}

    # exact component set on a multi-component graph
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        ["doc_a", "doc_b"],
    )
    plain = {(r["id"], r["component"]) for r in connected_components(pairs).collect()}
    assert plain == {
        (1, 1), (2, 1), (3, 1), (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20), (23, 20),
    }


def test_multi_table_lsh_recall_monotone(spark, sf_dir):
    """More hash tables -> candidate superset -> recall vs the exact
    baseline is monotone non-decreasing, and the multi-table run at
    least matches the single-table (x06-shaped) run."""
    from kafka_spark_streaming_pipeline_spark.catalog import load_table
    from kafka_spark_streaming_pipeline_spark.operators.similarity import (
        cosine_topk,
        lsh_cosine_topk_multi,
    )
    from kafka_spark_streaming_pipeline_spark.plans.extensions import _srp_tables

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    brute = {
        (r.query_id, r.neighbor_id) for r in cosine_topk(queries, emb, k=3).collect()
    }
    tables = _srp_tables(3)

    def hits(n_tables):
        got = {
            (r.query_id, r.neighbor_id)
            for r in lsh_cosine_topk_multi(
                queries, emb, tables[:n_tables], k=3
            ).collect()
        }
        return len(got & brute)

    h1, h2, h3 = hits(1), hits(2), hits(3)
    assert h1 <= h2 <= h3  # tables[:n] is a prefix: candidate superset
    # self-match lands in its own bucket in every table
    top1 = {
        r.query_id: r.neighbor_id
        for r in lsh_cosine_topk_multi(queries, emb, tables, k=1).collect()
    }
    assert all(q == n for q, n in top1.items())
    # ranks are contiguous per query and dedup keeps one row per pair
    full = lsh_cosine_topk_multi(queries, emb, tables, k=3).collect()
    per_q = {}
    for r in full:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_q.values())


def test_simhash_neardup_pairs_and_cap(spark):
    from kafka_spark_streaming_pipeline_spark.operators.dedup import (
        simhash_neardup_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta epsilon"),  # exact dup of 1
            (3, "alpha beta gamma delta zeta"),     # near dup
            (4, "completely unrelated text body entirely other"),
        ],
        ["doc_id", "text"],
    )
    rows = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in
            simhash_neardup_pairs(docs, max_hamming=3).collect()}
    assert rows[(1, 2)] == 0  # identical docs -> identical signature
    # every emitted pair respects the hamming bound, ids ordered
    assert all(h <= 3 and a < b for (a, b), h in rows.items())

    # cap: a mass of identical docs truncates with provenance instead
    # of quadratic expansion
    flood = spark.createDataFrame(
        [(i, "same words every time here") for i in range(50)], ["doc_id", "text"]
    )
    capped = simhash_neardup_pairs(flood, max_block_size=5).collect()
    assert len(capped) == 10  # C(5,2) survivors per both bands -> deduped
    assert all(r["block_truncated"] for r in capped)


def test_union_candidates_increase_verified_recall(spark):
    """LSH ∪ SimHash beats LSH alone: a word-order-scrambled duplicate
    has the SAME token bag (SimHash Hamming 0) but near-disjoint 3-word
    shingles (LSH est Jaccard ~0, below threshold), so only the union
    surfaces it into the verify stage."""
    from kafka_spark_streaming_pipeline_spark.operators.dedup import (
        union_neardup_candidates,
        verify_candidate_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "the quick brown fox jumps over the lazy dog tonight"),
            (3, "tonight dog lazy the over jumps fox brown quick the"),  # scrambled
            (4, "completely different content entirely unrelated body text"),
        ],
        ["doc_id", "text"],
    )
    lsh_only = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(docs).collect()}
    union = union_neardup_candidates(docs)
    rows = {(r.doc_a, r.doc_b): r for r in union.collect()}
    assert (1, 2) in rows and rows[(1, 2)].from_lsh and rows[(1, 2)].from_simhash
    # the scrambled pair is SimHash-only
    assert (1, 3) in rows and not rows[(1, 3)].from_lsh and rows[(1, 3)].from_simhash
    assert (1, 3) not in lsh_only
    assert rows[(1, 3)].est_jaccard is None

    verified = verify_candidate_pairs(docs, union)
    assert verified.columns == [
        "doc_a", "doc_b", "est_jaccard", "from_lsh", "from_simhash", "jaccard"
    ]
    vrows = {(r.doc_a, r.doc_b): r.jaccard for r in verified.collect()}
    assert set(vrows) > lsh_only  # strictly more verified pairs
    assert vrows[(1, 2)] == pytest.approx(1.0)
    assert 0 <= vrows[(1, 3)] < 0.5  # verify stage correctly scores it low


def test_canonical_url_variants_collapse(spark):
    from kafka_spark_streaming_pipeline_spark.operators.text import canonical_url

    df = spark.createDataFrame(
        [
            (1, "HTTPS://WWW.Example.COM/a/b/?utm_source=x&id=3&ref=tw#frag"),
            (2, "https://www.example.com/a/b?id=3"),
            (3, "http://host.com/p?b=2&a=1&fbclid=zz"),
            (4, "http://host.com/p"),
            (5, "http://host.com/p#sec?x=1"),  # '?' inside fragment: no query
        ],
        ["i", "url"],
    )
    got = {r["i"]: r["c"] for r in df.select("i", canonical_url(F.col("url")).alias("c")).collect()}
    assert got[1] == got[2] == "https://www.example.com/a/b?id=3"
    assert got[3] == "http://host.com/p?a=1&b=2"  # params sorted, tracker dropped
    assert got[4] == got[5] == "http://host.com/p"


def test_canonical_url_non_absolute_passthrough(spark):
    """Scheme-relative / bare-host URLs must NOT all collapse to the
    '://'-anchored garbage key — they pass through unchanged, so
    distinct non-absolute URLs stay distinct dedup keys."""
    from kafka_spark_streaming_pipeline_spark.operators.text import canonical_url

    df = spark.createDataFrame(
        [
            (1, "//cdn.example.com/asset.js"),
            (2, "example.com/page?a=1"),
            (3, "/relative/path"),
            (4, "mailto:user@example.com"),  # scheme but no ://
        ],
        ["i", "url"],
    )
    got = {r["i"]: r["c"] for r in df.select("i", canonical_url(F.col("url")).alias("c")).collect()}
    assert got == {
        1: "//cdn.example.com/asset.js",
        2: "example.com/page?a=1",
        3: "/relative/path",
        4: "mailto:user@example.com",
    }


def test_incremental_dedup_flags(spark):
    from kafka_spark_streaming_pipeline_spark.operators.dedup import incremental_dedup

    history = spark.createDataFrame(
        [("known text one",), ("known text two",)], ["text"]
    )
    from kafka_spark_streaming_pipeline_spark.operators.text import fingerprint

    hist_fps = history.select(fingerprint(F.col("text")).alias("fingerprint"))
    new = spark.createDataFrame(
        [
            (10, "known text one"),        # already in history
            (11, "fresh text"),            # new, unique
            (12, "repeated fresh text"),   # new, batch dup canonical
            (13, "repeated fresh text"),   # new, batch dup loser
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: (r["seen_in_history"], r["is_batch_canonical"], r["keep"])
           for r in incremental_dedup(new, hist_fps).collect()}
    assert got[10] == (True, True, False)
    assert got[11] == (False, True, True)
    assert got[12] == (False, True, True)
    assert got[13] == (False, False, False)


def test_search_index_persist_and_pruned_lookup(spark, tmp_path):
    from kafka_spark_streaming_pipeline_spark.operators.retrieval import (
        inverted_index,
        lookup_terms,
        write_search_index,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha term{i % 7} shared beta") for i in range(40)],
        ["doc_id", "text"],
    )
    idx = inverted_index(docs)
    dest = str(tmp_path / "searchidx")
    write_search_index(idx, dest, n_buckets=16)

    got = lookup_terms(spark, dest, ["alpha", "term3"], n_buckets=16)
    rows = {r["term"]: r for r in got.collect()}
    assert set(rows) == {"alpha", "term3"}
    assert rows["alpha"]["df"] == 40
    assert rows["term3"]["postings"] == [i for i in range(40) if i % 7 == 3]

    # partition pruning: the bucket IN-list is a PartitionFilter (only
    # those bucket dirs listed/scanned) and the term filter pushes into
    # the parquet scan
    plan = got._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"PartitionFilters: \[term_bucket[^\]]*IN \(([^)]*)\)", plan)
    assert m and len(m.group(1).split(",")) <= 2
    assert "PushedFilters: [In(term" in plan
    assert "term_bucket" not in got.columns

    # empty term list: empty result, index schema, no crash
    empty = lookup_terms(spark, dest, [], n_buckets=16)
    assert empty.count() == 0
    assert empty.columns == ["term", "df", "postings", "postings_truncated"]


def test_simhash_banding_complete_within_hamming_bound(spark):
    # pigeonhole guarantee at the 64-bit/16-bit-band width: with
    # bands=4 > max_hamming=3, EVERY pair within the bound must be
    # generated — verify against brute force over the signatures
    from kafka_spark_streaming_pipeline_spark.operators.dedup import (
        simhash64,
        simhash_neardup_pairs,
    )

    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
    docs = spark.createDataFrame(
        # sliding windows (period-7 repeats -> exact-dup pairs) plus
        # heavy-overlap variants so near-zero-but-nonzero Hamming
        # distances appear too
        [(i, " ".join(words[j % len(words)] for j in range(i, i + 5)))
         for i in range(24)]
        + [(100 + i, " ".join(words[j % len(words)] for j in range(i, i + 5)) + " omega")
           for i in range(24)],
        ["doc_id", "text"],
    )
    sigs = {r["doc_id"]: list(r["sig"]) for r in simhash64(docs).collect()}
    brute = {
        (a, b): _sig_hamming(sigs[a], sigs[b])
        for a in sigs
        for b in sigs
        if a < b and _sig_hamming(sigs[a], sigs[b]) <= 3
    }
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_neardup_pairs(docs, max_hamming=3).collect()
    }
    assert got == brute
    assert brute  # the planted corpus must actually exercise the bound


def test_simhash_band_space_grows_with_corpus(spark):
    """Flood guard for the widened signature: the number of DISTINCT
    band buckets must keep growing with corpus size.  The old 16-bit
    signature banded into 4-bit slices had at most 4*16=64 buckets
    TOTAL, so at scale every bucket flooded and the block cap
    truncated recall away; 16-bit bands give 4*65536 possible buckets
    and distinct docs spread across them."""
    from kafka_spark_streaming_pipeline_spark.operators.dedup import (
        SIMHASH_BAND_BITS,
        simhash64,
    )

    vocab = [f"w{v}" for v in range(200)]

    def corpus(n):
        rows = [
            (i, " ".join(vocab[(i * 7 + j * 3) % len(vocab)] for j in range(30)))
            for i in range(n)
        ]
        return spark.createDataFrame(rows, ["doc_id", "text"])

    def n_buckets(docs):
        sig = simhash64(docs)
        return (
            sig.select(
                F.explode(
                    F.array(*[F.struct(F.lit(b).alias("band"),
                                       F.element_at("sig", b + 1).alias("val"))
                              for b in range(4)])
                ).alias("bb")
            )
            .select("bb.band", "bb.val")
            .distinct()
            .count()
        )

    assert SIMHASH_BAND_BITS >= 16
    small, large = n_buckets(corpus(60)), n_buckets(corpus(240))
    # far beyond the old 64-bucket ceiling, and still growing
    assert large > small > 64


def test_rrf_fuse_hand_computed(spark):
    """RRF on two tiny rankings matches the hand-computed fusion:
    ids in both lists outrank single-source ids, scores are
    1/(60+r_a) + 1/(60+r_b)."""
    from kafka_spark_streaming_pipeline_spark.operators.retrieval import rrf_fuse

    a = spark.createDataFrame([(10, 1), (20, 2), (30, 3)], ["doc_id", "rank"])
    b = spark.createDataFrame([(20, 1), (40, 2), (10, 3)], ["doc_id", "rank"])
    out = {r.doc_id: r for r in rrf_fuse([a, b], topk=10).collect()}
    assert set(out) == {10, 20, 30, 40}
    assert out[20].n_sources == 2 and out[30].n_sources == 1
    assert abs(out[20].rrf_score - (1 / 62 + 1 / 61)) < 1e-5
    assert abs(out[10].rrf_score - (1 / 61 + 1 / 63)) < 1e-5
    # both-source ids fuse ahead of either single-source id
    assert out[20].rank == 1 and out[10].rank == 2
    assert {out[30].rank, out[40].rank} == {3, 4}


def test_semantic_dedup_prunes_planted_duplicates(spark):
    """Planted near-identical vectors in the same cluster are pruned
    against the lowest-id witness; cross-cluster near-dups are NOT
    candidates (the SemDeDup approximation), and orthogonal vectors
    survive."""
    from kafka_spark_streaming_pipeline_spark.operators.similarity import (
        semantic_dedup,
    )

    e1, e2 = [1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]
    near_e1 = [0.98, 0.02, 0.0, 0.0]
    rows = [
        (0, e1),          # cluster 0 anchor
        (1, e2),          # cluster 1 anchor
        (2, near_e1),     # dup of 0 -> removed, witness 0
        (3, [0.97, 0.0, 0.05, 0.0]),  # dup of 0 -> removed, witness 0
        (4, [0.0, 0.0, 1.0, 0.0]),    # orthogonal-ish, survives
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = spark.createDataFrame(
        [(0, e1), (1, e2)], ["cell", "centroid"]
    )
    out = {r.removed_id: r for r in semantic_dedup(
        emb, cents, threshold=0.9
    ).collect()}
    assert set(out) == {2, 3}
    assert out[2].kept_id == 0 and out[3].kept_id == 0
    assert out[2].cell == 0
    assert not out[2].cluster_truncated
    assert out[2].cosine_sim >= 0.9


def test_semantic_dedup_cluster_cap_truncates_loudly(spark):
    """A cluster above max_cluster_block is truncated to the lowest-id
    members and every emitted pair carries cluster_truncated=true —
    the same honest-cap convention as the blocked dedup operators."""
    from kafka_spark_streaming_pipeline_spark.operators.similarity import (
        semantic_dedup,
    )

    # 10 copies of the same direction -> one cluster of 10
    rows = [(i, [1.0, 0.0, float(i) * 1e-4, 0.0]) for i in range(10)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = spark.createDataFrame([(0, [1.0, 0.0, 0.0, 0.0])], ["cell", "centroid"])
    out = semantic_dedup(emb, cents, threshold=0.5, max_cluster_block=4).collect()
    # only members 1..3 can be pruned (0 is the root; 4..9 truncated away)
    assert {r.removed_id for r in out} == {1, 2, 3}
    assert all(r.cluster_truncated for r in out)
    assert all(r.kept_id == 0 for r in out)


def test_rerank_blend_and_model_parity(spark, sf_dir):
    """Stage-2 rerank: the Arrow (mapInPandas) scorer given the SAME
    scoring function as the column-expression blend must produce the
    identical ranking — proving the model hop is plumbing, not
    semantics.  The default md5-stub model also runs end-to-end (the
    honest no-model-weights boundary)."""
    from kafka_spark_streaming_pipeline_spark.catalog import load_table
    from kafka_spark_streaming_pipeline_spark.operators.retrieval import (
        bm25_topk,
        rerank_blend,
        rerank_with_model,
    )

    docs = load_table(spark, sf_dir, "documents")
    terms = ["customer", "vector", "merge", "stream"]
    cands = bm25_topk(docs, terms, topk=20, min_token_len=3)
    blended = rerank_blend(cands, docs, terms, topk=10).collect()
    assert len(blended) == 10 and blended[0].rank == 1

    # replicate the blend inside a model_fn: same candidates, same rank order
    rows = {r.doc_id: r.score for r in cands.collect()}
    lo, hi = min(rows.values()), max(rows.values())
    tset = set(terms)

    def model(pdf):
        out = []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            toks = set(text.lower().split())
            jacc = len(toks & tset) / len(toks | tset)
            norm = (rows[doc_id] - lo) / (hi - lo) if hi > lo else 1.0
            out.append(0.7 * norm + 0.3 * jacc)
        return out

    with_text = docs.select("doc_id", "text").join(
        spark.createDataFrame([(d,) for d in rows], ["doc_id"]), "doc_id"
    )
    modeled = rerank_with_model(with_text, model_fn=model, topk=10).collect()
    assert [r.doc_id for r in modeled] == [r.doc_id for r in blended]

    # default stub model: deterministic, runs through Arrow
    stub1 = rerank_with_model(with_text, topk=5).collect()
    stub2 = rerank_with_model(with_text, topk=5).collect()
    assert [r.doc_id for r in stub1] == [r.doc_id for r in stub2]
    assert len(stub1) == 5


def test_pagerank_hub_outranks_and_mass_conserved(spark):
    """On a symmetric star graph the hub must outrank every leaf, total
    mass stays ~1 per iteration (symmetric graph -> no dangling loss),
    and leaves are symmetric (identical ranks)."""
    from kafka_spark_streaming_pipeline_spark.operators.graph import pagerank

    hub, leaves = 0, [1, 2, 3, 4, 5]
    edges = spark.createDataFrame(
        [(hub, l) for l in leaves] + [(l, hub) for l in leaves], ["src", "dst"]
    )
    out = {r.node: r.rank for r in pagerank(edges, iterations=5).collect()}
    assert set(out) == {hub, *leaves}
    assert all(out[hub] > out[l] for l in leaves)
    assert len({out[l] for l in leaves}) == 1
    assert abs(sum(out.values()) - 1.0) < 1e-3


def test_phrase_search_consecutive_positions_only(spark):
    """Phrase match requires CONSECUTIVE positions in order: scattered
    terms and reversed order must not match; 3-term phrases chain the
    adjacency; occurrence counts rank repeats first."""
    from kafka_spark_streaming_pipeline_spark.operators.retrieval import (
        phrase_search,
    )

    rows = [
        (1, "alpha beta gamma end"),            # "alpha beta gamma" x1
        (2, "alpha beta gamma alpha beta gamma"),  # x2 -> outranks 1
        (3, "alpha gamma beta"),                 # scattered: no match
        (4, "beta alpha gamma"),                 # reversed: no match
        (5, "alpha beta delta gamma"),           # broken chain: no 3-term match
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out3 = {r.doc_id: r for r in phrase_search(docs, ["alpha", "beta", "gamma"]).collect()}
    assert set(out3) == {1, 2}
    assert out3[2].n_occurrences == 2 and out3[2].rank == 1
    assert out3[1].n_occurrences == 1 and out3[1].rank == 2

    out2 = {r.doc_id: r.n_occurrences for r in phrase_search(docs, ["alpha", "beta"]).collect()}
    assert out2 == {1: 1, 2: 2, 5: 1}

    import pytest as _pytest
    with _pytest.raises(ValueError):
        phrase_search(docs, ["alpha"])


def test_phrase_search_indexed_parity_and_pruning(spark, sf_dir, tmp_path):
    """The persisted-index phrase path must return exactly what the
    inline path returns, while reading only the phrase terms' hash
    buckets (partition filter in the scan, no documents scan at all)."""
    from kafka_spark_streaming_pipeline_spark.catalog import load_table
    from kafka_spark_streaming_pipeline_spark.operators.retrieval import (
        phrase_search,
        phrase_search_indexed,
        positional_postings,
        write_search_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    dest = str(tmp_path / "pos_idx")
    write_search_index(positional_postings(docs), dest, n_buckets=16)

    phrase = ["customer", "vector"]
    want = [(r.doc_id, r.n_occurrences, r.rank)
            for r in phrase_search(docs, phrase).collect()]
    got_df = phrase_search_indexed(spark, dest, phrase, n_buckets=16)
    got = [(r.doc_id, r.n_occurrences, r.rank) for r in got_df.collect()]
    assert got == want and len(got) > 0

    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "term_bucket" in plan          # bucket IN-list reached the scan
    assert "documents.parquet" not in plan  # corpus never touched


def test_hash_embeddings_twins_and_unit_norm(spark):
    """Identical texts embed identically (cosine 1), disjoint-vocab
    texts are near-orthogonal, vectors are unit-norm, and re-runs are
    bit-identical (no RNG)."""
    from kafka_spark_streaming_pipeline_spark.operators.embed import (
        hash_embeddings,
    )

    rows = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta epsilon"),     # twin
        (3, "zeta eta theta iota kappa lambada"),  # disjoint vocab
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: list(r.embedding) for r in hash_embeddings(docs).collect()}
    assert out[1] == out[2]
    import math

    for v in out.values():
        assert abs(math.sqrt(sum(x * x for x in v)) - 1.0) < 1e-3
    cos13 = sum(a * b for a, b in zip(out[1], out[3]))
    assert abs(cos13) < 0.5  # disjoint vocab -> far from parallel
    again = {r.doc_id: list(r.embedding) for r in hash_embeddings(docs).collect()}
    assert again == out


def test_centered_multi_table_neardup_on_coned_vectors(spark):
    """Vectors clustered in a narrow cone: planted near-dup pairs must
    be found, far pairs must not, pairs are unique across tables, and
    exact twins are ALWAYS found (identical vectors co-bucket in every
    table)."""
    from kafka_spark_streaming_pipeline_spark.operators.similarity import (
        embedding_neardup_pairs_multi,
    )

    base = [1.0, 1.0, 1.0, 1.0, 0.9, 1.1, 1.0, 1.0]
    rows = [
        (0, base),
        (1, base),                                   # exact twin of 0
        (2, [x + (0.01 if i == 2 else 0) for i, x in enumerate(base)]),  # near 0
        (3, [x + (0.8 if i < 4 else -0.8) for i, x in enumerate(base)]), # far
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    tables = [
        [[((7 * i + 13 * p + 29 * t + 5) % 17) - 8 for i in range(8)]
         for p in range(4)]
        for t in range(3)
    ]
    out = {(r.vec_a, r.vec_b): r.cosine_sim for r in
           embedding_neardup_pairs_multi(emb, tables, threshold=0.99).collect()}
    assert (0, 1) in out and out[(0, 1)] >= 0.999  # twins always found
    assert (0, 2) in out                            # near pair found
    assert all(3 not in pair for pair in out)       # far vector excluded
    # no duplicate pair rows despite 3 tables
    assert len(out) == len(set(out))


def test_pagerank_keeps_source_only_nodes(spark):
    """A node with out-edges but ZERO in-edges must stay in the result
    at the base rank (1-d)/N every iteration and keep feeding its
    neighbors — dropping it after round 1 silently deletes rank mass."""
    from kafka_spark_streaming_pipeline_spark.operators.graph import pagerank

    # C -> A, A <-> B : C has no in-edges (the A<->B 2-cycle makes the
    # A/B split oscillate by parity, so assert parity-independent facts)
    edges = spark.createDataFrame([(2, 0), (0, 1), (1, 0)], ["src", "dst"])
    out = {r.node: r.rank for r in pagerank(edges, iterations=4).collect()}
    assert set(out) == {0, 1, 2}  # C present despite zero in-degree
    assert abs(out[2] - (1 - 0.85) / 3) < 1e-4  # base rank, every round
    assert out[0] > out[2] and out[1] > out[2]
    # C's mass keeps flowing: total stays ~1 (no silent mass deletion)
    assert abs(sum(out.values()) - 1.0) < 1e-3


def test_bpe_pair_counts_weighting_and_positions(spark):
    """Pair counts weight by word frequency and count EVERY adjacent
    position ('aaa' has two 'aa' pairs); 1-char words contribute none."""
    from kafka_spark_streaming_pipeline_spark.operators.text import bpe_pair_counts

    docs = spark.createDataFrame(
        [(1, "aaa ab ab a"), (2, "ab")], ["doc_id", "text"]
    )
    out = {(r.left, r.right): r.pair_count for r in bpe_pair_counts(docs).collect()}
    assert out[("a", "b")] == 3   # 'ab' x3 occurrences
    assert out[("a", "a")] == 2   # 'aaa' once, two positions
    assert sum(out.values()) == 5  # the lone 'a' adds nothing


def test_bpe_encode_repeated_adjacent_pairs(spark):
    """The banana pin (round-5 advice): merge application must be
    leftmost-non-overlapping over the FULL word — a repeated pair whose
    occurrences share a boundary still merges at every position.  A
    naive single-space replace chain consumes the shared boundary
    space and yields [b,an,a,n,a]; the fold (and the boundary-
    preserving double-space replace) yields [b,an,an,a]."""
    from kafka_spark_streaming_pipeline_spark.operators.text import bpe_encode

    docs = spark.createDataFrame(
        [(1, "banana"), (2, "aaaa"), (3, "aaa"), (4, "anan anana")],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: r.encoded
        for r in bpe_encode(docs, [("a", "n"), ("a", "a")]).collect()
    }
    assert got[1] == "b an an a"
    assert got[2] == "aa aa"
    assert got[3] == "aa a"
    assert got[4] == "an an | an an a"


def test_kmv_estimates_track_exact_counts(spark, sf_dir):
    """KMV distinct/union/intersection estimates must land within the
    sketch's error envelope (~1/sqrt(k-1) ≈ 13% for k=64; assert 3x
    that), and the whole pipeline is md5-deterministic."""
    from kafka_spark_streaming_pipeline_spark.catalog import load_table
    from kafka_spark_streaming_pipeline_spark.operators.dedup import shingle_arr
    from kafka_spark_streaming_pipeline_spark.operators.sketches import (
        kmv_overlap,
        kmv_sketch,
    )

    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(
        (F.col("doc_id") % 2).alias("half"),
        F.explode(F.array_distinct(shingle_arr(F.col("text"), 3))).alias("gram"),
    )
    exact_a = grams.filter("half = 0").select("gram").distinct().count()
    exact_b = grams.filter("half = 1").select("gram").distinct().count()
    exact_u = grams.select("gram").distinct().count()
    exact_i = exact_a + exact_b - exact_u

    a = kmv_sketch(grams.filter(F.col("half") == 0), F.col("gram"))
    b = kmv_sketch(grams.filter(F.col("half") == 1), F.col("gram"))
    row = kmv_overlap(a, b).first()

    def rel_ok(est, exact):
        return abs(est - exact) / exact < 0.4

    assert rel_ok(row.est_distinct_a, exact_a)
    assert rel_ok(row.est_distinct_b, exact_b)
    assert rel_ok(row.est_union, exact_u)
    # intersection compounds two estimates; allow a wider band
    assert abs(row.est_intersection - exact_i) / exact_u < 0.25

    again = kmv_overlap(a, b).first()
    assert again == row  # deterministic


def test_ivfpq_topk_recall_and_probe_monotonicity(spark, sf_dir):
    """IVF-PQ with rerank: decent recall at nprobe=nlist/2, monotone
    improvement when probing every cell (pruning is the only loss
    source once the shortlist reranks exactly)."""
    from kafka_spark_streaming_pipeline_spark.operators.similarity import ivfpq_topk
    from kafka_spark_streaming_pipeline_spark.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact: dict[int, set[int]] = {}
    for r in cosine_topk(queries, emb, k=5).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)

    def recall(nprobe):
        approx: dict[int, set[int]] = {}
        for r in ivfpq_topk(
            queries, emb, nlist=8, nprobe=nprobe, m=16, ksub=16, k=5, dim=64,
            rerank=50,
        ).collect():
            approx.setdefault(r.query_id, set()).add(r.neighbor_id)
        return sum(len(exact[q] & approx.get(q, set())) for q in exact)

    r4 = recall(4)
    assert r4 >= 30  # measured 40/50 at nprobe=4, deterministic
    r8 = recall(8)
    assert r8 >= r4  # probing every cell never loses candidates
    assert r8 >= 45  # measured 46/50: only PQ shortlist misses remain


def test_pq_index_build_then_search_parity_and_codes_only_scan(spark, sf_dir, tmp_path):
    """The persisted PQ index amortizes training: build once, then a
    search (a) matches the one-shot pq_topk results exactly, and (b)
    reads ONLY the codes table — the embedding column never appears in
    the no-rerank search plan."""
    from kafka_spark_streaming_pipeline_spark.operators.similarity import (
        pq_index_build,
        pq_index_search,
        pq_topk,
    )
    from kafka_spark_streaming_pipeline_spark.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    path = str(tmp_path / "pq_idx")
    pq_index_build(emb, path, m=16, ksub=16, dim=64)

    got = pq_index_search(spark, queries, path, k=5, rerank=50, corpus=emb)
    want = pq_topk(queries, emb, m=16, ksub=16, k=5, dim=64, rerank=50)
    assert sorted((r.query_id, r.neighbor_id, r.rank) for r in got.collect()) == sorted(
        (r.query_id, r.neighbor_id, r.rank) for r in want.collect()
    )

    adc_only = pq_index_search(spark, queries, path, k=5)
    plan = adc_only._jdf.queryExecution().executedPlan().toString()
    # exactly ONE embeddings scan — the 10-row QUERY side (filter
    # pushed); the corpus vectors never load, only the codes table
    assert plan.count("embeddings.parquet") == 1
    assert "LessThan(vec_id,10)" in plan
    assert "codes" in plan
    assert adc_only.count() == 50


def test_vocab_coverage_flags_oov_tokens(spark):
    """With a 2-word vocabulary, rare words count as OOV; frequency
    ties break on the word so the vocabulary is deterministic."""
    from kafka_spark_streaming_pipeline_spark.operators.text import vocab_coverage

    docs = spark.createDataFrame(
        [
            (1, "common common common other other rare"),
            (2, "common other"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in vocab_coverage(docs, vocab_size=2).collect()}
    assert out[1].n_tokens == 6 and out[1].n_oov == 1  # 'rare' only
    assert out[2].n_oov == 0 and out[2].oov_rate == 0.0


def test_duplicate_span_trim_cuts_shared_runs_only(spark):
    """A >= k-token run shared by two docs is removed from both in
    full; unique surroundings survive; a doc with no shared window is
    untouched."""
    import hashlib

    from kafka_spark_streaming_pipeline_spark.operators.dedup import (
        duplicate_span_trim,
    )

    shared = "one two three four"  # k=4 window shared verbatim
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta {shared} gamma"),
            (2, f"{shared} delta epsilon"),
            (3, "totally unrelated words here now"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in duplicate_span_trim(docs, k=4).collect()}
    assert out[1].n_dup_tokens == 4 and out[2].n_dup_tokens == 4
    assert out[1].cleaned_fingerprint == hashlib.md5(b"alpha beta gamma").hexdigest()
    assert out[2].cleaned_fingerprint == hashlib.md5(b"delta epsilon").hexdigest()
    assert out[3].n_dup_tokens == 0
    assert out[3].cleaned_fingerprint == hashlib.md5(
        b"totally unrelated words here now"
    ).hexdigest()

    # a longer shared run is removed IN FULL (every sliding window hits)
    longer = "p q r s t u"  # 6 tokens, k=4 -> 3 windows, all 6 positions covered
    docs2 = spark.createDataFrame(
        [(10, f"head {longer}"), (11, f"{longer} tail")], ["doc_id", "text"]
    )
    out2 = {r.doc_id: r for r in duplicate_span_trim(docs2, k=4).collect()}
    assert out2[10].n_dup_tokens == 6 and out2[11].n_dup_tokens == 6
    assert out2[10].cleaned_fingerprint == hashlib.md5(b"head").hexdigest()


def test_substring_dedup_spans_planted_repetition(spark):
    """x193's operator: planted cross-document repetitions come back
    as exact maximal spans; within-doc-only repeats and unshared docs
    emit nothing; overlapping windows merge into one island."""
    from kafka_spark_streaming_pipeline_spark.operators.dedup import (
        substring_dedup_spans,
    )

    shared8 = "alpha bravo charlie delta echo foxtrot golf hotel"  # 8 toks
    run10 = "a b c d e f g h i j"  # 10 toks -> 3 overlapping k=8 windows
    docs = spark.createDataFrame(
        [
            (1, f"one two three {shared8} four five six"),
            (2, f"seven eight {shared8} nine"),
            (3, "totally unrelated words here with no shared content at all"),
            (4, f"head {run10} mid mid2 mid3 {shared8} tail"),
        ],
        ["doc_id", "text"],
    )
    rows = substring_dedup_spans(docs, k=8, min_docs=2).collect()
    spans = {}
    for r in rows:
        spans.setdefault(r.doc_id, []).append(r)
    # doc 3 shares nothing
    assert 3 not in spans
    # doc 1: the 8-token run sits at positions 4..11 — ONE window,
    # exactly one span of length 8 (boundary-straddling windows are
    # not shared, so the span does not bleed into the surroundings)
    (s1,) = spans[1]
    assert (s1.span_start, s1.span_end, s1.span_len) == (4, 11, 8)
    assert s1.n_windows == 1 and s1.max_window_docs >= 2
    # doc 2: same run at positions 3..10
    (s2,) = spans[2]
    assert (s2.span_start, s2.span_end, s2.span_len) == (3, 10, 8)
    # doc 4 has no partner for run10 -> only the shared8 span at
    # positions 15..22 (head=1, run10=2..11, mids=12..14)
    (s4,) = spans[4]
    assert (s4.span_start, s4.span_end, s4.span_len) == (15, 22, 8)

    # overlapping windows MERGE: plant run10 in two docs -> the three
    # k=8 windows coalesce into one maximal span of length 10
    docs2 = spark.createDataFrame(
        [(10, f"head {run10}"), (11, f"{run10} tail tail2")],
        ["doc_id", "text"],
    )
    out2 = {r.doc_id: r for r in substring_dedup_spans(docs2, k=8).collect()}
    assert (out2[10].span_start, out2[10].span_end) == (2, 11)
    assert out2[10].span_len == 10 and out2[10].n_windows == 3
    assert (out2[11].span_start, out2[11].span_end) == (1, 10)

    # two DISJOINT shared runs in one doc -> two separate spans
    runA = "r1 r2 r3 r4 r5 r6 r7 r8"
    runB = "s1 s2 s3 s4 s5 s6 s7 s8"
    docs3 = spark.createDataFrame(
        [
            (20, f"{runA} gap1 gap2 {runB}"),
            (21, f"x {runA} y"),
            (22, f"z {runB} w"),
        ],
        ["doc_id", "text"],
    )
    rows3 = [
        r for r in substring_dedup_spans(docs3, k=8).collect()
        if r.doc_id == 20
    ]
    assert sorted((r.span_start, r.span_end) for r in rows3) == [
        (1, 8), (11, 18)
    ]

    # a doc repeating a run ONLY within itself (min_docs=2 distinct
    # docs) emits nothing
    docs4 = spark.createDataFrame(
        [(30, f"{runA} filler {runA}"), (31, "nothing in common here at all ok")],
        ["doc_id", "text"],
    )
    assert substring_dedup_spans(docs4, k=8).count() == 0


def test_quality_threshold_for_budget_walks_levels(spark):
    """x197's operator: cumulative walk from the top quality level
    down, integer-exact budget, and the fits flag flips exactly where
    the budget is exceeded."""
    from kafka_spark_streaming_pipeline_spark.operators.curation import (
        quality_threshold_for_budget,
    )

    hi = "the cat sat on a mat and the dog lay in a bed of hay " \
         "while the sun set over it for a warm end to that day now"
    lo = "alpha beta gamma delta epsilon"  # 5 toks, no stopwords
    docs = spark.createDataFrame(
        [(1, hi)] + [(i, lo) for i in range(10, 18)], ["doc_id", "text"]
    )
    n_hi = len(hi.split(" "))
    assert 20 <= n_hi <= 2000
    rows = sorted(
        quality_threshold_for_budget(docs, budget_den=2).collect(),
        key=lambda r: -r.threshold,
    )
    total = n_hi + 8 * 5
    assert [r.budget_tokens for r in rows] == [total // 2] * len(rows)
    assert rows[0].threshold == 1.0 and rows[0].cum_tokens == n_hi
    assert rows[0].fits_budget  # 30 <= 35
    assert rows[-1].cum_tokens == total and not rows[-1].fits_budget
    # cumulative consistency
    for a, b in zip(rows, rows[1:]):
        assert b.cum_tokens == a.cum_tokens + b.n_tokens
        assert b.cum_docs == a.cum_docs + b.n_docs


def test_materialize_mixture_targets_and_caps(spark):
    """x198's operator: per-source targets split the global budget by
    the temperature weights, kept tokens never exceed the target,
    utilization <= 1, and the selection is deterministic across
    runs."""
    from kafka_spark_streaming_pipeline_spark.operators.curation import (
        materialize_mixture,
    )

    body = ("tok " * 20).strip()
    per_doc = len(body.split(" "))
    rows = [(i, "big", body) for i in range(40)]
    rows += [(100 + i, "rare", body) for i in range(4)]
    docs = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = {r.source: r for r in materialize_mixture(docs, budget_den=4).collect()}
    assert set(out) == {"big", "rare"}
    total_tokens = 44 * per_doc
    budget = total_tokens // 4
    for r in out.values():
        assert r.kept_tokens <= r.target_tokens
        assert r.utilization <= 1.0
        assert abs(r.target_tokens - int(budget * r.mix_weight)) <= 1
    # alpha=0.5 upweights the rare source above its raw 4/44 share
    assert out["rare"].mix_weight > 4 / 44
    # deterministic: identical summary on a second run
    again = {
        r.source: r for r in materialize_mixture(docs, budget_den=4).collect()
    }
    assert {s: (r.kept_docs, r.kept_tokens) for s, r in out.items()} == {
        s: (r.kept_docs, r.kept_tokens) for s, r in again.items()
    }


def test_substring_dedup_clean_keeps_one_copy(spark):
    """x194's operator: a shared run survives exactly once corpus-wide
    (at the lowest doc id / lowest position), other copies are cut;
    canonical coverage is protected from overlapping duplicates;
    untouched docs pass through byte-identical."""
    from kafka_spark_streaming_pipeline_spark.operators.dedup import (
        substring_dedup_clean,
    )

    shared8 = "alpha bravo charlie delta echo foxtrot golf hotel"
    docs = spark.createDataFrame(
        [
            (1, f"one two {shared8} three"),
            (2, f"pre {shared8} post"),
            (3, "totally unrelated words here with no shared content at all"),
            # doc 1 is canonical (lowest id); doc 4 also repeats the
            # run TWICE — both copies must go
            (4, f"{shared8} mid1 mid2 {shared8}"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r for r in substring_dedup_clean(docs, k=8).collect()
    }
    assert out[1].cleaned_text == f"one two {shared8} three"
    assert out[1].n_tokens_removed == 0
    assert out[2].cleaned_text == "pre post"
    assert out[2].n_tokens_removed == 8
    assert out[3].n_tokens_removed == 0
    assert out[4].cleaned_text == "mid1 mid2"
    assert out[4].n_tokens_removed == 16
    assert out[4].n_tokens_before == 18


def test_incremental_substring_clean_prefix_causality(spark):
    """x196's operator: in-history occurrences are removed entirely
    (canonical shipped), batch-internal fresh shares keep exactly the
    first occurrence, once-seen fresh hashes pass through; and the
    documented causality corner — a shipped doc's self-repeat that
    only later becomes shared is NOT retroactively edited, while the
    late arrival is cleaned."""
    from kafka_spark_streaming_pipeline_spark.operators.dedup import (
        _window_occurrences,
        incremental_substring_clean,
        substring_dedup_clean,
    )

    hist_run = "h1 h2 h3 h4 h5 h6 h7 h8"
    fresh_run = "f1 f2 f3 f4 f5 f6 f7 f8"
    history_docs = spark.createDataFrame(
        [(1, f"start {hist_run} finish")], ["doc_id", "text"]
    )
    hist = (
        _window_occurrences(history_docs, 8, "text", "doc_id")
        .select("h")
        .distinct()
    )
    batch = spark.createDataFrame(
        [
            (10, f"copy {hist_run} here"),
            (11, f"a b {fresh_run} c"),
            (12, f"d {fresh_run} e f"),
            (13, "entirely novel words that appear exactly once overall"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r
        for r in incremental_substring_clean(batch, hist, k=8).collect()
    }
    assert out[10].cleaned_text == "copy here"
    assert out[11].cleaned_text == f"a b {fresh_run} c"  # first keeps
    assert out[12].cleaned_text == "d e f"
    assert out[13].n_tokens_removed == 0

    # causality corner: doc 1 (shipped) contains the run TWICE; the
    # batch cleaner would trim doc 1's second copy once doc 20 makes
    # the run shared — the incremental path cannot and must not
    selfrep = spark.createDataFrame(
        [(1, f"{hist_run} mid {hist_run}")], ["doc_id", "text"]
    )
    hist2 = (
        _window_occurrences(selfrep, 8, "text", "doc_id")
        .select("h")
        .distinct()
    )
    late = spark.createDataFrame(
        [(20, f"x {hist_run} y")], ["doc_id", "text"]
    )
    inc = incremental_substring_clean(late, hist2, k=8).collect()[0]
    assert inc.cleaned_text == "x y"  # late arrival cleaned
    batch_all = {
        r.doc_id: r
        for r in substring_dedup_clean(
            selfrep.unionByName(late), k=8
        ).collect()
    }
    # the one-shot cleaner edits doc 1 retroactively; incremental
    # leaves shipped batches final — the documented divergence
    assert batch_all[1].n_tokens_removed == 8


def test_self_repetition_trim_collapses_periods(spark):
    """x195's operator: a repeated later block is cut, periodic text
    collapses to its first period plus the k-1 rotated-window tail
    (every distinct window's first occurrence is protected — no
    window string the doc contained is lost), and non-repetitive docs
    pass through unchanged."""
    from kafka_spark_streaming_pipeline_spark.operators.dedup import (
        self_repetition_trim,
    )

    run4 = "r1 r2 r3 r4"
    docs = spark.createDataFrame(
        [
            (1, f"head {run4} filler fill2 {run4} tail"),
            # pure period: rotations (b c d a) etc. are themselves
            # protected windows, so the first period + k-1 tail stays
            (2, "a b c d a b c d a b c d"),
            (3, "all distinct words in this document right here"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in self_repetition_trim(docs, k=4).collect()}
    assert out[1].cleaned_text == f"head {run4} filler fill2 tail"
    assert out[1].n_tokens_removed == 4
    assert out[2].cleaned_text == "a b c d a b c"
    assert out[2].n_tokens_removed == 5
    assert out[3].n_tokens_removed == 0
    assert out[3].cleaned_text == "all distinct words in this document right here"
    # the preservation guarantee: every REPEATED 4-window string still
    # occurs in the cleaned text (unique windows spanning a removed
    # gap may legitimately disappear with it)
    from kafka_spark_streaming_pipeline_spark.operators.dedup import (
        _window_occurrences,
    )

    cleaned = self_repetition_trim(docs, k=4).select(
        "doc_id", F.col("cleaned_text").alias("text")
    )
    before_rep = (
        _window_occurrences(docs, 4, "text", "doc_id")
        .groupBy("doc_id", "h")
        .count()
        .filter(F.col("count") >= 2)
        .select("doc_id", "h")
    )
    after = _window_occurrences(cleaned, 4, "text", "doc_id").select(
        "doc_id", "h"
    ).distinct()
    assert before_rep.join(after, ["doc_id", "h"], "left_anti").count() == 0


def test_pmi_collocations_rank_fixed_phrases_first(spark):
    """A pair that always co-occurs outranks independent frequent
    words; min_count suppresses one-off pairs."""
    from kafka_spark_streaming_pipeline_spark.operators.text import pmi_collocations

    # 'hong kong' always together; 'the' everywhere, independently
    rows = [(i, "the hong kong office and the other the office") for i in range(6)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = pmi_collocations(docs, min_count=5, top=5).collect()
    assert out[0].left == "hong" and out[0].right == "kong"
    assert all(r.pair_count >= 5 for r in out)


def test_session_sequences_orders_and_splits_on_gap(spark):
    import datetime as dt

    from kafka_spark_streaming_pipeline_spark.operators.timeseries import (
        session_sequences,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base, 10, "view", 1.0),
        (1, base + dt.timedelta(minutes=5), 11, "click", 2.0),
        (1, base + dt.timedelta(minutes=90), 12, "purchase", 3.0),  # new session
    ]
    events = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string, value double"
    )
    out = sorted(session_sequences(events).collect(), key=lambda r: r.session_id)
    assert len(out) == 2
    assert out[0].sequence == "view click" and out[0].n_events == 2
    assert out[0].duration_ms == 300_000
    assert out[1].sequence == "purchase" and out[1].duration_ms == 0


def test_ddsketch_relative_error_and_merge(spark, sf_dir):
    """DDSketch contract on a long-tailed real column: every estimated
    quantile within alpha relative error of the exact percentile, and
    per-shard sketches merged equal the one-pass sketch exactly."""
    from kafka_spark_streaming_pipeline_spark.operators.sketches import (
        dd_build,
        dd_merge,
        dd_quantiles,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    alpha = 0.01
    qs = [0.5, 0.9, 0.95, 0.99]
    sketch = dd_build(orders, "o_totalprice", alpha=alpha)
    est = {r.q: r.estimate for r in dd_quantiles(sketch, qs, alpha=alpha).collect()}
    exact = orders.agg(
        F.expr(f"percentile(o_totalprice, array({','.join(map(str, qs))}))").alias("p")
    ).first().p
    for q, ex in zip(qs, exact):
        assert abs(est[q] - ex) / ex <= alpha + 1e-9, (q, est[q], ex)

    # mergeability: shard by order priority, merge, identical buckets
    pre = dd_build(orders, "o_totalprice", keys=["o_orderpriority"], alpha=alpha)
    merged = dd_merge(pre.drop("o_orderpriority"))
    direct = {(r.sgn, r.bucket): r.cnt for r in sketch.collect()}
    assert {(r.sgn, r.bucket): r.cnt for r in merged.collect()} == direct

    # zeros hit the exact-zero store, NEGATIVES the mirrored store
    # (alpha guarantee holds for them too); NULLs are ignored entirely
    # (sketch semantics), never counted as zeros
    vals = spark.createDataFrame(
        [(0.0,), (-3.0,), (100.0,), (None,), (None,)], "v double"
    )
    s = dd_build(vals, "v", alpha=alpha)
    assert s.agg(F.sum("cnt")).first()[0] == 3  # nulls not counted
    out = {
        r.q: r.estimate
        for r in dd_quantiles(s, [0.01, 0.5, 0.99], alpha=alpha).collect()
    }
    assert abs(out[0.01] - (-3.0)) / 3.0 <= alpha  # mirrored store
    assert out[0.5] == 0.0
    assert abs(out[0.99] - 100.0) / 100.0 <= alpha


def test_ddsketch_negative_store_alpha_bound(spark):
    """The mirrored negative store must honor the same alpha
    relative-error contract as the positive store — the pre-fix
    sketch silently collapsed every negative into the zero bucket."""
    import math

    from kafka_spark_streaming_pipeline_spark.operators.sketches import (
        dd_build,
        dd_quantiles,
    )

    alpha = 0.01
    raw = [(-(1.07 ** i),) for i in range(80)] + [(1.07 ** i,) for i in range(40)]
    vals = spark.createDataFrame(raw, "v double")
    s = dd_build(vals, "v", alpha=alpha)
    qs = [0.05, 0.25, 0.5, 0.9]
    est = {r.q: r.estimate for r in dd_quantiles(s, qs, alpha=alpha).collect()}
    ordered = sorted(v for (v,) in raw)
    for q in qs:
        exact = ordered[math.ceil(q * len(ordered)) - 1]
        assert abs(est[q] - exact) / abs(exact) <= alpha + 1e-9, (q, est[q], exact)


def test_contrastive_triplets_semantics(spark):
    """Triplets must pair every positive with its anchor's HARDEST
    valid negative: same SRP bucket, highest cosine strictly below the
    negative threshold; anchors with no positive or no negative emit
    nothing."""
    from kafka_spark_streaming_pipeline_spark.operators.similarity import (
        contrastive_triplets,
    )

    # one plane -> 2 buckets; craft vectors so bucket 1 holds: two
    # near-identical (positive pair), one far-but-same-bucket
    # (negative candidate), one mid-similarity (excluded: >= neg_t,
    # < pos_t)
    planes = [[1] + [0] * 3]
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),       # positive of 1
        (3, [0.01, 1.0, 0.0, 0.0]),         # hard negative (cos ~0.01)
        (4, [0.5, 0.8, 0.0, 0.0]),          # mid: neither pos nor neg
        (5, [-1.0, 0.0, 0.0, 0.0]),         # other bucket: never appears
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = contrastive_triplets(
        emb, planes, pos_threshold=0.9, neg_threshold=0.2
    ).collect()
    got = {(r.anchor_id, r.positive_id, r.negative_id) for r in out}
    assert got == {(1, 2, 3), (2, 1, 3)}
    for r in out:
        assert r.pos_sim >= 0.9 and r.neg_sim < 0.2


def test_all_but_the_top_matches_numpy(spark, sf_dir):
    """Power iteration must converge to numpy's dominant eigenvector
    of the covariance (up to sign), and the postprocessed vectors must
    be mean-centered with ~zero variance along the removed PC."""
    import numpy as np

    from kafka_spark_streaming_pipeline_spark.operators.embed import (
        all_but_the_top,
        top_principal_component,
    )

    # numpy parity needs a spectral gap, so plant one: anisotropic
    # cloud with a dominant direction (the regime the postprocess
    # exists for — real embedding spaces are anisotropic)
    rng = np.random.RandomState(7)
    d = 16
    direction = rng.randn(d)
    direction /= np.linalg.norm(direction)
    X = rng.randn(300, d) * 0.1 + np.outer(rng.randn(300) * 2.0, direction) + 0.5
    emb = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(X)],
        ["vec_id", "embedding"],
    )
    mu_np = X.mean(axis=0)
    C = np.cov((X - mu_np).T, bias=True)
    w, V = np.linalg.eigh(C)
    pc_np = V[:, -1]

    mu, pc, eig = top_principal_component(emb, n_iter=20)
    assert np.allclose(mu, mu_np, atol=1e-9)
    align = abs(float(np.dot(pc, pc_np)))
    assert align > 0.999, align
    assert abs(eig - w[-1]) / w[-1] < 0.05

    out = all_but_the_top(emb, n_iter=20)
    P = np.array([r.processed for r in out.orderBy("vec_id").collect()])
    # projections onto the removed direction are ~0 and the mean is gone
    assert np.abs(P @ np.array(pc)).max() < 1e-9
    assert np.abs(P.mean(axis=0)).max() < 1e-9

    # on the real (near-isotropic) table the EXACT invariants still
    # hold for whatever direction the iteration found
    real = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    _, pc_r, _ = top_principal_component(real, n_iter=5)
    R = np.array(
        [r.processed for r in all_but_the_top(real, n_iter=5).collect()]
    )
    assert np.abs(R @ np.array(pc_r)).max() < 1e-9
    assert np.abs(R.mean(axis=0)).max() < 1e-9


def test_power_iteration_early_exit_and_path_parity(spark):
    """On planted anisotropic data the iteration must CONVERGE AND
    STOP before the round cap (every skipped round is a corpus pass
    saved on the scan path), and the one-scan moment path must agree
    with the per-round distributed path to float precision."""
    import numpy as np

    from kafka_spark_streaming_pipeline_spark.operators.embed import (
        top_principal_component,
    )

    rng = np.random.RandomState(11)
    d = 12
    direction = rng.randn(d)
    direction /= np.linalg.norm(direction)
    X = rng.randn(200, d) * 0.05 + np.outer(rng.randn(200) * 3.0, direction)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(X)],
        ["vec_id", "embedding"],
    )

    st_m: dict = {}
    mu_m, pc_m, eig_m = top_principal_component(emb, n_iter=50, stats=st_m)
    assert st_m["path"] == "moment"
    assert st_m["rounds"] < 50  # early-exit fired

    st_d: dict = {}
    mu_d, pc_d, eig_d = top_principal_component(
        emb, n_iter=50, moment_dim_cap=0, stats=st_d
    )
    assert st_d["path"] == "scan"
    assert st_d["rounds"] < 50  # every saved round = a corpus pass saved

    align = abs(float(np.dot(pc_m, pc_d)))
    assert align > 1 - 1e-9, align
    assert np.allclose(mu_m, mu_d, atol=1e-12)
    assert abs(eig_m - eig_d) / eig_d < 1e-9


def test_tracked_persist_release_via_engine(spark, sf_dir):
    """Operator-internal persists register in the tracked cache so a
    long-lived session can release them: after clear_caches() the
    frames report no storage level (and simply recompute on reuse)."""
    from kafka_spark_streaming_pipeline_spark.engine import Engine
    from kafka_spark_streaming_pipeline_spark.operators.timeseries import (
        dense_hourly_counts,
    )

    eng = Engine(spark, sf_dir)
    dense = dense_hourly_counts(eng.table("events"))
    n = dense.count()
    assert dense.storageLevel.useMemory  # multi-consumer frame is cached
    released = eng.clear_caches()
    assert released >= 2  # sparse + dense at minimum
    assert not dense.storageLevel.useMemory
    assert dense.count() == n  # recomputes fine after release


def test_session_affinity_lift_semantics(spark):
    """Planted sessions with a known co-occurrence structure: the
    (view, click) pair occurs in every session containing either, so
    its lift is 1/support_product; a type pair never co-occurring is
    absent; min_sessions suppresses rare pairs."""
    import datetime as dt

    from kafka_spark_streaming_pipeline_spark.operators.timeseries import (
        session_affinity,
    )

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # 4 users x 1 session each: all contain view+click; 2 also contain buy
    for u in range(4):
        for i, et in enumerate(["view", "click"] + (["buy"] if u < 2 else [])):
            rows.append((u, base + dt.timedelta(minutes=i), eid, et))
            eid += 1
    events = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    out = {
        (r.type_a, r.type_b): r
        for r in session_affinity(events, min_sessions=2).collect()
    }
    vc = out[("click", "view")]
    assert vc.n_ab == 4 and vc.support == 1.0 and vc.lift == 1.0
    bc = out[("buy", "click")]
    # buy in 2/4 sessions, click in 4/4 -> lift = (2/4) / (0.5 * 1.0) = 1
    assert bc.n_ab == 2 and bc.support == 0.5 and bc.lift == 1.0
    assert len(out) == 3  # (buy,view) too; nothing else


def test_rake_scores_multiword_phrases_over_common_words(spark):
    """RAKE's degree/frequency scoring must rank a recurring
    multi-word technical phrase above its individual common words,
    and stopwords must never appear inside any phrase."""
    from kafka_spark_streaming_pipeline_spark.operators.text import (
        STOPWORDS,
        rake_keyphrases,
    )

    doc = "deep neural network training of the deep neural network for data"
    docs = spark.createDataFrame([(i, doc) for i in range(3)], ["doc_id", "text"])
    out = rake_keyphrases(docs, top=5, min_count=2).collect()
    assert out, "keyphrases expected"
    top = out[0]
    # the longest stopword-free run wins (degree rewards longer runs)
    assert top.phrase == "deep neural network training"
    assert {r.phrase for r in out} >= {"deep neural network training",
                                       "deep neural network"}
    for r in out:
        assert not any(w in STOPWORDS for w in r.phrase.split(" "))
    # degree/freq: the 3-word phrase outranks the single word 'data'
    singles = {r.phrase: r.rake_score for r in out}
    if "data" in singles:
        assert singles["deep neural network"] > singles["data"]


def test_leadlag_xcorr_detects_planted_lead(spark):
    """A planted series where 'purchase' counts copy 'view' counts
    shifted one hour later must peak (xcorr == 1.0) at lag +1 for the
    (purchase, view)... i.e. the (a<b) pair at the lag mapping a's
    hours onto b's."""
    import datetime as dt

    from kafka_spark_streaming_pipeline_spark.operators.timeseries import (
        leadlag_xcorr,
    )

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    counts = [3, 7, 2, 9, 5, 8, 1, 6, 4, 10, 2, 7]
    for h, c in enumerate(counts):
        for _ in range(c):  # 'view' at hour h
            rows.append((base + dt.timedelta(hours=h, minutes=1), "view", eid)); eid += 1
        for _ in range(c):  # 'purchase' copies it at hour h+1
            rows.append((base + dt.timedelta(hours=h + 1, minutes=2), "purchase", eid)); eid += 1
    events = spark.createDataFrame(rows, "ts timestamp, event_type string, event_id long")
    out = {
        r.lag_hours: r.xcorr
        for r in leadlag_xcorr(events, max_lag_hours=2, min_hours=5).collect()
    }
    # pair is (purchase, view) with a<b; purchase at h equals view at
    # h-1, so view's series at hb = ha + (-1)... the perfect lag is -1
    # for (purchase -> view) i.e. +1 for view leading purchase
    assert out[-1] == 1.0
    assert all(v < 1.0 for lag, v in out.items() if lag != -1)


def test_seasonal_anomalies_catch_outage_and_unmasked_spike(spark):
    """Zero-count outage hours must be scored (the dense grid makes
    them visible) and a single spike must fire against its
    leave-one-out baseline instead of masking itself."""
    import datetime as dt

    from kafka_spark_streaming_pipeline_spark.operators.timeseries import (
        seasonal_anomalies,
    )

    base = dt.datetime(2024, 1, 1, 0)
    rows = []
    eid = 0
    # 10 days of 'api' traffic: hour 14 is steady except a 50x spike
    # on day 8 (leave-one-out must flag it, not let it mask itself);
    # hour 13 is CONSTANT except a total outage on day 6 (zero in a
    # zero-variance slot -> the -9999 sentinel, the case a sparse
    # series or a var>0 filter would silently miss).
    for day in range(10):
        n14 = 250 if day == 8 else 5
        for _ in range(n14):
            rows.append((base + dt.timedelta(days=day, hours=14), "api", eid)); eid += 1
        if day != 6:
            for _ in range(4):
                rows.append((base + dt.timedelta(days=day, hours=13), "api", eid)); eid += 1
    events = spark.createDataFrame(rows, "ts timestamp, event_type string, event_id long")
    out = {
        (r.hour, r.cnt): r.z_score
        for r in seasonal_anomalies(events, z_threshold=2.0).collect()
    }
    spike_key = (base + dt.timedelta(days=8, hours=14), 250)
    outage_key = (base + dt.timedelta(days=6, hours=13), 0)
    assert spike_key in out and out[spike_key] > 2.0, out
    assert outage_key in out and out[outage_key] == -9999.0, out


def test_curation_funnel_planted_stages(spark):
    """Each tier of the composed funnel removes exactly its planted
    victim: a low-quality doc at 1_quality, one of two exact
    duplicates at 2_exact_dedup, the near-duplicate at 3_near_dedup,
    the eval-copying doc at 4_decontaminate — and the funnel chains
    (docs_out[i] == docs_in[i+1]) with exact token accounting."""
    from kafka_spark_streaming_pipeline_spark.operators.curation import curation_funnel

    base = (
        "the quick brown fox jumps over a lazy dog while many other animals "
        "watch from nearby fields and wonder about the strange spectacle "
        "unfolding before their curious eyes during that warm afternoon"
    )  # 30 words, stopword-rich, clean trigrams
    near = base.replace("warm afternoon", "cold evening")
    eval_text = (
        "researchers evaluated the benchmark suite for measuring language "
        "model quality across many diverse tasks and found that careful "
        "decontamination of the training corpus remains absolutely essential "
        "for trustworthy reported results overall"
    )
    # >= 20% of this doc's distinct 5-grams come verbatim from eval_text
    contaminated = (
        "researchers evaluated the benchmark suite for measuring language "
        "model quality across many diverse tasks and noted in passing that "
        "unrelated filler content about gardening cooking travel sports "
        "music painting also fills this document nicely today"
    )
    unique2 = (
        "a completely different report describes harvest totals for wheat "
        "barley oats and rye across seven regions with detailed tables "
        "showing yearly trends that farmers consult before planting their "
        "next season of crops in spring"
    )
    train = spark.createDataFrame(
        [
            (1, base),
            (2, unique2),
            (3, unique2),   # exact duplicate of 2 -> one removed
            (4, near),      # near-duplicate of 1 -> removed at closure
            (5, "too short to pass"),  # fails gopher n_words >= 30
            (7, contaminated),         # removed at decontamination
        ],
        "doc_id long, text string",
    )
    evals = spark.createDataFrame([(6, eval_text)], "doc_id long, text string")
    rows = {r["stage"]: r for r in curation_funnel(train, evals).collect()}

    assert rows["0_eval_holdout"].docs_in == 7
    assert rows["0_eval_holdout"].docs_out == 6
    assert rows["1_quality"].docs_removed == 1       # doc 5
    assert rows["2_exact_dedup"].docs_removed == 1   # doc 3 (min id 2 survives)
    assert rows["3_near_dedup"].docs_removed == 1    # doc 4 (min id 1 survives)
    assert rows["4_decontaminate"].docs_removed == 1  # doc 7
    assert rows["5_shards"].docs_removed == 0
    assert rows["5_shards"].docs_out == 2            # docs 1 and 2 survive
    order = ["0_eval_holdout", "1_quality", "2_exact_dedup",
             "3_near_dedup", "4_decontaminate", "5_shards"]
    for a, b in zip(order, order[1:]):
        assert rows[a].docs_out == rows[b].docs_in
        assert rows[b].tokens_out <= rows[a].tokens_out


def test_split_leakage_flags_cross_split_neardups(spark):
    """A planted near-dup pair whose ids hash into different splits
    must surface as a leaky row; an identical pair within one split
    must not."""
    import hashlib

    from kafka_spark_streaming_pipeline_spark.operators.curation import split_leakage

    def bucket(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) % 100

    train_ids = [i for i in range(200) if bucket(i) < 90]
    test_ids = [i for i in range(200) if bucket(i) >= 95]
    base = (
        "the quick brown fox jumps over a lazy dog while many other animals "
        "watch from nearby fields and wonder about the strange spectacle "
        "unfolding before their curious eyes during one warm afternoon"
    )
    rows = [
        (train_ids[0], base),
        (test_ids[0], base.replace("warm", "cold")),   # cross-split near-dup
        (train_ids[1], base.replace("fox", "cat")),    # in-split near-dup
        (train_ids[2], "completely unrelated text about harvest totals for "
                       "wheat barley and oats across seven distinct regions"),
    ]
    out = {
        (r["split_a"], r["split_b"]): r
        for r in split_leakage(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    leak = out[("test", "train")]
    assert leak.leaky and leak.n_pairs >= 1
    assert out[("train", "train")].leaky is False


def test_kmv_overlap_matrix_exact_below_k(spark):
    """Sets smaller than k make the per-group sketch exact: the matrix
    must report true distinct counts and the true hash-set Jaccard."""
    from pyspark.sql import functions as F

    from kafka_spark_streaming_pipeline_spark.operators.sketches import (
        kmv_overlap_matrix,
        kmv_sketch_by,
    )

    rows = (
        [("a", f"v{i}") for i in range(40)]
        + [("b", f"v{i}") for i in range(20, 60)]   # 20 shared with a
        + [("c", f"w{i}") for i in range(10)]       # disjoint
    )
    df = spark.createDataFrame(rows, "grp string, val string")
    m = {
        (r["grp_a"], r["grp_b"]): r
        for r in kmv_overlap_matrix(
            kmv_sketch_by(df, ["grp"], F.col("val")), "grp"
        ).collect()
    }
    ab = m[("a", "b")]
    assert ab.est_distinct_a == 40.0 and ab.est_distinct_b == 40.0
    assert ab.est_union == 60.0
    assert abs(ab.kmv_jaccard - 20 / 60) < 1e-3
    assert m[("a", "c")].kmv_jaccard == 0.0
    assert len(m) == 3  # unordered pairs only


def test_snapshot_drift_flags_language_flip(spark):
    """A source whose new snapshot flips English->Spanish must flag
    drift with delta_en_rate == -1; a stable source must not."""
    from kafka_spark_streaming_pipeline_spark.operators.curation import snapshot_drift

    en = ("the story of a fox and the dog is told here in plain english "
          "words that carry the usual stopword mix for detection purposes")
    es = ("el cuento de la zorra y el perro que se narra aqui con palabras "
          "de la lengua que lleva la mezcla usual para que se detecte bien")
    old = spark.createDataFrame(
        [(1, "stable", en), (2, "flipping", en)], "doc_id long, source string, text string"
    )
    new = spark.createDataFrame(
        [(3, "stable", en), (4, "flipping", es)], "doc_id long, source string, text string"
    )
    out = {r["source"]: r for r in snapshot_drift(old, new).collect()}
    assert out["flipping"].drift and out["flipping"].delta_en_rate == -1.0
    assert not out["stable"].drift
    assert out["stable"].delta_en_rate == 0.0


def test_curriculum_order_places_easy_before_hard(spark):
    """Docs built of corpus-common bigrams must land in an earlier
    (easier) stage than a doc of corpus-unique bigrams; (stage, shard)
    positions are dense from 1."""
    from kafka_spark_streaming_pipeline_spark.operators.curation import curriculum_order

    common = "the cat sat on the mat and the dog sat on the rug"
    rows = [(i, common) for i in range(8)]  # shared bigrams -> low CE
    rows.append((100, "zebra quantum flute harvest umbrella cactus wizard "
                      "planet forest lantern meadow rocket"))  # unique bigrams
    out = curriculum_order(
        spark.createDataFrame(rows, "doc_id long, text string"), n_stages=2, n_shards=2
    )
    got = {r.doc_id: r for r in out.collect()}
    assert got[100].stage == 2
    assert all(got[i].stage == 1 for i in range(8) if i in got)
    # dense positions within each (stage, shard) cell
    from collections import defaultdict

    cells = defaultdict(list)
    for r in got.values():
        cells[(r.stage, r.shard)].append(r.pos)
    for poss in cells.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))


def test_token_budget_plan_caps_and_accounts(spark):
    """A tiny source hits the epoch cap (capped=True, epochs == cap);
    the allocation never exceeds the budget and the unallocated
    remainder is exactly budget - sum(alloc)."""
    from kafka_spark_streaming_pipeline_spark.operators.curation import (
        token_budget_plan,
    )

    big = " ".join(f"w{i}" for i in range(200))
    tiny = "just a few words here"
    rows = [(i, "big", big) for i in range(50)] + [(100, "tiny", tiny)]
    out = {
        r.source: r
        for r in token_budget_plan(
            spark.createDataFrame(rows, "doc_id long, source string, text string"),
            budget_factor=2.0,
            max_epochs=4.0,
        ).collect()
    }
    t = out["tiny"]
    assert t.capped and abs(t.epochs - 4.0) < 0.01
    assert not out["big"].capped
    total_alloc = sum(r.alloc_tokens for r in out.values())
    budget = 2 * sum(r.n_tokens for r in out.values())
    assert total_alloc <= budget
    assert out["big"].unallocated_tokens == budget - total_alloc
    assert abs(sum(r.mix_weight for r in out.values()) - 1.0) < 1e-4


def test_phash_neardup_pairs_on_raw_payloads(spark):
    """Identical byte payloads pair at hamming 0; a payload with an
    inverted gradient pattern pairs with nothing; the dHash word
    layout puts bit j of word w at px[r*9+c] < px[r*9+c+1]."""
    from kafka_spark_streaming_pipeline_spark.operators.multimodal import (
        phash64,
        phash_neardup_pairs,
        pixel_grid,
    )

    ramp = bytes(range(72))            # strictly increasing -> all bits 1
    flat = bytes([7] * 72)             # constant -> all bits 0
    rows = [(1, ramp), (2, ramp), (3, flat)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")

    sig = {r.doc_id: list(r.sig) for r in phash64(pixel_grid(df)).collect()}
    assert sig[1] == [65535, 65535, 65535, 65535]  # every gradient positive
    assert sig[3] == [0, 0, 0, 0]
    assert sig[1] == sig[2]

    pairs = phash_neardup_pairs(df, max_hamming=3).collect()
    assert len(pairs) == 1
    assert (pairs[0].doc_a, pairs[0].doc_b, pairs[0].hamming) == (1, 2, 0)


def test_doc_fate_attributes_each_planted_removal(spark):
    """Per-doc provenance for the same planted corpus as the funnel
    test: each victim carries its tier's typed evidence, and the fate
    counts reconcile with the funnel's stage removals."""
    from kafka_spark_streaming_pipeline_spark.operators.curation import (
        curation_flags,
        curation_funnel,
        doc_fate,
    )

    base = (
        "the quick brown fox jumps over a lazy dog while many other animals "
        "watch from nearby fields and wonder about the strange spectacle "
        "unfolding before their curious eyes during that warm afternoon"
    )
    unique2 = (
        "a completely different report describes harvest totals for wheat "
        "barley oats and rye across seven regions with detailed tables "
        "showing yearly trends that farmers consult before planting their "
        "next season of crops in spring"
    )
    eval_text = (
        "researchers evaluated the benchmark suite for measuring language "
        "model quality across many diverse tasks and found that careful "
        "decontamination of the training corpus remains absolutely essential "
        "for trustworthy reported results overall"
    )
    contaminated = (
        "researchers evaluated the benchmark suite for measuring language "
        "model quality across many diverse tasks and noted in passing that "
        "unrelated filler content about gardening cooking travel sports "
        "music painting also fills this document nicely today"
    )
    train = spark.createDataFrame(
        [
            (1, base),
            (2, unique2),
            (3, unique2),
            (4, base.replace("warm afternoon", "cold evening")),
            (5, "too short to pass"),
            (7, contaminated),
        ],
        "doc_id long, text string",
    )
    evals = spark.createDataFrame([(6, eval_text)], "doc_id long, text string")

    fates = {r.doc_id: r for r in doc_fate(curation_flags(train, evals)).collect()}
    assert fates[5].fate == "removed_quality" and fates[5].failed_rule == "r_len"
    assert fates[3].fate == "removed_exact_dup" and fates[3].canonical_id == 2
    assert fates[4].fate == "removed_near_dup" and fates[4].dup_component == 1
    assert fates[7].fate == "removed_contaminated"
    assert fates[7].contamination_ratio >= 0.2
    assert fates[1].fate == "kept" and fates[2].fate == "kept"
    assert fates[1].contamination_ratio is not None  # reached the decon tier

    # cross-operator reconciliation: fate counts == funnel removals
    funnel = {r.stage: r for r in curation_funnel(train, evals).collect()}
    from collections import Counter

    counts = Counter(r.fate for r in fates.values())
    assert counts["removed_quality"] == funnel["1_quality"].docs_removed
    assert counts["removed_exact_dup"] == funnel["2_exact_dedup"].docs_removed
    assert counts["removed_near_dup"] == funnel["3_near_dedup"].docs_removed
    assert counts["removed_contaminated"] == funnel["4_decontaminate"].docs_removed
    assert counts["kept"] == funnel["5_shards"].docs_out


def test_audio_fingerprint_neardup_on_raw_payloads(spark):
    """Identical audio payloads pair at hamming 0; rising vs falling
    energy ramps produce complementary fingerprints and never pair."""
    from kafka_spark_streaming_pipeline_spark.operators.multimodal import (
        audio_fingerprint64,
        audio_neardup_pairs,
        decode_audio_samples,
    )

    rising = bytes(range(128, 248))        # |amplitude| grows frame over frame
    falling = bytes(range(247, 127, -1))   # mirror image
    rows = [(1, rising), (2, rising), (3, falling)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")

    sig = {
        r.doc_id: list(r.sig)
        for r in audio_fingerprint64(decode_audio_samples(df)).collect()
    }
    assert sig[1] == [65535, 65535, 65535, 65535]  # every gradient positive
    assert sig[3] == [0, 0, 0, 0]
    assert sig[1] == sig[2]

    pairs = audio_neardup_pairs(df, max_hamming=3).collect()
    assert len(pairs) == 1
    assert (pairs[0].doc_a, pairs[0].doc_b, pairs[0].hamming) == (1, 2, 0)


def test_entity_resolution_links_single_token_drops(spark):
    """The 2-pass rarest-token blocking guarantee: a variant record
    missing ONE token always reaches candidate generation, verifies
    on Jaccard, and lands in its base record's entity; records that
    merely share one rare token (low Jaccard) stay separate."""
    from kafka_spark_streaming_pipeline_spark.operators.linkage import entity_resolve

    bases = {
        1: "quick brown fox jumps over lazy dog tonight",
        2: "alpha beta gamma delta epsilon zeta eta theta",
        3: "stormy petrel circles windward basalt cliffs alone",
    }
    rows = [(rid, m) for rid, m in bases.items()]
    # variants drop the 1st, 4th, and last token respectively
    rows.append((101, "brown fox jumps over lazy dog tonight"))
    rows.append((102, "alpha beta gamma epsilon zeta eta theta"))
    rows.append((103, "stormy petrel circles windward basalt cliffs"))
    # shares the rare token 'crimson' with 105 but Jaccard 1/7 < 0.6
    rows.append((104, "crimson green blue purple"))
    rows.append((105, "crimson orange yellow pink"))
    recs = spark.createDataFrame(rows, ["rec_id", "mention"])
    out = {
        r["rec_id"]: r
        for r in entity_resolve(recs).collect()
    }
    for base_id, var_id in [(1, 101), (2, 102), (3, 103)]:
        assert out[var_id]["entity_id"] == out[base_id]["entity_id"] == base_id
        assert out[base_id]["cluster_size"] == 2
        assert out[base_id]["is_canonical"] and not out[var_id]["is_canonical"]
    assert out[104]["entity_id"] != out[105]["entity_id"]
    assert out[104]["cluster_size"] == 1 and out[104]["is_canonical"]
    # distinct bases never merge
    assert len({out[b]["entity_id"] for b in bases}) == 3


def test_entity_resolution_conjunctive_keeps_drop_recall(spark):
    """The conjunctive rare-token-PAIR blocking (x104's scale dial)
    preserves the single-token-drop guarantee: the variant still lands
    in its base's entity whichever of the base's rarest-3 tokens was
    dropped; composite keys never collide with 1-token degenerate
    keys; low-Jaccard shared-rare-token records stay separate."""
    from kafka_spark_streaming_pipeline_spark.operators.linkage import (
        entity_resolve,
        rare_token_pair_keys,
    )

    bases = {
        1: "quick brown fox jumps over lazy dog tonight",
        2: "alpha beta gamma delta epsilon zeta eta theta",
        3: "stormy petrel circles windward basalt cliffs alone",
    }
    rows = [(rid, m) for rid, m in bases.items()]
    rows.append((101, "brown fox jumps over lazy dog tonight"))
    rows.append((102, "alpha beta gamma epsilon zeta eta theta"))
    rows.append((103, "stormy petrel circles windward basalt cliffs"))
    rows.append((104, "crimson green blue purple"))
    rows.append((105, "crimson orange yellow pink"))
    recs = spark.createDataFrame(rows, ["rec_id", "mention"])
    out = {
        r["rec_id"]: r
        for r in entity_resolve(recs, conjunctive=True).collect()
    }
    for base_id, var_id in [(1, 101), (2, 102), (3, 103)]:
        assert out[var_id]["entity_id"] == out[base_id]["entity_id"] == base_id
        assert out[base_id]["cluster_size"] == 2
    assert out[104]["entity_id"] != out[105]["entity_id"]

    # key-shape invariants: <= 3 composite keys per record, each key
    # a pair in global (df, token) order; a 1-token record keys its
    # lone token verbatim
    toks = spark.createDataFrame(
        [(1, ["zeb", "yak", "wol", "vix"]), (2, ["solo"])],
        ["rec_id", "toks"],
    )
    keys = {}
    for r in rare_token_pair_keys(toks, top_k=3).collect():
        keys.setdefault(r.rec_id, []).append(r.blk)
    assert len(keys[1]) == 3 and all(" " in k for k in keys[1])
    # all tokens df=1: order falls back to token asc -> rarest-3 are
    # vix, wol, yak
    assert sorted(keys[1]) == ["vix wol", "vix yak", "wol yak"]
    assert keys[2] == ["solo"]


def test_mmr_demotes_redundant_high_scorer(spark):
    """MMR semantics: a near-duplicate of the first pick loses to a
    diverse lower-relevance candidate once the redundancy penalty
    applies, and max_sim_prior records the similarity at pick time."""
    from kafka_spark_streaming_pipeline_spark.operators.retrieval import mmr_rerank

    short = spark.createDataFrame(
        [(1, 1.0), (2, 0.9), (3, 0.5)], "doc_id BIGINT, score DOUBLE"
    )
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [2.0, 0.0]), (3, [0.0, 1.0])],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    # doc2 duplicates doc1's direction (cos=1); doc3 is orthogonal.
    # pick2: doc2 scores .7*.9-.3*1=.33 < doc3's .7*.5-0=.35
    out = mmr_rerank(short, emb, k=3).orderBy("pick_rank").collect()
    assert [r["doc_id"] for r in out] == [1, 3, 2]
    assert [r["max_sim_prior"] for r in out] == [0.0, 0.0, 1.0]
    assert [r["pick_rank"] for r in out] == [1, 2, 3]


def test_centroid_drift_flags_rotation_not_identity(spark):
    """A label whose snapshots share direction reports cosine 1.0 /
    no drift; a label whose new snapshot rotates orthogonally flags."""
    from kafka_spark_streaming_pipeline_spark.operators.embed import centroid_drift

    old = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("a", [1.0, 0.0]), ("b", [0.6, 0.8])],
        "label STRING, embedding ARRAY<DOUBLE>",
    )
    new = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [-0.8, 0.6])],
        "label STRING, embedding ARRAY<DOUBLE>",
    )
    out = {r["label"]: r for r in centroid_drift(old, new).collect()}
    assert out["a"]["centroid_cos"] == 1.0 and not out["a"]["drift"]
    assert out["a"]["norm_delta"] == 0.0
    assert out["b"]["centroid_cos"] == 0.0 and out["b"]["drift"]
    assert out["a"]["n_old"] == 2 and out["a"]["n_new"] == 1


def test_key_skew_profile_planted_hot_key(spark):
    """A planted hot key dominates max_freq/skew_ratio/top CSV and
    drives the salt recommendation; a uniform key profiles flat."""
    from kafka_spark_streaming_pipeline_spark.operators.profile import (
        key_skew_profile,
    )

    rows = [("hot",)] * 60 + [(f"u{i}",) for i in range(20)] * 3
    df = spark.createDataFrame(rows, "k STRING")
    out = key_skew_profile(df, "k").collect()[0]
    assert out["n_rows"] == 120 and out["n_keys"] == 21
    assert out["max_freq"] == 60 and out["p50_freq"] == 3
    assert out["skew_ratio"] == 20.0
    assert out["top_keys_csv"].startswith("hot:60,")
    # p99 over 21 keys -> the hot key itself; salt recommendation >= 1
    assert out["suggested_salt"] >= 1
    flat = key_skew_profile(
        spark.createDataFrame([(f"u{i}",) for i in range(10)] * 4, "k STRING"), "k"
    ).collect()[0]
    assert flat["skew_ratio"] == 1.0 and flat["suggested_salt"] == 1


def test_shard_manifest_order_invariant_and_byte_sensitive(spark):
    """The manifest is invariant to partitioning/row order (commutative
    checksums) and any single-byte change flips both checksums."""
    from kafka_spark_streaming_pipeline_spark.operators.curation import shard_manifest

    rows = [(i, f"document number {i} with some text") for i in range(50)]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    base = {r["shard_id"]: r for r in shard_manifest(docs, n_shards=4).collect()}
    shuffled = docs.orderBy(F.reverse(F.col("text"))).repartition(7)
    again = {
        r["shard_id"]: r
        for r in shard_manifest(shuffled, n_shards=4).collect()
    }
    assert base.keys() == again.keys()
    for s in base:
        assert tuple(base[s]) == tuple(again[s])
    mutated = spark.createDataFrame(
        [(i, t + ("!" if i == 17 else "")) for i, t in rows],
        "doc_id BIGINT, text STRING",
    )
    mut = {r["shard_id"]: r for r in shard_manifest(mutated, n_shards=4).collect()}
    changed = [s for s in base if tuple(mut[s]) != tuple(base[s])]
    assert len(changed) == 1  # exactly doc 17's shard
    s = changed[0]
    assert mut[s]["checksum_xor"] != base[s]["checksum_xor"]
    assert mut[s]["checksum_sum"] != base[s]["checksum_sum"]


def test_cluster_silhouette_separated_beats_overlapping(spark):
    """Comparative semantics: the same within-cluster spread scores a
    much lower silhouette when the two clusters' directions nearly
    overlap than when they are orthogonal."""
    import math

    from kafka_spark_streaming_pipeline_spark.operators.similarity import (
        cluster_silhouette,
    )

    def ring(base, n, start_id):
        return [
            (start_id + i, [math.cos(base + (i % 5 - 2) * 0.05),
                            math.sin(base + (i % 5 - 2) * 0.05)])
            for i in range(n)
        ]

    sep = spark.createDataFrame(
        ring(0.0, 20, 0) + ring(math.pi / 2, 20, 100),
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    ovl = spark.createDataFrame(
        ring(0.0, 20, 0) + ring(0.35, 20, 100),
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    s_sep = cluster_silhouette(sep, k=2, iterations=4).collect()
    s_ovl = cluster_silhouette(ovl, k=2, iterations=4).collect()
    assert sum(r["n_points"] for r in s_sep) == 40
    mean_sep = sum(r["mean_silhouette"] * r["n_points"] for r in s_sep) / 40
    mean_ovl = sum(r["mean_silhouette"] * r["n_points"] for r in s_ovl) / 40
    assert mean_ovl < mean_sep
    assert mean_sep > 0.9  # orthogonal split separates almost perfectly


def test_srm_check_flags_planted_imbalance(spark):
    """A biased assignment (one arm systematically dropped) trips the
    chi-square flag; the honest hash split over the same units does
    not."""
    from kafka_spark_streaming_pipeline_spark.operators.profile import srm_check

    units = spark.createDataFrame(
        [(f"user{i}",) for i in range(2000)], "user_id STRING"
    )
    ok = srm_check(units, "user_id").collect()
    assert not ok[0]["srm_flag"] and not ok[1]["srm_flag"]
    assert sum(r["n_units"] for r in ok) == 2000
    # simulate a broken pipeline: 30% of one arm's logs lost
    from kafka_spark_streaming_pipeline_spark.operators.text import hash60

    arm = F.pmod(hash60(F.col("user_id"), salt="srm|"), F.lit(2))
    biased = units.filter(
        (arm == 0) | (F.pmod(F.xxhash64("user_id"), F.lit(10)) < 7)
    )
    bad = srm_check(biased, "user_id").collect()
    assert bad[0]["srm_flag"] and bad[1]["srm_flag"]


def test_touch_attribution_first_last_and_window(spark):
    """Planted journeys: click->view->purchase attributes (click,
    view); a touch outside the 24h window is invisible; a touchless
    purchase lands in (none, none); same-ms ties break by type order."""
    import datetime as dt

    from kafka_spark_streaming_pipeline_spark.operators.timeseries import (
        touch_attribution,
    )

    t0 = dt.datetime(2024, 1, 10, 12, 0, 0)

    def at(sec):
        return t0 + dt.timedelta(seconds=sec)

    rows = [
        # user 1: click, then view, then purchase
        (1, at(0), "click", 0.0),
        (1, at(60), "view", 0.0),
        (1, at(120), "purchase", 10.0),
        # user 2: only touch is 25h before purchase -> none
        (2, at(0), "click", 0.0),
        (2, at(25 * 3600), "purchase", 5.0),
        # user 3: no touches at all
        (3, at(0), "purchase", 2.5),
    ]
    events = spark.createDataFrame(
        rows, "user_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE"
    )
    out = {
        (r["first_touch"], r["last_touch"]): r
        for r in touch_attribution(events).collect()
    }
    assert out[("click", "view")]["n_conversions"] == 1
    assert out[("click", "view")]["total_value"] == 10.0
    assert out[("click", "view")]["mean_gap_sec"] == 60.0
    assert out[("none", "none")]["n_conversions"] == 2
    assert out[("none", "none")]["total_value"] == 7.5


def test_cusum_detects_planted_level_shift(spark):
    """A series that steps from mean 10 to mean 30 halfway through
    must raise the upper CUSUM past the threshold after the step and
    never before it; the mirrored step down trips the lower side.
    Also pins the prefix-sum/prefix-min rewrite against the textbook
    recursion computed in plain Python."""
    import datetime as dt

    from kafka_spark_streaming_pipeline_spark.operators.timeseries import (
        cusum_changepoints,
    )

    t0 = dt.datetime(2024, 3, 1, 0, 0, 0)
    rows = []
    for i in range(48):
        up = 10 if i < 24 else 30
        down = 30 if i < 24 else 10
        ts = t0 + dt.timedelta(hours=i)
        for c in range(up):
            rows.append((ts, "step_up"))
        for c in range(down):
            rows.append((ts, "step_down"))
    events = spark.createDataFrame(rows, "ts TIMESTAMP, event_type STRING")
    out = cusum_changepoints(events).collect()
    by_type = {}
    for r in sorted(out, key=lambda r: r["hour"]):
        by_type.setdefault(r["event_type"], []).append(r)

    up = by_type["step_up"]
    # below-global-mean first half: the UP side stays quiet, the DOWN
    # side legitimately accumulates (that IS a level below the mean);
    # after the step the UP side fires and the DOWN side decays to 0
    assert not any(r["shift_up"] for r in up[:24])
    assert any(r["shift_up"] for r in up[24:])
    assert not up[-1]["shift_down"] and up[-1]["cusum_down"] == 0.0
    down = by_type["step_down"]
    assert not any(r["shift_down"] for r in down[:24])
    assert any(r["shift_down"] for r in down[24:])
    assert not down[-1]["shift_up"] and down[-1]["cusum_up"] == 0.0

    # rewrite == textbook recursion (on the same quantized residuals)
    n = 48
    s1 = sum(10 if i < 24 else 30 for i in range(n))
    s2 = sum((10 if i < 24 else 30) ** 2 for i in range(n))
    mu = s1 / n
    var = (s2 - s1 * s1 / n) / (n - 1.0)
    sd = var ** 0.5
    s_plus, s_minus, exp_up, exp_dn = 0, 0, [], []
    for i in range(n):
        y = ((10 if i < 24 else 30) - mu) / sd
        s_plus = max(0, s_plus + int((y - 0.5) * 1000000))
        s_minus = max(0, s_minus + int((-y - 0.5) * 1000000))
        exp_up.append(round(s_plus / 1000000.0 + 1e-9, 4))
        exp_dn.append(round(s_minus / 1000000.0 + 1e-9, 4))
    assert [r["cusum_up"] for r in up] == exp_up
    assert [r["cusum_down"] for r in up] == exp_dn


def test_robust_outliers_median_mad_resist_contamination(spark):
    """A mean/std z-score is dragged by the spikes themselves; the
    median/MAD baseline must not be: 44 quiet hours at 10 (+/-1) with
    4 massive spike hours — the spikes flag, the quiet hours do not,
    and median/MAD stay at the quiet level.  Even-n median averages
    the two middle values; zero-MAD degrades to the sentinel."""
    import datetime as dt

    from kafka_spark_streaming_pipeline_spark.operators.timeseries import (
        robust_outliers,
    )

    t0 = dt.datetime(2024, 5, 1, 0, 0, 0)
    rows = []
    for i in range(48):
        if i % 12 == 6:
            n = 500  # contamination: 4 spike hours
        else:
            n = 10 + (i % 2)  # quiet: alternating 10 / 11
        ts = t0 + dt.timedelta(hours=i)
        rows.extend((ts, "api") for _ in range(n))
        rows.append((ts, "steady"))  # constant series -> MAD 0
    events = spark.createDataFrame(rows, "ts TIMESTAMP, event_type STRING")
    out = robust_outliers(events).collect()
    api = sorted((r for r in out if r["event_type"] == "api"), key=lambda r: r["hour"])
    # counts sorted: 20x10, 24x11, 4x500 -> median 11, MAD 0.5
    assert api[0]["median_cnt"] == 11.0
    assert all(r["is_outlier"] for r in api if r["cnt"] == 500)
    assert not any(r["is_outlier"] for r in api if r["cnt"] in (10, 11))
    # a mean/std baseline would put the quiet-vs-spike threshold far
    # higher: check the spike z is enormous under MAD scaling
    spike = next(r for r in api if r["cnt"] == 500)
    assert spike["robust_z"] > 600
    steady = [r for r in out if r["event_type"] == "steady"]
    assert all(r["robust_z"] == 0.0 and not r["is_outlier"] for r in steady)


def test_benford_audit_flags_uniform_but_passes_benford_sample(spark):
    """A geometric (multiplicative) sample follows Benford and must
    pass; a uniform sample must be flagged.  Digit extraction goes
    through exact integer cents: 999.995 rounds to 100000 cents ->
    digit 1, never a log10-boundary 9."""
    from kafka_spark_streaming_pipeline_spark.operators.profile import (
        benford_audit,
    )

    # multiplicative spread: x = 1.07^k spans several decades ->
    # first digits distribute ~Benford
    benford_rows = [(float(1.07 ** k),) for k in range(400)]
    uniform_rows = [(100.0 + i,) for i in range(400)]
    ben = benford_audit(
        spark.createDataFrame(benford_rows, "v DOUBLE"), "v"
    ).collect()
    uni = benford_audit(
        spark.createDataFrame(uniform_rows, "v DOUBLE"), "v"
    ).collect()
    assert not ben[0]["benford_violation"], ben[0]["chi2"]
    assert uni[0]["benford_violation"], uni[0]["chi2"]
    # boundary: 999.995 -> 100000 cents -> digit 1
    edge = benford_audit(
        spark.createDataFrame([(999.995,), (1.0,)], "v DOUBLE"), "v"
    ).collect()
    assert {r["digit"] for r in edge} == {1}


def test_triangle_stats_clique_vs_chain(spark):
    """A 4-clique (true duplicate cluster) scores clustering 1.0 for
    every member; a 4-chain (risky transitive merge) scores 0; a hub
    with two connected leaves pins the oriented-wedge count against
    hand arithmetic (hub: 1 triangle of 3 possible wedge pairs)."""
    from kafka_spark_streaming_pipeline_spark.operators.graph import (
        triangle_stats,
    )

    clique = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    chain = [(11, 12), (12, 13), (13, 14)]
    # hub 21 linked to 22,23,24; only 22-23 closes
    hub = [(21, 22), (21, 23), (21, 24), (22, 23)]
    pairs = spark.createDataFrame(
        clique + chain + hub + [(22, 21)],  # reversed dup must collapse
        "doc_a BIGINT, doc_b BIGINT",
    )
    got = {r["doc_id"]: r for r in triangle_stats(pairs).collect()}
    for v in (1, 2, 3, 4):
        assert got[v]["degree"] == 3 and got[v]["n_triangles"] == 3
        assert got[v]["clustering"] == 1.0
    for v in (11, 14):
        assert got[v]["degree"] == 1 and got[v]["clustering"] == 0.0
    for v in (12, 13):
        assert got[v]["degree"] == 2 and got[v]["n_triangles"] == 0
        assert got[v]["clustering"] == 0.0
    assert got[21]["degree"] == 3 and got[21]["n_triangles"] == 1
    assert got[21]["clustering"] == round(2 * 1 / (3 * 2) + 1e-9, 6)
    assert got[24]["n_triangles"] == 0
    assert got[22]["n_triangles"] == 1 and got[22]["clustering"] == 1.0


def test_km_survival_censoring_and_product(spark):
    """Hand-built cohort: 4 users convert on days 1,1,3,5; 2 users
    censored (no purchase) with durations 2 and 9.  KM must count the
    censored users in the risk sets up to their censor day and the
    curve must equal the hand product; naive drop-the-censored would
    give a different (biased) curve."""
    import datetime as dt

    from kafka_spark_streaming_pipeline_spark.operators.timeseries import (
        km_survival,
    )

    t0 = dt.datetime(2024, 7, 1, 12, 0, 0)

    def at(days):
        return t0 + dt.timedelta(days=days)

    rows = []
    for u, conv_day in ((1, 1), (2, 1), (3, 3), (4, 5)):
        rows.append((u, at(0), "view"))
        rows.append((u, at(conv_day), "purchase"))
    rows.append((5, at(0), "view"))   # censored at horizon (day 9)
    rows.append((6, at(7), "view"))   # censored, duration 9-7=2
    rows.append((6, at(9), "click"))  # moves the horizon to day 9
    events = spark.createDataFrame(
        rows, "user_id BIGINT, ts TIMESTAMP, event_type STRING"
    )
    out = {r["duration_days"]: r for r in km_survival(events).collect()}
    # day 1: 6 at risk, 2 convert -> S = 4/6
    assert out[1]["n_at_risk"] == 6 and out[1]["n_events"] == 2
    assert out[1]["survival"] == round(4 / 6 + 1e-9, 6)
    # day 3: risk set lost the duration-2 censored user -> 3 at risk
    assert out[3]["n_at_risk"] == 3
    s3 = (4 / 6) * (2 / 3)
    assert abs(out[3]["survival"] - s3) < 1e-5
    # day 5: 2 at risk (user 5 censored at 9 still at risk), 1 converts
    assert out[5]["n_at_risk"] == 2
    assert abs(out[5]["survival"] - s3 * 0.5) < 1e-5
    assert set(out) == {1, 3, 5}


def test_prf_expansion_rescues_vocabulary_mismatch(spark):
    """A relevant doc that shares NO term with the query is
    unreachable by plain BM25; PRF must mine the bridging term from
    the feedback docs and retrieve it.  Generic terms frequent across
    the whole corpus must NOT be chosen as expansion (ln(N/df) ~ 0)."""
    from kafka_spark_streaming_pipeline_spark.operators.retrieval import (
        bm25_topk,
        prf_search,
    )

    rows = [
        (1, "solar panel guide with photovoltaic cells common filler"),
        (2, "solar energy systems use photovoltaic modules common filler"),
        (3, "solar farm economics and photovoltaic yield common filler"),
        # the vocabulary-mismatch doc: relevant, but never says 'solar'
        (10, "photovoltaic arrays convert sunlight efficiently common"),
    ] + [(100 + i, f"unrelated text about topic{i} common filler words here")
         for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")

    plain_ids = {r["doc_id"] for r in bm25_topk(docs, ["solar"]).collect()}
    assert 10 not in plain_ids

    out = prf_search(docs, ["solar"], fb_k=3, n_expand=1, topk=10).collect()
    assert out[0]["expanded_terms"] == "photovoltaic"
    assert 10 in {r["doc_id"] for r in out}


def test_roc_auc_midranks_and_degenerate_groups(spark):
    """Hand-computed AUC with ties: scores (1-,1+,2-,3+,3+) give
    midranks 1.5/3/4.5, R+ = 10.5, U = 4.5, AUC = 0.75.  Perfect and
    inverted separations hit 1.0 / 0.0; an all-positive group is
    undefined -> NULL (never a silent 0.5)."""
    from kafka_spark_streaming_pipeline_spark.operators.profile import roc_auc

    rows = (
        [("tie", 1, False), ("tie", 1, True), ("tie", 2, False),
         ("tie", 3, True), ("tie", 3, True)]
        + [("perf", s, s >= 3) for s in (1, 2, 3, 4)]
        + [("inv", s, s < 3) for s in (1, 2, 3, 4)]
        + [("degen", s, True) for s in (1, 2)]
    )
    df = spark.createDataFrame(rows, "source STRING, score_q LONG, label BOOLEAN")
    out = {r["source"]: r for r in roc_auc(df).collect()}
    assert out["tie"]["auc"] == round(0.75 + 1e-9, 6)
    assert out["perf"]["auc"] == 1.0
    assert out["inv"]["auc"] == 0.0
    assert out["degen"]["auc"] is None
    assert out["tie"]["n_pos"] == 3 and out["tie"]["n_neg"] == 2


def test_priority_sample_matches_brute_force_and_saturates(spark):
    """The top-k-by-priority set must equal a Python reimplementation
    of the identical deterministic draw (same IEEE op order), with
    ht_weight = max(w, tau) and tau = the (k+1)-th priority; when
    k >= n the threshold is 0 and every HT weight is the raw weight,
    so the sample degenerates to the full corpus."""
    import hashlib

    from kafka_spark_streaming_pipeline_spark.operators.curation import (
        priority_sample,
    )

    rows = [(i, "word " * (5 + 7 * (i % 13))) for i in range(60)]
    docs = spark.createDataFrame(
        [(i, t.strip()) for i, t in rows], "doc_id BIGINT, text STRING"
    )

    def pri(i, w):
        h = int(hashlib.md5(f"psample|{i}".encode()).hexdigest()[:15], 16)
        return float(w) / ((h + 1) / 1152921504606846976.0)

    weights = {i: len(t.strip().split(" ")) for i, t in rows}
    expect = sorted(weights, key=lambda i: (-pri(i, weights[i]), i))
    tau = pri(expect[10], weights[expect[10]])

    got = priority_sample(docs, k=10).collect()
    assert {r["doc_id"] for r in got} == set(expect[:10])
    for r in got:
        assert r["priority"] == pri(r["doc_id"], weights[r["doc_id"]])
        assert r["ht_weight"] == max(float(r["weight"]), tau)

    full = priority_sample(docs, k=200).collect()
    assert len(full) == 60
    assert all(r["ht_weight"] == float(r["weight"]) for r in full)


def test_bootstrap_ci_collapses_for_constants_and_brackets_the_mean(spark):
    """A constant-valued source has zero resampling variance -> the CI
    collapses onto the point estimate; a dispersed source gets a
    non-degenerate interval that brackets its mean and stays inside
    the data range.  Re-running yields bit-identical intervals (the
    draws are RNG-free)."""
    from kafka_spark_streaming_pipeline_spark.operators.profile import (
        bootstrap_mean_ci,
    )

    rows = [("const", i, 500000) for i in range(200)] + [
        ("spread", 1000 + i, (i % 11) * 100000) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "source STRING, doc_id BIGINT, value_q LONG")
    out = {r["source"]: r for r in bootstrap_mean_ci(df).collect()}
    c = out["const"]
    assert c["n_docs"] == 200
    assert c["ci_lo"] == c["mean"] == c["ci_hi"] == 0.5
    s = out["spread"]
    assert s["ci_lo"] < s["mean"] < s["ci_hi"]
    assert 0.0 <= s["ci_lo"] and s["ci_hi"] <= 1.0
    assert s["n_boot_valid"] == 32

    again = {r["source"]: r for r in bootstrap_mean_ci(df).collect()}
    assert again["spread"]["ci_lo"] == s["ci_lo"]
    assert again["spread"]["ci_hi"] == s["ci_hi"]


def test_gini_concentration_flat_vs_concentrated(spark):
    """All-equal weights give G = 0; n-1 near-zero docs plus one giant
    approach G -> (n-1)/n; a hand case (weights 1,1,2,4: S = 1+2+6+16
    = 25, G = 50/32 - 5/4 = 0.3125) pins the histogram/tie
    arithmetic."""
    from kafka_spark_streaming_pipeline_spark.operators.profile import (
        gini_concentration,
    )

    rows = (
        [("flat", 7) for _ in range(50)]
        + [("conc", 1) for _ in range(49)]
        + [("conc", 100000)]
        + [("hand", 1), ("hand", 1), ("hand", 2), ("hand", 4)]
    )
    df = spark.createDataFrame(rows, "source STRING, weight LONG")
    out = {r["source"]: r for r in gini_concentration(df).collect()}
    assert out["flat"]["gini"] == 0.0
    # exact: G = 2*S/(n*T) - (n+1)/n with S = sum(i * w_sorted_i)
    n, t = 50, 49 + 100000
    s = sum((i + 1) * 1 for i in range(49)) + 50 * 100000
    want = round(2 * s / (n * t) - (n + 1) / n + 1e-9, 6)
    assert abs(out["conc"]["gini"] - want) < 2e-6
    assert out["hand"]["gini"] == round(0.3125 + 1e-9, 6)
    assert out["hand"]["n_docs"] == 4 and out["hand"]["total_weight"] == 8


def test_spearman_rank_correlation_monotone_ties_and_degenerate(spark):
    """A perfect monotone (nonlinear!) relation scores +1, its
    inversion -1; the tie case x=[1,2,2,3], y=[10,20,30,40] has
    hand-computed rho = sqrt(0.9) ~ 0.948683; a constant signal is
    degenerate -> NULL."""
    from kafka_spark_streaming_pipeline_spark.operators.profile import (
        spearman_correlation,
    )

    rows = (
        [("mono", i, i * i * i) for i in range(1, 30)]        # nonlinear, monotone
        + [("inv", i, 1000 - i * i) for i in range(1, 30)]
        + [("tie", 1, 10), ("tie", 2, 20), ("tie", 2, 30), ("tie", 3, 40)]
        + [("const", 5, i) for i in range(1, 20)]
    )
    df = spark.createDataFrame(rows, "source STRING, x_q LONG, y_q LONG")
    out = {r["source"]: r for r in spearman_correlation(df).collect()}
    assert abs(out["mono"]["spearman_rho"] - 1.0) < 1e-5
    assert abs(out["inv"]["spearman_rho"] + 1.0) < 1e-5
    assert abs(out["tie"]["spearman_rho"] - 0.9486832980505138) < 1e-5
    assert out["const"]["spearman_rho"] is None


def test_cluster_size_distribution_accounts_for_every_doc(spark):
    """Planted corpus: a 3-clique of near-identical docs, a pair, and
    5 singletons -> rows (3,1), (2,1), (1,5); doc shares sum to 1 and
    every doc is counted exactly once."""
    from kafka_spark_streaming_pipeline_spark.operators.dedup import (
        cluster_size_distribution,
    )

    base = ("the quick brown fox jumps over the lazy dog and runs far "
            "away through fields")
    pair_text = ("entirely separate duplicated article about maritime "
                 "navigation charts and coastal weather patterns today")
    rows = (
        [(i, base + f" tail{i % 1}") for i in range(3)]          # 3-clique
        + [(10, pair_text), (11, pair_text)]                      # pair
        + [(100 + i,
            f"completely different text number {i} about topic{i} "
            f"with unique{i} words{i} here{i} nothing{i} shared{i}")
           for i in range(5)]
    )
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    out = {r["cluster_size"]: r for r in cluster_size_distribution(docs).collect()}
    assert out[3]["n_clusters"] == 1 and out[3]["n_docs"] == 3
    assert out[2]["n_clusters"] == 1 and out[2]["n_docs"] == 2
    assert out[1]["n_clusters"] == 5 and out[1]["n_docs"] == 5
    assert abs(sum(r["doc_share"] for r in out.values()) - 1.0) < 1e-5
    assert sum(r["n_docs"] for r in out.values()) == 10


def test_threshold_sensitivity_cumulative_counts(spark):
    """Three identical docs plus one moderately-similar doc: the
    identical trio pairs at est 1.0 (3 pairs); cumulative counts are
    monotone non-decreasing as the threshold drops and the top row's
    cumulative equals its own count."""
    from kafka_spark_streaming_pipeline_spark.operators.dedup import (
        threshold_sensitivity,
    )

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lamda mu nu xi omicron pi")
    rows = (
        [(i, base) for i in range(3)]
        + [(10, base.replace("delta", "other").replace("kappa", "word"))]
        + [(100, "totally unrelated content about different things entirely "
                 "with no shared phrases anywhere at all")]
    )
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    out = sorted(
        threshold_sensitivity(docs).collect(),
        key=lambda r: -r["est_jaccard"],
    )
    assert out[0]["est_jaccard"] == 1.0 and out[0]["n_pairs"] >= 3
    assert out[0]["n_pairs_at_or_above"] == out[0]["n_pairs"]
    cums = [r["n_pairs_at_or_above"] for r in out]
    assert cums == sorted(cums)
    assert cums[-1] == sum(r["n_pairs"] for r in out)


def test_ann_recall_audit_self_hit_and_bounds(spark, sf_dir):
    """Every query's exact top-10 contains itself, and the LSH
    candidate set always contains the query's own bucket — so recall
    is bounded away from 0; all counters stay within [0, k]."""
    from kafka_spark_streaming_pipeline_spark.plans import QUERIES

    rows = QUERIES["x165_ann_recall_audit"].builder(spark, sf_dir).collect()
    assert len(rows) == 50
    for r in rows:
        assert r["n_exact"] == 10 and r["k"] == 10
        assert 1 <= r["n_hits"] <= 10  # self-match guarantees >= 1
        assert 0 < r["n_approx"] <= 10
        assert r["recall"] == round(r["n_hits"] / 10 + 1e-9, 4)


def test_component_size_profile_hand_case(spark):
    """Components {A,B,C} and {D,E} over a 10-doc corpus: one size-3
    cluster, one size-2, five singletons; fractions sum to 1."""
    from kafka_spark_streaming_pipeline_spark.operators.dedup import (
        component_size_profile,
    )

    comp = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4)], "id BIGINT, component BIGINT"
    )
    corpus = spark.range(10).withColumnRenamed("id", "doc_id")
    out = {r["cluster_size"]: r for r in component_size_profile(comp, corpus).collect()}
    assert out[3]["n_clusters"] == 1 and out[3]["n_docs"] == 3
    assert out[2]["n_clusters"] == 1 and out[2]["n_docs"] == 2
    assert out[1]["n_clusters"] == 5 and out[1]["n_docs"] == 5
    assert abs(sum(r["corpus_frac"] for r in out.values()) - 1.0) < 1e-6


def test_int8_quantize_audit_hand_case(spark):
    """Hand arithmetic: scale = max|x|; codes floor(x/scale*127+0.5);
    fidelity on the codes; zero vector -> NULL metrics."""
    from kafka_spark_streaming_pipeline_spark.operators.embed import (
        int8_quantize_audit,
    )

    emb = spark.createDataFrame(
        [(1, [1.0, -0.5]), (2, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    rows = {r.vec_id: r for r in int8_quantize_audit(emb).collect()}
    r1 = rows[1]
    assert r1.scale == 1.0
    # codes = [127, floor(-63.5 + 0.5)] = [127, -63]
    # cos = (1*127 + (-0.5)(-63)) / (sqrt(1.25) * sqrt(127^2+63^2))
    import math

    cos = (127 + 31.5) / (math.sqrt(1.25) * math.sqrt(127**2 + 63**2))
    assert r1.cos_fidelity == round(cos + 1e-9, 4)
    # dequant = [1.0, -63/127]; max err = |-0.5 + 63/127|
    assert r1.max_abs_err == round(abs(-0.5 + 63 / 127) + 1e-9, 6)
    r2 = rows[2]
    assert r2.scale == 0.0 and r2.cos_fidelity is None and r2.max_abs_err is None


def test_bitext_margin_mine_planted_translations(spark):
    """x183: planted translations (identical vectors across languages)
    are always mined, with cosine exactly 1.0, and no non-planted pair
    reaches cosine 1.0 on this collision-free fixture; margins match a
    pure-Python replay of the whole candidate/neighborhood/margin
    pipeline."""
    import hashlib

    from kafka_spark_streaming_pipeline_spark.operators.similarity import (
        bitext_margin_mine,
    )

    def vec(seed, dim=8):
        return [
            float(int(hashlib.md5(f"{seed}|{j}".encode()).hexdigest()[:6], 16) % 19 - 9)
            for j in range(dim)
        ]

    rows = [(i, vec(i), "en") for i in range(20)]
    rows += [
        (1000 + i, vec(i) if i < 5 else vec(1000 + i), "de") for i in range(20)
    ]
    emb = spark.createDataFrame(
        [(r[0], r[1]) for r in rows], "vec_id long, embedding array<double>"
    )
    lang = spark.createDataFrame(
        [(r[0], r[2]) for r in rows], "vec_id long, lang string"
    )
    tables = [
        [[((3 * j + 5 * p + 11 * t + 1) % 13) - 6 for j in range(8)]
         for p in range(2)]
        for t in range(2)
    ]
    out = bitext_margin_mine(
        emb, lang, tables, "en", "de", knn_k=4, margin_threshold=1.0
    ).collect()
    mined = {(r.src_id, r.tgt_id): (r.cosine_sim, r.margin) for r in out}

    planted = {(i, 1000 + i) for i in range(5)}
    assert planted <= set(mined)
    assert {k for k, v in mined.items() if v[0] == 1.0} == planted
    assert all(mined[p][1] >= 1.0 for p in planted)

    # pure-Python replay: bucket -> candidates -> 4dp cosine -> k-NN
    # neighborhood means (exact integer ten-thousandths) -> margin
    import math

    def buckets(v):
        out = []
        for planes in tables:
            b = 0
            for p, plane in enumerate(planes):
                proj = sum(int(x * 1000) * c for x, c in zip(v, plane))
                if proj > 0:
                    b += 2 ** p
            out.append(b)
        return out

    sides = {"en": [], "de": []}
    for vid, v, lg in rows:
        sides[lg].append((vid, v, buckets(v), math.sqrt(sum(x * x for x in v))))
    cand = {}
    for sid, sv, sb, sn in sides["en"]:
        for tid, tv, tb, tn in sides["de"]:
            if any(a == b for a, b in zip(sb, tb)):
                c = round(sum(a * b for a, b in zip(sv, tv)) / (sn * tn) + 1e-9, 4)
                cand[(sid, tid)] = c
    mu = {}
    for key_idx, other_idx in ((0, 1), (1, 0)):
        per = {}
        for pair, c in cand.items():
            per.setdefault(pair[key_idx], []).append((pair, c))
        for anchor, lst in per.items():
            lst.sort(key=lambda pc: (-pc[1], pc[0][other_idx]))
            top = lst[:4]
            mu[(key_idx, anchor)] = (
                sum(int(round(c * 10000)) for _, c in top),
                len(top),
            )
    expect = {}
    for (sid, tid), c in cand.items():
        ss, ks = mu[(0, sid)]
        st_, kt = mu[(1, tid)]
        denom = (ss / ks + st_ / kt) / 20000.0
        if denom > 0:
            m = round(c / denom + 1e-9, 4)
            if m >= 1.0:
                expect[(sid, tid)] = (c, m)
    assert mined == expect


def test_bitext_blocking_recall_vs_exact(spark, sf_dir):
    """x183 recall audit (the x165 discipline applied to bitext
    mining): fraction of exact brute-force top-1 cross-language
    neighbors that survive SRP-bucket blocking.  Deterministic on the
    fixed sf0.001 tables; the floor pins the plane configuration — a
    plane-set change that silently tanks candidate recall fails here,
    not in production mining."""
    from kafka_spark_streaming_pipeline_spark.catalog import load_table
    from kafka_spark_streaming_pipeline_spark.operators.similarity import (
        _as_double,
        _dot,
        int_srp_bucket,
    )
    from kafka_spark_streaming_pipeline_spark.plans.extensions import _srp_tables
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    tables = _srp_tables(3)
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    langs = docs.select(F.col("doc_id").alias("vec_id"), "lang")

    def side(lang, name):
        df = (
            emb.join(langs.filter(F.col("lang") == lang), "vec_id")
            .select(
                F.col("vec_id").alias(name),
                _as_double(F.col("embedding")).alias(f"v_{name}"),
            )
            .withColumn(
                f"n_{name}", F.sqrt(_dot(F.col(f"v_{name}"), F.col(f"v_{name}")))
            )
        )
        for i, planes in enumerate(tables):
            df = df.withColumn(
                f"b{i}_{name}", int_srp_bucket(F.col(f"v_{name}"), planes)
            )
        return df

    s, t = side("en", "sid"), side("de", "tid")
    cos = F.round(
        _dot(F.col("v_sid"), F.col("v_tid")) / (F.col("n_sid") * F.col("n_tid"))
        + F.lit(1e-9),
        4,
    )
    blocked = None
    for i in range(len(tables)):
        m = F.col(f"b{i}_sid") == F.col(f"b{i}_tid")
        blocked = m if blocked is None else (blocked | m)
    # exact top-1 via a small broadcast cross (sf0.001: ~193 x ~71)
    exact = (
        s.crossJoin(t)
        .select("sid", "tid", cos.alias("cos"), blocked.alias("blocked"))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("sid").orderBy(F.col("cos").desc(), F.col("tid").asc())
            ),
        )
        .filter(F.col("rn") == 1)
    )
    agg = exact.agg(
        F.avg(F.col("blocked").cast("long")).alias("recall"),
        F.count("*").alias("n"),
    ).first()
    assert agg["n"] > 100
    # measured 0.368 on this fixture with the 3-table config (single
    # table: 0.166); random cross-lingual top-1s (cos ~0.2, near-
    # orthogonal) are the WORST case for sign blocking -- the floor
    # guards against plane/table-count regressions, and real
    # translation pairs (cos ~1) block with near-certainty
    assert agg["recall"] >= 0.30


def test_embedding_neardup_bucket_cap_truncates_loudly(spark):
    """x14's r9 scale fix: with a fixed plane set, bucket population
    grows with the corpus, so the uncapped Sum(|bucket|^2) expansion
    goes quadratic (measured 48.6x per 10x data in BENCH_SCALE).  The
    cap truncates an oversized bucket to its max_bucket_size smallest
    ids — pairs bounded, every emitted pair from that bucket flagged
    block_truncated=true — while small buckets pass through unflagged,
    and the uncapped call keeps its original schema."""
    from kafka_spark_streaming_pipeline_spark.operators.similarity import (
        embedding_neardup_pairs,
    )

    # one giant bucket: 40 near-identical vectors; one small bucket:
    # 3 near-identical vectors pointing the other way
    rows = [(i, [10.0 + (i % 5) * 0.001] * 8) for i in range(40)]
    rows += [(100 + i, [-10.0 - i * 0.001] * 8) for i in range(3)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    planes = [[1] * 8]  # sign of the coordinate sum: 2 buckets
    out = embedding_neardup_pairs(
        emb, planes, threshold=0.9, max_bucket_size=10
    ).collect()
    big = [r for r in out if r.vec_a < 100]
    small = [r for r in out if r.vec_a >= 100]
    # 10 survivors (ids 0..9) -> exactly C(10,2) pairs, all flagged
    assert len(big) == 45
    assert {r.vec_a for r in big} | {r.vec_b for r in big} == set(range(10))
    assert all(r.block_truncated for r in big)
    assert len(small) == 3 and not any(r.block_truncated for r in small)
    # uncapped: full expansion, no flag column
    un = embedding_neardup_pairs(emb, planes, threshold=0.9)
    assert "block_truncated" not in un.columns
    assert un.filter("vec_a < 100").count() == 40 * 39 // 2


def test_bitext_mutual_best_is_one_to_one_and_keeps_planted(spark):
    """x185: mutual-best filtering keeps every planted translation
    (identical vectors are each other's best margin) and the surviving
    alignment is one-to-one — no src or tgt appears twice — while the
    plain margin output does contain one-sided multi-matches on this
    fixture."""
    import hashlib

    from kafka_spark_streaming_pipeline_spark.operators.similarity import (
        bitext_margin_mine,
    )

    def vec(seed, dim=8):
        return [
            float(int(hashlib.md5(f"{seed}|{j}".encode()).hexdigest()[:6], 16) % 19 - 9)
            for j in range(dim)
        ]

    rows = [(i, vec(i), "en") for i in range(20)]
    rows += [
        (1000 + i, vec(i) if i < 5 else vec(1000 + i), "de") for i in range(20)
    ]
    emb = spark.createDataFrame(
        [(r[0], r[1]) for r in rows], "vec_id long, embedding array<double>"
    )
    lang = spark.createDataFrame(
        [(r[0], r[2]) for r in rows], "vec_id long, lang string"
    )
    tables = [
        [[((3 * j + 5 * p + 11 * t + 1) % 13) - 6 for j in range(8)]
         for p in range(2)]
        for t in range(2)
    ]
    kw = dict(knn_k=4, margin_threshold=1.0)
    plain = bitext_margin_mine(emb, lang, tables, "en", "de", **kw).collect()
    mutual = bitext_margin_mine(
        emb, lang, tables, "en", "de", mutual_best=True, **kw
    ).collect()

    planted = {(i, 1000 + i) for i in range(5)}
    got = {(r.src_id, r.tgt_id) for r in mutual}
    assert planted <= got
    srcs = [r.src_id for r in mutual]
    tgts = [r.tgt_id for r in mutual]
    assert len(srcs) == len(set(srcs)) and len(tgts) == len(set(tgts))
    assert got <= {(r.src_id, r.tgt_id) for r in plain}
    # the plain output is NOT one-to-one here, so the filter did work
    plain_srcs = [r.src_id for r in plain]
    assert len(plain_srcs) != len(set(plain_srcs))


def test_bitext_recall_audit_planted_pairs_always_blocked(spark):
    """x186: a planted translation (identical vectors) is its query's
    exact top-1 AND always blocked — identical vectors agree on every
    plane of every table, so blocking can only miss non-identical
    neighbors."""
    import hashlib

    from kafka_spark_streaming_pipeline_spark.operators.similarity import (
        bitext_recall_audit,
    )

    def vec(seed, dim=8):
        return [
            float(int(hashlib.md5(f"{seed}|{j}".encode()).hexdigest()[:6], 16) % 19 - 9)
            for j in range(dim)
        ]

    rows = [(i, vec(i), "en") for i in range(10)]
    rows += [(1000 + i, vec(i) if i < 4 else vec(1000 + i), "de") for i in range(10)]
    emb = spark.createDataFrame(
        [(r[0], r[1]) for r in rows], "vec_id long, embedding array<double>"
    )
    lang = spark.createDataFrame(
        [(r[0], r[2]) for r in rows], "vec_id long, lang string"
    )
    tables = [
        [[((3 * j + 5 * p + 11 * t + 1) % 13) - 6 for j in range(8)]
         for p in range(2)]
        for t in range(2)
    ]
    out = {
        r.query_id: (r.exact_tgt, r.exact_cos, r.blocked)
        for r in bitext_recall_audit(
            emb, lang, tables, "en", "de", n_queries=10
        ).collect()
    }
    assert len(out) == 10
    for i in range(4):  # planted twins: exact top-1 with cos 1.0, blocked
        tgt, cos, blocked = out[i]
        assert tgt == 1000 + i and cos == 1.0 and blocked


def test_code_switching_detects_mixed_language_chunks(spark):
    """x190: a doc whose first 16-token chunk is English-marked and
    second chunk German-marked flags code_switched with n_langs=2 and
    agreement 0.5; a monolingual doc stays clean with agreement 1.0;
    a marker-free doc has NULL majority and no flag."""
    from kafka_spark_streaming_pipeline_spark.operators.text import (
        code_switching_report,
    )

    en = "the cat of the house and the dog of the yard and the bird sits here"
    de = "der hund und die katze und das haus und der baum und die sonne hier"
    filler = " ".join(f"w{i}" for i in range(16))
    docs = spark.createDataFrame(
        [
            (0, en + " " + de),          # chunk 1 en, chunk 2 de
            (1, en + " " + en),          # monolingual
            (2, filler),                 # no markers at all
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (
            r["n_chunks"], r["n_langs"], r["majority_lang"],
            r["agreement"], r["code_switched"],
        )
        for r in code_switching_report(docs, chunk_tokens=16).collect()
    }
    n_chunks, n_langs, major, agree, switched = out[0]
    assert switched and n_langs == 2 and agree == 0.5
    assert out[1][1] == 1 and out[1][2] == "en" and out[1][3] == 1.0
    assert not out[1][4]
    assert out[2][1] == 0 and out[2][2] is None and not out[2][4]


def test_pii_pseudonyms_stable_and_joinable(spark):
    """x191: the same entity maps to the same surrogate in every doc
    (n_docs counts distinct docs — joinability preserved); surrogates
    are stable across calls; raw entities never appear in the
    output."""
    from kafka_spark_streaming_pipeline_spark.operators.text import (
        pii_pseudonym_table,
    )

    docs = spark.createDataFrame(
        [
            (0, "mail alice@corp.io and bob@corp.io here"),
            (1, "again alice@corp.io plus ip 10.0.0.2 and tel 555-123-4567"),
        ],
        "doc_id long, text string",
    )
    rows = pii_pseudonym_table(docs).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r["entity_type"], []).append(r)
    # alice@corp.io in both docs -> ONE surrogate row with n_docs=2
    emails = {r["surrogate"]: (r["n_docs"], r["n_occurrences"])
              for r in by_type["EMAIL"]}
    assert (2, 2) in emails.values()
    assert len(by_type["EMAIL"]) == 2  # alice (x2 docs) + bob
    assert len(by_type["IPV4"]) == 1 and by_type["IPV4"][0]["n_docs"] == 1
    assert len(by_type["PHONE"]) == 1
    # stability: the surrogate is a pure function of the entity
    again = {r["surrogate"] for r in pii_pseudonym_table(docs).collect()}
    assert {r["surrogate"] for r in rows} == again
    # no raw entity leaks: every surrogate is 16 hex chars
    assert all(len(r["surrogate"]) == 16 and
               all(c in "0123456789abcdef" for c in r["surrogate"])
               for r in rows)


def test_resample_ffill_grid_cap_truncates_loudly(spark):
    """The span-axis loud cap (VERDICT r10 item 3): a key whose span
    exceeds ``max_grid_hours`` gets its grid clamped to the FIRST cap
    hours and flagged grid_truncated; a key inside the cap is
    untouched and its rows match the uncapped exact form."""
    from kafka_spark_streaming_pipeline_spark.operators.timeseries import (
        resample_ffill,
    )

    rows = [
        # key 1: events 10 hours apart -> 11-hour grid uncapped
        (1, "2024-01-01 00:10:00", 1.0),
        (1, "2024-01-01 10:20:00", 2.0),
        # key 2: 2-hour span, inside any cap used below
        (2, "2024-01-01 05:00:00", 5.0),
        (2, "2024-01-01 06:30:00", 7.0),
    ]
    events = spark.createDataFrame(
        rows, "user_id long, ts string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))

    exact = resample_ffill(events)
    assert "grid_truncated" not in exact.columns  # unset -> schema unchanged
    exact_rows = {(r.user_id, str(r.bucket)): (r.n_events, r.sum_value_ffill)
                  for r in exact.collect()}
    assert sum(1 for k, _ in exact_rows if k == 1) == 11
    assert sum(1 for k, _ in exact_rows if k == 2) == 2

    capped = resample_ffill(events, max_grid_hours=4)
    got = capped.collect()
    by_key: dict[int, list] = {}
    for r in got:
        by_key.setdefault(r.user_id, []).append(r)
    # key 1: clamped to hours 00..03, flagged
    assert len(by_key[1]) == 4
    assert all(r.grid_truncated for r in by_key[1])
    assert max(str(r.bucket) for r in by_key[1]) == "2024-01-01 03:00:00"
    # key 2: inside the cap — unflagged, identical to the exact form
    assert all(not r.grid_truncated for r in by_key[2])
    assert {
        (r.user_id, str(r.bucket)): (r.n_events, r.sum_value_ffill)
        for r in by_key[2]
    } == {k_v: v for k_v, v in exact_rows.items() if k_v[0] == 2}
    # forward fill survives the clamp: hours 01..03 of key 1 carry the
    # hour-00 value
    k1 = {str(r.bucket): r.sum_value_ffill for r in by_key[1]}
    assert k1 == {
        "2024-01-01 00:00:00": 1.0,
        "2024-01-01 01:00:00": 1.0,
        "2024-01-01 02:00:00": 1.0,
        "2024-01-01 03:00:00": 1.0,
    }


def test_resample_ffill_rejects_degenerate_cap(spark):
    """max_grid_hours < 1 must fail AT CALL TIME with a clear error,
    not deep in the job: 0 would build INTERVAL -1 HOURS (t1 < t0)
    and F.sequence's positive step dies mid-executor otherwise
    (ADVICE r11)."""
    import pytest as _pytest

    from kafka_spark_streaming_pipeline_spark.operators.timeseries import (
        resample_ffill,
    )

    events = spark.createDataFrame(
        [(1, "2024-01-01 00:10:00", 1.0)],
        "user_id long, ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    for bad in (0, -1):
        with _pytest.raises(ValueError, match="max_grid_hours"):
            resample_ffill(events, max_grid_hours=bad)


def test_scoped_shuffle_partitions_restores_settings(spark):
    """The per-job partition-headroom dial (VERDICT r11 item 1) must
    restore BOTH confs — shuffle.partitions to its prior value and
    AQE initialPartitionNum to unset — on normal exit AND on
    failure, so one dialed job can never leak headroom into the
    shared session (AQE_AB.json: leaked headroom taxes composed
    small-shuffle pipelines 1.5-3x)."""
    import pytest as _pytest

    from kafka_spark_streaming_pipeline_spark.session import (
        scoped_shuffle_partitions,
    )

    key_sp = "spark.sql.shuffle.partitions"
    key_init = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    before_sp = spark.conf.get(key_sp)
    assert spark.conf.get(key_init, None) is None

    with scoped_shuffle_partitions(spark, 128):
        assert spark.conf.get(key_sp) == "128"
        assert spark.conf.get(key_init) == "128"
    assert spark.conf.get(key_sp) == before_sp
    assert spark.conf.get(key_init, None) is None

    # failure path: restoration still happens
    with _pytest.raises(RuntimeError):
        with scoped_shuffle_partitions(spark, 64):
            raise RuntimeError("job failed")
    assert spark.conf.get(key_sp) == before_sp
    assert spark.conf.get(key_init, None) is None

    # nesting composes and unwinds in order
    with scoped_shuffle_partitions(spark, 64):
        with scoped_shuffle_partitions(spark, 256):
            assert spark.conf.get(key_sp) == "256"
        assert spark.conf.get(key_sp) == "64"
    assert spark.conf.get(key_sp) == before_sp

    with _pytest.raises(ValueError):
        with scoped_shuffle_partitions(spark, 0):
            pass
