"""Training-data pipeline extensions, oracle-checked (SURVEY.md §7 Phase 5).

Dedup (exact / MinHash+LSH / SimHash / n-gram Jaccard), embedding
similarity search, text analysis, and multimodal-column plumbing over
the driver's ``documents`` and ``embeddings`` tables.  Where the whole
dataflow is expressible in DuckDB SQL the oracle verifies values; the
md5-based portable hashing in operators/dedup.py exists precisely so
these are value-checkable, not just row-counted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import query

# DuckDB-side shingling shared by the dedup oracles (3-word shingles of
# the lowercased text, distinct).
_SHINGLES_CTE = """
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ), shingled AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(t) - 2, 1) + 1),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2])
             )) AS shingles
      FROM toks
    )
"""


@query(
    "p11_dedup_exact",
    oracle="""
    WITH fp AS (
      SELECT doc_id,
             substr(md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')), 1, 16) AS fingerprint
      FROM documents
    ), groups AS (
      SELECT fingerprint, min(doc_id) AS canonical_id, count(*) AS group_size
      FROM fp GROUP BY fingerprint
    )
    SELECT fp.doc_id, fp.fingerprint, g.canonical_id, g.group_size,
           fp.doc_id = g.canonical_id AS is_canonical
    FROM fp JOIN groups g USING (fingerprint)
    """,
)
def p11_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via normalized-text fingerprint: one hash shuffle,
    deterministic canonical survivor (min doc_id) per group."""
    from ..operators.dedup import exact_dedup_groups

    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup_groups(docs)


@query(
    "x02_ngram_jaccard",
    oracle=_SHINGLES_CTE
    + """
    , blocked AS (
      SELECT s.doc_id, concat_ws(' ', t.t[1], t.t[2]) AS blk, s.shingles
      FROM shingled s JOIN toks t USING (doc_id)
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(len(list_intersect(a.shingles, b.shingles))
                 / CAST(len(a.shingles) + len(b.shingles)
                        - len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                 + 1e-9, 4) AS jaccard
    FROM blocked a JOIN blocked b ON a.blk = b.blk AND a.doc_id < b.doc_id
    """,
)
def x02_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard on blocked candidate pairs (first-2-words
    blocking) — the verification stage of a near-dup pipeline."""
    from ..operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, shingle_k=3, block_words=2)


from ..operators.dedup import MINHASH_COEFFS, MINHASH_PRIME

# The oracle shares the Spark operator's fixed universal-hash
# coefficients verbatim (seed, a, b) — h_i(x) = (a*x + b) mod p.
_MINHASH_SEEDS_VALUES = ", ".join(
    f"({i}, {a}, {b})" for i, (a, b) in enumerate(MINHASH_COEFFS[:16])
)


@query(
    "p12_minhash_lsh",
    oracle=_SHINGLES_CTE
    + f"""
    , exploded AS (
      SELECT doc_id, unnest(shingles) AS sh FROM shingled
    ), hashed AS (
      SELECT doc_id,
             ('0x' || substr(md5(sh), 1, 15))::BIGINT % {MINHASH_PRIME} AS h
      FROM exploded
    ), minh AS (
      SELECT doc_id, seeds.seed, min((seeds.a * h + seeds.b) % {MINHASH_PRIME}) AS mh
      FROM hashed CROSS JOIN (VALUES {_MINHASH_SEEDS_VALUES}) seeds(seed, a, b)
      GROUP BY doc_id, seeds.seed
    ), sigs AS (
      SELECT doc_id, list(mh ORDER BY seed) AS sig FROM minh GROUP BY doc_id
    ), bands AS (
      SELECT doc_id, sig, b.band_idx,
             ((((sig[b.band_idx*4+1] % 2147483648) * 31 + (sig[b.band_idx*4+2] % 2147483648))
               % 2147483648 * 31 + (sig[b.band_idx*4+3] % 2147483648))
               % 2147483648 * 31 + (sig[b.band_idx*4+4] % 2147483648)) % 2147483648 AS band_hash
      FROM sigs CROSS JOIN (SELECT unnest(range(0, 4)) AS band_idx) b
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, bb.doc_id AS doc_b,
             a.sig AS sig_a, bb.sig AS sig_b
      FROM bands a
      JOIN bands bb ON a.band_idx = bb.band_idx AND a.band_hash = bb.band_hash
                    AND a.doc_id < bb.doc_id
    )
    SELECT doc_a, doc_b,
           round(len(list_filter(list_transform(range(1, 17), i -> sig_a[i] = sig_b[i]),
                                 x -> x)) / 16.0, 4) AS est_jaccard
    FROM pairs
    WHERE round(len(list_filter(list_transform(range(1, 17), i -> sig_a[i] = sig_b[i]),
                                x -> x)) / 16.0, 4) >= 0.5
    """,
)
def p12_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding: near-dup candidate pairs without the n²
    cross product (16 hashes, 4 bands x 4 rows, est Jaccard >= 0.5).
    The full shingle->minhash->band->bucket-join dataflow is verified
    value-for-value against the SQL oracle."""
    from ..operators.dedup import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, num_hashes=16, bands=4, shingle_k=3, min_est_jaccard=0.5)


# 64-bit SimHash signature as four 16-bit words, shared by the x04 and
# x44 oracles.  Bits 1-32 (1-based) read md5(tok) hex chars, bits 33-64
# read md5(tok || '#') — mirrors operators.dedup.simhash64 exactly.
_SIMHASH64_SIG_SQL = """
    t AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents
    ), sums AS (
      SELECT doc_id, bits.i,
             sum((ascii(substr(CASE WHEN bits.i <= 32 THEN md5(tok)
                                    ELSE md5(tok || '#') END,
                               CASE WHEN bits.i <= 32 THEN bits.i
                                    ELSE bits.i - 32 END, 1)) % 2) * 2 - 1) AS sgn
      FROM t CROSS JOIN (SELECT unnest(range(1, 65)) AS i) bits
      GROUP BY doc_id, bits.i
    ), sig AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN sgn > 0 AND i BETWEEN  1 AND 16 THEN (CAST(1 AS BIGINT) << (i -  1)) ELSE 0 END) AS BIGINT) AS band0,
             CAST(sum(CASE WHEN sgn > 0 AND i BETWEEN 17 AND 32 THEN (CAST(1 AS BIGINT) << (i - 17)) ELSE 0 END) AS BIGINT) AS band1,
             CAST(sum(CASE WHEN sgn > 0 AND i BETWEEN 33 AND 48 THEN (CAST(1 AS BIGINT) << (i - 33)) ELSE 0 END) AS BIGINT) AS band2,
             CAST(sum(CASE WHEN sgn > 0 AND i BETWEEN 49 AND 64 THEN (CAST(1 AS BIGINT) << (i - 49)) ELSE 0 END) AS BIGINT) AS band3
      FROM sums GROUP BY doc_id
    )
"""


@query(
    "x04_simhash",
    oracle=f"""
    WITH {_SIMHASH64_SIG_SQL}
    SELECT doc_id, band0, band1, band2, band3 FROM sig
    """,
)
def x04_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash signatures (explode -> 64 signed bit sums -> pack
    into four 16-bit band words; see simhash64's docstring for why the
    word representation beats one packed BIGINT)."""
    from ..operators.dedup import simhash64

    docs = load_table(spark, sf_dir, "documents")
    return simhash64(docs).select(
        "doc_id",
        *[F.element_at("sig", b + 1).alias(f"band{b}") for b in range(4)],
    )


@query(
    "p13_cosine_topk",
    oracle="""
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 10
    ), c AS (
      SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS v FROM embeddings
    ), scored AS (
      SELECT q.query_id, c.neighbor_id,
             round(list_dot_product(q.v, c.v)
                   / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)))
                   + 1e-9, 4) AS cosine_sim
      FROM q CROSS JOIN c
    )
    SELECT query_id, neighbor_id, cosine_sim, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine_sim DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def p13_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact top-5 cosine neighbors for 10 query vectors —
    the ANN correctness baseline.  Queries broadcast; corpus partitions
    score locally; one ranked window takes the top-k."""
    from ..operators.similarity import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk(emb.filter(F.col("vec_id") < 10), emb, k=5)


def _srp_bucket_sql(planes: list[list[int]]) -> str:
    """DuckDB expression for int_srp_bucket over column ``v`` — sign
    bits of integer-quantized projections (CAST(v*1000 AS BIGINT) is
    truncation, bit-identical to the Spark side)."""
    bits = []
    for p, plane in enumerate(planes):
        lits = "[" + ", ".join(str(c) for c in plane) + "]"
        # trunc() before the cast: DuckDB's double->BIGINT cast rounds
        # half-even, Spark's cast truncates toward zero
        proj = (
            f"list_sum(list_transform(range(1, len(v) + 1), "
            f"i -> CAST(trunc(v[i] * 1000) AS BIGINT) * ({lits})[i]))"
        )
        bits.append(f"(CASE WHEN {proj} > 0 THEN {2 ** p} ELSE 0 END)")
    return " + ".join(bits)


# Deterministic pseudo-random hyperplanes (fixed INTEGER literals, no
# RNG) — integer coefficients + the quantized projection make the
# bucket assignment bit-identical in both engines, which is what lets
# x06/x49 carry full SQL value oracles.
X06_PLANES = [[((7 * i + 13 * p) % 17) - 8 for i in range(64)] for p in range(4)]


def _lsh_topk_oracle(tables: list, id_filter: str = "id < 10", k: int = 5) -> str:
    """SQL twin of lsh_cosine_topk(_multi): candidates share an
    integer-SRP bucket in ANY table, scored by 4-dp rounded cosine,
    ranked per query with the id tiebreak."""
    cand_sqls = []
    for planes in tables:
        b = _srp_bucket_sql(planes)
        cand_sqls.append(
            f"SELECT q.id AS query_id, c.id AS neighbor_id "
            f"FROM (SELECT id, v, {b} AS bucket FROM v WHERE {id_filter}) q "
            f"JOIN (SELECT id, v, {b} AS bucket FROM v) c USING (bucket)"
        )
    cand = " UNION ".join(cand_sqls)  # UNION dedups pairs meeting in >1 table
    return f"""
    WITH v AS (
      SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
    ), cand AS (
      {cand}
    ), scored AS (
      SELECT cand.query_id, cand.neighbor_id,
             round(list_dot_product(q.v, c.v)
                   / (sqrt(list_dot_product(q.v, q.v))
                      * sqrt(list_dot_product(c.v, c.v)))
                   + 1e-9, 4) AS cosine_sim
      FROM cand
      JOIN v q ON cand.query_id = q.id
      JOIN v c ON cand.neighbor_id = c.id
    )
    SELECT query_id, neighbor_id, cosine_sim, CAST(rn AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine_sim DESC, neighbor_id)
            AS rn
          FROM scored)
    WHERE rn <= {k}
    """


@query("x06_lsh_cosine_topk", oracle=_lsh_topk_oracle([X06_PLANES]))
def x06_lsh_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH bucketed approximate top-k — the scale path for ANN.
    Value-checked: integer-quantized bucket assignment (bit-identical
    across engines) + 4-dp rounded cosine with id tiebreaks pin the
    whole candidate-set-and-ranking pipeline against the SQL oracle;
    recall vs the exact baseline is additionally asserted in
    tests/test_operators.py."""
    from ..operators.similarity import lsh_cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_cosine_topk(emb.filter(F.col("vec_id") < 10), emb, X06_PLANES, k=5)


@query(
    "x07_lang_id",
    oracle="""
    WITH scored AS (
      SELECT doc_id, lang AS declared_lang,
             CAST(len(list_filter(string_split(lower(text), ' '),
                                  t -> t IN ('the', 'a', 'of', 'and'))) AS BIGINT) AS n_en,
             CAST(len(list_filter(string_split(lower(text), ' '),
                                  t -> t IN ('el', 'la', 'de', 'que'))) AS BIGINT) AS n_es,
             CAST(len(list_filter(string_split(lower(text), ' '),
                                  t -> t IN ('der', 'die', 'und', 'das'))) AS BIGINT) AS n_de,
             CAST(len(list_filter(string_split(lower(text), ' '),
                                  t -> t IN ('le', 'la', 'et', 'les'))) AS BIGINT) AS n_fr
      FROM documents
    )
    SELECT doc_id, declared_lang, n_en, n_es, n_de, n_fr,
           CASE WHEN greatest(n_en, n_es, n_de, n_fr) = 0 THEN 'und'
                WHEN n_en = greatest(n_en, n_es, n_de, n_fr) THEN 'en'
                WHEN n_es = greatest(n_en, n_es, n_de, n_fr) THEN 'es'
                WHEN n_de = greatest(n_en, n_es, n_de, n_fr) THEN 'de'
                ELSE 'fr' END AS lang_pred
    FROM scored
    """,
)
def x07_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID: marker-word hit counts per language,
    argmax with fixed tie order (en > es > de > fr), 'und' when no
    marker fires."""
    from ..operators.text import lang_id, lang_scores

    docs = load_table(spark, sf_dir, "documents")
    scores = lang_scores(F.col("text"))
    return docs.select(
        "doc_id",
        F.col("lang").alias("declared_lang"),
        scores["en"].alias("n_en"),
        scores["es"].alias("n_es"),
        scores["de"].alias("n_de"),
        scores["fr"].alias("n_fr"),
        lang_id(F.col("text")).alias("lang_pred"),
    )


@query(
    "x08_text_quality",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
             CAST(ceil(strlen(text) / 4.0) AS BIGINT) AS n_tokens_bpe_ish,
             len(list_filter(string_split(lower(text), ' '),
                             t -> t IN ('the','a','of','and','to','in','is','it','that','for')))
               / CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS stopword_ratio,
             list_sum(list_transform(string_split(lower(text), ' '), t -> length(t)))
               / CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS avg_word_len
      FROM documents
    )
    SELECT doc_id, n_tokens, n_tokens_bpe_ish, stopword_ratio, avg_word_len,
           ((CASE WHEN n_tokens BETWEEN 20 AND 2000 THEN 1.0 ELSE 0.5 END)
            + (CASE WHEN stopword_ratio BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.5 END)
            + (CASE WHEN avg_word_len BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END)) / 3.0
             AS quality_score
    FROM m
    """,
)
def x08_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: token count, BPE-ish token estimate, stopword
    ratio, avg word length, composite score — all codegen'd built-ins."""
    from ..operators import text as tx

    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        tx.token_count(t).alias("n_tokens"),
        tx.bpe_ish_token_count(t).alias("n_tokens_bpe_ish"),
        tx.stopword_ratio(t).alias("stopword_ratio"),
        tx.avg_word_len(t).alias("avg_word_len"),
        tx.quality_score(t).alias("quality_score"),
    )


@query(
    "x09_multimodal_decode",
    oracle="""
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           CAST(strlen(text) % 640 + 16 AS BIGINT) AS width,
           CAST((strlen(text) * 7) % 480 + 16 AS BIGINT) AS height,
           CAST(strlen(text) % 30 + 1 AS BIGINT) AS n_frames
    FROM documents
    """,
)
def x09_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payload column -> Arrow-batched
    mapInPandas 'decode' -> typed metadata.  The codec is a deterministic
    stub (real decode needs image libs; operators/multimodal.py), but the
    distributed execution shape — binary Arrow batches through Python on
    executors — is the real one, and the oracle checks it end-to-end."""
    from ..operators.multimodal import fake_decode_meta, with_binary_payload

    docs = load_table(spark, sf_dir, "documents")
    return fake_decode_meta(with_binary_payload(docs))


@query(
    "x10_frame_sample",
    oracle="""
    SELECT doc_id, CAST(unnest(range(0, CAST(strlen(text) % 30 + 1 AS BIGINT), 5)) AS BIGINT)
             AS frame_idx
    FROM documents
    """,
)
def x10_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over decoded multimodal metadata: sequence+explode
    lateral expansion (every 5th frame)."""
    from ..operators.multimodal import fake_decode_meta, frame_sample_plan, with_binary_payload

    docs = load_table(spark, sf_dir, "documents")
    return frame_sample_plan(fake_decode_meta(with_binary_payload(docs)), every_nth=5)


@query(
    "x11_embedding_centroids",
    oracle="""
    SELECT label, pos, round(avg(val) + 1e-9, 4) + 0.0 AS centroid_val, count(*) AS n_vectors
    FROM (
      SELECT label, unnest(embedding::DOUBLE[]) AS val,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings
    )
    GROUP BY label, pos
    """,
)
def x11_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids via posexplode + grouped avg — the
    vector-aggregation primitive (cluster centers, IVF coarse quantizer).
    Scales as one shuffle keyed on (label, dim)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode(F.col("embedding").cast("array<double>")))
        .withColumnRenamed("pos", "pos0")
        .select("label", (F.col("pos0") + 1).alias("pos"), F.col("col").alias("val"))
        .groupBy("label", "pos")
        .agg((F.round(F.avg("val") + F.lit(1e-9), 4) + F.lit(0.0)).alias("centroid_val"), F.count("*").alias("n_vectors"))
    )


@query(
    "x12_token_stats",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9 ]+')) AS BIGINT)
             AS n_bpe_tokens,
           CAST(ceil(strlen(text) / 4.0) AS BIGINT) AS n_bytes_bound,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM documents
    """,
)
def x12_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting for training-data budgeting: whitespace count, a
    BPE-ish pre-tokenizer regex count (letter runs / single digits /
    punctuation runs), and the bytes/4 rule-of-thumb bound — all
    JVM-side expressions, one scan, no shuffle."""
    from ..operators import text as tx

    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        tx.token_count(t).alias("n_ws_tokens"),
        tx.bpe_regex_token_count(t).alias("n_bpe_tokens"),
        tx.bpe_ish_token_count(t).alias("n_bytes_bound"),
        F.length(t).cast("long").alias("n_chars"),
    )


@query(
    "x13_rolling_fingerprint",
    oracle="""
    WITH fp AS (
      SELECT doc_id,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(string_split(lower(text), ' '),
                   t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % 2147483647)),
               (acc, x) -> (acc * 31 + x) % 2147483647) AS rolling_fp
      FROM documents
    )
    SELECT doc_id, rolling_fp,
           count(*) OVER (PARTITION BY rolling_fp) AS group_size
    FROM fp
    """,
)
def x13_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive document fingerprinting: polynomial rolling hash
    over the token-hash sequence (acc = acc*31 + h(tok) mod 2^31-1),
    plus the fingerprint-group size — the incremental/streaming-friendly
    dedup key (any token edit or reorder changes it, unlike bag-of-words
    hashes)."""
    from pyspark.sql import Window as W

    from ..operators.text import rolling_fingerprint

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", rolling_fingerprint(F.col("text")).alias("rolling_fp")
    ).withColumn("group_size", F.count("*").over(W.partitionBy("rolling_fp")))


# Deterministic integer hyperplanes for the near-dup SRP blocking —
# shared verbatim by the Spark operator and the SQL oracle.
NEARDUP_PLANES = [[((7 * i + 13 * p + 5) % 17) - 8 for i in range(64)] for p in range(4)]


@query(
    "x14_embedding_neardup",
    oracle=f"""
    WITH v AS (
      SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
    ), b AS (
      SELECT id, v, {_srp_bucket_sql(NEARDUP_PLANES)} AS bucket FROM v
    ), r AS (
      SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY id) AS rn,
             count(*) OVER (PARTITION BY bucket) AS bsz
      FROM b
    ), kept AS (
      SELECT * FROM r WHERE bsz >= 2 AND rn <= 64
    )
    SELECT a.id AS vec_a, bb.id AS vec_b,
           round(list_dot_product(a.v, bb.v)
                 / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(bb.v, bb.v)))
                 + 1e-9, 4) AS cosine_sim,
           a.bsz > 64 AS block_truncated
    FROM kept a JOIN kept bb ON a.bucket = bb.bucket AND a.id < bb.id
    WHERE round(list_dot_product(a.v, bb.v)
                / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(bb.v, bb.v)))
                + 1e-9, 4) >= 0.4
    """,
)
def x14_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: SRP-bucket blocking (sign
    bits over integer-quantized projections, so bucketing is exact in
    both engines), exact cosine within buckets only — the same
    join-free bucket-expansion shape as MinHash LSH, INCLUDING its
    loud bucket cap (64: oversized buckets truncate to their 64
    smallest ids, emitted pairs flagged block_truncated).  The r9
    three-point scale record measured the uncapped form going
    quadratic once bucket population outgrew the fixed 16-bucket plane
    set (48.6x per 10x data on the second decade); with the cap the
    expansion is corpus-linear, and dense-region recall is the
    multi-table/more-planes dial (x61)."""
    from ..operators.similarity import embedding_neardup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_neardup_pairs(
        emb, NEARDUP_PLANES, threshold=0.4, max_bucket_size=64
    )


def _cos4(a: str, b: str) -> str:
    return (
        f"round(list_dot_product({a}, {b}) "
        f"/ (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))) "
        f"+ 1e-9, 4)"
    )


def _int_centroids_sql(src: str) -> str:
    """Exact-BIGINT per-cell centroids over CTE ``src(id, v, cell)`` —
    mirrors similarity._centroids_portable: coordinates quantized with
    trunc(val*1000) (DuckDB trunc == Spark's toward-zero long cast),
    summed as BIGINT (order-independent), mean via two divisions."""
    return f"""
      SELECT cell, array_agg(CAST(s AS DOUBLE) / n / 1000.0 ORDER BY dim) AS centroid
      FROM (SELECT cell, u.i AS dim,
                   sum(CAST(trunc(v[u.i] * 1000) AS BIGINT)) AS s,
                   count(*) AS n
            FROM {src}, unnest(range(1, len(v) + 1)) AS u(i)
            GROUP BY cell, u.i)
      GROUP BY cell"""


_X15_ORACLE = f"""
WITH v AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
), a0 AS (
  SELECT id, v,
         ('0x' || substr(md5('ivf|' || CAST(id AS VARCHAR)), 1, 15))::BIGINT % 16 AS cell
  FROM v
), c0 AS ({_int_centroids_sql('a0')}
), a1 AS (
  -- one Lloyd reassignment: nearest c0 centroid by rounded cosine,
  -- cell id as the deterministic tiebreak
  SELECT id, v, cell FROM (
    SELECT s.id, s.v, c.cell,
           row_number() OVER (PARTITION BY s.id
             ORDER BY {_cos4('s.v', 'c.centroid')} DESC, c.cell) AS rn
    FROM a0 s CROSS JOIN c0 c) WHERE rn = 1
), c1 AS ({_int_centroids_sql('a1')}
), probe AS (
  SELECT id AS query_id, v AS q_vec, cell AS probe_cell FROM (
    SELECT s.id, s.v, c.cell,
           row_number() OVER (PARTITION BY s.id
             ORDER BY {_cos4('s.v', 'c.centroid')} DESC, c.cell) AS rn
    FROM (SELECT id, v FROM v WHERE id < 10) s CROSS JOIN c1 c) WHERE rn <= 4
), scored AS (
  SELECT p.query_id, a.id AS neighbor_id,
         {_cos4('p.q_vec', 'a.v')} AS cosine_sim
  FROM probe p JOIN a1 a ON p.probe_cell = a.cell
)
SELECT query_id, neighbor_id, cosine_sim, CAST(rn AS INT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine_sim DESC, neighbor_id) AS rn
      FROM scored)
WHERE rn <= 5
"""


@query("x15_ivf_topk", oracle=_X15_ORACLE)
def x15_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k (hash-seeded cells + one Lloyd step +
    nprobe search) — the data-adaptive ANN scale path next to x06's
    fixed-hyperplane LSH.  Value-checked (r5): the determinism kit pins
    every discrete decision — md5-hash60 seeding, exact-BIGINT
    centroid sums, 4-dp-rounded argmax with cell tiebreaks — so the
    SQL oracle reproduces the ENTIRE index build + probe + rank
    pipeline bit-for-bit.  Recall vs the exact p13_cosine_topk
    baseline stays asserted in tests/test_operators.py."""
    from ..operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb.filter(F.col("vec_id") < 10), emb, nlist=16, nprobe=4, k=5
    )


@query(
    "x16_winnow_fingerprints",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ), sh AS (
      SELECT doc_id, u.i AS pos,
             ('0x' || substr(md5(concat_ws(' ', t[u.i], t[u.i+1], t[u.i+2])), 1, 15))::BIGINT
               % 2147483647 AS h
      FROM toks, unnest(range(1, greatest(len(t) - 2, 1) + 1)) AS u(i)
    )
    SELECT DISTINCT doc_id,
           min(h) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fingerprint
    FROM sh
    """,
)
def x16_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) local fingerprints: window-min over k-gram
    hashes — overlap-robust near-dup keys (two docs sharing >= w+k-1
    consecutive tokens are guaranteed to share a fingerprint), unlike
    the whole-document rolling hash (x13)."""
    from ..operators.text import winnow_fingerprints

    docs = load_table(spark, sf_dir, "documents")
    return winnow_fingerprints(docs, k=3, window=4)


@query(
    "x17_tfidf_top_terms",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents
    ), filtered AS (
      SELECT * FROM toks WHERE length(term) >= 3
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM filtered GROUP BY doc_id, term
    ), df AS (
      SELECT term, count(*) AS df FROM tf GROUP BY term
    ), n AS (
      SELECT count(DISTINCT doc_id) AS n_docs FROM documents
    ), scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             round(tf.tf * (ln((n.n_docs + 1) / CAST(df.df + 1 AS DOUBLE)) + 1) + 1e-9, 6)
               AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, tfidf, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def x17_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document: the keyword/topic primitive of
    a text pipeline.  Scores round before ranking so order is engine-
    independent; three shuffles, each on a well-spread key."""
    from ..operators.text import tfidf_top_terms

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, k=3, min_token_len=3)


@query(
    "x18_hll_user_rollup",
    oracle="""
    WITH h AS (
      SELECT event_type,
             date_trunc('week', CAST(ts AS DATE))::DATE AS week,
             ('0x' || substr(md5('hll|' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM events
    ), reg AS (
      -- direct per-(event_type, week) registers; Spark pre-aggregates
      -- per (event_type, day) and merges day->week by max(rho), so the
      -- hash match IS the hierarchical merge-equals-direct proof
      SELECT event_type, week, h % 256 AS bucket,
             max(CASE WHEN (h >> 8) = 0 THEN 53
                      ELSE 53 - length(bin(h >> 8)) END) AS rho
      FROM h GROUP BY event_type, week, h % 256
    ), agg AS (
      SELECT event_type, week, count(*) AS n_present,
             sum(1::BIGINT << (53 - rho)) AS present_scaled
      FROM reg GROUP BY event_type, week
    )
    SELECT event_type, week,
           round(CASE WHEN raw <= 640.0 AND v_zero > 0
                      THEN 256.0 * ln(256.0 / v_zero)
                      ELSE raw END + 1e-9, 4) AS approx_distinct,
           v_zero
    FROM (SELECT event_type, week,
                 0.7213 / (1.0 + 1.079 / 256) * 256 * 256 * 9007199254740992.0
                   / CAST(present_scaled
                          + (256 - n_present) * 9007199254740992 AS DOUBLE) AS raw,
                 CAST(256 - n_present AS INT) AS v_zero
          FROM agg)
    """,
)
def x18_hll_user_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL distinct-user sketches, hierarchical rollup: ONE
    raw-events pass builds per-(event_type, day) registers, the
    (event_type, week) view is answered by max(rho) register merge —
    never rescanning raw data.  The 100 TB pattern: daily sketch
    pre-aggregates are tiny (256 rows per key) and any coarser
    calendar rollup is register math.

    Value-checked end to end (r6, retiring the last rows-only entry):
    the portable md5-register sketch makes every intermediate exact
    integer arithmetic, and the oracle computes weekly registers
    DIRECTLY while Spark merges the daily pre-aggs, so the hash match
    doubles as the hierarchical merge-equals-direct proof.  The
    production DataSketches binary path (hll_sketch_by / hll_rollup)
    keeps its own merge-equals-direct + error-bound operator tests in
    tests/test_operators.py."""
    from ..operators.sketches import (
        hll_portable_estimate,
        hll_portable_registers,
        hll_portable_rollup,
    )

    events = load_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    pre = hll_portable_registers(events, ["event_type", "day"], "user_id")
    weekly = hll_portable_rollup(
        pre.withColumn("week", F.date_trunc("week", F.col("day")).cast("date")),
        ["event_type", "week"],
    )
    return hll_portable_estimate(weekly, ["event_type", "week"])


@query(
    "x19_audio_window_features",
    oracle="""
    WITH s AS (
      SELECT doc_id, u.i - 1 AS i,
             (ascii(substr(text, u.i, 1)) - 128) / 128.0 AS s
      FROM documents, unnest(range(1, length(text) + 1)) AS u(i)
    )
    SELECT doc_id, i // 100 AS window_idx,
           round(sqrt(avg(s * s)) + 1e-9, 6) AS rms,
           round(max(abs(s)) + 1e-9, 6) AS peak,
           count(*) AS n_samples
    FROM s GROUP BY doc_id, i // 100
    """,
)
def x19_audio_window_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio pipeline plumbing: binary payload -> Arrow-batched waveform
    decode stub (mapInPandas) -> JVM-side windowed RMS/peak features.
    The decode is deterministic (bytes -> k/128 samples), so the whole
    dataflow — including the Python batch boundary — is value-checked
    against the SQL oracle."""
    from ..operators.multimodal import (
        audio_window_features,
        fake_decode_audio,
        with_binary_payload,
    )

    docs = load_table(spark, sf_dir, "documents")
    return audio_window_features(fake_decode_audio(with_binary_payload(docs)))


@query(
    "x20_profile_events",
    oracle="""
    SELECT 'event_id' AS col_name, count(*) AS n_rows, count(event_id) AS n_non_null,
           count(DISTINCT event_id) AS n_distinct,
           CAST(min(event_id) AS DOUBLE) AS min_num, CAST(max(event_id) AS DOUBLE) AS max_num
    FROM events
    UNION ALL
    SELECT 'ts', count(*), count(ts), count(DISTINCT ts),
           CAST(epoch_ms(min(ts)) AS DOUBLE), CAST(epoch_ms(max(ts)) AS DOUBLE)
    FROM events
    UNION ALL
    SELECT 'user_id', count(*), count(user_id), count(DISTINCT user_id),
           CAST(min(user_id) AS DOUBLE), CAST(max(user_id) AS DOUBLE)
    FROM events
    UNION ALL
    SELECT 'event_type', count(*), count(event_type), count(DISTINCT event_type), NULL, NULL
    FROM events
    UNION ALL
    SELECT 'value', count(*), count(value), count(DISTINCT value),
           CAST(min(value) AS DOUBLE), CAST(max(value) AS DOUBLE)
    FROM events
    UNION ALL
    SELECT 'props', count(*), count(props), count(DISTINCT props), NULL, NULL
    FROM events
    """,
)
def x20_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass dataset profile of the events table: null rates,
    exact cardinalities, numeric/timestamp ranges for every column in
    a single aggregate (the oracle needs six scans to say the same)."""
    from ..operators.profile import profile

    events = load_table(spark, sf_dir, "events")
    return profile(events)


from .registry import QUERIES as _REGISTRY

_P12_ORACLE = _REGISTRY["p12_minhash_lsh"].oracle


@query(
    "p14_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      SELECT doc_a, doc_b FROM ({_P12_ORACLE})
    ), edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ), reach(id, comp) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.id
    )
    SELECT id, min(comp) AS component FROM reach GROUP BY id
    """,
)
def p14_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete near-dup pipeline: MinHash LSH candidate pairs ->
    transitive closure via distributed small-label propagation
    (operators/dedup.connected_components) -> (doc, component) with the
    min member as canonical.  The oracle recomputes the closure with a
    recursive CTE over the same pair set — end-to-end value parity for
    an ITERATIVE distributed algorithm."""
    from ..operators.dedup import connected_components, minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, num_hashes=16, bands=4, shingle_k=3, min_est_jaccard=0.5)
    return connected_components(pairs)


@query(
    "x22_quantize_embeddings",
    oracle="""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             list_min(embedding::DOUBLE[]) AS mn,
             (list_max(embedding::DOUBLE[]) - list_min(embedding::DOUBLE[])) / 255.0 AS scale
      FROM embeddings
    )
    SELECT vec_id,
           CASE WHEN scale > 0
                THEN list_transform(v, x -> least(255, CAST(floor((x - mn) / scale) AS BIGINT)))
                ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END AS q_vec,
           mn AS min_val,
           round(scale + 1e-9, 6) AS scale_r,
           round(CASE WHEN scale > 0 THEN
                   list_sum(list_transform(v, x ->
                     abs(x - (mn + least(255, CAST(floor((x - mn) / scale) AS BIGINT)) * scale))))
                   / len(v)
                 ELSE 0.0 END + 1e-9, 6) AS mean_abs_err
    FROM v
    """,
)
def x22_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 affine quantization of the embedding column (4x
    storage for ANN candidate stages) with dequantization error — all
    array expressions, value-checked including the quantized vectors."""
    from ..operators.similarity import quantize_embeddings

    emb = load_table(spark, sf_dir, "embeddings")
    return quantize_embeddings(emb)


@query(
    "p15_verified_neardups",
    oracle=f"""
    WITH cand AS (
      SELECT doc_a, doc_b, est_jaccard FROM ({_P12_ORACLE})
    ), shingle_sets AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(string_split(lower(text), ' ')) - 2, 1) + 1),
               i -> concat_ws(' ', string_split(lower(text), ' ')[i],
                              string_split(lower(text), ' ')[i+1],
                              string_split(lower(text), ' ')[i+2])
             )) AS shingles
      FROM documents
    )
    SELECT c.doc_a, c.doc_b, c.est_jaccard,
           round(len(list_intersect(a.shingles, b.shingles))
                 / CAST(len(a.shingles) + len(b.shingles)
                        - len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                 + 1e-9, 4) AS jaccard
    FROM cand c
    JOIN shingle_sets a ON a.doc_id = c.doc_a
    JOIN shingle_sets b ON b.doc_id = c.doc_b
    """,
)
def p15_verified_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase near-dup dedup end-to-end: LSH candidate generation
    (estimated Jaccard) -> EXACT Jaccard verification computed only on
    the candidates — the verify cost is O(|candidates|), never O(n²)."""
    from ..operators.dedup import minhash_lsh_pairs, verify_candidate_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, num_hashes=16, bands=4, shingle_k=3, min_est_jaccard=0.5)
    return verify_candidate_pairs(docs, pairs)


_P14_ORACLE = _REGISTRY["p14_dedup_clusters"].oracle


@query(
    "p16_deduplicated_corpus",
    oracle=f"""
    WITH comp AS ({_P14_ORACLE})
    SELECT d.doc_id, d.lang, d.n_chars,
           coalesce(c.component, d.doc_id) AS dup_group,
           (c.id IS NULL OR c.component = d.doc_id) AS kept
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
    """,
)
def p16_deduplicated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's end product: every document labeled with its
    duplicate group and a ``kept`` flag — survivors are docs with no
    near-dup cluster or the cluster's canonical (min) member.  Filter
    ``kept`` for the deduplicated corpus; the full flag column is
    returned so removal rates are auditable."""
    from ..operators.dedup import connected_components, minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    comp = connected_components(
        minhash_lsh_pairs(docs, num_hashes=16, bands=4, shingle_k=3, min_est_jaccard=0.5)
    )
    return (
        docs.select("doc_id", "lang", "n_chars")
        .join(comp, docs.doc_id == comp.id, "left")
        .select(
            "doc_id",
            "lang",
            "n_chars",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("dup_group"),
            (F.col("id").isNull() | (F.col("component") == F.col("doc_id"))).alias("kept"),
        )
    )


# --------------------------------------------------- corpus curation (x25+)


@query(
    "x25_decontaminate",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ), g AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(t) - 4, 1) + 1),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4])
             )) AS grams
      FROM toks
    ), eg AS (
      SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 20 = 0
    ), tg AS (
      SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 20 <> 0
    ), agg AS (
      SELECT tg.doc_id, count(*) AS n_grams,
             CAST(coalesce(sum(CASE WHEN eg.gram IS NOT NULL THEN 1 END), 0) AS BIGINT)
               AS n_contaminated,
             coalesce(round(sum(CASE WHEN eg.gram IS NOT NULL THEN 1 END)
                            / CAST(count(*) AS DOUBLE) + 1e-9, 4), 0.0)
               AS contamination_ratio
      FROM tg LEFT JOIN eg ON tg.gram = eg.gram
      GROUP BY tg.doc_id
    )
    SELECT doc_id, n_grams, n_contaminated, contamination_ratio,
           contamination_ratio >= 0.2 AS contaminated
    FROM agg
    """,
)
def x25_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: every 20th document plays the held-out
    benchmark; each remaining train doc is scored by the fraction of its
    distinct 5-gram set that also appears in the eval gram set.  The eval
    side is broadcast, so the train corpus is scanned once and never
    shuffled on the join — the shape that matters at 100 TB."""
    from ..operators.curation import decontaminate

    docs = load_table(spark, sf_dir, "documents")
    return decontaminate(
        docs.filter(F.col("doc_id") % 20 != 0),
        docs.filter(F.col("doc_id") % 20 == 0),
        k=5,
    )


@query(
    "x26_train_split",
    oracle="""
    WITH s AS (
      SELECT CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_toks,
             CAST(length(text) AS BIGINT) AS nc
      FROM (SELECT text,
                   ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS b
            FROM documents)
    ), p AS (
      SELECT split, count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_tokens,
             CAST(sum(nc) AS BIGINT) AS n_chars
      FROM s GROUP BY split
    )
    SELECT split, n_docs, n_tokens, n_chars,
           round(n_tokens / CAST((SELECT sum(n_tokens) FROM p) AS DOUBLE) + 1e-9, 4)
             AS token_share
    FROM p
    """,
)
def x26_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/val/test split (90/5/5) with
    per-split corpus accounting.  A document's split depends only on
    md5(doc_id) — stable as the corpus grows, reproducible across
    engines (the property ``df.sample`` lacks) — and the assignment
    itself is a pure projection, no shuffle."""
    from ..operators.curation import split_summary

    docs = load_table(spark, sf_dir, "documents")
    return split_summary(docs)


@query(
    "x27_pack_sequences",
    oracle="""
    WITH t AS (
      SELECT source, doc_id,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ), b AS (
      SELECT source, n_tokens,
             CAST(floor(coalesce(sum(n_tokens) OVER (
                    PARTITION BY source ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2048)
                  AS BIGINT) AS bin_id
      FROM t
    )
    SELECT source, bin_id, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           round(sum(n_tokens) / 2048.0 + 1e-9, 4) AS fill_ratio
    FROM b GROUP BY source, bin_id
    """,
)
def x27_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing: documents are assigned to
    consecutive 2048-token context-window bins, contiguously in id
    order within each source shard.  The running sum partitions by
    shard, so shards pack in parallel and nothing needs a global sort —
    at 100 TB the shard column is the input file/crawl segment."""
    from ..operators.curation import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(docs, budget=2048)


@query(
    "x28_stratified_sample",
    oracle="""
    WITH k AS (
      SELECT doc_id, lang,
             ('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               AS sample_key
      FROM documents
    ), r AS (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang ORDER BY sample_key, doc_id) AS sample_rank,
             count(*) OVER (PARTITION BY lang) AS stratum_size
      FROM k
    )
    SELECT doc_id, lang, sample_rank, stratum_size
    FROM r WHERE sample_rank <= ceil(stratum_size * 0.2)
    """,
)
def x28_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 20% stratified sample per language: rank by a
    salted hash of doc_id within each stratum, keep the first
    ceil(0.2 * stratum size).  Exact per-stratum proportions and fully
    reproducible — each stratum sorts only its own rows."""
    from ..operators.curation import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample(docs, fraction=0.2, stratum_col="lang")


@query(
    "x29_repetition_stats",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ), g AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(t) - 1, 1) + 1),
                                   i -> concat_ws(' ', t[i], t[i+1]))) AS gram
      FROM t
    ), c AS (
      SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram
    )
    SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
           CAST(max(cnt) AS BIGINT) AS top_bigram_count,
           round(max(cnt) / CAST(sum(cnt) AS DOUBLE) + 1e-9, 4) AS top_bigram_frac,
           round(max(cnt) / CAST(sum(cnt) AS DOUBLE) + 1e-9, 4) >= 0.2 AS repetitive
    FROM c GROUP BY doc_id
    """,
)
def x29_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter: the fraction of a document's
    bigrams occupied by its single most frequent bigram — boilerplate
    and degenerate generations score high.  Two map-side-combinable
    aggregations keyed on (doc, gram) then doc."""
    from ..operators.curation import repetition_stats

    docs = load_table(spark, sf_dir, "documents")
    return repetition_stats(docs)


@query(
    "x30_source_mixture",
    oracle="""
    WITH per AS (
      SELECT source, count(*) AS n_docs,
             CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ), tot AS (
      SELECT sum(n_tokens) AS corpus_tokens FROM per
    ), sh AS (
      SELECT per.*, n_tokens / CAST(corpus_tokens AS DOUBLE) AS raw_share FROM per, tot
    ), ps AS (
      SELECT sum(pow(raw_share, 0.5)) AS pow_sum FROM sh
    )
    SELECT source, n_docs, n_tokens,
           round(raw_share + 1e-9, 6) AS raw_share,
           round(pow(raw_share, 0.5) / pow_sum + 1e-9, 6) AS mix_weight,
           round((pow(raw_share, 0.5) / pow_sum) / raw_share + 1e-9, 4) AS oversample_factor
    FROM sh, ps
    """,
)
def x30_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source-mixing weights (alpha=0.5): each
    source's raw token share is flattened to share^alpha / sum — the
    standard rule for upweighting rare sources/languages in a training
    mixture — plus the oversampling factor needed to realize it.  Two
    tiny broadcast-joined aggregates over one corpus scan."""
    from ..operators.curation import source_mixture

    docs = load_table(spark, sf_dir, "documents")
    return source_mixture(docs, alpha=0.5)


@query(
    "x31_curation_funnel",
    oracle="""
    WITH q AS (
      SELECT doc_id, text,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_toks,
             ((CASE WHEN len(string_split(lower(text), ' ')) BETWEEN 20 AND 2000
                    THEN 1.0 ELSE 0.5 END)
              + (CASE WHEN len(list_filter(string_split(lower(text), ' '),
                     t -> t IN ('the','a','of','and','to','in','is','it','that','for')))
                     / CAST(len(string_split(lower(text), ' ')) AS DOUBLE)
                     BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.5 END)
              + (CASE WHEN list_sum(list_transform(string_split(lower(text), ' '),
                     t -> length(t)))
                     / CAST(len(string_split(lower(text), ' ')) AS DOUBLE)
                     BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END)) / 3.0 AS quality
      FROM documents
    ), canon AS (
      SELECT doc_id,
             doc_id = min(doc_id) OVER (
               PARTITION BY md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
             ) AS is_canonical
      FROM documents
    ), rep AS (
      SELECT doc_id, max(cnt) / CAST(sum(cnt) AS DOUBLE) < 0.2 AS clean FROM (
        SELECT doc_id, gram, count(*) AS cnt FROM (
          SELECT doc_id,
                 unnest(list_transform(range(1, greatest(len(t) - 1, 1) + 1),
                                       i -> concat_ws(' ', t[i], t[i+1]))) AS gram
          FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents)
        ) GROUP BY doc_id, gram
      ) GROUP BY doc_id
    ), flags AS (
      SELECT q.doc_id, q.n_toks, q.quality >= 0.8 AS pass_q,
             c.is_canonical, r.clean
      FROM q JOIN canon c USING (doc_id) JOIN rep r USING (doc_id)
    )
    SELECT '1_raw' AS stage, count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_tokens
    FROM flags
    UNION ALL
    SELECT '2_quality', count(*), CAST(sum(n_toks) AS BIGINT)
    FROM flags WHERE pass_q
    UNION ALL
    SELECT '3_dedup', count(*), CAST(sum(n_toks) AS BIGINT)
    FROM flags WHERE pass_q AND is_canonical
    UNION ALL
    SELECT '4_clean', count(*), CAST(sum(n_toks) AS BIGINT)
    FROM flags WHERE pass_q AND is_canonical AND clean
    """,
)
def x31_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation capstone: one funnel report over the whole corpus —
    raw -> quality-filtered (composite score >= 0.8) -> exact-deduped
    (canonical survivors) -> repetition-cleaned — with doc and token
    counts per stage, the yield report every training-data pipeline
    publishes.  All three per-doc flags compute independently on one
    corpus scan lineage (projection, window-on-hash, one grouped agg)
    and join on doc_id; the funnel itself is four tiny conditional
    aggregates."""
    from pyspark.sql import Window as W

    from ..operators import text as tx
    from ..operators.curation import repetition_stats
    from ..operators.text import fingerprint

    docs = load_table(spark, sf_dir, "documents")
    q = docs.select(
        "doc_id",
        tx.token_count(F.col("text")).alias("n_toks"),
        (tx.quality_score(F.col("text")) >= 0.8).alias("pass_q"),
    )
    canon = docs.select(
        "doc_id",
        (
            F.col("doc_id")
            == F.min("doc_id").over(W.partitionBy(fingerprint(F.col("text"))))
        ).alias("is_canonical"),
    )
    rep = repetition_stats(docs).select("doc_id", (~F.col("repetitive")).alias("clean"))
    from ..cache import tracked_persist

    # the narrow per-doc flag frame feeds FOUR stage aggregates —
    # without the persist the three-branch corpus join re-runs per
    # stage (plan sweep: 12 scans)
    flags = tracked_persist(q.join(canon, "doc_id").join(rep, "doc_id"))

    def stage(label: str, cond):
        return flags.filter(cond).agg(
            F.lit(label).alias("stage"),
            F.count("*").alias("n_docs"),
            F.sum("n_toks").alias("n_tokens"),
        )

    return (
        stage("1_raw", F.lit(True))
        .unionAll(stage("2_quality", F.col("pass_q")))
        .unionAll(stage("3_dedup", F.col("pass_q") & F.col("is_canonical")))
        .unionAll(
            stage("4_clean", F.col("pass_q") & F.col("is_canonical") & F.col("clean"))
        )
    )


@query(
    "x32_unigram_logprob",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents
    ), counts AS (
      SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
    ), freqs AS (
      SELECT tok, cnt / CAST((SELECT sum(cnt) FROM counts) AS DOUBLE) AS p FROM counts
    )
    SELECT t.doc_id, count(*) AS n_tokens,
           round(avg(ln(f.p)) + 1e-9, 6) AS mean_logprob
    FROM toks t JOIN freqs f USING (tok)
    GROUP BY t.doc_id
    """,
)
def x32_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring on its distributed skeleton: a
    corpus-estimated unigram model, each doc scored by mean token
    log-probability — the perplexity-filter primitive (low scorers are
    gibberish/off-distribution).  Frequency table joins back on the
    well-spread token key; no driver-side state."""
    from ..operators.curation import unigram_logprob

    docs = load_table(spark, sf_dir, "documents")
    return unigram_logprob(docs)


# --------------------------------------------------------- PII / URLs

from ..operators.text import PII_PATTERNS  # noqa: E402

# Planted-PII construction shared (textually) by the Spark builder and
# the oracle: the synthetic corpus contains no real PII, so the query
# layer plants deterministic instances derived from doc_id — the same
# pattern as x25's planted contamination — and the scrubber must find
# and redact every one.
_PII_EMAIL = PII_PATTERNS["EMAIL"]
_PII_IPV4 = PII_PATTERNS["IPV4"]
_PII_PHONE = PII_PATTERNS["PHONE"]

_X33_ORACLE = (
    """
    WITH planted AS (
      SELECT doc_id,
             text || ' contact user' || doc_id || '@example.com'
                  || CASE WHEN doc_id % 3 = 0 THEN ' cc admin@corp.io' ELSE '' END
                  || ' ip 10.0.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256)
                  || ' tel 555-010-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') AS t
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(t, '"""
    + _PII_EMAIL
    + """'))::BIGINT AS n_emails,
           len(regexp_extract_all(t, '"""
    + _PII_IPV4
    + """'))::BIGINT AS n_ips,
           len(regexp_extract_all(t, '"""
    + _PII_PHONE
    + """'))::BIGINT AS n_phones,
           substr(md5(
             regexp_replace(regexp_replace(regexp_replace(t,
               '"""
    + _PII_EMAIL
    + """', '[EMAIL]', 'g'),
               '"""
    + _PII_IPV4
    + """', '[IPV4]', 'g'),
               '"""
    + _PII_PHONE
    + """', '[PHONE]', 'g')
           ), 1, 16) AS redacted_fp
    FROM planted
    """
)


@query("x33_pii_redaction", oracle=_X33_ORACLE)
def x33_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass: per-category match counts + the redacted text
    (fingerprinted to keep rows narrow).  Counting and replacement are
    single-scan codegen regex expressions (operators/text.py
    pii_counts/redact_pii) — the map-only shape a 100 TB scrub needs;
    the corpus is synthetic so deterministic PII is planted from doc_id
    first and every planted instance must come back redacted."""
    from ..operators.text import pii_counts, redact_pii

    docs = load_table(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(" cc admin@corp.io")).otherwise(F.lit("")),
            F.lit(" ip 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit("."),
            ((F.col("doc_id") * 7) % 256).cast("string"),
            F.lit(" tel 555-010-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("t"),
    )
    counts = pii_counts(F.col("t"))
    return planted.select(
        "doc_id",
        counts["EMAIL"].alias("n_emails"),
        counts["IPV4"].alias("n_ips"),
        counts["PHONE"].alias("n_phones"),
        F.substring(F.md5(redact_pii(F.col("t"))), 1, 16).alias("redacted_fp"),
    )


from ..operators.text import URL_HOST_PATTERN, URL_PATTERN  # noqa: E402

_X34_ORACLE = (
    """
    WITH planted AS (
      SELECT doc_id,
             text || ' see https://' || source || '.example.com/d/' || doc_id
                  || CASE WHEN doc_id % 4 = 0
                          THEN ' ref http://ads.tracker.net/p?x=1' ELSE '' END AS t
      FROM documents
    ), urls AS (
      SELECT doc_id, unnest(regexp_extract_all(t, '"""
    + URL_PATTERN
    + """')) AS url
      FROM planted
    ), hosts AS (
      SELECT doc_id, url, regexp_extract(url, '"""
    + URL_HOST_PATTERN
    + """', 1) AS host FROM urls
    ), domains AS (
      SELECT doc_id, url, host,
             CASE WHEN len(string_split(host, '.')) >= 2
                  THEN string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1]
                  ELSE host END AS domain
      FROM hosts
    )
    SELECT domain,
           count(*)::BIGINT AS n_urls,
           count(DISTINCT doc_id)::BIGINT AS n_docs,
           domain IN ('tracker.net') AS is_blocked
    FROM domains GROUP BY domain
    """
)


@query("x34_url_blocklist", oracle=_X34_ORACLE)
def x34_url_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL extraction + registrable-domain rollup + blocklist flag: the
    provenance-filter stage of a web-corpus pipeline.  Extraction and
    domain parsing are regex/array codegen (operators/text.py); the
    rollup is one domain-keyed aggregate; the blocklist membership is a
    literal IN for the tiny list here (a real blocklist would be a
    broadcast semi join — same plan shape as x25's gram set)."""
    from ..operators.text import extract_urls, registrable_domain, url_host

    docs = load_table(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" see https://"),
            F.col("source"),
            F.lit(".example.com/d/"),
            F.col("doc_id").cast("string"),
            F.when(F.col("doc_id") % 4 == 0, F.lit(" ref http://ads.tracker.net/p?x=1")).otherwise(
                F.lit("")
            ),
        ).alias("t"),
    )
    urls = planted.select("doc_id", F.explode(extract_urls(F.col("t"))).alias("url"))
    domains = urls.select(
        "doc_id", registrable_domain(url_host(F.col("url"))).alias("domain")
    )
    return domains.groupBy("domain").agg(
        F.count("*").alias("n_urls"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.first(F.col("domain").isin("tracker.net")).alias("is_blocked"),
    )


@query(
    "x35_edit_distance_pairs",
    oracle="""
    WITH p AS (
      SELECT doc_id, text, concat_ws(' ', t[1], t[2]) AS blk
      FROM (SELECT doc_id, text, string_split(lower(text), ' ') AS t FROM documents)
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           levenshtein(a.text, b.text)::BIGINT AS lev_distance,
           round(1.0 - levenshtein(a.text, b.text)
                       / CAST(greatest(len(a.text), len(b.text)) AS DOUBLE)
                 + 1e-9, 4) AS char_sim
    FROM p a JOIN p b ON a.blk = b.blk AND a.doc_id < b.doc_id
    WHERE levenshtein(a.text, b.text) <= 100
    """,
)
def x35_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level near-dup verification: BANDED Levenshtein
    (threshold 100) + similarity ratio on blocked candidate pairs only
    (same first-words blocking as x02).  The band caps per-pair cost at
    O(len * 100) with early exit — most blocked pairs are far apart
    and terminate almost immediately — while emitted distances equal
    the exact Levenshtein, so the oracle mirrors with the full
    computation + the same filter."""
    from ..operators.dedup import edit_distance_pairs

    docs = load_table(spark, sf_dir, "documents")
    return edit_distance_pairs(docs, max_abs_distance=100)


@query(
    "x36_matryoshka_truncate",
    oracle="""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings
    ), t AS (
      SELECT vec_id, ve, list_slice(ve, 1, 16) AS pre,
             sqrt(list_dot_product(ve, ve)) AS fn
      FROM v
    ), n AS (
      SELECT vec_id, pre, fn, sqrt(list_dot_product(pre, pre)) AS pn FROM t
    )
    SELECT vec_id,
           CASE WHEN pn > 0
                THEN list_transform(pre, x -> round(x / pn + 1e-9, 4))
                ELSE pre END AS truncated,
           round(pn / fn + 1e-9, 4) AS norm_retained
    FROM n
    """,
)
def x36_matryoshka_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation tier: first-16-dims prefix, L2
    renormalized, with the retained-norm quality signal.  Map-only
    array expressions — the cheap-retrieval tier of an MRL stack."""
    from ..operators.similarity import matryoshka_truncate

    emb = load_table(spark, sf_dir, "embeddings")
    return matryoshka_truncate(emb, dims=16)


def _kmeans_ctes(k: int = 8, iterations: int = 2) -> tuple[str, str]:
    """Unrolled Lloyd loop as chained CTEs — one (assign, centroid)
    block per iteration, every block exact by the x15 determinism kit.
    Returns (cte_block, final_assign_select) so composite queries
    (x90) can build on the assignment."""
    assign = (
        "SELECT id, v, cell FROM ("
        "SELECT s.id, s.v, c.cell, row_number() OVER (PARTITION BY s.id "
        f"ORDER BY {_cos4('s.v', 'c.centroid')} DESC, c.cell) AS rn "
        "FROM v s CROSS JOIN c{prev} c) WHERE rn = 1"
    )
    ctes = [
        "v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"a0 AS (SELECT id, v, ('0x' || substr(md5('km|' || CAST(id AS VARCHAR)), 1, 15))::BIGINT % {k} AS cell FROM v)",
        f"c0 AS ({_int_centroids_sql('a0')})",
    ]
    for i in range(1, iterations + 1):
        ctes.append(f"a{i} AS ({assign.format(prev=i - 1)})")
        ctes.append(f"c{i} AS ({_int_centroids_sql(f'a{i}')})")
    final = (
        "SELECT vec_id, cell, sim FROM ("
        f"SELECT s.id AS vec_id, c.cell, {_cos4('s.v', 'c.centroid')} AS sim, "
        "row_number() OVER (PARTITION BY s.id "
        f"ORDER BY {_cos4('s.v', 'c.centroid')} DESC, c.cell) AS rn "
        f"FROM v s CROSS JOIN c{iterations} c) WHERE rn = 1"
    )
    return ",\n".join(ctes), final


def _kmeans_oracle(k: int = 8, iterations: int = 2) -> str:
    ctes, final = _kmeans_ctes(k, iterations)
    return f"WITH {ctes}\n{final}"


@query("x37_kmeans_clusters", oracle=_kmeans_oracle())
def x37_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spherical k-means (Lloyd) cluster assignment over the embedding
    table — the IVF centroid trainer exposed as an operator.
    Value-checked (r5): the determinism kit pins seeding, exact-BIGINT
    centroid sums, and rounded argmax, so the WHOLE iterative Lloyd
    loop unrolls into chained SQL CTEs and hash-matches end-to-end.
    Convergence (mean within-cluster similarity non-decreasing,
    assignments argmax the final centroids) stays asserted in
    tests/test_operators.py."""
    from ..operators.similarity import kmeans_assign

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_assign(emb, k=8, iterations=2)


@query(
    "x38_ewma_zscore",
    oracle="""
    WITH w AS (
      SELECT user_id, ts, event_id, value,
             coalesce(list(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING), CAST([] AS DOUBLE[])) AS vals
      FROM events
    ), e AS (
      SELECT *, len(vals) AS L,
             list_sum(list_transform(range(1, len(vals) + 1),
                                     i -> vals[i] * pow(0.7, len(vals) - i))) AS num,
             list_sum(list_transform(range(1, len(vals) + 1),
                                     i -> pow(0.7, len(vals) - i))) AS den,
             list_sum(vals) AS s
      FROM w
    ), m AS (
      SELECT *, num / den AS ewma_raw, s / L AS mean FROM e
    ), v2 AS (
      SELECT *, CASE WHEN L >= 2 THEN
               sqrt(list_sum(list_transform(vals, x -> (x - mean) * (x - mean))) / (L - 1))
             END AS std
      FROM m
    )
    SELECT user_id, ts, value,
           L::BIGINT AS n_trailing,
           CASE WHEN L >= 3 THEN round(ewma_raw + 1e-9, 4) END AS ewma,
           CASE WHEN L >= 3 AND std > 0 THEN round((value - ewma_raw) / std + 1e-9, 4) END AS zscore,
           coalesce(L >= 3 AND std > 0 AND abs((value - ewma_raw) / std) > 2.0, false) AS is_anomaly
    FROM v2
    """,
)
def x38_ewma_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window EWMA + z-score anomaly flag per user: the
    streaming-metrics outlier detector in batch form.  One shuffle (the
    per-key window); the EWMA is a bounded collect_list + array fold —
    no unbounded state, no Python (operators/timeseries.py)."""
    from ..operators.timeseries import ewma_zscore

    events = load_table(spark, sf_dir, "events")
    return ewma_zscore(events, alpha=0.3, span=20, z_threshold=2.0)


_CMS_SLOT_SQL = "('0x' || substr(md5('cms{d}|' || term), 1, 15))::BIGINT % 256"

_X39_ORACLE = (
    """
    WITH toks AS (
      SELECT unnest(string_split(lower(text), ' ')) AS term FROM documents
    ), slots AS (
      """
    + "\n      UNION ALL\n      ".join(
        f"SELECT {d} AS depth, {_CMS_SLOT_SQL.format(d=d)} AS slot, term FROM toks"
        for d in range(4)
    )
    + """
    ), sketch AS (
      SELECT depth, slot, count(*) AS cnt FROM slots GROUP BY depth, slot
    ), exact AS (
      SELECT term, count(*) AS exact_count FROM toks GROUP BY term
    ), top20 AS (
      SELECT term, exact_count FROM exact
      ORDER BY exact_count DESC, term LIMIT 20
    ), probes AS (
      """
    + "\n      UNION ALL\n      ".join(
        f"SELECT term, exact_count, {d} AS depth, {_CMS_SLOT_SQL.format(d=d)} AS slot FROM top20"
        for d in range(4)
    )
    + """
    )
    SELECT p.term, p.exact_count,
           min(coalesce(s.cnt, 0))::BIGINT AS cms_estimate,
           (min(coalesce(s.cnt, 0)) - p.exact_count)::BIGINT AS overestimate
    FROM probes p LEFT JOIN sketch s ON p.depth = s.depth AND p.slot = s.slot
    GROUP BY p.term, p.exact_count
    """
)


@query("x39_count_min_heavy_hitters", oracle=_X39_ORACLE)
def x39_count_min_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation for the corpus's top-20
    terms, with the exact count alongside — overestimate is the CMS
    collision bias, always >= 0 (asserted in tests).  The sketch is
    depth x width = 1024 counters regardless of corpus size and
    mergeable cell-wise across shards (operators/sketches.cms_build);
    estimation broadcasts those 1024 rows, so the heavy-hitter check
    never rescans or shuffles the corpus."""
    from ..operators.sketches import cms_build, cms_estimate
    from ..operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("term"))
    sketch = cms_build(toks, "term")
    exact = toks.groupBy("term").agg(F.count("*").alias("exact_count"))
    top20 = exact.orderBy(F.desc("exact_count"), F.asc("term")).limit(20)
    est = cms_estimate(sketch, top20.select("term"))
    return (
        top20.join(est, "term")
        .select(
            "term",
            "exact_count",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_count")).cast("long").alias("overestimate"),
        )
    )


_X16_ORACLE = _REGISTRY["x16_winnow_fingerprints"].oracle


@query(
    "x40_shared_spans",
    oracle=f"""
    WITH fps AS ({_X16_ORACLE})
    SELECT fingerprint,
           count(*)::BIGINT AS n_docs,
           min(doc_id) AS first_doc,
           max(doc_id) AS last_doc
    FROM fps
    GROUP BY fingerprint
    HAVING count(*) >= 2
    """,
)
def x40_shared_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-span report (the Lee-et-al substring
    dedup signal): winnowing fingerprints shared by >= 2 documents.
    Any two docs overlapping by >= window+k-1 consecutive tokens are
    guaranteed to share a fingerprint, so this surfaces copied spans
    without any pairwise comparison — one fingerprint-keyed aggregate
    over the x16 fingerprint set."""
    from ..operators.text import winnow_fingerprints

    docs = load_table(spark, sf_dir, "documents")
    fps = winnow_fingerprints(docs, k=3, window=4)
    return (
        fps.groupBy("fingerprint")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@query(
    "x41_token_budget_sample",
    oracle="""
    WITH t AS (
      SELECT doc_id, source,
             len(string_split(lower(text), ' ')) AS n_tokens,
             ('0x' || substr(md5('budget|' || doc_id), 1, 15))::BIGINT AS rk
      FROM documents
    ), ranked AS (
      SELECT *, sum(n_tokens) OVER (
               PARTITION BY source ORDER BY rk, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
      FROM t
    )
    SELECT doc_id, source, n_tokens::BIGINT AS n_tokens,
           cum_tokens::BIGINT AS cum_tokens
    FROM ranked WHERE cum_tokens <= 800
    """,
)
def x41_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize a data mixture: deterministic per-source sampling up
    to an 800-token budget (chosen to actually cut the tiny test corpus) — docs ranked by a salted hash (stable across
    reruns and growth, same property as x26/x28), kept while the
    running token total fits.  One window per source partition; at
    100 TB the budget check is the same cumulative-sum window, never a
    driver loop."""
    from pyspark.sql import Window as W

    from ..operators.text import hash60, token_count

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "source",
        token_count(F.col("text")).alias("n_tokens"),
        hash60(F.col("doc_id").cast("string"), salt="budget|").alias("rk"),
    )
    w = (
        W.partitionBy("source")
        .orderBy("rk", "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        t.withColumn("cum_tokens", F.sum("n_tokens").over(w).cast("long"))
        .filter(F.col("cum_tokens") <= 800)
        .select("doc_id", "source", "n_tokens", "cum_tokens")
    )


@query(
    "p17_inverted_index",
    oracle="""
    WITH term_docs AS (
      SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS term
      FROM documents
    ), agg AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df,
             list_sort(list(doc_id)) AS postings
      FROM term_docs WHERE length(term) >= 3
      GROUP BY term
    )
    SELECT term, df,
           array_to_string(list_slice(postings, 1, 64), ',') AS postings_csv,
           df > 64 AS postings_truncated
    FROM agg
    """,
)
def p17_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index over the corpus: one explode + one grouped agg,
    with the stopword-skew guard exercised (max_postings=64 truncates
    the stored list while df stays exact).  Postings rendered as CSV
    here only for the cross-engine value hash — the operator itself
    returns the array."""
    from ..operators.retrieval import inverted_index

    docs = load_table(spark, sf_dir, "documents")
    return inverted_index(docs, min_token_len=3, max_postings=64).select(
        "term",
        "df",
        F.array_join("postings", ",").alias("postings_csv"),
        "postings_truncated",
    )


@query(
    "p18_bm25_topk",
    oracle="""
    WITH dl AS (
      SELECT doc_id, CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS dl
      FROM documents
    ), stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM dl
    ), tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM tok WHERE term IN ('customer', 'vector', 'merge', 'stream')
      GROUP BY doc_id, term
    ), dfreq AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
    ), scored AS (
      SELECT tf.doc_id,
             round(sum(
               ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl))
             ) + 1e-9, 6) AS score,
             CAST(count(*) AS BIGINT) AS n_terms_matched
      FROM tf
      JOIN dfreq d USING (term)
      JOIN dl l USING (doc_id)
      CROSS JOIN stats s
      GROUP BY tf.doc_id
    )
    SELECT doc_id, score, n_terms_matched,
           CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
    FROM scored
    ORDER BY score DESC, doc_id
    LIMIT 10
    """,
)
def p18_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 for a 4-term query (k1=1.2, b=0.75).  Per-doc term
    frequencies are computed as array expressions on one corpus scan —
    only matching docs ever shuffle — and the final ranking is
    orderBy().limit(k), which Spark plans as TakeOrderedAndProject
    (per-partition top-k + driver merge), never a global
    single-partition sort."""
    from ..operators.retrieval import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(
        docs, ["customer", "vector", "merge", "stream"], topk=10, min_token_len=3
    )


@query(
    "x42_chunk_documents",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
    ), starts AS (
      SELECT doc_id, toks,
             unnest(range(1, greatest(len(toks) - 8, 1) + 1, 24)) AS s
      FROM t
    )
    SELECT doc_id,
           CAST((s - 1) // 24 AS BIGINT) AS chunk_idx,
           array_to_string(list_slice(toks, s, least(s + 31, len(toks))), ' ')
             AS chunk_text,
           CAST(least(s + 31, len(toks)) - s + 1 AS BIGINT) AS n_chunk_tokens
    FROM starts
    """,
)
def x42_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-token-window chunking with overlap (32-token chunks,
    8-token overlap): one scan, token array bound once per row, zero
    shuffle — the pre-training / RAG chunking step ahead of
    pack_sequences."""
    from ..operators.curation import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=32, overlap=8)


@query(
    "x43_quality_yield_curve",
    oracle="""
    WITH m AS (
      SELECT
        CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS nt,
        len(list_filter(string_split(lower(text), ' '),
                        t -> t IN ('the','a','of','and','to','in','is','it','that','for')))
          / CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS stop_r,
        list_sum(list_transform(string_split(lower(text), ' '), t -> length(t)))
          / CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS awl
      FROM documents
    ), scored AS (
      SELECT nt,
             ((CASE WHEN nt BETWEEN 20 AND 2000 THEN 1.0 ELSE 0.5 END)
              + (CASE WHEN stop_r BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.5 END)
              + (CASE WHEN awl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END)) / 3.0 AS q
      FROM m
    ), fanned AS (
      SELECT q, nt,
             unnest(CAST([0.5, 0.667, 0.834, 1.0] AS DOUBLE[])) AS threshold
      FROM scored
    )
    , agg AS (
      SELECT threshold, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(nt) AS BIGINT) AS n_tokens
      FROM fanned WHERE q >= threshold
      GROUP BY threshold
    ), thr AS (
      SELECT unnest(CAST([0.5, 0.667, 0.834, 1.0] AS DOUBLE[])) AS threshold
    )
    SELECT thr.threshold,
           COALESCE(agg.n_docs, 0) AS n_docs,
           COALESCE(agg.n_tokens, 0) AS n_tokens,
           round(COALESCE(agg.n_docs, 0)
                 / CAST((SELECT count(*) FROM documents) AS DOUBLE) + 1e-9, 4)
             AS pct_docs
    FROM thr LEFT JOIN agg USING (threshold)
    """,
)
def x43_quality_yield_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs/tokens retained per quality threshold — the curation
    tuning curve, one scan + tiny fan-out."""
    from ..operators.curation import quality_yield_curve

    docs = load_table(spark, sf_dir, "documents")
    return quality_yield_curve(docs)


# Complete SELECT producing the SimHash banded near-dup pairs
# (doc_a, doc_b, hamming) at the registered bound (hamming <= 3,
# 4 sixteen-bit bands) — shared by the x44 and x48 oracles.
_SIMHASH64_PAIRS_SQL = f"""
    WITH {_SIMHASH64_SIG_SQL}
    , banded AS (
      SELECT doc_id, band0, band1, band2, band3, b.i AS band,
             CASE b.i WHEN 0 THEN band0 WHEN 1 THEN band1
                      WHEN 2 THEN band2 ELSE band3 END AS bval
      FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS i) b
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
             a.band0 AS a0, a.band1 AS a1, a.band2 AS a2, a.band3 AS a3,
             c.band0 AS c0, c.band1 AS c1, c.band2 AS c2, c.band3 AS c3
      FROM banded a
      JOIN banded c ON a.band = c.band AND a.bval = c.bval AND a.doc_id < c.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(a0, c0)) + bit_count(xor(a1, c1))
              + bit_count(xor(a2, c2)) + bit_count(xor(a3, c3)) AS BIGINT) AS hamming
    FROM pairs
    WHERE bit_count(xor(a0, c0)) + bit_count(xor(a1, c1))
        + bit_count(xor(a2, c2)) + bit_count(xor(a3, c3)) <= 3
"""


@query(
    "x44_simhash_neardup",
    oracle=f"""
    SELECT doc_a, doc_b, hamming, false AS block_truncated
    FROM ({_SIMHASH64_PAIRS_SQL})
    """,
)
def x44_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banded near-dup candidates: 16-bit-band blocking over
    the 64-bit signature, exact Hamming filter (per-word bit_count of
    XOR), capped bucket expansion with truncation provenance.
    Registered at the defaults (hamming <= 3 < bands = 4, so the
    pigeonhole completeness guarantee holds).  The 16-bit band space
    (65,536 values per band) is the scale fix over the previous 16-bit
    signature, whose 4-bit bands gave ~64 buckets corpus-wide and
    flooded at any realistic corpus size."""
    from ..operators.dedup import simhash_neardup_pairs

    docs = load_table(spark, sf_dir, "documents")
    return simhash_neardup_pairs(docs, max_hamming=3, bands=4)


# Shared planted-URL expression for the URL canonical dedup oracle:
# three raw variants per doc (case noise, utm/gclid tracking params,
# fragment) that all collapse to .../page/<doc_id % 50>?v=1.
_X45_RAW_URL_SQL = """
    CASE doc_id % 3
      WHEN 0 THEN 'HTTPS://WWW.' || source || '.Example.com/page/' || (doc_id % 50) || '/?utm_source=feed&v=1#top'
      WHEN 1 THEN 'https://www.' || source || '.example.com/page/' || (doc_id % 50) || '?v=1'
      ELSE 'https://www.' || source || '.example.com/page/' || (doc_id % 50) || '?v=1&gclid=abc'
    END
"""


@query(
    "x45_url_canonical_dedup",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id, {_X45_RAW_URL_SQL} AS url FROM documents
    ), canon AS (
      SELECT doc_id, url,
             lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1))
             || '://'
             || lower(regexp_extract(url, '^[^:/]+://([^/?#]+)', 1))
             || regexp_replace(regexp_extract(url, '^[^:/]+://[^/?#]+([^?#]*)', 1), '/+$', '')
             || CASE WHEN len(list_sort(list_filter(string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
                        p -> p <> '' AND NOT (starts_with(p, 'utm_') OR starts_with(p, 'fbclid=')
                                              OR starts_with(p, 'gclid=') OR starts_with(p, 'ref='))))) > 0
                  THEN '?' || array_to_string(list_sort(list_filter(string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
                        p -> p <> '' AND NOT (starts_with(p, 'utm_') OR starts_with(p, 'fbclid=')
                                              OR starts_with(p, 'gclid=') OR starts_with(p, 'ref=')))), '&')
                  ELSE '' END
               AS canonical
      FROM raw
    )
    SELECT canonical, CAST(count(*) AS BIGINT) AS n_urls,
           CAST(count(DISTINCT url) AS BIGINT) AS n_raw_forms,
           min(doc_id) AS first_doc
    FROM canon GROUP BY canonical
    """,
)
def x45_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level crawl dedup: canonicalize (lowercase scheme/host, strip
    tracking params + fragment + trailing slash, sort params) then one
    grouped count — the frontier-dedup pass that runs BEFORE any
    content fetch at crawl scale.  Map-only until a single canonical-key
    aggregate."""
    from ..operators.text import canonical_url

    docs = load_table(spark, sf_dir, "documents")
    page = (F.col("doc_id") % 50).cast("string")
    raw = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("HTTPS://WWW."), F.col("source"), F.lit(".Example.com/page/"), page, F.lit("/?utm_source=feed&v=1#top")),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.lit("https://www."), F.col("source"), F.lit(".example.com/page/"), page, F.lit("?v=1")),
        )
        .otherwise(
            F.concat(F.lit("https://www."), F.col("source"), F.lit(".example.com/page/"), page, F.lit("?v=1&gclid=abc")),
        )
        .alias("url"),
    )
    return (
        raw.select("doc_id", "url", canonical_url(F.col("url")).alias("canonical"))
        .groupBy("canonical")
        .agg(
            F.count("*").alias("n_urls"),
            F.countDistinct("url").alias("n_raw_forms"),
            F.min("doc_id").alias("first_doc"),
        )
    )


@query(
    "x46_length_outlier_trim",
    oracle="""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ), bounds AS (
      SELECT source,
             round(quantile_cont(n_tokens, 0.01) + 1e-9, 4) AS p_lo,
             round(quantile_cont(n_tokens, 0.99) + 1e-9, 4) AS p_hi
      FROM t GROUP BY source
    )
    SELECT t.doc_id, t.source, t.n_tokens, b.p_lo, b.p_hi
    FROM t JOIN bounds b USING (source)
    WHERE t.n_tokens >= b.p_lo AND t.n_tokens <= b.p_hi
    """,
)
def x46_length_outlier_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source length-outlier trim: keep docs inside the [p01, p99]
    token-count band of their source — the standard truncated/garbage
    tail cut.  Registered with approx=False (exact interpolated
    percentiles) because that is what the DuckDB oracle mirrors; the
    operator's default approx=True is the mergeable-sketch scale path
    (see operators/curation.length_outlier_trim)."""
    from ..operators.curation import length_outlier_trim

    docs = load_table(spark, sf_dir, "documents")
    return length_outlier_trim(docs, approx=False)


@query(
    "x47_incremental_dedup",
    oracle="""
    WITH fp AS (
      SELECT doc_id,
             substr(md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')), 1, 16) AS fingerprint
      FROM documents
    ), hist AS (
      SELECT DISTINCT fingerprint FROM fp WHERE doc_id < 250
    ), newb AS (
      SELECT * FROM fp WHERE doc_id >= 250
    ), groups AS (
      SELECT fingerprint, min(doc_id) AS batch_canonical FROM newb GROUP BY fingerprint
    )
    SELECT n.doc_id, n.fingerprint,
           (h.fingerprint IS NOT NULL) AS seen_in_history,
           n.doc_id = g.batch_canonical AS is_batch_canonical,
           (h.fingerprint IS NULL) AND n.doc_id = g.batch_canonical AS keep
    FROM newb n
    LEFT JOIN hist h USING (fingerprint)
    JOIN groups g USING (fingerprint)
    """,
)
def x47_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: the doc_id >= 250 half of the corpus
    arrives as a new batch and is deduplicated against the < 250
    history WITHOUT re-processing history text — only its fingerprint
    set joins in."""
    from ..operators.dedup import exact_dedup_groups, incremental_dedup

    docs = load_table(spark, sf_dir, "documents")
    history = exact_dedup_groups(docs.filter(F.col("doc_id") < 250)).select(
        "fingerprint"
    )
    return incremental_dedup(docs.filter(F.col("doc_id") >= 250), history)


@query(
    "x48_union_neardup_verify",
    oracle=f"""
    WITH lshc AS (
      SELECT doc_a, doc_b, est_jaccard FROM ({_P12_ORACLE})
    ), shc AS (
      SELECT doc_a, doc_b FROM ({_SIMHASH64_PAIRS_SQL})
    ), cand AS (
      SELECT coalesce(l.doc_a, s.doc_a) AS doc_a,
             coalesce(l.doc_b, s.doc_b) AS doc_b,
             l.est_jaccard,
             (l.doc_a IS NOT NULL) AS from_lsh,
             (s.doc_a IS NOT NULL) AS from_simhash
      FROM lshc l FULL JOIN shc s ON l.doc_a = s.doc_a AND l.doc_b = s.doc_b
    ), shingle_sets AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(string_split(lower(text), ' ')) - 2, 1) + 1),
               i -> concat_ws(' ', string_split(lower(text), ' ')[i],
                              string_split(lower(text), ' ')[i+1],
                              string_split(lower(text), ' ')[i+2])
             )) AS shingles
      FROM documents
    )
    SELECT c.doc_a, c.doc_b, c.est_jaccard, c.from_lsh, c.from_simhash,
           round(len(list_intersect(a.shingles, b.shingles))
                 / CAST(len(a.shingles) + len(b.shingles)
                        - len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                 + 1e-9, 4) AS jaccard
    FROM cand c
    JOIN shingle_sets a ON a.doc_id = c.doc_a
    JOIN shingle_sets b ON b.doc_id = c.doc_b
    """,
)
def x48_union_neardup_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dual-detector near-dup pipeline: MinHash-LSH ∪ SimHash banded
    candidates (full outer join of the two CANDIDATE sets — bounded by
    blocking, never the corpus) -> exact Jaccard verification, with
    per-pair provenance (from_lsh / from_simhash).  The detectors
    measure different similarity notions (set overlap vs weighted
    token profile), so the union strictly increases verified-pair
    recall over either detector alone — rows with from_lsh=false are
    exactly the pairs LSH missed (test_union_candidates asserts the
    increase on a planted corpus)."""
    from ..operators.dedup import union_neardup_candidates, verify_candidate_pairs

    docs = load_table(spark, sf_dir, "documents")
    return verify_candidate_pairs(docs, union_neardup_candidates(docs))


def _srp_tables(n_tables: int, n_planes: int = 4, dim: int = 64) -> list:
    """Deterministic pseudo-random hyperplane tables (fixed INTEGER
    literals, no RNG) — the x06 family with a per-table offset."""
    return [
        [
            [((7 * i + 13 * p + 29 * t) % 17) - 8 for i in range(dim)]
            for p in range(n_planes)
        ]
        for t in range(n_tables)
    ]


@query("x49_multi_table_lsh", oracle=_lsh_topk_oracle(_srp_tables(3)))
def x49_multi_table_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table SRP-LSH approximate top-k (3 independent hyperplane
    tables, union of bucket joins, per-pair dedup) — the recall dial
    over x06's single table.  Value-checked: quantized buckets + 4-dp
    rounded cosine + id tiebreaks make the full union-of-tables
    candidate set and ranking SQL-pinnable; recall monotonicity in
    n_tables vs the exact baseline stays pinned in
    tests/test_operators.py::test_multi_table_lsh_recall_monotone."""
    from ..operators.similarity import lsh_cosine_topk_multi

    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_cosine_topk_multi(
        emb.filter(F.col("vec_id") < 10), emb, _srp_tables(3), k=5
    )


@query(
    "x50_hybrid_rrf",
    oracle="""
    WITH dl AS (
      SELECT doc_id, CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS dl
      FROM documents
    ), stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM dl
    ), tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM tok WHERE term IN ('customer', 'vector', 'merge', 'stream')
      GROUP BY doc_id, term
    ), dfreq AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
    ), bm AS (
      SELECT tf.doc_id,
             round(sum(
               ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl))
             ) + 1e-9, 6) AS score
      FROM tf
      JOIN dfreq d USING (term)
      JOIN dl l USING (doc_id)
      CROSS JOIN stats s
      GROUP BY tf.doc_id
    ), sparse AS (
      SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
               AS rank
      FROM bm ORDER BY score DESC, doc_id LIMIT 20
    ), q AS (
      SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0
    ), c AS (
      SELECT vec_id AS doc_id, embedding::DOUBLE[] AS v FROM embeddings
    ), dsc AS (
      SELECT c.doc_id,
             round(list_dot_product(q.v, c.v)
                   / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)))
                   + 1e-9, 4) AS cosine_sim
      FROM q CROSS JOIN c
    ), dense AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY cosine_sim DESC, doc_id) AS BIGINT)
               AS rank
      FROM dsc ORDER BY cosine_sim DESC, doc_id LIMIT 20
    ), u AS (
      SELECT doc_id, rank FROM sparse UNION ALL SELECT doc_id, rank FROM dense
    ), fused AS (
      SELECT doc_id,
             round(sum(1.0 / (60.0 + rank)) + 1e-9, 6) AS rrf_score,
             CAST(count(*) AS BIGINT) AS n_sources
      FROM u GROUP BY doc_id
    )
    SELECT doc_id, rrf_score, n_sources,
           CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS INT) AS rank
    FROM fused ORDER BY rrf_score DESC, doc_id LIMIT 10
    """,
)
def x50_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of BM25 top-20 (sparse,
    p18's query) with exact-cosine top-20 for query vector 0 (dense,
    p13's scorer), k=60 — the standard fusion for RAG corpus search.
    Both inputs are already top-n, so the fusion's union + grouped agg
    + TakeOrderedAndProject touch at most 40 rows; the corpus is
    scanned once per branch."""
    from ..operators.retrieval import bm25_topk, rrf_fuse
    from ..operators.similarity import cosine_topk

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    sparse = bm25_topk(
        docs, ["customer", "vector", "merge", "stream"], topk=20, min_token_len=3
    ).select("doc_id", "rank")
    dense = cosine_topk(emb.filter(F.col("vec_id") == 0), emb, k=20).select(
        F.col("neighbor_id").alias("doc_id"), "rank"
    )
    return rrf_fuse([sparse, dense], id_col="doc_id", k=60, topk=10)


@query(
    "x51_semantic_dedup",
    oracle="""
    WITH e AS (
      SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
    ), en AS (
      SELECT id, v, sqrt(list_dot_product(v, v)) AS n FROM e
    ), cents AS (
      SELECT id AS cell, v AS cv, sqrt(list_dot_product(v, v)) AS cn
      FROM e WHERE id < (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM e)
    ), sims AS (
      SELECT en.id, cents.cell,
             round(list_dot_product(en.v, cents.cv) / (en.n * cents.cn) + 1e-9, 6)
               AS sim
      FROM en CROSS JOIN cents
    ), assign AS (
      SELECT id, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY id ORDER BY sim DESC, cell) AS rn
        FROM sims
      ) WHERE rn = 1
    ), pairs AS (
      SELECT b.id AS removed_id, a.id AS kept_id, a.cell,
             round(list_dot_product(ea.v, eb.v) / (ea.n * eb.n) + 1e-9, 4)
               AS cosine_sim
      FROM assign a
      JOIN assign b ON a.cell = b.cell AND a.id < b.id
      JOIN en ea ON ea.id = a.id
      JOIN en eb ON eb.id = b.id
    ), hits AS (
      SELECT * FROM pairs WHERE cosine_sim >= 0.3
    )
    SELECT removed_id, kept_id, cell, cosine_sim,
           false AS cluster_truncated
    FROM (
      SELECT *, row_number() OVER (PARTITION BY removed_id ORDER BY kept_id) AS rn
      FROM hits
    ) WHERE rn = 1
    """,
)
def x51_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic deduplication: nearest-centroid assignment,
    then within-cluster cosine pruning at threshold 0.3 (the synthetic
    embeddings are near-orthogonal: in-cluster p99 cosine is ~0.32, so
    0.3 prunes the genuinely-similar ~1% tail), keeping the
    lowest-id witness per removed vector.  Assignment is a broadcast
    argmax (shuffle-free); pairwise cosine runs only inside clusters
    via array HOF pair expansion (one groupBy shuffle).

    The centroid count is SIZED FROM THE CORPUS: nlist =
    ceil(sqrt(N)) deterministic centroids (the lowest-id corpus
    vectors; no RNG, oracle-replayable).  A fixed nlist makes the
    in-cell pair scan quadratic in N — measured directly by the r9
    three-point scale record (BENCH_SCALE x51: 11.4x per 10x data at
    the old fixed nlist=32); with nlist ~ sqrt(N) the expected cell
    population stays ~sqrt(N) and the pair term drops to ~N^1.5
    (VERDICT r9 item 1).  The one-row count() driving nlist is a
    sanctioned driver-bounded scalar, same as the tokenizer loops."""
    import math

    from ..operators.similarity import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    nlist = int(math.ceil(math.sqrt(emb.count())))
    cents = emb.filter(F.col("vec_id") < nlist).select(
        F.col("vec_id").alias("cell"),
        F.transform("embedding", lambda x: x.cast("double")).alias("centroid"),
    )
    return semantic_dedup(emb, cents, threshold=0.3)


@query(
    "x52_training_shards",
    oracle="""
    WITH keyed AS (
      SELECT doc_id,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
             ('0x' || substr(md5('shuffle|' || doc_id), 1, 15))::BIGINT AS shuffle_key
      FROM documents
    )
    SELECT doc_id,
           CAST(shuffle_key % 8 AS INT) AS shard,
           CAST(row_number() OVER (PARTITION BY shuffle_key % 8
                                   ORDER BY shuffle_key, doc_id) AS INT) AS pos,
           n_tokens, shuffle_key
    FROM keyed
    """,
)
def x52_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle into 8 training shards — the final
    pipeline step that fixes a reproducible pseudo-random training
    order with no RNG.  One exchange (the per-shard rank window);
    shards are hash-balanced, so the per-shard sort stays bounded at
    scale by raising n_shards."""
    from ..operators.curation import training_shards

    docs = load_table(spark, sf_dir, "documents")
    return training_shards(docs, n_shards=8)


@query(
    "x53_gopher_rules",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
    ), tri AS (
      SELECT doc_id, toks,
             list_transform(
               range(1, greatest(len(toks) - 2, 1) + 1),
               i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])
             ) AS tris
      FROM t
    ), m AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             list_sum(list_transform(toks, x -> length(x)))
               / CAST(len(toks) AS DOUBLE) AS mean_word_len,
             CAST(len(list_filter(toks,
               x -> x IN ('the','a','of','and','to','in','is','it','that','for')))
               AS BIGINT) AS stop_hits,
             len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
               / CAST(len(toks) AS DOUBLE) AS alpha_frac,
             1.0 - len(list_distinct(tris)) / CAST(len(tris) AS DOUBLE)
               AS dup_trigram_frac
      FROM tri
    ), r AS (
      SELECT *,
             n_words BETWEEN 30 AND 10000 AS r_len,
             mean_word_len BETWEEN 3.0 AND 10.0 AS r_word_len,
             stop_hits >= 2 AS r_stop,
             alpha_frac >= 0.8 AS r_alpha,
             dup_trigram_frac <= 0.1 AS r_dup
      FROM m
    )
    SELECT *, r_len AND r_word_len AND r_stop AND r_alpha AND r_dup AS keep
    FROM r
    """,
)
def x53_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality filter: word-count bounds,
    mean-word-length bounds, stopword evidence, alpha-token fraction,
    and duplicated-trigram fraction, each as an attributable boolean
    plus the conjunction ``keep``.  Single scan, zero shuffle."""
    from ..operators.curation import gopher_quality_rules

    docs = load_table(spark, sf_dir, "documents")
    return gopher_quality_rules(docs)


@query(
    "x54_reranked_search",
    oracle="""
    WITH dl AS (
      SELECT doc_id, CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS dl
      FROM documents
    ), stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM dl
    ), tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM tok WHERE term IN ('customer', 'vector', 'merge', 'stream')
      GROUP BY doc_id, term
    ), dfreq AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
    ), bm AS (
      SELECT tf.doc_id,
             round(sum(
               ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl))
             ) + 1e-9, 6) AS score
      FROM tf
      JOIN dfreq d USING (term)
      JOIN dl l USING (doc_id)
      CROSS JOIN stats s
      GROUP BY tf.doc_id
    ), cand AS (
      SELECT doc_id, score FROM bm ORDER BY score DESC, doc_id LIMIT 20
    ), bounds AS (
      SELECT min(score) AS lo, max(score) AS hi FROM cand
    ), feat AS (
      SELECT c.doc_id, c.score,
             len(list_intersect(
               list_distinct(string_split(lower(d.text), ' ')),
               ['customer', 'merge', 'stream', 'vector']))
             / CAST(len(list_distinct(list_concat(
                 list_distinct(string_split(lower(d.text), ' ')),
                 ['customer', 'merge', 'stream', 'vector']))) AS DOUBLE) AS jacc
      FROM cand c JOIN documents d USING (doc_id)
    ), blended AS (
      SELECT doc_id, score AS retrieval_score,
             round(0.7 * (CASE WHEN b.hi > b.lo
                               THEN (score - b.lo) / (b.hi - b.lo)
                               ELSE 1.0 END)
                   + 0.3 * jacc + 1e-9, 6) AS rerank_score
      FROM feat CROSS JOIN bounds b
    )
    SELECT doc_id, retrieval_score, rerank_score,
           CAST(row_number() OVER (ORDER BY rerank_score DESC, doc_id) AS INT) AS rank
    FROM blended ORDER BY rerank_score DESC, doc_id LIMIT 10
    """,
)
def x54_reranked_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieve-then-rerank: BM25 top-20 candidates re-scored by a
    blend of the min-max-normalized retrieval score and the query-doc
    token Jaccard (w=0.7/0.3).  The rerank stage touches only the
    candidate set (broadcast against one corpus scan for text), which
    is what makes per-candidate features affordable at 100 TB.  The
    Arrow/model variant of stage 2 is
    operators.retrieval.rerank_with_model (parity-tested)."""
    from ..operators.retrieval import bm25_topk, rerank_blend

    docs = load_table(spark, sf_dir, "documents")
    terms = ["customer", "vector", "merge", "stream"]
    cands = bm25_topk(docs, terms, topk=20, min_token_len=3)
    return rerank_blend(cands, docs, terms, topk=10)


@query(
    "x55_dedup_yield_report",
    oracle=f"""
    WITH comp AS ({{p14}}),
    fp AS (
      SELECT doc_id,
             substr(md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')), 1, 16)
               AS fingerprint
      FROM documents
    ), canon AS (
      SELECT fingerprint, min(doc_id) AS canonical_id FROM fp GROUP BY fingerprint
    ), flags AS (
      SELECT d.source, d.doc_id,
             (fp.doc_id = c.canonical_id) AS exact_survivor,
             (cm.id IS NULL OR cm.component = d.doc_id) AS neardup_survivor
      FROM documents d
      JOIN fp ON fp.doc_id = d.doc_id
      JOIN canon c USING (fingerprint)
      LEFT JOIN comp cm ON cm.id = d.doc_id
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN exact_survivor THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact_survivors,
           CAST(sum(CASE WHEN neardup_survivor THEN 1 ELSE 0 END) AS BIGINT)
             AS n_neardup_survivors,
           round(sum(CASE WHEN exact_survivor THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE) + 1e-9, 4) AS exact_yield,
           round(sum(CASE WHEN neardup_survivor THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE) + 1e-9, 4) AS neardup_yield
    FROM flags GROUP BY source
    """.replace("{p14}", _P14_ORACLE),
)
def x55_dedup_yield_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup observability: per-source yield at each dedup tier — how
    many documents survive exact dedup and the MinHash near-dup
    closure.  This is the report a pipeline operator watches to catch
    a source turning into boilerplate.  Survivors attribute to the
    CANONICAL doc's source for cross-source duplicate groups (the
    survivor is the kept doc).  Composes the p11 fingerprint pass and
    the p14 closure; one extra groupBy(source) on top."""
    from ..operators.dedup import (
        connected_components,
        exact_dedup_groups,
        minhash_lsh_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    exact = exact_dedup_groups(docs).select("doc_id", "is_canonical")
    comp = connected_components(
        minhash_lsh_pairs(docs, num_hashes=16, bands=4, shingle_k=3, min_est_jaccard=0.5)
    )
    flags = (
        docs.select("doc_id", "source")
        .join(exact, "doc_id")
        .join(comp, docs.doc_id == comp.id, "left")
        .select(
            "source",
            F.col("is_canonical").alias("exact_survivor"),
            (F.col("id").isNull() | (F.col("component") == F.col("doc_id"))).alias(
                "neardup_survivor"
            ),
        )
    )
    n = F.count("*")
    ne = F.sum(F.when(F.col("exact_survivor"), 1).otherwise(0))
    nn = F.sum(F.when(F.col("neardup_survivor"), 1).otherwise(0))
    return flags.groupBy("source").agg(
        n.cast("long").alias("n_docs"),
        ne.cast("long").alias("n_exact_survivors"),
        nn.cast("long").alias("n_neardup_survivors"),
        F.round(ne / n + F.lit(1e-9), 4).alias("exact_yield"),
        F.round(nn / n + F.lit(1e-9), 4).alias("neardup_yield"),
    )


def _pr_iter_sql(prev: str, cur: str) -> str:
    """One unrolled PageRank iteration (mirrors operators.graph.pagerank:
    round((1-d)/N + d*sum(r/deg) + 1e-9, 6))."""
    return f"""{cur} AS (
      SELECT e.dst AS node,
             round(0.15 / nn + 0.85 * sum(p.r / d.deg) + 1e-9, 6) AS r
      FROM edges e
      JOIN deg d ON d.src = e.src
      JOIN {prev} p ON p.node = e.src
      CROSS JOIN n
      GROUP BY e.dst, nn
    )"""


@query(
    "x56_supplier_pagerank",
    oracle=f"""
    WITH sup AS (
      SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
    ), edges AS (
      SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
      FROM sup a JOIN sup b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
    ), deg AS (
      SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src
    ), n AS (
      SELECT CAST(count(*) AS BIGINT) AS nn FROM deg
    ), r0 AS (
      SELECT src AS node, round(1.0 / nn + 1e-9, 6) AS r FROM deg CROSS JOIN n
    ), {_pr_iter_sql("r0", "r1")}, {_pr_iter_sql("r1", "r2")}, {_pr_iter_sql("r2", "r3")}
    SELECT node AS supp_key, r AS rank_score FROM r3
    """,
)
def x56_supplier_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank authority over the supplier co-purchase graph (suppliers
    sharing an order link both ways — the engine-portable stand-in for
    the interdomain link graph a web-corpus pipeline scores as a
    quality prior).  Edges are built WITHOUT a self-join: per-order
    supplier sets aggregate once and pairs expand via array HOFs, then
    3 fixed power iterations (operators/graph.pagerank) with
    per-iteration rounding so the DuckDB oracle can unroll the exact
    same computation as CTEs."""
    from ..operators.graph import pagerank

    li = load_table(spark, sf_dir, "lineitem")
    sets = (
        li.select("l_orderkey", "l_suppkey").distinct()
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_suppkey")).alias("ss"))
        .filter(F.size("ss") >= 2)
    )
    ss = F.col("ss")
    pair_arr = F.flatten(
        F.transform(
            ss,
            lambda x: F.transform(
                F.filter(ss, lambda y: y != x),
                lambda y: F.struct(x.alias("src"), y.alias("dst")),
            ),
        )
    )
    edges = sets.select(F.explode(pair_arr).alias("p")).select("p.src", "p.dst").distinct()
    return pagerank(edges, iterations=3).select(
        F.col("node").alias("supp_key"), F.col("rank").alias("rank_score")
    )


@query(
    "x57_phrase_search",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
    ), m AS (
      SELECT doc_id,
             CAST(len(list_filter(range(1, len(toks)),
                  i -> toks[i] = 'customer' AND toks[i+1] = 'vector'))
               AS BIGINT) AS n_occurrences
      FROM t
    )
    SELECT doc_id, n_occurrences,
           CAST(row_number() OVER (ORDER BY n_occurrences DESC, doc_id) AS INT)
             AS rank
    FROM m WHERE n_occurrences > 0
    ORDER BY n_occurrences DESC, doc_id LIMIT 10
    """,
)
def x57_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase query ("customer vector") over the positional
    index: per-term positional postings join on doc_id (only docs
    containing EVERY term survive — the rarest term bounds the join)
    and adjacency resolves with array intersections, ranked by
    occurrence count via TakeOrderedAndProject.  The oracle verifies
    against a direct token-window scan — same result, different
    algorithm, which is the point: the index path never re-reads
    text."""
    from ..operators.retrieval import phrase_search

    docs = load_table(spark, sf_dir, "documents")
    return phrase_search(docs, ["customer", "vector"], topk=10)


@query(
    "x58_quality_weighted_sample",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
             len(list_filter(string_split(lower(text), ' '),
                             t -> t IN ('the','a','of','and','to','in','is','it','that','for')))
               / CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS stop_r,
             list_sum(list_transform(string_split(lower(text), ' '), t -> length(t)))
               / CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS awl
      FROM documents
    ), q AS (
      SELECT doc_id,
             ((CASE WHEN n_tokens BETWEEN 20 AND 2000 THEN 1.0 ELSE 0.5 END)
              + (CASE WHEN stop_r BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.5 END)
              + (CASE WHEN awl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END)) / 3.0
               AS w
      FROM m
    )
    SELECT doc_id,
           round(('0x' || substr(md5('qsample|' || doc_id), 1, 15))::BIGINT
                 / 1152921504606846976.0 + 1e-9, 6) AS draw,
           round(least(1.0, 0.8 * w) + 1e-9, 6) AS accept_below,
           round(('0x' || substr(md5('qsample|' || doc_id), 1, 15))::BIGINT
                 / 1152921504606846976.0 + 1e-9, 6)
             < round(least(1.0, 0.8 * w) + 1e-9, 6) AS kept
    FROM q
    """,
)
def x58_quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted Bernoulli downsample at scale 0.8: keep
    probability proportional to the composite quality score, decided
    by the RNG-free md5 uniform draw — per-doc decisions stable under
    corpus growth and re-runs.  Map-only, zero shuffle."""
    from ..operators.curation import quality_weighted_sample
    from ..operators.text import quality_score

    docs = load_table(spark, sf_dir, "documents")
    return quality_weighted_sample(
        docs, quality_score(F.col("text")), scale=0.8
    )


@query(
    "x59_novelty_scores",
    oracle=f"""
    {_SHINGLES_CTE},
    grams AS (
      SELECT doc_id, unnest(shingles) AS gram FROM shingled
    ), dfc AS (
      SELECT gram, CAST(count(*) AS BIGINT) AS gram_df FROM grams GROUP BY gram
    )
    SELECT g.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN d.gram_df = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unique_grams,
           round(sum(CASE WHEN d.gram_df = 1 THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE) + 1e-9, 4) AS novelty
    FROM grams g JOIN dfc d USING (gram)
    GROUP BY g.doc_id
    """,
)
def x59_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 3-gram novelty (fraction of the doc's distinct
    shingles appearing nowhere else) — the diversity weighting signal
    for corpus mixing.  One explode, one corpus-wide df aggregate, one
    rejoin; no self-join."""
    from ..operators.curation import novelty_scores

    docs = load_table(spark, sf_dir, "documents")
    return novelty_scores(docs, k=3)


@query(
    "x60_hash_embeddings",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents
    ), comp AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5('embdim|' || tok), 1, 15))::BIGINT % 64 AS INT)
               AS d,
             sum(CAST(('0x' || substr(md5('embsign|' || tok), 1, 15))::BIGINT % 2
                      * 2 - 1 AS DOUBLE)) AS v,
             CAST(count(*) AS BIGINT) AS n
      FROM toks
      GROUP BY doc_id, d
    ), folded AS (
      SELECT doc_id, map(list(d), list(v)) AS m, CAST(sum(n) AS BIGINT) AS n_tokens
      FROM comp GROUP BY doc_id
    ), dense AS (
      SELECT doc_id, n_tokens,
             list_transform(range(0, 64), d -> coalesce(m[d][1], 0.0::DOUBLE)) AS vec
      FROM folded
    ), normed AS (
      SELECT doc_id, n_tokens,
             sqrt(list_sum(list_transform(vec, x -> x * x))) AS nrm, vec
      FROM dense
    )
    SELECT doc_id,
           array_to_string(
             list_transform(vec, x -> format('{:.6f}',
               round(CASE WHEN nrm > 0 THEN x / nrm ELSE 0.0 END + 1e-9, 6))),
             ',') AS embedding_csv,
           n_tokens
    FROM normed
    """,
)
def x60_hash_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing text embeddings (64-dim, L2-normalized,
    md5-derived dims/signs — deterministic, model-free): the "embed"
    stage that lets the ANN / semantic-dedup tier run on raw text with
    no external model.  One explode + two combinable aggregates, no
    joins.  Components rendered as CSV here only for the cross-engine
    value hash — the operator itself returns the dense array."""
    from ..operators.embed import hash_embeddings

    docs = load_table(spark, sf_dir, "documents")
    emb = hash_embeddings(docs, dim=64)
    return emb.select(
        "doc_id",
        F.array_join(
            F.transform("embedding", lambda x: F.format_string("%.6f", x)), ","
        ).alias("embedding_csv"),
        "n_tokens",
    )


_HASH_EMBED_CTE = """
    toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents
    ), comp AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5('embdim|' || tok), 1, 15))::BIGINT % 64 AS INT)
               AS d,
             sum(CAST(('0x' || substr(md5('embsign|' || tok), 1, 15))::BIGINT % 2
                      * 2 - 1 AS DOUBLE)) AS v
      FROM toks GROUP BY doc_id, d
    ), folded AS (
      SELECT doc_id, map(list(d), list(v)) AS m FROM comp GROUP BY doc_id
    ), dense AS (
      SELECT doc_id,
             list_transform(range(0, 64), d -> coalesce(m[d][1], 0.0::DOUBLE)) AS raw
      FROM folded
    ), embedded AS (
      SELECT doc_id,
             list_transform(raw, x -> round(
               CASE WHEN sqrt(list_sum(list_transform(raw, y -> y * y))) > 0
                    THEN x / sqrt(list_sum(list_transform(raw, y -> y * y)))
                    ELSE 0.0 END + 1e-9, 6)) AS v
      FROM dense
    )
"""


def _centered_tables(n_tables: int, n_planes: int = 8, dim: int = 64) -> list:
    """Deterministic hyperplane tables for the centered multi-table
    blocking (x61) — same literal family as x49's _srp_tables with the
    x14 offset."""
    return [
        [
            [(((7 * i + 13 * p + 29 * t + 5) % 17) - 8) for i in range(dim)]
            for p in range(n_planes)
        ]
        for t in range(n_tables)
    ]


def _centered_bucket_sql(t: int) -> str:
    return _srp_bucket_sql(_centered_tables(3)[t]).replace("len(v)", "len(c)").replace("v[i]", "c[i]")


@query(
    "x61_text_embedding_neardup",
    oracle=f"""
    WITH {_HASH_EMBED_CTE},
    dims AS (
      SELECT doc_id, dd.d AS d, v[dd.d] AS x
      FROM embedded CROSS JOIN (SELECT unnest(range(1, 65)) AS d) dd
    ), mean AS (
      SELECT list(mm ORDER BY d) AS mu FROM (
        SELECT d, round(avg(x) + 1e-9, 6) AS mm FROM dims GROUP BY d)
    ), centered AS (
      SELECT e.doc_id, e.v,
             list_transform(range(1, 65), d -> round(e.v[d] - mu[d] + 1e-9, 6)) AS c
      FROM embedded e CROSS JOIN mean
    ), b AS (
      SELECT doc_id, v, {{b0}} AS k0, {{b1}} AS k1, {{b2}} AS k2 FROM centered
    ), cand AS (
      SELECT a.doc_id AS vec_a, bb.doc_id AS vec_b, a.v AS va, bb.v AS vb
      FROM b a JOIN b bb ON a.k0 = bb.k0 AND a.doc_id < bb.doc_id
      UNION
      SELECT a.doc_id, bb.doc_id, a.v, bb.v
      FROM b a JOIN b bb ON a.k1 = bb.k1 AND a.doc_id < bb.doc_id
      UNION
      SELECT a.doc_id, bb.doc_id, a.v, bb.v
      FROM b a JOIN b bb ON a.k2 = bb.k2 AND a.doc_id < bb.doc_id
    )
    SELECT vec_a, vec_b,
           round(list_dot_product(va, vb)
                 / (sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb)))
                 + 1e-9, 4) AS cosine_sim
    FROM cand
    WHERE round(list_dot_product(va, vb)
                / (sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb)))
                + 1e-9, 4) >= 0.95
    """.replace("{b0}", _centered_bucket_sql(0))
       .replace("{b1}", _centered_bucket_sql(1))
       .replace("{b2}", _centered_bucket_sql(2)),
)
def x61_text_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEXT near-dup detection through embedding space, end to end and
    model-free: hash-embed the corpus (x60), then MEAN-CENTERED
    3-table SRP blocking with exact cosine verification at 0.95.
    Centering matters here specifically: hashed bag-of-words vectors
    over a shared vocabulary cluster in a narrow cone, so RAW SRP
    signs collapse into one flooded bucket (quadratic pairing —
    observed 71 s vs ~2 s at sf0.1); subtracting the corpus mean
    re-spreads directions and the 3-table union restores recall
    (~76% of true 0.95-pairs at sf0.1, 100% of exact-dup pairs, which
    always co-bucket in every table).  The composed dataflow is
    value-verified by one stacked oracle."""
    from ..operators.embed import hash_embeddings
    from ..operators.similarity import embedding_neardup_pairs_multi

    docs = load_table(spark, sf_dir, "documents")
    emb = hash_embeddings(docs, dim=64)
    return embedding_neardup_pairs_multi(
        emb, _centered_tables(3), threshold=0.95, id_col="doc_id"
    )


def _pq_oracle(
    m: int = 16,
    ksub: int = 16,
    dsub: int = 4,
    rerank: int = 50,
    k: int = 5,
    id_filter: str = "id < 10",
) -> str:
    """SQL twin of pq_topk: unit-normalize, split into
    m subspaces, hash-seed + one exact-centroid Lloyd step per
    subspace, argmin-encode, ADC-score via 6-dp LUT terms (summed as
    scaled BIGINTs — exact and order-independent), exact-cosine rerank
    of the per-query shortlist."""

    def l2(a: str, b: str) -> str:
        return (
            f"round(list_sum(list_transform(range(1, {dsub + 1}), "
            f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))) + 1e-9, 6)"
        )

    sums = ", ".join(
        f"sum(CAST(trunc(sv[{d + 1}] * 1000) AS BIGINT)) AS s{d}" for d in range(dsub)
    )
    cent = "[" + ", ".join(f"CAST(s{d} AS DOUBLE) / n / 1000.0" for d in range(dsub)) + "]"

    def codebook(src: str) -> str:
        return (
            f"SELECT sub, cell, {cent} AS centroid, "
            f"CAST(row_number() OVER (PARTITION BY sub ORDER BY cell) - 1 AS INT) AS pos "
            f"FROM (SELECT sub, cell, {sums}, count(*) AS n FROM {src} GROUP BY sub, cell)"
        )

    def argmin(src: str, cb: str, out: str) -> str:
        return (
            f"SELECT id, sub, sv, pos AS {out} FROM ("
            f"SELECT s.id, s.sub, s.sv, c.pos, "
            f"row_number() OVER (PARTITION BY s.id, s.sub "
            f"ORDER BY {l2('s.sv', 'c.centroid')}, c.pos) AS rn "
            f"FROM {src} s JOIN {cb} c ON s.sub = c.sub) WHERE rn = 1"
        )

    return f"""
    WITH raw AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
    u AS (SELECT id, CASE WHEN n > 0 THEN list_transform(v, x -> x / n) ELSE v END AS v
          FROM (SELECT id, v, sqrt(list_dot_product(v, v)) AS n FROM raw)),
    subs AS (SELECT id, s.sub AS sub,
                    v[s.sub * {dsub} + 1 : s.sub * {dsub} + {dsub}] AS sv
             FROM u, (SELECT unnest(range(0, {m})) AS sub) s),
    seeded AS (SELECT id, sub, sv,
                      (('0x' || substr(md5('pq|' || CAST(id AS VARCHAR)), 1, 15))::BIGINT
                       + sub) % {ksub} AS cell
               FROM subs),
    cb0 AS ({codebook('seeded')}),
    a1 AS ({argmin('seeded', 'cb0', 'cell')}),
    cb1 AS ({codebook('a1')}),
    codes AS ({argmin('subs', 'cb1', 'code')}),
    luts AS (SELECT q.id AS query_id, c.sub, c.pos,
                    round(list_dot_product(q.sv, c.centroid) + 1e-9, 6) AS t
             FROM (SELECT * FROM subs WHERE {id_filter}) q
             JOIN cb1 c ON q.sub = c.sub),
    adc AS (SELECT l.query_id, co.id AS neighbor_id,
                   -- t is 6-dp; the scaled-BIGINT sum is exact and
                   -- aggregation-order-independent, unlike float SUM
                   round(sum(CAST(round(l.t * 1000000) AS BIGINT)) / 1000000.0
                         + 1e-9, 4) AS adc_score
            FROM codes co JOIN luts l ON co.sub = l.sub AND co.code = l.pos
            GROUP BY l.query_id, co.id),
    short AS (SELECT query_id, neighbor_id FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                          ORDER BY adc_score DESC, neighbor_id) AS rn FROM adc)
              WHERE rn <= {max(rerank, k)}),
    rescored AS (SELECT s.query_id, s.neighbor_id,
                        round(list_dot_product(qu.v, cu.v) + 1e-9, 4) AS cosine_sim
                 FROM short s
                 JOIN u cu ON s.neighbor_id = cu.id
                 JOIN u qu ON s.query_id = qu.id)
    SELECT query_id, neighbor_id, cosine_sim, CAST(rn AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cosine_sim DESC, neighbor_id) AS rn FROM rescored)
    WHERE rn <= {k}
    """


@query("x62_pq_topk", oracle=_pq_oracle())
def x62_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al.) with the two-stage
    production shape: ADC lookup-table scan over the 32x-compressed
    codes (O(m) per corpus row, vectors never read) keeps a
    50-candidate shortlist per query, then ONLY the shortlist fetches
    full vectors for exact cosine rerank — recall@5 0.92 vs the exact
    p13_cosine_topk baseline at sf0.001 while the float math touches
    |Q| x 50 rows instead of |Q| x |corpus|.  Value-checked (r5):
    deterministic codebook training (hash60 seed, exact-BIGINT centroid
    sums) plus the already-rounded argmin/LUT/rank decisions make the
    ENTIRE train -> encode -> ADC -> rerank pipeline reproducible in
    the SQL oracle; recall and determinism stay asserted in
    tests/test_operators.py."""
    from ..operators.similarity import pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_topk(
        emb.filter(F.col("vec_id") < 10), emb, m=16, ksub=16, k=5, dim=64, rerank=50
    )


def _bf_bits_sql(val: str) -> str:
    """The 4 bloom bit positions of ``val`` — DuckDB twin of
    sketches._bloom_bit (md5 hash60, salts bf0|..bf3|, mod 65536)."""
    return (
        "["
        + ", ".join(
            f"('0x' || substr(md5('bf{i}|' || {val}), 1, 15))::BIGINT % 65536"
            for i in range(4)
        )
        + "]"
    )


@query(
    "x63_bloom_decontaminate",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ), g AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(t) - 4, 1) + 1),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4])
             )) AS grams
      FROM toks
    ), eg AS (
      SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 20 = 0
    ), ebits AS (
      SELECT DISTINCT unnest({_bf_bits_sql('gram')}) AS bit FROM eg
    ), tg AS (
      SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 20 <> 0
    ), tbits AS (
      SELECT doc_id, gram, unnest({_bf_bits_sql('gram')}) AS bit FROM tg
    ), flags AS (
      SELECT doc_id, gram,
             min(CASE WHEN ebits.bit IS NOT NULL THEN 1 ELSE 0 END) AS hit
      FROM tbits LEFT JOIN ebits USING (bit)
      GROUP BY doc_id, gram
    )
    SELECT doc_id, count(*) AS n_grams,
           CAST(sum(hit) AS BIGINT) AS n_flagged,
           round(sum(hit) / CAST(count(*) AS DOUBLE) + 1e-9, 4) AS bloom_ratio
    FROM flags GROUP BY doc_id
    """,
)
def x63_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination screen (x25's scale tier): the eval
    gram set folds into a fixed 8 KB bit array and every train gram
    tests membership as a pure column expression — map-only until the
    per-doc aggregate, no gram join.  No false negatives (superset of
    x25's exact hits — asserted in tests); false positives only inflate
    the score, and flagged docs re-verify exactly on the tiny flagged
    subset.  The oracle rebuilds the same md5-derived bit set in SQL,
    so the value check pins the whole bit arithmetic."""
    from ..operators.curation import bloom_decontaminate

    docs = load_table(spark, sf_dir, "documents")
    return bloom_decontaminate(
        docs.filter(F.col("doc_id") % 20 != 0),
        docs.filter(F.col("doc_id") % 20 == 0),
        k=5,
    )


@query(
    "x64_dsir_weights",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ), f AS (
      SELECT doc_id, unnest(list_concat(
               list_transform(range(1, greatest(len(t) - 0, 1) + 1), i -> concat_ws(' ', t[i])),
               list_transform(range(1, greatest(len(t) - 1, 1) + 1), i -> concat_ws(' ', t[i], t[i+1]))
             )) AS feat
      FROM toks
    ), b AS (
      SELECT doc_id,
             ('0x' || substr(md5('dsir|' || feat), 1, 15))::BIGINT % 64 AS bucket
      FROM f
    ), tc AS (
      SELECT bucket, count(*) AS tc FROM b WHERE doc_id % 20 = 0 GROUP BY bucket
    ), rc AS (
      SELECT bucket, count(*) AS rc FROM b WHERE doc_id % 20 <> 0 GROUP BY bucket
    ), lr AS (
      SELECT g.bucket,
             round(ln( ((coalesce(tc.tc, 0) + 1)
                        / CAST((SELECT sum(tc) FROM tc) + 64 AS DOUBLE))
                     / ((coalesce(rc.rc, 0) + 1)
                        / CAST((SELECT sum(rc) FROM rc) + 64 AS DOUBLE)) )
                   + 1e-9, 6) AS log_ratio
      FROM (SELECT unnest(range(0, 64)) AS bucket) g
      LEFT JOIN tc ON g.bucket = tc.bucket
      LEFT JOIN rc ON g.bucket = rc.bucket
    ), w AS (
      SELECT b.doc_id, count(*) AS n_feats,
             round(avg(lr.log_ratio) + 1e-9, 4) AS dsir_weight
      FROM b JOIN lr USING (bucket)
      WHERE b.doc_id % 20 <> 0
      GROUP BY b.doc_id
    )
    SELECT doc_id, n_feats, dsir_weight,
           dsir_weight >= (SELECT round(quantile_cont(dsir_weight, 0.8) + 1e-9, 4)
                           FROM w) AS selected
    FROM w
    """,
)
def x64_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance-resampling data selection: every-20th docs play
    the target domain; the rest are scored by mean hashed-ngram log
    importance ratio (64 buckets, unigram+bigram features) and the top
    20% tail is selected.  Bucket tables are 64 rows regardless of
    corpus size; the ratio table broadcasts; nothing global sorts."""
    from ..operators.curation import dsir_weights

    docs = load_table(spark, sf_dir, "documents")
    return dsir_weights(
        docs.filter(F.col("doc_id") % 20 != 0),
        docs.filter(F.col("doc_id") % 20 == 0),
        n_buckets=64,
        select_quantile=0.8,
    )


@query(
    "x65_incremental_neardup",
    oracle=_SHINGLES_CTE
    + f"""
    , exploded AS (
      SELECT doc_id, unnest(shingles) AS sh FROM shingled
    ), hashed AS (
      SELECT doc_id,
             ('0x' || substr(md5(sh), 1, 15))::BIGINT % {MINHASH_PRIME} AS h
      FROM exploded
    ), minh AS (
      SELECT doc_id, seeds.seed, min((seeds.a * h + seeds.b) % {MINHASH_PRIME}) AS mh
      FROM hashed CROSS JOIN (VALUES {_MINHASH_SEEDS_VALUES}) seeds(seed, a, b)
      GROUP BY doc_id, seeds.seed
    ), sigs AS (
      SELECT doc_id, list(mh ORDER BY seed) AS sig FROM minh GROUP BY doc_id
    ), bands AS (
      SELECT doc_id, sig, b.band_idx,
             ((((sig[b.band_idx*4+1] % 2147483648) * 31 + (sig[b.band_idx*4+2] % 2147483648))
               % 2147483648 * 31 + (sig[b.band_idx*4+3] % 2147483648))
               % 2147483648 * 31 + (sig[b.band_idx*4+4] % 2147483648)) % 2147483648 AS band_hash
      FROM sigs CROSS JOIN (SELECT unnest(range(0, 4)) AS band_idx) b
    ), newb AS (
      SELECT * FROM bands WHERE doc_id >= 250
    ), hb AS (
      SELECT * FROM bands WHERE doc_id < 250
    ), hist_cand AS (
      SELECT DISTINCT n.doc_id AS new_id, h.doc_id AS matched_id,
             n.sig AS sig_a, h.sig AS sig_b, true AS from_history
      FROM newb n JOIN hb h
        ON n.band_idx = h.band_idx AND n.band_hash = h.band_hash
    ), batch_cand AS (
      SELECT DISTINCT a.doc_id AS new_id, bb.doc_id AS matched_id,
             a.sig AS sig_a, bb.sig AS sig_b, false AS from_history
      FROM newb a JOIN newb bb
        ON a.band_idx = bb.band_idx AND a.band_hash = bb.band_hash
       AND a.doc_id < bb.doc_id
    ), cand AS (
      SELECT * FROM hist_cand UNION ALL SELECT * FROM batch_cand
    )
    SELECT new_id, matched_id,
           round(len(list_filter(list_transform(range(1, 17), i -> sig_a[i] = sig_b[i]),
                                 x -> x)) / 16.0, 4) AS est_jaccard,
           from_history
    FROM cand
    WHERE round(len(list_filter(list_transform(range(1, 17), i -> sig_a[i] = sig_b[i]),
                                x -> x)) / 16.0, 4) >= 0.5
    """,
)
def x65_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup ingest (x47's MinHash sibling): the
    doc_id >= 250 half of the corpus arrives as a new batch and is
    matched against the < 250 history through the history's persisted
    SIGNATURE table only — the history text contributes nothing to the
    batch plan (here the signature table is derived inline because the
    oracle run is stateless; Engine.build_neardup_history persists it).
    Two band joins with identical blocking keys: new x history and
    new x new, est Jaccard >= 0.5."""
    from ..operators.dedup import incremental_neardup, minhash_signatures

    docs = load_table(spark, sf_dir, "documents")
    history_sigs = minhash_signatures(docs.filter(F.col("doc_id") < 250))
    return incremental_neardup(
        docs.filter(F.col("doc_id") >= 250), history_sigs, min_est_jaccard=0.5
    )


@query(
    "x66_line_dedup",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ), l AS (
      SELECT doc_id, u.i AS line_no,
             array_to_string(t[u.i*8+1 : u.i*8+8], ' ') AS line
      FROM toks, unnest(range(0, CAST(ceil(len(t)/8.0) AS BIGINT))) u(i)
    ), h AS (
      SELECT doc_id, line_no, line,
             ('0x' || substr(md5(trim(lower(line))), 1, 15))::BIGINT AS hh
      FROM l
    ), freq AS (
      SELECT hh, count(DISTINCT doc_id) >= 2 AS dup FROM h GROUP BY hh
    ), fl AS (
      SELECT h.doc_id, h.line_no, h.line, freq.dup FROM h JOIN freq USING (hh)
    )
    SELECT doc_id, count(*) AS n_lines,
           CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_lines,
           round(sum(CASE WHEN dup THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE)
                 + 1e-9, 4) AS dup_line_ratio,
           md5(coalesce(string_agg(line, chr(10) ORDER BY line_no)
                          FILTER (WHERE NOT dup), '')) AS cleaned_fingerprint
    FROM fl GROUP BY doc_id
    """,
)
def x66_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/RefinedWeb line-level dedup: lines appearing in >= 2
    distinct documents are boilerplate and removed everywhere; per doc
    the duplicated-line ratio and the cleaned-text fingerprint.  The
    corpus has no newlines, so 8-token windows play the lines (same
    planting convention as x33's PII) — the operator itself consumes
    any (doc_id, line_no, line) frame (curation.split_lines for real
    newline corpora).  One line-hash aggregate + one hash-keyed join
    back + one per-doc aggregate; no self-join, no broadcast
    assumption on the boilerplate set."""
    from ..operators.curation import line_dedup
    from ..operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    lines_arr = F.transform(
        F.sequence(F.lit(0), F.ceil(F.size(t) / F.lit(8.0)).cast("int") - 1),
        lambda i: F.array_join(F.slice(t, i * 8 + 1, F.lit(8)), " "),
    )
    lines = docs.select(
        "doc_id", F.posexplode(lines_arr).alias("line_no", "line")
    )
    return line_dedup(lines, min_docs=2)


@query(
    "x67_bpe_pair_counts",
    oracle="""
    WITH words AS (
      SELECT word, count(*) AS freq
      FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
      GROUP BY word
    ), pairs AS (
      SELECT substr(word, u.i, 1) AS left_c, substr(word, u.i + 1, 1) AS right_c,
             freq
      FROM words, unnest(range(1, length(word))) u(i)
      WHERE length(word) >= 2
    )
    SELECT left_c AS "left", right_c AS "right",
           CAST(sum(freq) AS BIGINT) AS pair_count
    FROM pairs GROUP BY left_c, right_c
    ORDER BY pair_count DESC, "left", "right"
    LIMIT 20
    """,
)
def x67_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer-training statistics: the top-20 adjacent character
    pairs across the corpus, weighted by word frequency — one corpus
    scan for word counts, then all pair arithmetic over the (tiny)
    distinct vocabulary; TakeOrderedAndProject ranking."""
    from ..operators.text import bpe_pair_counts

    docs = load_table(spark, sf_dir, "documents")
    return bpe_pair_counts(docs, top=20)


@query(
    "x68_kmv_corpus_overlap",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ), g AS (
      SELECT doc_id % 2 AS half,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(t) - 2, 1) + 1),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2])
             ))) AS gram
      FROM toks
    ), h AS (
      SELECT DISTINCT half,
             ('0x' || substr(md5(gram), 1, 15))::BIGINT AS hv
      FROM g
    ), la AS (
      SELECT list_sort(list(hv)) AS a
      FROM (SELECT hv FROM h WHERE half = 0 ORDER BY hv LIMIT 64)
    ), lb AS (
      SELECT list_sort(list(hv)) AS b
      FROM (SELECT hv FROM h WHERE half = 1 ORDER BY hv LIMIT 64)
    ), m AS (
      SELECT a, b,
             (list_sort(list_distinct(list_concat(a, b))))[1:64] AS u
      FROM la, lb
    ), est AS (
      SELECT
        round(CASE WHEN len(a) < 64 THEN len(a)::DOUBLE
                   ELSE 63.0 * 1152921504606846976.0 / a[least(len(a), 64)] END
              + 1e-9, 2) AS est_distinct_a,
        round(CASE WHEN len(b) < 64 THEN len(b)::DOUBLE
                   ELSE 63.0 * 1152921504606846976.0 / b[least(len(b), 64)] END
              + 1e-9, 2) AS est_distinct_b,
        round(CASE WHEN len(u) < 64 THEN len(u)::DOUBLE
                   ELSE 63.0 * 1152921504606846976.0 / u[least(len(u), 64)] END
              + 1e-9, 2) AS est_union,
        round(len(list_filter(u, x -> list_contains(a, x) AND list_contains(b, x)))
              / CAST(len(u) AS DOUBLE) + 1e-9, 4) AS kmv_jaccard
      FROM m
    )
    SELECT est_distinct_a, est_distinct_b, est_union, kmv_jaccard,
           round(kmv_jaccard * est_union + 1e-9, 2) AS est_intersection
    FROM est
    """,
)
def x68_kmv_corpus_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-overlap audit via KMV sketches: the two corpus halves
    (doc_id parity) reduce to 64 minimum shingle hashes each; distinct
    counts, union, Jaccard, and intersection are estimated from 128
    hashes instead of the corpora.  The oracle rebuilds the identical
    md5 sketch in SQL, pinning the whole estimator arithmetic;
    estimate-vs-exact accuracy is asserted in tests."""
    from ..operators.dedup import shingle_arr
    from ..operators.sketches import kmv_overlap, kmv_sketch

    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(
        (F.col("doc_id") % 2).alias("half"),
        F.explode(F.array_distinct(shingle_arr(F.col("text"), 3))).alias("gram"),
    )
    a = kmv_sketch(grams.filter(F.col("half") == 0), F.col("gram"))
    b = kmv_sketch(grams.filter(F.col("half") == 1), F.col("gram"))
    return kmv_overlap(a, b)


def _ivfpq_oracle(
    nlist: int = 8,
    nprobe: int = 4,
    m: int = 16,
    ksub: int = 16,
    dsub: int = 4,
    rerank: int = 50,
    k: int = 5,
    id_filter: str = "id < 10",
) -> str:
    """SQL twin of ivfpq_topk: coarse IVF (hash60 seed
    + exact-centroid Lloyd step + rounded argmax), residual PQ
    codebooks per subspace, argmin codes, probe-side cell_dot + LUT,
    scaled-BIGINT ADC sum, exact-cosine shortlist rerank."""

    def l2(a: str, b: str) -> str:
        return (
            f"round(list_sum(list_transform(range(1, {dsub + 1}), "
            f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))) + 1e-9, 6)"
        )

    sums = ", ".join(
        f"sum(CAST(trunc(sv[{d + 1}] * 1000) AS BIGINT)) AS s{d}" for d in range(dsub)
    )
    cent = "[" + ", ".join(f"CAST(s{d} AS DOUBLE) / n / 1000.0" for d in range(dsub)) + "]"

    def codebook(src: str) -> str:
        return (
            f"SELECT sub, cell, {cent} AS centroid, "
            f"CAST(row_number() OVER (PARTITION BY sub ORDER BY cell) - 1 AS INT) AS pos "
            f"FROM (SELECT sub, cell, {sums}, count(*) AS n FROM {src} GROUP BY sub, cell)"
        )

    def argmin(src: str, cb: str, out: str) -> str:
        return (
            f"SELECT id, cell_c, sub, sv, pos AS {out} FROM ("
            f"SELECT s.id, s.cell_c, s.sub, s.sv, c.pos, "
            f"row_number() OVER (PARTITION BY s.id, s.sub "
            f"ORDER BY {l2('s.sv', 'c.centroid')}, c.pos) AS rn "
            f"FROM {src} s JOIN {cb} c ON s.sub = c.sub) WHERE rn = 1"
        )

    return f"""
    WITH raw AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
    u AS (SELECT id, CASE WHEN n > 0 THEN list_transform(v, x -> x / n) ELSE v END AS v
          FROM (SELECT id, v, sqrt(list_dot_product(v, v)) AS n FROM raw)),
    a0 AS (SELECT id, v,
                  ('0x' || substr(md5('ivf|' || CAST(id AS VARCHAR)), 1, 15))::BIGINT
                  % {nlist} AS cell
           FROM u),
    c0 AS ({_int_centroids_sql('a0')}
    ),
    a1 AS (SELECT id, v, cell FROM (
             SELECT s.id, s.v, c.cell,
                    row_number() OVER (PARTITION BY s.id
                      ORDER BY {_cos4('s.v', 'c.centroid')} DESC, c.cell) AS rn
             FROM u s CROSS JOIN c0 c) WHERE rn = 1),
    c1 AS ({_int_centroids_sql('a1')}
    ),
    resid AS (SELECT a1.id, a1.cell AS cell_c,
                     list_transform(range(1, len(a1.v) + 1),
                                    i -> a1.v[i] - c.centroid[i]) AS v
              FROM a1 JOIN c1 c ON a1.cell = c.cell),
    rsubs AS (SELECT id, cell_c, s.sub AS sub,
                     v[s.sub * {dsub} + 1 : s.sub * {dsub} + {dsub}] AS sv
              FROM resid, (SELECT unnest(range(0, {m})) AS sub) s),
    rseeded AS (SELECT id, cell_c, sub, sv,
                       (('0x' || substr(md5('pq|' || CAST(id AS VARCHAR)), 1, 15))::BIGINT
                        + sub) % {ksub} AS cell
                FROM rsubs),
    rcb0 AS ({codebook('rseeded')}),
    ra1 AS (SELECT id, cell_c, sub, sv, cell_pq AS cell
            FROM ({argmin('rseeded', 'rcb0', 'cell_pq')})),
    rcb1 AS ({codebook('ra1')}),
    codes AS ({argmin('rsubs', 'rcb1', 'code')}),
    probe AS (SELECT id AS query_id, v AS q_vec, cell AS probe_cell, cell_dot FROM (
                SELECT s.id, s.v, c.cell,
                       round(list_dot_product(s.v, c.centroid) + 1e-9, 6) AS cell_dot,
                       row_number() OVER (PARTITION BY s.id
                         ORDER BY {_cos4('s.v', 'c.centroid')} DESC, c.cell) AS rn
                FROM (SELECT id, v FROM u WHERE {id_filter}) s CROSS JOIN c1 c)
              WHERE rn <= {nprobe}),
    qsubs AS (SELECT id AS query_id, s.sub AS sub,
                     v[s.sub * {dsub} + 1 : s.sub * {dsub} + {dsub}] AS sv
              FROM (SELECT id, v FROM u WHERE {id_filter}),
                   (SELECT unnest(range(0, {m})) AS sub) s),
    luts AS (SELECT q.query_id, c.sub, c.pos,
                    round(list_dot_product(q.sv, c.centroid) + 1e-9, 6) AS t
             FROM qsubs q JOIN rcb1 c ON q.sub = c.sub),
    adc AS (SELECT p.query_id, co.id AS neighbor_id, p.probe_cell,
                   sum(CAST(round(l.t * 1000000) AS BIGINT)) AS st
            FROM codes co
            JOIN probe p ON co.cell_c = p.probe_cell
            JOIN luts l ON l.query_id = p.query_id
                       AND l.sub = co.sub AND l.pos = co.code
            GROUP BY p.query_id, co.id, p.probe_cell),
    scored AS (SELECT a.query_id, a.neighbor_id,
                      round((CAST(round(p.cell_dot * 1000000) AS BIGINT) + a.st)
                            / 1000000.0 + 1e-9, 4) AS adc_score
               FROM adc a
               JOIN probe p ON p.query_id = a.query_id
                           AND p.probe_cell = a.probe_cell),
    short AS (SELECT query_id, neighbor_id FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                          ORDER BY adc_score DESC, neighbor_id) AS rn FROM scored)
              WHERE rn <= {max(rerank, k)}),
    rescored AS (SELECT s.query_id, s.neighbor_id,
                        round(list_dot_product(qu.v, cu.v) + 1e-9, 4) AS cosine_sim
                 FROM short s
                 JOIN u cu ON s.neighbor_id = cu.id
                 JOIN u qu ON s.query_id = qu.id)
    SELECT query_id, neighbor_id, cosine_sim, CAST(rn AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cosine_sim DESC, neighbor_id) AS rn FROM rescored)
    WHERE rn <= {k}
    """


@query("x69_ivfpq_topk", oracle=_ivfpq_oracle())
def x69_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-k: the composed FAISS-style index — IVF coarse cells
    prune the corpus to nprobe/nlist, residual-PQ ADC scores the
    probed postings (m lookups per row, vectors never read), exact
    rerank on the 50-candidate shortlist.  Value-checked (r5): the
    composed x15 + x62 determinism kits (hash60 seeds, exact-BIGINT
    centroids in BOTH tiers, rounded argmax/argmin/rank) make the
    entire stack — coarse quantize, residual encode, probe, ADC,
    rerank — reproducible in the SQL oracle.  Recall and nprobe
    monotonicity stay asserted in tests/test_operators.py."""
    from ..operators.similarity import ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivfpq_topk(
        emb.filter(F.col("vec_id") < 10), emb,
        nlist=8, nprobe=4, m=16, ksub=16, k=5, dim=64, rerank=50,
    )


@query(
    "x70_vocab_coverage",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents
    ), vocab AS (
      SELECT word FROM (
        SELECT word, count(*) AS freq FROM toks GROUP BY word
        ORDER BY freq DESC, word LIMIT 1000
      )
    )
    SELECT t.doc_id, count(*) AS n_tokens,
           CAST(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           round(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE) + 1e-9, 4) AS oov_rate
    FROM toks t LEFT JOIN vocab v USING (word)
    GROUP BY t.doc_id
    """,
)
def x70_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-coverage report: top-1000 corpus vocabulary by
    frequency (deterministic ties), per-doc OOV token fraction — the
    vocabulary-sizing signal next to x67's BPE merge statistics.  One
    frequency aggregate + broadcast vocabulary join; the scoring scan
    never shuffles."""
    from ..operators.text import vocab_coverage

    docs = load_table(spark, sf_dir, "documents")
    return vocab_coverage(docs, vocab_size=1000)


@query(
    "x71_duplicate_span_trim",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ), base AS (
      SELECT doc_id, t, len(t) AS n FROM toks
    ), g AS (
      SELECT doc_id, u.i AS pos,
             ('0x' || substr(md5(concat_ws(' ', t[u.i], t[u.i+1], t[u.i+2], t[u.i+3],
                                           t[u.i+4], t[u.i+5], t[u.i+6], t[u.i+7])),
                             1, 15))::BIGINT AS h
      FROM toks, unnest(range(1, greatest(len(t) - 7, 1) + 1)) u(i)
    ), shared AS (
      SELECT h FROM g GROUP BY h HAVING count(DISTINCT doc_id) >= 2
    ), covs AS (
      SELECT DISTINCT g.doc_id, u2.j
      FROM g JOIN shared USING (h), unnest(range(g.pos, g.pos + 8)) u2(j)
    ), tok_rows AS (
      SELECT doc_id, u.i AS i, t[u.i] AS tok FROM base, unnest(range(1, n + 1)) u(i)
    ), flag AS (
      SELECT tr.doc_id, tr.i, tr.tok, (c.j IS NOT NULL) AS dup
      FROM tok_rows tr LEFT JOIN covs c ON tr.doc_id = c.doc_id AND c.j = tr.i
    )
    SELECT doc_id, count(*) AS n_tokens,
           CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_tokens,
           round(sum(CASE WHEN dup THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE)
                 + 1e-9, 4) AS dup_token_ratio,
           md5(coalesce(string_agg(tok, ' ' ORDER BY i) FILTER (WHERE NOT dup), ''))
             AS cleaned_fingerprint
    FROM flag GROUP BY doc_id
    """,
)
def x71_duplicate_span_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-substring removal (the k-gram form of Lee et al.'s
    exact-substring dedup): every 8-token window shared by >= 2 docs
    marks its positions duplicated everywhere it occurs; duplicated
    tokens are cut and the cleaned text fingerprinted.  Finer grain
    than line dedup (x66), exact coverage unlike winnowing (x40)."""
    from ..operators.dedup import duplicate_span_trim

    docs = load_table(spark, sf_dir, "documents")
    return duplicate_span_trim(docs, k=8, min_docs=2)


@query(
    "x72_session_sequences",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type, value,
             CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts, event_id, event_type, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id,
           count(*) AS n_events,
           string_agg(event_type, ' ' ORDER BY ts, event_id) AS sequence,
           CAST(epoch_ms(max(ts)) - epoch_ms(min(ts)) AS BIGINT) AS duration_ms,
           round(sum(value) + 1e-9, 2) AS total_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def x72_session_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-sequence dataset construction: one training example
    per 30-minute-gap session — the ordered event-type sequence plus
    length/duration/value features (p07's sessionization composed into
    a sequence-model data builder).  One window pass + one grouped
    aggregate; sequences assemble with bounded in-group sorts."""
    from ..operators.timeseries import session_sequences

    events = load_table(spark, sf_dir, "events")
    return session_sequences(events)


@query(
    "x73_pmi_collocations",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ), uni AS (
      SELECT w, count(*) AS c
      FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
    ), bg AS (
      SELECT t[u.i] AS l, t[u.i+1] AS r
      FROM toks, unnest(range(1, greatest(len(t) - 1, 0) + 1)) u(i)
    ), bi AS (
      SELECT l, r, count(*) AS cab FROM bg GROUP BY l, r HAVING count(*) >= 5
    )
    SELECT bi.l AS "left", bi.r AS "right",
           CAST(bi.cab AS BIGINT) AS pair_count,
           round(ln( (bi.cab / CAST((SELECT count(*) FROM bg) AS DOUBLE))
                   / ((la.c / CAST((SELECT sum(c) FROM uni) AS DOUBLE))
                      * (rb.c / CAST((SELECT sum(c) FROM uni) AS DOUBLE))) )
                 + 1e-9, 4) AS pmi
    FROM bi JOIN uni la ON bi.l = la.w JOIN uni rb ON bi.r = rb.w
    ORDER BY pmi DESC, "left", "right"
    LIMIT 20
    """,
)
def x73_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-20 adjacent word pairs by pointwise
    mutual information (min pair count 5) — phrase discovery for
    tokenizer protection and phrase-query candidates.  Vocabulary-
    sized count tables, scalar totals broadcast,
    TakeOrderedAndProject ranking."""
    from ..operators.text import pmi_collocations

    docs = load_table(spark, sf_dir, "documents")
    return pmi_collocations(docs, min_count=5, top=20)


@query(
    "x74_bigram_perplexity",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ), bg AS (
      SELECT doc_id, t[u.i] || ' ' || t[u.i+1] AS bg
      FROM toks, unnest(range(1, greatest(len(t) - 1, 0) + 1)) u(i)
    ), narrow AS (
      SELECT doc_id,
             ('0x' || substr(md5('blm|' || bg), 1, 15))::BIGINT AS bg_h,
             ('0x' || substr(md5('blm|' || string_split(bg, ' ')[1]), 1, 15))::BIGINT AS w1_h
      FROM bg
    ), bgc AS (
      SELECT bg_h, count(*) AS c2, min(w1_h) AS w1_h FROM narrow GROUP BY bg_h
    ), ctx AS (
      SELECT w1_h, sum(c2) AS c1 FROM bgc GROUP BY w1_h
    ), vocab AS (
      SELECT count(*) AS v FROM ctx
    ), probs AS (
      SELECT bg_h, (c2 + 0.5) / (c1 + 0.5 * (SELECT v FROM vocab)) AS p
      FROM bgc JOIN ctx USING (w1_h)
    )
    SELECT n.doc_id, count(*) AS n_bigrams,
           round(avg(-ln(p.p)) + 1e-9, 6) AS cross_entropy
    FROM narrow n JOIN probs p USING (bg_h)
    GROUP BY n.doc_id
    """,
)
def x74_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/KenLM-style perplexity filtering with a real conditional
    model: corpus-estimated add-k bigram LM, each doc scored by mean
    negative log p(w2|w1) (cross-entropy) — catches shuffled-word salad
    the unigram score (x32) cannot.  Bigram extraction is a pure
    projection; model tables are vocabulary-sized; V broadcasts; the
    scoring join keys on the well-spread bigram string."""
    from ..operators.curation import bigram_cross_entropy

    docs = load_table(spark, sf_dir, "documents")
    return bigram_cross_entropy(docs, k_smooth=0.5)


@query(
    "x75_containment_pairs",
    oracle=_SHINGLES_CTE
    + """
    , hashed AS (
      SELECT doc_id,
             list_distinct(list_transform(shingles,
               s -> ('0x' || substr(md5('cnt|' || s), 1, 15))::BIGINT)) AS shingles
      FROM shingled
    ), sh AS (
      SELECT doc_id, unnest(shingles) AS sh FROM hashed
    ), rare AS (
      SELECT sh FROM sh GROUP BY sh HAVING count(*) BETWEEN 2 AND 16
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sh a JOIN rare USING (sh) JOIN sh b USING (sh)
      WHERE a.doc_id < b.doc_id
    ), scored AS (
      SELECT c.doc_a, c.doc_b,
             len(list_intersect(A.shingles, B.shingles))::DOUBLE AS i,
             len(A.shingles)::DOUBLE AS na, len(B.shingles)::DOUBLE AS nb
      FROM cand c
      JOIN hashed A ON A.doc_id = c.doc_a
      JOIN hashed B ON B.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b,
           round(i / na + 1e-9, 4) AS containment_a,
           round(i / nb + 1e-9, 4) AS containment_b,
           round(i / (na + nb - i) + 1e-9, 4) AS jaccard
    FROM scored
    WHERE greatest(i / na, i / nb) >= 0.8
    """,
)
def x75_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup (|A∩B|/|A| over shingle sets): the
    quote/boilerplate-inclusion detector every symmetric metric misses
    — a small doc embedded in a big one has high containment but low
    Jaccard.  Candidates via prefix-filter (PPJoin-style) rare-shingle
    blocking: docs pair only through a shingle with corpus df in
    [2,16], so pair expansion is df-bounded and linear in corpus size."""
    from ..operators.dedup import containment_pairs

    docs = load_table(spark, sf_dir, "documents")
    return containment_pairs(docs, shingle_k=3, max_df=16, min_containment=0.8)


def _dd_oracle_sql() -> str:
    """x76's oracle replicates the DDSketch arithmetic exactly: the
    bucket index ceil(ln|x| / ln(gamma)) and the log-midpoint
    estimate are deterministic double arithmetic given the SAME
    ln(gamma)/gamma literals Spark bakes in (embedded via repr), the
    cumulative-rank walk is integer, and the estimate is rounded at 4
    decimals — the same pinning discipline as the Bloom (x63) and KMV
    (x68) estimator oracles."""
    import math

    from ..operators.sketches import DD_ALPHA, _dd_gamma

    g = _dd_gamma(DD_ALPHA)
    lng = math.log(g)
    return f"""
    WITH v AS (
      SELECT o_orderpriority, CAST(o_totalprice AS DOUBLE) AS x
      FROM orders WHERE o_totalprice IS NOT NULL
    ), b AS (
      SELECT o_orderpriority,
             CASE WHEN x > 0 THEN 1 WHEN x < 0 THEN -1 ELSE 0 END AS sgn,
             CASE WHEN x <> 0
                  THEN CAST(ceil(ln(abs(x)) / {lng!r}) AS BIGINT) END AS bucket
      FROM v
    ), sk AS (
      SELECT o_orderpriority, sgn, bucket, count(*) AS cnt FROM b GROUP BY 1, 2, 3
    ), o AS (
      SELECT *, CASE WHEN sgn = 0 THEN 0 ELSE sgn * bucket END AS ord FROM sk
    ), c AS (
      SELECT *,
             sum(cnt) OVER (PARTITION BY o_orderpriority
                            ORDER BY sgn, ord) AS cum,
             sum(cnt) OVER (PARTITION BY o_orderpriority) AS total
      FROM o
    ), cand AS (
      SELECT o_orderpriority, sgn, bucket, ord, cum, total, CAST(q AS DOUBLE) AS q
      FROM c CROSS JOIN (SELECT unnest([0.5, 0.95, 0.99]) AS q)
      WHERE cum >= ceil(q * total)
    ), pick AS (
      SELECT *, row_number() OVER (PARTITION BY o_orderpriority, q
                                   ORDER BY sgn, ord) AS rn
      FROM cand
    )
    SELECT o_orderpriority, q, CAST(total AS BIGINT) AS n,
           round(CASE WHEN sgn = 0 THEN 0.0
                      ELSE sgn * 2.0 * pow({g!r}, bucket) / {g + 1.0!r} END
                 + 1e-9, 4) AS estimate
    FROM pick WHERE rn = 1
    """


@query("x76_dd_quantiles", oracle=_dd_oracle_sql())
def x76_dd_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDSketch quantiles (relative-error-guaranteed, mergeable): per
    order-priority p50/p95/p99 of o_totalprice from log-bucket counts —
    scan once, persist the tiny (key, sgn, bucket, cnt) state, answer
    any quantile without rescanning.  Value-checked: bucket index,
    rank walk, and midpoint estimate are pinned against the SQL oracle
    (shared ln(gamma)/gamma literals, integer rank arithmetic,
    4-decimal rounding); the alpha relative-error bound and exact
    mergeability are additionally asserted in tests/test_operators.py
    (test_ddsketch_relative_error_and_merge)."""
    from ..operators.sketches import dd_build, dd_quantiles

    orders = load_table(spark, sf_dir, "orders")
    pre = dd_build(orders, "o_totalprice", keys=["o_orderpriority"])
    return (
        dd_quantiles(pre, [0.5, 0.95, 0.99], keys=["o_orderpriority"])
        .select(
            "o_orderpriority",
            "q",
            "n",
            F.round(F.col("estimate") + F.lit(1e-9), 4).alias("estimate"),
        )
        .orderBy("o_orderpriority", "q")
    )


def _bpe_train_oracle(n_merges: int = 10) -> str:
    """The WHOLE BPE training loop as one recursive CTE: the working
    table carries the evolving symbol vocabulary; each recursive step
    computes the global argmax pair (count desc, left, right — the
    same tie order as the Spark loop) in a derived-table aggregate
    over the working table, then applies it as the space-join
    leftmost-non-overlapping replace (proven fold-equivalent by the
    x88 oracle + the train->encode roundtrip test).  The chosen merge
    is stamped on every surviving row, so the ranked merge list falls
    out as SELECT DISTINCT over iterations."""
    return f"""
    WITH RECURSIVE voc(iter, syms, freq, ml, mr, mc) AS (
      SELECT 0, string_split(word, ''), freq,
             CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT)
      FROM (SELECT word, count(*) AS freq
            FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
            GROUP BY word)
      WHERE length(word) >= 2
      UNION ALL
      SELECT v.iter + 1,
             string_split(trim(replace(
                    replace('  ' || array_to_string(v.syms, '  ') || '  ',
                            ' ' || b.l || '  ' || b.r || ' ',
                            ' ' || b.l || b.r || ' '),
                    '  ', ' ')), ' '),
             v.freq, b.l, b.r, b.c
      FROM voc v, (
        SELECT l, r, c FROM (
          SELECT t.syms[u.i] AS l, t.syms[u.i + 1] AS r, sum(t.freq) AS c
          FROM voc t, unnest(range(1, len(t.syms))) AS u(i)
          GROUP BY 1, 2
          ORDER BY c DESC, l, r
          LIMIT 1)
      ) b
      WHERE v.iter < {n_merges} AND b.c > 0
    )
    SELECT DISTINCT CAST(iter AS INT) AS merge_rank, ml AS "left", mr AS "right",
           CAST(mc AS BIGINT) AS pair_count
    FROM voc WHERE iter >= 1
    """


@query("x77_bpe_train", oracle=_bpe_train_oracle())
def x77_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BPE tokenizer training: 10 iterative most-frequent-pair
    merges over the corpus's word-frequency vocabulary — completes the
    tokenizer story (x67 is one round of pair stats; this is the
    loop).  Value-checked (r5): the driver loop is integer arithmetic
    end to end (pair counts, deterministic tie order, exact string
    merges), so it unrolls into a DuckDB RECURSIVE CTE whose working
    table replays the vocabulary evolution — the hash match pins all
    ten argmax decisions AND the merge applications.  Exact
    equivalence to a sequential reference BPE (ties,
    leftmost-non-overlap) stays property-tested in
    tests/test_properties.py."""
    from ..operators.text import bpe_train

    docs = load_table(spark, sf_dir, "documents")
    return bpe_train(docs, n_merges=10)


@query(
    "x78_contrastive_triplets",
    oracle=f"""
    WITH v AS (
      SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
    ), b AS (
      SELECT id, v, {_srp_bucket_sql(NEARDUP_PLANES)} AS bucket FROM v
    ), pairs AS (
      SELECT a.id AS vec_a, bb.id AS vec_b,
             round(list_dot_product(a.v, bb.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(bb.v, bb.v)))
                   + 1e-9, 4) AS cosine_sim
      FROM b a JOIN b bb ON a.bucket = bb.bucket AND a.id < bb.id
    ), sym AS (
      SELECT vec_a AS anchor_id, vec_b AS other_id, cosine_sim FROM pairs
      UNION ALL
      SELECT vec_b AS anchor_id, vec_a AS other_id, cosine_sim FROM pairs
    ), pos AS (
      SELECT anchor_id, other_id AS positive_id, cosine_sim AS pos_sim
      FROM sym WHERE cosine_sim >= 0.4
    ), neg AS (
      SELECT anchor_id, other_id AS negative_id, cosine_sim AS neg_sim
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY anchor_id ORDER BY cosine_sim DESC, other_id ASC
        ) AS rn
        FROM sym WHERE cosine_sim < 0.2
      ) WHERE rn = 1
    )
    SELECT p.anchor_id, p.positive_id, p.pos_sim, n.negative_id, n.neg_sim
    FROM pos p JOIN neg n USING (anchor_id)
    """,
)
def x78_contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training triplet mining: positives are SRP-bucket
    near-dups (cosine >= 0.4); each anchor's hard negative is the
    highest-cosine bucket-mate still below 0.2 — near in hash space,
    far in meaning.  One embedding scan through the bucket-expansion
    machinery; everything integer-bucketed/rounded so both engines
    agree exactly."""
    from ..operators.similarity import contrastive_triplets

    emb = load_table(spark, sf_dir, "embeddings")
    return contrastive_triplets(
        emb, NEARDUP_PLANES, pos_threshold=0.4, neg_threshold=0.2
    )


@query(
    "x79_cohort_retention",
    oracle="""
    WITH act AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ), first AS (
      SELECT user_id, min(d) AS cohort_day FROM act GROUP BY user_id
    ), sizes AS (
      SELECT cohort_day, count(*) AS cohort_size FROM first GROUP BY cohort_day
    ), ret AS (
      SELECT f.cohort_day, a.d - f.cohort_day AS day_offset,
             count(DISTINCT a.user_id) AS n_active
      FROM act a JOIN first f USING (user_id)
      GROUP BY 1, 2
    )
    SELECT r.cohort_day, CAST(r.day_offset AS BIGINT) AS day_offset,
           r.n_active, s.cohort_size,
           round(r.n_active / CAST(s.cohort_size AS DOUBLE) + 1e-9, 4) AS retention
    FROM ret r JOIN sizes s USING (cohort_day)
    """,
)
def x79_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen day, retention =
    distinct active users at each day offset / cohort size — the
    standard product-analytics rollup the reference's dashboards would
    need.  Two user-keyed aggregates + one vocabulary-sized join; the
    events table is scanned once into the distinct (user, day) frame
    every branch derives from."""
    events = load_table(spark, sf_dir, "events")
    # (user, day) distinct is users x active-days — tiny next to the
    # event log; persist it so the cohort and activity branches share
    # one events scan
    from ..cache import tracked_persist

    act = tracked_persist(
        events.select("user_id", F.to_date("ts").alias("d")).distinct()
    )
    first = act.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    sizes = first.groupBy("cohort_day").agg(F.count("*").alias("cohort_size"))
    ret = (
        act.join(first, "user_id")
        .groupBy("cohort_day", F.datediff("d", "cohort_day").alias("day_offset"))
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    return ret.join(sizes, "cohort_day").select(
        "cohort_day",
        F.col("day_offset").cast("long").alias("day_offset"),
        "n_active",
        "cohort_size",
        F.round(
            F.col("n_active") / F.col("cohort_size") + F.lit(1e-9), 4
        ).alias("retention"),
    )


def _x80_oracle(n_iter: int = 12, tol: str = "1e-8", d: int = 64) -> str:
    """SQL twin of all_but_the_top(portable=True), exact to the last
    float bit: the one-scan moment pass quantizes every term to a
    BIGINT (order-independent exact sums), and because every later
    step — covariance assembly, the power iteration with early-exit,
    the correction pass — is deterministic scalar IEEE math, a
    RECURSIVE CTE replays the driver loop round for round
    (list_reduce folds in the same left-assoc order as Python's sum;
    math.sqrt == sqrt; the sign-aligned delta test is copied
    verbatim).  Verified bit-identical: the processed vectors need no
    rounding at all to hash-match."""
    red = lambda expr: f"list_reduce({expr}, (a, b) -> a + b)"  # noqa: E731
    pos = f"(66 + (i - 1) * {d} - ((i - 1) * (i - 2)) // 2 + (j - i))"
    pos_t = f"(66 + (j - 1) * {d} - ((j - 1) * (j - 2)) // 2 + (i - j))"
    cov_elem = (
        f"CASE WHEN i <= j THEN m[{pos}] / m[1] - (m[1 + i] / m[1]) * (m[1 + j] / m[1]) "
        f"ELSE m[{pos_t}] / m[1] - (m[1 + i] / m[1]) * (m[1 + j] / m[1]) END"
    )
    return f"""
    WITH RECURSIVE v AS (
      SELECT vec_id AS id, embedding::DOUBLE[] AS x FROM embeddings
    ), mom AS (
      -- pos 0: count; 1..{d}: sums; {d + 1}..: row-major upper-tri x_i*x_j
      SELECT u.i - 1 AS pos,
             sum(CAST(trunc(arr[u.i] * 1000000) AS BIGINT)) AS s
      FROM (SELECT list_concat(list_concat([CAST(1.0 AS DOUBLE)], x),
                   flatten(list_transform(range(1, {d + 1}), i ->
                      list_transform(range(i, {d + 1}), j -> x[i] * x[j])))) AS arr
            FROM v),
           unnest(range(1, len(arr) + 1)) AS u(i)
      GROUP BY u.i - 1
    ), mm AS (
      SELECT list(CAST(s AS DOUBLE) / 1000000.0 ORDER BY pos) AS m FROM mom
    ), consts AS (
      SELECT m[1] AS n,
             list_transform(range(1, {d + 1}), i -> m[1 + i] / m[1]) AS mu,
             list_transform(range(1, {d + 1}), i ->
               list_transform(range(1, {d + 1}), j -> {cov_elem})) AS cov
      FROM mm
    ), it(rnd, vec, delta) AS (
      SELECT 0, list_transform(range(1, {d + 1}), i -> 1.0 / sqrt({d}.0)),
             CAST(1e300 AS DOUBLE)
      UNION ALL
      SELECT rnd + 1, newvec,
             list_max(list_transform(range(1, {d + 1}),
                                     i -> abs(newvec[i] - sgn * vec[i])))
      FROM (
        SELECT rnd, vec, newvec,
               CASE WHEN {red(f"list_transform(range(1, {d + 1}), i -> newvec[i] * vec[i])")} < 0
                    THEN -1.0 ELSE 1.0 END AS sgn
        FROM (
          SELECT rnd, vec,
                 list_transform(range(1, {d + 1}), i -> z[i] / norm) AS newvec
          FROM (
            SELECT rnd, vec, z,
                   sqrt({red(f"list_transform(range(1, {d + 1}), i -> z[i] * z[i])")}) AS norm
            FROM (
              SELECT t.rnd AS rnd, t.vec AS vec,
                     list_transform(range(1, {d + 1}), i ->
                       c.n * {red(f"list_transform(range(1, {d + 1}), j -> c.cov[i][j] * t.vec[j])")}) AS z
              FROM it t, consts c
              WHERE t.rnd < {n_iter} AND t.delta >= {tol}
            )
          ) WHERE norm > 0
        )
      )
    ), final AS (
      SELECT vec AS pc FROM it ORDER BY rnd DESC LIMIT 1
    ), res AS (
      SELECT id, c,
             {red(f"list_transform(range(1, {d + 1}), i -> c[i] * pc[i])")} AS p,
             pc
      FROM (SELECT v.id, list_transform(range(1, {d + 1}), i -> v.x[i] - c2.mu[i]) AS c,
                   f.pc AS pc
            FROM v, final f, consts c2)
    )
    SELECT id AS vec_id,
           list_transform(range(1, {d + 1}), i -> c[i] - p * pc[i]) AS processed,
           round(abs(p) + 1e-9, 6) AS removed_magnitude
    FROM res
    """


@query("x80_all_but_the_top", oracle=_x80_oracle())
def x80_all_but_the_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-but-the-top embedding postprocess (Mu & Viswanath 2018):
    mean-center + remove the dominant principal component found by
    the one-scan moment pass + driver power iteration — the standard
    anisotropy fix before cosine retrieval.  Value-checked (r5):
    portable mode quantizes the moment sums to exact BIGINTs, after
    which the entire computation — covariance, the early-exiting
    power iteration, the correction projection — is deterministic
    scalar IEEE math that the oracle's RECURSIVE CTE replays
    bit-for-bit (the processed doubles hash-match UNROUNDED).  numpy
    eigenvector parity on planted-anisotropy data and the exact
    zero-projection / zero-mean invariants stay asserted in
    tests/test_operators.py."""
    from ..operators.embed import all_but_the_top

    emb = load_table(spark, sf_dir, "embeddings")
    return all_but_the_top(emb, n_iter=12, portable=True)


@query(
    "x81_session_affinity",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), st AS (
      SELECT DISTINCT user_id, event_type,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    ), n AS (
      SELECT count(*) AS n FROM (SELECT DISTINCT user_id, session_id FROM st)
    ), singles AS (
      SELECT event_type, count(*) AS n_t FROM st GROUP BY 1
    ), pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_ab
      FROM st a JOIN st b
        ON a.user_id = b.user_id AND a.session_id = b.session_id
       AND a.event_type < b.event_type
      GROUP BY 1, 2
      HAVING count(*) >= 3
    )
    SELECT p.type_a, p.type_b, p.n_ab,
           round(p.n_ab / CAST(n.n AS DOUBLE) + 1e-9, 4) AS support,
           round(p.n_ab * n.n / CAST(sa.n_t * sb.n_t AS DOUBLE) + 1e-9, 4) AS lift
    FROM pairs p
    CROSS JOIN n
    JOIN singles sa ON p.type_a = sa.event_type
    JOIN singles sb ON p.type_b = sb.event_type
    """,
)
def x81_session_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-session event-type affinity: sessions containing both
    types, support, and lift (market-basket association over the
    sessionized stream) — the recommendation rollup next to x72's
    sequence construction.  Pair expansion runs over per-session TYPE
    SETS (vocabulary-bounded), never a self-join of the event log."""
    from ..operators.timeseries import session_affinity

    events = load_table(spark, sf_dir, "events")
    return session_affinity(events, min_sessions=3)


@query(
    "x82_correlation_matrix",
    oracle="""
    WITH w AS (
      SELECT corr(l_quantity, l_extendedprice) AS c01,
             corr(l_quantity, l_discount) AS c02,
             corr(l_quantity, l_tax) AS c03,
             corr(l_extendedprice, l_discount) AS c12,
             corr(l_extendedprice, l_tax) AS c13,
             corr(l_discount, l_tax) AS c23
      FROM lineitem
    )
    SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b, round(c01 + 1e-9, 4) AS corr FROM w
    UNION ALL SELECT 'l_quantity', 'l_discount', round(c02 + 1e-9, 4) FROM w
    UNION ALL SELECT 'l_quantity', 'l_tax', round(c03 + 1e-9, 4) FROM w
    UNION ALL SELECT 'l_extendedprice', 'l_discount', round(c12 + 1e-9, 4) FROM w
    UNION ALL SELECT 'l_extendedprice', 'l_tax', round(c13 + 1e-9, 4) FROM w
    UNION ALL SELECT 'l_discount', 'l_tax', round(c23 + 1e-9, 4) FROM w
    """,
)
def x82_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-profiling correlation screen: all pairwise Pearson
    correlations of the lineitem measures computed as co-moment
    aggregates in ONE scan (a single combinable aggregation, never k²
    scans), unpivoted to (col_a, col_b, corr) rows."""
    from ..operators.profile import correlation_matrix

    li = load_table(spark, sf_dir, "lineitem")
    return correlation_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )


from ..operators.text import STOPWORDS as _RAKE_STOP  # noqa: E402

_RAKE_RE = r"\b(" + "|".join(_RAKE_STOP) + r")\b"


@query(
    "x83_rake_keyphrases",
    oracle=f"""
    WITH ph AS (
      SELECT trim(p) AS phrase FROM (
        SELECT unnest(string_split(
          regexp_replace(lower(text), '{_RAKE_RE}', '|', 'g'), '|')) AS p
        FROM documents
      ) WHERE trim(p) <> ''
    ), pw AS (
      SELECT phrase,
             len(list_filter(string_split(phrase, ' '), w -> w <> '')) AS l,
             unnest(string_split(phrase, ' ')) AS word
      FROM ph
    ), pw2 AS (
      SELECT * FROM pw WHERE word <> ''
    ), w AS (
      SELECT word, count(*) AS freq, sum(l) AS degree FROM pw2 GROUP BY word
    ), s AS (
      SELECT phrase, count(*) / first(l) AS n_raw,
             sum(degree::DOUBLE / freq) AS score_sum
      FROM pw2 JOIN w USING (word) GROUP BY phrase
    )
    SELECT phrase, CAST(n_raw AS BIGINT) AS n_occurrences,
           round(score_sum / n_raw + 1e-9, 4) AS rake_score
    FROM s
    WHERE CAST(n_raw AS BIGINT) >= 3
    ORDER BY rake_score DESC, phrase
    LIMIT 20
    """,
)
def x83_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE corpus keyphrases: stopword-free token runs scored by
    summed word degree/frequency — the model-free keyword extractor
    next to TF-IDF (per-doc salience) and PMI (adjacent-pair
    collocations).  Regex phrase split is a pure projection; word and
    phrase statistics are vocabulary-sized; TakeOrderedAndProject
    ranks."""
    from ..operators.text import rake_keyphrases

    docs = load_table(spark, sf_dir, "documents")
    return rake_keyphrases(docs, top=20, min_count=3)


@query(
    "x84_leadlag_xcorr",
    oracle="""
    WITH sparse AS (
      SELECT date_trunc('hour', ts)::TIMESTAMP AS h, event_type AS t,
             count(*) AS cnt
      FROM events GROUP BY 1, 2
    ), grid AS (
      SELECT g.h, ty.t
      FROM (SELECT unnest(generate_series((SELECT min(h) FROM sparse),
                                          (SELECT max(h) FROM sparse),
                                          INTERVAL 1 HOUR)) AS h) g
      CROSS JOIN (SELECT DISTINCT t FROM sparse) ty
    ), hourly AS (
      SELECT grid.h, grid.t, coalesce(sparse.cnt, 0) AS cnt
      FROM grid LEFT JOIN sparse ON grid.h = sparse.h AND grid.t = sparse.t
    ), lags AS (
      SELECT unnest(range(-3, 4)) AS lag_hours
    ), j AS (
      SELECT a.t AS type_a, b.t AS type_b, l.lag_hours, a.cnt AS ca, b.cnt AS cb
      FROM hourly a
      CROSS JOIN lags l
      JOIN hourly b
        ON b.h = a.h + to_hours(l.lag_hours) AND a.t < b.t
    )
    SELECT type_a, type_b, CAST(lag_hours AS BIGINT) AS lag_hours,
           count(*) AS n_hours,
           round(corr(ca, cb) + 1e-9, 4) AS xcorr
    FROM j
    GROUP BY 1, 2, 3
    HAVING count(*) >= 10 AND corr(ca, cb) IS NOT NULL
    """,
)
def x84_leadlag_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation between event-type hourly series
    (does type A's activity predict type B's L hours later?): one
    event-log pass to the DENSE zero-filled hours x types grid (an
    inner join of sparse series would correlate only co-active
    hours), then Pearson at every lag in [-3, +3] over the aggregated
    series only."""
    from ..operators.timeseries import leadlag_xcorr

    events = load_table(spark, sf_dir, "events")
    return leadlag_xcorr(events, max_lag_hours=3, min_hours=10)


@query(
    "x85_seasonal_anomalies",
    oracle="""
    WITH sparse AS (
      SELECT date_trunc('hour', ts)::TIMESTAMP AS h, event_type AS t,
             count(*) AS cnt
      FROM events GROUP BY 1, 2
    ), grid AS (
      SELECT g.h, ty.t
      FROM (SELECT unnest(generate_series((SELECT min(h) FROM sparse),
                                          (SELECT max(h) FROM sparse),
                                          INTERVAL 1 HOUR)) AS h) g
      CROSS JOIN (SELECT DISTINCT t FROM sparse) ty
    ), hourly AS (
      SELECT grid.h, grid.t, coalesce(sparse.cnt, 0) AS cnt,
             extract(hour FROM grid.h) AS hod
      FROM grid LEFT JOIN sparse ON grid.h = sparse.h AND grid.t = sparse.t
    ), slot AS (
      SELECT t, hod, sum(cnt) AS s1, sum(cnt * cnt) AS s2, count(*) AS n
      FROM hourly GROUP BY 1, 2
    ), scored AS (
      SELECT hh.t, hh.h, hh.cnt,
             (s.s1 - hh.cnt) / CAST(s.n - 1 AS DOUBLE) AS mu_loo,
             (s.s2 - hh.cnt * hh.cnt
              - (s.s1 - hh.cnt) * (s.s1 - hh.cnt) / CAST(s.n - 1 AS DOUBLE))
             / (s.n - 2) AS var_loo,
             s.n
      FROM hourly hh JOIN slot s ON hh.t = s.t AND hh.hod = s.hod
    )
    , z AS (
      SELECT *,
             CASE WHEN var_loo > 0 THEN (cnt - mu_loo) / sqrt(var_loo)
                  WHEN cnt > mu_loo THEN 9999.0
                  WHEN cnt < mu_loo THEN -9999.0 END AS zv
      FROM scored
    )
    SELECT t AS event_type, h AS hour, cnt,
           round(mu_loo + 1e-9, 4) AS seasonal_mean,
           round(zv + 1e-9, 4) AS z_score
    FROM z
    WHERE n >= 3 AND zv IS NOT NULL AND abs(zv) > 2.0
    """,
)
def x85_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomalies on the DENSE hourly grid: every
    hour — including zero-count outage hours — judged against its own
    hour-of-day slot with a LEAVE-ONE-OUT mean/sigma, so a spike
    cannot mask itself (the seasonal complement of the sequential
    EWMA detector x38).  Integer slot sums keep the derived doubles
    bit-identical across engines.  One log pass; the rest runs on the
    24 x |types| baseline and the tiny grid."""
    from ..operators.timeseries import seasonal_anomalies

    events = load_table(spark, sf_dir, "events")
    return seasonal_anomalies(events, z_threshold=2.0)


@query(
    "x86_rfm_segments",
    oracle="""
    WITH mx AS (
      SELECT max(o_orderdate) AS max_d FROM orders
    ), per_cust AS (
      SELECT o_custkey,
             date_diff('day', max(o_orderdate), (SELECT max_d FROM mx)) AS recency_days,
             count(*) AS frequency,
             sum(o_totalprice) AS monetary
      FROM orders GROUP BY o_custkey
    ), bounds AS (
      SELECT quantile_cont(recency_days, [0.2, 0.4, 0.6, 0.8]) AS rb,
             quantile_cont(frequency, [0.2, 0.4, 0.6, 0.8]) AS fb,
             quantile_cont(monetary, [0.2, 0.4, 0.6, 0.8]) AS mb
      FROM per_cust
    ), scored AS (
      SELECT p.*,
             6 - (1 + (p.recency_days > rb[1])::INT + (p.recency_days > rb[2])::INT
                    + (p.recency_days > rb[3])::INT + (p.recency_days > rb[4])::INT) AS r_score,
             1 + (p.frequency > fb[1])::INT + (p.frequency > fb[2])::INT
               + (p.frequency > fb[3])::INT + (p.frequency > fb[4])::INT AS f_score,
             1 + (p.monetary > mb[1])::INT + (p.monetary > mb[2])::INT
               + (p.monetary > mb[3])::INT + (p.monetary > mb[4])::INT AS m_score
      FROM per_cust p CROSS JOIN bounds
    )
    SELECT r_score, f_score, m_score,
           count(*) AS n_customers,
           round(avg(monetary) + 1e-9, 2) AS avg_monetary
    FROM scored
    GROUP BY 1, 2, 3
    """,
)
def x86_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation without a single global sort:
    per-customer recency/frequency/monetary from one orders pass, the
    three quintile BOUNDARY vectors from one tiny exact-percentile
    aggregate (broadcast), and score assignment as a map-only
    boundary comparison — 5 = best on every axis.  The classic
    behavioral-segmentation rollup in the shape that survives a
    billion customers (an ntile window would funnel them through one
    task; the plan linter rejects exactly that)."""
    from pyspark.sql import functions as F

    orders = load_table(spark, sf_dir, "orders")
    mx = orders.agg(F.max("o_orderdate").alias("max_d"))
    # localCheckpoint: the bounds aggregate AND the scoring branch both
    # consume per_cust; without the barrier each re-runs the orders
    # scan + per-customer shuffle (the per-customer frame is 4 narrow
    # columns — tiny relative to the fact table)
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_d"),
            F.count("*").alias("frequency"),
            F.sum("o_totalprice").alias("monetary"),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            "o_custkey",
            F.datediff("max_d", "last_d").alias("recency_days"),
            "frequency",
            "monetary",
        )
        .localCheckpoint()
    )
    qs = F.array(*[F.lit(q) for q in (0.2, 0.4, 0.6, 0.8)])
    bounds = per_cust.agg(
        F.percentile("recency_days", qs).alias("rb"),
        F.percentile("frequency", qs).alias("fb"),
        F.percentile("monetary", qs).alias("mb"),
    )

    def _bucket(col, b):
        return (
            F.lit(1)
            + sum(
                (F.col(col) > F.element_at(F.col(b), i + 1)).cast("int")
                for i in range(4)
            )
        )

    scored = per_cust.crossJoin(F.broadcast(bounds)).select(
        "monetary",
        (F.lit(6) - _bucket("recency_days", "rb")).alias("r_score"),
        _bucket("frequency", "fb").alias("f_score"),
        _bucket("monetary", "mb").alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").alias("n_customers"),
        F.round(F.avg("monetary") + F.lit(1e-9), 2).alias("avg_monetary"),
    )


@query(
    "x87_decontaminate_tiered",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ), g5 AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(t) - 4, 1) + 1),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4])
             )) AS grams
      FROM toks
    ), g3 AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(t) - 2, 1) + 1),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2])
             )) AS sh3
      FROM toks
    ), eg AS (
      SELECT DISTINCT unnest(grams) AS gram FROM g5 WHERE doc_id % 20 = 0
    ), ebits AS (
      SELECT DISTINCT unnest({_bf_bits_sql('gram')}) AS bit FROM eg
    ), tg AS (
      SELECT doc_id, unnest(grams) AS gram FROM g5 WHERE doc_id % 20 <> 0
    ), tbits AS (
      SELECT doc_id, gram, unnest({_bf_bits_sql('gram')}) AS bit FROM tg
    ), screen AS (
      SELECT doc_id, count(*) AS n_grams, CAST(sum(hit) AS BIGINT) AS n_flagged,
             round(sum(hit) / CAST(count(*) AS DOUBLE) + 1e-9, 4) AS bloom_ratio
      FROM (SELECT doc_id, gram,
                   min(CASE WHEN ebits.bit IS NOT NULL THEN 1 ELSE 0 END) AS hit
            FROM tbits LEFT JOIN ebits USING (bit) GROUP BY doc_id, gram)
      GROUP BY doc_id
    ), exact AS (
      SELECT tg.doc_id,
             CAST(coalesce(sum(CASE WHEN eg.gram IS NOT NULL THEN 1 END), 0)
                  AS BIGINT) AS n_contaminated,
             coalesce(round(sum(CASE WHEN eg.gram IS NOT NULL THEN 1 END)
                            / CAST(count(*) AS DOUBLE) + 1e-9, 4), 0.0)
               AS contamination_ratio
      FROM tg
      JOIN (SELECT doc_id FROM screen WHERE n_flagged > 0) s USING (doc_id)
      LEFT JOIN eg ON tg.gram = eg.gram
      GROUP BY tg.doc_id
    ), evsh AS (
      SELECT doc_id AS eval_id, unnest(sh3) AS sh FROM g3 WHERE doc_id % 20 = 0
    ), evsz AS (
      SELECT eval_id, count(*) AS ev_n FROM evsh GROUP BY eval_id
    ), graysh AS (
      SELECT g3.doc_id, unnest(g3.sh3) AS sh
      FROM g3 JOIN (SELECT doc_id FROM exact
                    WHERE n_contaminated > 0 AND contamination_ratio < 0.2) gz
        USING (doc_id)
    ), containment AS (
      SELECT doc_id,
             round(max(shared / CAST(ev_n AS DOUBLE)) + 1e-9, 4)
               AS max_eval_containment
      FROM (SELECT graysh.doc_id, evsh.eval_id, count(*) AS shared
            FROM graysh JOIN evsh USING (sh) GROUP BY 1, 2) p
      JOIN evsz USING (eval_id)
      GROUP BY doc_id
    )
    SELECT s.doc_id, s.n_grams, s.n_flagged, s.bloom_ratio,
           coalesce(e.n_contaminated, 0) AS n_contaminated,
           coalesce(e.contamination_ratio, 0.0) AS contamination_ratio,
           c.max_eval_containment,
           CASE WHEN s.n_flagged = 0 THEN 'clean'
                WHEN e.n_contaminated = 0 THEN 'clean'
                WHEN e.contamination_ratio >= 0.2 THEN 'contaminated'
                WHEN coalesce(c.max_eval_containment, 0.0) >= 0.8
                  THEN 'contaminated'
                ELSE 'clean' END AS verdict,
           CASE WHEN s.n_flagged = 0 THEN 'bloom'
                WHEN e.n_contaminated = 0 OR e.contamination_ratio >= 0.2
                  THEN 'gram'
                ELSE 'containment' END AS tier
    FROM screen s
    LEFT JOIN exact e ON s.doc_id = e.doc_id
    LEFT JOIN containment c ON s.doc_id = c.doc_id
    """,
)
def x87_decontaminate_tiered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unified tiered decontamination (the x25/x63/x75 screens as ONE
    pipeline with escalating cost): Bloom screen map-only over the
    whole corpus -> exact 5-gram join on the suspects -> eval-side
    3-shingle containment on the gray zone (where a huge page
    embedding one complete eval item hides below the train-normalized
    ratio).  Per-doc verdict + which tier decided; the oracle
    replicates all three tiers' arithmetic (md5 Bloom bits, gram
    ratios, containment maxima) in one SQL pipeline."""
    from ..operators.curation import decontaminate_tiered

    docs = load_table(spark, sf_dir, "documents")
    return decontaminate_tiered(
        docs.filter(F.col("doc_id") % 20 != 0),
        docs.filter(F.col("doc_id") % 20 == 0),
        k=5,
        shingle_k=3,
        flag_threshold=0.2,
        containment_threshold=0.8,
    )


# Fixed demonstration merge list for x88 (rank order).  The LEARNED
# path (bpe_train -> bpe_encode) is exercised in tests; fixing the
# merges here is what makes the encode pipeline SQL-pinnable.
X88_MERGES = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"),
    ("an", "d"), ("e", "r"), ("r", "e"), ("o", "n"),
]


def _bpe_encode_sql(merges: list) -> str:
    # boundary-preserving double-space encoding (see
    # operators/text.bpe_encoded_words): each 2-space boundary donates
    # one space to a ' l  r ' match and keeps one, so adjacent
    # occurrences ('banana') merge like the training fold
    chain = "'  ' || array_to_string(string_split(w, ''), '  ') || '  '"
    for l, r in merges:
        chain = f"replace({chain}, ' {l}  {r} ', ' {l}{r} ')"
    chain = f"replace({chain}, '  ', ' ')"
    return f"""
    WITH enc AS (
      SELECT doc_id,
             list_filter(
               list_transform(string_split(lower(text), ' '),
                              w -> trim({chain})),
               e -> e <> '') AS ew
      FROM documents
    )
    SELECT doc_id,
           array_to_string(ew, ' | ') AS encoded,
           CAST(len(ew) AS BIGINT) AS n_words,
           CAST(coalesce(list_sum(list_transform(
                  ew, e -> len(string_split(e, ' ')))), 0) AS BIGINT)
             AS n_symbols
    FROM enc
    """


@query("x88_bpe_encode", oracle=_bpe_encode_sql(X88_MERGES))
def x88_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenization of the corpus — the encode half of the
    tokenizer story (x77 trains the merges, this applies them, x27
    packs the result).  Each merge in rank order is ONE leftmost-
    non-overlapping string replace over the space-joined symbol
    representation, so the whole encode is a map-only codegen chain:
    no joins, no shuffle, no Python — the shape that tokenizes 100 TB
    at scan speed.  Value-checked end-to-end against the SQL oracle
    (identical replace semantics verified in both engines)."""
    from ..operators.text import bpe_encode

    docs = load_table(spark, sf_dir, "documents")
    return bpe_encode(docs, X88_MERGES)


@query(
    "x89_hll_portable_rollup",
    oracle="""
    WITH h AS (
      SELECT event_type,
             ('0x' || substr(md5('hll|' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM events
    ), reg AS (
      -- direct per-event_type registers; Spark builds per (type, day)
      -- then merges — max(rho) per bucket makes the two identical,
      -- which is exactly the HLL mergeability law this query pins
      SELECT event_type, h % 256 AS bucket,
             max(CASE WHEN (h >> 8) = 0 THEN 53
                      ELSE 53 - length(bin(h >> 8)) END) AS rho
      FROM h GROUP BY event_type, h % 256
    ), agg AS (
      SELECT event_type, count(*) AS n_present,
             sum(1::BIGINT << (53 - rho)) AS present_scaled
      FROM reg GROUP BY event_type
    )
    SELECT event_type,
           round(CASE WHEN raw <= 640.0 AND v_zero > 0
                      THEN 256.0 * ln(256.0 / v_zero)
                      ELSE raw END + 1e-9, 4) AS approx_distinct,
           v_zero
    FROM (SELECT event_type,
                 0.7213 / (1.0 + 1.079 / 256) * 256 * 256 * 9007199254740992.0
                   / CAST(present_scaled
                          + (256 - n_present) * 9007199254740992 AS DOUBLE) AS raw,
                 CAST(256 - n_present AS INT) AS v_zero
          FROM agg)
    """,
)
def x89_hll_portable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Register-level portable HLL distinct-user estimate per
    event_type, built the mergeable way: per-(event_type, day)
    registers from ONE raw scan, rolled up to event_type by
    max(rho)-per-bucket, then the classic estimator with an exact
    BIGINT harmonic sum.  Unlike the DataSketches binary sketch (whose
    register layout is opaque to SQL)
    every intermediate here is integer arithmetic, so the FULL
    estimate — including linear-counting fallback — is value-checked
    against the SQL oracle; and because the oracle computes registers
    directly while Spark goes through the daily pre-agg, the hash
    match doubles as a merge-equals-direct proof."""
    from ..operators.sketches import (
        hll_portable_estimate,
        hll_portable_registers,
        hll_portable_rollup,
    )

    events = load_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    pre = hll_portable_registers(events, ["event_type", "day"], "user_id")
    rolled = hll_portable_rollup(pre, ["event_type"])
    return hll_portable_estimate(rolled, ["event_type"])


def _x90_oracle() -> str:
    ctes, final = _kmeans_ctes(k=8, iterations=1)
    return f"""
    WITH {ctes},
    assign AS ({final}),
    labeled AS (
      SELECT a.cell, d.text FROM assign a JOIN documents d ON d.doc_id = a.vec_id
    ), toks AS (
      SELECT cell, unnest(string_split(lower(text), ' ')) AS term FROM labeled
    ), filtered AS (
      SELECT * FROM toks WHERE length(term) >= 3
    ), tf AS (
      SELECT cell, term, count(*) AS tf FROM filtered GROUP BY cell, term
    ), df AS (
      SELECT term, count(*) AS df FROM tf GROUP BY term
    ), n AS (
      SELECT count(DISTINCT cell) AS n_docs FROM labeled
    ), scored AS (
      SELECT tf.cell, tf.term, tf.tf, df.df,
             round(tf.tf * (ln((n.n_docs + 1) / CAST(df.df + 1 AS DOUBLE)) + 1) + 1e-9, 6)
               AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT cell, term, tf, df, tfidf, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY cell
                                   ORDER BY tfidf DESC, term) AS rank
      FROM scored
    ) WHERE rank <= 3
    """


@query("x90_cluster_topics", oracle=_x90_oracle())
def x90_cluster_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-then-label: portable k-means cells over the embedding
    table joined back to the documents, then cluster-level TF-IDF
    (each cell is one super-document, df counts cells) names each
    semantic cluster by its top-3 terms — the standard corpus-map /
    curation-triage view.  Composes two value-checked pipelines (x37's
    unrolled Lloyd loop + x17's TF-IDF) into one oracle, so the
    composite is hash-checked end-to-end.  Scale: the only added cost
    over x37 is a broadcast-able (doc_id, cell) join and the x17
    shuffles keyed on 8 cells x terms."""
    from ..operators.similarity import cluster_topics

    return cluster_topics(
        load_table(spark, sf_dir, "embeddings"),
        load_table(spark, sf_dir, "documents"),
        k=8,
        iterations=1,
    )


@query(
    "x91_tokenizer_fertility",
    oracle=f"""
    WITH enc AS ({_bpe_encode_sql(X88_MERGES)}
    ), lang AS (
      SELECT doc_id,
             CASE WHEN greatest(n_en, n_es, n_de, n_fr) = 0 THEN 'und'
                  WHEN n_en = greatest(n_en, n_es, n_de, n_fr) THEN 'en'
                  WHEN n_es = greatest(n_en, n_es, n_de, n_fr) THEN 'es'
                  WHEN n_de = greatest(n_en, n_es, n_de, n_fr) THEN 'de'
                  ELSE 'fr' END AS lang_pred,
             CAST(length(text) AS BIGINT) AS n_chars
      FROM (
        SELECT doc_id, text,
               len(list_filter(string_split(lower(text), ' '),
                               t -> t IN ('the', 'a', 'of', 'and'))) AS n_en,
               len(list_filter(string_split(lower(text), ' '),
                               t -> t IN ('el', 'la', 'de', 'que'))) AS n_es,
               len(list_filter(string_split(lower(text), ' '),
                               t -> t IN ('der', 'die', 'und', 'das'))) AS n_de,
               len(list_filter(string_split(lower(text), ' '),
                               t -> t IN ('le', 'la', 'et', 'les'))) AS n_fr
        FROM documents)
    )
    SELECT lang_pred,
           count(*) AS n_docs,
           sum(enc.n_words) AS total_words,
           sum(enc.n_symbols) AS total_symbols,
           round(CAST(sum(enc.n_symbols) AS DOUBLE) / sum(enc.n_words) + 1e-9, 4)
             AS fertility,
           round(CAST(sum(lang.n_chars) AS DOUBLE) / sum(enc.n_symbols) + 1e-9, 4)
             AS chars_per_symbol
    FROM enc JOIN lang USING (doc_id)
    GROUP BY lang_pred
    """,
)
def x91_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility report by (predicted) language — the
    standard multilingual-tokenizer evaluation: symbols per word
    (fertility; lower = the merge table serves that language better)
    and characters per symbol (compression) per language bucket.
    Composes x88's map-only BPE encode with x07's marker lang-ID in
    ONE single-scan projection (both are pure column expressions — no
    join, no second corpus read); the per-language sums are exact
    BIGINTs so the two ratios carry a full value oracle.  Scale: one
    documents scan + an 8-group map-side-combinable aggregate."""
    from ..operators.text import bpe_encoded_words, bpe_symbol_count, lang_id

    docs = load_table(spark, sf_dir, "documents")
    enc = F.col("__enc")
    per_doc = docs.select(
        lang_id(F.col("text")).alias("lang_pred"),
        F.length("text").cast("long").alias("n_chars"),
        bpe_encoded_words(F.col("text"), X88_MERGES).alias("__enc"),
    ).select(
        "lang_pred",
        "n_chars",
        F.size(enc).cast("long").alias("n_words"),
        bpe_symbol_count(enc).alias("n_symbols"),
    )
    return (
        per_doc.groupBy("lang_pred")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_words").alias("total_words"),
            F.sum("n_symbols").alias("total_symbols"),
            F.round(
                F.sum("n_symbols").cast("double") / F.sum("n_words") + F.lit(1e-9), 4
            ).alias("fertility"),
            F.round(
                F.sum("n_chars").cast("double") / F.sum("n_symbols") + F.lit(1e-9), 4
            ).alias("chars_per_symbol"),
        )
    )


@query(
    "x92_canonical_selection",
    oracle=f"""
    WITH comp AS (
      SELECT id, component FROM ({_P14_ORACLE})
    ), q AS (
      SELECT doc_id,
             ((CASE WHEN n_tokens BETWEEN 20 AND 2000 THEN 1.0 ELSE 0.5 END)
              + (CASE WHEN stopword_ratio BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.5 END)
              + (CASE WHEN avg_word_len BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END)) / 3.0
               AS quality_score,
             CAST(length(text) AS BIGINT) AS n_chars
      FROM (
        SELECT doc_id, text,
               CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
               len(list_filter(string_split(lower(text), ' '),
                               t -> t IN ('the','a','of','and','to','in','is','it','that','for')))
                 / CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS stopword_ratio,
               list_sum(list_transform(string_split(lower(text), ' '), t -> length(t)))
                 / CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS avg_word_len
        FROM documents)
    )
    SELECT component, doc_id, quality_score, n_chars,
           (rn = 1) AS is_canonical
    FROM (SELECT c.component, c.id AS doc_id, q.quality_score, q.n_chars,
                 row_number() OVER (PARTITION BY c.component
                                    ORDER BY q.quality_score DESC, c.id) AS rn
          FROM comp c JOIN q ON q.doc_id = c.id)
    """,
)
def x92_canonical_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection for near-dup clusters — the policy
    step between detection and deletion: within each p14 dup cluster
    keep the HIGHEST-quality member (x08 composite score, doc_id
    tiebreak) and flag the rest for purge, with their sizes so the
    yield accounting is immediate.  Composes two value-checked
    pipelines (MinHash-LSH closure + quality scoring) into one
    hash-checked oracle.  Scale: adds one broadcast-size join (cluster
    membership is a tiny fraction of the corpus) and a window over
    components to the p14 cost.  One shared implementation
    (operators/dedup.canonical_selection) also backs
    Engine.canonical_docs, so the facade cannot drift from this
    value-checked query."""
    from ..operators.dedup import canonical_selection

    docs = load_table(spark, sf_dir, "documents")
    return canonical_selection(
        docs, num_hashes=16, bands=4, shingle_k=3, min_est_jaccard=0.5
    )


@query(
    "x93_corpus_datasheet",
    oracle="""
    WITH m AS (
      SELECT source,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
             len(list_filter(string_split(lower(text), ' '),
                             t -> t IN ('the','a','of','and','to','in','is','it','that','for')))
               / CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS stopword_ratio,
             list_sum(list_transform(string_split(lower(text), ' '), t -> length(t)))
               / CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS avg_word_len,
             len(list_filter(string_split(lower(text), ' '),
                             t -> t IN ('the', 'a', 'of', 'and'))) AS n_en,
             len(list_filter(string_split(lower(text), ' '),
                             t -> t IN ('el', 'la', 'de', 'que'))) AS n_es,
             len(list_filter(string_split(lower(text), ' '),
                             t -> t IN ('der', 'die', 'und', 'das'))) AS n_de,
             len(list_filter(string_split(lower(text), ' '),
                             t -> t IN ('le', 'la', 'et', 'les'))) AS n_fr,
             substr(md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')), 1, 16) AS fp
      FROM documents
    ), per AS (
      SELECT source, n_tokens, fp,
             CASE WHEN ((CASE WHEN n_tokens BETWEEN 20 AND 2000 THEN 1.0 ELSE 0.5 END)
                        + (CASE WHEN stopword_ratio BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.5 END)
                        + (CASE WHEN avg_word_len BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END)) / 3.0
                       >= 0.9 THEN 1 ELSE 0 END AS hi_q,
             CASE WHEN greatest(n_en, n_es, n_de, n_fr) > 0
                   AND n_en = greatest(n_en, n_es, n_de, n_fr) THEN 1 ELSE 0 END AS is_en
      FROM m
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(CAST(sum(n_tokens) AS DOUBLE) / count(*) + 1e-9, 4) AS mean_tokens,
           round(quantile_cont(n_tokens, 0.5) + 1e-9, 4) AS median_tokens,
           round(CAST(sum(hi_q) AS DOUBLE) / count(*) + 1e-9, 4) AS hi_quality_rate,
           round(CAST(sum(is_en) AS DOUBLE) / count(*) + 1e-9, 4) AS en_rate,
           round(1.0 - CAST(count(DISTINCT fp) AS DOUBLE) / count(*) + 1e-9, 4) AS dup_rate
    FROM per
    GROUP BY source
    """,
)
def x93_corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset datasheet — the one-scan corpus report a
    training-data pipeline publishes with every snapshot: volume
    (docs, tokens, mean/median length), quality (share of max-score
    docs), language mix (predicted-English rate), and exact-duplicate
    rate from md5 fingerprints.  Every per-doc signal (token count,
    quality score, lang-ID, fingerprint) is a pure column expression,
    so the whole datasheet is ONE corpus scan + one per-source
    aggregate; ratios divide exact integer counts, keeping the value
    oracle tight.  Scale: map-side-combinable aggregates on a
    well-spread key (the exact-percentile median is the one
    sort-based term; swap for approx_percentile at 100 TB if the
    per-source sort ever dominates)."""
    from ..operators import text as tx

    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    per_doc = docs.select(
        "source",
        tx.token_count(t).alias("n_tokens"),
        (tx.quality_score(t) >= 0.9).cast("int").alias("hi_q"),
        (tx.lang_id(t) == "en").cast("int").alias("is_en"),
        tx.fingerprint(t).alias("fp"),
    )
    n = F.count("*")
    return per_doc.groupBy("source").agg(
        n.alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.sum("n_tokens").cast("double") / n + F.lit(1e-9), 4).alias(
            "mean_tokens"
        ),
        F.round(F.expr("percentile(n_tokens, 0.5)") + F.lit(1e-9), 4).alias(
            "median_tokens"
        ),
        F.round(F.sum("hi_q").cast("double") / n + F.lit(1e-9), 4).alias(
            "hi_quality_rate"
        ),
        F.round(F.sum("is_en").cast("double") / n + F.lit(1e-9), 4).alias("en_rate"),
        F.round(
            F.lit(1.0) - F.countDistinct("fp").cast("double") / n + F.lit(1e-9), 4
        ).alias("dup_rate"),
    )


# Build-once cache for the x95 steady-state search: one persisted PQ
# index per (process, sf_dir) under the gitignored spark-warehouse.
# A fresh process rebuilds (mode=overwrite), so a stale on-disk index
# can never leak across testdata generations; repeated calls within a
# process (bench best-of-3, slope re-timing) pay ONLY the search.
_PQ_INDEX_CACHE: dict[str, str] = {}


def _pq_index_path(spark: SparkSession, sf_dir: str) -> str:
    import os

    from ..operators.similarity import pq_index_build

    key = os.path.abspath(sf_dir)
    if key not in _PQ_INDEX_CACHE:
        tag = key.strip("/").replace("/", "_")
        path = os.path.join("spark-warehouse", f"pq_index_{tag}")
        pq_index_build(
            load_table(spark, sf_dir, "embeddings"),
            path,
            m=16,
            ksub=16,
            dim=64,
        )
        _PQ_INDEX_CACHE[key] = path
    return _PQ_INDEX_CACHE[key]


@query("x95_pq_index_search", oracle=_pq_oracle())
def x95_pq_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Steady-state ANN serving: ADC top-k + exact rerank against the
    PERSISTED PQ index (pq_index_build runs once per process and is
    amortized away), with the same parameters and — by construction —
    the same results as x62, which prices the whole train+encode+
    search stack in one query.  This is the per-query-batch cost a
    production corpus pays after indexing: read the 32x-compressed
    codes column only (vectors never load), broadcast the per-query
    LUTs, rerank the |Q| x 50 shortlist.  The shared SQL oracle
    value-checks search-over-persisted-index == train+search-in-one,
    i.e. the index roundtrip loses nothing; the codes-only-scan plan
    shape is asserted in tests/test_operators.py."""
    from ..operators.similarity import pq_index_search

    emb = load_table(spark, sf_dir, "embeddings")
    path = _pq_index_path(spark, sf_dir)
    return pq_index_search(
        spark,
        emb.filter(F.col("vec_id") < 10),
        path,
        k=5,
        rerank=50,
        corpus=emb,
    )


# x94 oracle: the composed funnel replayed stage by stage in SQL.  The
# near-dup tier re-uses the ENTIRE p12 oracle re-pointed at the
# exact-dedup survivor corpus (nested WITH referencing the outer CTE),
# so candidate generation in the composition is provably the same
# dataflow the standalone p12 verifies.
_X94_PAIRS_ON_SURVIVORS = _P12_ORACLE.replace("FROM documents", "FROM s2corpus")

_X94_ORACLE = f"""
    WITH RECURSIVE
    train AS (SELECT doc_id, text FROM documents WHERE doc_id % 20 <> 0),
    eval_docs AS (SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0),
    tk AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks FROM train
    ), tri AS (
      SELECT doc_id, toks,
             list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
                            i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])) AS tris
      FROM tk
    ), m AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             list_sum(list_transform(toks, x -> length(x)))
               / CAST(len(toks) AS DOUBLE) AS mean_word_len,
             CAST(len(list_filter(toks,
               x -> x IN ('the','a','of','and','to','in','is','it','that','for')))
               AS BIGINT) AS stop_hits,
             len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
               / CAST(len(toks) AS DOUBLE) AS alpha_frac,
             1.0 - len(list_distinct(tris)) / CAST(len(tris) AS DOUBLE)
               AS dup_trigram_frac
      FROM tri
    ), q AS (
      SELECT doc_id, n_words FROM m
      WHERE n_words BETWEEN 30 AND 10000
        AND mean_word_len BETWEEN 3.0 AND 10.0
        AND stop_hits >= 2 AND alpha_frac >= 0.8 AND dup_trigram_frac <= 0.1
    ), fp AS (
      SELECT d.doc_id, q.n_words,
             substr(md5(regexp_replace(trim(lower(d.text)), '\\s+', ' ', 'g')), 1, 16)
               AS fingerprint
      FROM train d JOIN q USING (doc_id)
    ), canon AS (
      SELECT fingerprint, min(doc_id) AS canonical_id FROM fp GROUP BY fingerprint
    ), es AS (
      SELECT fp.doc_id, fp.n_words
      FROM fp JOIN canon USING (fingerprint)
      WHERE fp.doc_id = canon.canonical_id
    ), s2corpus AS (
      SELECT d.doc_id, d.text FROM train d JOIN es USING (doc_id)
    ), prs AS (
      SELECT doc_a, doc_b FROM ({_X94_PAIRS_ON_SURVIVORS})
    ), edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM prs
      UNION
      SELECT doc_b, doc_a FROM prs
    ), reach(id, comp) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.id
    ), comp AS (
      SELECT id, min(comp) AS component FROM reach GROUP BY id
    ), ns AS (
      SELECT es.doc_id, es.n_words
      FROM es LEFT JOIN comp ON comp.id = es.doc_id
      WHERE comp.id IS NULL OR comp.component = es.doc_id
    ), egt AS (
      SELECT string_split(lower(text), ' ') AS t FROM eval_docs
    ), eg AS (
      SELECT DISTINCT ('0x' || substr(md5(g), 1, 15))::BIGINT AS gram
      FROM (SELECT unnest(list_distinct(list_transform(
              range(1, greatest(len(t) - 4, 1) + 1),
              i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4])))) AS g
            FROM egt)
    ), ngt AS (
      SELECT s.doc_id, string_split(lower(s.text), ' ') AS t
      FROM s2corpus s JOIN ns USING (doc_id)
    ), tg AS (
      SELECT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT AS gram
      FROM (SELECT doc_id, unnest(list_distinct(list_transform(
              range(1, greatest(len(t) - 4, 1) + 1),
              i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4])))) AS g
            FROM ngt)
    ), dc AS (
      SELECT tg.doc_id,
             round(coalesce(sum(CASE WHEN eg.gram IS NOT NULL THEN 1 END), 0)
                   / CAST(count(*) AS DOUBLE) + 1e-9, 4) AS ratio
      FROM tg LEFT JOIN eg USING (gram) GROUP BY tg.doc_id
    ), ds AS (
      SELECT ns.doc_id, ns.n_words
      FROM ns JOIN dc USING (doc_id) WHERE dc.ratio < 0.2
    ), ntr AS (
      SELECT count(*) AS n_train, CAST(sum(n_words) AS BIGINT) AS tok_train
      FROM m
    ), nev AS (
      SELECT count(*) AS n_eval FROM eval_docs
    ), nq AS (
      SELECT count(*) AS n_q, CAST(coalesce(sum(n_words), 0) AS BIGINT) AS tok_q FROM q
    ), ne AS (
      SELECT count(*) AS n_e, CAST(coalesce(sum(n_words), 0) AS BIGINT) AS tok_e FROM es
    ), nn AS (
      SELECT count(*) AS n_n, CAST(coalesce(sum(n_words), 0) AS BIGINT) AS tok_n FROM ns
    ), nd AS (
      SELECT count(*) AS n_d, CAST(coalesce(sum(n_words), 0) AS BIGINT) AS tok_d FROM ds
    ), stages AS (
      SELECT '0_eval_holdout' AS stage, n_train + n_eval AS docs_in,
             n_eval AS docs_removed, n_train AS docs_out, tok_train AS tokens_out
      FROM ntr, nev
      UNION ALL
      SELECT '1_quality', n_train, n_train - n_q, n_q, tok_q FROM ntr, nq
      UNION ALL
      SELECT '2_exact_dedup', n_q, n_q - n_e, n_e, tok_e FROM nq, ne
      UNION ALL
      SELECT '3_near_dedup', n_e, n_e - n_n, n_n, tok_n FROM ne, nn
      UNION ALL
      SELECT '4_decontaminate', n_n, n_n - n_d, n_d, tok_d FROM nn, nd
      UNION ALL
      SELECT '5_shards', n_d, 0, n_d, tok_d FROM nd
    )
    SELECT stage,
           CAST(docs_in AS BIGINT) AS docs_in,
           CAST(docs_removed AS BIGINT) AS docs_removed,
           CAST(docs_out AS BIGINT) AS docs_out,
           round(coalesce(docs_removed / CAST(docs_in AS DOUBLE), 0.0) + 1e-9, 4)
             AS removal_rate,
           tokens_out
    FROM stages
"""


@query("x94_curation_pipeline", oracle=_X94_ORACLE)
def x94_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed end-to-end curation pipeline (VERDICT r5 #6) with
    per-stage yield accounting: eval holdout (every 20th doc plays the
    benchmark, as in x25) -> Gopher rules (x53 semantics) -> exact
    dedup (p11 canonical survivor) -> near-dup closure (p12 pairs +
    p14 components, computed over exact-dedup survivors) ->
    decontamination (x25 5-gram overlap, hashed grams) -> training
    shards (x52 key).  operators/curation.curation_funnel: the train
    corpus text is scanned ONCE into a persisted narrow frame (Gopher
    metrics, fingerprint, MinHash signature, gram-hash set); every
    tier and the final funnel aggregate run over that cached frame —
    the oracle replays all six stages in SQL, embedding the p12
    oracle re-pointed at the tier-3 survivor corpus."""
    from ..operators.curation import curation_funnel

    docs = load_table(spark, sf_dir, "documents")
    return curation_funnel(
        docs.filter(F.col("doc_id") % 20 != 0),
        docs.filter(F.col("doc_id") % 20 == 0),
    )


@query(
    "x96_split_leakage",
    oracle=f"""
    WITH pr AS (
      SELECT doc_a, doc_b, est_jaccard FROM ({_P12_ORACLE})
    ), lab AS (
      SELECT CASE WHEN ('0x' || substr(md5(CAST(doc_a AS VARCHAR)), 1, 15))::BIGINT % 100 < 90
                  THEN 'train'
                  WHEN ('0x' || substr(md5(CAST(doc_a AS VARCHAR)), 1, 15))::BIGINT % 100 < 95
                  THEN 'val' ELSE 'test' END AS sa,
             CASE WHEN ('0x' || substr(md5(CAST(doc_b AS VARCHAR)), 1, 15))::BIGINT % 100 < 90
                  THEN 'train'
                  WHEN ('0x' || substr(md5(CAST(doc_b AS VARCHAR)), 1, 15))::BIGINT % 100 < 95
                  THEN 'val' ELSE 'test' END AS sb,
             est_jaccard
      FROM pr
    )
    SELECT least(sa, sb) AS split_a, greatest(sa, sb) AS split_b,
           count(*) AS n_pairs,
           round(avg(est_jaccard) + 1e-9, 4) AS avg_est_jaccard,
           max(est_jaccard) AS max_est_jaccard,
           least(sa, sb) <> greatest(sa, sb) AS leaky
    FROM lab GROUP BY 1, 2
    """,
)
def x96_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-leakage audit (held-out-set hygiene): near-dup candidate
    pairs (p12 LSH dataflow) labeled with each endpoint's
    deterministic train/val/test split (x26 hash buckets) and
    aggregated per unordered split-label pair — the pre-training check
    that benchmark near-duplicates aren't sitting in train.  The
    split label is a pure projection on the pair endpoints; the
    aggregate is bounded by 6 rows.  ``max_est_jaccard`` is exact
    (est values are k/16 — binary-exact after round-4)."""
    from ..operators.curation import split_leakage

    docs = load_table(spark, sf_dir, "documents")
    return split_leakage(docs)


@query(
    "x97_source_overlap_matrix",
    oracle="""
    WITH toks AS (
      SELECT source, string_split(lower(text), ' ') AS t FROM documents
    ), g AS (
      SELECT source,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(t) - 2, 1) + 1),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2])
             ))) AS gram
      FROM toks
    ), h AS (
      SELECT DISTINCT source, ('0x' || substr(md5(gram), 1, 15))::BIGINT AS hv
      FROM g
    ), r AS (
      SELECT source, hv,
             row_number() OVER (PARTITION BY source ORDER BY hv) AS rn
      FROM h
    ), s AS (
      SELECT source, list_sort(list(hv)) AS kv
      FROM r WHERE rn <= 64 GROUP BY source
    ), p AS (
      SELECT sa.source AS source_a, sb.source AS source_b, sa.kv AS a, sb.kv AS b
      FROM s sa JOIN s sb ON sa.source < sb.source
    ), m AS (
      SELECT source_a, source_b, a, b,
             (list_sort(list_distinct(list_concat(a, b))))[1:64] AS u
      FROM p
    ), est AS (
      SELECT source_a, source_b,
        round(CASE WHEN len(a) < 64 THEN len(a)::DOUBLE
                   ELSE 63.0 * 1152921504606846976.0 / a[least(len(a), 64)] END
              + 1e-9, 2) AS est_distinct_a,
        round(CASE WHEN len(b) < 64 THEN len(b)::DOUBLE
                   ELSE 63.0 * 1152921504606846976.0 / b[least(len(b), 64)] END
              + 1e-9, 2) AS est_distinct_b,
        round(CASE WHEN len(u) < 64 THEN len(u)::DOUBLE
                   ELSE 63.0 * 1152921504606846976.0 / u[least(len(u), 64)] END
              + 1e-9, 2) AS est_union,
        round(len(list_filter(u, x -> list_contains(a, x) AND list_contains(b, x)))
              / CAST(len(u) AS DOUBLE) + 1e-9, 4) AS kmv_jaccard
      FROM m
    )
    SELECT source_a, source_b, est_distinct_a, est_distinct_b, est_union,
           kmv_jaccard,
           round(kmv_jaccard * est_union + 1e-9, 2) AS est_intersection
    FROM est
    """,
)
def x97_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-content-overlap matrix from per-source KMV
    sketches over distinct 3-shingle hashes — the cross-source audit
    ("which crawls duplicate each other?") answered from sources x 64
    hashes instead of the corpus.  One scan + distinct + a
    WindowGroupLimit bottom-64 per source; the sources² pair expansion
    is broadcast and touches only 64-length arrays.  Same estimator
    math as x68 (value-checked there for two fixed halves; here per
    pair of real sources)."""
    from ..operators.dedup import shingle_arr
    from ..operators.sketches import kmv_overlap_matrix, kmv_sketch_by

    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "source", F.explode(F.array_distinct(shingle_arr(F.col("text"), 3))).alias("gram")
    )
    sketches = kmv_sketch_by(sh, ["source"], F.col("gram"))
    return kmv_overlap_matrix(sketches, "source")


@query(
    "x98_snapshot_drift",
    oracle="""
    WITH m AS (
      SELECT doc_id % 2 AS half, source,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
             CASE WHEN ((CASE WHEN CAST(len(string_split(lower(text), ' ')) AS BIGINT)
                                   BETWEEN 20 AND 2000 THEN 1.0 ELSE 0.5 END
                        + (CASE WHEN len(list_filter(string_split(lower(text), ' '),
                             t -> t IN ('the','a','of','and','to','in','is','it','that','for')))
                             / CAST(len(string_split(lower(text), ' ')) AS DOUBLE)
                             BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.5 END)
                        + (CASE WHEN list_sum(list_transform(string_split(lower(text), ' '),
                                                             t -> length(t)))
                             / CAST(len(string_split(lower(text), ' ')) AS DOUBLE)
                             BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END))) / 3.0
                       >= 0.9 THEN 1 ELSE 0 END AS hi_q,
             CASE WHEN greatest(
                    len(list_filter(string_split(lower(text), ' '), t -> t IN ('the','a','of','and'))),
                    len(list_filter(string_split(lower(text), ' '), t -> t IN ('el','la','de','que'))),
                    len(list_filter(string_split(lower(text), ' '), t -> t IN ('der','die','und','das'))),
                    len(list_filter(string_split(lower(text), ' '), t -> t IN ('le','la','et','les')))) > 0
                   AND len(list_filter(string_split(lower(text), ' '), t -> t IN ('the','a','of','and')))
                     = greatest(
                    len(list_filter(string_split(lower(text), ' '), t -> t IN ('the','a','of','and'))),
                    len(list_filter(string_split(lower(text), ' '), t -> t IN ('el','la','de','que'))),
                    len(list_filter(string_split(lower(text), ' '), t -> t IN ('der','die','und','das'))),
                    len(list_filter(string_split(lower(text), ' '), t -> t IN ('le','la','et','les'))))
                  THEN 1 ELSE 0 END AS is_en
      FROM documents
    ), agg AS (
      SELECT source,
             CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_old,
             CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_new,
             CAST(sum(CASE WHEN half = 0 THEN n_tokens ELSE 0 END) AS BIGINT) AS tok_old,
             CAST(sum(CASE WHEN half = 1 THEN n_tokens ELSE 0 END) AS BIGINT) AS tok_new,
             sum(CASE WHEN half = 0 THEN hi_q ELSE 0 END) AS hi_q_old,
             sum(CASE WHEN half = 1 THEN hi_q ELSE 0 END) AS hi_q_new,
             sum(CASE WHEN half = 0 THEN is_en ELSE 0 END) AS en_old,
             sum(CASE WHEN half = 1 THEN is_en ELSE 0 END) AS en_new
      FROM m GROUP BY source
    ), rates AS (
      SELECT source, n_docs_old, n_docs_new,
             CASE WHEN n_docs_old > 0 THEN tok_old / CAST(n_docs_old AS DOUBLE) END AS mean_old,
             CASE WHEN n_docs_new > 0 THEN tok_new / CAST(n_docs_new AS DOUBLE) END AS mean_new,
             CASE WHEN n_docs_old > 0 THEN hi_q_old / CAST(n_docs_old AS DOUBLE) END AS hi_old,
             CASE WHEN n_docs_new > 0 THEN hi_q_new / CAST(n_docs_new AS DOUBLE) END AS hi_new,
             CASE WHEN n_docs_old > 0 THEN en_old / CAST(n_docs_old AS DOUBLE) END AS e_old,
             CASE WHEN n_docs_new > 0 THEN en_new / CAST(n_docs_new AS DOUBLE) END AS e_new
      FROM agg
    )
    SELECT source, n_docs_old, n_docs_new,
           round(mean_old + 1e-9, 4) AS mean_tokens_old,
           round(mean_new + 1e-9, 4) AS mean_tokens_new,
           round(mean_new - mean_old + 1e-9, 4) AS delta_mean_tokens,
           round(hi_old + 1e-9, 4) AS hi_q_rate_old,
           round(hi_new + 1e-9, 4) AS hi_q_rate_new,
           round(hi_new - hi_old + 1e-9, 4) AS delta_hi_q_rate,
           round(e_old + 1e-9, 4) AS en_rate_old,
           round(e_new + 1e-9, 4) AS en_rate_new,
           round(e_new - e_old + 1e-9, 4) AS delta_en_rate,
           (abs(hi_new - hi_old) > 0.1 OR abs(e_new - e_old) > 0.1) AS drift
    FROM rates
    """,
)
def x98_snapshot_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distribution drift between two corpus snapshots
    (doc-id parity plays the old/new crawls): volume, mean length,
    quality rate, and language rate per side with deltas and a drift
    flag — the between-crawl monitoring report.  One conditional-
    aggregation pass per snapshot over x93's column-expression
    signals; one groupBy(source) exchange total."""
    from ..operators.curation import snapshot_drift

    docs = load_table(spark, sf_dir, "documents")
    return snapshot_drift(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
    )



_X74_ORACLE = _REGISTRY["x74_bigram_perplexity"].oracle


@query(
    "x99_curriculum_order",
    oracle=f"""
    WITH ce AS (
      SELECT doc_id, cross_entropy FROM ({_X74_ORACLE})
    ), bounds AS (
      SELECT quantile_cont(cross_entropy, [0.25, 0.5, 0.75]) AS qb FROM ce
    ), staged AS (
      SELECT doc_id, cross_entropy,
             1 + (cross_entropy > qb[1])::INT + (cross_entropy > qb[2])::INT
               + (cross_entropy > qb[3])::INT AS stage,
             ('0x' || substr(md5('cur|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS sk
      FROM ce CROSS JOIN bounds
    )
    SELECT doc_id, cross_entropy, stage,
           CAST(sk % 8 AS INT) AS shard,
           CAST(row_number() OVER (PARTITION BY stage, sk % 8
                                   ORDER BY sk, doc_id) AS INT) AS pos
    FROM staged
    """,
)
def x99_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum data ordering: corpus-relative difficulty stages
    (bigram cross-entropy quartiles, easy first) + hash-balanced
    in-stage shards with deterministic pseudo-random positions — the
    (stage, shard, pos) schedule curriculum training consumes.  Stage
    boundaries via the x86 broadcast-percentile pattern (no global
    sort / ntile); the position window partitions by balanced
    (stage, shard) cells."""
    from ..operators.curation import curriculum_order

    docs = load_table(spark, sf_dir, "documents")
    return curriculum_order(docs)


@query(
    "x100_token_budget_plan",
    oracle="""
    WITH per AS (
      SELECT source, count(*) AS n_docs,
             CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ), one AS (
      SELECT list_sort(list({'source': source, 'n_docs': n_docs,
                             'n_tokens': n_tokens})) AS srcs
      FROM per
    ), consts AS (
      SELECT srcs,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(srcs, x -> x.n_tokens)), (a, b) -> a + b) AS tot,
             list_reduce(list_prepend(0.0,
               list_transform(srcs,
                 x -> sqrt(x.n_tokens / list_reduce(list_prepend(CAST(0 AS BIGINT),
                        list_transform(srcs, y -> y.n_tokens)), (a, b) -> a + b)))),
               (a, b) -> a + b) AS pow_sum
      FROM one
    ), rows_ AS (
      SELECT unnest(srcs) AS s, tot, pow_sum FROM consts
    ), m AS (
      SELECT s.source AS source, s.n_docs AS n_docs, s.n_tokens AS n_tokens,
             tot, pow_sum,
             sqrt(s.n_tokens / tot) / pow_sum AS w,
             (2.0 * tot) * (sqrt(s.n_tokens / tot) / pow_sum) AS desired,
             4.0 * s.n_tokens AS cap
      FROM rows_
    ), planned AS (
      SELECT source, n_docs, n_tokens,
             round(w + 1e-9, 6) AS mix_weight,
             CAST(floor(least(desired, cap)) AS BIGINT) AS alloc_tokens,
             round(CAST(floor(least(desired, cap)) AS BIGINT) / CAST(n_tokens AS DOUBLE)
                   + 1e-9, 4) AS epochs,
             desired > cap AS capped,
             CAST(floor(2.0 * tot) AS BIGINT) AS budget
      FROM m
    )
    SELECT source, n_docs, n_tokens, mix_weight, alloc_tokens, epochs, capped,
           budget - (SELECT sum(alloc_tokens) FROM planned) AS unallocated_tokens
    FROM planned
    """,
)
def x100_token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sampling plan (2x corpus budget, sqrt-temperature
    weights, 4-epoch repetition cap): per-source allocation, epoch
    count, cap attribution, and the unallocated remainder — the
    sampler-configuration table of a data-mixture run.  Cross-source
    float folds run over ONE sorted collected array (sources are
    vocabulary-sized) so summation order — and therefore every
    hashed double — is engine-identical."""
    from ..operators.curation import token_budget_plan

    docs = load_table(spark, sf_dir, "documents")
    return token_budget_plan(docs)



# x101: the payload is PLANTED deterministically (x45's precedent for
# synthesizing the modality the testdata lacks): docs sharing
# doc_id % 50 get a byte-identical 640-char md5-repeat prefix and a
# 0-2 char text suffix, so same-suffix-length group-mates hash
# identically (hamming 0) and cross-length mates differ by a few
# gradient bits — exercising both the blocking and the exact verify.
_X101_PAYLOAD_SQL = (
    "repeat(md5(CAST(doc_id % 50 AS VARCHAR)), 20)"
    " || substr(text, 1, CAST(doc_id % 3 AS INT))"
)


def _x101_word_sql(w: int) -> str:
    """dHash word w as SQL over the px grid — mirrors multimodal.phash64
    bit for bit (bit j of word w: px[r*9+c] < px[r*9+c+1])."""
    terms = []
    for j in range(16):
        bit = w * 16 + j
        r, c = bit // 8, bit % 8
        terms.append(
            f"(CASE WHEN px[{r * 9 + c + 1}] < px[{r * 9 + c + 2}]"
            f" THEN {1 << j} ELSE 0 END)"
        )
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


@query(
    "x101_phash_image_neardup",
    oracle=f"""
    WITH p AS (
      SELECT doc_id, {_X101_PAYLOAD_SQL} AS t FROM documents
    ), g AS (
      SELECT doc_id, strlen(t) AS n, t FROM p
    ), grid AS (
      -- the fake_pixel_grid stand-in verbatim: byte k*n//72 of the
      -- payload (ASCII corpus: ascii(substr) == the utf-8 byte)
      SELECT doc_id,
             list_transform(range(0, 72),
               k -> CASE WHEN n = 0 THEN 0
                         ELSE ascii(substr(t, CAST((k * n) // 72 AS INT) + 1, 1)) END)
               AS px
      FROM g
    ), sig AS (
      SELECT doc_id,
             {_x101_word_sql(0)} AS band0,
             {_x101_word_sql(1)} AS band1,
             {_x101_word_sql(2)} AS band2,
             {_x101_word_sql(3)} AS band3
      FROM grid
    ), banded AS (
      SELECT doc_id, band0, band1, band2, band3, b.i AS band,
             CASE b.i WHEN 0 THEN band0 WHEN 1 THEN band1
                      WHEN 2 THEN band2 ELSE band3 END AS bval
      FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS i) b
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
             a.band0 AS a0, a.band1 AS a1, a.band2 AS a2, a.band3 AS a3,
             c.band0 AS c0, c.band1 AS c1, c.band2 AS c2, c.band3 AS c3
      FROM banded a
      JOIN banded c ON a.band = c.band AND a.bval = c.bval AND a.doc_id < c.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(a0, c0)) + bit_count(xor(a1, c1))
              + bit_count(xor(a2, c2)) + bit_count(xor(a3, c3)) AS BIGINT) AS hamming,
           false AS block_truncated
    FROM pairs
    WHERE bit_count(xor(a0, c0)) + bit_count(xor(a1, c1))
        + bit_count(xor(a2, c2)) + bit_count(xor(a3, c3)) <= 3
    """,
)
def x101_phash_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate detection by perceptual dHash over the
    multimodal binary column: decode-to-9x8-gray-grid (Arrow
    mapInPandas — real Pillow resample when importable, the
    deterministic byte-stride stand-in here), row-gradient dHash words
    in pure codegen, then the SAME banded-Hamming dataflow as text
    SimHash (operators/dedup.hamming_band_pairs).  The payload is
    planted per doc group so the testdata exercises hamming-0 and
    small-hamming pairs; the stub grid is mirrored byte-for-byte by
    the oracle, so the whole pipeline — Python batch boundary
    included — is value-checked."""
    from ..operators.multimodal import phash_neardup_pairs

    docs = load_table(spark, sf_dir, "documents")
    payload = F.concat(
        F.repeat(F.md5((F.col("doc_id") % 50).cast("string")), 20),
        F.expr("substring(text, 1, CAST(doc_id % 3 AS INT))"),
    )
    with_payload = docs.select(
        "doc_id", F.encode(payload, "utf-8").alias("payload")
    )
    return phash_neardup_pairs(with_payload, max_hamming=3)


@query(
    "x102_doc_fate",
    oracle=f"""
    WITH RECURSIVE
    train AS (SELECT doc_id, text FROM documents WHERE doc_id % 20 <> 0),
    eval_docs AS (SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0),
    tk AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks FROM train
    ), tri AS (
      SELECT doc_id, toks,
             list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
                            i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])) AS tris
      FROM tk
    ), m AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             list_sum(list_transform(toks, x -> length(x)))
               / CAST(len(toks) AS DOUBLE) AS mean_word_len,
             CAST(len(list_filter(toks,
               x -> x IN ('the','a','of','and','to','in','is','it','that','for')))
               AS BIGINT) AS stop_hits,
             len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
               / CAST(len(toks) AS DOUBLE) AS alpha_frac,
             1.0 - len(list_distinct(tris)) / CAST(len(tris) AS DOUBLE)
               AS dup_trigram_frac
      FROM tri
    ), fl AS (
      SELECT doc_id, n_words,
             n_words BETWEEN 30 AND 10000 AS r_len,
             mean_word_len BETWEEN 3.0 AND 10.0 AS r_word_len,
             stop_hits >= 2 AS r_stop,
             alpha_frac >= 0.8 AS r_alpha,
             dup_trigram_frac <= 0.1 AS r_dup
      FROM m
    ), q AS (
      SELECT doc_id FROM fl
      WHERE r_len AND r_word_len AND r_stop AND r_alpha AND r_dup
    ), fp AS (
      SELECT d.doc_id,
             substr(md5(regexp_replace(trim(lower(d.text)), '\\s+', ' ', 'g')), 1, 16)
               AS fingerprint
      FROM train d JOIN q USING (doc_id)
    ), canon AS (
      SELECT fingerprint, min(doc_id) AS canonical_id FROM fp GROUP BY fingerprint
    ), ec AS (
      SELECT fp.doc_id, canon.canonical_id
      FROM fp JOIN canon USING (fingerprint)
    ), es AS (
      SELECT doc_id FROM ec WHERE doc_id = canonical_id
    ), s2corpus AS (
      SELECT d.doc_id, d.text FROM train d JOIN es USING (doc_id)
    ), prs AS (
      SELECT doc_a, doc_b FROM ({_X94_PAIRS_ON_SURVIVORS})
    ), edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM prs
      UNION
      SELECT doc_b, doc_a FROM prs
    ), reach(id, comp) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.id
    ), comp AS (
      SELECT id, min(comp) AS component FROM reach GROUP BY id
    ), ns AS (
      SELECT es.doc_id
      FROM es LEFT JOIN comp ON comp.id = es.doc_id
      WHERE comp.id IS NULL OR comp.component = es.doc_id
    ), egt AS (
      SELECT string_split(lower(text), ' ') AS t FROM eval_docs
    ), eg AS (
      SELECT DISTINCT ('0x' || substr(md5(g), 1, 15))::BIGINT AS gram
      FROM (SELECT unnest(list_distinct(list_transform(
              range(1, greatest(len(t) - 4, 1) + 1),
              i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4])))) AS g
            FROM egt)
    ), ngt AS (
      SELECT s.doc_id, string_split(lower(s.text), ' ') AS t
      FROM s2corpus s JOIN ns USING (doc_id)
    ), tg AS (
      SELECT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT AS gram
      FROM (SELECT doc_id, unnest(list_distinct(list_transform(
              range(1, greatest(len(t) - 4, 1) + 1),
              i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4])))) AS g
            FROM ngt)
    ), dc AS (
      SELECT tg.doc_id,
             round(coalesce(sum(CASE WHEN eg.gram IS NOT NULL THEN 1 END), 0)
                   / CAST(count(*) AS DOUBLE) + 1e-9, 4) AS ratio
      FROM tg LEFT JOIN eg USING (gram) GROUP BY tg.doc_id
    ), verdicts AS (
      SELECT f.doc_id,
             (f.r_len AND f.r_word_len AND f.r_stop AND f.r_alpha AND f.r_dup) AS keep,
             ec.canonical_id,
             (ec.doc_id IS NOT NULL AND ec.doc_id = ec.canonical_id) AS surv_e,
             cm.id IS NOT NULL AS in_comp, cm.component,
             dc.ratio,
             f.r_len, f.r_word_len, f.r_stop, f.r_alpha, f.r_dup
      FROM fl f
      LEFT JOIN ec ON ec.doc_id = f.doc_id
      LEFT JOIN comp cm ON cm.id = f.doc_id
      LEFT JOIN dc ON dc.doc_id = f.doc_id
    )
    SELECT doc_id,
           CASE WHEN NOT keep THEN 'removed_quality'
                WHEN NOT surv_e THEN 'removed_exact_dup'
                WHEN in_comp AND component <> doc_id THEN 'removed_near_dup'
                WHEN ratio >= 0.2 THEN 'removed_contaminated'
                ELSE 'kept' END AS fate,
           CASE WHEN NOT keep THEN
             CASE WHEN NOT r_len THEN 'r_len'
                  WHEN NOT r_word_len THEN 'r_word_len'
                  WHEN NOT r_stop THEN 'r_stop'
                  WHEN NOT r_alpha THEN 'r_alpha'
                  ELSE 'r_dup' END END AS failed_rule,
           CASE WHEN keep AND NOT surv_e THEN canonical_id END AS canonical_id,
           CASE WHEN surv_e AND in_comp AND component <> doc_id
                THEN component END AS dup_component,
           CASE WHEN surv_e AND (NOT in_comp OR component = doc_id)
                THEN ratio END AS contamination_ratio
    FROM verdicts
    """,
)
def x102_doc_fate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document curation provenance — the audit twin of the x94
    funnel: every train doc's disposition (kept / removed at which
    tier) with typed evidence (first failed Gopher rule, surviving
    exact-dup twin, near-dup cluster label, eval-contamination
    ratio).  A pure projection over the SAME persisted flag frame the
    funnel aggregates (operators/curation.curation_flags +
    doc_fate), so the audit costs no extra corpus work; the oracle
    replays every tier per doc."""
    from ..operators.curation import curation_flags, doc_fate

    docs = load_table(spark, sf_dir, "documents")
    flags = curation_flags(
        docs.filter(F.col("doc_id") % 20 != 0),
        docs.filter(F.col("doc_id") % 20 == 0),
    )
    return doc_fate(flags)



def _x103_word_sql(w: int) -> str:
    """Audio-fingerprint word w as SQL over the 65-element energies
    list ``en`` (structs {s, n}) — mirrors
    multimodal.audio_fingerprint64 bit for bit (cross-multiplied mean
    comparison, no division)."""
    terms = []
    for j in range(16):
        bit = w * 16 + j
        a, b = f"en[{bit + 1}]", f"en[{bit + 2}]"
        terms.append(
            f"(CASE WHEN {a}.s * {b}.n < {b}.s * {a}.n"
            f" THEN {1 << j} ELSE 0 END)"
        )
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


@query(
    "x103_audio_fingerprint_neardup",
    oracle=f"""
    WITH p AS (
      SELECT doc_id, {_X101_PAYLOAD_SQL} AS t FROM documents
    ), g AS (
      SELECT doc_id, strlen(t) AS n, t FROM p
    ), sam AS (
      -- the fake_decode_audio stand-in verbatim: (byte - 128) / 128.0
      SELECT doc_id, n,
             list_transform(range(1, n + 1),
               i -> (ascii(substr(t, CAST(i AS INT), 1)) - 128) / 128.0) AS s
      FROM g
    ), en AS (
      SELECT doc_id,
             list_transform(range(0, 65), k -> {{
               's': coalesce(list_sum(list_transform(
                      list_slice(s, (k * n) // 65 + 1, ((k + 1) * n) // 65),
                      x -> abs(x))), 0.0),
               'n': CAST(((k + 1) * n) // 65 - (k * n) // 65 AS BIGINT)
             }}) AS en
      FROM sam
    ), sig AS (
      SELECT doc_id,
             {_x103_word_sql(0)} AS band0,
             {_x103_word_sql(1)} AS band1,
             {_x103_word_sql(2)} AS band2,
             {_x103_word_sql(3)} AS band3
      FROM en
    ), banded AS (
      SELECT doc_id, band0, band1, band2, band3, b.i AS band,
             CASE b.i WHEN 0 THEN band0 WHEN 1 THEN band1
                      WHEN 2 THEN band2 ELSE band3 END AS bval
      FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS i) b
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
             a.band0 AS a0, a.band1 AS a1, a.band2 AS a2, a.band3 AS a3,
             c.band0 AS c0, c.band1 AS c1, c.band2 AS c2, c.band3 AS c3
      FROM banded a
      JOIN banded c ON a.band = c.band AND a.bval = c.bval AND a.doc_id < c.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(a0, c0)) + bit_count(xor(a1, c1))
              + bit_count(xor(a2, c2)) + bit_count(xor(a3, c3)) AS BIGINT) AS hamming,
           false AS block_truncated
    FROM pairs
    WHERE bit_count(xor(a0, c0)) + bit_count(xor(a1, c1))
        + bit_count(xor(a2, c2)) + bit_count(xor(a3, c3)) <= 3
    """,
)
def x103_audio_fingerprint_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-duplicate detection over the multimodal binary
    column — the third 64-bit-signature dedup family member: decode
    to samples (Arrow mapInPandas; soundfile when importable, the
    deterministic (byte-128)/128 stand-in here), 65-frame
    energy-gradient fingerprint in pure codegen (exact dyadic sums,
    cross-multiplied mean comparison), then the shared banded-Hamming
    dataflow.  Payloads planted per doc group as in x101; the oracle
    replays decode -> energies -> bits -> banding -> verify."""
    from ..operators.multimodal import audio_neardup_pairs

    docs = load_table(spark, sf_dir, "documents")
    payload = F.concat(
        F.repeat(F.md5((F.col("doc_id") % 50).cast("string")), 20),
        F.expr("substring(text, 1, CAST(doc_id % 3 AS INT))"),
    )
    with_payload = docs.select(
        "doc_id", F.encode(payload, "utf-8").alias("payload")
    )
    return audio_neardup_pairs(with_payload, max_hamming=3)


@query(
    "x104_entity_resolution",
    oracle="""
    WITH RECURSIVE w8 AS (
      SELECT doc_id, (string_split(lower(text), ' '))[1:8] AS w
      FROM documents
    ), recs AS (
      SELECT doc_id AS rec_id, array_to_string(w, ' ') AS mention FROM w8
      UNION ALL
      SELECT doc_id + 100000,
             array_to_string(list_transform(
               list_filter(range(1, len(w) + 1), i -> i != (doc_id % 7) + 2),
               i -> w[i]), ' ')
      FROM w8 WHERE doc_id % 3 = 0
    ), toks AS (
      SELECT rec_id, list_distinct(string_split(mention, ' ')) AS toks FROM recs
    ), ex AS (
      SELECT rec_id, unnest(toks) AS blk FROM toks
    ), dfreq AS (
      SELECT blk, count(*) AS c FROM ex GROUP BY blk
    ), ranked AS (
      SELECT ex.rec_id, ex.blk,
             row_number() OVER (PARTITION BY ex.rec_id ORDER BY d.c, ex.blk) AS rk
      FROM ex JOIN dfreq d USING (blk)
    ), top3 AS (
      SELECT rec_id, blk, rk FROM ranked WHERE rk <= 3
    ), nk AS (
      SELECT rec_id, count(*) AS n FROM top3 GROUP BY rec_id
    ), keys AS (
      SELECT a.rec_id, a.blk || ' ' || b.blk AS blk
      FROM top3 a JOIN top3 b ON a.rec_id = b.rec_id AND a.rk < b.rk
      UNION ALL
      SELECT t.rec_id, t.blk FROM top3 t JOIN nk USING (rec_id) WHERE nk.n = 1
    ), bsz AS (
      SELECT blk, count(*) AS n FROM keys GROUP BY blk
    ), kept AS (
      SELECT k.rec_id, k.blk
      FROM (SELECT rec_id, blk,
                   row_number() OVER (PARTITION BY blk ORDER BY rec_id) AS rn
            FROM keys) k JOIN bsz USING (blk)
      WHERE n >= 2 AND rn <= 128
    ), cand AS (
      SELECT DISTINCT a.rec_id AS id_a, b.rec_id AS id_b
      FROM kept a JOIN kept b ON a.blk = b.blk AND a.rec_id < b.rec_id
    ), verified AS (
      SELECT id_a, id_b
      FROM cand JOIN toks ta ON ta.rec_id = cand.id_a
                JOIN toks tb ON tb.rec_id = cand.id_b
      WHERE CAST(len(list_filter(ta.toks, x -> list_contains(tb.toks, x))) AS DOUBLE)
            / len(list_distinct(list_concat(ta.toks, tb.toks))) >= 0.75
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM verified
      UNION
      SELECT id_b, id_a FROM verified
    ), reach(id, comp) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.id
    ), labels AS (
      SELECT id, min(comp) AS component FROM reach GROUP BY id
    )
    SELECT r.rec_id,
           coalesce(l.component, r.rec_id) AS entity_id,
           count(*) OVER (PARTITION BY coalesce(l.component, r.rec_id)) AS cluster_size,
           r.rec_id = min(r.rec_id) OVER (PARTITION BY coalesce(l.component, r.rec_id))
             AS is_canonical
    FROM recs r LEFT JOIN labels l ON l.id = r.rec_id
    """,
)
def x104_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution over dirty mention records: every document's
    first-8-word mention string plus a deterministic dirty variant
    (one word dropped, keyed by doc id) resolved back onto entities
    via CONJUNCTIVE rare-token-pair blocking -> capped in-block pairs
    -> token-Jaccard verify -> distributed closure -> golden-record
    survivorship.  The composite keys (every pair of a record's
    rarest-3 tokens, in global (df, token) order) are the scale dial
    the r9 record called for (VERDICT r9 item 5): block population is
    the JOINT frequency of two rare tokens instead of one token's df,
    so blocks shrink multiplicatively as the corpus grows, while the
    single-token-drop recall guarantee carries over
    (operators/linkage.rare_token_pair_keys docstring); the oracle
    replays blocking, verification, and the closure (recursive CTE)
    exactly.

    min_jaccard = 0.75 (not the operator's 0.6 default): the higher-
    recall blocking surfaces the incidental 0.6-0.75 similarity band
    among the synthetic low-entropy 8-word mentions, and at 0.6 those
    edges PERCOLATE into one 3,213-record mega-component (measured:
    5,635 verified pairs, closure dominates the runtime).  0.75 sits
    above the corpus's percolation point (1,550 pairs, max cluster
    11) while the planted single-token-drop variants match at
    Jaccard 7/8 = 0.875 with margin — the standard ER practice of
    setting the verify threshold above the transitive-noise band,
    since the closure makes every accepted edge global."""
    from ..operators.linkage import entity_resolve

    docs = load_table(spark, sf_dir, "documents")
    w8 = F.slice(F.split(F.lower(F.col("text")), " "), 1, 8)
    base = docs.select(
        F.col("doc_id").alias("rec_id"), F.array_join(w8, " ").alias("mention")
    )
    drop_idx = F.col("doc_id") % 7 + 2
    variant = docs.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 100000).alias("rec_id"),
        F.array_join(
            F.filter(w8, lambda x, i: (i + F.lit(1)) != drop_idx), " "
        ).alias("mention"),
    )
    return entity_resolve(
        base.unionByName(variant), conjunctive=True, min_jaccard=0.75
    )


@query(
    "x105_mmr_rerank",
    oracle="""
    WITH RECURSIVE dl AS (
      SELECT doc_id, CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS dl
      FROM documents
    ), stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM dl
    ), tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM tok WHERE term IN ('customer', 'vector', 'merge', 'stream')
      GROUP BY doc_id, term
    ), dfreq AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
    ), scored AS (
      SELECT tf.doc_id,
             round(sum(
               ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl))
             ) + 1e-9, 6) AS rel
      FROM tf
      JOIN dfreq d USING (term)
      JOIN dl l USING (doc_id)
      CROSS JOIN stats s
      GROUP BY tf.doc_id
    ), short AS (
      SELECT sc.doc_id, sc.rel, e.embedding::DOUBLE[] AS v
      FROM (SELECT doc_id, rel FROM scored
            ORDER BY rel DESC, doc_id LIMIT 20) sc
      JOIN embeddings e ON e.vec_id = sc.doc_id
    ), sims AS (
      SELECT a.doc_id AS da, b.doc_id AS db,
             round(list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(b.v, b.v))) + 1e-9, 4) AS sim
      FROM short a JOIN short b ON a.doc_id <> b.doc_id
    ), sel AS (
      SELECT 0 AS step, doc_id, rel, CAST(0.0 AS DOUBLE) AS ms, FALSE AS picked
      FROM short
      UNION ALL
      SELECT v.step + 1, v.doc_id, v.rel,
             CASE WHEN v.doc_id = p.pid THEN v.ms
                  ELSE greatest(v.ms, coalesce(m.sim, 0.0)) END,
             v.doc_id = p.pid
      FROM sel v
      CROSS JOIN (SELECT t.doc_id AS pid FROM sel t WHERE NOT t.picked
                  ORDER BY 0.7 * t.rel - 0.3 * t.ms DESC, t.doc_id
                  LIMIT 1) p
      LEFT JOIN sims m ON m.da = v.doc_id AND m.db = p.pid
      WHERE NOT v.picked AND v.step < 10
    )
    SELECT CAST(step AS INT) AS pick_rank, doc_id, rel AS rel_score,
           ms AS max_sim_prior
    FROM sel WHERE picked
    """,
)
def x105_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified search results: BM25 top-20 shortlist ->
    embedding join -> iterative maximal-marginal-relevance pick of 10
    (lam=0.7 relevance, mu=0.3 redundancy; engine-exact double
    literals, 6-dp relevance, 4-dp similarities).  The oracle unrolls
    the sequential selection into a recursive CTE with a RUNNING
    max-similarity per remaining candidate — the same incremental
    update the driver loop applies — so every pick, including tie
    order, is value-checked."""
    from ..operators.retrieval import bm25_topk, mmr_rerank

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    short = bm25_topk(
        docs, ["customer", "vector", "merge", "stream"], topk=20, min_token_len=3
    )
    return mmr_rerank(short, emb, k=10, lam=0.7, mu=0.3)


@query(
    "x106_embedding_drift",
    oracle="""
    WITH v AS (
      SELECT vec_id % 2 AS side, label, embedding::DOUBLE[] AS v,
             CAST(trunc(sqrt(list_dot_product(embedding::DOUBLE[],
                                              embedding::DOUBLE[])) * 10000)
                  AS BIGINT) AS normq
      FROM embeddings
    ), per_side AS (
      SELECT label, side, count(*) AS n, sum(normq) AS normq_sum
      FROM v GROUP BY label, side
    ), bd AS (
      SELECT label, side, u.i AS dim,
             sum(CAST(trunc(v.v[u.i] * 1000) AS BIGINT)) AS sumq
      FROM v, unnest(range(1, len(v.v) + 1)) AS u(i)
      GROUP BY label, side, u.i
    ), c AS (
      SELECT label, side, list(sumq ORDER BY dim) AS sums
      FROM bd GROUP BY label, side
    ), sides AS (
      SELECT c.label, c.side, p.n,
             list_transform(c.sums, s -> s / 1000.0 / p.n) AS centroid,
             p.normq_sum / 10000.0 / p.n AS mean_norm
      FROM c JOIN per_side p ON p.label = c.label AND p.side = c.side
    ), o AS (
      SELECT label, n AS n_old, centroid AS c_old, mean_norm AS norm_old
      FROM sides WHERE side = 0
    ), nn AS (
      SELECT label, n AS n_new, centroid AS c_new, mean_norm AS norm_new
      FROM sides WHERE side = 1
    ), j AS (
      SELECT label, n_old, n_new,
             round(list_dot_product(c_old, c_new)
                   / (sqrt(list_dot_product(c_old, c_old))
                      * sqrt(list_dot_product(c_new, c_new))) + 1e-9, 4) + 0.0
               AS centroid_cos,
             round(norm_old + 1e-9, 4) + 0.0 AS mean_norm_old,
             round(norm_new + 1e-9, 4) + 0.0 AS mean_norm_new,
             round(norm_new - norm_old + 1e-9, 4) + 0.0 AS norm_delta
      FROM o FULL JOIN nn USING (label)
    )
    SELECT label, n_old, n_new, centroid_cos, mean_norm_old, mean_norm_new,
           norm_delta,
           (centroid_cos < 0.98 OR abs(norm_delta) > 0.1) AS drift
    FROM j
    """,
)
def x106_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift between two snapshots (vec_id parity
    plays old/new crawls), per label: exact-BIGINT portable centroids
    (order-independent quantized sums -> two IEEE divisions), centroid
    cosine between sides, quantized mean-norm deltas, and a drift
    flag — the monitor that catches a silent encoder re-version or a
    content shift inside one source.  One union scan -> one
    (key, side, dim) aggregate; output is keys-sized."""
    from ..operators.embed import centroid_drift

    emb = load_table(spark, sf_dir, "embeddings")
    return centroid_drift(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
        key_col="label",
    )


def _skew_profile_block(col: str) -> str:
    """One engine-exact skew-profile row for events.{col} — frequency
    table, frequency-of-frequencies percentile walk, top-5 CSV."""
    return f"""
    SELECT * FROM (
      WITH f AS (
        SELECT CAST({col} AS VARCHAR) AS k, count(*) AS freq
        FROM events GROUP BY 1
      ), ff AS (
        SELECT freq, count(*) AS nk FROM f GROUP BY freq
      ), tot AS (
        SELECT CAST(sum(nk) AS BIGINT) AS n_keys,
               CAST(sum(freq * nk) AS BIGINT) AS n_rows,
               max(freq) AS max_freq
        FROM ff
      ), cum AS (
        SELECT freq, sum(nk) OVER (ORDER BY freq) AS ck FROM ff
      ), p50 AS (
        SELECT min(freq) AS p50_freq FROM cum, tot
        WHERE ck >= ceil(n_keys * 0.5)
      ), p99 AS (
        SELECT min(freq) AS p99_freq FROM cum, tot
        WHERE ck >= ceil(n_keys * 0.99)
      ), top AS (
        SELECT string_agg(k || ':' || freq, ',' ORDER BY freq DESC, k)
          AS top_keys_csv
        FROM (SELECT k, freq FROM f ORDER BY freq DESC, k LIMIT 5)
      )
      SELECT '{col}' AS key_column, n_rows, n_keys, max_freq, p50_freq,
             p99_freq,
             round(n_rows / CAST(n_keys AS DOUBLE) + 1e-9, 4) + 0.0
               AS mean_freq,
             round(max_freq / CAST(p50_freq AS DOUBLE) + 1e-9, 4) + 0.0
               AS skew_ratio,
             CAST(ceil(max_freq / CAST(p99_freq AS DOUBLE)) AS BIGINT)
               AS suggested_salt,
             top_keys_csv
      FROM tot, p50, p99, top
    )"""


@query(
    "x107_key_skew_profile",
    oracle=_skew_profile_block("user_id")
    + "\n    UNION ALL\n"
    + _skew_profile_block("event_type"),
)
def x107_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics for the event stream's two candidate
    shuffle keys: one frequency aggregate per key, percentile walk
    over the bounded frequency-of-frequencies histogram (DDSketch
    rank-walk discipline), TakeOrderedAndProject hot-key top-5, and
    the ceil(max/p99) salt recommendation that operators/skew.py
    would consume — the decision report a 100 TB join runs FIRST."""
    from ..operators.profile import key_skew_profile

    events = load_table(spark, sf_dir, "events")
    return key_skew_profile(events, "user_id").unionByName(
        key_skew_profile(events, "event_type")
    )


@query(
    "x108_shard_manifest",
    oracle="""
    WITH d AS (
      SELECT ('0x' || substr(md5('shard|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               % 16 AS shard_id,
             doc_id,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
             CAST(length(text) AS BIGINT) AS n_chars,
             ('0x' || substr(md5('content|' || text), 1, 15))::BIGINT AS fp
      FROM documents
    )
    SELECT CAST(shard_id AS INT) AS shard_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           CAST(sum(n_chars) AS BIGINT) AS n_chars,
           min(doc_id) AS min_doc_id,
           max(doc_id) AS max_doc_id,
           bit_xor(fp) AS checksum_xor,
           CAST(sum(fp % 1000000007) AS BIGINT) AS checksum_sum
    FROM d GROUP BY shard_id
    """,
)
def x108_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed shard manifest: hash-sharded corpus with two
    COMMUTATIVE per-shard checksums (bit_xor + modular sum of 60-bit
    content fingerprints) plus volume and id-range stats — invariant
    to partitioning and task order by construction, so local[32] and
    a 1000-executor run compare bit-equal, and any flipped byte in
    any document flips both checksums.  One scan, one aggregate."""
    from ..operators.curation import shard_manifest

    docs = load_table(spark, sf_dir, "documents")
    return shard_manifest(docs, n_shards=16)


def _silhouette_oracle(k: int = 8, iterations: int = 2) -> str:
    """x37's unrolled Lloyd CTEs + the centroid-silhouette scoring:
    per point the best/second rounded sims to the FINAL centroids,
    s = (best - second) / (1 - second), quantized-BIGINT cluster
    means — every stage engine-exact."""
    ctes, _ = _kmeans_ctes(k, iterations)
    return f"""
    WITH {ctes},
    p AS (
      SELECT s.id, c.cell, {_cos4('s.v', 'c.centroid')} AS sim,
             row_number() OVER (PARTITION BY s.id
               ORDER BY {_cos4('s.v', 'c.centroid')} DESC, c.cell) AS rn
      FROM v s CROSS JOIN c{iterations} c
    ), b AS (
      SELECT id, max(CASE WHEN rn = 1 THEN cell END) AS cell,
             max(CASE WHEN rn = 1 THEN sim END) AS best_sim,
             max(CASE WHEN rn = 2 THEN sim END) AS second_sim
      FROM p WHERE rn <= 2 GROUP BY id
    ), sil AS (
      SELECT cell, best_sim,
             CASE WHEN 1.0 - second_sim > 0
                  THEN (best_sim - second_sim) / (1.0 - second_sim)
                  ELSE 0.0 END AS s
      FROM b
    )
    SELECT cell, count(*) AS n_points,
           round(sum(CAST(trunc(s * 1000000) AS BIGINT)) / 1000000.0
                 / count(*) + 1e-9, 4) + 0.0 AS mean_silhouette,
           round(sum(CAST(trunc(best_sim * 10000) AS BIGINT)) / 10000.0
                 / count(*) + 1e-9, 4) + 0.0 AS mean_sim,
           round(sum(CAST(trunc(s * 1000000) AS BIGINT)) / 1000000.0
                 / count(*) + 1e-9, 4) + 0.0 < 0.05 AS weak
    FROM sil GROUP BY cell
    """


@query("x109_cluster_silhouette", oracle=_silhouette_oracle())
def x109_cluster_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-quality silhouette per portable-k-means cell:
    centroid-form s = (best_sim - second_sim)/(1 - second_sim) with
    the trained centroids broadcast as one array row (the corpus never
    shuffles for scoring) and quantized-BIGINT cluster means.  The
    oracle chains x37's unrolled Lloyd CTEs with the scoring replay,
    so train -> score -> aggregate is value-checked end to end."""
    from ..operators.similarity import cluster_silhouette

    emb = load_table(spark, sf_dir, "embeddings")
    return cluster_silhouette(emb, k=8, iterations=2)


def _manifest_sql(where: str) -> str:
    """x108's manifest replay with an injectable corpus filter."""
    return f"""
      SELECT CAST(shard_id AS INT) AS shard_id,
             count(*) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
             bit_xor(fp) AS checksum_xor,
             CAST(sum(fp % 1000000007) AS BIGINT) AS checksum_sum
      FROM (
        SELECT ('0x' || substr(md5('shard|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                 % 16 AS shard_id,
               doc_id,
               CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
               ('0x' || substr(md5('content|' || text), 1, 15))::BIGINT AS fp
        FROM documents {where}
      ) GROUP BY shard_id"""


@query(
    "x110_manifest_diff",
    oracle=f"""
    WITH o AS ({_manifest_sql('')}),
         n AS ({_manifest_sql('WHERE doc_id % 97 <> 13')}),
    j AS (
      SELECT shard_id,
             o.n_docs AS n_docs_old, n.n_docs AS n_docs_new,
             o.n_tokens AS tok_old, n.n_tokens AS tok_new,
             o.checksum_xor AS xor_old, n.checksum_xor AS xor_new,
             o.checksum_sum AS sum_old, n.checksum_sum AS sum_new
      FROM o FULL JOIN n USING (shard_id)
    )
    SELECT shard_id,
           coalesce(n_docs_old, 0) AS n_docs_old,
           coalesce(n_docs_new, 0) AS n_docs_new,
           coalesce(n_docs_new, 0) - coalesce(n_docs_old, 0) AS docs_delta,
           coalesce(tok_new, 0) - coalesce(tok_old, 0) AS tokens_delta,
           coalesce(xor_old <> xor_new OR sum_old <> sum_new, TRUE)
             AS content_changed,
           CASE WHEN n_docs_old IS NULL THEN 'added'
                WHEN n_docs_new IS NULL THEN 'removed'
                WHEN xor_old <> xor_new OR sum_old <> sum_new THEN 'changed'
                ELSE 'unchanged' END AS status
    FROM j
    """,
)
def x110_manifest_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-validation diff between two shard manifests: the
    full corpus vs the corpus minus a small removal set — only shards
    whose commutative checksums moved report 'changed', so downstream
    re-validation/re-indexing touches exactly those.  The diff itself
    is an n_shards-row outer join, trivial at any corpus size."""
    from ..operators.curation import manifest_diff, shard_manifest

    docs = load_table(spark, sf_dir, "documents")
    return manifest_diff(
        shard_manifest(docs, n_shards=16),
        shard_manifest(docs.filter(F.col("doc_id") % 97 != 13), n_shards=16),
    )


@query(
    "x111_srm_check",
    oracle="""
    WITH u AS (
      SELECT DISTINCT CAST(user_id AS VARCHAR) AS u FROM events
    ), a AS (
      SELECT ('0x' || substr(md5('srm|' || u), 1, 15))::BIGINT % 2 AS arm FROM u
    ), arms AS (
      SELECT arm, count(*) AS n_units FROM a GROUP BY arm
    ), r AS (
      SELECT ('0x' || substr(md5('srm|' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2
               AS arm,
             count(*) AS n_rows
      FROM events GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(n_units) AS BIGINT) AS n_total FROM arms
    ), terms AS (
      SELECT arm, n_units,
             CAST(trunc(((n_units - n_total / 2.0) * (n_units - n_total / 2.0)
                         / (n_total / 2.0)) * 1000000) AS BIGINT) AS termq
      FROM arms, tot
    ), chi AS (
      SELECT round(sum(termq) / 1000000.0 + 1e-9, 4) + 0.0 AS chi2 FROM terms
    )
    SELECT t.arm, t.n_units, coalesce(r.n_rows, 0) AS n_rows,
           round(tot.n_total / 2.0 + 1e-9, 4) + 0.0 AS expected_units,
           chi.chi2,
           chi.chi2 > 3.841 AS srm_flag
    FROM terms t LEFT JOIN r USING (arm), tot, chi
    """,
)
def x111_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch audit of the deterministic 50/50 user
    split over the event stream: per-arm distinct-unit counts,
    order-independent quantized chi-square, and the p<0.05 flag —
    the assignment-health gate run before any split is trusted.
    One distinct + one k-row aggregate; the statistic rides broadcast
    back onto the arm rows."""
    from ..operators.profile import srm_check

    events = load_table(spark, sf_dir, "events")
    return srm_check(events, "user_id", n_arms=2)


@query(
    "x112_touch_attribution",
    oracle="""
    WITH e AS (
      SELECT user_id AS u, epoch_ms(ts) AS ms, event_type AS et, value AS val,
             CASE event_type WHEN 'click' THEN epoch_ms(ts) * 10 + 1
                             WHEN 'view' THEN epoch_ms(ts) * 10 + 2 END
               AS touch_code
      FROM events
    ), wnd AS (
      SELECT *,
             min(touch_code) OVER (PARTITION BY u ORDER BY ms
               RANGE BETWEEN 86400000 PRECEDING AND 1 PRECEDING) AS fc,
             max(touch_code) OVER (PARTITION BY u ORDER BY ms
               RANGE BETWEEN 86400000 PRECEDING AND 1 PRECEDING) AS lc
      FROM e
    ), conv AS (
      SELECT CASE WHEN fc IS NULL THEN 'none'
                  WHEN fc % 10 = 1 THEN 'click' ELSE 'view' END AS first_touch,
             CASE WHEN lc IS NULL THEN 'none'
                  WHEN lc % 10 = 1 THEN 'click' ELSE 'view' END AS last_touch,
             CAST(trunc(val * 100) AS BIGINT) AS cents,
             CASE WHEN lc IS NOT NULL THEN ms - lc // 10 END AS gap_ms
      FROM wnd WHERE et = 'purchase'
    )
    SELECT first_touch, last_touch, count(*) AS n_conversions,
           round(sum(cents) / 100.0 + 1e-9, 2) + 0.0 AS total_value,
           round(sum(gap_ms) / 1000.0 / count(gap_ms) + 1e-9, 2) + 0.0
             AS mean_gap_sec
    FROM conv GROUP BY first_touch, last_touch
    """,
)
def x112_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-/last-touch conversion attribution over the event stream:
    touches encode as ms*10+type_code, ONE user-keyed RANGE window
    [-24h, -1ms] recovers each conversion's opening and closing
    touchpoint (no self-join of the event log), cents/ms quantized
    sums keep the report engine-exact.  Same-millisecond ties break
    by type code on both engines."""
    from ..operators.timeseries import touch_attribution

    events = load_table(spark, sf_dir, "events")
    return touch_attribution(events)


@query(
    "x113_cusum_changepoints",
    oracle="""
    WITH sparse AS (
      SELECT date_trunc('hour', ts)::TIMESTAMP AS h, event_type AS t,
             count(*) AS cnt
      FROM events GROUP BY 1, 2
    ), grid AS (
      SELECT g.h, ty.t
      FROM (SELECT unnest(generate_series((SELECT min(h) FROM sparse),
                                          (SELECT max(h) FROM sparse),
                                          INTERVAL 1 HOUR)) AS h) g
      CROSS JOIN (SELECT DISTINCT t FROM sparse) ty
    ), hourly AS (
      SELECT grid.h, grid.t, coalesce(sparse.cnt, 0) AS cnt
      FROM grid LEFT JOIN sparse ON grid.h = sparse.h AND grid.t = sparse.t
    ), stats AS (
      SELECT t, count(*) AS n, CAST(sum(cnt) AS BIGINT) AS s1,
             CAST(sum(cnt * cnt) AS BIGINT) AS s2
      FROM hourly GROUP BY 1
    ), scored AS (
      SELECT hh.t, hh.h, hh.cnt,
             (CAST(hh.cnt AS DOUBLE)
              - CAST(s.s1 AS DOUBLE) / CAST(s.n AS DOUBLE))
             / sqrt((CAST(s.s2 AS DOUBLE)
                     - CAST(s.s1 AS DOUBLE) * CAST(s.s1 AS DOUBLE)
                       / CAST(s.n AS DOUBLE))
                    / (CAST(s.n AS DOUBLE) - 1.0)) AS y
      FROM hourly hh JOIN stats s ON hh.t = s.t
      WHERE s.n >= 3
        AND (CAST(s.s2 AS DOUBLE)
             - CAST(s.s1 AS DOUBLE) * CAST(s.s1 AS DOUBLE)
               / CAST(s.n AS DOUBLE))
            / (CAST(s.n AS DOUBLE) - 1.0) > 0
    ), quant AS (
      SELECT t, h, cnt,
             CAST(trunc((y - 0.5) * 1000000.0) AS BIGINT) AS aq,
             CAST(trunc((-y - 0.5) * 1000000.0) AS BIGINT) AS bq
      FROM scored
    ), pfx AS (
      SELECT t, h, cnt, sum(aq) OVER w AS pp, sum(bq) OVER w AS pn
      FROM quant
      WINDOW w AS (PARTITION BY t ORDER BY h ROWS UNBOUNDED PRECEDING)
    ), cs AS (
      SELECT t, h, cnt,
             pp - least(min(pp) OVER w, 0) AS sp,
             pn - least(min(pn) OVER w, 0) AS sn
      FROM pfx
      WINDOW w AS (PARTITION BY t ORDER BY h ROWS UNBOUNDED PRECEDING)
    )
    SELECT t AS event_type, h AS hour, cnt,
           round(sp / 1000000.0 + 1e-9, 4) + 0.0 AS cusum_up,
           round(sn / 1000000.0 + 1e-9, 4) + 0.0 AS cusum_down,
           sp > 5000000 AS shift_up,
           sn > 5000000 AS shift_down
    FROM cs
    """,
)
def x113_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM level-shift detection per event type on the
    dense hourly grid.  The recursion S_i = max(0, S_{i-1} + a_i) is
    rewritten EXACTLY as prefix-sum minus running prefix-min — two
    plain ROWS windows, fully codegen on both engines — and the
    standardized residuals are trunc-quantized to BIGINT micro-units
    first, so every running statistic is exact integer arithmetic.
    ONE event-log pass; the windows run on the hours x types grid."""
    from ..operators.timeseries import cusum_changepoints

    events = load_table(spark, sf_dir, "events")
    return cusum_changepoints(events, slack=0.5, threshold=5.0)


@query(
    "x114_pareto_frontier",
    oracle="""
    WITH s AS (
      SELECT doc_id,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
             CAST(trunc(CAST(len(list_distinct(string_split(lower(text), ' ')))
                             AS DOUBLE) * 1000000.0
                        / CAST(len(string_split(lower(text), ' ')) AS BIGINT))
                  AS BIGINT) AS qq
      FROM documents
    ), d AS (
      SELECT *,
             max(qq) OVER (ORDER BY n_tokens
               RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevq,
             max(qq) OVER (ORDER BY n_tokens
               RANGE BETWEEN CURRENT ROW AND CURRENT ROW) AS peerq
      FROM s
    )
    SELECT doc_id, n_tokens,
           round(qq / 1000000.0 + 1e-9, 4) + 0.0 AS richness
    FROM d
    WHERE (prevq IS NULL OR prevq < qq) AND peerq = qq
    """,
)
def x114_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline selection of the token-budget/vocabulary-richness
    trade-off curve.  The Spark plan never runs a corpus-sized global
    window: per-bucket max richness (tiny agg) broadcasts a running
    lower-bucket max back for a frontier-LOSSLESS map-side prune, and
    the exact two-window skyline runs on the pruned survivor set only.
    The oracle computes the brute-force skyline — identical rows, by
    the losslessness argument in the operator docstring."""
    from ..operators.curation import pareto_frontier

    docs = load_table(spark, sf_dir, "documents")
    return pareto_frontier(docs)


@query(
    "x115_quantile_normalized_selection",
    oracle="""
    WITH s AS (
      SELECT doc_id, source,
             CAST(trunc(CAST(len(list_distinct(string_split(lower(text), ' ')))
                             AS DOUBLE) * 1000000.0
                        / CAST(len(string_split(lower(text), ' ')) AS BIGINT))
                  AS BIGINT) AS qq
      FROM documents
    ), r AS (
      SELECT doc_id, source, qq,
             percent_rank() OVER (PARTITION BY source ORDER BY qq) AS pr0,
             count(*) OVER (PARTITION BY source) AS n
      FROM s
    )
    SELECT doc_id, source,
           round(qq / 1000000.0 + 1e-9, 4) + 0.0 AS richness,
           round(CASE WHEN n = 1 THEN 0.0 ELSE pr0 END + 1e-9, 6) + 0.0
             AS pct_rank,
           CASE WHEN n = 1 THEN 0.0 ELSE pr0 END >= 0.75 AS selected
    FROM r
    """,
)
def x115_quantile_normalized_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-source percent-rank calibration of the richness signal
    with top-25%-per-source selection.  Spark computes ranks from a
    tiny (source, score) histogram + broadcast join-back — the corpus
    is never globally sorted; the oracle's native percent_rank()
    window cross-validates the histogram rewrite (#strictly-lower /
    (n-1), ties share a rank)."""
    from ..operators.curation import quantile_normalized_selection

    docs = load_table(spark, sf_dir, "documents")
    return quantile_normalized_selection(docs, frac=0.25)


@query(
    "x116_robust_outliers",
    oracle="""
    WITH sparse AS (
      SELECT date_trunc('hour', ts)::TIMESTAMP AS h, event_type AS t,
             count(*) AS cnt
      FROM events GROUP BY 1, 2
    ), grid AS (
      SELECT g.h, ty.t
      FROM (SELECT unnest(generate_series((SELECT min(h) FROM sparse),
                                          (SELECT max(h) FROM sparse),
                                          INTERVAL 1 HOUR)) AS h) g
      CROSS JOIN (SELECT DISTINCT t FROM sparse) ty
    ), hourly AS (
      SELECT grid.h, grid.t, coalesce(sparse.cnt, 0) AS cnt
      FROM grid LEFT JOIN sparse ON grid.h = sparse.h AND grid.t = sparse.t
    ), med AS (
      SELECT t, CAST(2 * median(cnt) AS BIGINT) AS med2
      FROM hourly GROUP BY 1
    ), dev AS (
      SELECT hh.t, hh.h, hh.cnt, m.med2,
             abs(2 * hh.cnt - m.med2) AS d2
      FROM hourly hh JOIN med m ON hh.t = m.t
    ), mad AS (
      SELECT t, median(d2) AS md2 FROM dev GROUP BY 1
    ), z AS (
      SELECT d.t, d.h, d.cnt, d.med2,
             CASE WHEN m.md2 > 0
                  THEN CAST(2 * d.cnt - d.med2 AS DOUBLE) / (1.4826 * m.md2)
                  WHEN 2 * d.cnt - d.med2 > 0 THEN 9999.0
                  WHEN 2 * d.cnt - d.med2 < 0 THEN -9999.0
                  ELSE 0.0 END AS zv
      FROM dev d JOIN mad m ON d.t = m.t
    )
    SELECT t AS event_type, h AS hour, cnt,
           med2 / 2.0 AS median_cnt,
           round(zv + 1e-9, 4) + 0.0 AS robust_z,
           abs(zv) > 3.5 AS is_outlier
    FROM z
    """,
)
def x116_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust outlier scoring per event type on the dense
    hourly grid — the estimator family that survives contamination by
    the very outliers being hunted.  Spark computes BOTH exact medians
    from count histograms with cumulative counts (never a data sort);
    the oracle's native median() cross-validates the rewrite, with
    doubled deviations keeping every median an exact integer."""
    from ..operators.timeseries import robust_outliers

    events = load_table(spark, sf_dir, "events")
    return robust_outliers(events, z_threshold=3.5)


@query(
    "x117_rater_agreement",
    oracle="""
    WITH t AS (
      SELECT source, string_split(lower(text), ' ') AS toks, text FROM documents
    ), tri AS (
      SELECT source, toks, text,
             list_transform(
               range(1, greatest(len(toks) - 2, 1) + 1),
               i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])
             ) AS tris
      FROM t
    ), m AS (
      SELECT source,
             CAST(len(toks) AS BIGINT) AS n_words,
             list_sum(list_transform(toks, x -> length(x)))
               / CAST(len(toks) AS DOUBLE) AS mean_word_len,
             CAST(len(list_filter(toks,
               x -> x IN ('the','a','of','and','to','in','is','it','that','for')))
               AS BIGINT) AS stop_hits,
             len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
               / CAST(len(toks) AS DOUBLE) AS alpha_frac,
             1.0 - len(list_distinct(tris)) / CAST(len(tris) AS DOUBLE)
               AS dup_trigram_frac,
             ((CASE WHEN len(toks) BETWEEN 20 AND 2000 THEN 1.0 ELSE 0.5 END)
              + (CASE WHEN len(list_filter(toks,
                   x -> x IN ('the','a','of','and','to','in','is','it','that','for')))
                   / CAST(len(toks) AS DOUBLE) BETWEEN 0.01 AND 0.6
                 THEN 1.0 ELSE 0.5 END)
              + (CASE WHEN list_sum(list_transform(toks, x -> length(x)))
                   / CAST(len(toks) AS DOUBLE) BETWEEN 2.0 AND 12.0
                 THEN 1.0 ELSE 0.5 END)) / 3.0 AS qs
      FROM tri
    ), rated AS (
      SELECT source,
             (n_words BETWEEN 30 AND 10000)
               AND (mean_word_len BETWEEN 3.0 AND 10.0)
               AND stop_hits >= 2 AND alpha_frac >= 0.8
               AND dup_trigram_frac <= 0.1 AS a,
             qs >= 0.8 AS b
      FROM m
    ), cells AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n11,
             CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n10,
             CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n01,
             CAST(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n00
      FROM rated GROUP BY 1
    )
    SELECT source, n, n11, n10, n01, n00,
           round(CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE) + 1e-9, 6) + 0.0
             AS percent_agree,
           round((CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)
                  + CAST(n01 + n00 AS DOUBLE) * CAST(n10 + n00 AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) + 1e-9, 6) + 0.0
             AS chance_agree,
           round(CASE WHEN (CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)
                            + CAST(n01 + n00 AS DOUBLE) * CAST(n10 + n00 AS DOUBLE))
                           / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) = 1.0
                      THEN 0.0
                      ELSE (CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE)
                            - (CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)
                               + CAST(n01 + n00 AS DOUBLE) * CAST(n10 + n00 AS DOUBLE))
                              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                           / (1.0 - (CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)
                               + CAST(n01 + n00 AS DOUBLE) * CAST(n10 + n00 AS DOUBLE))
                              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                 END + 1e-9, 6) + 0.0 AS kappa
    FROM cells
    """,
)
def x117_rater_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the Gopher rule conjunction and the
    composite quality-score threshold, per source — chance-corrected
    agreement from exact 2x2 cell counts; marginal products composed
    in DOUBLE (BIGINT n^2 overflows at ~3e9 docs).  One scan, one
    k-row aggregate."""
    from ..operators.curation import rater_agreement

    docs = load_table(spark, sf_dir, "documents")
    return rater_agreement(docs)


@query(
    "x118_benford_audit",
    oracle="""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(l_extendedprice * 100.0 + 0.5)
                                   AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT)
               AS digit
      FROM lineitem WHERE l_extendedprice > 0
    ), c AS (
      SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM d GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(n_obs) AS BIGINT) AS n_total FROM c
    ), p AS (
      SELECT c.digit, c.n_obs, tot.n_total,
             CAST(CASE c.digit
               WHEN 1 THEN 0.301029995663981 WHEN 2 THEN 0.176091259055681
               WHEN 3 THEN 0.124938736608300 WHEN 4 THEN 0.096910013008056
               WHEN 5 THEN 0.079181246047625 WHEN 6 THEN 0.066946789630613
               WHEN 7 THEN 0.057991946977687 WHEN 8 THEN 0.051152522447381
               WHEN 9 THEN 0.045757490560675 END AS DOUBLE) AS benford_p
      FROM c, tot
    ), terms AS (
      SELECT *,
             CAST(trunc(((n_obs - n_total * benford_p)
                         * (n_obs - n_total * benford_p)
                         / (n_total * benford_p)) * 1000000.0) AS BIGINT)
               AS termq
      FROM p
    ), chi AS (
      SELECT round(sum(termq) / 1000000.0 + 1e-9, 4) + 0.0 AS chi2 FROM terms
    )
    SELECT t.digit, t.n_obs,
           round(t.n_total * t.benford_p + 1e-9, 4) + 0.0 AS expected_n,
           t.benford_p, chi.chi2, chi.chi2 > 15.507 AS benford_violation
    FROM terms t, chi
    """,
)
def x118_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of lineitem extended prices.  TPC-H
    prices are synthetic-uniform, so the audit SHOULD flag them — the
    point is the screen, not the pass.  Digit extraction goes through
    exact integer cents and decimal string rendering (no log10, whose
    last ulp differs between libms); chi2 terms are trunc-quantized
    BIGINTs; Benford probabilities are fixed shared literals."""
    from ..operators.profile import benford_audit

    li = load_table(spark, sf_dir, "lineitem")
    return benford_audit(li, "l_extendedprice")


@query(
    "x119_dedup_graph_triangles",
    oracle=f"""
    WITH pairs AS (
      SELECT doc_a, doc_b FROM ({_P12_ORACLE})
    ), e AS (
      SELECT DISTINCT least(doc_a, doc_b) AS a, greatest(doc_a, doc_b) AS b
      FROM pairs WHERE doc_a <> doc_b
    ), deg AS (
      SELECT id, CAST(count(*) AS BIGINT) AS degree
      FROM (SELECT a AS id FROM e UNION ALL SELECT b FROM e) GROUP BY 1
    ), w AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e e1 JOIN e e2 ON e1.b = e2.a
    ), tri AS (
      SELECT w.x, w.y, w.z
      FROM w JOIN e ON e.a = w.x AND e.b = w.z
    ), tc AS (
      SELECT id, CAST(count(*) AS BIGINT) AS n_triangles
      FROM (SELECT x AS id FROM tri UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri) GROUP BY 1
    )
    SELECT d.id AS doc_id, d.degree,
           coalesce(tc.n_triangles, 0) AS n_triangles,
           round(CASE WHEN d.degree >= 2
                      THEN 2.0 * CAST(coalesce(tc.n_triangles, 0) AS DOUBLE)
                           / (CAST(d.degree AS DOUBLE)
                              * (CAST(d.degree AS DOUBLE) - 1.0))
                      ELSE 0.0 END + 1e-9, 6) + 0.0 AS clustering
    FROM deg d LEFT JOIN tc ON tc.id = d.id
    """,
)
def x119_dedup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohesion diagnostic for the near-dup graph: per-node triangle
    count + local clustering coefficient over the p12 LSH pairs.
    Spark counts each triangle once from its lowest-(degree, id)
    corner (degree-oriented wedge join — hub-proof, out-degree <=
    sqrt(2m)); the oracle counts once per x<y<z ordering — same
    triangle set, cross-validating the orientation."""
    from ..operators.dedup import minhash_lsh_pairs
    from ..operators.graph import triangle_stats

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, num_hashes=16, bands=4, shingle_k=3, min_est_jaccard=0.5
    )
    return triangle_stats(pairs)


@query(
    "x120_km_survival",
    oracle="""
    WITH ev AS (
      SELECT user_id AS u, ts AS t, event_type AS et FROM events
    ), firsts AS (
      SELECT u, min(t) AS t0 FROM ev WHERE et = 'view' GROUP BY 1
    ), conv AS (
      SELECT e.u, min(e.t) AS tp
      FROM ev e JOIN firsts f ON e.u = f.u
      WHERE e.et = 'purchase' AND e.t >= f.t0 GROUP BY 1
    ), horizon AS (
      SELECT max(t) AS tmax FROM ev
    ), per_user AS (
      SELECT date_diff('day', f.t0, coalesce(c.tp, h.tmax)) AS dur,
             CASE WHEN c.tp IS NOT NULL THEN 1 ELSE 0 END AS converted
      FROM firsts f LEFT JOIN conv c ON f.u = c.u, horizon h
    ), hist AS (
      SELECT dur, CAST(sum(converted) AS BIGINT) AS d_e,
             CAST(count(*) AS BIGINT) AS c_all
      FROM per_user GROUP BY 1
    ), staged AS (
      SELECT dur, d_e,
             sum(c_all) OVER () - (sum(c_all) OVER w - c_all) AS n_risk
      FROM hist
      WINDOW w AS (ORDER BY dur ROWS UNBOUNDED PRECEDING)
    ), q AS (
      SELECT dur, d_e, n_risk,
             CASE WHEN d_e > 0 AND n_risk > d_e
                  THEN CAST(trunc(ln(CAST(n_risk - d_e AS DOUBLE)
                                     / CAST(n_risk AS DOUBLE))
                                  * 1000000000.0) AS BIGINT)
                  WHEN d_e > 0 THEN -1000000000000000000
                  ELSE 0 END AS lt
      FROM staged
    ), curve AS (
      SELECT dur, d_e, n_risk, sum(lt) OVER w AS lsum
      FROM q
      WINDOW w AS (ORDER BY dur ROWS UNBOUNDED PRECEDING)
    )
    SELECT dur AS duration_days, n_risk AS n_at_risk, d_e AS n_events,
           round(exp(lsum / 1000000000.0) + 1e-9, 6) + 0.0 AS survival
    FROM curve WHERE d_e > 0
    """,
)
def x120_km_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time-to-conversion curve (first view -> first
    purchase, right-censored at the observation horizon).  The curve
    runs on the duration HISTOGRAM — risk sets from cumulative
    counts, never a data sort — and the product is exp of a prefix
    sum of nano-quantized BIGINT log-factors, exact integer
    arithmetic between the ln/exp trust boundary."""
    from ..operators.timeseries import km_survival

    events = load_table(spark, sf_dir, "events")
    return km_survival(events)


@query(
    "x121_soft_dedup_sample",
    oracle=f"""
    WITH comp AS ({_P14_ORACLE}),
    sizes AS (
      SELECT component, CAST(count(*) AS BIGINT) AS csize
      FROM comp GROUP BY 1
    ), labeled AS (
      SELECT d.doc_id,
             coalesce(c.component, d.doc_id) AS dup_group,
             CAST(coalesce(s.csize, 1) AS BIGINT) AS cluster_size
      FROM documents d
      LEFT JOIN comp c ON d.doc_id = c.id
      LEFT JOIN sizes s ON coalesce(c.component, d.doc_id) = s.component
    )
    SELECT doc_id, dup_group, cluster_size,
           round(0.5 / cluster_size + 1e-9, 6) + 0.0 AS sel_weight,
           ('0x' || substr(md5('softdedup|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
             / 1152921504606846976.0 < 0.5 / cluster_size AS selected
    FROM labeled
    """,
)
def x121_soft_dedup_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup: keep each doc with probability frac/|cluster| via
    the deterministic hash60 unit-interval draw, so every duplicate
    cluster contributes ~frac expected docs — duplication flattened
    without deleting the popularity signal entirely."""
    from ..operators.dedup import cluster_weighted_sample

    docs = load_table(spark, sf_dir, "documents")
    return cluster_weighted_sample(
        docs, frac=0.5, num_hashes=16, bands=4, shingle_k=3, min_est_jaccard=0.5
    )


@query(
    "x122_prf_expanded_search",
    oracle="""
    WITH dl AS (
      SELECT doc_id, CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS dl
      FROM documents
    ), stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM dl
    ), tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents
    ), tf1 AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM tok WHERE term IN ('customer', 'vector', 'merge', 'stream')
      GROUP BY doc_id, term
    ), df1 AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf1 GROUP BY term
    ), s1 AS (
      SELECT tf1.doc_id,
             round(sum(
               ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
               * tf1.tf * 2.2
               / (tf1.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl))
             ) + 1e-9, 6) AS score
      FROM tf1 JOIN df1 d USING (term) JOIN dl l USING (doc_id)
      CROSS JOIN stats s
      GROUP BY tf1.doc_id
      ORDER BY score DESC, doc_id LIMIT 5
    ), cand AS (
      SELECT term, CAST(count(*) AS BIGINT) AS fb_tf
      FROM tok
      WHERE doc_id IN (SELECT doc_id FROM s1)
        AND length(term) >= 4
        AND term NOT IN ('customer', 'vector', 'merge', 'stream')
        AND term NOT IN ('the','a','of','and','to','in','is','it','that','for')
      GROUP BY 1
    ), dfr AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df
      FROM (SELECT DISTINCT doc_id, term FROM tok)
      WHERE term IN (SELECT term FROM cand) GROUP BY 1
    ), expn AS (
      SELECT c.term,
             CAST(trunc(CAST(c.fb_tf AS DOUBLE)
                        * ln(CAST(s.n_docs AS DOUBLE) / CAST(d.df AS DOUBLE))
                        * 1000000.0) AS BIGINT) AS sq
      FROM cand c JOIN dfr d USING (term) CROSS JOIN stats s
    ), top3 AS (
      SELECT term FROM expn ORDER BY sq DESC, term LIMIT 3
    ), qterms AS (
      SELECT unnest(['customer', 'merge', 'stream', 'vector']) AS term
      UNION SELECT term FROM top3
    ), tf2 AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM tok WHERE term IN (SELECT term FROM qterms)
      GROUP BY doc_id, term
    ), df2 AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf2 GROUP BY term
    ), final AS (
      SELECT tf2.doc_id,
             round(sum(
               ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
               * tf2.tf * 2.2
               / (tf2.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl))
             ) + 1e-9, 6) AS score,
             CAST(count(*) AS BIGINT) AS n_terms_matched
      FROM tf2 JOIN df2 d USING (term) JOIN dl l USING (doc_id)
      CROSS JOIN stats s
      GROUP BY tf2.doc_id
    )
    SELECT doc_id, score, n_terms_matched,
           CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank,
           (SELECT string_agg(term, ',' ORDER BY term) FROM top3)
             AS expanded_terms
    FROM final ORDER BY score DESC, doc_id LIMIT 10
    """,
)
def x122_prf_expanded_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback expansion of the p18 query: BM25
    top-5 as feedback, top-3 tf x ln(N/df) terms (micro-quantized
    cut) joined into the query, final BM25 top-10 with the expansion
    recorded.  Stage 1 and the final ranking ride the persisted-
    narrow BM25; candidate mining explodes only the 5 feedback
    docs."""
    from ..operators.retrieval import prf_search

    docs = load_table(spark, sf_dir, "documents")
    return prf_search(docs, ["customer", "vector", "merge", "stream"])


@query(
    "x123_score_auc",
    oracle="""
    WITH t AS (
      SELECT source, string_split(lower(text), ' ') AS toks FROM documents
    ), tri AS (
      SELECT source, toks,
             list_transform(
               range(1, greatest(len(toks) - 2, 1) + 1),
               i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])
             ) AS tris
      FROM t
    ), m AS (
      SELECT source,
             CAST(len(toks) AS BIGINT) AS n_words,
             list_sum(list_transform(toks, x -> length(x)))
               / CAST(len(toks) AS DOUBLE) AS mean_word_len,
             CAST(len(list_filter(toks,
               x -> x IN ('the','a','of','and','to','in','is','it','that','for')))
               AS BIGINT) AS stop_hits,
             len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
               / CAST(len(toks) AS DOUBLE) AS alpha_frac,
             1.0 - len(list_distinct(tris)) / CAST(len(tris) AS DOUBLE)
               AS dup_trigram_frac
      FROM tri
    ), rated AS (
      SELECT source,
             CAST(floor(mean_word_len * 1000000.0 + 0.5) AS BIGINT) AS score_q,
             (n_words BETWEEN 30 AND 10000)
               AND (mean_word_len BETWEEN 3.0 AND 10.0)
               AND stop_hits >= 2 AND alpha_frac >= 0.8
               AND dup_trigram_frac <= 0.1 AS label
      FROM m
    ), hist AS (
      SELECT source, score_q,
             CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
             CAST(sum(CASE WHEN label THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
      FROM rated GROUP BY 1, 2
    ), ranked AS (
      SELECT source, n_pos, n_neg,
             2 * sum(n_pos + n_neg) OVER (
                   PARTITION BY source ORDER BY score_q
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - (n_pos + n_neg) + 1 AS midrank2
      FROM hist
    ), per AS (
      SELECT source,
             CAST(sum(n_pos) AS BIGINT) AS n_pos,
             CAST(sum(n_neg) AS BIGINT) AS n_neg,
             CAST(sum(n_pos * midrank2) AS BIGINT) AS ranksum2
      FROM ranked GROUP BY 1
    )
    SELECT source, n_pos, n_neg,
           CASE WHEN n_pos > 0 AND n_neg > 0 THEN
             round((CAST(ranksum2 AS DOUBLE)
                    - CAST(n_pos AS DOUBLE) * (CAST(n_pos AS DOUBLE) + 1.0))
                   / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
                   + 1e-9, 6) + 0.0
           END AS auc
    FROM per
    """,
)
def x123_score_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of mean word length as a ranking signal for the
    Gopher rule conjunction, per source — the threshold-free companion
    to x117's kappa: before replacing the five-rule filter with one
    cheap continuous score, measure how often the score ranks a
    passing document above a failing one.  AUC = normalized
    Mann-Whitney U from a per-source (score, label) HISTOGRAM with
    doubled midranks (exact BIGINTs; window runs over distinct
    quantized scores, never corpus rows)."""
    from ..operators.curation import gopher_metric_columns, gopher_rule_flags
    from ..operators.profile import roc_auc

    docs = load_table(spark, sf_dir, "documents")
    metrics = gopher_metric_columns(F.col("text"))
    with_metrics = docs.select(
        F.col("source"),
        *[expr.alias(name) for name, expr in metrics.items()],
    )
    flags = gopher_rule_flags()
    label = (
        flags["r_len"] & flags["r_word_len"] & flags["r_stop"]
        & flags["r_alpha"] & flags["r_dup"]
    )
    rated = with_metrics.select(
        "source",
        F.floor(F.col("mean_word_len") * F.lit(1000000.0) + F.lit(0.5))
        .cast("long")
        .alias("score_q"),
        label.alias("label"),
    )
    return roc_auc(rated)


@query(
    "x124_priority_sample",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS weight
      FROM documents
    ), pri AS (
      SELECT doc_id, weight,
             CAST(weight AS DOUBLE)
               / (CAST(('0x' || substr(md5('psample|' || doc_id), 1, 15))::BIGINT
                       + 1 AS DOUBLE) / 1152921504606846976.0) AS priority
      FROM base
    ), cand AS (
      SELECT * FROM pri ORDER BY priority DESC, doc_id LIMIT 201
    ), ranked AS (
      SELECT *, CAST(row_number() OVER (ORDER BY priority DESC, doc_id)
                     AS BIGINT) AS rn
      FROM cand
    ), tau AS (
      SELECT coalesce(max(CASE WHEN rn = 201 THEN priority END), 0.0) AS tau
      FROM ranked
    )
    SELECT r.doc_id, r.weight, r.priority,
           greatest(CAST(r.weight AS DOUBLE), tau.tau) AS ht_weight
    FROM ranked r, tau WHERE r.rn <= 200
    """,
)
def x124_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-200 token-weighted document sample with unbiased
    Horvitz-Thompson subset-sum weights (priority sampling).  All
    priorities are IEEE +-*/ on exact integers (no transcendentals,
    no RNG), so the sample is bit-reproducible and stable under
    corpus growth; the plan is one projection + one
    TakeOrderedAndProject — never a global sort."""
    from ..operators.curation import priority_sample

    docs = load_table(spark, sf_dir, "documents")
    return priority_sample(docs, k=200)


@query(
    "x125_quality_bootstrap_ci",
    oracle="""
    WITH m AS (
      SELECT source, doc_id,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
             len(list_filter(string_split(lower(text), ' '),
                             t -> t IN ('the','a','of','and','to','in','is','it','that','for')))
               / CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS stop_r,
             list_sum(list_transform(string_split(lower(text), ' '), t -> length(t)))
               / CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS awl
      FROM documents
    ), q AS (
      SELECT source, doc_id,
             CAST(floor((((CASE WHEN n_tokens BETWEEN 20 AND 2000 THEN 1.0 ELSE 0.5 END)
              + (CASE WHEN stop_r BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.5 END)
              + (CASE WHEN awl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END)) / 3.0)
              * 1000000.0) AS BIGINT) AS vq
      FROM m
    ), exploded AS (
      SELECT q.source, q.doc_id, q.vq, b.b
      FROM q CROSS JOIN (SELECT unnest(range(-1, 32)) AS b) b
    ), mult AS (
      SELECT source, b, vq,
             CASE WHEN b = -1 THEN 1
                  WHEN u < 0.3678794411714423 THEN 0
                  WHEN u < 0.7357588823428846 THEN 1
                  WHEN u < 0.9196986029286058 THEN 2
                  WHEN u < 0.9810118431238462 THEN 3
                  WHEN u < 0.9963401531726563 THEN 4
                  WHEN u < 0.9994058151824183 THEN 5
                  WHEN u < 0.9999167588507119 THEN 6
                  WHEN u < 0.9999897508033253 THEN 7
                  ELSE 8 END AS mm
      FROM (
        SELECT source, b, vq,
               CAST(('0x' || substr(md5('boot' || b || '|' || doc_id), 1, 15))::BIGINT
                    AS DOUBLE) / 1152921504606846976.0 AS u,
               b AS bb
        FROM exploded
      )
    ), per_rep AS (
      SELECT source, b,
             CAST(sum(mm) AS BIGINT) AS sum_m,
             CAST(sum(mm * vq) AS BIGINT) AS sum_mv
      FROM mult GROUP BY 1, 2
      HAVING sum(mm) > 0
    ), means AS (
      SELECT source, b, sum_m,
             CAST(sum_mv AS DOUBLE) / CAST(sum_m AS DOUBLE) AS mean_q
      FROM per_rep
    ), ranked AS (
      SELECT source, mean_q,
             CAST(row_number() OVER (PARTITION BY source ORDER BY mean_q, b)
                  AS BIGINT) AS rn,
             CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS nb
      FROM means WHERE b >= 0
    ), ci AS (
      SELECT source,
             max(CASE WHEN rn = 2 THEN mean_q END) AS lo_q,
             max(CASE WHEN rn = nb - 1 THEN mean_q END) AS hi_q,
             max(nb) AS n_boot_valid
      FROM ranked GROUP BY 1
    ), pt AS (
      SELECT source, sum_m AS n_docs, mean_q AS point_q
      FROM means WHERE b = -1
    )
    SELECT pt.source, pt.n_docs,
           round(pt.point_q / 1000000.0 + 1e-9, 6) + 0.0 AS mean,
           round(ci.lo_q / 1000000.0 + 1e-9, 6) + 0.0 AS ci_lo,
           round(ci.hi_q / 1000000.0 + 1e-9, 6) + 0.0 AS ci_hi,
           ci.n_boot_valid
    FROM pt JOIN ci USING (source)
    """,
)
def x125_quality_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap ~90% CI for the mean composite quality score
    per source — uncertainty quantification that scales: 32 RNG-free
    Poisson(1)-multiplicity replicates ride ONE corpus scan (explode
    b, map-side-combined aggregate), with exact BIGINT replicate sums
    so no order-dependent floating addition anywhere.  The identity
    replicate (b = -1) carries the point estimate through the same
    code path."""
    from ..operators.profile import bootstrap_mean_ci
    from ..operators.text import quality_score

    docs = load_table(spark, sf_dir, "documents")
    rated = docs.select(
        "source",
        "doc_id",
        F.floor(quality_score(F.col("text")) * F.lit(1000000.0))
        .cast("long")
        .alias("value_q"),
    )
    return bootstrap_mean_ci(rated)


@query(
    "x126_source_js_divergence",
    oracle="""
    WITH tok AS (
      SELECT source AS src, unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    ), hist AS (
      SELECT src, term, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1, 2
    ), tot AS (
      SELECT src, CAST(sum(cnt) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS n_terms
      FROM hist GROUP BY 1
    ), h AS (
      SELECT hist.src, hist.term, hist.cnt, tot.n
      FROM hist JOIN tot USING (src)
    ), shared AS (
      SELECT a.src AS source_a, b.src AS source_b,
             CAST(count(*) AS BIGINT) AS n_shared_terms,
             CAST(sum(a.cnt) AS BIGINT) AS sh_a,
             CAST(sum(b.cnt) AS BIGINT) AS sh_b,
             CAST(sum(CAST(trunc(
               (CAST(a.cnt AS DOUBLE) / CAST(a.n AS DOUBLE))
               * ln(2.0 * (CAST(a.cnt AS DOUBLE) / CAST(a.n AS DOUBLE))
                    / ((CAST(a.cnt AS DOUBLE) / CAST(a.n AS DOUBLE))
                       + (CAST(b.cnt AS DOUBLE) / CAST(b.n AS DOUBLE))))
               * 1e12) AS BIGINT)) AS BIGINT) AS sum_ta,
             CAST(sum(CAST(trunc(
               (CAST(b.cnt AS DOUBLE) / CAST(b.n AS DOUBLE))
               * ln(2.0 * (CAST(b.cnt AS DOUBLE) / CAST(b.n AS DOUBLE))
                    / ((CAST(a.cnt AS DOUBLE) / CAST(a.n AS DOUBLE))
                       + (CAST(b.cnt AS DOUBLE) / CAST(b.n AS DOUBLE))))
               * 1e12) AS BIGINT)) AS BIGINT) AS sum_tb
      FROM h a JOIN h b ON a.term = b.term AND a.src < b.src
      GROUP BY 1, 2
    ), skel AS (
      SELECT a.src AS source_a, a.n AS n_a, a.n_terms AS n_terms_a,
             b.src AS source_b, b.n AS n_b, b.n_terms AS n_terms_b
      FROM tot a CROSS JOIN tot b WHERE a.src < b.src
    )
    SELECT s.source_a, s.source_b, s.n_terms_a, s.n_terms_b,
           CAST(coalesce(sh.n_shared_terms, 0) AS BIGINT) AS n_shared_terms,
           round(0.5 * (CAST(coalesce(sh.sum_ta, 0) AS DOUBLE) / 1e12
                        + 0.6931471805599453
                          * (1.0 - CAST(coalesce(sh.sh_a, 0) AS DOUBLE)
                                   / CAST(s.n_a AS DOUBLE)))
                 + 0.5 * (CAST(coalesce(sh.sum_tb, 0) AS DOUBLE) / 1e12
                        + 0.6931471805599453
                          * (1.0 - CAST(coalesce(sh.sh_b, 0) AS DOUBLE)
                                   / CAST(s.n_b AS DOUBLE)))
                 + 1e-9, 6) + 0.0 AS js_divergence
    FROM skel s LEFT JOIN shared sh USING (source_a, source_b)
    """,
)
def x126_source_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between source unigram
    distributions — the distributional redundancy signal next to
    x97's KMV set overlap.  Shared-terms-only rewrite (exclusive
    vocab's entire effect is ln2 * unshared mass, from exact BIGINT
    counts), pico-quantized BIGINT per-term contributions (no
    order-dependent DOUBLE sums), one histogram + one term equi-join
    + one pair aggregate."""
    from ..operators.curation import js_divergence_matrix

    docs = load_table(spark, sf_dir, "documents")
    return js_divergence_matrix(docs)


@query(
    "x127_token_gini",
    oracle="""
    WITH rated AS (
      SELECT source,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS weight
      FROM documents
    ), hist AS (
      SELECT source, weight, CAST(count(*) AS BIGINT) AS cnt
      FROM rated GROUP BY 1, 2
    ), tot AS (
      SELECT source, CAST(sum(cnt) AS BIGINT) AS n_docs,
             CAST(sum(cnt * weight) AS BIGINT) AS total_weight
      FROM hist GROUP BY 1
    ), wp AS (
      SELECT h.source, h.weight, h.cnt,
             CAST(sum(h.cnt) OVER (PARTITION BY h.source ORDER BY h.weight
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - h.cnt
                  AS BIGINT) AS c_before,
             t.n_docs, t.total_weight
      FROM hist h JOIN tot t USING (source)
    ), terms AS (
      SELECT source, n_docs, total_weight,
             CAST(trunc(CAST(weight AS DOUBLE)
                  * (CAST(cnt AS DOUBLE) * CAST(c_before AS DOUBLE)
                     + CAST(cnt AS DOUBLE) * (CAST(cnt AS DOUBLE) + 1.0) / 2.0)
                  / (CAST(n_docs AS DOUBLE) * CAST(total_weight AS DOUBLE))
                  * 1e12) AS BIGINT) AS tq
      FROM wp
    ), per AS (
      SELECT source, max(n_docs) AS n_docs,
             max(total_weight) AS total_weight,
             CAST(sum(tq) AS BIGINT) AS s_q
      FROM terms GROUP BY 1
    )
    SELECT source, n_docs, total_weight,
           round(2.0 * CAST(s_q AS DOUBLE) / 1e12
                 - (CAST(n_docs AS DOUBLE) + 1.0) / CAST(n_docs AS DOUBLE)
                 + 1e-9, 6) + 0.0 AS gini
    FROM per
    """,
)
def x127_token_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini concentration of token mass across documents, per
    source — flags sources whose content sits in a few giant docs
    (sharding/sampling/dedup all behave differently there).  Histogram
    + cumulative-count rewrite: the data is never sorted; each distinct
    weight's rank-weighted contribution is normalized FIRST and
    pico-quantized so the cross-group sum is order-independent and
    BIGINT-safe at any corpus size."""
    from ..operators.profile import gini_concentration
    from ..operators.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    rated = docs.select(
        "source", token_count(F.col("text")).alias("weight")
    )
    return gini_concentration(rated)


@query(
    "x128_signal_rank_corr",
    oracle="""
    WITH t AS (
      SELECT source, string_split(lower(text), ' ') AS toks FROM documents
    ), m AS (
      SELECT source,
             CAST(len(toks) AS BIGINT) AS n_words,
             list_sum(list_transform(toks, x -> length(x)))
               / CAST(len(toks) AS DOUBLE) AS mean_word_len,
             CAST(len(list_filter(toks,
               x -> x IN ('the','a','of','and','to','in','is','it','that','for')))
               AS BIGINT) AS stop_hits
      FROM t
    ), rated AS (
      SELECT source,
             CAST(floor(mean_word_len * 1000000.0 + 0.5) AS BIGINT) AS x_q,
             CAST(floor(CAST(stop_hits AS DOUBLE) / CAST(n_words AS DOUBLE)
                        * 1000000.0 + 0.5) AS BIGINT) AS y_q
      FROM m
    ), hx AS (
      SELECT source, x_q,
             CAST(2 * sum(count(*)) OVER (PARTITION BY source ORDER BY x_q
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - count(*) + 1 AS BIGINT) AS r2x
      FROM rated GROUP BY source, x_q
    ), hy AS (
      SELECT source, y_q,
             CAST(2 * sum(count(*)) OVER (PARTITION BY source ORDER BY y_q
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - count(*) + 1 AS BIGINT) AS r2y
      FROM rated GROUP BY source, y_q
    ), tot AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM rated GROUP BY 1
    ), joined AS (
      SELECT r.source, tot.n_docs,
             CAST(hx.r2x AS DOUBLE) / (2.0 * CAST(tot.n_docs AS DOUBLE)) AS ux,
             CAST(hy.r2y AS DOUBLE) / (2.0 * CAST(tot.n_docs AS DOUBLE)) AS uy
      FROM rated r
      JOIN hx USING (source, x_q)
      JOIN hy USING (source, y_q)
      JOIN tot USING (source)
    ), per AS (
      SELECT source, max(n_docs) AS n_docs,
             CAST(sum(CAST(trunc(ux * ux * 1e9) AS BIGINT)) AS BIGINT) AS sxx,
             CAST(sum(CAST(trunc(uy * uy * 1e9) AS BIGINT)) AS BIGINT) AS syy,
             CAST(sum(CAST(trunc(ux * uy * 1e9) AS BIGINT)) AS BIGINT) AS sxy
      FROM joined GROUP BY 1
    ), stats AS (
      SELECT source, n_docs,
             CAST(sxx AS DOUBLE) / (1e9 * CAST(n_docs AS DOUBLE))
               - ((CAST(n_docs AS DOUBLE) + 1.0) / (2.0 * CAST(n_docs AS DOUBLE)))
                 * ((CAST(n_docs AS DOUBLE) + 1.0) / (2.0 * CAST(n_docs AS DOUBLE)))
               AS exx,
             CAST(syy AS DOUBLE) / (1e9 * CAST(n_docs AS DOUBLE))
               - ((CAST(n_docs AS DOUBLE) + 1.0) / (2.0 * CAST(n_docs AS DOUBLE)))
                 * ((CAST(n_docs AS DOUBLE) + 1.0) / (2.0 * CAST(n_docs AS DOUBLE)))
               AS eyy,
             CAST(sxy AS DOUBLE) / (1e9 * CAST(n_docs AS DOUBLE))
               - ((CAST(n_docs AS DOUBLE) + 1.0) / (2.0 * CAST(n_docs AS DOUBLE)))
                 * ((CAST(n_docs AS DOUBLE) + 1.0) / (2.0 * CAST(n_docs AS DOUBLE)))
               AS exy
      FROM per
    )
    SELECT source, n_docs,
           CASE WHEN exx > 0 AND eyy > 0
                THEN round(exy / sqrt(exx * eyy) + 1e-9, 6) + 0.0
           END AS spearman_rho
    FROM stats
    """,
)
def x128_signal_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between mean word length and stopword
    ratio per source — the monotone-proxy screen run before dropping
    one of two quality signals.  Midranks from per-signal histograms
    (x123 discipline: windows over distinct quantized values only);
    rank sums have the closed form n(n+1) so the means are exact;
    second moments ride [0,1]-normalized midranks with nano-quantized
    BIGINT product sums — order-independent, overflow-proof to ~9e9
    docs per group."""
    from ..operators.curation import gopher_metric_columns
    from ..operators.profile import spearman_correlation

    docs = load_table(spark, sf_dir, "documents")
    metrics = gopher_metric_columns(F.col("text"))
    rated = docs.select(
        "source",
        F.floor(metrics["mean_word_len"] * F.lit(1000000.0) + F.lit(0.5))
        .cast("long")
        .alias("x_q"),
        F.floor(
            (
                metrics["stop_hits"].cast("double")
                / metrics["n_words"].cast("double")
            )
            * F.lit(1000000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("y_q"),
    )
    return spearman_correlation(rated)


@query(
    "x129_lexical_diversity",
    oracle="""
    WITH tok AS (
      SELECT source AS src, unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    ), hist AS (
      SELECT src, term, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1, 2
    ), tot AS (
      SELECT src, CAST(sum(cnt) AS BIGINT) AS n_tokens FROM hist GROUP BY 1
    ), per AS (
      SELECT h.src, max(t.n_tokens) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_types,
             CAST(sum(CASE WHEN h.cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hapax,
             CAST(sum(CAST(trunc(
               (CAST(h.cnt AS DOUBLE) / CAST(t.n_tokens AS DOUBLE))
               * (CAST(h.cnt AS DOUBLE) / CAST(t.n_tokens AS DOUBLE))
               * 1e12) AS BIGINT)) AS BIGINT) AS simpson_q
      FROM hist h JOIN tot t USING (src)
      GROUP BY 1
    )
    SELECT src AS source, n_tokens, n_types, n_hapax,
           round(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE) + 1e-9, 6)
             + 0.0 AS type_token_ratio,
           round(CAST(n_hapax AS DOUBLE) / CAST(n_types AS DOUBLE) + 1e-9, 6)
             + 0.0 AS hapax_ratio,
           round(CAST(simpson_q AS DOUBLE) / 1e12 + 1e-9, 6) + 0.0 AS simpson,
           round(CAST(n_hapax AS DOUBLE) / CAST(n_tokens AS DOUBLE) + 1e-9, 6)
             + 0.0 AS gt_missing_mass
    FROM per
    """,
)
def x129_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token ratio, hapax ratio, and Simpson concentration per
    source — the cheap lexical boilerplate screens.  One persisted
    token histogram -> per-source aggregate; Simpson terms are
    pico-quantized BIGINTs so the sum is order-independent and
    overflow-proof."""
    from ..operators.curation import lexical_diversity

    docs = load_table(spark, sf_dir, "documents")
    return lexical_diversity(docs)


@query(
    "x130_capture_recapture",
    oracle="""
    WITH fp AS (
      SELECT DISTINCT source AS src,
             substr(md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')),
                    1, 16) AS fp
      FROM documents
    ), tot AS (
      SELECT src, CAST(count(*) AS BIGINT) AS n FROM fp GROUP BY 1
    ), overlap AS (
      SELECT a.src AS source_a, b.src AS source_b,
             CAST(count(*) AS BIGINT) AS m
      FROM fp a JOIN fp b ON a.fp = b.fp AND a.src < b.src
      GROUP BY 1, 2
    ), skel AS (
      SELECT a.src AS source_a, a.n AS n_a, b.src AS source_b, b.n AS n_b
      FROM tot a CROSS JOIN tot b WHERE a.src < b.src
    ), j AS (
      SELECT s.source_a, s.source_b, s.n_a, s.n_b,
             CAST(coalesce(o.m, 0) AS BIGINT) AS n_shared
      FROM skel s LEFT JOIN overlap o USING (source_a, source_b)
    )
    SELECT source_a, source_b, n_a, n_b, n_shared,
           CASE WHEN n_shared > 0 THEN
             round((CAST(n_a AS DOUBLE) + 1.0) * (CAST(n_b AS DOUBLE) + 1.0)
                   / (CAST(n_shared AS DOUBLE) + 1.0) - 1.0 + 1e-9, 4) + 0.0
           END AS est_population,
           CASE WHEN n_shared > 0 THEN
             round(sqrt((CAST(n_a AS DOUBLE) + 1.0) * (CAST(n_b AS DOUBLE) + 1.0)
                   * (CAST(n_a AS DOUBLE) - CAST(n_shared AS DOUBLE))
                   * (CAST(n_b AS DOUBLE) - CAST(n_shared AS DOUBLE))
                   / ((CAST(n_shared AS DOUBLE) + 1.0)
                      * (CAST(n_shared AS DOUBLE) + 1.0)
                      * (CAST(n_shared AS DOUBLE) + 2.0))) + 1e-9, 4) + 0.0
           END AS est_se
    FROM j
    """,
)
def x130_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman capture-recapture population estimate for every source
    pair — the coverage question ('how much of this domain is still
    uncrawled?') answered from fingerprint overlap alone.  Persisted
    distinct (source, fingerprint) frame; fingerprint equi-join for
    overlaps; k x k totals skeleton; exact BIGINT counts, fixed-order
    DOUBLE estimator; zero-overlap pairs -> NULL (unbounded there)."""
    from ..operators.curation import capture_recapture

    docs = load_table(spark, sf_dir, "documents")
    return capture_recapture(docs)


@query(
    "x131_dispersion_index",
    oracle="""
    WITH sparse AS (
      SELECT date_trunc('hour', ts) AS h, event_type AS t,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ), grid AS (
      SELECT g.h, ty.t
      FROM (SELECT unnest(generate_series((SELECT min(h) FROM sparse),
                                          (SELECT max(h) FROM sparse),
                                          INTERVAL 1 HOUR)) AS h) g
      CROSS JOIN (SELECT DISTINCT t FROM sparse) ty
    ), hourly AS (
      SELECT grid.h, grid.t, coalesce(sparse.cnt, 0) AS cnt
      FROM grid LEFT JOIN sparse ON grid.h = sparse.h AND grid.t = sparse.t
    ), per AS (
      SELECT t, CAST(count(*) AS BIGINT) AS n_hours,
             CAST(sum(cnt) AS BIGINT) AS total_events,
             CAST(sum(cnt * cnt) AS BIGINT) AS sum_sq
      FROM hourly GROUP BY 1
    )
    SELECT t AS event_type, n_hours, total_events,
           round(CAST(total_events AS DOUBLE) / CAST(n_hours AS DOUBLE)
                 + 1e-9, 6) + 0.0 AS mean_per_hour,
           CASE WHEN total_events > 0 THEN
             round((CAST(sum_sq AS DOUBLE) / CAST(n_hours AS DOUBLE)
                    - (CAST(total_events AS DOUBLE) / CAST(n_hours AS DOUBLE))
                      * (CAST(total_events AS DOUBLE) / CAST(n_hours AS DOUBLE)))
                   / (CAST(total_events AS DOUBLE) / CAST(n_hours AS DOUBLE))
                   + 1e-9, 6) + 0.0
           END AS fano,
           CASE WHEN total_events > 0 THEN
             (CAST(sum_sq AS DOUBLE) / CAST(n_hours AS DOUBLE)
              - (CAST(total_events AS DOUBLE) / CAST(n_hours AS DOUBLE))
                * (CAST(total_events AS DOUBLE) / CAST(n_hours AS DOUBLE)))
             / (CAST(total_events AS DOUBLE) / CAST(n_hours AS DOUBLE)) > 1.5
           END AS overdispersed
    FROM per
    """,
)
def x131_dispersion_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano-factor burstiness per event type on the dense hourly grid
    — the fourth detector on the one shared rollup (seasonal
    deviations / CUSUM shifts / robust point outliers / dispersion).
    Exact BIGINT moments over the tiny grid; the event log is read
    once into the persisted sparse frame."""
    from ..operators.timeseries import dispersion_index

    events = load_table(spark, sf_dir, "events")
    return dispersion_index(events)


@query(
    "x132_zipf_fit",
    oracle="""
    WITH tok AS (
      SELECT source AS src, unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    ), hist AS (
      SELECT src, term, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1, 2
    ), ranked AS (
      SELECT src,
             ln(CAST(row_number() OVER (PARTITION BY src
                     ORDER BY cnt DESC, term) AS DOUBLE)) AS lr,
             ln(CAST(cnt AS DOUBLE)) AS lf
      FROM hist
    ), terms AS (
      SELECT src,
             CAST(trunc(lr * 1e6) AS BIGINT) AS qx,
             CAST(trunc(lf * 1e6) AS BIGINT) AS qy,
             CAST(trunc(lr * lr * 1e6) AS BIGINT) AS qxx,
             CAST(trunc(lr * lf * 1e6) AS BIGINT) AS qxy,
             CAST(trunc(lf * lf * 1e6) AS BIGINT) AS qyy
      FROM ranked
    ), per AS (
      SELECT src, CAST(count(*) AS BIGINT) AS n_types,
             CAST(sum(qx) AS BIGINT) AS sx, CAST(sum(qy) AS BIGINT) AS sy,
             CAST(sum(qxx) AS BIGINT) AS sxx, CAST(sum(qxy) AS BIGINT) AS sxy,
             CAST(sum(qyy) AS BIGINT) AS syy
      FROM terms GROUP BY 1
    ), stats AS (
      SELECT src, n_types,
             CAST(n_types AS DOUBLE) AS nd,
             CAST(sx AS DOUBLE) / 1e6 AS sxd, CAST(sy AS DOUBLE) / 1e6 AS syd,
             CAST(sxx AS DOUBLE) / 1e6 AS sxxd,
             CAST(sxy AS DOUBLE) / 1e6 AS sxyd,
             CAST(syy AS DOUBLE) / 1e6 AS syyd
      FROM per
    )
    SELECT src AS source, n_types,
           CASE WHEN n_types > 1 AND nd * sxxd - sxd * sxd > 0 THEN
             round((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
                   + 1e-9, 6) + 0.0
           END AS zipf_slope,
           CASE WHEN n_types > 1 AND nd * sxxd - sxd * sxd > 0 THEN
             round((syd - (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
                          * sxd) / nd + 1e-9, 6) + 0.0
           END AS zipf_intercept,
           CASE WHEN n_types > 1 AND nd * sxxd - sxd * sxd > 0
                     AND nd * syyd - syd * syd > 0 THEN
             round((nd * sxyd - sxd * syd) * (nd * sxyd - sxd * syd)
                   / ((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd))
                   + 1e-9, 6) + 0.0
           END AS r_squared
    FROM stats
    """,
)
def x132_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit per source: ln(freq) ~ ln(rank) least squares over
    the vocabulary — slope near -1 is natural language; template or
    machine text drifts off and fits poorly.  Rank windows run over
    distinct terms only; all regression moments are per-term
    micro-quantized BIGINT sums (order-independent, BIGINT-safe
    through 1e8-term vocabularies)."""
    from ..operators.curation import zipf_fit

    docs = load_table(spark, sf_dir, "documents")
    return zipf_fit(docs)


@query(
    "x133_packing_efficiency",
    oracle="""
    WITH t AS (
      SELECT source, doc_id,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ), b AS (
      SELECT source, n_tokens,
             CAST(floor(coalesce(sum(n_tokens) OVER (
                    PARTITION BY source ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    / 2048) AS BIGINT) AS bin_id,
             CAST(ceil(n_tokens / 2048.0) AS BIGINT) AS n_naive_windows
      FROM t
    ), per AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
             CAST(count(DISTINCT bin_id) AS BIGINT) AS n_packed,
             CAST(sum(n_naive_windows) AS BIGINT) AS n_naive
      FROM b GROUP BY 1
    )
    SELECT source, n_docs, total_tokens, n_packed, n_naive,
           round(CAST(total_tokens AS DOUBLE)
                 / (CAST(n_packed AS DOUBLE) * 2048.0) + 1e-9, 6) + 0.0
             AS packed_fill,
           round(CAST(total_tokens AS DOUBLE)
                 / (CAST(n_naive AS DOUBLE) * 2048.0) + 1e-9, 6) + 0.0
             AS naive_fill,
           round(CAST(n_naive AS DOUBLE) / CAST(n_packed AS DOUBLE)
                 + 1e-9, 4) + 0.0 AS window_savings
    FROM per
    """,
)
def x133_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency report per source: windows used by greedy
    id-order packing vs the naive one-doc-per-window baseline, with
    fill ratios — the metric that justifies the packer and catches
    document-length drift.  One scan through the same per-shard
    running-sum window as x27; one per-shard aggregate."""
    from ..operators.curation import packing_efficiency

    docs = load_table(spark, sf_dir, "documents")
    return packing_efficiency(docs, budget=2048)


@query(
    "x134_distinguishing_terms",
    oracle="""
    WITH tok AS (
      SELECT source AS src, unnest(string_split(lower(text), ' ')) AS term
      FROM documents WHERE source IN ('src0', 'src1')
    ), hist AS (
      SELECT term,
             CAST(sum(CASE WHEN src = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS ya,
             CAST(sum(CASE WHEN src = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS yb
      FROM tok GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(ya) AS BIGINT) AS na, CAST(sum(yb) AS BIGINT) AS nb
      FROM hist
    ), scored AS (
      SELECT term, ya, yb,
             round((ln(CAST(ya AS DOUBLE) + 0.01 * (CAST(ya AS DOUBLE) + CAST(yb AS DOUBLE)))
                    - ln(CAST(na AS DOUBLE) + 0.01 * (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
                         - CAST(ya AS DOUBLE)
                         - 0.01 * (CAST(ya AS DOUBLE) + CAST(yb AS DOUBLE)))
                    - ln(CAST(yb AS DOUBLE) + 0.01 * (CAST(ya AS DOUBLE) + CAST(yb AS DOUBLE)))
                    + ln(CAST(nb AS DOUBLE) + 0.01 * (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
                         - CAST(yb AS DOUBLE)
                         - 0.01 * (CAST(ya AS DOUBLE) + CAST(yb AS DOUBLE))))
                   / sqrt(1.0 / (CAST(ya AS DOUBLE)
                                 + 0.01 * (CAST(ya AS DOUBLE) + CAST(yb AS DOUBLE)))
                          + 1.0 / (CAST(yb AS DOUBLE)
                                 + 0.01 * (CAST(ya AS DOUBLE) + CAST(yb AS DOUBLE))))
                   + 1e-9, 4) + 0.0 AS z
      FROM hist CROSS JOIN tot
    )
    SELECT * FROM (
      SELECT 'src0' AS favors, term, ya, yb, z
      FROM scored ORDER BY z DESC, term LIMIT 15
    )
    UNION ALL
    SELECT * FROM (
      SELECT 'src1' AS favors, term, ya, yb, z
      FROM scored ORDER BY z ASC, term LIMIT 15
    )
    """,
)
def x134_distinguishing_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Fightin' Words' comparative-corpus analysis between src0 and
    src1: log-odds ratio with an informative Dirichlet prior ranks
    terms by EVIDENCE of differential use (raw frequency differences
    overweight common words; raw ratios overweight rare ones).  One
    conditional-aggregation histogram, scalar totals broadcast,
    map-side z, two TakeOrderedAndProject top-15s."""
    from ..operators.curation import distinguishing_terms

    docs = load_table(spark, sf_dir, "documents")
    return distinguishing_terms(docs, "src0", "src1")


@query(
    "x135_cluster_size_distribution",
    oracle=f"""
    WITH comp AS ({_P14_ORACLE}),
    sizes AS (
      SELECT component, CAST(count(*) AS BIGINT) AS csize FROM comp GROUP BY 1
    ), dist AS (
      SELECT csize, CAST(count(*) AS BIGINT) AS n_clusters FROM sizes GROUP BY 1
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents
    ), cl AS (
      SELECT CAST(coalesce(sum(csize * n_clusters), 0) AS BIGINT) AS n_clustered
      FROM dist
    ), allrows AS (
      SELECT csize, n_clusters FROM dist
      UNION ALL
      SELECT CAST(1 AS BIGINT), tot.n_total - cl.n_clustered FROM tot, cl
    )
    SELECT csize AS cluster_size, n_clusters,
           CAST(csize * n_clusters AS BIGINT) AS n_docs,
           round(CAST(csize * n_clusters AS DOUBLE)
                 / CAST(tot.n_total AS DOUBLE) + 1e-9, 6) + 0.0 AS doc_share
    FROM allrows, tot WHERE n_clusters > 0
    """,
)
def x135_cluster_size_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size distribution — the dedup report's first
    chart: singleton share, duplication tail, and how much a hard
    dedup would delete.  LSH closure + component-size aggregate +
    size histogram; the singleton row is arithmetic from the corpus
    total, never a corpus-sized anti-join."""
    from ..operators.dedup import cluster_size_distribution

    docs = load_table(spark, sf_dir, "documents")
    return cluster_size_distribution(docs)


_P12_ALL_CANDIDATES = _P12_ORACLE.replace(">= 0.5", ">= 0.0")


@query(
    "x136_threshold_sensitivity",
    oracle=f"""
    WITH cand AS ({_P12_ALL_CANDIDATES}),
    hist AS (
      SELECT est_jaccard, CAST(count(*) AS BIGINT) AS n_pairs
      FROM cand GROUP BY 1
    )
    SELECT est_jaccard, n_pairs,
           CAST(sum(n_pairs) OVER (ORDER BY est_jaccard DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS n_pairs_at_or_above
    FROM hist
    """,
)
def x136_threshold_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup threshold-sensitivity curve: pair yield at every
    estimated-Jaccard level (multiples of 1/16) from ONE LSH pass —
    the pre-commit answer to 'is 0.5 a fragile threshold here?'.
    Banding alone gates candidacy; the cumulative window runs over
    the 17-row histogram aggregate."""
    from ..operators.dedup import threshold_sensitivity

    docs = load_table(spark, sf_dir, "documents")
    return threshold_sensitivity(docs)


@query(
    "x137_readability",
    oracle="""
    WITH t AS (
      SELECT source,
             string_split(lower(text), ' ') AS toks,
             greatest(len(list_filter(regexp_split_to_array(text, '[.!?]'),
                                      s -> length(trim(s)) > 0)), 1) AS sents
      FROM documents
    ), per_doc AS (
      SELECT source,
             CAST(trunc((206.835
               - 1.015 * (CAST(len(toks) AS DOUBLE) / CAST(sents AS DOUBLE))
               - 84.6 * (CAST(list_sum(list_transform(toks,
                     w -> greatest(len(regexp_extract_all(w, '[aeiouy]+')), 1)))
                     AS DOUBLE) / CAST(len(toks) AS DOUBLE)))
               * 1e6) AS BIGINT) AS fq
      FROM t
    ), per AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(fq) AS BIGINT) AS sum_fq,
             CAST(sum(CASE WHEN fq < 30000000 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hard
      FROM per_doc GROUP BY 1
    )
    SELECT source, n_docs,
           round(CAST(sum_fq AS DOUBLE) / CAST(n_docs AS DOUBLE) / 1e6
                 + 1e-9, 4) + 0.0 AS mean_flesch,
           round(CAST(n_hard AS DOUBLE) / CAST(n_docs AS DOUBLE) + 1e-9, 6)
             + 0.0 AS hard_share
    FROM per
    """,
)
def x137_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per source with the vowel-group syllable
    proxy (floored at 1; identical under Java regex and RE2) — the
    readability screen whose collapse usually means extraction broke,
    not that the audience changed.  One map-only scan; per-doc scores
    micro-quantized so the mean is an exact-BIGINT sum divided once."""
    from ..operators.curation import readability_report

    docs = load_table(spark, sf_dir, "documents")
    return readability_report(docs)


@query(
    "x138_vocabulary_churn",
    oracle="""
    WITH tok AS (
      SELECT CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END AS side,
             source AS src,
             unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    ), hist AS (
      SELECT src, term,
             CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_old,
             CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_new
      FROM tok GROUP BY 1, 2
    ), per AS (
      SELECT src,
             CAST(sum(CASE WHEN c_old > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_types_old,
             CAST(sum(CASE WHEN c_new > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_types_new,
             CAST(sum(CASE WHEN c_old > 0 AND c_new = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_lost,
             CAST(sum(CASE WHEN c_old = 0 AND c_new > 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_gained,
             CAST(sum(c_new) AS BIGINT) AS tok_new,
             CAST(sum(CASE WHEN c_old = 0 THEN c_new ELSE 0 END) AS BIGINT)
               AS tok_new_in_gained,
             CAST(sum(c_old) AS BIGINT) AS tok_old,
             CAST(sum(CASE WHEN c_new = 0 THEN c_old ELSE 0 END) AS BIGINT)
               AS tok_old_in_lost
      FROM hist GROUP BY 1
    )
    SELECT src AS source, n_types_old, n_types_new, n_lost, n_gained,
           CASE WHEN n_types_new > 0 THEN
             round(CAST(n_gained AS DOUBLE) / CAST(n_types_new AS DOUBLE)
                   + 1e-9, 6) + 0.0 END AS type_gain_rate,
           CASE WHEN tok_new > 0 THEN
             round(CAST(tok_new_in_gained AS DOUBLE) / CAST(tok_new AS DOUBLE)
                   + 1e-9, 6) + 0.0 END AS mass_gain_rate,
           CASE WHEN tok_old > 0 THEN
             round(CAST(tok_old_in_lost AS DOUBLE) / CAST(tok_old AS DOUBLE)
                   + 1e-9, 6) + 0.0 END AS mass_loss_rate
    FROM per
    """,
)
def x138_vocabulary_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term-level churn between two corpus snapshots (doc-id parity
    plays the crawls, the x98 convention): types gained/lost AND the
    token mass those churned types carry — type counts alone
    overweight the hapax tail.  One unioned histogram via conditional
    aggregation (no join), one per-source aggregate."""
    from ..operators.curation import vocabulary_churn

    docs = load_table(spark, sf_dir, "documents")
    return vocabulary_churn(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
    )


@query(
    "x139_ks_length_drift",
    oracle="""
    WITH hist AS (
      SELECT source AS src,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS len,
             CAST(count(*) AS BIGINT) AS cnt
      FROM documents GROUP BY 1, 2
    ), tot AS (
      SELECT src, CAST(sum(cnt) AS BIGINT) AS n FROM hist GROUP BY 1
    ), skel AS (
      SELECT a.src AS source_a, b.src AS source_b, a.n AS n_a, b.n AS n_b
      FROM tot a CROSS JOIN tot b WHERE a.src < b.src
    ), ga AS (
      SELECT s.source_a, s.source_b, h.len, h.cnt AS ca
      FROM hist h JOIN skel s ON h.src = s.source_a
    ), gb AS (
      SELECT s.source_a, s.source_b, h.len, h.cnt AS cb
      FROM hist h JOIN skel s ON h.src = s.source_b
    ), grid AS (
      SELECT coalesce(ga.source_a, gb.source_a) AS source_a,
             coalesce(ga.source_b, gb.source_b) AS source_b,
             coalesce(ga.len, gb.len) AS len,
             coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
      FROM ga FULL OUTER JOIN gb
        ON ga.source_a = gb.source_a AND ga.source_b = gb.source_b
       AND ga.len = gb.len
    ), cum AS (
      SELECT source_a, source_b,
             CAST(sum(ca) OVER w AS BIGINT) AS cum_a,
             CAST(sum(cb) OVER w AS BIGINT) AS cum_b
      FROM grid
      WINDOW w AS (PARTITION BY source_a, source_b ORDER BY len)
    ), per AS (
      SELECT c.source_a, c.source_b, s.n_a, s.n_b,
             max(abs(CAST(cum_a AS DOUBLE) / CAST(s.n_a AS DOUBLE)
                     - CAST(cum_b AS DOUBLE) / CAST(s.n_b AS DOUBLE)))
               AS ks_d_raw
      FROM cum c JOIN skel s USING (source_a, source_b)
      GROUP BY 1, 2, 3, 4
    )
    SELECT source_a, source_b, n_a, n_b,
           round(ks_d_raw + 1e-9, 6) + 0.0 AS ks_d,
           round(least(1.0, 2.0 * exp(-2.0 * ks_d_raw * ks_d_raw
                 * (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                    / CAST(n_a + n_b AS DOUBLE)))) + 1e-9, 6) + 0.0 AS p_value,
           ks_d_raw > 1.36 * sqrt(1.0 / (CAST(n_a AS DOUBLE)
                 * CAST(n_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)))
             AS drifted
    FROM per
    """,
)
def x139_ks_length_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift test on document-length
    distributions between every source pair — shape-sensitive drift
    detection (truncation, chunking, padding) that mean/stddev screens
    miss.  One corpus scan into the persisted length histogram; the
    ECDF align + max-gap run over aggregated rows only."""
    from ..operators.curation import ks_drift

    docs = load_table(spark, sf_dir, "documents")
    return ks_drift(docs)


@query(
    "x140_heaps_fit",
    oracle="""
    WITH d AS (
      SELECT source AS src, doc_id, string_split(lower(text), ' ') AS toks
      FROM documents
    ), off AS (
      SELECT src, doc_id, toks,
             coalesce(sum(CAST(len(toks) AS BIGINT)) OVER (
               PARTITION BY src ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off0
      FROM d
    ), pos AS (
      SELECT src, off0 + generate_subscripts(toks, 1) AS gpos,
             unnest(toks) AS term
      FROM off
    ), first AS (
      SELECT src, term, CAST(min(gpos) AS BIGINT) AS first_pos
      FROM pos GROUP BY 1, 2
    ), ntok AS (
      SELECT src, CAST(sum(nt) AS BIGINT) AS n_tokens
      FROM (SELECT source AS src,
                   CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS nt
            FROM documents)
      GROUP BY 1
    ), by_bucket AS (
      SELECT src, CAST(length(bin(first_pos)) - 1 AS INT) AS b,
             CAST(count(*) AS BIGINT) AS new_types
      FROM first GROUP BY 1, 2
    ), ckpt AS (
      SELECT bb.src,
             least((CAST(1 AS BIGINT) << (b + 1)) - 1, n_tokens) AS n_at,
             CAST(sum(new_types) OVER (PARTITION BY bb.src ORDER BY b)
                  AS BIGINT) AS v,
             n_tokens
      FROM by_bucket bb JOIN ntok USING (src)
    ), terms AS (
      SELECT src, n_tokens,
             CAST(trunc(ln(CAST(n_at AS DOUBLE)) * 1e6) AS BIGINT) AS qx,
             CAST(trunc(ln(CAST(v AS DOUBLE)) * 1e6) AS BIGINT) AS qy,
             CAST(trunc(ln(CAST(n_at AS DOUBLE)) * ln(CAST(n_at AS DOUBLE))
                        * 1e6) AS BIGINT) AS qxx,
             CAST(trunc(ln(CAST(n_at AS DOUBLE)) * ln(CAST(v AS DOUBLE))
                        * 1e6) AS BIGINT) AS qxy,
             CAST(trunc(ln(CAST(v AS DOUBLE)) * ln(CAST(v AS DOUBLE))
                        * 1e6) AS BIGINT) AS qyy
      FROM ckpt
    ), per AS (
      SELECT src, max(n_tokens) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_checkpoints,
             CAST(sum(qx) AS BIGINT) AS sx, CAST(sum(qy) AS BIGINT) AS sy,
             CAST(sum(qxx) AS BIGINT) AS sxx, CAST(sum(qxy) AS BIGINT) AS sxy,
             CAST(sum(qyy) AS BIGINT) AS syy
      FROM terms GROUP BY 1
    ), stats AS (
      SELECT src, n_tokens, n_checkpoints,
             CAST(n_checkpoints AS DOUBLE) AS nd,
             CAST(sx AS DOUBLE) / 1e6 AS sxd, CAST(sy AS DOUBLE) / 1e6 AS syd,
             CAST(sxx AS DOUBLE) / 1e6 AS sxxd,
             CAST(sxy AS DOUBLE) / 1e6 AS sxyd,
             CAST(syy AS DOUBLE) / 1e6 AS syyd
      FROM per
    )
    SELECT src AS source, n_tokens, n_checkpoints,
           CASE WHEN n_checkpoints >= 3 AND nd * sxxd - sxd * sxd > 0 THEN
             round((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
                   + 1e-9, 6) + 0.0
           END AS heaps_beta,
           CASE WHEN n_checkpoints >= 3 AND nd * sxxd - sxd * sxd > 0 THEN
             round(exp((syd - (nd * sxyd - sxd * syd)
                              / (nd * sxxd - sxd * sxd) * sxd) / nd)
                   + 1e-9, 4) + 0.0
           END AS heaps_k,
           CASE WHEN n_checkpoints >= 3 AND nd * sxxd - sxd * sxd > 0
                     AND nd * syyd - syd * syd > 0 THEN
             round((nd * sxyd - sxd * syd) * (nd * sxyd - sxd * syd)
                   / ((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd))
                   + 1e-9, 6) + 0.0
           END AS r_squared
    FROM stats
    """,
)
def x140_heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth fit per source (V(n) ~ K n^beta) —
    the scaling companion to the Zipf fit: saturating vocabularies
    (beta -> 0) are template text, unbounded ones (beta -> 1) are
    id/hash-polluted tokenizer poison.  Exact integer positions via
    the per-source doc-order running sum; power-of-two checkpoints by
    integer bit-length; log-log OLS over <= ~40 checkpoint rows."""
    from ..operators.curation import heaps_fit

    docs = load_table(spark, sf_dir, "documents")
    return heaps_fit(docs)


@query(
    "x141_mann_kendall",
    oracle="""
    WITH sparse AS (
      SELECT date_trunc('hour', ts) AS h, event_type AS t,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ), grid AS (
      SELECT g.h, ty.t
      FROM (SELECT unnest(generate_series((SELECT min(h) FROM sparse),
                                          (SELECT max(h) FROM sparse),
                                          INTERVAL 1 HOUR)) AS h) g
      CROSS JOIN (SELECT DISTINCT t FROM sparse) ty
    ), hourly AS (
      SELECT grid.h, grid.t, coalesce(sparse.cnt, 0) AS cnt
      FROM grid LEFT JOIN sparse ON grid.h = sparse.h AND grid.t = sparse.t
    ), pairs AS (
      SELECT a.t, b.cnt - a.cnt AS diff,
             CAST(b.cnt - a.cnt AS DOUBLE)
               / (CAST(date_diff('second', a.h, b.h) AS DOUBLE) / 3600.0)
               AS slope
      FROM hourly a JOIN hourly b ON a.t = b.t AND a.h < b.h
    ), per AS (
      SELECT t,
             CAST(sum(CASE WHEN diff > 0 THEN 1 WHEN diff < 0 THEN -1
                           ELSE 0 END) AS BIGINT) AS s_stat,
             quantile_cont(slope, 0.5) AS sen_raw
      FROM pairs GROUP BY 1
    ), n AS (
      SELECT t, CAST(count(*) AS BIGINT) AS n_hours FROM hourly GROUP BY 1
    ), ties AS (
      SELECT t, CAST(sum(tk * (tk - 1) * (2 * tk + 5)) AS BIGINT) AS tie_corr
      FROM (SELECT t, cnt, CAST(count(*) AS BIGINT) AS tk
            FROM hourly GROUP BY 1, 2)
      GROUP BY 1
    ), j AS (
      SELECT per.t, n_hours, s_stat, sen_raw,
             CAST(n_hours * (n_hours - 1) * (2 * n_hours + 5) - tie_corr
                  AS DOUBLE) / 18.0 AS var_s_raw
      FROM per JOIN n USING (t) JOIN ties USING (t)
    )
    SELECT t AS event_type, n_hours, s_stat,
           round(var_s_raw + 1e-9, 4) + 0.0 AS var_s,
           CASE WHEN var_s_raw > 0 THEN
             round(CASE WHEN s_stat > 0
                        THEN (CAST(s_stat AS DOUBLE) - 1) / sqrt(var_s_raw)
                        WHEN s_stat < 0
                        THEN (CAST(s_stat AS DOUBLE) + 1) / sqrt(var_s_raw)
                        ELSE 0.0 END + 1e-9, 4) + 0.0
           END AS z,
           CASE WHEN var_s_raw <= 0 THEN 'flat'
                WHEN (CASE WHEN s_stat > 0
                           THEN (CAST(s_stat AS DOUBLE) - 1) / sqrt(var_s_raw)
                           WHEN s_stat < 0
                           THEN (CAST(s_stat AS DOUBLE) + 1) / sqrt(var_s_raw)
                           ELSE 0.0 END) > 1.96 THEN 'increasing'
                WHEN (CASE WHEN s_stat > 0
                           THEN (CAST(s_stat AS DOUBLE) - 1) / sqrt(var_s_raw)
                           WHEN s_stat < 0
                           THEN (CAST(s_stat AS DOUBLE) + 1) / sqrt(var_s_raw)
                           ELSE 0.0 END) < -1.96 THEN 'decreasing'
                ELSE 'no trend' END AS trend,
           round(sen_raw + 1e-9, 6) + 0.0 AS sen_slope
    FROM j
    """,
)
def x141_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotonic-trend test + Sen's slope per event type
    on the dense hourly grid — the fifth detector on the ONE shared
    hourly rollup (seasonal z / CUSUM / robust outliers / dispersion /
    trend).  Pair cost is C(n_hours, 2) over the AGGREGATED grid only,
    bounded by the time window, never by event volume."""
    from ..operators.timeseries import mann_kendall_trend

    events = load_table(spark, sf_dir, "events")
    return mann_kendall_trend(events)


@query(
    "x142_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT event_type AS next_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ), trans AS (
      SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n_trans
      FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
    ), tot AS (
      SELECT prev_type, CAST(sum(n_trans) AS BIGINT) AS n_from
      FROM trans GROUP BY 1
    ), cells AS (
      SELECT t.prev_type, t.next_type, t.n_trans, n_from,
             CAST(trunc(-(CAST(n_trans AS DOUBLE) / CAST(n_from AS DOUBLE))
                  * log2(CAST(n_trans AS DOUBLE) / CAST(n_from AS DOUBLE))
                  * 1e12) AS BIGINT) AS hq
      FROM trans t JOIN tot USING (prev_type)
    ), ent AS (
      SELECT prev_type, CAST(sum(hq) AS BIGINT) AS hq_sum
      FROM cells GROUP BY 1
    )
    SELECT c.prev_type, c.next_type, n_trans,
           round(CAST(n_trans AS DOUBLE) / CAST(n_from AS DOUBLE)
                 + 1e-9, 6) + 0.0 AS prob,
           round(CAST(hq_sum AS DOUBLE) / 1e12 + 1e-9, 6) + 0.0
             AS row_entropy_bits
    FROM cells c JOIN ent USING (prev_type)
    """,
)
def x142_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    streams with per-row entropy — next-action predictability and the
    bot-loop screen (near-zero-entropy rows).  One per-key window over
    the log; everything after runs on the k^2 transition cells."""
    from ..operators.timeseries import event_transitions

    events = load_table(spark, sf_dir, "events")
    return event_transitions(events)


@query(
    "x143_order_value_model",
    oracle="""
    WITH per_order AS (
      SELECT l_orderkey AS ok, CAST(count(*) AS BIGINT) AS n_items,
             CAST(sum(l_quantity) AS DOUBLE) AS qty
      FROM lineitem GROUP BY 1
    ), j AS (
      SELECT o.o_orderpriority AS grp,
             CAST(o.o_totalprice AS DOUBLE) / 100000.0 AS ys,
             CAST(n_items AS DOUBLE) / 10.0 AS x1,
             qty / 100.0 AS x2
      FROM orders o JOIN per_order ON o.o_orderkey = ok
    ), rq AS (
      SELECT grp,
             CAST(trunc(x1 * 1e8) AS BIGINT) AS q1,
             CAST(trunc(x2 * 1e8) AS BIGINT) AS q2,
             CAST(trunc(ys * 1e8) AS BIGINT) AS qy,
             CAST(trunc(x1 * x1 * 1e8) AS BIGINT) AS q11,
             CAST(trunc(x2 * x2 * 1e8) AS BIGINT) AS q22,
             CAST(trunc(x1 * x2 * 1e8) AS BIGINT) AS q12,
             CAST(trunc(x1 * ys * 1e8) AS BIGINT) AS q1y,
             CAST(trunc(x2 * ys * 1e8) AS BIGINT) AS q2y,
             CAST(trunc(ys * ys * 1e8) AS BIGINT) AS qyy
      FROM j
    ), per AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(q1) AS BIGINT) AS s1, CAST(sum(q2) AS BIGINT) AS s2,
             CAST(sum(qy) AS BIGINT) AS sy, CAST(sum(q11) AS BIGINT) AS s11,
             CAST(sum(q22) AS BIGINT) AS s22, CAST(sum(q12) AS BIGINT) AS s12,
             CAST(sum(q1y) AS BIGINT) AS s1y, CAST(sum(q2y) AS BIGINT) AS s2y,
             CAST(sum(qyy) AS BIGINT) AS syy
      FROM rq GROUP BY 1
    ), d AS (
      SELECT grp, n, CAST(n AS DOUBLE) AS nd,
             CAST(s1 AS DOUBLE) / 1e8 AS s1d, CAST(s2 AS DOUBLE) / 1e8 AS s2d,
             CAST(sy AS DOUBLE) / 1e8 AS syd,
             CAST(s11 AS DOUBLE) / 1e8 AS s11d,
             CAST(s22 AS DOUBLE) / 1e8 AS s22d,
             CAST(s12 AS DOUBLE) / 1e8 AS s12d,
             CAST(s1y AS DOUBLE) / 1e8 AS s1yd,
             CAST(s2y AS DOUBLE) / 1e8 AS s2yd,
             CAST(syy AS DOUBLE) / 1e8 AS syyd
      FROM per
    ), c AS (
      SELECT grp, n, nd, s1d, s2d, syd,
             s11d - s1d * s1d / nd AS c11,
             s22d - s2d * s2d / nd AS c22,
             s12d - s1d * s2d / nd AS c12,
             s1yd - s1d * syd / nd AS c1y,
             s2yd - s2d * syd / nd AS c2y,
             syyd - syd * syd / nd AS cyy
      FROM d
    ), solved AS (
      SELECT grp, n, nd, s1d, s2d, syd, c1y, c2y, cyy,
             c11 * c22 - c12 * c12 AS det,
             (c22 * c1y - c12 * c2y) / (c11 * c22 - c12 * c12) AS b1s,
             (c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12) AS b2s
      FROM c
    )
    SELECT grp AS o_orderpriority, n,
           CASE WHEN n >= 3 AND det > 1e-12 THEN
             round((syd - b1s * s1d - b2s * s2d) / nd * 100000.0 + 1e-9, 4)
               + 0.0 END AS b0,
           CASE WHEN n >= 3 AND det > 1e-12 THEN
             round(b1s * 10000.0 + 1e-9, 4) + 0.0 END AS b1,
           CASE WHEN n >= 3 AND det > 1e-12 THEN
             round(b2s * 1000.0 + 1e-9, 4) + 0.0 END AS b2,
           CASE WHEN n >= 3 AND det > 1e-12 AND cyy > 0 THEN
             round((b1s * c1y + b2s * c2y) / cyy + 1e-9, 6) + 0.0
           END AS r_squared
    FROM solved
    """,
)
def x143_order_value_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-database OLS: o_totalprice regressed on item count and total
    quantity per order, closed-form per order priority — ONE scan
    accumulates all nine second-order moments as a combinable
    aggregate; no iterative solver, no driver-side matrix.  The 'which
    cheap signals explain this KPI' regression at warehouse scale."""
    from ..operators.profile import ols2_fit

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    per_order = li.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.count("*").cast("long").alias("n_items"),
        F.sum("l_quantity").cast("double").alias("qty"),
    )
    j = orders.join(per_order, orders["o_orderkey"] == per_order["ok"]).select(
        "o_orderpriority",
        F.col("o_totalprice").cast("double").alias("y"),
        F.col("n_items").cast("double").alias("x1"),
        F.col("qty").alias("x2"),
    )
    return ols2_fit(
        j, "y", "x1", "x2", "o_orderpriority",
        y_scale=100000.0, x1_scale=10.0, x2_scale=100.0,
    )


@query(
    "x144_lang_source_chi2",
    oracle="""
    WITH scored AS (
      SELECT source,
             CAST(len(list_filter(string_split(lower(text), ' '),
                  t -> t IN ('the', 'a', 'of', 'and'))) AS BIGINT) AS n_en,
             CAST(len(list_filter(string_split(lower(text), ' '),
                  t -> t IN ('el', 'la', 'de', 'que'))) AS BIGINT) AS n_es,
             CAST(len(list_filter(string_split(lower(text), ' '),
                  t -> t IN ('der', 'die', 'und', 'das'))) AS BIGINT) AS n_de,
             CAST(len(list_filter(string_split(lower(text), ' '),
                  t -> t IN ('le', 'la', 'et', 'les'))) AS BIGINT) AS n_fr
      FROM documents
    ), labeled AS (
      SELECT source AS rv,
             CASE WHEN greatest(n_en, n_es, n_de, n_fr) = 0 THEN 'und'
                  WHEN n_en = greatest(n_en, n_es, n_de, n_fr) THEN 'en'
                  WHEN n_es = greatest(n_en, n_es, n_de, n_fr) THEN 'es'
                  WHEN n_de = greatest(n_en, n_es, n_de, n_fr) THEN 'de'
                  ELSE 'fr' END AS cv
      FROM scored
    ), cells AS (
      SELECT rv, cv, CAST(count(*) AS BIGINT) AS n_obs
      FROM labeled GROUP BY 1, 2
    ), rmarg AS (
      SELECT rv, CAST(sum(n_obs) AS BIGINT) AS n_row FROM cells GROUP BY 1
    ), cmarg AS (
      SELECT cv, CAST(sum(n_obs) AS BIGINT) AS n_col FROM cells GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(n_obs) AS BIGINT) AS n_total,
             CAST(count(DISTINCT rv) AS BIGINT) AS n_r,
             CAST(count(DISTINCT cv) AS BIGINT) AS n_c
      FROM cells
    ), full_grid AS (
      SELECT rmarg.rv, cmarg.cv, n_row, n_col FROM rmarg CROSS JOIN cmarg
    ), wide AS (
      SELECT g.rv, g.cv, CAST(coalesce(cells.n_obs, 0) AS BIGINT) AS n_obs,
             n_row, n_col, n_total, n_r, n_c,
             CAST(n_row AS DOUBLE) * CAST(n_col AS DOUBLE)
               / CAST(n_total AS DOUBLE) AS expected_raw
      FROM full_grid g
      LEFT JOIN cells ON g.rv = cells.rv AND g.cv = cells.cv
      CROSS JOIN tot
    ), per_cell AS (
      SELECT rv, cv, n_obs, n_total, n_r, n_c,
             round(expected_raw + 1e-9, 4) + 0.0 AS expected,
             CAST(trunc((CAST(n_obs AS DOUBLE) - expected_raw)
                  * (CAST(n_obs AS DOUBLE) - expected_raw) / expected_raw
                  * 1e6) AS BIGINT) AS termq
      FROM wide
    ), stat AS (
      SELECT n_total, n_r, n_c, CAST(sum(termq) AS BIGINT) AS chiq
      FROM per_cell GROUP BY 1, 2, 3
    ), shared AS (
      SELECT n_total,
             round(CAST(chiq AS DOUBLE) / 1e6 + 1e-9, 4) + 0.0 AS chi2,
             CAST((n_r - 1) * (n_c - 1) AS BIGINT) AS dof,
             round(sqrt(CAST(chiq AS DOUBLE) / 1e6
                   / (CAST(n_total AS DOUBLE) * CAST(least(n_r, n_c) AS DOUBLE)
                      - CAST(n_total AS DOUBLE))) + 1e-9, 6) + 0.0
               AS cramers_v,
             CAST(chiq AS DOUBLE) / 1e6 > 97.351 AS dependent
      FROM stat
    )
    SELECT rv AS source, cv AS lang_pred, n_obs, expected,
           chi2, dof, cramers_v, dependent
    FROM per_cell JOIN shared USING (n_total)
    """,
)
def x144_lang_source_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared independence test of predicted language vs source
    with Cramer's V — the 'is language balanced across crawls?'
    profiling screen; a dependent table means per-source sampling
    silently shifts the language mix.  One scan to the r x c
    contingency table; crit is the 0.05 value for 76 dof (20 sources
    x 5 languages on the test corpus)."""
    from ..operators.profile import chi2_independence
    from ..operators.text import lang_id

    docs = load_table(spark, sf_dir, "documents")
    labeled = docs.select(
        "source", lang_id(F.col("text")).alias("lang_pred")
    )
    return chi2_independence(labeled, "source", "lang_pred", crit=97.351)


@query(
    "x145_autocorrelation",
    oracle="""
    WITH sparse AS (
      SELECT date_trunc('hour', ts)::TIMESTAMP AS h, event_type AS t,
             count(*) AS cnt
      FROM events GROUP BY 1, 2
    ), grid AS (
      SELECT g.h, ty.t
      FROM (SELECT unnest(generate_series((SELECT min(h) FROM sparse),
                                          (SELECT max(h) FROM sparse),
                                          INTERVAL 1 HOUR)) AS h) g
      CROSS JOIN (SELECT DISTINCT t FROM sparse) ty
    ), hourly AS (
      SELECT grid.h, grid.t, coalesce(sparse.cnt, 0) AS cnt
      FROM grid LEFT JOIN sparse ON grid.h = sparse.h AND grid.t = sparse.t
    ), lags AS (
      SELECT unnest(range(1, 25)) AS lag_hours
    ), j AS (
      SELECT a.t, l.lag_hours, a.cnt AS ca, b.cnt AS cb
      FROM hourly a
      CROSS JOIN lags l
      JOIN hourly b
        ON b.t = a.t AND b.h = a.h + to_hours(l.lag_hours)
    ), per AS (
      SELECT t, lag_hours, CAST(count(*) AS BIGINT) AS n_hours,
             CAST(sum(ca) AS BIGINT) AS sx, CAST(sum(cb) AS BIGINT) AS sy,
             CAST(sum(ca * ca) AS BIGINT) AS sxx,
             CAST(sum(cb * cb) AS BIGINT) AS syy,
             CAST(sum(ca * cb) AS BIGINT) AS sxy
      FROM j GROUP BY 1, 2
    )
    SELECT t AS event_type, CAST(lag_hours AS BIGINT) AS lag_hours, n_hours,
           round(CAST(n_hours * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n_hours * sxx - sx * sx AS DOUBLE)
                        * CAST(n_hours * syy - sy * sy AS DOUBLE))
                 + 1e-9, 4) AS acf
    FROM per
    WHERE n_hours >= 10 AND n_hours * sxx - sx * sx > 0
      AND n_hours * syy - sy * sy > 0
    """,
)
def x145_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function per event type at lags 1..24 on the
    dense hourly grid — the periodicity diagnostic (daily cycles peak
    at lag 24) and the SIXTH consumer of the one shared rollup.  The
    lag self-join and corr run over aggregated grid rows only."""
    from ..operators.timeseries import autocorrelation

    events = load_table(spark, sf_dir, "events")
    return autocorrelation(events)


@query(
    "x146_detector_consensus",
    oracle="""
    WITH sparse AS (
      SELECT date_trunc('hour', ts)::TIMESTAMP AS h, event_type AS t,
             count(*) AS cnt
      FROM events GROUP BY 1, 2
    ), grid AS (
      SELECT g.h, ty.t
      FROM (SELECT unnest(generate_series((SELECT min(h) FROM sparse),
                                          (SELECT max(h) FROM sparse),
                                          INTERVAL 1 HOUR)) AS h) g
      CROSS JOIN (SELECT DISTINCT t FROM sparse) ty
    ), hourly AS (
      SELECT grid.h, grid.t, coalesce(sparse.cnt, 0) AS cnt
      FROM grid LEFT JOIN sparse ON grid.h = sparse.h AND grid.t = sparse.t
    ), hod AS (
      SELECT h, t, cnt, extract(hour FROM h) AS hd FROM hourly
    ), slot AS (
      SELECT t, hd, sum(cnt) AS s1, sum(cnt * cnt) AS s2, count(*) AS n
      FROM hod GROUP BY 1, 2
    ), seasonal AS (
      SELECT hh.t, hh.h, hh.cnt, s.n,
             CASE WHEN (s.s2 - hh.cnt * hh.cnt
                        - (s.s1 - hh.cnt) * (s.s1 - hh.cnt)
                          / CAST(s.n - 1 AS DOUBLE)) / (s.n - 2) > 0
                  THEN (hh.cnt - (s.s1 - hh.cnt) / CAST(s.n - 1 AS DOUBLE))
                       / sqrt((s.s2 - hh.cnt * hh.cnt
                               - (s.s1 - hh.cnt) * (s.s1 - hh.cnt)
                                 / CAST(s.n - 1 AS DOUBLE)) / (s.n - 2))
                  WHEN hh.cnt > (s.s1 - hh.cnt) / CAST(s.n - 1 AS DOUBLE)
                  THEN 9999.0
                  WHEN hh.cnt < (s.s1 - hh.cnt) / CAST(s.n - 1 AS DOUBLE)
                  THEN -9999.0 END AS zv
      FROM hod hh JOIN slot s ON hh.t = s.t AND hh.hd = s.hd
    ), med AS (
      SELECT t, CAST(2 * median(cnt) AS BIGINT) AS med2
      FROM hourly GROUP BY 1
    ), dev AS (
      SELECT hh.t, hh.h, hh.cnt, m.med2,
             abs(2 * hh.cnt - m.med2) AS d2
      FROM hourly hh JOIN med m ON hh.t = m.t
    ), mad AS (
      SELECT t, median(d2) AS md2 FROM dev GROUP BY 1
    ), robust AS (
      SELECT d.t, d.h,
             CASE WHEN m.md2 > 0
                  THEN CAST(2 * d.cnt - d.med2 AS DOUBLE) / (1.4826 * m.md2)
                  WHEN 2 * d.cnt - d.med2 > 0 THEN 9999.0
                  WHEN 2 * d.cnt - d.med2 < 0 THEN -9999.0
                  ELSE 0.0 END AS rzv
      FROM dev d JOIN mad m ON d.t = m.t
    ), cstats AS (
      SELECT t, count(*) AS n, CAST(sum(cnt) AS BIGINT) AS s1,
             CAST(sum(cnt * cnt) AS BIGINT) AS s2
      FROM hourly GROUP BY 1
    ), cscored AS (
      SELECT hh.t, hh.h,
             (CAST(hh.cnt AS DOUBLE)
              - CAST(s.s1 AS DOUBLE) / CAST(s.n AS DOUBLE))
             / sqrt((CAST(s.s2 AS DOUBLE)
                     - CAST(s.s1 AS DOUBLE) * CAST(s.s1 AS DOUBLE)
                       / CAST(s.n AS DOUBLE))
                    / (CAST(s.n AS DOUBLE) - 1.0)) AS y
      FROM hourly hh JOIN cstats s ON hh.t = s.t
      WHERE s.n >= 3
        AND (CAST(s.s2 AS DOUBLE)
             - CAST(s.s1 AS DOUBLE) * CAST(s.s1 AS DOUBLE)
               / CAST(s.n AS DOUBLE))
            / (CAST(s.n AS DOUBLE) - 1.0) > 0
    ), cquant AS (
      SELECT t, h,
             CAST(trunc((y - 0.5) * 1000000.0) AS BIGINT) AS aq,
             CAST(trunc((-y - 0.5) * 1000000.0) AS BIGINT) AS bq
      FROM cscored
    ), cpfx AS (
      SELECT t, h, sum(aq) OVER w AS pp, sum(bq) OVER w AS pn
      FROM cquant
      WINDOW w AS (PARTITION BY t ORDER BY h ROWS UNBOUNDED PRECEDING)
    ), cusum AS (
      SELECT t, h,
             pp - least(min(pp) OVER w, 0) AS sp,
             pn - least(min(pn) OVER w, 0) AS sn
      FROM cpfx
      WINDOW w AS (PARTITION BY t ORDER BY h ROWS UNBOUNDED PRECEDING)
    ), disp AS (
      SELECT t, CAST(count(*) AS BIGINT) AS nh,
             CAST(sum(cnt) AS BIGINT) AS tot,
             CAST(sum(cnt * cnt) AS BIGINT) AS ssq
      FROM hourly GROUP BY 1
    ), mk_pairs AS (
      SELECT a.t,
             CASE WHEN b.cnt > a.cnt THEN 1
                  WHEN b.cnt < a.cnt THEN -1 ELSE 0 END AS sg
      FROM hourly a JOIN hourly b ON a.t = b.t AND a.h < b.h
    ), mk_s AS (
      SELECT t, CAST(sum(sg) AS BIGINT) AS s_stat FROM mk_pairs GROUP BY 1
    ), mk_n AS (
      SELECT t, CAST(count(*) AS BIGINT) AS n_hours FROM hourly GROUP BY 1
    ), mk_ties AS (
      SELECT t, CAST(sum(tk * (tk - 1) * (2 * tk + 5)) AS BIGINT) AS tie_corr
      FROM (SELECT t, cnt, CAST(count(*) AS BIGINT) AS tk
            FROM hourly GROUP BY 1, 2)
      GROUP BY 1
    ), mk AS (
      SELECT s.t, s_stat,
             CAST(n_hours * (n_hours - 1) * (2 * n_hours + 5) - tie_corr
                  AS DOUBLE) / 18.0 AS var_s_raw
      FROM mk_s s JOIN mk_n USING (t) JOIN mk_ties USING (t)
    ), trend AS (
      SELECT t,
             CASE WHEN var_s_raw <= 0 THEN 'flat'
                  WHEN (CASE WHEN s_stat > 0
                             THEN (CAST(s_stat AS DOUBLE) - 1)
                                  / sqrt(var_s_raw)
                             WHEN s_stat < 0
                             THEN (CAST(s_stat AS DOUBLE) + 1)
                                  / sqrt(var_s_raw)
                             ELSE 0.0 END) > 1.96 THEN 'increasing'
                  WHEN (CASE WHEN s_stat > 0
                             THEN (CAST(s_stat AS DOUBLE) - 1)
                                  / sqrt(var_s_raw)
                             WHEN s_stat < 0
                             THEN (CAST(s_stat AS DOUBLE) + 1)
                                  / sqrt(var_s_raw)
                             ELSE 0.0 END) < -1.96 THEN 'decreasing'
                  ELSE 'no trend' END AS trend
      FROM mk
    ), flags AS (
      SELECT se.t, se.h, se.cnt,
             CASE WHEN se.n >= 3 AND se.zv IS NOT NULL
                  THEN round(se.zv + 1e-9, 4) END AS seasonal_z,
             coalesce(se.n >= 3 AND se.zv IS NOT NULL
                      AND abs(se.zv) > 2.0, false) AS seasonal_flag,
             round(r.rzv + 1e-9, 4) + 0.0 AS robust_z,
             abs(r.rzv) > 3.5 AS robust_flag,
             round(c.sp / 1000000.0 + 1e-9, 4) + 0.0 AS cusum_up,
             round(c.sn / 1000000.0 + 1e-9, 4) + 0.0 AS cusum_down,
             coalesce(c.sp > 5000000 OR c.sn > 5000000, false) AS cusum_flag
      FROM seasonal se
      JOIN robust r ON se.t = r.t AND se.h = r.h
      LEFT JOIN cusum c ON se.t = c.t AND se.h = c.h
    )
    SELECT f.t AS event_type, f.h AS hour, f.cnt,
           f.seasonal_z, f.robust_z, f.cusum_up, f.cusum_down,
           CASE WHEN d.tot > 0 THEN
             round((CAST(d.ssq AS DOUBLE) / CAST(d.nh AS DOUBLE)
                    - (CAST(d.tot AS DOUBLE) / CAST(d.nh AS DOUBLE))
                      * (CAST(d.tot AS DOUBLE) / CAST(d.nh AS DOUBLE)))
                   / (CAST(d.tot AS DOUBLE) / CAST(d.nh AS DOUBLE))
                   + 1e-9, 6) + 0.0
           END AS fano,
           tr.trend,
           CAST(CAST(f.seasonal_flag AS INT) + CAST(f.robust_flag AS INT)
                + CAST(f.cusum_flag AS INT) AS INT) AS n_flags,
           (CAST(f.seasonal_flag AS INT) + CAST(f.robust_flag AS INT)
            + CAST(f.cusum_flag AS INT)) >= 2 AS consensus
    FROM flags f
    LEFT JOIN disp d ON f.t = d.t
    LEFT JOIN trend tr ON f.t = tr.t
    """,
)
def x146_detector_consensus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed monitoring dashboard: all three hour-level
    detectors (seasonal LOO z / robust median-MAD z / CUSUM shift)
    scored side by side on the ONE shared hourly rollup, with
    per-type context (Fano burstiness, Mann-Kendall trend) and a
    consensus vote — proof the detector family composes without
    re-scanning the event log per detector (x94's composition story
    for the monitoring tier)."""
    from ..operators.timeseries import detector_consensus

    events = load_table(spark, sf_dir, "events")
    return detector_consensus(events)


@query(
    "x147_holt_winters",
    oracle="""
    WITH RECURSIVE sparse AS (
      SELECT date_trunc('hour', ts)::TIMESTAMP AS h, event_type AS t,
             count(*) AS cnt
      FROM events GROUP BY 1, 2
    ), grid AS (
      SELECT g.h, ty.t
      FROM (SELECT unnest(generate_series((SELECT min(h) FROM sparse),
                                          (SELECT max(h) FROM sparse),
                                          INTERVAL 1 HOUR)) AS h) g
      CROSS JOIN (SELECT DISTINCT t FROM sparse) ty
    ), hourly AS (
      SELECT grid.h, grid.t, coalesce(sparse.cnt, 0) AS cnt
      FROM grid LEFT JOIN sparse ON grid.h = sparse.h AND grid.t = sparse.t
    ), numbered AS (
      SELECT t, CAST(cnt AS DOUBLE) AS x,
             CAST(row_number() OVER (PARTITION BY t ORDER BY h) - 1 AS INT)
               AS idx
      FROM hourly
    ), nper AS (
      SELECT t, CAST(count(*) AS BIGINT) AS n_hours FROM hourly GROUP BY 1
    ), sums AS (
      SELECT t,
             CAST(sum(CASE WHEN idx < 24 THEN CAST(x AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS s1,
             CAST(sum(CASE WHEN idx >= 24 AND idx < 48
                           THEN CAST(x AS BIGINT) ELSE 0 END) AS BIGINT) AS s2
      FROM numbered GROUP BY 1
    ), init AS (
      SELECT n.t,
             CAST(s.s1 AS DOUBLE) / 24.0 AS l0,
             (CAST(s.s2 AS DOUBLE) / 24.0 - CAST(s.s1 AS DOUBLE) / 24.0)
               / 24.0 AS b0,
             list(n.x - CAST(s.s1 AS DOUBLE) / 24.0 ORDER BY n.idx)
               FILTER (WHERE n.idx < 24) AS seas
      FROM numbered n JOIN sums s ON n.t = s.t
      JOIN nper ON n.t = nper.t
      WHERE nper.n_hours >= 49
      GROUP BY 1, 2, 3
    ), rec AS (
      SELECT t, 24 AS idx, l0 AS lv, b0 AS tr, seas,
             CAST(0.0 AS DOUBLE) AS sse
      FROM init
      UNION ALL
      SELECT r.t, r.idx + 1,
             0.3 * (x.x - r.seas[r.idx % 24 + 1]) + 0.7 * (r.lv + r.tr),
             0.1 * ((0.3 * (x.x - r.seas[r.idx % 24 + 1])
                     + 0.7 * (r.lv + r.tr)) - r.lv) + 0.9 * r.tr,
             list_slice(r.seas, 1, r.idx % 24)
               || [0.2 * (x.x - (0.3 * (x.x - r.seas[r.idx % 24 + 1])
                                 + 0.7 * (r.lv + r.tr)))
                   + 0.8 * r.seas[r.idx % 24 + 1]]
               || list_slice(r.seas, r.idx % 24 + 2, 24),
             r.sse + (x.x - (r.lv + r.tr + r.seas[r.idx % 24 + 1]))
                   * (x.x - (r.lv + r.tr + r.seas[r.idx % 24 + 1]))
      FROM rec r JOIN numbered x ON x.t = r.t AND x.idx = r.idx
    ), fin AS (
      SELECT r.* FROM rec r JOIN nper ON r.t = nper.t
      WHERE r.idx = nper.n_hours
    )
    SELECT n.t AS event_type, n.n_hours,
           round(f.lv + 1e-9, 4) AS level,
           round(f.tr + 1e-9, 4) AS trend,
           round(f.lv + f.tr + f.seas[f.idx % 24 + 1] + 1e-9, 4)
             AS forecast_next,
           round(sqrt(f.sse / CAST(n.n_hours - 24 AS DOUBLE)) + 1e-9, 4)
             AS rmse
    FROM nper n LEFT JOIN fin f ON n.t = f.t
    """,
)
def x147_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters forecast per event type — the classical
    iterative recurrence run as a pure CODEGEN ARRAY FOLD over the
    per-type hourly series (no Python, no driver loop), value-checked
    bit-exactly against a DuckDB recursive-CTE replay of the same
    fixed-order IEEE arithmetic (the x80 oracle discipline)."""
    from ..operators.timeseries import holt_winters

    events = load_table(spark, sf_dir, "events")
    return holt_winters(events)


@query(
    "x148_length_psi",
    oracle="""
    WITH hist AS (
      SELECT source AS src,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS len,
             CAST(count(*) AS BIGINT) AS cnt
      FROM documents GROUP BY 1, 2
    ), binned AS (
      SELECT src, CAST(length(bin(len)) - 1 AS INT) AS b,
             CAST(sum(cnt) AS BIGINT) AS n
      FROM hist GROUP BY 1, 2
    ), tot_bin AS (
      SELECT b, CAST(sum(n) AS BIGINT) AS n_all FROM binned GROUP BY 1
    ), tot_src AS (
      SELECT src, CAST(sum(n) AS BIGINT) AS n_src FROM binned GROUP BY 1
    ), n_total AS (
      SELECT CAST(sum(n) AS BIGINT) AS n_tot,
             CAST(count(DISTINCT b) AS BIGINT) AS n_bins
      FROM binned
    ), cells AS (
      SELECT s.src, tb.b, s.n_src, tb.n_all,
             CAST(coalesce(bi.n, 0) AS BIGINT) AS n_in, nt.n_tot, nt.n_bins
      FROM tot_src s CROSS JOIN tot_bin tb
      LEFT JOIN binned bi ON bi.src = s.src AND bi.b = tb.b
      CROSS JOIN n_total nt
    ), terms AS (
      SELECT src, n_src, n_bins,
             CAST(trunc(
               ((CAST(n_in AS DOUBLE) + 0.5)
                  / (CAST(n_src AS DOUBLE) + 0.5 * CAST(n_bins AS DOUBLE))
                - (CAST(n_all - n_in AS DOUBLE) + 0.5)
                  / (CAST(n_tot - n_src AS DOUBLE)
                     + 0.5 * CAST(n_bins AS DOUBLE)))
               * ln(((CAST(n_in AS DOUBLE) + 0.5)
                     / (CAST(n_src AS DOUBLE) + 0.5 * CAST(n_bins AS DOUBLE)))
                    / ((CAST(n_all - n_in AS DOUBLE) + 0.5)
                       / (CAST(n_tot - n_src AS DOUBLE)
                          + 0.5 * CAST(n_bins AS DOUBLE))))
               * 1e12) AS BIGINT) AS tq
      FROM cells
    ), per AS (
      SELECT src, n_src, max(n_bins) AS n_bins,
             CAST(sum(tq) AS BIGINT) AS psi_q
      FROM terms GROUP BY 1, 2
    )
    SELECT src AS source, n_src AS n_docs, n_bins,
           round(CAST(psi_q AS DOUBLE) / 1e12 + 1e-9, 6) + 0.0 AS psi,
           CAST(psi_q AS DOUBLE) / 1e12 > 0.2 AS drifted
    FROM per
    """,
)
def x148_length_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of each source's length distribution
    vs the rest of the corpus — the interpretable drift score next to
    the KS test, over integer bit-length bins with Laplace smoothing;
    reads the SAME persisted length histogram as x139."""
    from ..operators.curation import length_psi

    docs = load_table(spark, sf_dir, "documents")
    return length_psi(docs)


@query(
    "x149_lsh_calibration",
    oracle=f"""
    WITH cand AS ({_P12_ALL_CANDIDATES}),
    shingle_sets AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(string_split(lower(text), ' ')) - 2, 1) + 1),
               i -> concat_ws(' ', string_split(lower(text), ' ')[i],
                              string_split(lower(text), ' ')[i+1],
                              string_split(lower(text), ' ')[i+2])
             )) AS shingles
      FROM documents
    ), verified AS (
      SELECT c.est_jaccard,
             round(len(list_intersect(a.shingles, b.shingles))
                   / CAST(len(a.shingles) + len(b.shingles)
                          - len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                   + 1e-9, 4) AS jac
      FROM cand c
      JOIN shingle_sets a ON a.doc_id = c.doc_a
      JOIN shingle_sets b ON b.doc_id = c.doc_b
    ), lv AS (
      SELECT CAST(trunc(est_jaccard * 16 + 0.5) AS INT) AS level,
             CAST(trunc(jac * 1e6) AS BIGINT) AS qex,
             CAST(trunc(abs(est_jaccard - jac) * 1e6) AS BIGINT) AS qae
      FROM verified
    ), per AS (
      SELECT level, CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(qex) AS BIGINT) AS sex, CAST(sum(qae) AS BIGINT) AS sae
      FROM lv GROUP BY 1
    )
    SELECT round(CAST(level AS DOUBLE) / 16.0 + 1e-9, 4) + 0.0 AS est_jaccard,
           n_pairs,
           round(CAST(sex AS DOUBLE) / CAST(n_pairs AS DOUBLE) / 1e6
                 + 1e-9, 6) + 0.0 AS mean_exact_jaccard,
           round(CAST(sae AS DOUBLE) / CAST(n_pairs AS DOUBLE) / 1e6
                 + 1e-9, 6) + 0.0 AS mean_abs_err
    FROM per
    """,
)
def x149_lsh_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration audit of the MinHash estimator vs exact Jaccard per
    estimate level — the accuracy curve that tells you where the dedup
    threshold is trustworthy (x136 gives the yield curve).  One LSH
    pass with banding-only candidacy; exact verification on candidates
    only; a <= 17-row aggregate."""
    from ..operators.dedup import lsh_calibration

    docs = load_table(spark, sf_dir, "documents")
    return lsh_calibration(docs)


@query(
    "x150_session_ngrams",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts, event_id, event_type,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    ), seqs AS (
      SELECT user_id, session_id,
             list(event_type ORDER BY ts, event_id) AS seq
      FROM sessions GROUP BY 1, 2
    ), grams AS (
      SELECT unnest(list_distinct(list_transform(
               range(1, greatest(len(seq) - 2, 0) + 1),
               i -> concat_ws(' ', seq[i], seq[i+1], seq[i+2])))) AS ngram
      FROM seqs
    ), counts AS (
      SELECT ngram, CAST(count(*) AS BIGINT) AS n_sessions
      FROM grams GROUP BY 1
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_total FROM seqs
    )
    SELECT ngram, n_sessions,
           round(CAST(n_sessions AS DOUBLE) / CAST(n_total AS DOUBLE)
                 + 1e-9, 6) + 0.0 AS support,
           CAST(rn AS INT) AS rank
    FROM (SELECT ngram, n_sessions,
                 row_number() OVER (ORDER BY n_sessions DESC, ngram) AS rn
          FROM counts) CROSS JOIN tot
    WHERE rn <= 20
    """,
)
def x150_session_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern mining: top-20 event-type trigrams by
    session support — the journey-shape report the memoryless
    transition matrix can't answer.  One sessionize pass; trigram
    expansion is in-group; counts are vocabulary-bounded."""
    from ..operators.timeseries import session_ngrams

    events = load_table(spark, sf_dir, "events")
    return session_ngrams(events)


@query(
    "x151_hill_tail_index",
    oracle="""
    WITH tok AS (
      SELECT source AS src, unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    ), hist AS (
      SELECT src, term, CAST(count(*) AS BIGINT) AS cnt
      FROM tok GROUP BY 1, 2
    ), ranked AS (
      SELECT src, cnt,
             row_number() OVER (PARTITION BY src
                                ORDER BY cnt DESC, term) AS rn
      FROM hist
    ), fk1 AS (
      SELECT src, cnt AS f_k1 FROM ranked WHERE rn = 51
    ), head AS (
      SELECT r.src, f.f_k1,
             CASE WHEN f.f_k1 IS NOT NULL THEN
               CAST(trunc(ln(CAST(r.cnt AS DOUBLE) / CAST(f.f_k1 AS DOUBLE))
                          * 1e6) AS BIGINT)
             END AS lq
      FROM ranked r LEFT JOIN fk1 f USING (src)
      WHERE r.rn <= 50
    ), per AS (
      SELECT src, f_k1, CAST(count(*) AS BIGINT) AS n_head,
             CAST(sum(lq) AS BIGINT) AS lsum
      FROM head GROUP BY 1, 2
    )
    SELECT src AS source, n_head AS k, f_k1 AS f_kplus1,
           CASE WHEN n_head = 50
                     AND CAST(lsum AS DOUBLE) / 1e6
                         / CAST(n_head AS DOUBLE) > 0 THEN
             round(1.0 / (CAST(lsum AS DOUBLE) / 1e6
                          / CAST(n_head AS DOUBLE)) + 1e-9, 4) + 0.0
           END AS hill_alpha
    FROM per
    """,
)
def x151_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index of the term-frequency head per source — the
    decay diagnostic that localizes WHERE a source deviates from
    Zipf (head vs tail) when read next to x132's whole-curve fit.
    Rank window over distinct terms; k-row aggregate."""
    from ..operators.curation import hill_tail_index

    docs = load_table(spark, sf_dir, "documents")
    return hill_tail_index(docs)


@query(
    "x152_active_users",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id AS u, date_trunc('day', ts) AS day
      FROM events
    ), grid AS (
      SELECT unnest(generate_series((SELECT min(day) FROM ud),
                                    (SELECT max(day) FROM ud),
                                    INTERVAL 1 DAY)) AS d
    ), j AS (
      SELECT g.d, ud.u, ud.day
      FROM grid g LEFT JOIN ud
        ON ud.day <= g.d AND ud.day >= g.d - INTERVAL 27 DAY
    )
    SELECT d AS day,
           CAST(count(DISTINCT CASE WHEN day = d THEN u END) AS BIGINT) AS dau,
           CAST(count(DISTINCT CASE WHEN day >= d - INTERVAL 6 DAY THEN u END)
                AS BIGINT) AS wau,
           CAST(count(DISTINCT u) AS BIGINT) AS mau,
           CASE WHEN count(DISTINCT u) > 0 THEN
             round(CAST(count(DISTINCT CASE WHEN day = d THEN u END) AS DOUBLE)
                   / CAST(count(DISTINCT u) AS DOUBLE) + 1e-9, 4) + 0.0
           END AS stickiness
    FROM j GROUP BY 1
    """,
)
def x152_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU/MAU + stickiness per day from ONE distinct (user, day)
    frame and ONE range join onto the dense day grid — the
    product-analytics rollup without three sliding-distinct passes."""
    from ..operators.timeseries import active_users

    events = load_table(spark, sf_dir, "events")
    return active_users(events)


_X76_ORACLE = _REGISTRY["x76_dd_quantiles"].oracle
_X89_ORACLE = _REGISTRY["x89_hll_portable_rollup"].oracle


@query(
    "x153_quantile_sketch_audit",
    oracle=f"""
    WITH est AS ({_X76_ORACLE}),
    exact AS (
      SELECT o_orderpriority,
             unnest([0.5::DOUBLE, 0.95::DOUBLE, 0.99::DOUBLE]) AS q,
             unnest([round(quantile_cont(o_totalprice, 0.5) + 1e-9, 4),
                     round(quantile_cont(o_totalprice, 0.95) + 1e-9, 4),
                     round(quantile_cont(o_totalprice, 0.99) + 1e-9, 4)])
               AS exact
      FROM orders GROUP BY 1
    )
    SELECT e.o_orderpriority, e.q, e.n, e.estimate, x.exact,
           round(abs(e.estimate - x.exact) / x.exact + 1e-9, 6) + 0.0
             AS rel_err,
           abs(e.estimate - x.exact) / x.exact <= 0.02 AS within_bound
    FROM est e
    JOIN exact x ON e.o_orderpriority = x.o_orderpriority AND e.q = x.q
    """,
)
def x153_quantile_sketch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy audit #1: DDSketch quantile estimates (x76)
    against exact percentiles, with relative error and a 2*alpha
    tolerance flag (alpha = 0.01; the extra headroom covers the gap
    between the sketch's order-statistic target and the interpolated
    exact percentile).  This is the self-verification a pipeline runs
    before trusting the mergeable sketch at a new sizing — the engine
    auditing its own approximations."""
    from ..operators.sketches import dd_build, dd_quantiles

    orders = load_table(spark, sf_dir, "orders")
    pre = dd_build(orders, "o_totalprice", keys=["o_orderpriority"])
    est = dd_quantiles(pre, [0.5, 0.95, 0.99], keys=["o_orderpriority"]).select(
        "o_orderpriority",
        "q",
        "n",
        (F.round(F.col("estimate") + F.lit(1e-9), 4)).alias("estimate"),
    )
    exact = orders.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", 0.5) + F.lit(1e-9), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", 0.95) + F.lit(1e-9), 4).alias("p95"),
        F.round(F.percentile("o_totalprice", 0.99) + F.lit(1e-9), 4).alias("p99"),
    ).select(
        "o_orderpriority",
        F.expr(
            "stack(3, 0.5D, p50, 0.95D, p95, 0.99D, p99) AS (q, exact)"
        ),
    )
    j = est.join(exact, ["o_orderpriority", "q"])
    err = F.abs(F.col("estimate") - F.col("exact")) / F.col("exact")
    return j.select(
        "o_orderpriority",
        "q",
        "n",
        "estimate",
        "exact",
        (F.round(err + F.lit(1e-9), 6) + F.lit(0.0)).alias("rel_err"),
        (err <= F.lit(0.02)).alias("within_bound"),
    )


@query(
    "x154_cardinality_sketch_audit",
    oracle=f"""
    WITH est AS ({_X89_ORACLE}),
    exact AS (
      SELECT event_type,
             CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
      FROM events GROUP BY 1
    )
    SELECT e.event_type, e.approx_distinct, x.exact_distinct,
           round(abs(e.approx_distinct - CAST(x.exact_distinct AS DOUBLE))
                 / CAST(x.exact_distinct AS DOUBLE) + 1e-9, 6) + 0.0
             AS rel_err,
           abs(e.approx_distinct - CAST(x.exact_distinct AS DOUBLE))
                 / CAST(x.exact_distinct AS DOUBLE) <= 0.195
             AS within_3sigma
    FROM est e JOIN exact x USING (event_type)
    """,
)
def x154_cardinality_sketch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy audit #2: the portable-HLL distinct-user
    estimate (x89, 256 registers) against the exact distinct count,
    with relative error and the 3-sigma flag (sigma ~ 1.04/sqrt(m) =
    6.5%)."""
    from ..operators.sketches import (
        hll_portable_estimate,
        hll_portable_registers,
        hll_portable_rollup,
    )

    events = load_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    pre = hll_portable_registers(events, ["event_type", "day"], "user_id")
    est = hll_portable_estimate(
        hll_portable_rollup(pre, ["event_type"]), ["event_type"]
    ).select("event_type", "approx_distinct")
    exact = events.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("exact_distinct")
    )
    j = est.join(exact, "event_type")
    err = F.abs(
        F.col("approx_distinct") - F.col("exact_distinct").cast("double")
    ) / F.col("exact_distinct").cast("double")
    return j.select(
        "event_type",
        "approx_distinct",
        "exact_distinct",
        (F.round(err + F.lit(1e-9), 6) + F.lit(0.0)).alias("rel_err"),
        (err <= F.lit(0.195)).alias("within_3sigma"),
    )


@query(
    "x155_bloom_fpr_audit",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id,
             substr(md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')),
                    1, 16) AS v
      FROM documents
    ), b AS (
      SELECT DISTINCT v FROM fp WHERE doc_id % 2 = 0
    ), p AS (
      SELECT DISTINCT v FROM fp
    ), flagged AS (
      SELECT p.v, CASE WHEN b.v IS NOT NULL THEN 1 ELSE 0 END AS member
      FROM p LEFT JOIN b USING (v)
    ), ebits AS (
      SELECT DISTINCT unnest({_bf_bits_sql('v')}) AS bit FROM b
    ), pbits AS (
      SELECT v, member, unnest({_bf_bits_sql('v')}) AS bit FROM flagged
    ), hits AS (
      SELECT v, member,
             min(CASE WHEN ebits.bit IS NOT NULL THEN 1 ELSE 0 END) AS hit
      FROM pbits LEFT JOIN ebits USING (bit)
      GROUP BY 1, 2
    ), agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_probes,
             CAST(sum(member) AS BIGINT) AS n_members,
             CAST(sum((1 - member) * hit) AS BIGINT) AS n_false_pos,
             CAST(sum(member * (1 - hit)) AS BIGINT) AS n_missed_members
      FROM hits
    ), ins AS (
      SELECT CAST(count(*) AS BIGINT) AS n_inserted FROM b
    )
    SELECT n_inserted, n_probes, n_members,
           n_probes - n_members AS n_true_neg,
           n_false_pos, n_missed_members,
           CASE WHEN CAST(n_probes - n_members AS DOUBLE) > 0 THEN
             round(CAST(n_false_pos AS DOUBLE)
                   / CAST(n_probes - n_members AS DOUBLE) + 1e-9, 6) + 0.0
           END AS observed_fpr,
           round(pow(1.0 - exp(-4.0 * CAST(n_inserted AS DOUBLE) / 65536.0),
                     4.0) + 1e-9, 6) + 0.0 AS theoretical_fpr
    FROM agg CROSS JOIN ins
    """,
)
def x155_bloom_fpr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy audit #3: empirical Bloom false-positive rate
    (build on even-doc fingerprints, probe odd-doc fingerprints)
    against the theoretical (1-e^{-kn/m})^k, plus the
    zero-false-negative invariant — the trust report for the
    decontamination screen's filter sizing."""
    from ..operators.sketches import bloom_fpr_audit
    from ..operators.text import fingerprint

    docs = load_table(spark, sf_dir, "documents")
    fps = docs.select(
        "doc_id", fingerprint(F.col("text")).alias("v")
    )
    return bloom_fpr_audit(
        fps.filter(F.col("doc_id") % 2 == 0),
        fps,  # probe EVERYTHING: members exercise the no-false-negative
        # invariant, odd-only fingerprints measure the FPR
        "v",
    )


@query(
    "x156_embedding_health",
    oracle="""
    WITH exploded AS (
      SELECT generate_subscripts(embedding, 1) AS dim,
             unnest(embedding::DOUBLE[]) AS v
      FROM embeddings
    ), rows_q AS (
      SELECT dim,
             CAST(trunc(v * 1e8) AS BIGINT) AS qv,
             CAST(trunc(v * v * 1e8) AS BIGINT) AS qvv,
             CASE WHEN abs(v) < 0.01 THEN 1 ELSE 0 END AS nz
      FROM exploded
    ), per AS (
      SELECT dim, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(qv) AS BIGINT) AS sv,
             CAST(sum(qvv) AS BIGINT) AS svv,
             CAST(sum(nz) AS BIGINT) AS n_near_zero
      FROM rows_q GROUP BY 1
    ), stats AS (
      SELECT dim, n, n_near_zero,
             CAST(sv AS DOUBLE) / 1e8 / CAST(n AS DOUBLE) AS mean,
             sqrt(greatest(CAST(svv AS DOUBLE) / 1e8 / CAST(n AS DOUBLE)
                  - (CAST(sv AS DOUBLE) / 1e8 / CAST(n AS DOUBLE))
                    * (CAST(sv AS DOUBLE) / 1e8 / CAST(n AS DOUBLE)), 0.0))
               AS std,
             CAST(n_near_zero AS DOUBLE) / CAST(n AS DOUBLE) AS nzf
      FROM per
    )
    SELECT CAST(dim AS BIGINT) AS dim, n,
           round(mean + 1e-9, 6) + 0.0 AS mean,
           round(std + 1e-9, 6) + 0.0 AS std,
           round(nzf + 1e-9, 6) + 0.0 AS near_zero_frac,
           (std < 1e-4 OR nzf > 0.99) AS is_dead
    FROM stats
    """,
)
def x156_embedding_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding health: mean/std/near-zero fraction +
    dead-dimension flags — the space-liveness screen run before any
    index build; one posexplode into a dim-keyed combinable
    aggregate."""
    from ..operators.embed import embedding_health

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_health(emb)


@query(
    "x157_fisher_separation",
    oracle="""
    WITH exploded AS (
      SELECT label AS lbl, generate_subscripts(embedding, 1) AS dim,
             unnest(embedding::DOUBLE[]) AS v
      FROM embeddings
    ), rows_q AS (
      SELECT lbl, dim,
             CAST(trunc(v * 1e8) AS BIGINT) AS qv,
             CAST(trunc(v * v * 1e8) AS BIGINT) AS qvv
      FROM exploded
    ), per AS (
      SELECT lbl, dim, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(qv) AS BIGINT) AS sv, CAST(sum(qvv) AS BIGINT) AS svv
      FROM rows_q GROUP BY 1, 2
    ), stats AS (
      SELECT lbl, dim, n AS n_vec,
             CAST(sv AS DOUBLE) / 1e8 / CAST(n AS DOUBLE) AS mu,
             CAST(svv AS DOUBLE) / 1e8 / CAST(n AS DOUBLE)
               - (CAST(sv AS DOUBLE) / 1e8 / CAST(n AS DOUBLE))
                 * (CAST(sv AS DOUBLE) / 1e8 / CAST(n AS DOUBLE)) AS vr
      FROM per
    ), pairs AS (
      SELECT a.lbl AS label_a, b.lbl AS label_b, a.n_vec AS n_a,
             b.n_vec AS n_b,
             CAST(trunc(least((a.mu - b.mu) * (a.mu - b.mu)
                              / (a.vr + b.vr + 1e-9), 1e6) * 1e9)
                  AS BIGINT) AS tq
      FROM stats a JOIN stats b ON a.dim = b.dim AND a.lbl < b.lbl
    ), agg AS (
      SELECT label_a, label_b, n_a, n_b, CAST(sum(tq) AS BIGINT) AS jq
      FROM pairs GROUP BY 1, 2, 3, 4
    )
    SELECT label_a, label_b, n_a, n_b,
           round(CAST(jq AS DOUBLE) / 1e9 + 1e-9, 4) + 0.0 AS fisher_j
    FROM agg
    """,
)
def x157_fisher_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher discriminant ratio per label pair — closed-form class
    separability of the embedding space from one (label, dim) moment
    aggregate; no model training."""
    from ..operators.embed import fisher_separation

    emb = load_table(spark, sf_dir, "embeddings")
    return fisher_separation(emb)


@query(
    "x158_knn_label_agreement",
    oracle="""
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS v, label AS q_label
      FROM embeddings WHERE vec_id < 100
    ), c AS (
      SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS v, label AS n_label
      FROM embeddings
    ), scored AS (
      SELECT q.query_id, q.q_label, c.neighbor_id, c.n_label,
             round(list_dot_product(q.v, c.v)
                   / (sqrt(list_dot_product(q.v, q.v))
                      * sqrt(list_dot_product(c.v, c.v)))
                   + 1e-9, 4) AS cosine_sim
      FROM q CROSS JOIN c
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine_sim DESC, neighbor_id)
               AS rank
      FROM scored
    ), nn AS (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rank) AS rn
      FROM ranked WHERE rank <= 2 AND neighbor_id <> query_id
    ), per AS (
      SELECT q_label AS label, CAST(count(*) AS BIGINT) AS n_queries,
             CAST(sum(CASE WHEN n_label = q_label THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_agree
      FROM nn WHERE rn = 1 GROUP BY 1
    )
    SELECT label, n_queries, n_agree,
           round(CAST(n_agree AS DOUBLE) / CAST(n_queries AS DOUBLE)
                 + 1e-9, 4) + 0.0 AS agreement
    FROM per
    """,
)
def x158_knn_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out 1-NN label agreement on a deterministic broadcast
    query sample — the behavioral 'is the space organized by labels'
    score next to x157's moment-based Fisher ratio; production ANN
    dataflow (p13), one corpus scan."""
    from ..operators.similarity import knn_label_agreement

    emb = load_table(spark, sf_dir, "embeddings")
    return knn_label_agreement(emb, n_queries=100)


@query(
    "x159_nb_classifier",
    oracle="""
    WITH train AS (
      SELECT * FROM documents WHERE doc_id % 2 = 0
    ), test AS (
      SELECT * FROM documents WHERE doc_id % 2 = 1
    ), tok_rows AS (
      SELECT lang AS label, unnest(string_split(lower(text), ' ')) AS tok
      FROM train
    ), counts AS (
      SELECT label, tok, CAST(count(*) AS BIGINT) AS c
      FROM tok_rows GROUP BY 1, 2
    ), vocab AS (
      SELECT DISTINCT tok FROM counts
    ), nv AS (
      SELECT count(*) AS v FROM vocab
    ), label_tot AS (
      SELECT label, CAST(sum(c) AS BIGINT) AS n_tok FROM counts GROUP BY 1
    ), docn AS (
      SELECT lang AS label, CAST(count(*) AS BIGINT) AS n
      FROM train GROUP BY 1
    ), nd AS (
      SELECT sum(n) AS s FROM docn
    ), priors AS (
      SELECT label,
             CAST(trunc(ln(CAST(n AS DOUBLE) / (SELECT s FROM nd)) * 1e6)
                  AS BIGINT) AS prior_q
      FROM docn
    ), dense AS (
      SELECT lt.label, v.tok,
             CAST(trunc(ln((COALESCE(c.c, 0) + 0.5)
                           / (lt.n_tok + 0.5 * (SELECT v FROM nv))) * 1e6)
                  AS BIGINT) AS qll
      FROM vocab v CROSS JOIN label_tot lt
      LEFT JOIN counts c ON c.label = lt.label AND c.tok = v.tok
    ), tf AS (
      SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
            FROM test)
      GROUP BY 1, 2
    ), scored AS (
      SELECT t.doc_id, d.label,
             CAST(sum(t.tf * d.qll) + any_value(p.prior_q) AS BIGINT)
               AS score_q
      FROM tf t JOIN dense d USING (tok) JOIN priors p ON p.label = d.label
      GROUP BY 1, 2
    ), best AS (
      SELECT doc_id, label AS predicted
      FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                         ORDER BY score_q DESC, label ASC)
                     AS rn
            FROM scored)
      WHERE rn = 1
    ), topp AS (
      SELECT label AS predicted FROM priors
      ORDER BY prior_q DESC, label ASC LIMIT 1
    ), preds AS (
      SELECT doc_id, predicted FROM best
      UNION ALL
      SELECT u.doc_id, t.predicted
      FROM (SELECT doc_id FROM test
            WHERE doc_id NOT IN (SELECT doc_id FROM best)) u
      CROSS JOIN topp t
    )
    SELECT tr.lang AS label, p.predicted, CAST(count(*) AS BIGINT) AS n_docs
    FROM preds p JOIN test tr USING (doc_id)
    GROUP BY 1, 2
    """,
)
def x159_nb_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes lang classifier, end-to-end audit:
    closed-form train on even doc_ids (ONE token-count corpus scan,
    micro-quantized BIGINT log-likelihoods), score odd doc_ids against
    the broadcast |V| x |L| dense model, report the confusion matrix —
    the model-based quality/domain-filter step of a curation pipeline
    (the fastText-classifier role in CCNet-style filtering) next to
    x53's rule filter and x07's marker heuristic."""
    from ..operators.classify import nb_confusion

    docs = load_table(spark, sf_dir, "documents")
    return nb_confusion(docs, label_col="lang")


@query(
    "x160_k_anonymity",
    oracle="""
    WITH proj AS (
      SELECT lang, CAST(trunc(n_chars / 128.0) AS BIGINT) AS len_bucket,
             source
      FROM documents
    ), classes AS (
      SELECT lang, len_bucket, CAST(count(*) AS BIGINT) AS cls_n,
             CAST(count(DISTINCT source) AS BIGINT) AS l_div
      FROM proj GROUP BY 1, 2
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_classes,
             CAST(sum(cls_n) AS BIGINT) AS n_rows
      FROM classes
    ), ks AS (
      SELECT unnest([2, 5, 10, 25]) AS k
    ), per_k AS (
      SELECT k, CAST(count(*) AS BIGINT) AS n_risky_classes,
             CAST(sum(cls_n) AS BIGINT) AS n_risky_rows,
             CAST(min(l_div) AS BIGINT) AS min_l_div_at_risk
      FROM ks JOIN classes ON cls_n < k GROUP BY 1
    )
    SELECT CAST(ks.k AS BIGINT) AS k, tot.n_classes, tot.n_rows,
           CAST(COALESCE(n_risky_classes, 0) AS BIGINT) AS n_risky_classes,
           CAST(COALESCE(n_risky_rows, 0) AS BIGINT) AS n_risky_rows,
           min_l_div_at_risk,
           round(CAST(COALESCE(n_risky_rows, 0) AS DOUBLE)
                 / CAST(tot.n_rows AS DOUBLE) + 1e-9, 6) + 0.0
             AS risky_row_frac
    FROM ks LEFT JOIN per_k USING (k) CROSS JOIN tot
    """,
)
def x160_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-anonymity / l-diversity audit of the documents release
    projection (quasi-identifiers: lang x 128-char length bucket;
    sensitive attribute: source) — the linkage-attack privacy screen
    next to x33's PII redaction.  One scan into a QI-class aggregate
    bounded by QI cardinality; the per-threshold report explodes a
    4-literal array on that tiny frame."""
    from ..operators.profile import k_anonymity_audit

    docs = load_table(spark, sf_dir, "documents")
    proj = docs.select(
        "lang",
        (F.col("n_chars") / F.lit(128.0)).cast("long").alias("len_bucket"),
        "source",
    )
    return k_anonymity_audit(proj, ["lang", "len_bucket"], "source")


@query(
    "x161_welch_source_pairs",
    oracle="""
    WITH vals AS (
      SELECT source AS g,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS v
      FROM documents
    ), per AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(v) AS BIGINT) AS sv,
             CAST(sum(v * v) AS BIGINT) AS svv
      FROM vals GROUP BY 1
    ), stats AS (
      SELECT g, n, CAST(sv AS DOUBLE) / n AS m,
             greatest((CAST(svv AS DOUBLE)
                       - CAST(sv AS DOUBLE) * (CAST(sv AS DOUBLE) / n))
                      / (n - 1.0), 0.0) AS s2
      FROM per
    ), pairs AS (
      SELECT a.g AS group_a, b.g AS group_b, a.n AS n_a, b.n AS n_b,
             a.m AS m_a, b.m AS m_b, a.s2 AS s2_a, b.s2 AS s2_b,
             a.s2 / a.n AS va_n, b.s2 / b.n AS vb_n
      FROM stats a JOIN stats b ON a.g < b.g
    )
    SELECT group_a, group_b, n_a, n_b,
           round((m_a - m_b) / sqrt(va_n + vb_n + 1e-300) + 1e-9, 4) + 0.0
             AS t_stat,
           round((va_n + vb_n) * (va_n + vb_n)
                 / (va_n * va_n / (n_a - 1.0) + vb_n * vb_n / (n_b - 1.0)
                    + 1e-300) + 1e-9, 2) + 0.0 AS welch_df,
           round((m_a - m_b)
                 / sqrt(((n_a - 1.0) * s2_a + (n_b - 1.0) * s2_b)
                        / (n_a + n_b - 2.0) + 1e-300) + 1e-9, 4) + 0.0
             AS cohens_d,
           abs((m_a - m_b) / sqrt(va_n + vb_n + 1e-300)) > 1.96 AS z_flag
    FROM pairs
    """,
)
def x161_welch_source_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's t-test + Cohen's d between every source pair on the
    per-doc token count — the pairwise mean-shift/effect-size screen
    next to x144's chi2 (association) and x139's KS (shape): which
    sources actually differ in length, and by a magnitude worth
    acting on.  One scan -> |sources|-row exact BIGINT moments; the
    pair join is broadcast on that tiny frame."""
    from ..operators.profile import welch_pairs
    from ..operators.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    vals = docs.select(
        F.col("source"), token_count(F.col("text")).alias("n_tokens")
    )
    return welch_pairs(vals, "source", "n_tokens")


@query(
    "x162_conformal_threshold",
    oracle="""
    WITH scored AS (
      SELECT doc_id,
             CAST(trunc(CAST(len(list_distinct(string_split(lower(text), ' ')))
                             AS DOUBLE)
                        / len(string_split(lower(text), ' ')) * 1e6)
                  AS BIGINT) AS qs
      FROM documents
    ), cal AS (
      SELECT qs FROM scored WHERE doc_id % 2 = 0
    ), test AS (
      SELECT qs FROM scored WHERE doc_id % 2 = 1
    ), hist AS (
      SELECT qs AS q, CAST(count(*) AS BIGINT) AS nk FROM cal GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(nk) AS BIGINT) AS n_cal FROM hist
    ), cum AS (
      SELECT q, sum(nk) OVER (ORDER BY q) AS ck FROM hist
    ), alphas AS (
      SELECT unnest([10000, 50000, 100000]) AS alpha_ppm
    ), ranks AS (
      SELECT alpha_ppm, n_cal,
             alpha_ppm * (n_cal + 1) // 1000000 AS k_rank
      FROM alphas CROSS JOIN tot
    ), thr AS (
      SELECT r.alpha_ppm, r.n_cal, r.k_rank, min(c.q) AS threshold_q
      FROM ranks r LEFT JOIN cum c
        ON c.ck >= r.k_rank AND r.k_rank >= 1
      GROUP BY 1, 2, 3
    ), kept AS (
      SELECT alpha_ppm, n_cal, k_rank, threshold_q,
             CAST(count(*) AS BIGINT) AS n_test,
             CAST(sum(CASE WHEN threshold_q IS NULL THEN NULL
                           WHEN t.qs >= threshold_q THEN 1
                           ELSE 0 END)
                  AS BIGINT) AS n_kept
      FROM thr CROSS JOIN test t GROUP BY 1, 2, 3, 4
    )
    SELECT CAST(alpha_ppm AS DOUBLE) / 1e6 AS alpha, n_cal,
           CAST(k_rank AS BIGINT) AS k_rank,
           round(CAST(threshold_q AS DOUBLE) / 1e6 + 1e-9, 6) + 0.0
             AS threshold,
           n_test, n_kept,
           round(CAST(n_kept AS DOUBLE) / n_test + 1e-9, 6) + 0.0
             AS test_keep_rate
    FROM kept
    """,
)
def x162_conformal_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal quality-filter calibration on the lexical-
    diversity score (distinct-token ratio, micro-quantized): the
    k = floor(alpha * (n_cal + 1))-th smallest calibration score is
    the distribution-free reject threshold; the held-out split
    reports the achieved keep rate — hand-picked filter cutoffs
    (x53's fixed bands) replaced by a finite-sample guarantee."""
    from ..operators.curation import conformal_thresholds, lexdiv_qscore

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        lexdiv_qscore(F.col("text")).alias("qs"),
    )
    return conformal_thresholds(
        scored.filter(F.col("doc_id") % 2 == 0),
        scored.filter(F.col("doc_id") % 2 == 1),
        "qs",
    )


@query(
    "x163_retrieval_eval",
    oracle="""
    WITH base AS (
      SELECT doc_id AS d, source AS rel,
             string_split(lower(text), ' ') AS t
      FROM documents
    ), tf AS (
      SELECT d, rel, CAST(len(t) AS BIGINT) AS dl, term,
             CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT d, rel, t, unnest(t) AS term FROM base)
      GROUP BY 1, 2, 3, 4
    ), stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl
      FROM (SELECT d, any_value(dl) AS dl FROM tf GROUP BY 1)
    ), dfreq AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
    ), qterms AS (
      SELECT qid, term, df FROM (
        SELECT tf.d AS qid, tf.term, dfreq.df,
               row_number() OVER (PARTITION BY tf.d
                                  ORDER BY dfreq.df ASC, tf.term ASC) AS rn
        FROM tf JOIN dfreq USING (term)
        WHERE tf.d < 20 AND length(tf.term) >= 3 AND dfreq.df >= 2
      ) WHERE rn <= 3
    ), qmeta AS (
      SELECT doc_id AS qid, source AS q_rel FROM documents WHERE doc_id < 20
    ), scored AS (
      SELECT q.qid, tf.d, tf.rel,
             round(sum(ln(1 + (s.n_docs - q.df + 0.5) / (q.df + 0.5))
                       * tf.tf * 2.2
                       / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl)))
                   + 1e-9, 6) AS score
      FROM tf JOIN qterms q USING (term) CROSS JOIN stats s
      WHERE tf.d <> q.qid
      GROUP BY 1, 2, 3
    ), top AS (
      SELECT * FROM (
        SELECT scored.*, row_number() OVER (PARTITION BY qid
                                            ORDER BY score DESC, d ASC)
                        AS rank
        FROM scored) WHERE rank <= 10
    ), labeled AS (
      SELECT top.*, CASE WHEN top.rel = m.q_rel THEN 1 ELSE 0 END AS is_rel
      FROM top JOIN qmeta m USING (qid)
    ), per_q AS (
      SELECT qid, CAST(count(*) AS BIGINT) AS n_retrieved,
             CAST(sum(is_rel) AS BIGINT) AS n_rel_at_k,
             min(CASE WHEN is_rel = 1 THEN rank END) AS first_rel_rank,
             sum(is_rel / (ln(rank + 1.0) / 0.6931471805599453)) AS dcg_raw
      FROM labeled GROUP BY 1
    ), rel_counts AS (
      SELECT source AS q_rel, CAST(count(*) - 1 AS BIGINT) AS n_rel_corpus
      FROM documents GROUP BY 1
    ), ideal AS (
      SELECT qid, n_rel_corpus,
             sum(1.0 / (ln(i + 1.0) / 0.6931471805599453)) AS idcg_raw
      FROM (SELECT m.qid, rc.n_rel_corpus,
                   unnest(range(1, greatest(least(rc.n_rel_corpus, 10), 1)
                                   + 1)) AS i
            FROM qmeta m JOIN rel_counts rc USING (q_rel))
      GROUP BY 1, 2
    )
    SELECT i.qid, i.n_rel_corpus,
           CAST(coalesce(p.n_retrieved, 0) AS BIGINT) AS n_retrieved,
           CAST(coalesce(p.n_rel_at_k, 0) AS BIGINT) AS n_rel_at_k,
           round(CAST(coalesce(p.n_rel_at_k, 0) AS DOUBLE) / 10.0 + 1e-9, 4)
             + 0.0 AS p_at_k,
           round(coalesce(1.0 / p.first_rel_rank, 0.0) + 1e-9, 4) + 0.0 AS mrr,
           CASE WHEN i.n_rel_corpus > 0
                THEN round(coalesce(p.dcg_raw, 0.0) / i.idcg_raw + 1e-9, 4)
                     + 0.0
           END AS ndcg_at_k
    FROM ideal i LEFT JOIN per_q p USING (qid)
    """,
)
def x163_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality eval: MRR / precision@10 / nDCG@10 of the
    BM25 ranker over 20 self-supervised queries (each query doc's 3
    rarest df>=2 tokens; relevance = same source, self excluded) —
    the measurement harness for the search family (p17/p18/x50/x54):
    how good is the ranker, query by query, before retrieval-augmented
    curation trusts it."""
    from ..operators.retrieval import retrieval_eval

    docs = load_table(spark, sf_dir, "documents")
    return retrieval_eval(docs, n_queries=20, topk=10, n_terms=3)


_X153_ORACLE = _REGISTRY["x153_quantile_sketch_audit"].oracle
_X154_ORACLE = _REGISTRY["x154_cardinality_sketch_audit"].oracle

_X164_ORACLE = f"""
    WITH per0 AS (
      SELECT doc_id, source, lang,
             CAST(trunc(n_chars / 128.0) AS BIGINT) AS len_bucket,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
             len(list_filter(string_split(lower(text), ' '),
                             t -> t IN ('the','a','of','and','to','in','is','it','that','for')))
               / CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS stopword_ratio,
             list_sum(list_transform(string_split(lower(text), ' '), t -> length(t)))
               / CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS avg_word_len,
             substr(md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')), 1, 16) AS fp,
             CASE WHEN len(regexp_extract_all(text, '{_PII_EMAIL}'))
                       + len(regexp_extract_all(text, '{_PII_IPV4}'))
                       + len(regexp_extract_all(text, '{_PII_PHONE}')) > 0
                  THEN 1 ELSE 0 END AS has_pii
      FROM documents
    ), per AS (
      SELECT doc_id, source, lang, len_bucket, n_tokens, fp, has_pii,
             CASE WHEN ((CASE WHEN n_tokens BETWEEN 20 AND 2000 THEN 1.0 ELSE 0.5 END)
                        + (CASE WHEN stopword_ratio BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.5 END)
                        + (CASE WHEN avg_word_len BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END)) / 3.0
                       >= 0.9 THEN 1 ELSE 0 END AS hi_q
      FROM per0
    ), ds AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
             1.0 - CAST(count(DISTINCT fp) AS DOUBLE) / count(*) AS dup_rate,
             CAST(sum(hi_q) AS DOUBLE) / count(*) AS hiq,
             CAST(sum(has_pii) AS BIGINT) AS n_pii,
             CAST(count(*) AS BIGINT) AS n
      FROM per GROUP BY source
    ), datasheet_rows AS (
      SELECT 'datasheet' AS family, source AS item, 'n_docs' AS metric,
             CAST(n_docs AS DOUBLE) + 0.0 AS value, CAST(NULL AS BOOLEAN) AS ok
      FROM ds
      UNION ALL
      SELECT 'datasheet', source, 'total_tokens',
             CAST(total_tokens AS DOUBLE) + 0.0, CAST(NULL AS BOOLEAN)
      FROM ds
      UNION ALL
      SELECT 'datasheet', source, 'dup_rate',
             round(dup_rate + 1e-9, 6) + 0.0, CAST(NULL AS BOOLEAN)
      FROM ds
      UNION ALL
      SELECT 'datasheet', source, 'hi_quality_rate',
             round(hiq + 1e-9, 6) + 0.0, CAST(NULL AS BOOLEAN)
      FROM ds
    ), pii_rows AS (
      SELECT 'pii' AS family, source AS item, 'pii_doc_rate' AS metric,
             round(CAST(n_pii AS DOUBLE) / n + 1e-9, 6) + 0.0 AS value,
             n_pii = 0 AS ok
      FROM ds
    ), ka_classes AS (
      SELECT lang, len_bucket, CAST(count(*) AS BIGINT) AS cls_n
      FROM per GROUP BY 1, 2
    ), ka_tot AS (
      SELECT CAST(sum(cls_n) AS BIGINT) AS n_rows FROM ka_classes
    ), ka_ks AS (
      SELECT unnest([2, 5, 10, 25]) AS k
    ), ka_per_k AS (
      SELECT k, CAST(sum(cls_n) AS BIGINT) AS n_risky_rows
      FROM ka_ks JOIN ka_classes ON cls_n < k GROUP BY 1
    ), kanon_rows AS (
      SELECT 'k_anonymity' AS family,
             'k=' || CAST(ka_ks.k AS VARCHAR) AS item,
             'risky_row_frac' AS metric,
             round(CAST(COALESCE(n_risky_rows, 0) AS DOUBLE)
                   / CAST(ka_tot.n_rows AS DOUBLE) + 1e-9, 6) + 0.0 AS value,
             -- verdict on the ROUNDED value: the Spark side thresholds
             -- x160's 6dp output, and engine/oracle must agree at the
             -- 0.05 boundary
             round(CAST(COALESCE(n_risky_rows, 0) AS DOUBLE)
                   / CAST(ka_tot.n_rows AS DOUBLE) + 1e-9, 6) + 0.0
               <= 0.05 AS ok
      FROM ka_ks LEFT JOIN ka_per_k USING (k) CROSS JOIN ka_tot
    ), bf_b AS (
      SELECT DISTINCT fp AS v FROM per WHERE doc_id % 2 = 0
    ), bf_p AS (
      SELECT DISTINCT fp AS v FROM per
    ), bf_flagged AS (
      SELECT bf_p.v, CASE WHEN bf_b.v IS NOT NULL THEN 1 ELSE 0 END AS member
      FROM bf_p LEFT JOIN bf_b USING (v)
    ), bf_ebits AS (
      SELECT DISTINCT unnest({_bf_bits_sql('v')}) AS bit FROM bf_b
    ), bf_pbits AS (
      SELECT v, member, unnest({_bf_bits_sql('v')}) AS bit FROM bf_flagged
    ), bf_hits AS (
      SELECT v, member,
             min(CASE WHEN bf_ebits.bit IS NOT NULL THEN 1 ELSE 0 END) AS hit
      FROM bf_pbits LEFT JOIN bf_ebits USING (bit)
      GROUP BY 1, 2
    ), bf_agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_probes,
             CAST(sum(member) AS BIGINT) AS n_members,
             CAST(sum((1 - member) * hit) AS BIGINT) AS n_false_pos,
             CAST(sum(member * (1 - hit)) AS BIGINT) AS n_missed_members
      FROM bf_hits
    ), bf_ins AS (
      SELECT CAST(count(*) AS BIGINT) AS n_inserted FROM bf_b
    ), bloom_rows AS (
      -- verdict on the ROUNDED rates: the Spark side compares the 6dp
      -- outputs of bloom_fpr_audit, and engine/oracle must agree at
      -- the 3x-theoretical boundary
      SELECT 'bloom' AS family, 'fingerprint_filter' AS item,
             'observed_fpr' AS metric,
             CASE WHEN CAST(n_probes - n_members AS DOUBLE) > 0 THEN
               round(CAST(n_false_pos AS DOUBLE)
                     / CAST(n_probes - n_members AS DOUBLE) + 1e-9, 6) + 0.0
             END AS value,
             CASE WHEN CAST(n_probes - n_members AS DOUBLE) > 0 THEN
               round(CAST(n_false_pos AS DOUBLE)
                     / CAST(n_probes - n_members AS DOUBLE) + 1e-9, 6) + 0.0
                 <= 3.0 * (round(pow(1.0 - exp(-4.0 * CAST(n_inserted AS DOUBLE)
                                               / 65536.0), 4.0) + 1e-9, 6) + 0.0)
                    + 1e-6
             END AS ok
      FROM bf_agg CROSS JOIN bf_ins
      UNION ALL
      SELECT 'bloom', 'fingerprint_filter', 'missed_members',
             CAST(n_missed_members AS DOUBLE) + 0.0,
             n_missed_members = 0
      FROM bf_agg
    ), dd_rows AS (
      -- composed from the registered x153 audit (one source of truth
      -- for the sketch dataflow and the 2*alpha tolerance)
      SELECT 'quantile_sketch' AS family, 'ddsketch_totalprice' AS item,
             'max_rel_err' AS metric,
             round(max(rel_err) + 1e-9, 6) + 0.0 AS value,
             bool_and(within_bound) AS ok
      FROM ({_X153_ORACLE})
    ), hll_rows AS (
      -- composed from the registered x154 audit (one source of truth
      -- for the register dataflow and the 3-sigma tolerance)
      SELECT 'cardinality_sketch' AS family, 'hll_distinct_users' AS item,
             'max_rel_err' AS metric,
             round(max(rel_err) + 1e-9, 6) + 0.0 AS value,
             bool_and(within_3sigma) AS ok
      FROM ({_X154_ORACLE})
    )
    SELECT * FROM datasheet_rows
    UNION ALL SELECT * FROM pii_rows
    UNION ALL SELECT * FROM kanon_rows
    UNION ALL SELECT * FROM bloom_rows
    UNION ALL SELECT * FROM dd_rows
    UNION ALL SELECT * FROM hll_rows
    """


@query("x164_release_audit", oracle=_X164_ORACLE)
def x164_release_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed PRE-PUBLICATION gate a corpus release runs — x93's
    datasheet, PII residue (x33's counters on the raw text), x160's
    k-anonymity screen, x155's Bloom trust report, and the x153/x154
    sketch-accuracy audits fused into ONE long-form report (family,
    item, metric, value, ok).  ``ok`` is NULL for informational
    metrics and a hard verdict where a principled bound exists: zero
    PII residue, risky_row_frac <= 0.05 per anonymity threshold,
    observed Bloom FPR <= 3x theoretical with ZERO false negatives,
    every DDSketch quantile within 2*alpha, every HLL estimate within
    3 sigma.

    Composition discipline (x94/x146): all four document-side families
    read ONE persisted per-doc projection (source, lang, length
    bucket, tokens, quality, fingerprint, PII flag — one corpus text
    scan total); the sketch audits add one orders scan and one events
    scan.  Every downstream aggregate is bounded (per-source, per-QI-
    class, per-threshold), so the report is a fixed few-dozen rows at
    any corpus size."""
    from ..cache import lineage_checkpoint
    from ..operators import text as tx
    from ..operators.profile import k_anonymity_audit
    from ..operators.sketches import bloom_fpr_audit

    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    pii = tx.pii_counts(t)
    # lineage_checkpoint, not persist: four families read this frame
    # and x182 re-composes the whole gate — truncating here stops the
    # reprint/re-optimize growth with composition depth (VERDICT r8
    # item 2) while the blocks serve readers exactly like the cache.
    per_doc = lineage_checkpoint(
        docs.select(
            "doc_id",
            "source",
            "lang",
            (F.col("n_chars") / F.lit(128.0)).cast("long").alias("len_bucket"),
            tx.token_count(t).alias("n_tokens"),
            (tx.quality_score(t) >= 0.9).cast("long").alias("hi_q"),
            tx.fingerprint(t).alias("fp"),
            (
                (pii["EMAIL"] + pii["IPV4"] + pii["PHONE"]) > 0
            ).cast("long").alias("has_pii"),
        )
    )
    okn = F.lit(None).cast("boolean")
    n = F.count("*")
    ds = per_doc.groupBy("source").agg(
        n.cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        (
            F.round(
                F.lit(1.0)
                - F.countDistinct("fp").cast("double") / n
                + F.lit(1e-9),
                6,
            )
            + F.lit(0.0)
        ).alias("dup_rate"),
        (
            F.round(F.sum("hi_q").cast("double") / n + F.lit(1e-9), 6)
            + F.lit(0.0)
        ).alias("hiq"),
        F.sum("has_pii").cast("long").alias("n_pii"),
    )
    datasheet = ds.select(
        F.lit("datasheet").alias("family"),
        F.col("source").alias("item"),
        F.expr(
            "stack(4,"
            " 'n_docs', CAST(n_docs AS DOUBLE) + 0.0D,"
            " 'total_tokens', CAST(total_tokens AS DOUBLE) + 0.0D,"
            " 'dup_rate', dup_rate,"
            " 'hi_quality_rate', hiq) AS (metric, value)"
        ),
        okn.alias("ok"),
    )
    pii_fam = ds.select(
        F.lit("pii").alias("family"),
        F.col("source").alias("item"),
        F.lit("pii_doc_rate").alias("metric"),
        (
            F.round(
                F.col("n_pii").cast("double") / F.col("n_docs").cast("double")
                + F.lit(1e-9),
                6,
            )
            + F.lit(0.0)
        ).alias("value"),
        (F.col("n_pii") == 0).alias("ok"),
    )
    ka = k_anonymity_audit(
        per_doc.select("lang", "len_bucket", "source"),
        ["lang", "len_bucket"],
        "source",
    )
    kanon = ka.select(
        F.lit("k_anonymity").alias("family"),
        F.concat(F.lit("k="), F.col("k").cast("string")).alias("item"),
        F.lit("risky_row_frac").alias("metric"),
        (F.col("risky_row_frac") + F.lit(0.0)).alias("value"),
        (F.col("risky_row_frac") <= F.lit(0.05)).alias("ok"),
    )
    bl = bloom_fpr_audit(
        per_doc.filter(F.col("doc_id") % 2 == 0).select(F.col("fp").alias("v")),
        per_doc.select(F.col("fp").alias("v")),
        "v",
    )
    bloom = bl.select(
        F.lit("bloom").alias("family"),
        F.lit("fingerprint_filter").alias("item"),
        F.expr(
            "stack(2,"
            " 'observed_fpr', observed_fpr + 0.0D,"
            "   observed_fpr <= 3.0D * theoretical_fpr + 1e-6D,"
            " 'missed_members', CAST(n_missed_members AS DOUBLE) + 0.0D,"
            "   n_missed_members = 0) AS (metric, value, ok)"
        ),
    )
    # composed from the REGISTERED x153/x154 audits — one source of
    # truth for the sketch dataflows and their tolerance literals (the
    # oracle composes the same way from their oracle fragments)
    dd_fam = (
        x153_quantile_sketch_audit(spark, sf_dir)
        .agg(
            (F.round(F.max("rel_err") + F.lit(1e-9), 6) + F.lit(0.0)).alias(
                "value"
            ),
            F.expr("bool_and(within_bound)").alias("ok"),
        )
        .select(
            F.lit("quantile_sketch").alias("family"),
            F.lit("ddsketch_totalprice").alias("item"),
            F.lit("max_rel_err").alias("metric"),
            "value",
            "ok",
        )
    )
    hll_fam = (
        x154_cardinality_sketch_audit(spark, sf_dir)
        .agg(
            (F.round(F.max("rel_err") + F.lit(1e-9), 6) + F.lit(0.0)).alias(
                "value"
            ),
            F.expr("bool_and(within_3sigma)").alias("ok"),
        )
        .select(
            F.lit("cardinality_sketch").alias("family"),
            F.lit("hll_distinct_users").alias("item"),
            F.lit("max_rel_err").alias("metric"),
            "value",
            "ok",
        )
    )
    return (
        datasheet.unionByName(pii_fam)
        .unionByName(kanon)
        .unionByName(bloom)
        .unionByName(dd_fam)
        .unionByName(hll_fam)
    )


_X165_ORACLE = f"""
    WITH approx AS ({_lsh_topk_oracle(_srp_tables(3), "id < 50", 10)}),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, c.neighbor_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY round(list_dot_product(q.v, c.v)
                                / (sqrt(list_dot_product(q.v, q.v))
                                   * sqrt(list_dot_product(c.v, c.v)))
                                + 1e-9, 4) DESC, c.neighbor_id) AS rank
        FROM (SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
              FROM embeddings WHERE vec_id < 50) q
        CROSS JOIN (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS v
                    FROM embeddings) c
      ) WHERE rank <= 10
    ), ja AS (
      SELECT query_id, CAST(count(*) AS BIGINT) AS n_approx
      FROM approx GROUP BY 1
    ), hits AS (
      SELECT e.query_id,
             CAST(count(*) AS BIGINT) AS n_exact,
             CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
      FROM exact e
      LEFT JOIN approx a
        ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
      GROUP BY 1
    )
    SELECT h.query_id, CAST(10 AS BIGINT) AS k, h.n_exact,
           CAST(COALESCE(ja.n_approx, 0) AS BIGINT) AS n_approx, h.n_hits,
           round(CAST(h.n_hits AS DOUBLE) / h.n_exact + 1e-9, 4) + 0.0
             AS recall
    FROM hits h LEFT JOIN ja USING (query_id)
    """


@query("x165_ann_recall_audit", oracle=_X165_ORACLE)
def x165_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall audit — the similarity-search member of the
    self-verification family (x153 quantiles, x154 cardinality, x155
    Bloom): per-query recall@10 of the 3-table SRP-LSH search (x49's
    scale path) against the exact brute-force baseline (p13), over 50
    query vectors.  The number a pipeline checks before trusting the
    bucketed index for retrieval-augmented curation: a table count or
    plane set that silently tanks recall shows here, not in
    production.

    Both rankings share the house tie discipline (4-dp rounded cosine,
    id tiebreak), so the top-k SETS — and therefore the recall — are
    fully deterministic and value-pinned against the SQL oracle.
    Scale shape: the exact side is one broadcast-queries x corpus scan
    (p13's dataflow, priced by |Q|); the approx side touches only
    bucket-cohabitant pairs; the hit join runs on |Q| x k rows."""
    from ..operators.similarity import cosine_topk, lsh_cosine_topk_multi

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 50)
    exact = cosine_topk(q, emb, k=10).select("query_id", "neighbor_id")
    # NOT persisted, on measurement (r13 optimization pass): the frame
    # feeds both the per-query count and the hit join, but caching it
    # measured SLOWER (2.63/2.65s -> 2.91/3.32s interleaved) — the
    # shared SRP-search exchanges are deduplicated at runtime (AQE
    # exchange reuse), so the persist only added a materialization
    # barrier + cache write to a subtree that was not actually
    # computed twice.
    approx = lsh_cosine_topk_multi(q, emb, _srp_tables(3), k=10).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    ja = approx.groupBy("query_id").agg(
        F.count("*").cast("long").alias("n_approx")
    )
    hits = (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("*").cast("long").alias("n_exact"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_hits"),
        )
    )
    return hits.join(ja, "query_id", "left").select(
        "query_id",
        F.lit(10).cast("long").alias("k"),
        "n_exact",
        F.coalesce("n_approx", F.lit(0)).cast("long").alias("n_approx"),
        "n_hits",
        (
            F.round(
                F.col("n_hits").cast("double") / F.col("n_exact").cast("double")
                + F.lit(1e-9),
                4,
            )
            + F.lit(0.0)
        ).alias("recall"),
    )


_X166_ORACLE = """
    WITH lens AS (
      SELECT least(CAST(len(string_split(lower(text), ' ')) AS BIGINT), 512)
               AS len
      FROM documents
    ), per AS (
      SELECT least(CAST(ceil(len / 64.0) AS BIGINT), 8) AS bucket,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len) AS BIGINT) AS sum_tokens
      FROM lens GROUP BY 1
    ), bucketed AS (
      SELECT 'bucketed' AS strategy, bucket, bucket * 64 AS cap_len,
             n_docs, sum_tokens,
             n_docs * bucket * 64 AS padded_tokens,
             n_docs * bucket * 64 - sum_tokens AS waste_tokens
      FROM per
    ), naive AS (
      SELECT 'naive_max_len' AS strategy, CAST(NULL AS BIGINT) AS bucket,
             CAST(512 AS BIGINT) AS cap_len,
             CAST(sum(n_docs) AS BIGINT) AS n_docs,
             CAST(sum(sum_tokens) AS BIGINT) AS sum_tokens,
             CAST(sum(n_docs) * 512 AS BIGINT) AS padded_tokens,
             CAST(sum(n_docs) * 512 - sum(sum_tokens) AS BIGINT)
               AS waste_tokens
      FROM per
    ), unioned AS (
      SELECT * FROM bucketed UNION ALL SELECT * FROM naive
    )
    SELECT strategy, bucket, CAST(cap_len AS BIGINT) AS cap_len, n_docs,
           sum_tokens, CAST(padded_tokens AS BIGINT) AS padded_tokens,
           CAST(waste_tokens AS BIGINT) AS waste_tokens,
           round(CAST(sum_tokens AS DOUBLE) / padded_tokens + 1e-9, 6) + 0.0
             AS efficiency
    FROM unioned
    """


@query("x166_padding_efficiency", oracle=_X166_ORACLE)
def x166_padding_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch-planning report: per-bucket padding waste
    (64-token buckets, 512 max length) vs the naive pad-to-max
    baseline — the datasheet a dynamic-batching training loader is
    sized from; the efficiency gap is the win bucketing buys.  ONE
    corpus scan into a <= 8-row combinable aggregate."""
    from ..operators.curation import padding_efficiency

    docs = load_table(spark, sf_dir, "documents")
    return padding_efficiency(docs, max_len=512, bucket_width=64)


@query(
    "x167_classifier_calibration",
    oracle="""
    WITH train AS (
      SELECT * FROM documents WHERE doc_id % 2 = 0
    ), test AS (
      SELECT * FROM documents WHERE doc_id % 2 = 1
    ), tok_rows AS (
      SELECT lang AS label, unnest(string_split(lower(text), ' ')) AS tok
      FROM train
    ), counts AS (
      SELECT label, tok, CAST(count(*) AS BIGINT) AS c
      FROM tok_rows GROUP BY 1, 2
    ), vocab AS (
      SELECT DISTINCT tok FROM counts
    ), nv AS (
      SELECT count(*) AS v FROM vocab
    ), label_tot AS (
      SELECT label, CAST(sum(c) AS BIGINT) AS n_tok FROM counts GROUP BY 1
    ), docn AS (
      SELECT lang AS label, CAST(count(*) AS BIGINT) AS n
      FROM train GROUP BY 1
    ), nd AS (
      SELECT sum(n) AS s FROM docn
    ), priors AS (
      SELECT label,
             CAST(trunc(ln(CAST(n AS DOUBLE) / (SELECT s FROM nd)) * 1e6)
                  AS BIGINT) AS prior_q
      FROM docn
    ), dense AS (
      SELECT lt.label, v.tok,
             CAST(trunc(ln((COALESCE(c.c, 0) + 0.5)
                           / (lt.n_tok + 0.5 * (SELECT v FROM nv))) * 1e6)
                  AS BIGINT) AS qll
      FROM vocab v CROSS JOIN label_tot lt
      LEFT JOIN counts c ON c.label = lt.label AND c.tok = v.tok
    ), tf AS (
      SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
            FROM test)
      GROUP BY 1, 2
    ), scored AS (
      SELECT t.doc_id, d.label,
             CAST(sum(t.tf * d.qll) + any_value(p.prior_q) AS BIGINT)
               AS score_q
      FROM tf t JOIN dense d USING (tok) JOIN priors p ON p.label = d.label
      GROUP BY 1, 2
    ), ranked AS (
      SELECT doc_id, label, score_q,
             row_number() OVER w AS rn,
             lead(score_q) OVER w AS next_q
      FROM scored
      WINDOW w AS (PARTITION BY doc_id ORDER BY score_q DESC, label ASC)
    ), top AS (
      SELECT doc_id, label AS predicted,
             CAST(score_q - COALESCE(next_q, score_q) AS BIGINT) AS margin_q
      FROM ranked WHERE rn = 1
    ), topp AS (
      SELECT label AS predicted FROM priors
      ORDER BY prior_q DESC, label ASC LIMIT 1
    ), preds AS (
      SELECT doc_id, predicted, margin_q FROM top
      UNION ALL
      SELECT u.doc_id, t.predicted, CAST(NULL AS BIGINT)
      FROM (SELECT doc_id FROM test
            WHERE doc_id NOT IN (SELECT doc_id FROM top)) u
      CROSS JOIN topp t
    ), labeled AS (
      SELECT CASE WHEN p.margin_q IS NULL THEN -1
                  ELSE least(p.margin_q // 1000000, 10) END AS margin_bucket,
             CASE WHEN p.predicted = tr.lang THEN 1 ELSE 0 END AS correct
      FROM preds p JOIN test tr USING (doc_id)
    )
    SELECT CAST(margin_bucket AS BIGINT) AS margin_bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(correct) AS BIGINT) AS n_correct,
           round(CAST(sum(correct) AS DOUBLE) / count(*) + 1e-9, 6) + 0.0
             AS accuracy
    FROM labeled GROUP BY 1
    """,
)
def x167_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier reliability curve (x159's companion): accuracy per
    prediction-margin bucket (top-1 minus top-2 quantized
    log-posterior, whole-nat buckets capped at 10; prior-only
    fallbacks at -1) on the even/odd split — the calibration evidence
    that says WHICH margin threshold buys WHICH accuracy before a
    model-based filter gates a corpus on confidence."""
    from ..operators.classify import nb_calibration

    docs = load_table(spark, sf_dir, "documents")
    return nb_calibration(docs, label_col="lang")


_X168_ORACLE = """
    WITH per AS (
      SELECT lang AS grp,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS ws,
             CAST(len(regexp_extract_all(lower(text),
                                         '[a-z]+|[0-9]|[^a-z0-9 ]+'))
                  AS BIGINT) AS bpe,
             CAST(strlen(text) AS BIGINT) AS bytes,
             CAST(length(text) AS BIGINT) AS chars
      FROM documents
    )
    SELECT grp AS lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(ws) AS BIGINT) AS n_words,
           CAST(sum(bpe) AS BIGINT) AS n_tokens,
           CAST(sum(bytes) AS BIGINT) AS n_bytes,
           round(CAST(sum(bpe) AS DOUBLE) / sum(ws) + 1e-9, 6) + 0.0
             AS fertility,
           round(CAST(sum(bytes) AS DOUBLE) / sum(bpe) + 1e-9, 6) + 0.0
             AS bytes_per_token,
           round(CAST(sum(chars) AS DOUBLE) / sum(ws) + 1e-9, 6) + 0.0
             AS chars_per_word
    FROM per GROUP BY 1
    """


@query("x168_tokenizer_fertility", oracle=_X168_ORACLE)
def x168_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility (BPE-ish sub-word tokens per
    whitespace word), bytes/token and chars/word — the 'is the
    tokenizer fair to this language' budgeting report next to x12's
    per-doc counts and x30's mixture weights.  One scan into a
    |langs|-row exact-BIGINT aggregate; corpus-level ratios, not means
    of per-doc ratios."""
    from ..operators.profile import tokenizer_fertility

    docs = load_table(spark, sf_dir, "documents")
    return tokenizer_fertility(docs, group_col="lang")


@query(
    "x169_quality_length_confound",
    oracle="""
    WITH m AS (
      SELECT CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tok,
             len(list_filter(string_split(lower(text), ' '),
                 t -> t IN ('the','a','of','and','to','in','is','it','that','for')))
               / CAST(len(string_split(lower(text), ' ')) AS DOUBLE)
               AS stop_r,
             list_sum(list_transform(string_split(lower(text), ' '),
                                     t -> length(t)))
               / CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS awl
      FROM documents
    ), labeled AS (
      SELECT (CASE WHEN stop_r BETWEEN 0.01 AND 0.6 THEN 'S1' ELSE 'S0' END)
             || (CASE WHEN awl BETWEEN 2.0 AND 12.0 THEN 'W1' ELSE 'W0' END)
               AS rv,
             CAST(CAST(trunc(log2(greatest(n_tok, 1) + 0.0)) AS BIGINT)
                  AS VARCHAR) AS cv
      FROM m
    ), cells AS (
      SELECT rv, cv, CAST(count(*) AS BIGINT) AS n_obs
      FROM labeled GROUP BY 1, 2
    ), rmarg AS (
      SELECT rv, CAST(sum(n_obs) AS BIGINT) AS n_row FROM cells GROUP BY 1
    ), cmarg AS (
      SELECT cv, CAST(sum(n_obs) AS BIGINT) AS n_col FROM cells GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(n_obs) AS BIGINT) AS n_total,
             CAST(count(DISTINCT rv) AS BIGINT) AS n_r,
             CAST(count(DISTINCT cv) AS BIGINT) AS n_c
      FROM cells
    ), full_grid AS (
      SELECT rmarg.rv, cmarg.cv, n_row, n_col FROM rmarg CROSS JOIN cmarg
    ), wide AS (
      SELECT g.rv, g.cv, CAST(coalesce(cells.n_obs, 0) AS BIGINT) AS n_obs,
             n_row, n_col, n_total, n_r, n_c,
             CAST(n_row AS DOUBLE) * CAST(n_col AS DOUBLE)
               / CAST(n_total AS DOUBLE) AS expected_raw
      FROM full_grid g
      LEFT JOIN cells ON g.rv = cells.rv AND g.cv = cells.cv
      CROSS JOIN tot
    ), per_cell AS (
      SELECT rv, cv, n_obs, n_total, n_r, n_c,
             round(expected_raw + 1e-9, 4) + 0.0 AS expected,
             CAST(trunc((CAST(n_obs AS DOUBLE) - expected_raw)
                  * (CAST(n_obs AS DOUBLE) - expected_raw) / expected_raw
                  * 1e6) AS BIGINT) AS termq
      FROM wide
    ), stat AS (
      SELECT n_total, n_r, n_c, CAST(sum(termq) AS BIGINT) AS chiq
      FROM per_cell GROUP BY 1, 2, 3
    ), shared AS (
      SELECT n_total,
             round(CAST(chiq AS DOUBLE) / 1e6 + 1e-9, 4) + 0.0 AS chi2,
             CAST((n_r - 1) * (n_c - 1) AS BIGINT) AS dof,
             round(sqrt(CAST(chiq AS DOUBLE) / 1e6
                   / (CAST(n_total AS DOUBLE) * CAST(least(n_r, n_c) AS DOUBLE)
                      - CAST(n_total AS DOUBLE))) + 1e-9, 6) + 0.0
               AS cramers_v,
             CAST(chiq AS DOUBLE) / 1e6 >
               CASE WHEN (n_r - 1) * (n_c - 1) = 1 THEN 3.841458820694124
                    WHEN (n_r - 1) * (n_c - 1) = 2 THEN 5.991464547107979
                    ELSE CAST((n_r - 1) * (n_c - 1) AS DOUBLE)
                         * pow(1.0 - 2.0 / (9.0 * (n_r - 1) * (n_c - 1))
                               + 1.6448536269514722
                                 * sqrt(2.0 / (9.0 * (n_r - 1) * (n_c - 1))),
                               3.0)
               END AS dependent
      FROM stat
    )
    SELECT rv AS style_band, cv AS len_band, n_obs, expected,
           chi2, dof, cramers_v, dependent
    FROM per_cell JOIN shared USING (n_total)
    """,
)
def x169_quality_length_confound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-confound audit: is the STYLE quality signal (stopword +
    word-length bands, deliberately excluding quality_score's built-in
    length term) independent of document LENGTH (log2 token buckets)?
    A dependent table means a style-threshold filter silently acts as
    a length filter and skews the curated length distribution — the
    check a pipeline runs before gating on any heuristic signal.
    One scan to the style x length contingency table; the 0.05
    critical value derives from the table's ACTUAL dof
    (Wilson-Hilferty default, mirrored exactly in the oracle)."""
    from ..operators.profile import chi2_independence
    from ..operators.text import avg_word_len, stopword_ratio, token_count

    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    stop_r, awl, n_tok = stopword_ratio(t), avg_word_len(t), token_count(t)
    labeled = docs.select(
        F.concat(
            F.when((stop_r >= 0.01) & (stop_r <= 0.6), F.lit("S1")).otherwise(
                F.lit("S0")
            ),
            F.when((awl >= 2.0) & (awl <= 12.0), F.lit("W1")).otherwise(
                F.lit("W0")
            ),
        ).alias("style_band"),
        F.floor(F.log2(F.greatest(n_tok, F.lit(1)).cast("double")))
        .cast("long")
        .cast("string")
        .alias("len_band"),
    )
    return chi2_independence(labeled, "style_band", "len_band")


_X170_ORACLE = """
    WITH lens AS (
      SELECT CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS len
      FROM documents
    ), swept AS (
      SELECT len, unnest([128, 256, 512, 1024, 2048]) AS max_len
      FROM lens
    )
    SELECT CAST(max_len AS BIGINT) AS max_len,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN len > max_len THEN 1 ELSE 0 END) AS BIGINT)
             AS n_truncated,
           CAST(sum(len) AS BIGINT) AS n_tokens,
           CAST(sum(greatest(len - max_len, 0)) AS BIGINT) AS n_tokens_lost,
           round(CAST(sum(CASE WHEN len > max_len THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*) + 1e-9, 6) + 0.0 AS doc_trunc_frac,
           round(CAST(sum(greatest(len - max_len, 0)) AS DOUBLE)
                 / sum(len) + 1e-9, 6) + 0.0 AS token_loss_frac
    FROM swept GROUP BY 1
    """


@query("x170_truncation_loss", oracle=_X170_ORACLE)
def x170_truncation_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length sweep: per candidate max sequence length, the
    fraction of documents truncated and the fraction of corpus TOKENS
    lost — the report that picks a training sequence length (x166
    prices the padding side of the same decision; this prices the
    truncation side).  One scan, |max_lens|-row exact aggregate."""
    from ..operators.curation import truncation_loss

    docs = load_table(spark, sf_dir, "documents")
    return truncation_loss(docs)


@query(
    "x171_dedup_cluster_profile",
    oracle=f"""
    WITH comp AS ({_P14_ORACLE}),
    sizes AS (
      SELECT component, CAST(count(*) AS BIGINT) AS sz
      FROM comp GROUP BY 1
    ), dist AS (
      SELECT sz, CAST(count(*) AS BIGINT) AS n_clusters,
             CAST(sum(sz) AS BIGINT) AS n_docs
      FROM sizes GROUP BY 1
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM documents
    ), clustered AS (
      SELECT CAST(count(*) AS BIGINT) AS n_in FROM comp
    ), singles AS (
      SELECT CAST(1 AS BIGINT) AS sz,
             CAST(n_corpus - n_in AS BIGINT) AS n_clusters,
             CAST(n_corpus - n_in AS BIGINT) AS n_docs
      FROM tot CROSS JOIN clustered
      WHERE n_corpus - n_in > 0
    ), unioned AS (
      SELECT * FROM dist UNION ALL SELECT * FROM singles
    )
    SELECT sz AS cluster_size, n_clusters, n_docs,
           round(CAST(n_docs AS DOUBLE) / (SELECT n_corpus FROM tot)
                 + 1e-9, 6) + 0.0 AS corpus_frac
    FROM unioned
    """,
)
def x171_dedup_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size distribution (p14's components profiled):
    many small clusters + a singleton tail is healthy; one giant
    component means the threshold or a boilerplate shingle is
    stitching unrelated documents together and canonical-selection
    would gut the corpus.  Sizes from one aggregate of the component
    frame; singletons derived from the corpus total so corpus_frac
    sums to 1."""
    from ..operators.dedup import (
        component_size_profile,
        connected_components,
        minhash_lsh_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    comp = connected_components(
        minhash_lsh_pairs(
            docs, num_hashes=16, bands=4, shingle_k=3, min_est_jaccard=0.5
        )
    )
    return component_size_profile(comp, docs)


def _unigram_viterbi_ctes(
    tag: str,
    model: str,
    max_word_len: int = 12,
    max_piece_len: int = 4,
) -> str:
    """One Viterbi pass over the wf word frame as unrolled DP CTEs +
    a recursive backtrack — the SQL replay of operators/text.py's
    ``_viterbi_dp``/``_viterbi_pieces`` codegen folds.  ``d{tag}_{j}``
    accumulates dp rows (w, freq, j, c, b) position by position (the
    per-position argmin is a row_number over the <= max_piece_len
    predecessor rows, ordered (cost, start) exactly like the Spark
    struct array_min); ``bt{tag}`` walks the backpointers — linear, so
    a recursive CTE CAN do it (one row per word per step, no path
    explosion)."""
    ctes = [
        f"d{tag}_0 AS MATERIALIZED (SELECT w, freq, 0 AS j, CAST(0 AS BIGINT) AS c, -1 AS b FROM wf)"
    ]
    for j in range(1, max_word_len + 1):
        lo = max(0, j - max_piece_len)
        ctes.append(
            f"""d{tag}_{j} AS MATERIALIZED (
      SELECT * FROM d{tag}_{j - 1}
      UNION ALL
      SELECT w, freq, j, c, b FROM (
        SELECT p.w, p.freq, {j} AS j, p.c + m.cost AS c, p.j AS b,
               row_number() OVER (PARTITION BY p.w ORDER BY p.c + m.cost, p.j) AS rn
        FROM d{tag}_{j - 1} p JOIN {model} m
          ON m.piece = substr(p.w, p.j + 1, {j} - p.j)
        WHERE p.j >= {lo} AND p.j < {j} AND len(p.w) >= {j}
      ) WHERE rn = 1
    )"""
        )
    ctes.append(
        f"""bt{tag}(w, freq, pos, piece) AS (
      SELECT w, freq, CAST(len(w) AS INT), CAST(NULL AS VARCHAR) FROM wf
      UNION ALL
      SELECT bt.w, bt.freq, d.b, substr(bt.w, d.b + 1, bt.pos - d.b)
      FROM bt{tag} bt JOIN d{tag}_{max_word_len} d
        ON d.w = bt.w AND d.j = bt.pos
      WHERE bt.pos > 0
    )"""
    )
    return ",\n    ".join(ctes)


def _unigram_train_ctes(
    vocab_multi: int = 40,
    keep_multi: int = 24,
    max_word_len: int = 12,
    max_piece_len: int = 4,
    iterations: int = 2,
) -> str:
    """The WHOLE unigram-LM hard-EM training as chained CTEs (the
    x37-kmeans unrolling pattern): candidate substring counts -> m0 ->
    per-iteration (Viterbi DP, backtrack counts, add-one smoothing,
    integer micro-nat costs) -> contribution prune -> renormalized
    final model ``mf``.  Every compared value is integer arithmetic;
    the one float op (ln) is floored to a micro-nat in both engines."""
    ctes = [
        f"""wf AS MATERIALIZED (
      SELECT substr(word, 1, {max_word_len}) AS w, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
      WHERE word <> '' GROUP BY 1
    )""",
        f"""cand AS MATERIALIZED (
      SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (
        SELECT substr(w, CAST(i.i AS INT), CAST(l.l AS INT)) AS piece, freq
        FROM wf, range(1, {max_word_len + 1}) i(i), range(1, {max_piece_len + 1}) l(l)
        WHERE i.i + l.l - 1 <= len(w)
      ) GROUP BY 1
    )""",
        f"""keep AS MATERIALIZED (
      SELECT piece, cnt FROM cand WHERE len(piece) = 1
      UNION ALL
      SELECT piece, cnt FROM (
        SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC, piece) AS rn
        FROM cand WHERE len(piece) >= 2
      ) WHERE rn <= {vocab_multi}
    )""",
        """m0 AS MATERIALIZED (
      SELECT piece, cnt,
             CAST(floor(ln((SELECT sum(cnt) FROM keep)::DOUBLE / cnt) * 1e6 + 0.5) AS BIGINT) AS cost
      FROM keep
    )""",
    ]
    for t in range(1, iterations + 1):
        ctes.append(
            _unigram_viterbi_ctes(str(t), f"m{t - 1}", max_word_len, max_piece_len)
        )
        ctes.append(
            f"""c{t} AS MATERIALIZED (
      SELECT k.piece, CAST(coalesce(sum(bt.freq), 0) + 1 AS BIGINT) AS cnt
      FROM keep k LEFT JOIN bt{t} bt ON bt.piece = k.piece
      GROUP BY 1
    )"""
        )
        ctes.append(
            f"""m{t} AS MATERIALIZED (
      SELECT piece, cnt,
             CAST(floor(ln((SELECT sum(cnt) FROM c{t})::DOUBLE / cnt) * 1e6 + 0.5) AS BIGINT) AS cost
      FROM c{t}
    )"""
        )
    ctes.append(
        f"""pruned AS MATERIALIZED (
      SELECT piece, cnt, cnt * cost AS contribution
      FROM m{iterations} WHERE len(piece) = 1
      UNION ALL
      SELECT piece, cnt, contribution FROM (
        SELECT piece, cnt, cnt * cost AS contribution,
               row_number() OVER (ORDER BY cnt * cost DESC, piece) AS rn
        FROM m{iterations} WHERE len(piece) >= 2
      ) WHERE rn <= {keep_multi}
    )"""
    )
    ctes.append(
        """mf AS MATERIALIZED (
      SELECT piece, CAST(len(piece) AS INT) AS piece_len, cnt,
             CAST(floor(ln((SELECT sum(cnt) FROM pruned)::DOUBLE / cnt) * 1e6 + 0.5) AS BIGINT) AS cost_micro,
             CAST(contribution AS BIGINT) AS contribution
      FROM pruned
    )"""
    )
    return ",\n    ".join(ctes)


def _unigram_train_oracle() -> str:
    return f"""
    WITH RECURSIVE
    {_unigram_train_ctes()}
    SELECT piece, piece_len, CAST(cnt AS BIGINT) AS cnt, cost_micro, contribution
    FROM mf
    """


def _unigram_encode_oracle(
    max_word_len: int = 12,
    vocab_multi: int = 40,
    keep_multi: int = 24,
) -> str:
    """Training replay + a THIRD Viterbi pass under the final model,
    then the per-document rollup of the distinct-word stats.  Vocab
    params pass through to the training CTEs so the x180 vocab-size
    sweep can replay the whole pipeline per candidate size."""
    return f"""
    WITH RECURSIVE
    {_unigram_train_ctes(vocab_multi=vocab_multi, keep_multi=keep_multi)},
    mfm AS MATERIALIZED (SELECT piece, cost_micro AS cost FROM mf),
    {_unigram_viterbi_ctes("3", "mfm", max_word_len)},
    wnp AS MATERIALIZED (SELECT w, CAST(count(piece) AS BIGINT) AS np FROM bt3 GROUP BY w),
    wcost AS MATERIALIZED (SELECT w, c FROM d3_{max_word_len} WHERE j = len(w)),
    wstat AS MATERIALIZED (SELECT wc.w, wc.c AS wcost, wnp.np FROM wcost wc JOIN wnp USING (w)),
    dw AS (
      SELECT doc_id, substr(word, 1, {max_word_len}) AS w
      FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents)
      WHERE word <> ''
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(count(*) - count(ws.np) AS BIGINT) AS n_oov_words,
           CAST(coalesce(sum(ws.np), 0) AS BIGINT) AS n_pieces,
           CAST(coalesce(sum(ws.wcost), 0) AS BIGINT) AS total_cost_micro
    FROM dw LEFT JOIN wstat ws USING (w)
    GROUP BY doc_id
    """


@query("x172_unigram_lm_train", oracle=_unigram_train_oracle())
def x172_unigram_lm_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece-style) tokenizer training: hard-EM
    over the substring candidate vocabulary (all chars + top-40
    multi-char pieces, 2 Viterbi-EM rounds with add-one smoothing),
    pruned to chars + the 24 highest loss-contribution pieces —
    completes the tokenizer family next to BPE (x77 trains, x88
    encodes) and feeds the fertility/budget reports (x166/x168/x170).
    Value-checked: the model lives in integer micro-nat code lengths
    (the one ln per piece per iteration is floored to an integer in
    both engines), the per-word Viterbi DP is replayed in the oracle
    as unrolled per-position argmin CTEs + a recursive backtrack, and
    the tie rule (lower cost, then smaller start position) is pinned
    on both sides.  Fold-equivalence to a sequential Python reference
    stays property-tested in tests/test_properties.py."""
    from ..operators.text import unigram_lm_train

    docs = load_table(spark, sf_dir, "documents")
    return unigram_lm_train(docs)


@query("x173_unigram_lm_encode", oracle=_unigram_encode_oracle())
def x173_unigram_lm_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viterbi-encode the corpus with the x172-trained unigram model:
    per-document piece counts + total micro-nat code length (+ OOV
    words) — the encode half of the unigram tokenizer (mirrors x88 for
    BPE).  Word stats are computed once per DISTINCT word by the same
    codegen DP fold as training, then joined back on the word key —
    the join is vocabulary-sized and well-spread, never per-document
    Python."""
    from ..operators.text import unigram_lm_encode, unigram_lm_train

    docs = load_table(spark, sf_dir, "documents")
    return unigram_lm_encode(docs, unigram_lm_train(docs))


_X174_ORACLE = f"""
    SELECT 'bpe' AS tokenizer,
           CAST(sum(n_words) AS BIGINT) AS n_words,
           CAST(sum(n_symbols) AS BIGINT) AS n_pieces,
           round(sum(n_symbols)::DOUBLE / sum(n_words) + 1e-9, 6) + 0.0
             AS pieces_per_word
    FROM ({_bpe_encode_sql(X88_MERGES)})
    UNION ALL
    SELECT 'unigram' AS tokenizer,
           CAST(sum(n_words) - sum(n_oov_words) AS BIGINT) AS n_words,
           CAST(sum(n_pieces) AS BIGINT) AS n_pieces,
           round(sum(n_pieces)::DOUBLE / (sum(n_words) - sum(n_oov_words))
                 + 1e-9, 6) + 0.0 AS pieces_per_word
    FROM ({_unigram_encode_oracle()})
    """


@query("x174_tokenizer_compare", oracle=_X174_ORACLE)
def x174_tokenizer_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pick-a-tokenizer report: corpus pieces-per-word under the x88
    BPE merge list vs the x172-trained unigram-LM model, one row per
    tokenizer family — the decision table a training-data pipeline
    consults before committing a token budget (x166/x168/x170 then
    price the chosen tokenizer's padding/fertility/truncation).  Both
    encodes are the production paths (map-only replace chain;
    distinct-word DP join); the oracle replays each end to end."""
    from ..operators.text import tokenizer_compare, unigram_lm_train

    docs = load_table(spark, sf_dir, "documents")
    return tokenizer_compare(docs, X88_MERGES, unigram_lm_train(docs))


@query(
    "x175_int8_quantization",
    oracle="""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), s AS (
      SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) AS scale
      FROM v
    ), c AS (
      SELECT vec_id, v, scale,
             list_transform(v, x -> floor(x / scale * 127 + 0.5)) AS cd
      FROM s WHERE scale > 0
    ), e AS (
      SELECT c.vec_id,
             max(abs(c.v[u.i] - c.cd[u.i] * c.scale / 127.0)) AS max_err
      FROM c, unnest(range(1, len(c.v) + 1)) AS u(i)
      GROUP BY 1
    ), m AS (
      SELECT vec_id, scale,
             round(list_dot_product(v, cd)
                   / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cd, cd)))
                   + 1e-9, 4) + 0.0 AS cos_fidelity
      FROM c
    )
    SELECT s.vec_id,
           CASE WHEN s.scale > 0 THEN round(s.scale + 1e-9, 6) + 0.0
                ELSE 0.0 END AS scale,
           m.cos_fidelity,
           CASE WHEN s.scale > 0 THEN round(e.max_err + 1e-9, 6) + 0.0 END
             AS max_abs_err
    FROM s LEFT JOIN m USING (vec_id) LEFT JOIN e ON e.vec_id = s.vec_id
    """,
)
def x175_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization fidelity audit (the 4x compression
    tier below x62's PQ): per-vector max-abs scale, round-half-up
    codes, cosine(v, dequant(v)) and max elementwise error — the
    go/no-go report before serving ANN from int8 codes.  Map-only
    (zero exchanges); the scale cancellation lets both engines score
    fidelity directly on the integer codes, so the audit is
    value-pinned end to end."""
    from ..operators.embed import int8_quantize_audit

    emb = load_table(spark, sf_dir, "embeddings")
    return int8_quantize_audit(emb)


_X176_ORACLE = f"""
    WITH cmp AS ({_X174_ORACLE}),
    fert AS ({_X168_ORACLE}),
    pad AS ({_X166_ORACLE}),
    tr AS ({_X170_ORACLE})
    SELECT 'compare' AS family, tokenizer AS item,
           'pieces_per_word' AS metric, pieces_per_word AS value FROM cmp
    UNION ALL
    SELECT 'fertility', lang, 'fertility', fertility FROM fert
    UNION ALL
    SELECT 'fertility', lang, 'bytes_per_token', bytes_per_token FROM fert
    UNION ALL
    SELECT 'padding', strategy || '@' || CAST(cap_len AS VARCHAR),
           'efficiency', efficiency FROM pad
    UNION ALL
    SELECT 'truncation', CAST(max_len AS VARCHAR), 'doc_trunc_frac',
           doc_trunc_frac FROM tr
    UNION ALL
    SELECT 'truncation', CAST(max_len AS VARCHAR), 'token_loss_frac',
           token_loss_frac FROM tr
    """


@query("x176_tokenizer_audit", oracle=_X176_ORACLE)
def x176_tokenizer_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed tokenizer-budget audit — the x164-release-audit
    sibling for the token-budget decision: ONE long-form (family,
    item, metric, value) report answering 'which tokenizer, which
    sequence length, and what does it cost per language?' — tokenizer
    family comparison (x174: BPE vs trained unigram pieces/word),
    per-language fertility + bytes/token (x168), per-bucket padding
    efficiency vs pad-to-max (x166), and the truncation sweep (x170).
    Each constituent keeps its own audited one-scan shape (this is a
    run-rarely gate, not a hot path); the oracle composes the four
    constituents' full replays verbatim."""
    from ..operators.curation import padding_efficiency, truncation_loss
    from ..operators.profile import tokenizer_fertility
    from ..operators.text import tokenizer_compare, unigram_lm_train

    docs = load_table(spark, sf_dir, "documents")
    val = lambda c: F.col(c).cast("double")  # noqa: E731

    cmp_rows = tokenizer_compare(docs, X88_MERGES, unigram_lm_train(docs)).select(
        F.lit("compare").alias("family"),
        F.col("tokenizer").alias("item"),
        F.lit("pieces_per_word").alias("metric"),
        val("pieces_per_word").alias("value"),
    )
    # both metrics in ONE pass via stack (r12, guide §1.2 "don't
    # compute things twice"): the unionByName form re-ran the whole
    # fertility aggregate — an unpersisted corpus scan — once per
    # metric; stack pivots the same row instead.  Row set unchanged.
    fert = tokenizer_fertility(docs, group_col="lang")
    fert_rows = fert.select(
        F.lit("fertility").alias("family"),
        F.col("lang").alias("item"),
        F.expr(
            "stack(2,"
            " 'fertility', CAST(fertility AS DOUBLE),"
            " 'bytes_per_token', CAST(bytes_per_token AS DOUBLE)"
            ") AS (metric, value)"
        ),
    )
    pad_rows = padding_efficiency(docs, max_len=512, bucket_width=64).select(
        F.lit("padding").alias("family"),
        F.concat(
            F.col("strategy"), F.lit("@"), F.col("cap_len").cast("string")
        ).alias("item"),
        F.lit("efficiency").alias("metric"),
        val("efficiency").alias("value"),
    )
    tr = truncation_loss(docs)
    tr_rows = tr.select(
        F.lit("truncation").alias("family"),
        F.col("max_len").cast("string").alias("item"),
        F.expr(
            "stack(2,"
            " 'doc_trunc_frac', CAST(doc_trunc_frac AS DOUBLE),"
            " 'token_loss_frac', CAST(token_loss_frac AS DOUBLE)"
            ") AS (metric, value)"
        ),
    )
    return cmp_rows.unionByName(fert_rows).unionByName(pad_rows).unionByName(
        tr_rows
    )


@query(
    "x177_conformal_prediction_sets",
    oracle="""
    WITH train AS (
      SELECT * FROM documents WHERE doc_id % 3 = 0
    ), cal AS (
      SELECT * FROM documents WHERE doc_id % 3 = 1
    ), test AS (
      SELECT * FROM documents WHERE doc_id % 3 = 2
    ), tok_rows AS (
      SELECT lang AS label, unnest(string_split(lower(text), ' ')) AS tok
      FROM train
    ), counts AS (
      SELECT label, tok, CAST(count(*) AS BIGINT) AS c
      FROM tok_rows GROUP BY 1, 2
    ), vocab AS (
      SELECT DISTINCT tok FROM counts
    ), nv AS (
      SELECT count(*) AS v FROM vocab
    ), label_tot AS (
      SELECT label, CAST(sum(c) AS BIGINT) AS n_tok FROM counts GROUP BY 1
    ), docn AS (
      SELECT lang AS label, CAST(count(*) AS BIGINT) AS n
      FROM train GROUP BY 1
    ), nd AS (
      SELECT sum(n) AS s FROM docn
    ), priors AS (
      SELECT label,
             CAST(trunc(ln(CAST(n AS DOUBLE) / (SELECT s FROM nd)) * 1e6)
                  AS BIGINT) AS prior_q
      FROM docn
    ), dense AS (
      SELECT lt.label, v.tok,
             CAST(trunc(ln((COALESCE(c.c, 0) + 0.5)
                           / (lt.n_tok + 0.5 * (SELECT v FROM nv))) * 1e6)
                  AS BIGINT) AS qll
      FROM vocab v CROSS JOIN label_tot lt
      LEFT JOIN counts c ON c.label = lt.label AND c.tok = v.tok
    ), cal_ev AS (
      SELECT t.doc_id, d.label, CAST(sum(t.tf * d.qll) AS BIGINT) AS ev
      FROM (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
            FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
                  FROM cal) GROUP BY 1, 2) t
      JOIN dense d USING (tok) GROUP BY 1, 2
    ), calf AS (
      SELECT -(COALESCE(s.ev, 0) + p.prior_q) AS a
      FROM cal c
      LEFT JOIN priors p ON p.label = c.lang
      LEFT JOIN cal_ev s ON s.doc_id = c.doc_id AND s.label = c.lang
    ), ncal AS (
      SELECT CAST(count(*) AS BIGINT) AS n_cal FROM calf
    ), alphas AS (
      SELECT CAST(unnest([50000, 100000, 200000]) AS BIGINT) AS alpha_ppm
    ), ranks AS (
      SELECT alpha_ppm, n_cal,
             CAST((n_cal + 1) - alpha_ppm * (n_cal + 1) // 1000000 AS BIGINT)
               AS k_rank
      FROM alphas CROSS JOIN ncal
    ), hist AS (
      SELECT a, count(*) AS nk FROM calf WHERE a IS NOT NULL GROUP BY 1
    ), cum AS (
      SELECT a, sum(nk) OVER (ORDER BY a) AS ck FROM hist
    ), qh AS (
      SELECT r.alpha_ppm, r.n_cal, r.k_rank, min(c.a) AS qhat
      FROM ranks r LEFT JOIN cum c
        ON c.ck >= r.k_rank AND r.k_rank >= 1
      GROUP BY 1, 2, 3
    ), test_ev AS (
      SELECT t.doc_id, d.label, CAST(sum(t.tf * d.qll) AS BIGINT) AS ev
      FROM (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
            FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
                  FROM test) GROUP BY 1, 2) t
      JOIN dense d USING (tok) GROUP BY 1, 2
    ), testf AS (
      SELECT td.doc_id, p.label, td.lang AS true_label,
             -(COALESCE(s.ev, 0) + p.prior_q) AS a
      FROM test td CROSS JOIN priors p
      LEFT JOIN test_ev s ON s.doc_id = td.doc_id AND s.label = p.label
    ), sets AS (
      SELECT q.alpha_ppm, q.n_cal, q.k_rank, tf2.doc_id,
             sum(CASE WHEN q.qhat IS NULL OR tf2.a <= q.qhat
                      THEN 1 ELSE 0 END) AS set_size,
             max(CASE WHEN tf2.label = tf2.true_label
                       AND (q.qhat IS NULL OR tf2.a <= q.qhat)
                      THEN 1 ELSE 0 END) AS covered
      FROM qh q CROSS JOIN testf tf2
      GROUP BY 1, 2, 3, 4
    )
    SELECT CAST(alpha_ppm AS DOUBLE) / 1e6 AS alpha,
           n_cal, k_rank,
           CAST(count(*) AS BIGINT) AS n_test,
           round(CAST(sum(covered) AS DOUBLE) / count(*) + 1e-9, 6) + 0.0
             AS coverage,
           round(CAST(sum(set_size) AS DOUBLE) / count(*) + 1e-9, 6) + 0.0
             AS avg_set_size
    FROM sets GROUP BY 1, 2, 3
    """,
)
def x177_conformal_prediction_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction sets for the NB lang classifier
    (x159's model + x162's finite-sample machinery composed into
    uncertainty-aware labeling): per alpha, the k-th-smallest true-
    label nonconformity on the calibration split becomes the set
    threshold, and the held-out split reports empirical coverage
    (guaranteed >= 1-alpha marginally) and average set size — the
    classifier-as-labeler's error budget, priced in set width instead
    of silent mistakes.  Exact BIGINT nonconformities and integer rank
    arithmetic end to end; oracle replays train -> dense model ->
    both splits' scores -> rank walk -> set scan."""
    from ..operators.classify import nb_conformal_sets

    docs = load_table(spark, sf_dir, "documents")
    return nb_conformal_sets(docs)


@query(
    "x178_semantic_decontaminate",
    oracle=f"""
    WITH v AS (
      SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
    ), b AS (
      SELECT id, v, {_srp_bucket_sql(NEARDUP_PLANES)} AS bucket,
             sqrt(list_dot_product(v, v)) AS n
      FROM v
    ), t AS (
      SELECT * FROM b WHERE id % 20 <> 0
    ), e AS (
      SELECT * FROM b WHERE id % 20 = 0
    ), cand AS (
      SELECT t.id AS tid, e.id AS eid,
             round(list_dot_product(t.v, e.v) / (t.n * e.n) + 1e-9, 4) AS cos
      FROM t JOIN e USING (bucket)
    ), pick AS (
      SELECT tid, cos AS max_eval_cosine, eid AS matched_eval_id
      FROM (SELECT *, row_number() OVER (PARTITION BY tid
                                         ORDER BY cos DESC, eid ASC) AS rn
            FROM cand)
      WHERE rn = 1
    )
    SELECT t.id AS vec_id, p.max_eval_cosine, p.matched_eval_id,
           coalesce(p.max_eval_cosine >= 0.4, false) AS is_contaminated
    FROM t LEFT JOIN pick p ON p.tid = t.id
    """,
)
def x178_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-level) decontamination of the training
    split against the held-out eval split (vec_id % 20 == 0 — the x25
    split convention): SRP-bucket blocking, broadcast eval side, exact
    cosine on candidates, per-train-doc argmax — catches paraphrased
    eval leakage that the exact/Bloom/tiered lexical screens cannot
    see.  Completes the decontamination family's fourth modality."""
    from ..operators.similarity import semantic_decontaminate

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_decontaminate(
        emb.filter(F.col("vec_id") % 20 != 0),
        emb.filter(F.col("vec_id") % 20 == 0),
        NEARDUP_PLANES,
        threshold=0.4,
    )


@query(
    "x179_leakage_safe_split",
    oracle=f"""
    WITH comp AS ({_P14_ORACLE}),
    a AS (
      SELECT d.doc_id,
             coalesce(c.component, d.doc_id) AS anchor_id
      FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
    ), b AS (
      SELECT doc_id, anchor_id,
             ('0x' || substr(md5(CAST(anchor_id AS VARCHAR)), 1, 15))::BIGINT
               % 100 AS ab,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               % 100 AS db
      FROM a
    )
    SELECT doc_id, anchor_id,
           CASE WHEN ab < 90 THEN 'train' WHEN ab < 95 THEN 'val'
                ELSE 'test' END AS split,
           (CASE WHEN ab < 90 THEN 'train' WHEN ab < 95 THEN 'val'
                 ELSE 'test' END)
             <> (CASE WHEN db < 90 THEN 'train' WHEN db < 95 THEN 'val'
                      ELSE 'test' END) AS moved
    FROM b
    """,
)
def x179_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe 90/5/5 split: every document assigned by the md5
    bucket of its near-dup cluster representative (p14 components;
    singletons by their own id) — whole duplicate clusters land in one
    split, closing the train/test leak x96 audits; ``moved`` counts
    the documents hygiene relocated vs the naive x26 assignment.  The
    oracle replays the closure and the exact hash arithmetic."""
    from ..operators.curation import leakage_safe_split
    from ..operators.dedup import connected_components, minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    comp = connected_components(
        minhash_lsh_pairs(
            docs, num_hashes=16, bands=4, shingle_k=3, min_est_jaccard=0.5
        )
    )
    return leakage_safe_split(comp, docs)


def _x180_branch(keep: int) -> str:
    return f"""
    SELECT CAST({keep} AS BIGINT) AS multi_pieces_kept,
           CAST(sum(n_words) - sum(n_oov_words) AS BIGINT) AS n_words,
           CAST(sum(n_pieces) AS BIGINT) AS n_pieces,
           round(sum(n_pieces)::DOUBLE
                 / (sum(n_words) - sum(n_oov_words)) + 1e-9, 6) + 0.0
             AS pieces_per_word
    FROM ({_unigram_encode_oracle(keep_multi=keep)})
    """


@query(
    "x180_vocab_size_sweep",
    oracle=" UNION ALL ".join(_x180_branch(k) for k in (8, 16, 24)),
)
def x180_vocab_size_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocab-size elbow: train the unigram-LM tokenizer at
    three multi-char vocabulary budgets (keep_multi 8/16/24), encode
    the corpus with each, and report pieces-per-word per budget — THE
    curve a tokenizer owner reads to pick vocabulary size (returns
    diminish once the elbow passes; every extra piece costs embedding
    rows at training time).  The oracle replays the full hard-EM
    train + encode pipeline once per budget."""
    from ..operators.text import unigram_lm_encode, unigram_lm_train

    docs = load_table(spark, sf_dir, "documents")
    out = None
    for keep in (8, 16, 24):
        model = unigram_lm_train(docs, keep_multi=keep)
        enc = unigram_lm_encode(docs, model).agg(
            (F.sum("n_words") - F.sum("n_oov_words")).cast("long").alias("w"),
            F.sum("n_pieces").cast("long").alias("p"),
        )
        row = enc.select(
            F.lit(keep).cast("long").alias("multi_pieces_kept"),
            F.col("w").alias("n_words"),
            F.col("p").alias("n_pieces"),
            (
                F.round(
                    F.col("p").cast("double") / F.col("w").cast("double")
                    + F.lit(1e-9),
                    6,
                )
                + F.lit(0.0)
            ).alias("pieces_per_word"),
        )
        out = row if out is None else out.unionByName(row)
    return out


@query(
    "x181_t_closeness",
    oracle="""
    WITH proj AS (
      SELECT lang, CAST(trunc(n_chars / 128.0) AS BIGINT) AS len_bucket,
             source
      FROM documents
    ), cells AS (
      SELECT lang, len_bucket, source, CAST(count(*) AS BIGINT) AS cv
      FROM proj GROUP BY 1, 2, 3
    ), gsrc AS (
      SELECT source, CAST(count(*) AS BIGINT) AS gv FROM proj GROUP BY 1
    ), nt AS (
      SELECT CAST(sum(gv) AS BIGINT) AS n_tot FROM gsrc
    ), cls AS (
      SELECT lang, len_bucket, CAST(sum(cv) AS BIGINT) AS cls_n
      FROM cells GROUP BY 1, 2
    ), num AS (
      SELECT c.lang, c.len_bucket,
             CAST(sum(abs(CAST(c.cv AS DECIMAL(18,0))
                            * CAST((SELECT n_tot FROM nt) AS DECIMAL(18,0))
                          - CAST(g.gv AS DECIMAL(18,0))
                            * CAST(k.cls_n AS DECIMAL(18,0))))
                  AS DECIMAL(38,0)) AS np,
             CAST(sum(g.gv) AS BIGINT) AS g_present
      FROM cells c JOIN gsrc g USING (source)
      JOIN cls k USING (lang, len_bucket)
      GROUP BY 1, 2
    ), classes AS (
      SELECT k.cls_n,
             round(CAST(n.np
                        + CAST((SELECT n_tot FROM nt) - n.g_present
                               AS DECIMAL(18,0))
                          * CAST(k.cls_n AS DECIMAL(18,0))
                        AS DOUBLE)
                   / (2.0 * k.cls_n * (SELECT n_tot FROM nt))
                   + 1e-9, 6) + 0.0 AS tvd
      FROM num n JOIN cls k USING (lang, len_bucket)
    ), ts AS (
      SELECT CAST(unnest([100000, 200000, 300000]) AS BIGINT) AS tp
    )
    SELECT CAST(tp AS DOUBLE) / 1e6 AS t,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(sum(CASE WHEN tvd > tp / 1e6 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_classes_over,
           CAST(sum(CASE WHEN tvd > tp / 1e6 THEN cls_n ELSE 0 END) AS BIGINT)
             AS n_rows_over,
           max(tvd) AS max_tvd
    FROM classes CROSS JOIN ts
    GROUP BY tp
    """,
)
def x181_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-closeness audit on the x160 release projection (QI = lang x
    128-char length bucket, sensitive = source): per threshold t, the
    equivalence classes whose sensitive-value distribution sits
    further than t (total variation) from the corpus-wide one — the
    privacy-triad leg k-anonymity and l-diversity miss (a large
    diverse class still leaks when its mix is skewed).  Exact decimal
    numerators; one cell-frame scan; closed-form handling of sensitive
    values absent from a class."""
    from ..operators.profile import t_closeness_audit

    docs = load_table(spark, sf_dir, "documents")
    proj = docs.select(
        "lang",
        (F.col("n_chars") / F.lit(128.0)).cast("long").alias("len_bucket"),
        "source",
    )
    return t_closeness_audit(proj, ["lang", "len_bucket"], "source")


@query(
    "x182_release_audit_extended",
    oracle=f"""
    SELECT * FROM ({_X164_ORACLE})
    UNION ALL
    SELECT 't_closeness' AS family,
           't_ppm=' || CAST(CAST(t * 1e6 AS BIGINT) AS VARCHAR) AS item,
           'risky_row_frac' AS metric,
           round(CAST(n_rows_over AS DOUBLE)
                 / (SELECT count(*) FROM documents) + 1e-9, 6) + 0.0 AS value,
           round(CAST(n_rows_over AS DOUBLE)
                 / (SELECT count(*) FROM documents) + 1e-9, 6) + 0.0 <= 0.05
             AS ok
    FROM ({_REGISTRY["x181_t_closeness"].oracle})
    UNION ALL
    SELECT 'semantic_contamination' AS family,
           'eval_overlap' AS item,
           'contaminated_frac' AS metric,
           round(CAST(sum(CASE WHEN is_contaminated THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*) + 1e-9, 6) + 0.0 AS value,
           round(CAST(sum(CASE WHEN is_contaminated THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*) + 1e-9, 6) + 0.0 <= 0.01 AS ok
    FROM ({_REGISTRY["x178_semantic_decontaminate"].oracle})
    """,
)
def x182_release_audit_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The x164 pre-publication gate EXTENDED with the round-8
    families: t-closeness (the privacy-triad leg k-anonymity misses —
    risky-row fraction per distance threshold, bound 0.05 like the
    k-anonymity verdict) and semantic contamination (fraction of
    training embeddings cosine-close to the eval suite, bound 1%) —
    every release question in ONE long-form (family, item, metric,
    value, ok) report.  Composition: x164's output rides through
    verbatim; the two new families add one cell-frame aggregate and
    one bucket-blocked screen."""
    from ..operators.profile import t_closeness_audit
    from ..operators.similarity import semantic_decontaminate

    base = _REGISTRY["x164_release_audit"].builder(spark, sf_dir)

    docs = load_table(spark, sf_dir, "documents")
    proj = docs.select(
        "lang",
        (F.col("n_chars") / F.lit(128.0)).cast("long").alias("len_bucket"),
        "source",
    )
    total = docs.agg(F.count("*").cast("long").alias("n_rows"))
    tc_frac = (
        F.round(
            F.col("n_rows_over").cast("double") / F.col("n_rows").cast("double")
            + F.lit(1e-9),
            6,
        )
        + F.lit(0.0)
    )
    tc_rows = (
        t_closeness_audit(proj, ["lang", "len_bucket"], "source")
        .crossJoin(F.broadcast(total))
        .select(
            F.lit("t_closeness").alias("family"),
            F.concat(
                F.lit("t_ppm="), (F.col("t") * F.lit(1e6)).cast("long").cast("string")
            ).alias("item"),
            F.lit("risky_row_frac").alias("metric"),
            tc_frac.alias("value"),
            (tc_frac <= F.lit(0.05)).alias("ok"),
        )
    )

    emb = load_table(spark, sf_dir, "embeddings")
    sd_frac = (
        F.round(
            F.sum(F.col("is_contaminated").cast("long")).cast("double")
            / F.count("*")
            + F.lit(1e-9),
            6,
        )
        + F.lit(0.0)
    )
    sd_rows = (
        semantic_decontaminate(
            emb.filter(F.col("vec_id") % 20 != 0),
            emb.filter(F.col("vec_id") % 20 == 0),
            NEARDUP_PLANES,
            threshold=0.4,
        )
        .agg(sd_frac.alias("value"))
        .select(
            F.lit("semantic_contamination").alias("family"),
            F.lit("eval_overlap").alias("item"),
            F.lit("contaminated_frac").alias("metric"),
            "value",
            (F.col("value") <= F.lit(0.01)).alias("ok"),
        )
    )
    return base.unionByName(tc_rows).unionByName(sd_rows)


def _bitext_cand_sql(tables: list) -> str:
    """SQL twin of bitext_margin_mine's multi-table candidate join:
    per-table (bucket) equi-joins of the two language sides, UNION
    (which dedups a pair meeting in several tables — cos is a
    deterministic function of the ids, so row-dedup == pair-dedup)."""
    parts = []
    for planes in tables:
        b = _srp_bucket_sql(planes)
        parts.append(
            f"SELECT s.id AS sid, t.id AS tid, "
            f"round(list_dot_product(s.v, t.v) / (s.n * t.n) + 1e-9, 4) AS cos "
            f"FROM (SELECT id, v, n, {b} AS bucket FROM s0) s "
            f"JOIN (SELECT id, v, n, {b} AS bucket FROM t0) t USING (bucket)"
        )
    return " UNION ".join(parts)


def _bitext_margin_oracle(threshold: float) -> str:
    """x183's margin dataflow as SQL, parameterized on the margin
    threshold (x183 mines at 1.05; x187's sensitivity curve replays
    at 0.0 to get the full tier histogram)."""
    return f"""
    WITH e AS (
      SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
    ), lng AS (
      SELECT doc_id AS id, lang FROM documents
    ), bb AS (
      SELECT id, v, sqrt(list_dot_product(v, v)) AS n, lang
      FROM e JOIN lng USING (id)
    ), s0 AS (
      SELECT * FROM bb WHERE lang = 'en'
    ), t0 AS (
      SELECT * FROM bb WHERE lang = 'de'
    ), cand AS (
      {_bitext_cand_sql(_srp_tables(3))}
    ), candq AS (
      SELECT *, CAST(round(cos * 10000) AS BIGINT) AS cq FROM cand
    ), mu_s AS (
      SELECT sid, CAST(sum(cq) AS BIGINT) AS sum_s,
             CAST(count(*) AS BIGINT) AS k_s
      FROM (SELECT *, row_number() OVER (PARTITION BY sid
                                         ORDER BY cos DESC, tid ASC) AS rn
            FROM candq)
      WHERE rn <= 8 GROUP BY 1
    ), mu_t AS (
      SELECT tid, CAST(sum(cq) AS BIGINT) AS sum_t,
             CAST(count(*) AS BIGINT) AS k_t
      FROM (SELECT *, row_number() OVER (PARTITION BY tid
                                         ORDER BY cos DESC, sid ASC) AS rn
            FROM candq)
      WHERE rn <= 8 GROUP BY 1
    ), scored AS (
      SELECT c.sid, c.tid, c.cos,
             (CAST(sum_s AS DOUBLE) / CAST(k_s AS DOUBLE)
              + CAST(sum_t AS DOUBLE) / CAST(k_t AS DOUBLE)) / 20000.0
               AS denom
      FROM candq c JOIN mu_s USING (sid) JOIN mu_t USING (tid)
    )
    SELECT sid AS src_id, tid AS tgt_id, cos AS cosine_sim,
           round(cos / denom + 1e-9, 4) AS margin
    FROM scored
    WHERE denom > 0 AND round(cos / denom + 1e-9, 4) >= {threshold!r}
    """


@query("x183_bitext_mining", oracle=_bitext_margin_oracle(1.05))
def x183_bitext_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-lingual bitext mining (en -> de) by the Artetxe & Schwenk
    ratio-margin criterion over the embedding table: 3-table
    SRP-bucket-blocked cross-language candidates (x49's recall dial —
    never all-pairs), exact 4-dp cosine on candidates, per-side k-NN
    neighborhood means re-quantized to exact BIGINT sums, margin =
    cos / (mean of the two neighborhood means) — pairs with margin >=
    1.05 are mined as translation candidates.  The cross-lingual
    member of the curation family next to x178 (semantic
    decontamination) and x51 (SemDeDup); blocking recall is audited
    against brute force by the x165-style test."""
    from ..operators.similarity import bitext_margin_mine

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    return bitext_margin_mine(
        emb,
        docs.select(F.col("doc_id").alias("vec_id"), "lang"),
        _srp_tables(3),
        src_lang="en",
        tgt_lang="de",
        knn_k=8,
        margin_threshold=1.05,
    )


@query(
    "x184_trigram_perplexity",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ), tgr AS (
      SELECT doc_id,
             t[u.i] || ' ' || t[u.i+1] || ' ' || t[u.i+2] AS tg,
             t[u.i] AS w1, t[u.i+1] AS w2, t[u.i+2] AS w3
      FROM toks, unnest(range(1, greatest(len(t) - 2, 0) + 1)) u(i)
    ), narrow AS (
      SELECT doc_id,
             ('0x' || substr(md5('tlm|' || tg), 1, 15))::BIGINT AS tg_h,
             ('0x' || substr(md5('tlm|' || w1 || ' ' || w2), 1, 15))::BIGINT
               AS c12_h,
             ('0x' || substr(md5('tlm|' || w2 || ' ' || w3), 1, 15))::BIGINT
               AS b23_h,
             ('0x' || substr(md5('tlm|' || w2), 1, 15))::BIGINT AS w2_h,
             ('0x' || substr(md5('tlm|' || w3), 1, 15))::BIGINT AS w3_h
      FROM tgr
    ), tgc AS (
      SELECT tg_h, count(*) AS c3, min(c12_h) AS c12_h,
             min(b23_h) AS b23_h, min(w3_h) AS w3_h
      FROM narrow GROUP BY tg_h
    ), ctx12 AS (
      SELECT c12_h, sum(c3) AS c12 FROM tgc GROUP BY 1
    ), bgc AS (
      SELECT b23_h, count(*) AS c2b, min(w2_h) AS w2_h FROM narrow GROUP BY 1
    ), ctx2 AS (
      SELECT w2_h, sum(c2b) AS c2 FROM bgc GROUP BY 1
    ), unic AS (
      SELECT w3_h, count(*) AS c1w FROM narrow GROUP BY 1
    ), sc AS (
      SELECT (SELECT count(*) FROM ctx12) AS v3,
             (SELECT count(*) FROM ctx2) AS v2,
             (SELECT count(*) FROM unic) AS v1,
             (SELECT sum(c1w) FROM unic) AS n1
    ), probs AS (
      SELECT tgc.tg_h,
             0.6::DOUBLE * (c3 + 0.5::DOUBLE) / (c12 + 0.5::DOUBLE * v3)
           + 0.3::DOUBLE * (c2b + 0.5::DOUBLE) / (c2 + 0.5::DOUBLE * v2)
           + 0.1::DOUBLE * (c1w + 0.5::DOUBLE) / (n1 + 0.5::DOUBLE * v1) AS p
      FROM tgc
      JOIN ctx12 USING (c12_h)
      JOIN bgc USING (b23_h)
      JOIN ctx2 USING (w2_h)
      JOIN unic USING (w3_h)
      CROSS JOIN sc
    )
    SELECT n.doc_id, count(*) AS n_trigrams,
           round(avg(-ln(p.p)) + 1e-9, 6) AS cross_entropy
    FROM narrow n JOIN probs p USING (tg_h)
    GROUP BY n.doc_id
    """,
)
def x184_trigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated trigram-LM perplexity filter (Jelinek-Mercer fixed
    weights 0.6/0.3/0.1 over add-k trigram/bigram/unigram tiers) — the
    sharper successor to x74's bigram filter: shuffled-word salad pays
    on ALL tiers while rare-but-fluent text is rescued by its backoff
    mass.  ONE corpus scan into a persisted six-long narrow frame;
    every tier count (continuation-style, Kneser-Ney convention)
    derives from that frame; scoring joins on the well-spread trigram
    hash.  Strictly better salad-vs-fluent separation than x74 on the
    same fixture (pinned by test)."""
    from ..operators.curation import trigram_cross_entropy

    docs = load_table(spark, sf_dir, "documents")
    return trigram_cross_entropy(docs, k_smooth=0.5)


@query(
    "x185_bitext_mutual_best",
    oracle=f"""
    WITH ranked AS (
      SELECT *,
             row_number() OVER (PARTITION BY src_id
                                ORDER BY margin DESC, tgt_id ASC) AS rn_s,
             row_number() OVER (PARTITION BY tgt_id
                                ORDER BY margin DESC, src_id ASC) AS rn_t
      FROM ({{X183}})
    )
    SELECT src_id, tgt_id, cosine_sim, margin
    FROM ranked WHERE rn_s = 1 AND rn_t = 1
    """.replace("{X183}", _REGISTRY["x183_bitext_mining"].oracle),
)
def x185_bitext_mutual_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bidirectional-best bitext alignment — the LASER/CCMatrix filter
    on top of x183's margin mining: a pair survives only when each
    side is the other's best-margin candidate, turning the mined
    candidate set into a one-to-one sentence alignment (the form a
    translation-pair training set actually consumes).  Two ranked
    windows over the thresholded margin frame; no extra scans beyond
    x183's dataflow."""
    from ..operators.similarity import bitext_margin_mine

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    return bitext_margin_mine(
        emb,
        docs.select(F.col("doc_id").alias("vec_id"), "lang"),
        _srp_tables(3),
        src_lang="en",
        tgt_lang="de",
        knn_k=8,
        margin_threshold=1.05,
        mutual_best=True,
    )


def _bitext_buckets_sql(tables: list) -> str:
    """DuckDB list literal of every table's SRP bucket over column v."""
    return "[" + ", ".join(_srp_bucket_sql(p) for p in tables) + "]"


@query(
    "x186_bitext_recall_audit",
    oracle=f"""
    WITH e AS (
      SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
    ), lng AS (
      SELECT doc_id AS id, lang FROM documents
    ), bb AS (
      SELECT id, v, sqrt(list_dot_product(v, v)) AS n, lang,
             {_bitext_buckets_sql(_srp_tables(3))} AS buckets
      FROM e JOIN lng USING (id)
    ), q AS (
      SELECT id AS query_id, v AS qv, n AS qn, buckets AS qb
      FROM bb WHERE lang = 'en' AND id < 50
    ), t AS (
      SELECT id AS tid, v, n, buckets FROM bb WHERE lang = 'de'
    ), scored AS (
      SELECT q.query_id, t.tid,
             round(list_dot_product(q.qv, t.v) / (q.qn * t.n) + 1e-9, 4)
               AS exact_cos,
             len(list_filter(range(1, len(q.qb) + 1),
                             i -> q.qb[i] = t.buckets[i])) > 0 AS blocked
      FROM q CROSS JOIN t
    )
    SELECT query_id, tid AS exact_tgt, exact_cos, blocked
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY exact_cos DESC, tid ASC) AS rn
          FROM scored)
    WHERE rn = 1
    """,
)
def x186_bitext_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitext blocking-recall audit (the x165 self-verification
    discipline for x183's candidate generation): each of the first 50
    English vectors gets its EXACT brute-force nearest German neighbor
    (broadcast queries x target corpus), reported with whether that
    pair shares a bucket in ANY of the 3 SRP tables — the committed
    answer to 'what does the bucket grid miss', checked before
    trusting the mined corpus."""
    from ..operators.similarity import bitext_recall_audit

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    return bitext_recall_audit(
        emb,
        docs.select(F.col("doc_id").alias("vec_id"), "lang"),
        _srp_tables(3),
        src_lang="en",
        tgt_lang="de",
        n_queries=50,
    )


@query(
    "x187_bitext_margin_sensitivity",
    oracle=f"""
    WITH pairs AS ({_bitext_margin_oracle(0.0)}),
    hist AS (
      SELECT floor(margin * 20) / 20.0 AS margin_tier,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM pairs GROUP BY 1
    )
    SELECT margin_tier, n_pairs,
           CAST(sum(n_pairs) OVER (ORDER BY margin_tier DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS n_pairs_at_or_above
    FROM hist
    """,
)
def x187_bitext_margin_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin threshold-sensitivity curve for bitext mining (the x136
    discipline): pair yield per 0.05-wide margin tier from ONE
    threshold-free mining pass — 'is 1.05 a fragile margin here?'
    answered before committing a mined corpus.  The cumulative window
    runs over the tier histogram, never pairs."""
    from ..operators.similarity import bitext_margin_sensitivity

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    return bitext_margin_sensitivity(
        emb,
        docs.select(F.col("doc_id").alias("vec_id"), "lang"),
        _srp_tables(3),
        src_lang="en",
        tgt_lang="de",
        knn_k=8,
    )


@query(
    "x188_bitext_corpus",
    oracle=f"""
    SELECT p.src_id, p.tgt_id,
           ds.text AS src_text, dt.text AS tgt_text,
           p.cosine_sim, p.margin
    FROM ({_REGISTRY["x185_bitext_mutual_best"].oracle}) p
    JOIN documents ds ON ds.doc_id = p.src_id
    JOIN documents dt ON dt.doc_id = p.tgt_id
    """,
)
def x188_bitext_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mined parallel corpus itself — the deliverable a
    translation-model pipeline trains on: x185's one-to-one mutual-best
    alignment joined back to both sides' text (two id-keyed joins on
    the tiny aligned-pair frame; corpus text is read once per side and
    never shuffles beyond the join).  Ends the bitext story
    candidates -> margins -> alignment -> corpus."""
    from ..operators.similarity import bitext_margin_mine

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    pairs = bitext_margin_mine(
        emb,
        docs.select(F.col("doc_id").alias("vec_id"), "lang"),
        _srp_tables(3),
        src_lang="en",
        tgt_lang="de",
        knn_k=8,
        margin_threshold=1.05,
        mutual_best=True,
    )
    src_txt = docs.select(
        F.col("doc_id").alias("src_id"), F.col("text").alias("src_text")
    )
    tgt_txt = docs.select(
        F.col("doc_id").alias("tgt_id"), F.col("text").alias("tgt_text")
    )
    return (
        pairs.join(src_txt, "src_id")
        .join(tgt_txt, "tgt_id")
        .select(
            "src_id", "tgt_id", "src_text", "tgt_text", "cosine_sim", "margin"
        )
    )


@query(
    "x189_bitext_yield",
    oracle=f"""
    SELECT 'candidates' AS stage, CAST(count(*) AS BIGINT) AS n
    FROM ({_bitext_margin_oracle(-1e18)})
    UNION ALL
    SELECT 'margin_mined' AS stage, CAST(count(*) AS BIGINT) AS n
    FROM ({_bitext_margin_oracle(1.05)})
    UNION ALL
    SELECT 'mutual_best' AS stage, CAST(count(*) AS BIGINT) AS n
    FROM ({_REGISTRY["x185_bitext_mutual_best"].oracle})
    """,
)
def x189_bitext_yield(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitext mining funnel (the x55 yield-report discipline): how many
    pairs survive each stage — blocked candidates (with a computable
    margin), margin >= 1.05, mutual-best one-to-one — the
    observability row a mining run publishes next to its corpus.

    ONE mining pass (ADVICE r9): the candidate join + margin windows
    run once at threshold -inf into a persisted frame; all three
    stage counts are bounded aggregates / window filters over that
    single frame (margin_mined is a filter; mutual_best is the
    bidirectional-argmax windows over the filtered subset — exactly
    what ``mutual_best=True`` computes, by construction)."""
    from ..cache import tracked_persist
    from ..operators.similarity import bitext_margin_mine, bitext_mutual_best

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    lang = docs.select(F.col("doc_id").alias("vec_id"), "lang")

    mined = tracked_persist(
        bitext_margin_mine(
            emb, lang, _srp_tables(3), "en", "de", knn_k=8,
            margin_threshold=-1e18,
        )
    )
    thresholded = mined.filter(F.col("margin") >= 1.05)

    def count_stage(name: str, frame):
        return frame.agg(F.count("*").cast("long").alias("n")).select(
            F.lit(name).alias("stage"), "n"
        )

    return (
        count_stage("candidates", mined)
        .unionByName(count_stage("margin_mined", thresholded))
        .unionByName(
            count_stage("mutual_best", bitext_mutual_best(thresholded))
        )
    )


@query(
    "x190_code_switching",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ), chunks AS (
      SELECT doc_id,
             array_to_string(list_slice(t, u.s, u.s + 15), ' ') AS ct
      FROM toks, unnest(range(1, greatest(len(t), 1) + 1, 16)) u(s)
    ), counted AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(ct, ' '),
                  w -> w IN ('the', 'a', 'of', 'and'))) AS BIGINT) AS n_en,
             CAST(len(list_filter(string_split(ct, ' '),
                  w -> w IN ('el', 'la', 'de', 'que'))) AS BIGINT) AS n_es,
             CAST(len(list_filter(string_split(ct, ' '),
                  w -> w IN ('der', 'die', 'und', 'das'))) AS BIGINT) AS n_de,
             CAST(len(list_filter(string_split(ct, ' '),
                  w -> w IN ('le', 'la', 'et', 'les'))) AS BIGINT) AS n_fr
      FROM chunks
    ), labeled AS (
      SELECT doc_id,
             CASE WHEN greatest(n_en, n_es, n_de, n_fr) = 0 THEN 'und'
                  WHEN n_en = greatest(n_en, n_es, n_de, n_fr) THEN 'en'
                  WHEN n_es = greatest(n_en, n_es, n_de, n_fr) THEN 'es'
                  WHEN n_de = greatest(n_en, n_es, n_de, n_fr) THEN 'de'
                  ELSE 'fr' END AS cl
      FROM counted
    ), per AS (
      SELECT doc_id, cl, CAST(count(*) AS BIGINT) AS n
      FROM labeled GROUP BY 1, 2
    ), tot AS (
      SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_chunks FROM per GROUP BY 1
    ), sct AS (
      SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_scored,
             CAST(count(DISTINCT cl) AS BIGINT) AS n_langs
      FROM per WHERE cl <> 'und' GROUP BY 1
    ), top AS (
      SELECT doc_id, cl AS majority_lang, n AS n_major
      FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                         ORDER BY n DESC, cl ASC) AS rn
            FROM per WHERE cl <> 'und')
      WHERE rn = 1
    )
    SELECT t.doc_id, t.n_chunks,
           CAST(coalesce(s.n_langs, 0) AS BIGINT) AS n_langs,
           p.majority_lang,
           round(CAST(p.n_major AS DOUBLE) / CAST(s.n_scored AS DOUBLE)
                 + 1e-9, 4) AS agreement,
           coalesce(s.n_langs >= 2, false) AS code_switched
    FROM tot t
    LEFT JOIN sct s USING (doc_id)
    LEFT JOIN top p USING (doc_id)
    """,
)
def x190_code_switching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document code-switching report: 16-token chunks (x42's
    map-only chunker), per-chunk x07 marker lang-id, per-doc rollup —
    n_langs, majority language, chunk agreement, code_switched flag.
    Catches mixed-language splices the whole-doc argmax hides."""
    from ..operators.text import code_switching_report

    docs = load_table(spark, sf_dir, "documents")
    return code_switching_report(docs, chunk_tokens=16)


_X191_PLANT = (
    "text || ' contact user' || doc_id || '@example.com'"
    " || CASE WHEN doc_id % 3 = 0 THEN ' cc admin@corp.io' ELSE '' END"
    " || ' ip 10.0.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256)"
    " || ' tel 555-010-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')"
)


@query(
    "x191_pii_pseudonyms",
    oracle=f"""
    WITH t0 AS (
      SELECT doc_id, {_X191_PLANT} AS t FROM documents
    ), em AS (
      SELECT doc_id, unnest(regexp_extract_all(t, '{_PII_EMAIL}')) AS entity
      FROM t0
    ), t1 AS (
      SELECT doc_id, regexp_replace(t, '{_PII_EMAIL}', '[EMAIL]', 'g') AS t
      FROM t0
    ), ip AS (
      SELECT doc_id, unnest(regexp_extract_all(t, '{_PII_IPV4}')) AS entity
      FROM t1
    ), t2 AS (
      SELECT doc_id, regexp_replace(t, '{_PII_IPV4}', '[IPV4]', 'g') AS t
      FROM t1
    ), ph AS (
      SELECT doc_id, unnest(regexp_extract_all(t, '{_PII_PHONE}')) AS entity
      FROM t2
    ), allm AS (
      SELECT 'EMAIL' AS entity_type,
             substr(md5('pseud|EMAIL|' || entity), 1, 16) AS surrogate,
             doc_id FROM em
      UNION ALL
      SELECT 'IPV4', substr(md5('pseud|IPV4|' || entity), 1, 16), doc_id
      FROM ip
      UNION ALL
      SELECT 'PHONE', substr(md5('pseud|PHONE|' || entity), 1, 16), doc_id
      FROM ph
    )
    SELECT entity_type, surrogate,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_occurrences
    FROM allm GROUP BY 1, 2
    """,
)
def x191_pii_pseudonyms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII pseudonymization map over the x33 planted corpus (the
    synthetic tables carry no organic PII): every entity maps to a
    STABLE md5 surrogate so downstream analytics keep joinability
    (same email = same surrogate everywhere) while raw entities never
    leave the extraction projection.  Sequential extraction in
    PII_ORDER on progressively-redacted text — redact_pii's exact
    consumption semantics, so pattern overlaps resolve in the same
    fixed order as redaction.  Map-only extraction + one aggregate on the
    well-spread surrogate key."""
    from ..operators.text import pii_pseudonym_table

    docs = load_table(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(" cc admin@corp.io")).otherwise(F.lit("")),
            F.lit(" ip 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit("."),
            ((F.col("doc_id") * 7) % 256).cast("string"),
            F.lit(" tel 555-010-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    return pii_pseudonym_table(planted)


@query(
    "x192_effective_token_budget",
    oracle=f"""
    WITH comp AS ({_P14_ORACLE}),
    labeled AS (
      SELECT d.source,
             CAST(len(string_split(lower(d.text), ' ')) AS BIGINT) AS nt,
             coalesce(c.component, d.doc_id) = d.doc_id AS kept
      FROM documents d
      LEFT JOIN comp c ON d.doc_id = c.id
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(nt) AS BIGINT) AS raw_tokens,
           CAST(sum(CASE WHEN kept THEN nt ELSE 0 END) AS BIGINT)
             AS effective_tokens,
           round(1.0 - CAST(sum(CASE WHEN kept THEN nt ELSE 0 END) AS DOUBLE)
                       / CAST(sum(nt) AS DOUBLE) + 1e-9, 6) + 0.0
             AS dup_token_frac
    FROM labeled GROUP BY 1
    """,
)
def x192_effective_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-adjusted token budget per source: raw vs effective tokens
    (each near-dup cluster counted once at its p14 canonical
    representative) and the duplicate token fraction a training plan
    must discount — the honest input to x100's budget planning."""
    from ..operators.curation import effective_token_budget

    docs = load_table(spark, sf_dir, "documents")
    return effective_token_budget(
        docs, num_hashes=16, bands=4, shingle_k=3, min_est_jaccard=0.5
    )


@query(
    "x193_substring_dedup",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ), g AS (
      SELECT doc_id, u.i AS s,
             least(u.i + 7, len(t)) AS e,
             ('0x' || substr(md5(concat_ws(' ', t[u.i], t[u.i+1], t[u.i+2],
                                           t[u.i+3], t[u.i+4], t[u.i+5],
                                           t[u.i+6], t[u.i+7])),
                             1, 15))::BIGINT AS h
      FROM toks, unnest(range(1, greatest(len(t) - 7, 1) + 1)) u(i)
    ), shared AS (
      SELECT h, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
      FROM g GROUP BY h HAVING count(DISTINCT doc_id) >= 2
    ), hits AS (
      SELECT g.doc_id, g.s, g.e, shared.n_docs
      FROM g JOIN shared USING (h)
    ), brk AS (
      SELECT *,
             CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    IS NULL
                  OR s > max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
             THEN 1 ELSE 0 END AS b
      FROM hits
    ), isl AS (
      SELECT *, sum(b) OVER (PARTITION BY doc_id ORDER BY s, e
                             ROWS UNBOUNDED PRECEDING) AS island
      FROM brk
    )
    SELECT doc_id,
           CAST(min(s) AS INT) AS span_start,
           CAST(max(e) AS INT) AS span_end,
           CAST(max(e) - min(s) + 1 AS INT) AS span_len,
           CAST(count(*) AS BIGINT) AS n_windows,
           CAST(max(n_docs) AS BIGINT) AS max_window_docs
    FROM isl GROUP BY doc_id, island
    """,
)
def x193_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact-substring dedup spans (Lee et al. 2021,
    k-gram form): every maximal token run covered by 8-token windows
    shared by >= 2 documents, as explicit (span_start, span_end) edit
    rows — x71 reports the coverage stats, this emits the removal
    spans a cleaning pass applies (VERDICT r9 item 4).  One window-hash
    frequency aggregate + hash join-back + a per-doc gaps-and-islands
    merge; no pairwise expansion anywhere, so no caps are needed."""
    from ..operators.dedup import substring_dedup_spans

    docs = load_table(spark, sf_dir, "documents")
    return substring_dedup_spans(docs, k=8, min_docs=2)


_SUBSTR_CLEAN_ORACLE = """
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ), g AS (
      SELECT doc_id, u.i AS s,
             least(u.i + {km1}, len(t)) AS e,
             ('0x' || substr(md5(concat_ws(' ', {parts})),
                             1, 15))::BIGINT AS h
      FROM toks, unnest(range(1, greatest(len(t) - {km1}, 1) + 1)) u(i)
    ), marked AS (
      {marked}
    ), rem AS (
      SELECT doc_id, s, e FROM marked WHERE rn > 1
    ), prot AS (
      SELECT doc_id, s, e FROM marked WHERE rn = 1
    ), posed AS (
      SELECT doc_id, u.i AS p, t[u.i] AS tok
      FROM toks, unnest(range(1, len(t) + 1)) u(i)
    ), kept AS (
      SELECT p.doc_id, p.p, p.tok FROM posed p
      WHERE NOT EXISTS (SELECT 1 FROM rem r
                        WHERE r.doc_id = p.doc_id AND p.p BETWEEN r.s AND r.e)
         OR EXISTS (SELECT 1 FROM prot q
                    WHERE q.doc_id = p.doc_id AND p.p BETWEEN q.s AND q.e)
    ), agg AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS ct,
             CAST(count(*) AS INT) AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT tk.doc_id,
           coalesce(a.ct, '') AS cleaned_text,
           CAST(len(tk.t) AS INT) AS n_tokens_before,
           CAST(len(tk.t) - coalesce(a.n_kept, 0) AS INT) AS n_tokens_removed
    FROM toks tk LEFT JOIN agg a USING (doc_id)
"""


def _window_parts(k: int) -> str:
    return ", ".join(f"t[u.i+{j}]" if j else "t[u.i]" for j in range(k))


@query(
    "x194_substring_dedup_clean",
    oracle=_SUBSTR_CLEAN_ORACLE.format(
        km1=7,
        parts=_window_parts(8),
        marked="""
      SELECT g.*, row_number() OVER (PARTITION BY g.h
                                     ORDER BY g.doc_id, g.s) AS rn
      FROM g JOIN (SELECT h FROM g GROUP BY h
                   HAVING count(DISTINCT doc_id) >= 2) sh USING (h)
        """,
    ),
)
def x194_substring_dedup_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY stage of cross-document substring dedup (x193 emits the
    report; this emits the edited corpus): every 8-token window string
    shared by >= 2 documents survives exactly once corpus-wide at its
    canonical occurrence (lowest doc id, lowest position) — Lee et
    al. 2021's keep-one-copy semantics, with canonical coverage
    protected from clipping by overlapping duplicate occurrences.
    The spans-report dataflow plus one per-hash canonical window
    (row_number on the well-spread hash) and a map-only higher-order
    token filter; the oracle replays hashing, canonical choice, and
    the keep rule position-by-position."""
    from ..operators.dedup import substring_dedup_clean

    docs = load_table(spark, sf_dir, "documents")
    return substring_dedup_clean(docs, k=8, min_docs=2)


@query(
    "x195_self_repetition_trim",
    oracle=_SUBSTR_CLEAN_ORACLE.format(
        km1=3,
        parts=_window_parts(4),
        marked="""
      SELECT doc_id, s, e, h,
             row_number() OVER (PARTITION BY doc_id, h ORDER BY s) AS rn
      FROM (SELECT g.*, count(*) OVER (PARTITION BY doc_id, h) AS cnt
            FROM g) c
      WHERE cnt >= 2
        """,
    ),
)
def x195_self_repetition_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document repetition trim — the cleaner to x29's
    repetition report: any 4-token window occurring more than once in
    the same document keeps its first occurrence and loses later
    coverage (degenerate generations, boilerplate loops); protected
    first occurrences make periodic text collapse to its first period
    plus the k-1 rotated-window tail instead of vanishing (every
    repeated window string survives at least once).  Repeat detection is a per-(doc, hash)
    window partitioned on the doc id — composes with any corpus
    partitioning, no skewed-key shuffle — then the shared map-only
    edit applier (operators/dedup._apply_keep_rule)."""
    from ..operators.dedup import self_repetition_trim

    docs = load_table(spark, sf_dir, "documents")
    return self_repetition_trim(docs, k=4)


@query(
    "x196_incremental_substring_clean",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ), g0 AS (
      SELECT doc_id, u.i AS s,
             least(u.i + 7, len(t)) AS e,
             ('0x' || substr(md5(concat_ws(' ', t[u.i], t[u.i+1], t[u.i+2],
                                           t[u.i+3], t[u.i+4], t[u.i+5],
                                           t[u.i+6], t[u.i+7])),
                             1, 15))::BIGINT AS h
      FROM toks, unnest(range(1, greatest(len(t) - 7, 1) + 1)) u(i)
    ), hist AS (
      SELECT DISTINCT h FROM g0 WHERE doc_id % 3 = 0
    ), g AS (
      SELECT * FROM g0 WHERE doc_id % 3 != 0
    ), in_hist AS (
      SELECT g.doc_id, g.s, g.e FROM g JOIN hist USING (h)
    ), fresh AS (
      SELECT g.* FROM g WHERE NOT EXISTS (
        SELECT 1 FROM hist WHERE hist.h = g.h)
    ), nd AS (
      SELECT h, count(DISTINCT doc_id) AS nd FROM fresh GROUP BY h
    ), marked AS (
      SELECT f.doc_id, f.s, f.e, nd.nd,
             row_number() OVER (PARTITION BY f.h
                                ORDER BY f.doc_id, f.s) AS rn
      FROM fresh f JOIN nd USING (h)
    ), rem AS (
      SELECT doc_id, s, e FROM in_hist
      UNION ALL
      SELECT doc_id, s, e FROM marked WHERE nd >= 2 AND rn > 1
    ), prot AS (
      SELECT doc_id, s, e FROM marked WHERE nd >= 2 AND rn = 1
    ), posed AS (
      SELECT doc_id, u.i AS p, t[u.i] AS tok
      FROM toks, unnest(range(1, len(t) + 1)) u(i)
      WHERE doc_id % 3 != 0
    ), kept AS (
      SELECT p.doc_id, p.p, p.tok FROM posed p
      WHERE NOT EXISTS (SELECT 1 FROM rem r
                        WHERE r.doc_id = p.doc_id AND p.p BETWEEN r.s AND r.e)
         OR EXISTS (SELECT 1 FROM prot q
                    WHERE q.doc_id = p.doc_id AND p.p BETWEEN q.s AND q.e)
    ), agg AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS ct,
             CAST(count(*) AS INT) AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT tk.doc_id,
           coalesce(a.ct, '') AS cleaned_text,
           CAST(len(tk.t) AS INT) AS n_tokens_before,
           CAST(len(tk.t) - coalesce(a.n_kept, 0) AS INT) AS n_tokens_removed
    FROM toks tk LEFT JOIN agg a USING (doc_id)
    WHERE tk.doc_id % 3 != 0
    """,
)
def x196_incremental_substring_clean(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental substring dedup of an arriving batch against a
    corpus-prefix hash history (the x47/x65 ingest discipline applied
    to the x194 family): history = the distinct window hashes of every
    doc_id % 3 == 0 document, batch = the rest.  Occurrences whose
    hash exists in history are removed (canonical already shipped);
    hashes new to the corpus but shared within the batch keep exactly
    their first occurrence.  History text is never re-read — the
    membership join touches only the persisted hash set; the streamed
    form is streaming.sinks.make_substring_clean_sink."""
    from ..operators.dedup import (
        _window_occurrences,
        incremental_substring_clean,
    )

    docs = load_table(spark, sf_dir, "documents")
    hist = (
        _window_occurrences(
            docs.filter(F.col("doc_id") % 3 == 0), 8, "text", "doc_id"
        )
        .select("h")
        .distinct()
    )
    return incremental_substring_clean(
        docs.filter(F.col("doc_id") % 3 != 0), hist, k=8
    )


@query(
    "x197_quality_budget_threshold",
    oracle="""
    WITH m AS (
      SELECT
        CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS nt,
        len(list_filter(string_split(lower(text), ' '),
                        t -> t IN ('the','a','of','and','to','in','is','it','that','for')))
          / CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS stop_r,
        list_sum(list_transform(string_split(lower(text), ' '), t -> length(t)))
          / CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS awl
      FROM documents
    ), scored AS (
      SELECT nt,
             ((CASE WHEN nt BETWEEN 20 AND 2000 THEN 1.0 ELSE 0.5 END)
              + (CASE WHEN stop_r BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.5 END)
              + (CASE WHEN awl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END)) / 3.0 AS q
      FROM m
    ), levels AS (
      SELECT q, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(nt) AS BIGINT) AS n_tokens
      FROM scored GROUP BY q
    ), cum AS (
      SELECT *,
             CAST(sum(n_docs) OVER (ORDER BY q DESC
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_docs,
             CAST(sum(n_tokens) OVER (ORDER BY q DESC
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      FROM levels
    ), tot AS (
      SELECT CAST(sum(nt) AS BIGINT) AS corpus_tokens FROM scored
    )
    SELECT round(q + 1e-9, 4) AS threshold, n_docs, n_tokens,
           cum_docs, cum_tokens,
           CAST(corpus_tokens // 4 AS BIGINT) AS budget_tokens,
           cum_tokens <= corpus_tokens // 4 AS fits_budget
    FROM cum, tot
    """,
)
def x197_quality_budget_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-derived quality cutoff for a token budget — the INVERSE of
    x43's yield curve: cumulative doc/token mass per quality level
    from the top down, each level flagged with whether keeping
    everything at-or-above it fits a quarter-of-corpus budget
    (integer-exact BIGINT division, no float at the boundary).  The
    loosest fitting level is the cutoff a budgeted curation run
    applies.  One scan -> quality-level aggregate -> bounded
    cumulative window -> broadcast scalar join."""
    from ..operators.curation import quality_threshold_for_budget

    docs = load_table(spark, sf_dir, "documents")
    return quality_threshold_for_budget(docs, budget_den=4)


@query(
    "x198_materialize_mixture",
    oracle="""
    WITH per AS (
      SELECT source, count(*) AS n_docs,
             CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ), tot AS (
      SELECT CAST(sum(n_tokens) AS BIGINT) AS corpus_tokens FROM per
    ), sh AS (
      SELECT per.*, n_tokens / CAST(corpus_tokens AS DOUBLE) AS raw_share FROM per, tot
    ), ps AS (
      SELECT sum(pow(raw_share, 0.5)) AS pow_sum FROM sh
    ), weights AS (
      SELECT source,
             round(pow(raw_share, 0.5) / pow_sum + 1e-9, 6) AS mix_weight
      FROM sh, ps
    ), targets AS (
      SELECT source, mix_weight,
             CAST(floor((corpus_tokens // 4) * mix_weight + 1e-6) AS BIGINT)
               AS target_tokens
      FROM weights, tot
    ), t AS (
      SELECT doc_id, source,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS nt,
             ('0x' || substr(md5('mixture|' || doc_id), 1, 15))::BIGINT AS rk
      FROM documents
    ), ranked AS (
      SELECT *, CAST(sum(nt) OVER (
               PARTITION BY source ORDER BY rk, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum
      FROM t
    ), kept AS (
      SELECT r.source, CAST(count(*) AS BIGINT) AS kept_docs,
             CAST(sum(r.nt) AS BIGINT) AS kept_tokens
      FROM ranked r JOIN targets g USING (source)
      WHERE r.cum <= g.target_tokens
      GROUP BY r.source
    )
    SELECT g.source, g.mix_weight, g.target_tokens,
           CAST(coalesce(k.kept_docs, 0) AS BIGINT) AS kept_docs,
           CAST(coalesce(k.kept_tokens, 0) AS BIGINT) AS kept_tokens,
           round(coalesce(k.kept_tokens, 0)
                 / CAST(greatest(g.target_tokens, 1) AS DOUBLE) + 1e-9, 4)
             AS utilization
    FROM targets g LEFT JOIN kept k USING (source)
    """,
)
def x198_materialize_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the temperature-scaled mixture (x30's weights) at a
    quarter-of-corpus global token budget via the x41 deterministic
    budget sampler — the composition a training-data run actually
    executes, reported as the per-source summary (target vs kept,
    utilization; shortfall = doc granularity or source exhaustion,
    which x30's oversample_factor > 1 already predicts means
    repetition).  n_sources-row aggregates broadcast; one per-source
    cumulative window over the salted ranking."""
    from ..operators.curation import materialize_mixture

    docs = load_table(spark, sf_dir, "documents")
    return materialize_mixture(docs, alpha=0.5, budget_den=4)
