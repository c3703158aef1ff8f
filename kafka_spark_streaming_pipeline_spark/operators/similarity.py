"""Similarity search over embedding columns (array<float>).

Two tiers:
- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  Cost is |Q| x |C|; fine when the query set is small or as the
  verification pass.  All arithmetic is built-in (``zip_with`` +
  ``aggregate`` fold), JVM-side, no Python.
- ``lsh_cosine_topk``: sign-random-projection LSH — candidates share a
  hyperplane-sign bucket, so each query only scores its bucket.  This
  is the 100 TB path: bucket assignment is a map-only pass, and the
  join shuffles on the bucket key instead of broadcasting the corpus.
  Every SRP bucket in this module is ``int_srp_bucket``'s: integer
  planes over the integer-quantized vector, so buckets are identical
  in Spark and in the SQL oracle.

Dot products fold left-to-right in both Spark and DuckDB, so results
are bit-comparable and the oracle can verify exact scores (rounded).
Every vector-index trainer (k-means and IVF cells, PQ codebooks) runs
one determinism kit — hash60 seeding, exact-BIGINT centroid sums and a
4-dp rounded argmax with id tiebreaks — so each index build and search
replays exactly in a SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from .text import hash60, let_expr as _let  # _let: single-binding 'let' (shared)


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _unit_arr(vv: Column) -> Column:
    """L2-normalized copy of an array column with the norm let-bound —
    O(dim) per row, not O(dim^2)."""
    return _let(
        F.sqrt(_dot(vv, vv)),
        lambda nn: F.when(nn > 0, F.transform(vv, lambda x: x / nn)).otherwise(vv),
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<double> columns."""
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def _as_double(col: Column) -> Column:
    return col.cast("array<double>")


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force top-k cosine neighbors for each query vector.

    The (small) query side is broadcast so the corpus never shuffles —
    each corpus partition scores its rows against every query and the
    per-query top-k is taken with one ranked window over |Q| x k rows.
    Norms are computed once per vector BELOW the join (the join blocks
    projection collapse), so each of the |Q| x |C| pairs evaluates one
    dot product instead of three — same sqrt(dot(v,v)) expression,
    bit-identical result.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("q_vec")
    ).withColumn("q_n", F.sqrt(_dot(F.col("q_vec"), F.col("q_vec"))))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("c_vec")
    ).withColumn("c_n", F.sqrt(_dot(F.col("c_vec"), F.col("c_vec"))))
    sim = _dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_n") * F.col("c_n"))
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        F.round(sim + F.lit(1e-9), 4).alias("cosine_sim"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def int_srp_bucket(vec: Column, planes: list[list[int]]) -> Column:
    """Sign-random-projection bucket over the INTEGER-quantized vector:
    q_i = CAST(v_i * 1000 AS BIGINT) (truncation — bit-identical in
    Spark and DuckDB, unlike float sign tests which can flip on
    summation-order differences).  One bit per integer plane; all
    arithmetic stays < 2^40, overflow-safe everywhere."""
    bucket = F.lit(0)
    for p, plane in enumerate(planes):
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(c) for c in plane]),
                lambda x, y: (x * 1000).cast("long") * y,
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(proj > 0, F.lit(2 ** p)).otherwise(F.lit(0))
    return bucket


def embedding_neardup_pairs(
    emb: DataFrame,
    planes: list[list[int]],
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: SRP-bucket blocking, then
    exact cosine only within buckets.  Same scale shape as MinHash LSH
    (dedup.minhash_lsh_pairs): NO self-join — vectors are grouped per
    bucket and intra-bucket pairs expand via array higher-order
    functions, so the embedding scan runs once and the only shuffle is
    the bucket groupBy.  Blocking is approximate by design: pairs whose
    signs differ on some plane are not candidates (recall grows with
    fewer planes / multiple tables).

    ``max_bucket_size`` is the p12/x101 loud cap, and for a FIXED plane
    set it is load-bearing at scale: bucket population grows with the
    corpus while the bucket count stays 2^planes, so the uncapped
    Sum(|bucket|^2) pair expansion goes quadratic — the r9 three-point
    scale record measured exactly that (second-decade ratio 48.6x vs
    10x data before the cap; see BENCH_SCALE.json).  With the cap,
    oversized buckets truncate to their ``max_bucket_size`` smallest
    ids (deterministic, never silent — emitted pairs from a truncated
    bucket carry ``block_truncated=true``; the column appears only
    when the cap is set, so the default schema is unchanged).  The cap
    bounds compute; RECALL in dense regions is the multi-table /
    more-planes dial (x61's centered 3-table blocking, planes scaling
    with log N) — a production corpus sizes 2^planes ~ N/target_bucket
    and keeps the cap as the skew guard, the same division of labor as
    MinHash banding."""
    v = (
        emb.select(F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v"))
        .withColumn("bucket", int_srp_bucket(F.col("v"), planes))
        # norm once per VECTOR (the aggregation below is a hard
        # barrier), so each candidate pair pays one dot product, not
        # three — same sqrt(dot(v,v)) expression, bit-identical value
        .withColumn("n", F.sqrt(_dot(F.col("v"), F.col("v"))))
    )
    from .dedup import unordered_pairs_expr

    if max_bucket_size is not None:
        from .dedup import _capped_block_pairs

        prepared = v.select(
            F.col("bucket").alias("blk"),
            F.col("id"),
            F.struct("v", "n").alias("pl"),
        )
        pairs = _capped_block_pairs(prepared, "id", "pl", max_bucket_size)
        sim = F.round(
            _dot(F.col("payload_a.v"), F.col("payload_b.v"))
            / (F.col("payload_a.n") * F.col("payload_b.n"))
            + F.lit(1e-9),
            4,
        )
        return pairs.select(
            F.col("doc_a").alias("vec_a"),
            F.col("doc_b").alias("vec_b"),
            sim.alias("cosine_sim"),
            "block_truncated",
        ).filter(F.col("cosine_sim") >= threshold)

    buckets = (
        v.groupBy("bucket")
        .agg(F.array_sort(F.collect_list(F.struct("id", "v", "n"))).alias("members"))
        .filter(F.size("members") >= 2)
    )
    pair_arr = unordered_pairs_expr(
        F.col("members"),
        inner=lambda x, y: F.struct(
            x["id"].alias("vec_a"),
            y["id"].alias("vec_b"),
            x["v"].alias("v_a"),
            y["v"].alias("v_b"),
            x["n"].alias("n_a"),
            y["n"].alias("n_b"),
        ),
    )
    sim = F.round(
        _dot(F.col("v_a"), F.col("v_b")) / (F.col("n_a") * F.col("n_b")) + F.lit(1e-9), 4
    )
    # no dropDuplicates: with a single SRP table each vector has exactly
    # one bucket, so a pair can only be emitted once
    return (
        buckets.select(F.explode(pair_arr).alias("p"))
        .select("p.*")
        .select("vec_a", "vec_b", sim.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


def lsh_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    planes: list[list[int]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: only candidates in the query's SRP bucket are
    scored.  Recall grows with fewer planes / multiple tables; this is
    the scale path where |C| makes brute force infeasible.

    Buckets come from the integer-quantized projection (int_srp_bucket,
    so the planes carry INTEGER coefficients) — bit-identical across
    engines, which is what lets the x06 registry entry carry a full SQL
    value oracle instead of a rows-only check."""
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            _as_double(F.col(vec_col)).alias("q_vec"),
        )
        .withColumn("bucket", int_srp_bucket(F.col("q_vec"), planes))
        .withColumn("q_n", F.sqrt(_dot(F.col("q_vec"), F.col("q_vec"))))
    )
    c = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            _as_double(F.col(vec_col)).alias("c_vec"),
        )
        .withColumn("bucket", int_srp_bucket(F.col("c_vec"), planes))
        .withColumn("c_n", F.sqrt(_dot(F.col("c_vec"), F.col("c_vec"))))
    )
    sim = _dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_n") * F.col("c_n"))
    scored = c.join(F.broadcast(q), "bucket").select(
        "query_id",
        "neighbor_id",
        F.round(sim + F.lit(1e-9), 4).alias("cosine_sim"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def lsh_cosine_topk_multi(
    queries: DataFrame,
    corpus: DataFrame,
    tables: list[list[list[int]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-table SRP-LSH: ``tables`` is a list of independent
    hyperplane sets; a candidate only needs to share a bucket in ANY
    table.  This is the standard recall dial for web-scale ANN — with
    per-table collision probability p, the miss probability drops
    exponentially, (1-p)^n_tables — at a linear candidate-volume cost.
    Buckets are int_srp_bucket's, as in lsh_cosine_topk.

    One scan per side: every table's bucket is computed in the SAME
    projection and exploded to (table, bucket) rows, so adding tables
    never re-reads the corpus.  Candidates join on (table, bucket)
    with the (tiny, fanned-out) query side broadcast; a pair meeting
    in several tables is collapsed by a (query, neighbor) dedup AFTER
    scoring — the score is deterministic, so dedup keys on ids only
    and never shuffles the vectors."""
    if not tables:
        raise ValueError("at least one hyperplane table required")

    def _with_table_buckets(df: DataFrame, vec: str) -> DataFrame:
        # one (table, bucket) struct per table: distinct by table id
        tb = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("tbl"),
                        int_srp_bucket(F.col(vec), planes).alias("bucket"),
                    )
                    for t, planes in enumerate(tables)
                ]
            )
        ).alias("tb")
        return df.select("*", tb).select(
            *df.columns, F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket")
        )

    q = _with_table_buckets(
        queries.select(
            F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("q_vec")
        ).withColumn("q_n", F.sqrt(_dot(F.col("q_vec"), F.col("q_vec")))),
        "q_vec",
    )
    c = _with_table_buckets(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("c_vec")
        ).withColumn("c_n", F.sqrt(_dot(F.col("c_vec"), F.col("c_vec")))),
        "c_vec",
    )
    sim = _dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_n") * F.col("c_n"))
    scored = (
        c.join(F.broadcast(q), ["tbl", "bucket"])
        .select(
            "query_id",
            "neighbor_id",
            F.round(sim + F.lit(1e-9), 4).alias("cosine_sim"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# ------------------------------------------------------------------ IVF

def nearest_cells(df: DataFrame, cents: DataFrame, n: int, out: str) -> DataFrame:
    """Attach each vector's ``n`` nearest cells WITHOUT shuffling
    ``df``: the centroid set (nlist x dim — tiny by construction) is
    folded into a one-row array, broadcast-nested-loop attached, and
    the argmax is a pure array expression (sort of (neg_sim, cell)
    structs, slice n, explode).  The previous form exploded df x
    nlist and paid a row_number window — a shuffle of nlist times
    the corpus just to pick the max of nlist scores.  Expects the
    vector in column ``v`` (array<double>).

    Cells rank on the 4-dp rounded similarity with the cell id as
    tiebreak (the struct sort orders by (neg_sim, cell)): a
    cross-engine-deterministic argmax."""
    cent_arr = cents.agg(
        F.array_sort(F.collect_list(F.struct("cell", "centroid"))).alias("__cents")
    )
    sims = F.transform(
        F.col("__cents"),
        lambda s: F.struct(
            (-F.round(cosine(F.col("v"), s["centroid"]) + F.lit(1e-9), 4)).alias(
                "neg_sim"
            ),
            s["cell"].alias("cell"),
        ),
    )
    # n=1 (the k-means/IVF assignment hot path) picks the argmin with
    # an O(k) array_min instead of the O(k log k) full sort — same
    # (neg_sim, cell) struct ordering, so ties break identically
    # (r13 optimization pass, guide §1.2: less per-row work in the
    # map-only pass over every vector).  array_min of an EMPTY centroid
    # set is NULL; array_compact drops it so, as with the sort path, a
    # vector with no cell explodes to no row rather than a NULL cell
    if n == 1:
        top = F.array_compact(F.array(F.array_min(sims)))
    else:
        top = F.slice(F.array_sort(sims), 1, n)
    return (
        df.crossJoin(F.broadcast(cent_arr))
        .withColumn(out, F.explode(F.transform(top, lambda s: s["cell"])))
        .drop("__cents")
    )


def _centroids_portable(assigned: DataFrame) -> DataFrame:
    """Cross-engine-exact per-cell centroids: each coordinate is
    quantized to a BIGINT (trunc(val * 1000) — the x06 convention),
    summed exactly (BIGINT addition is order-independent, unlike
    float), and the mean is reconstructed with exactly two IEEE
    divisions — so Spark and the SQL oracle produce bit-identical
    centroid arrays regardless of aggregation order."""
    by_dim = (
        assigned.select("cell", F.posexplode("v").alias("dim", "val"))
        .groupBy("cell", "dim")
        .agg(
            F.sum((F.col("val") * 1000).cast("long")).alias("s"),
            F.count("*").alias("n"),
        )
    )
    return (
        by_dim.groupBy("cell")
        .agg(
            F.array_sort(F.collect_list(F.struct("dim", "s"))).alias("dm"),
            F.first("n").alias("n_members"),
        )
        .select(
            "cell",
            F.transform(
                "dm", lambda t: t["s"].cast("double") / F.col("n_members") / F.lit(1000.0)
            ).alias("centroid"),
            "n_members",
        )
    )


def _train_cells(
    c: DataFrame, n: int, iterations: int, salt: str, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """The one cell trainer behind k-means and every IVF tier: seed
    each vector of ``c`` (columns ``id_col``, ``v``) into one of ``n``
    cells by hash60 of its id, take exact centroids
    (``_centroids_portable``), then run ``iterations`` Lloyd steps —
    reassign through ``nearest_cells``, recompute the centroids.

    Returns ``(assigned, cents)``: ``c`` plus the ``cell`` the final
    centroids were averaged over, and those (cell, centroid) rows.
    Scale shape per step: the shuffle-free broadcast argmax plus one
    (cell, dim) aggregate of n x dim rows.  The plan grows by one step
    per iteration and is not checkpointed: a local checkpoint per
    centroid set ran more jobs (x15: 14, not 12), since its plan runs
    apart from the consumer's and shares none of its broadcasts or
    exchanges."""
    assigned = c.withColumn(
        "cell", F.pmod(hash60(F.col(id_col).cast("string"), salt=salt), F.lit(n))
    )
    cents = _centroids_portable(assigned).select("cell", "centroid")
    for _ in range(iterations):
        assigned = nearest_cells(c, cents, 1, "cell")
        cents = _centroids_portable(assigned).select("cell", "centroid")
    return assigned, cents


def ivf_search_postings(
    queries: DataFrame,
    cents: DataFrame,
    postings: DataFrame,
    nprobe: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Score queries against an ALREADY-ASSIGNED postings frame
    (cell, neighbor_id, v), one row per neighbor_id — the one IVF
    search, shared by ivf_topk (the postings its training assigned),
    the persisted index (ivf_index_search reads postings from its
    partitioned layout) and the STREAMING index
    (streaming/sinks.ivf_stream_view merges them from the append log,
    newest posting per vector).  Probe side broadcast; a query scores
    only its ``nprobe`` cells' postings."""
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("v")
    )
    probed = (
        nearest_cells(q, cents, nprobe, "probe_cell")
        .withColumnRenamed("v", "q_vec")
        .withColumn("q_n", F.sqrt(_dot(F.col("q_vec"), F.col("q_vec"))))
    )
    cands = postings.withColumnRenamed("v", "c_vec").withColumn(
        "c_n", F.sqrt(_dot(F.col("c_vec"), F.col("c_vec")))
    ).join(F.broadcast(probed), F.col("cell") == F.col("probe_cell"))
    sim = _dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_n") * F.col("c_n"))
    scored = cands.select(
        "query_id",
        "neighbor_id",
        F.round(sim + F.lit(1e-9), 4).alias("cosine_sim"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    nlist: int = 16,
    nprobe: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: partition the corpus into ``nlist`` cells
    (``_train_cells``: hash seed + ONE Lloyd reassignment step, both
    pure DataFrame ops), then score each query only against its
    ``nprobe`` nearest cells (``ivf_search_postings``).

    Scale shape: centroids are tiny (nlist x dim) and broadcast
    everywhere; the corpus is scanned twice (assign, search) and never
    shuffled on its own key; a query touches nprobe/nlist of the
    corpus.  Versus SRP-LSH (lsh_cosine_topk) this adapts to the data
    distribution instead of using fixed hyperplanes."""
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("v")
    )
    postings, cents = _train_cells(c, nlist, 1, "ivf|", "neighbor_id")
    return ivf_search_postings(queries, cents, postings, nprobe, k, id_col, vec_col)


# ------------------------------------------------------------ quantization

def quantize_embeddings(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector affine int8 quantization: q_i = floor((v_i - min) /
    scale) capped to [0, 255], scale = (max - min) / 255 — 4x storage
    reduction for ANN candidate stages, with the (min, scale) pair kept
    for dequantization.  Pure array expressions; the reconstruction
    error column quantifies the quality loss per vector."""
    v = _as_double(F.col(vec_col))
    mn = F.array_min(v)
    scale = (F.array_max(v) - mn) / F.lit(255.0)
    stats = F.struct(mn.alias("mn"), scale.alias("sc"))

    def _q(st):
        return F.when(st["sc"] > 0, F.transform(
            v,
            lambda x: F.least(
                F.lit(255).cast("long"), F.floor((x - st["mn"]) / st["sc"]).cast("long")
            ),
        )).otherwise(F.transform(v, lambda x: F.lit(0).cast("long")))

    def _err(st, qq):
        return F.when(st["sc"] > 0, F.aggregate(
            F.zip_with(
                v,
                qq,
                lambda x, q_i: F.abs(x - (st["mn"] + q_i.cast("double") * st["sc"])),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ) / F.size(v)).otherwise(F.lit(0.0))

    # (mn, scale) are O(dim) aggregates: let-bind them (and q for the
    # error fold) so the per-element lambdas reference bound values —
    # O(dim) per row instead of O(dim^2)
    q = _let(stats, _q)
    dequant_err = _let(stats, lambda st: _let(_q(st), lambda qq: _err(st, qq)))
    return emb.select(
        F.col(id_col),
        q.alias("q_vec"),
        mn.alias("min_val"),
        F.round(scale + F.lit(1e-9), 6).alias("scale_r"),
        F.round(dequant_err + F.lit(1e-9), 6).alias("mean_abs_err"),
    )


# ------------------------------------------------------------- k-means

def kmeans_assign(
    emb: DataFrame,
    k: int = 8,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Spherical k-means (Lloyd) over an embedding column — the
    centroid trainer behind IVF indexing and semantic-cluster curation
    (cluster-then-sample corpus balancing).

    Scale shape per iteration (``_train_cells``): assignment is the
    shuffle-free broadcast-centroid array-argmax (``nearest_cells``),
    so the corpus is never shuffled for assignment; the centroid update
    is one (cell, dim) aggregation — the only shuffle — and its output
    is k x dim rows regardless of corpus size.

    Returns (id, cell, sim) — each vector's cluster and its cosine
    similarity to the final centroid."""
    c = emb.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"))
    _, cents = _train_cells(c, k, iterations, "km|", id_col)
    final = nearest_cells(c, cents, 1, "cell")
    return final.join(cents, "cell").select(
        id_col,
        "cell",
        F.round(cosine(F.col("v"), F.col("centroid")) + F.lit(1e-9), 4).alias("sim"),
    )


def cluster_topics(
    emb: DataFrame, docs: DataFrame, k: int = 8, iterations: int = 1
) -> DataFrame:
    """Name each embedding cluster by its top-3 TF-IDF terms (x90):
    k-means cells over ``emb`` joined back to ``docs`` by id,
    then cluster-level TF-IDF (each cell is one super-document, df
    counts cells).  Scale: the only cost over ``kmeans_assign`` is a
    broadcast-able (doc_id, cell) join and the TF-IDF shuffles keyed on
    k cells x terms."""
    from ..cache import tracked_persist
    from .text import tfidf_top_terms

    # the (doc_id, cell) assignment is tiny and consumed by both
    # tf-idf legs — persist so the Lloyd pipeline runs ONCE, not once
    # per consumer
    assign = tracked_persist(
        kmeans_assign(emb, k=k, iterations=iterations).select(
            F.col("vec_id").alias("doc_id"), "cell"
        )
    )
    labeled = docs.join(assign, "doc_id").select("cell", "text")
    return tfidf_top_terms(labeled, id_col="cell", k=3, min_token_len=3)


# ---------------------------------------------------------- matryoshka

def matryoshka_truncate(
    emb: DataFrame,
    dims: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka-style dimensionality reduction: keep the first
    ``dims`` components and L2-renormalize — the cheap-retrieval tier
    of an MRL-trained embedding stack (coarse search on the prefix,
    rerank on the full vector).  Pure array expressions, map-only:
    truncation cost is O(dims) per row and the scan never shuffles.

    Returns (id, truncated, norm_retained): the renormalized prefix and
    the fraction of the full vector's L2 norm the prefix retains —
    the quality signal for choosing the truncation tier."""
    v = _as_double(F.col(vec_col))
    prefix = F.slice(v, 1, dims)
    full_norm = F.sqrt(_dot(v, v))
    pre_norm = F.sqrt(_dot(prefix, prefix))
    truncated = _let(  # norm let-bound: O(dims), not O(dims^2), per row
        pre_norm,
        lambda pn: F.when(
            pn > 0, F.transform(prefix, lambda x: F.round(x / pn + F.lit(1e-9), 4))
        ).otherwise(prefix),
    )
    return emb.select(
        F.col(id_col),
        truncated.alias("truncated"),
        F.round(pre_norm / full_norm + F.lit(1e-9), 4).alias("norm_retained"),
    )


# ------------------------------------------------- persisted IVF index

def ivf_index_build(
    corpus: DataFrame,
    path: str,
    nlist: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Build-once half of the IVF index: train centroids
    (``_train_cells``, same as ivf_topk) and PERSIST the index — the
    assigned corpus written as parquet PARTITIONED BY cell, plus a
    tiny centroids table.

    This is the shape that matters at 100 TB: index construction is
    amortized across every later query batch, and because the posting
    lists are physical partitions, a search that probes ``nprobe``
    cells reads ``nprobe/nlist`` of the index from disk — the pruning
    happens in the parquet scan (PartitionFilters), not after a full
    load."""
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("v")
    )
    assigned, cents = _train_cells(c, nlist, 1, "ivf|", "neighbor_id")
    assigned.write.mode("overwrite").partitionBy("cell").parquet(f"{path}/postings")
    cents.write.mode("overwrite").parquet(f"{path}/centroids")


def ivf_index_search(
    spark,
    queries: DataFrame,
    path: str,
    nprobe: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query-many half: ``ivf_search_postings`` over the persisted
    index.  The postings scan is joined ON ITS PARTITION COLUMN, so
    Catalyst inserts a dynamic-partition-pruning subquery: only the
    probed cell directories are listed and read — never the whole
    index, and never a driver-side collect of the cell list."""
    return ivf_search_postings(
        queries,
        spark.read.parquet(f"{path}/centroids"),
        spark.read.parquet(f"{path}/postings"),
        nprobe,
        k,
        id_col,
        vec_col,
    )


# -------------------------------------------------------- semantic dedup

def semantic_dedup(
    emb: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_block: int = 10_000,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023):
    assign every vector to its nearest centroid, then prune
    near-duplicates WITHIN each cluster by exact cosine, keeping the
    lowest-id member of every duplicate pair.

    Output: one row per pruned vector — (removed_id, kept_id, cell,
    cosine_sim) where kept_id is the LOWEST-id in-cluster neighbor
    with cosine >= threshold (the deterministic witness).

    Removal semantics are the greedy-prefix rule (SemDeDup's form): a
    vector is removed iff SOME lower-id cluster member is within the
    threshold — including members that are themselves removed.  Chains
    A~B~C (with A!~C) therefore keep only A; ``kept_id`` names the
    WITNESS that caused removal, which may itself be a removed row,
    not necessarily a surviving representative.  Consumers wanting the
    surviving representative of a duplicate group should run the pairs
    through dedup.connected_components instead of following kept_id.

    Scale shape — the whole point of SemDeDup vs all-pairs:
    - assignment is shuffle-free: the centroid set (k x dim — tiny by
      construction) folds into one broadcast row and the argmax is a
      pure array expression (sims rounded to 6 decimals, ties break on
      cell id, so the assignment is engine-independent);
    - pairwise cosine runs only inside a cluster: one groupBy(cell)
      shuffle, then intra-cluster pairs expand via array higher-order
      functions over the id-sorted member list (norms computed once
      per vector below the barrier, one dot product per pair);
    - clusters larger than ``max_cluster_block`` are truncated to the
      lowest-id members with ``cluster_truncated=true`` provenance
      (same honest-cap convention as dedup._capped_block_pairs) —
      at real scale the centroid count is sized so clusters stay far
      below the cap: with the standard nlist ~ sqrt(N) dial, expected
      cluster size grows as sqrt(N) and the in-cluster pair term stays
      ~linear in N.  A FIXED nlist instead makes that term quadratic —
      measured directly by the r9 three-point record (BENCH_SCALE
      x51: 11.4x per 10x data at the registry's fixed test nlist).
    """
    v = (
        emb.select(F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v"))
        .withColumn("n", F.sqrt(_dot(F.col("v"), F.col("v"))))
    )
    cent_arr = centroids.agg(
        F.array_sort(F.collect_list(F.struct("cell", "centroid"))).alias("__cents")
    )
    # argmax over (neg rounded sim, cell): first element after sort
    sims = F.transform(
        F.col("__cents"),
        lambda s: F.struct(
            (
                -F.round(
                    _dot(F.col("v"), s["centroid"])
                    / (
                        F.col("n")
                        * F.sqrt(_dot(s["centroid"], s["centroid"]))
                    )
                    + F.lit(1e-9),
                    6,
                )
            ).alias("neg_sim"),
            s["cell"].alias("cell"),
        ),
    )
    assigned = (
        v.crossJoin(F.broadcast(cent_arr))
        # O(k) argmin (same struct ordering as sort-then-first, ties
        # break identically on the cell id — r13, guide §1.2)
        .withColumn("cell", F.array_min(sims)["cell"])
        .drop("__cents")
    )
    clusters = (
        assigned.groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("id", "v", "n"))).alias("all_members"))
        .withColumn("cluster_truncated", F.size("all_members") > max_cluster_block)
        .withColumn("members", F.slice("all_members", 1, max_cluster_block))
        .drop("all_members")
        .filter(F.size("members") >= 2)
    )
    members = F.col("members")

    def _witnesses(x, i):
        # hits among the i members BEFORE x (id-sorted => lowest id first)
        priors = F.slice(members, 1, i)
        hits = F.filter(
            F.transform(
                priors,
                lambda y: F.struct(
                    y["id"].alias("kept_id"),
                    F.round(
                        _dot(x["v"], y["v"]) / (x["n"] * y["n"]) + F.lit(1e-9), 4
                    ).alias("cosine_sim"),
                ),
            ),
            lambda h: h["cosine_sim"] >= F.lit(threshold),
        )
        # F.get is null-safe on the empty-hits case (ANSI element_at throws)
        return F.struct(
            x["id"].alias("removed_id"),
            F.get(hits, 0)["kept_id"].alias("kept_id"),
            F.get(hits, 0)["cosine_sim"].alias("cosine_sim"),
        )

    pruned = F.filter(
        F.transform(members, _witnesses),
        lambda p: p["kept_id"].isNotNull(),
    )
    return (
        clusters.select("cell", "cluster_truncated", F.explode(pruned).alias("p"))
        .select("p.removed_id", "p.kept_id", "cell", "p.cosine_sim", "cluster_truncated")
    )


# ------------------------------------------------- product quantization

def _l2sq(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _unit_rows(
    df: DataFrame, id_col: str, vec_col: str, out_id: str, out_vec: str = "v"
) -> DataFrame:
    """(``out_id``, ``out_vec``): each row's id and its L2-normalized
    vector, so cosine is a plain dot product."""
    return df.select(
        F.col(id_col).alias(out_id),
        _unit_arr(_as_double(F.col(vec_col))).alias(out_vec),
    )


def _pq_dsub(corpus: DataFrame, vec_col: str, m: int, dim: int | None) -> int:
    """Subvector width for ``m`` subspaces; probes the vector width
    once when the caller does not know it."""
    if dim is None:
        dim = corpus.select(F.size(_as_double(F.col(vec_col))).alias("d")).first()["d"]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    return dim // m


def pq_train_codebooks(corpus: DataFrame, m: int, ksub: int, dsub: int) -> DataFrame:
    """Train per-subspace PQ codebooks (Jégou et al., "Product
    Quantization for Nearest Neighbor Search"): split each vector into
    ``m`` subvectors of ``dsub`` dims, then per subspace run the same
    hash60-seed + one-Lloyd-step k-means the IVF tier uses.

    Returns ONE row: ``__cb`` = array[m] of array[<=ksub] of centroid
    (array<double>) — tiny (m x ksub x dsub doubles) by construction,
    ready to broadcast.  Codes index POSITIONS in each subspace's
    deterministically-sorted centroid list, so encode and ADC lookup
    align even if a Lloyd step empties a cell.

    Scale shape: training shuffles only (sub, cell) aggregates —
    output is m*ksub rows regardless of corpus size; the corpus is
    scanned twice (seed means, one reassignment) and never shuffled on
    its own key.  Expects columns ``id`` and ``v`` (array<double>,
    normalized by the caller if inner-product ADC is intended)."""
    subs = (
        corpus.select(
            F.col("id"),
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(m - 1)),
                    lambda s: F.struct(
                        s.alias("sub"),
                        F.slice(F.col("v"), s * dsub + 1, F.lit(dsub)).alias("sv"),
                    ),
                )
            ).alias("e"),
        )
        .select("id", "e.sub", "e.sv")
    )

    def _codebook(assigned: DataFrame) -> DataFrame:
        # per-(sub, cell) means from quantized BIGINT coordinate sums
        # (order-independent) + two IEEE divisions, as in
        # _centroids_portable; dsub is a build-time constant, so the
        # per-dim sums are dsub columns of ONE aggregation (no
        # posexplode row blow-up, no second regroup shuffle).  Packed
        # into the one-row ``__cb`` array, cells in sorted order.
        g = assigned.groupBy("sub", "cell").agg(
            *[
                F.sum((F.element_at(F.col("sv"), d + 1) * 1000).cast("long")).alias(
                    f"__s{d}"
                )
                for d in range(dsub)
            ],
            F.count("*").alias("__n"),
        )
        means = g.select(
            "sub",
            "cell",
            F.array(
                *[
                    F.col(f"__s{d}").cast("double") / F.col("__n") / F.lit(1000.0)
                    for d in range(dsub)
                ]
            ).alias("centroid"),
        )
        return (
            means.groupBy("sub")
            .agg(F.array_sort(F.collect_list(F.struct("cell", "centroid"))).alias("cells"))
            .groupBy()
            .agg(F.array_sort(F.collect_list(F.struct("sub", "cells"))).alias("sc"))
            .select(
                F.transform(
                    "sc", lambda s: F.transform(s["cells"], lambda c: c["centroid"])
                ).alias("__cb")
            )
        )

    seed = F.pmod(
        hash60(F.col("id").cast("string"), salt="pq|") + F.col("sub"), F.lit(ksub)
    )
    cb0_row = _codebook(subs.withColumn("cell", seed))
    # one Lloyd step: reassign each subvector to its nearest seed
    # centroid (by position), recompute means.  O(ksub) array_min
    # replaces the O(ksub log ksub) sort-then-first — same (d, pos)
    # struct ordering, identical tie-breaking (r13, guide §1.2).
    cb_s = F.element_at(F.col("__cb"), F.col("sub") + 1)
    argmin = F.array_min(
        F.transform(
            cb_s,
            lambda cent, ci: F.struct(
                F.round(_l2sq(F.col("sv"), cent) + F.lit(1e-9), 6).alias("d"),
                ci.alias("pos"),
            ),
        )
    )["pos"]
    reassigned = (
        subs.crossJoin(F.broadcast(cb0_row))
        .withColumn("cell", argmin)
        .drop("__cb")
    )
    return _codebook(reassigned)


def pq_encode(vectors: DataFrame, codebooks: DataFrame, m: int, dsub: int) -> DataFrame:
    """Encode each vector as ``m`` one-byte codes — the position of its
    nearest centroid in each subspace's codebook.  Map-only over the
    vector scan (the one-row codebook frame is broadcast-nested-loop
    attached); at 100 TB this is the pass that shrinks the corpus
    32x (64 floats -> 8 codes) before any search touches it.
    Expects columns ``id`` and ``v``; emits (id, codes array<int>)."""
    # O(ksub) argmin per subspace instead of sorting all ksub distances
    # just to take the first — same (d, pos) struct ordering, identical
    # tie-breaking (r13, guide §1.2: this map-only pass touches every
    # corpus vector, so per-row work is the whole cost)
    code_for_sub = lambda s: F.array_min(  # noqa: E731
        F.transform(
            F.element_at(F.col("__cb"), s + 1),
            lambda cent, ci: F.struct(
                F.round(
                    _l2sq(F.slice(F.col("v"), s * dsub + 1, F.lit(dsub)), cent)
                    + F.lit(1e-9),
                    6,
                ).alias("d"),
                ci.alias("pos"),
            ),
        )
    )["pos"]
    return (
        vectors.crossJoin(F.broadcast(codebooks))
        .withColumn(
            "codes", F.transform(F.sequence(F.lit(0), F.lit(m - 1)), code_for_sub)
        )
        .drop("__cb")
    )


def _adc_luts(dsub: int) -> Column:
    """Per-query ADC lookup table LUT[sub][pos] = dot(q_sub, centroid)
    of query vector ``v`` against the one-row codebook ``__cb`` — same
    sorted codebook arrays as the encode, so positions align."""
    return F.transform(
        F.col("__cb"),
        lambda cells, s: F.transform(
            cells,
            lambda cent: F.round(
                _dot(F.slice(F.col("v"), s * dsub + 1, F.lit(dsub)), cent)
                + F.lit(1e-9),
                6,
            ),
        ),
    )


def _adc_score() -> Column:
    """Asymmetric distance of a coded row against its query's LUT:
    ``m`` array lookups + adds, no per-pair float vector math."""
    return F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.col("luts"),
            lambda code, lut: F.element_at(lut, code + 1),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _adc_topk(
    scored: DataFrame, k: int, rerank: int, qv: DataFrame, cv: DataFrame | None
) -> DataFrame:
    """Top-``k`` per query on ``adc_score`` or, with ``rerank`` > 0,
    the standard two-stage shape: keep a shortlist of ``rerank``
    candidates per query, and ONLY those |Q| x rerank rows fetch their
    unit vectors (``cv``: neighbor_id, c_vec) for exact cosine against
    the broadcast unit queries (``qv``: query_id, q_vec).  The float
    math never touches the rest of the corpus."""
    w = W.partitionBy("query_id").orderBy(F.desc("adc_score"), F.asc("neighbor_id"))
    ranked = scored.withColumn("rank", F.row_number().over(w))
    if not rerank:
        return ranked.filter(F.col("rank") <= k)
    shortlist = ranked.filter(F.col("rank") <= max(rerank, k)).select(
        "query_id", "neighbor_id"
    )
    rescored = (
        shortlist.join(cv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(_dot(F.col("q_vec"), F.col("c_vec")) + F.lit(1e-9), 4).alias(
                "cosine_sim"
            ),
        )
    )
    w2 = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return rescored.withColumn("rank", F.row_number().over(w2)).filter(F.col("rank") <= k)


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    m: int = 8,
    ksub: int = 16,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    rerank: int = 0,
) -> DataFrame:
    """PQ approximate top-k cosine via asymmetric distance computation
    (ADC): vectors are L2-normalized (cosine == dot), the corpus is
    compressed to ``m`` codebook codes, and each QUERY precomputes a
    lookup table LUT[sub][pos] = dot(q_sub, centroid) so scoring a
    corpus row is ``m`` array lookups + adds — no per-pair float
    vector math at all.

    This is the missing compression tier between int8 affine
    quantization (quantize_embeddings — 4x) and raw vectors: PQ is
    32x smaller (64 floats -> 8 bytes) and the ADC scan's per-row cost
    is O(m), independent of dim.  At 100 TB the scan reads ONLY the
    codes column (64-dim vectors never leave the encode pass), and the
    LUT rides the tiny broadcast query side.  Composes with IVF by
    running the same ADC expression over ivf postings instead of the
    full codes frame (ivfpq_topk).

    ``rerank`` > 0 adds the exact-rescore stage over a per-query
    shortlist (``_adc_topk``).  Output column is ``cosine_sim`` (exact)
    when reranking, ``adc_score`` (approximate dot of reconstructions)
    when not."""
    dsub = _pq_dsub(corpus, vec_col, m, dim)
    c = _unit_rows(corpus, id_col, vec_col, "id")
    cb = pq_train_codebooks(c, m, ksub, dsub).localCheckpoint()
    encoded = pq_encode(c, cb, m, dsub).select(
        F.col("id").alias("neighbor_id"), "codes"
    )
    luts = _adc_luts(dsub)
    q = (
        _unit_rows(queries, id_col, vec_col, "query_id")
        .crossJoin(F.broadcast(cb))
        .withColumn("luts", luts)
        .select("query_id", "luts")
    )
    scored = encoded.crossJoin(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        F.round(_adc_score() + F.lit(1e-9), 4).alias("adc_score"),
    )
    return _adc_topk(
        scored,
        k,
        rerank,
        _unit_rows(queries, id_col, vec_col, "query_id", "q_vec"),
        c.select(F.col("id").alias("neighbor_id"), F.col("v").alias("c_vec")),
    )


def pq_index_build(
    corpus: DataFrame,
    path: str,
    m: int = 16,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> None:
    """Build-once half of the PQ index: train codebooks, encode the
    (normalized) corpus, persist codes + codebooks.  This is how the
    6-seconds-per-query cost of ``pq_topk`` amortizes at scale:
    training + the full-corpus encode happen ONCE; every later query
    batch reads the codes column only (32x smaller than the vectors)
    and pays just the ADC scan.  Codes carry the vector id, so the
    exact-rerank stage can fetch originals from the corpus table.
    Same training as ``pq_topk``, so a search over the persisted index
    returns its results (x95 shares x62's oracle)."""
    dsub = _pq_dsub(corpus, vec_col, m, dim)
    c = _unit_rows(corpus, id_col, vec_col, "id")
    # EAGER (r13, reversing r12's lazy form on measurement — VERDICT
    # r12 item 7): the codebook write AND the encode pass both read
    # this frame, and the interleaved A/B measured eager consistently
    # faster (x95 median 0.67 -> 0.63s; see unigram_lm_train_from_words
    # for the same finding on the word frame)
    cb = pq_train_codebooks(c, m, ksub, dsub).localCheckpoint(eager=True)
    cb.write.mode("overwrite").parquet(f"{path}/codebooks")
    pq_encode(c, cb, m, dsub).select("id", "codes").write.mode("overwrite").parquet(
        f"{path}/codes"
    )


def pq_index_search(
    spark,
    queries: DataFrame,
    path: str,
    k: int = 5,
    rerank: int = 0,
    corpus: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query-many half: ADC top-k against a persisted PQ index.  The
    scan touches ONLY the codes table — the embedding column never
    loads — and the per-query LUTs ride the broadcast side, so a
    query batch costs one codes scan + m lookups per row.  With
    ``rerank`` > 0 the shortlist fetches original vectors from
    ``corpus`` (required then) for exact rescoring."""
    if rerank and corpus is None:
        raise ValueError("rerank requires the corpus frame for exact rescoring")
    cb = spark.read.parquet(f"{path}/codebooks")
    dsub = len(cb.first()["__cb"][0][0])
    codes = spark.read.parquet(f"{path}/codes").select(
        F.col("id").alias("neighbor_id"), "codes"
    )
    qn = _unit_rows(queries, id_col, vec_col, "query_id")
    q = (
        qn.crossJoin(F.broadcast(cb))
        .withColumn("luts", _adc_luts(dsub))
        .select("query_id", "luts")
    )
    scored = codes.crossJoin(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        F.round(_adc_score() + F.lit(1e-9), 4).alias("adc_score"),
    )
    cv = (
        None
        if corpus is None
        else _unit_rows(corpus, id_col, vec_col, "neighbor_id", "c_vec")
    )
    return _adc_topk(scored, k, rerank, qn.withColumnRenamed("v", "q_vec"), cv)


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    nlist: int = 8,
    nprobe: int = 4,
    m: int = 16,
    ksub: int = 16,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    rerank: int = 0,
) -> DataFrame:
    """IVF-PQ approximate top-k — the composed FAISS-style index shape
    and the full 100 TB ANN stack in one operator: an IVF coarse
    quantizer prunes the corpus to ``nprobe/nlist``, and inside the
    probed cells scoring runs over PQ codes of the RESIDUALS
    (v - cell centroid) via ADC lookup tables.

    The inner-product decomposition makes residual ADC exact-in-shape:
    dot(q, v) = dot(q, c_cell) + dot(q, residual), so each (query,
    probed cell) carries one scalar ``cell_dot`` plus the LUT of q's
    subvectors against the residual codebooks — scoring a posting is
    m lookups + adds, vectors never touch the scan.  Residual encoding
    is what PQ gains from IVF: residuals are smaller and better
    centered than raw vectors, so the same code budget quantizes
    finer.

    All three training passes (cells, Lloyd step, codebooks) are
    hash-seeded and deterministic; ``rerank`` adds the exact-rescore
    stage over the per-query shortlist exactly as in pq_topk."""
    dsub = _pq_dsub(corpus, vec_col, m, dim)
    c = _unit_rows(corpus, id_col, vec_col, "id")
    # IVF coarse quantizer: hash seed + one Lloyd step (as ivf_topk)
    assigned, cents = _train_cells(c, nlist, 1, "ivf|", "id")

    # residual postings + PQ codebooks trained ON the residuals
    resid = (
        assigned.join(F.broadcast(cents), "cell")
        .withColumn("r", F.zip_with("v", "centroid", lambda x, y: x - y))
        .select("cell", "id", F.col("r").alias("v"))
    )
    cb = pq_train_codebooks(resid, m, ksub, dsub).localCheckpoint()
    postings = pq_encode(resid, cb, m, dsub).select("cell", "id", "codes")

    # probe side: nprobe cells per query; per probed cell one scalar
    # dot(q, centroid) + the LUT of q's subvectors vs residual codebooks
    probed = nearest_cells(
        _unit_rows(queries, id_col, vec_col, "query_id"), cents, nprobe, "probe_cell"
    ).join(F.broadcast(cents.withColumnRenamed("cell", "probe_cell")), "probe_cell")
    qside = (
        probed.crossJoin(F.broadcast(cb))
        .withColumn("luts", _adc_luts(dsub))
        .withColumn(
            "cell_dot", F.round(_dot(F.col("v"), F.col("centroid")) + F.lit(1e-9), 6)
        )
        .select("query_id", "probe_cell", "cell_dot", "luts")
    )
    scored = postings.join(
        F.broadcast(qside), postings.cell == qside.probe_cell
    ).select(
        "query_id",
        F.col("id").alias("neighbor_id"),
        F.round(F.col("cell_dot") + _adc_score() + F.lit(1e-9), 4).alias("adc_score"),
    )
    return _adc_topk(
        scored,
        k,
        rerank,
        _unit_rows(queries, id_col, vec_col, "query_id", "q_vec"),
        c.select(F.col("id").alias("neighbor_id"), F.col("v").alias("c_vec")),
    )


def embedding_neardup_pairs_multi(
    emb: DataFrame,
    tables: list[list[list[int]]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-table, MEAN-CENTERED SRP near-dup pairs — the variant for
    ANISOTROPIC embedding distributions.

    Raw SRP blocking assumes directions spread around the sphere;
    corpora whose vectors cluster in a narrow cone (hashed bag-of-words
    over a shared vocabulary, most real sentence-embedding spaces) put
    nearly every vector on the same side of every hyperplane — ONE
    bucket floods and within-bucket pairing goes quadratic (observed:
    71 s vs 1.5 s at sf0.1).  Subtracting the corpus mean re-spreads
    the directions (the standard centering trick), and unioning
    multiple independent hyperplane tables dials recall back up
    exactly as in lsh_cosine_topk_multi.

    Blocking uses the CENTERED vectors; the verified cosine uses the
    ORIGINAL vectors, so emitted similarities are unchanged semantics.
    The mean is one tiny per-dimension aggregate (rounded, engine-
    portable) broadcast below the bucket computation.  Pairs dedupe
    across tables by id pair."""
    if not tables:
        raise ValueError("at least one hyperplane table required")
    v = (
        emb.select(F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v"))
        .withColumn("n", F.sqrt(_dot(F.col("v"), F.col("v"))))
    )
    dim_rows = v.select(F.posexplode("v").alias("d", "x"))
    mu = dim_rows.groupBy("d").agg(F.round(F.avg("x") + F.lit(1e-9), 6).alias("m"))
    mu_arr = mu.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "m"))), lambda s: s["m"]
        ).alias("__mu")
    )
    v = v.crossJoin(F.broadcast(mu_arr)).withColumn(
        "c",
        F.zip_with("v", "__mu", lambda x, m: F.round(x - m + F.lit(1e-9), 6)),
    ).drop("__mu")

    # persist the prepared frame: every table branch (and the pair
    # expansion inside each) re-reads these narrow rows instead of
    # recomputing the upstream embedding/centering subtree per branch —
    # without this the input plan executes once per table
    from ..cache import tracked_persist

    v = tracked_persist(v)

    out = None
    for planes in tables:
        tagged = v.withColumn("bucket", int_srp_bucket(F.col("c"), planes))
        buckets = (
            tagged.groupBy("bucket")
            .agg(F.array_sort(F.collect_list(F.struct("id", "v", "n"))).alias("members"))
            .filter(F.size("members") >= 2)
        )
        members = F.col("members")
        pair_arr = F.flatten(
            F.transform(
                members,
                lambda x, i: F.transform(
                    F.slice(
                        members, i + F.lit(2), F.greatest(F.size(members) - i - 1, F.lit(0))
                    ),
                    lambda y: F.struct(
                        x["id"].alias("vec_a"),
                        y["id"].alias("vec_b"),
                        x["v"].alias("v_a"),
                        y["v"].alias("v_b"),
                        x["n"].alias("n_a"),
                        y["n"].alias("n_b"),
                    ),
                ),
            )
        )
        sim = F.round(
            _dot(F.col("v_a"), F.col("v_b")) / (F.col("n_a") * F.col("n_b"))
            + F.lit(1e-9),
            4,
        )
        pairs = (
            buckets.select(F.explode(pair_arr).alias("p"))
            .select("p.*")
            .select("vec_a", "vec_b", sim.alias("cosine_sim"))
            .filter(F.col("cosine_sim") >= threshold)
        )
        out = pairs if out is None else out.unionByName(pairs)
    # a pair can meet in several tables: keep one copy
    return out.dropDuplicates(["vec_a", "vec_b"])


def contrastive_triplets(
    emb: DataFrame,
    planes: list[list[int]],
    pos_threshold: float = 0.4,
    neg_threshold: float = 0.2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Training-data construction for contrastive embedding models:
    (anchor, positive, hard-negative) triplets.  Positives are
    intra-bucket pairs with cosine >= ``pos_threshold``; the hard
    negative for each anchor is the HIGHEST-cosine vector in the same
    SRP bucket that still falls below ``neg_threshold`` — close in
    hash space but far in meaning, exactly the negatives that make
    contrastive losses learn (random negatives are trivially easy).

    One embedding scan: the intra-bucket pair expansion (the
    embedding_neardup_pairs machinery, threshold disabled) yields every
    bucket-mate pair with its exact cosine; positives and negatives
    are two filters over its symmetrized form, and the hardest
    negative is a per-anchor top-1 window over the (bounded)
    intra-bucket candidate rows.  Deterministic end to end: integer
    SRP buckets, 4-decimal rounded sims, id tiebreaks."""
    # the symmetrizing union and the pos/neg branches would otherwise
    # re-execute the whole bucket-expansion subtree (4 embedding scans
    # in the static plan); the candidate-pair frame is 3 narrow
    # columns, so persist it and every branch reads the cache
    from ..cache import tracked_persist

    pairs = tracked_persist(embedding_neardup_pairs(
        emb, planes, threshold=-1.0, id_col=id_col, vec_col=vec_col
    ))
    sym = pairs.select(
        F.col("vec_a").alias("anchor_id"),
        F.col("vec_b").alias("other_id"),
        "cosine_sim",
    ).unionAll(
        pairs.select(
            F.col("vec_b").alias("anchor_id"),
            F.col("vec_a").alias("other_id"),
            "cosine_sim",
        )
    )
    pos = sym.filter(F.col("cosine_sim") >= pos_threshold).select(
        "anchor_id",
        F.col("other_id").alias("positive_id"),
        F.col("cosine_sim").alias("pos_sim"),
    )
    w = W.partitionBy("anchor_id").orderBy(
        F.desc("cosine_sim"), F.asc("other_id")
    )
    neg = (
        sym.filter(F.col("cosine_sim") < neg_threshold)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "anchor_id",
            F.col("other_id").alias("negative_id"),
            F.col("cosine_sim").alias("neg_sim"),
        )
    )
    return pos.join(neg, "anchor_id")


def cluster_silhouette(
    emb: DataFrame,
    k: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    weak_below: float = 0.05,
) -> DataFrame:
    """Centroid-based silhouette per k-means cluster — the clustering
    quality report (which cells are well-separated, which should be
    split/merged before they seed an IVF index or a cluster-balanced
    sample).

    Classic silhouette needs all pairwise distances (quadratic);
    the centroid form replaces a(i)/b(i) with distances to the own
    and next-nearest centroid: s = (best_sim - second_sim) /
    (1 - second_sim) in cosine space, which is exactly (b - a) /
    max(a, b) for spherical clusters since b >= a by argmax.  Scale
    shape: the trained centroid set rides broadcast as one array row
    (nearest_cells discipline — the corpus never shuffles for
    scoring); per-point sims are 4-dp rounded (engine-exact argmax +
    arithmetic), per-cluster means use trunc-quantized BIGINT sums
    (order-independent).  One (cell) aggregate of k rows total.

    Returns (cell, n_points, mean_silhouette, mean_sim, weak) —
    ``weak`` flags clusters whose mean silhouette falls below
    ``weak_below``."""
    c = emb.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"))
    _, cents = _train_cells(c, k, iterations, "km|", id_col)
    cent_arr = cents.agg(
        F.array_sort(F.collect_list(F.struct("cell", "centroid"))).alias("__cents")
    )
    sims = F.transform(
        F.col("__cents"),
        lambda s: F.struct(
            (-F.round(cosine(F.col("v"), s["centroid"]) + F.lit(1e-9), 4)).alias(
                "neg_sim"
            ),
            s["cell"].alias("cell"),
        ),
    )
    top2 = _let(
        F.slice(F.array_sort(sims), 1, 2),
        lambda t: F.struct(
            F.element_at(t, 1)["cell"].alias("cell"),
            (-F.element_at(t, 1)["neg_sim"]).alias("best_sim"),
            (-F.element_at(t, 2)["neg_sim"]).alias("second_sim"),
        ),
    )
    pts = (
        c.crossJoin(F.broadcast(cent_arr))
        .select(F.col(id_col), top2.alias("t"))
        .select(
            "t.cell",
            "t.best_sim",
            F.when(
                F.lit(1.0) - F.col("t.second_sim") > 0,
                (F.col("t.best_sim") - F.col("t.second_sim"))
                / (F.lit(1.0) - F.col("t.second_sim")),
            )
            .otherwise(F.lit(0.0))
            .alias("s"),
        )
    )
    agg = pts.groupBy("cell").agg(
        F.count("*").alias("n_points"),
        (
            F.round(
                F.sum((F.col("s") * 1000000).cast("long"))
                / F.lit(1000000.0)
                / F.count("*")
                + F.lit(1e-9),
                4,
            )
            + F.lit(0.0)
        ).alias("mean_silhouette"),
        (
            F.round(
                F.sum((F.col("best_sim") * 10000).cast("long"))
                / F.lit(10000.0)
                / F.count("*")
                + F.lit(1e-9),
                4,
            )
            + F.lit(0.0)
        ).alias("mean_sim"),
    )
    return agg.withColumn("weak", F.col("mean_silhouette") < F.lit(weak_below))


def knn_label_agreement(
    emb: DataFrame,
    n_queries: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Leave-one-out 1-NN label agreement on a deterministic query
    sample: for each sampled vector, does its nearest OTHER neighbor
    (exact cosine) share its label?  The model-free 'is this
    embedding space organized by the labels' score — the behavioral
    companion to the Fisher ratio (which measures axis-aligned
    moments; this measures what a retrieval system would actually
    return).

    Scale shape: the sample (first ``n_queries`` ids — deterministic,
    no RNG) is BROADCAST against the corpus exactly like production
    ANN serving (p13): one corpus scan, no self-join; the top-1
    window runs over |Q| x |C|-scored-then-filtered rows reduced to
    |Q| rows.  Output: one row per label present in the sample with
    its 1-NN agreement rate, plus the sample size."""
    queries = emb.filter(F.col(id_col) < n_queries).select(
        id_col, vec_col, F.col(label_col).alias("q_label")
    )
    top1 = cosine_topk(queries, emb, k=2, id_col=id_col, vec_col=vec_col).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    w = W.partitionBy("query_id").orderBy("rank")
    nn = top1.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    labels = emb.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("n_label")
    )
    qlabels = queries.select(
        F.col(id_col).alias("query_id"), "q_label"
    )
    j = nn.join(F.broadcast(qlabels), "query_id").join(
        labels, "neighbor_id"
    )
    per = j.groupBy(F.col("q_label").alias(label_col)).agg(
        F.count("*").cast("long").alias("n_queries"),
        F.sum((F.col("n_label") == F.col("q_label")).cast("long"))
        .cast("long")
        .alias("n_agree"),
    )
    return per.select(
        label_col,
        "n_queries",
        "n_agree",
        (
            F.round(
                F.col("n_agree").cast("double") / F.col("n_queries").cast("double")
                + F.lit(1e-9),
                4,
            )
            + F.lit(0.0)
        ).alias("agreement"),
    )


def semantic_decontaminate(
    train_emb: DataFrame,
    eval_emb: DataFrame,
    planes: list[list[int]],
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-level decontamination — the SEMANTIC sibling of the
    lexical screens (x25 exact n-grams, x63 Bloom, x87 tiered): a
    training vector is contaminated when some EVAL vector is
    cosine-similar above ``threshold``, catching paraphrased or
    re-rendered eval items that share no n-grams (where every lexical
    tier is blind).

    Scale shape: both sides bucket by the shared integer SRP planes
    (one scan each); candidates are the bucket-equijoin of the train
    side against the BROADCAST eval side (the eval suite is tiny by
    construction — the same broadcast-eval-side contract as x25/x63),
    so the train corpus never self-joins and never shuffles beyond
    the bucket key.  Exact cosine only on candidates; per-train-doc
    argmax via a well-spread window (cosine desc, eval id asc —
    deterministic).  SRP blocking is approximate by design: sign
    agreement on all planes is required, the same recall contract as
    x14 (audited by x165's machinery).

    Output: every train id with (max_eval_cosine, matched_eval_id,
    is_contaminated) — NULL cosine/match when no eval vector shares
    the bucket (is_contaminated false)."""

    def prep(df: DataFrame, name: str) -> DataFrame:
        return (
            df.select(
                F.col(id_col).alias(name), _as_double(F.col(vec_col)).alias(f"v_{name}")
            )
            .withColumn("bucket", int_srp_bucket(F.col(f"v_{name}"), planes))
            .withColumn(
                f"n_{name}", F.sqrt(_dot(F.col(f"v_{name}"), F.col(f"v_{name}")))
            )
        )

    t = prep(train_emb, "tid")
    e = prep(eval_emb, "eid")
    sim = F.round(
        _dot(F.col("v_tid"), F.col("v_eid")) / (F.col("n_tid") * F.col("n_eid"))
        + F.lit(1e-9),
        4,
    )
    cand = t.join(F.broadcast(e), "bucket").select(
        "tid", "eid", sim.alias("cos")
    )
    w = W.partitionBy("tid").orderBy(F.col("cos").desc(), F.col("eid").asc())
    pick = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "tid",
            F.col("cos").alias("max_eval_cosine"),
            F.col("eid").alias("matched_eval_id"),
        )
    )
    return t.select("tid").join(pick, "tid", "left").select(
        F.col("tid").alias(id_col),
        "max_eval_cosine",
        "matched_eval_id",
        F.coalesce(
            F.col("max_eval_cosine") >= F.lit(threshold), F.lit(False)
        ).alias("is_contaminated"),
    )


def bitext_margin_mine(
    emb: DataFrame,
    lang_of: DataFrame,
    tables: list[list[list[int]]],
    src_lang: str,
    tgt_lang: str,
    knn_k: int = 8,
    margin_threshold: float = 1.05,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lang_col: str = "lang",
    mutual_best: bool = False,
) -> DataFrame:
    """Margin-based bitext (translation-pair) mining between two
    languages — the Artetxe & Schwenk (2019) ratio-margin criterion
    over multilingual sentence embeddings, the standard way parallel
    corpora are mined at scale (CCMatrix/LASER): a cross-language pair
    is kept not when its cosine is high in absolute terms (hubness
    makes absolute thresholds unusable) but when it is high RELATIVE
    to each side's neighborhood:

        margin(x, y) = cos(x, y) / ((mu_k(x) + mu_k(y)) / 2)

    with ``mu_k(v)`` the mean cosine of v's k nearest cross-language
    candidates.  A hub vector that is close to everything has a high
    mu and gets no credit; a pair that stands out from both sides'
    neighborhoods scores > 1.

    Scale shape (100 TB): both language sides bucket by the shared
    MULTI-TABLE integer SRP planes (``tables`` — the
    lsh_cosine_topk_multi recall dial: per-table collision
    probability p, miss probability (1-p)^n_tables; every table's
    bucket is computed in ONE projection and exploded, so adding
    tables never re-reads the corpus); candidates are the (tbl,
    bucket) equi-join of the two sides — a plain shuffle join on the
    well-spread key, since for bitext mining NEITHER side is small
    enough to broadcast (unlike x178's tiny eval suite) — collapsed
    by a (src, tgt) dedup after scoring (the score is deterministic,
    so the dedup keys on ids and never shuffles vectors).  The corpus
    never self-joins and nothing all-pairs: candidate count is the
    sum over tables x buckets of |src_b| x |tgt_b|, bounded exactly
    like x14/x49.  k-NN means are computed FROM the candidate set
    (the ANN-blocked approximation of the exact margin — audited
    against brute force by the x165-style recall test), as two
    ranked windows over candidates.  The pair itself participates in
    both neighborhoods (the k-NN set is the neighborhood INCLUDING
    the candidate — the deterministic convention; true translations
    still stand out because the other k-1 neighbors drag the mean
    down).

    Float discipline: cosines are 4-dp rounded (house rule), then
    re-quantized to BIGINT ten-thousandths so the neighborhood SUMS
    are exact integers — the mean and the final margin are a fixed
    expression over exact inputs, bit-stable across engines.  Pairs
    whose neighborhood-mean denominator is <= 0 (possible with
    negative cosines) get no margin and are dropped.

    Output: (src_id, tgt_id, cosine_sim, margin) for every candidate
    with margin >= ``margin_threshold``, margin 4-dp rounded.  With
    ``mutual_best=True`` the output keeps only BIDIRECTIONAL best
    pairs (y is x's best-margin candidate and x is y's — the
    LASER/CCMatrix alignment filter that turns mined candidates into
    a one-to-one sentence alignment): two ranked windows over the
    thresholded frame, no extra scans.

    Reference parity: none — the reference pipeline
    (spark_job/spark_streaming.py) has no similarity surface at all;
    this extends the §2.9 curation family (x178 semantic decontam,
    x51 SemDeDup) to the cross-lingual corpus-construction step.
    """
    if not tables:
        raise ValueError("at least one hyperplane table required")
    langs = lang_of.select(
        F.col(id_col).alias("id"), F.col(lang_col).alias("l")
    )

    def side(lang: str, name: str) -> DataFrame:
        base = (
            emb.select(F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v"))
            .join(langs.filter(F.col("l") == lang).select("id"), "id")
            .select(F.col("id").alias(name), F.col("v").alias(f"v_{name}"))
            .withColumn(
                f"n_{name}", F.sqrt(_dot(F.col(f"v_{name}"), F.col(f"v_{name}")))
            )
        )
        entries = F.array(
            *[
                F.struct(
                    F.lit(t).alias("tbl"),
                    int_srp_bucket(F.col(f"v_{name}"), planes).alias("bucket"),
                )
                for t, planes in enumerate(tables)
            ]
        )
        return base.select("*", F.explode(entries).alias("tb")).select(
            *base.columns,
            F.col("tb.tbl").alias("tbl"),
            F.col("tb.bucket").alias("bucket"),
        )

    s = side(src_lang, "sid")
    t = side(tgt_lang, "tid")
    cos = F.round(
        _dot(F.col("v_sid"), F.col("v_tid")) / (F.col("n_sid") * F.col("n_tid"))
        + F.lit(1e-9),
        4,
    )
    from ..cache import tracked_persist

    # candidates feed the pair scan AND both neighborhood aggregates;
    # a pair meeting in several tables collapses to one row (cos is
    # deterministic, so the dedup keys on ids only)
    cand = tracked_persist(
        s.join(t, ["tbl", "bucket"])
        .select(
            "sid",
            "tid",
            cos.alias("cos"),
            F.round(cos * 10000).cast("long").alias("cq"),
        )
        .dropDuplicates(["sid", "tid"])
    )
    return bitext_margin_from_candidates(
        cand, knn_k, margin_threshold, mutual_best
    )


def bitext_margin_from_candidates(
    cand: DataFrame,
    knn_k: int = 8,
    margin_threshold: float = 1.05,
    mutual_best: bool = False,
) -> DataFrame:
    """Neighborhood means + ratio margin (+ optional mutual-best) over
    a prepared candidate frame (sid, tid, cos, cq) — the shared core
    of batch mining (``bitext_margin_mine``) and the streaming twin
    (``sinks.bitext_stream_view``, which maintains the candidate log
    incrementally and re-derives margins over the merged log): both
    produce bit-identical pairs for the same underlying candidate set
    because everything here is a deterministic function of it."""
    def neighborhood(key: str, other: str) -> DataFrame:
        w = W.partitionBy(key).orderBy(F.col("cos").desc(), F.col(other).asc())
        return (
            cand.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= knn_k)
            .groupBy(key)
            .agg(
                F.sum("cq").cast("long").alias(f"sum_{key}"),
                F.count("*").cast("long").alias(f"k_{key}"),
            )
        )

    mu_s = neighborhood("sid", "tid")
    mu_t = neighborhood("tid", "sid")
    denom = (
        F.col("sum_sid").cast("double") / F.col("k_sid").cast("double")
        + F.col("sum_tid").cast("double") / F.col("k_tid").cast("double")
    ) / F.lit(20000.0)
    margin = F.round(F.col("cos") / denom + F.lit(1e-9), 4)
    frame = (
        cand.join(mu_s, "sid")
        .join(mu_t, "tid")
        .filter(denom > 0)
        .select(
            F.col("sid").alias("src_id"),
            F.col("tid").alias("tgt_id"),
            F.col("cos").alias("cosine_sim"),
            margin.alias("margin"),
        )
        .filter(F.col("margin") >= F.lit(margin_threshold))
    )
    if not mutual_best:
        return frame
    return bitext_mutual_best(frame)


def bitext_mutual_best(frame: DataFrame) -> DataFrame:
    """LASER/CCMatrix bidirectional filter over a mined-pair frame
    (src_id, tgt_id, cosine_sim, margin): keep (x, y) only when y is
    x's best-margin candidate AND x is y's — each side's argmax is
    one ranked window over the (already margin-thresholded) frame;
    ties break on the partner id ascending, deterministic.  Exposed
    standalone so funnels (x189) can mine once at threshold -inf and
    re-derive every stage from the single persisted frame."""
    w_s = W.partitionBy("src_id").orderBy(
        F.col("margin").desc(), F.col("tgt_id").asc()
    )
    w_t = W.partitionBy("tgt_id").orderBy(
        F.col("margin").desc(), F.col("src_id").asc()
    )
    return (
        frame.withColumn("rn_s", F.row_number().over(w_s))
        .withColumn("rn_t", F.row_number().over(w_t))
        .filter((F.col("rn_s") == 1) & (F.col("rn_t") == 1))
        .drop("rn_s", "rn_t")
    )


def bitext_prep_frame(
    df: DataFrame,
    tables: list[list[list[int]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lang_col: str = "lang",
) -> DataFrame:
    """One projection per vector for bitext mining: (id, l, v, n,
    buckets[array, one per SRP table]) — the per-side prep shared by
    the batch miner and the streaming candidate sink, so both assign
    bit-identical buckets and norms."""
    base = (
        df.select(
            F.col(id_col).alias("id"),
            F.col(lang_col).alias("l"),
            _as_double(F.col(vec_col)).alias("v"),
        )
        .withColumn("n", F.sqrt(_dot(F.col("v"), F.col("v"))))
    )
    return base.withColumn(
        "buckets",
        F.array(*[int_srp_bucket(F.col("v"), planes) for planes in tables]),
    )


def bitext_candidates_between(src: DataFrame, tgt: DataFrame) -> DataFrame:
    """Cross-language candidate pairs between two prepped frames
    (bitext_prep_frame output): (tbl, bucket) equi-join over the
    exploded bucket arrays, id-deduped, with the house 4-dp cosine
    and its exact BIGINT ten-thousandths twin."""

    def expl(df: DataFrame, name: str) -> DataFrame:
        return df.select(
            F.col("id").alias(name),
            F.col("v").alias(f"v_{name}"),
            F.col("n").alias(f"n_{name}"),
            F.posexplode("buckets").alias("tbl", "bucket"),
        )

    s, t = expl(src, "sid"), expl(tgt, "tid")
    cos = F.round(
        _dot(F.col("v_sid"), F.col("v_tid")) / (F.col("n_sid") * F.col("n_tid"))
        + F.lit(1e-9),
        4,
    )
    return (
        s.join(t, ["tbl", "bucket"])
        .select(
            "sid",
            "tid",
            cos.alias("cos"),
            F.round(cos * 10000).cast("long").alias("cq"),
        )
        .dropDuplicates(["sid", "tid"])
    )


def bitext_recall_audit(
    emb: DataFrame,
    lang_of: DataFrame,
    tables: list[list[list[int]]],
    src_lang: str,
    tgt_lang: str,
    n_queries: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lang_col: str = "lang",
) -> DataFrame:
    """Bitext blocking-recall audit — the x165 self-verification
    discipline applied to x183's candidate generation: for each of the
    first ``n_queries`` source-language vectors, find its EXACT
    brute-force nearest target-language neighbor (broadcast queries x
    target corpus, the p13 dataflow — priced by |Q|, the corpus never
    shuffles) and report whether that pair would have been a blocked
    candidate (bucket agreement in ANY SRP table).  The number a
    mining pipeline checks before trusting the bucket grid: a plane
    or table-count change that silently tanks candidate recall shows
    here, not in the mined corpus.

    Output: (query_id, exact_tgt, exact_cos, blocked) — one row per
    query; 4-dp cosine with id tiebreak, fully deterministic."""
    langs = lang_of.select(
        F.col(id_col).alias("id"), F.col(lang_col).alias("l")
    )
    prep = bitext_prep_frame(
        emb.join(langs, emb[id_col] == langs["id"]).select(
            emb[id_col], F.col(vec_col), F.col("l").alias(lang_col)
        ),
        tables,
        id_col,
        vec_col,
        lang_col,
    )
    q = prep.filter(
        (F.col("l") == src_lang) & (F.col("id") < n_queries)
    ).select(
        F.col("id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("n").alias("qn"),
        F.col("buckets").alias("qb"),
    )
    t = prep.filter(F.col("l") == tgt_lang).select(
        F.col("id").alias("tid"), "v", "n", "buckets"
    )
    cos = F.round(
        _dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("n")) + F.lit(1e-9), 4
    )
    blocked = F.exists(
        F.zip_with(F.col("qb"), F.col("buckets"), lambda a, b: a == b),
        lambda m: m,
    )
    scored = t.crossJoin(F.broadcast(q)).select(
        "query_id",
        "tid",
        cos.alias("exact_cos"),
        blocked.alias("blocked"),
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("exact_cos").desc(), F.col("tid").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("tid").alias("exact_tgt"), "exact_cos", "blocked")
    )


def bitext_margin_sensitivity(
    emb: DataFrame,
    lang_of: DataFrame,
    tables: list[list[list[int]]],
    src_lang: str,
    tgt_lang: str,
    knn_k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lang_col: str = "lang",
) -> DataFrame:
    """Margin threshold-sensitivity curve (the x136 discipline for
    bitext mining): pair yield at every 0.05-wide margin tier from ONE
    mining pass with no threshold — the pre-commit answer to 'is 1.05
    a fragile margin here?'.  The cumulative window runs over the
    tier histogram aggregate, never pairs."""
    frame = bitext_margin_mine(
        emb,
        lang_of,
        tables,
        src_lang,
        tgt_lang,
        knn_k=knn_k,
        margin_threshold=0.0,
        id_col=id_col,
        vec_col=vec_col,
        lang_col=lang_col,
    )
    hist = frame.groupBy(
        (F.floor(F.col("margin") * 20) / F.lit(20.0)).alias("margin_tier")
    ).agg(F.count("*").cast("long").alias("n_pairs"))
    w = W.orderBy(F.col("margin_tier").desc()).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return hist.select(
        "margin_tier",
        "n_pairs",
        F.sum("n_pairs").over(w).cast("long").alias("n_pairs_at_or_above"),
    )
