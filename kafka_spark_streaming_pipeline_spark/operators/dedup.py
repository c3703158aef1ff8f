"""Deduplication operators: exact (full + incremental-vs-history),
MinHash+LSH, SimHash (signatures + banded pairs), n-gram Jaccard and
Levenshtein verification, transitive-closure clustering.

Scale design (the point of each shape):
- exact dedup: one hash-shuffle on the fingerprint — at 100 TB this is
  the cheapest possible full-corpus pass (map-side partial combine);
  the incremental form joins only the NEW batch against the history's
  fingerprint set.
- MinHash+LSH / SimHash bands: candidate generation NEVER compares all
  pairs — docs group into (band) buckets and only bucket-mates pair,
  so cost is Σ bucket² instead of n².  Every bucket/block expansion
  takes an EXPLICIT size cap with truncation provenance
  (max_bucket_size / max_block_size) — boilerplate skew fails loudly,
  never quadratically.
- n-gram Jaccard / edit distance: exact verification, run only on
  blocked/candidate pairs, never the cross product.
- connected_components: label propagation, one join + one aggregate
  per round, lineage truncated per round; AQE's skew-join splitting
  (session.get_spark) spreads a power-law hub's edges across tasks.

Hash functions are md5-based (not xxhash) on purpose: md5 is available
and bit-identical in both Spark and DuckDB, so every operator here is
oracle-verifiable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from .text import tokens


# ------------------------------------------------------------------ exact

def exact_dedup_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per document with its duplicate-group stats: fingerprint,
    the group's canonical (min) id, and group size.  ``is_canonical``
    marks the survivor (what dropDuplicates would keep, but
    deterministically)."""
    from .text import fingerprint

    fp = fingerprint(F.col(text_col))
    with_fp = docs.select(F.col(id_col), fp.alias("fingerprint"))
    groups = with_fp.groupBy("fingerprint").agg(
        F.min(id_col).alias("canonical_id"), F.count("*").alias("group_size")
    )
    return (
        with_fp.join(groups, "fingerprint")
        .select(
            id_col,
            "fingerprint",
            "canonical_id",
            "group_size",
            (F.col(id_col) == F.col("canonical_id")).alias("is_canonical"),
        )
    )


# ------------------------------------------------------------- shingling

def shingle_arr(text: Column, k: int = 3) -> Column:
    """All k-word shingles of the lowercased text as ONE array column,
    with the split evaluated exactly once: the token array is bound as
    a lambda variable (transform over a single-element array — the
    let-binding trick), so the k element_at references per shingle hit
    the bound variable instead of re-inlining the split expression.
    Pure projection: no shuffle, no window, stays in codegen.

    Docs shorter than k words yield one partial shingle (concat_ws
    skips the nulls from try_element_at)."""
    return F.transform(
        F.array(tokens(text)),
        lambda t: F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(t) - F.lit(k - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", *[F.try_element_at(t, i + j) for j in range(k)]),
        ),
    )[0]


def _spread(df: DataFrame) -> DataFrame:
    """Repartition a NARROW input up to the cluster's default parallelism,
    gated on the actual partition count.  A 100 TB corpus already arrives
    in thousands of file splits — an unconditional repartition would
    re-shuffle all the raw text for nothing — so only the
    single/few-partition case (tiny test parquet, coalesced upstream)
    pays the spread shuffle.

    The gate reads ``inputFiles()`` — a file-index listing, no job and
    no physical planning — but a file count below parallelism only
    proves the input MIGHT be narrow: a few LARGE splittable parquet
    files still fan out into many scan partitions (1 file → ~80 splits
    at 128 MB/split), and repartitioning that input would shuffle the
    whole corpus for nothing.  So the file count is used only as a
    positive proof of spread (enough files ⇒ enough splits, no probe
    needed); otherwise the ``df.rdd`` partition probe — which counts
    the ACTUAL scan splits, at the cost of planning the input twice —
    decides."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if len(files) >= parallelism:
        return df
    if df.rdd.getNumPartitions() >= parallelism:
        return df
    return df.repartition(parallelism)


def shingle_rows(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """(id, shingle) rows: shingle_arr + posexplode — one projection and
    one generate, NO shuffle (the previous form assembled shingles with
    window lead(), paying a full hash-partition + sort per corpus pass).
    ``_spread`` parallelizes a single-partition parquet but leaves an
    already-split input untouched."""
    return _spread(docs).select(
        F.col(id_col), F.explode(shingle_arr(F.col(text_col), k)).alias("sh")
    )


from .text import hash60 as _hash64  # portable 60-bit md5-based hash


# Per-seed universal hashing (the MLlib MinHashLSH construction):
# h_i(x) = (a_i*x + b_i) mod p with p = 2^31-1.  x < p and a_i < p keep
# every product below 2^62 — overflow-safe in BOTH engines (DuckDB
# errors on BIGINT overflow; Java would silently wrap).  Coefficients
# are fixed at import from a seeded RNG so Spark and the SQL oracle
# share them verbatim.
MINHASH_PRIME = 2_147_483_647

import random as _random

_rng = _random.Random(20260813)
MINHASH_COEFFS: list[tuple[int, int]] = [
    (_rng.randrange(1, MINHASH_PRIME), _rng.randrange(0, MINHASH_PRIME)) for _ in range(64)
]

# Band hashes combine signature values with a rolling polynomial mod
# 2^31 — intermediates stay < 2^36, overflow-safe everywhere.
_BAND_MOD = 1 << 31


def _band_hash(elements: list[Column]) -> Column:
    acc = elements[0] % _BAND_MOD
    for e in elements[1:]:
        acc = (acc * 31 + e % _BAND_MOD) % _BAND_MOD
    return acc


# -------------------------------------------------------------- minhash

def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """MinHash signatures as a DataFrame: explode shingles once, hash
    each shingle exactly ONCE (not num_hashes times), then ONE grouped
    aggregation computing all mins in a single pass.

    The per-seed hash family is universal hashing over the base hash —
    h_i(x) = (a_i*x + b_i) mod 2^31-1, the same construction as
    MLlib's MinHashLSH — so the seeds are pairwise independent but the
    aggregate is num_hashes min(long) columns over ONE integer input:
    tiny codegen, no per-seed md5.  The groupBy is also a
    materialization barrier: downstream stages see concrete signature
    values instead of re-inlining the hash expression tree.  min()
    over duplicate shingles equals min() over the distinct set, so no
    dedup pass is needed before hashing."""
    if num_hashes > len(MINHASH_COEFFS):
        raise ValueError(f"num_hashes > {len(MINHASH_COEFFS)} fixed coefficients")
    rows_df = shingle_rows(docs, text_col, id_col, shingle_k)
    hashed = rows_df.select(
        id_col, (_hash64(F.col("sh"), "") % MINHASH_PRIME).alias("h")
    )
    mins = hashed.groupBy(id_col).agg(
        *[
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % MINHASH_PRIME).alias(f"mh{seed}")
            for seed, (a, b) in enumerate(MINHASH_COEFFS[:num_hashes])
        ]
    )
    return mins.select(
        id_col, F.array(*[F.col(f"mh{s}") for s in range(num_hashes)]).alias("sig")
    )


def banded_signatures(
    sig: DataFrame, num_hashes: int = 16, bands: int = 4, id_col: str = "doc_id"
) -> DataFrame:
    """Explode a (id, sig) signature frame into (id, sig, band_idx,
    band_hash) rows — the LSH banding step shared by the batch pair
    finder (minhash_lsh_pairs) and the incremental ingest path
    (incremental_neardup), so both block with identical keys."""
    rows = num_hashes // bands
    return sig.select(
        id_col,
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        _band_hash(
                            [F.element_at("sig", b * rows + r + 1) for r in range(rows)]
                        ).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "sig", "band.band_idx", "band.band_hash")


def minhash_sig_expr(text: Column, num_hashes: int = 16, shingle_k: int = 3) -> Column:
    """MinHash signature as a PURE COLUMN EXPRESSION — the doc-local
    twin of ``minhash_signatures`` (same shingles, same hash60 base
    hash, same universal-hash coefficients, so the two produce
    identical arrays).  The shingle-hash array is let-bound once per
    row (Catalyst re-inlines lambda-referenced expressions — see
    text.let_expr), then each of the ``num_hashes`` mins folds over
    the bound array: zero shuffle, stays in codegen.  Use this when
    the signature is one column of a wider single-scan projection
    (curation_funnel); use ``minhash_signatures`` when the signature
    frame is the product itself."""
    from .text import let_expr

    hashed = F.transform(
        shingle_arr(text, shingle_k), lambda s: _hash64(s, "") % MINHASH_PRIME
    )
    return let_expr(
        hashed,
        lambda hs: F.array(
            *[
                F.array_min(
                    F.transform(hs, lambda h: (F.lit(a) * h + F.lit(b)) % MINHASH_PRIME)
                )
                for a, b in MINHASH_COEFFS[:num_hashes]
            ]
        ),
    )


def lsh_pairs_from_signatures(
    sig: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    min_est_jaccard: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH banding + intra-bucket pair emission over an EXISTING
    (id, sig) signature frame — the second half of
    ``minhash_lsh_pairs``, split out so pipelines that already carry
    signatures in a persisted narrow frame (curation_funnel, the
    incremental ingest path) never recompute them from text."""
    banded = banded_signatures(sig, num_hashes, bands, id_col)

    if max_bucket_size is not None:
        # capped path: _capped_block_pairs truncates oversized buckets
        # BEFORE collecting signatures (rank-first, memory-bounded) and
        # flags survivors' pairs.  A pair can surface from several
        # band buckets with different truncation flags; max-aggregate
        # so truncated provenance wins.
        prepared = banded.select(
            (F.col("band_idx").cast("long") * F.lit(1 << 31) + F.col("band_hash")).alias("blk"),
            F.col(id_col),
            "sig",
        )
        pairs = _capped_block_pairs(prepared, id_col, "sig", max_bucket_size)
        matches = F.size(
            F.filter(
                F.zip_with("payload_a", "payload_b", lambda a, b: a == b), lambda x: x
            )
        )
        return (
            pairs.select(
                "doc_a",
                "doc_b",
                F.round(matches / F.lit(num_hashes), 4).alias("est_jaccard"),
                F.col("block_truncated").alias("bucket_truncated"),
            )
            .filter(F.col("est_jaccard") >= min_est_jaccard)
            .groupBy("doc_a", "doc_b", "est_jaccard")
            .agg(F.max("bucket_truncated").alias("bucket_truncated"))
        )
    buckets = (
        banded.groupBy("band_idx", "band_hash")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col(id_col).alias("id"), F.col("sig")))
            ).alias("members")
        )
        .filter(F.size("members") >= 2)
    )
    pair_arr = unordered_pairs_expr(
        F.col("members"),
        inner=lambda x, y: F.struct(
            x["id"].alias("doc_a"),
            y["id"].alias("doc_b"),
            x["sig"].alias("sig_a"),
            y["sig"].alias("sig_b"),
        ),
    )
    matches = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda a, b: a == b), lambda x: x
        )
    )
    est = F.round(matches / F.lit(num_hashes), 4)
    pairs = (
        buckets.select(F.explode(pair_arr).alias("p"))
        .select("p.*")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return (
        pairs.select("doc_a", "doc_b", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= min_est_jaccard)
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    min_est_jaccard: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding over MinHash signatures.

    signature -> split into ``bands`` bands -> band hash -> docs sharing
    any band hash become candidates -> estimated Jaccard = fraction of
    matching signature positions.

    There is NO self-join: a self-join would re-execute the whole
    shingle->hash->aggregate pipeline once per side.  Instead docs are
    grouped per (band_idx, band_hash) bucket into a sorted array and
    intra-bucket pairs are emitted with array higher-order functions —
    the signature pipeline runs exactly once and the only shuffles are
    the bucket groupBy + the pair dedup.  Per-bucket arrays are safe at
    scale because LSH bounds bucket size by true duplicate-cluster
    size, not corpus size.  For corpora where that bound fails (mass
    boilerplate that survived exact dedup), ``max_bucket_size`` caps
    each bucket EXPLICITLY: oversized buckets are truncated to their
    ``max_bucket_size`` smallest (id, sig) members — deterministic, and
    never a silent drop because emitted pairs from a truncated bucket
    carry ``bucket_truncated=true`` (output gains that column only when
    the cap is set, so the default schema is unchanged).  Members cut
    from a giant bucket still pair among the survivors via their OTHER
    bands, which is the standard banding recall argument.
    """
    sig = minhash_signatures(docs, text_col, id_col, num_hashes, shingle_k)
    return lsh_pairs_from_signatures(
        sig, id_col, num_hashes, bands, min_est_jaccard, max_bucket_size
    )


# --------------------------------------------------------------- simhash

SIMHASH_BITS = 64
SIMHASH_BAND_BITS = 16
SIMHASH_WORDS = SIMHASH_BITS // SIMHASH_BAND_BITS  # 4 sixteen-bit words


def simhash64(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document as FOUR 16-bit words
    (``sig: array<long>``, little-endian: sig[0] holds bits 0-15).

    Bit i of a token's hash = parity of a hex char of an md5 digest
    (ascii % 2): bits 0-31 read md5(token) chars 1-32, bits 32-63 read
    md5(token || '#') — two independent digests, portable to SQL for
    oracle verification.  The structure (explode -> 64 signed sums ->
    sign bits -> pack per word) is the real SimHash dataflow and swaps
    in a stronger hash trivially.

    Why words instead of one packed BIGINT: bit 63 of a 64-bit
    signature would be the sign bit of a signed long — summing 2^63
    overflows in BOTH engines (DuckDB errors, Java wraps) — and the
    16-bit word IS the banding unit downstream, so the array
    representation costs nothing.  The width matters at scale: a
    16-bit signature gives ~2^4 distinct values per 4-bit band (~64
    buckets corpus-wide — every bucket floods at web scale and the
    block cap truncates recall away); 16-bit bands give 65,536 values
    per band, so bucket count keeps growing with corpus size."""
    toks = _spread(docs).select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    d1 = F.md5(F.col("tok"))
    d2 = F.md5(F.concat(F.col("tok"), F.lit("#")))

    def _parity_sign(i: int):
        src, pos = (d1, i + 1) if i < 32 else (d2, i - 31)
        return (F.ascii(F.substring(src, pos, 1)) % 2) * 2 - 1

    sums = [F.sum(_parity_sign(i)).alias(f"s{i}") for i in range(SIMHASH_BITS)]
    agg = toks.groupBy(id_col).agg(*sums)

    def _word(b: int):
        word = None
        for j in range(SIMHASH_BAND_BITS):
            bit = F.when(
                F.col(f"s{b * SIMHASH_BAND_BITS + j}") > 0, F.lit(1 << j)
            ).otherwise(F.lit(0))
            word = bit if word is None else word + bit
        return word.cast("long")

    return agg.select(
        id_col, F.array(*[_word(b) for b in range(SIMHASH_WORDS)]).alias("sig")
    )


# ------------------------------------------------------- n-gram jaccard

def unordered_pairs_expr(members: Column, inner=None) -> Column:
    """All unordered pairs (i<j) of a SORTED members array, as one
    array-HOF expression — the shared intra-block pair expansion
    (no self-join).  ``inner`` maps (x, y) -> struct; default emits
    struct(doc_a, doc_b).  Callers cap/bound the member array BEFORE
    expansion (LSH bucket caps, df-capped blocking): the expression
    itself is quadratic in the array it is given."""
    if inner is None:
        inner = lambda x, y: F.struct(x.alias("doc_a"), y.alias("doc_b"))  # noqa: E731
    return F.flatten(
        F.transform(
            members,
            lambda x, i: F.transform(
                F.slice(members, i + F.lit(2), F.greatest(F.size(members) - i - 1, F.lit(0))),
                lambda y: inner(x, y),
            ),
        )
    )


def _capped_block_pairs(
    prepared: DataFrame,
    id_col: str,
    payload_col: str,
    max_block_size: int,
) -> DataFrame:
    """Intra-block pair expansion with an EXPLICIT block-size cap.

    ``prepared`` must carry (id, blk, payload).  Blocks collapse to one
    sorted member array each (one shuffle — cheaper than the two-sided
    self-join on ``blk``), oversized blocks are truncated to their
    ``max_block_size`` smallest ids — deterministic, never silent:
    every emitted pair from a truncated block carries
    ``block_truncated=true``.  This is the same skew guard
    minhash_lsh_pairs applies to LSH buckets: on a web-scale corpus,
    boilerplate prefixes ("copyright all ...") otherwise create giant
    blocks whose pair expansion goes quadratic.  Members cut from a
    truncated block are the block's largest ids; a production pipeline
    routes such blocks to LSH (whose banding still pairs them) rather
    than exact all-pairs verification.

    Output: (doc_a, doc_b, payload_a, payload_b, block_truncated) —
    each doc belongs to exactly ONE block, so no cross-block pair dedup
    is needed.

    The truncation happens BEFORE any payload is collected: the
    rank/size window runs over the full (blk, id, payload) rows and
    the <= max_block_size survivors are FILTERED before any
    collect_list, so the per-block COLLECT buffer stays capped — a
    collect-then-slice would materialize the whole hot block's
    payloads in one in-memory aggregation buffer, which is exactly
    the executor blow-up the cap exists to prevent.  Honest caveat
    (ADVICE r12): the WindowExec sort ahead of that filter buffers a
    hot block's FULL payload bytes, so for that stage the
    executor-memory guard is a disk-spill guard — UnsafeExternalSorter
    spills to disk and stays linear even for a pathological
    million-member block, but a corpus with extreme block skew pays
    that spill I/O; if spill pressure shows up, the pre-r12
    narrow-rank + join-back shape (rank over (blk, id) only, payloads
    joined back to survivors) trades one extra payload exchange for a
    payload-free sort.  Carrying the payload through the ONE
    hash(blk) exchange is strictly fewer payload bytes over the
    network than that shape (payloads crossed the (blk, id) join
    exchange AND the groupBy exchange; now the groupBy reuses the
    window's partitioning, so they cross once — r12 optimization
    pass, guide §2.4 "two operations keyed the same way share one
    exchange")."""
    w_rank = W.partitionBy("blk").orderBy(id_col)
    w_all = W.partitionBy("blk")
    ranked = prepared.select(
        "blk",
        F.col(id_col),
        F.col(payload_col),
        F.row_number().over(w_rank).alias("__rn"),
        F.count("*").over(w_all).alias("__bsz"),
    )
    # survivorship is per block: a doc may sit in several blocks (e.g.
    # one per signature band), each ranked independently
    kept = ranked.filter(
        (F.col("__bsz") >= 2) & (F.col("__rn") <= max_block_size)
    )
    buckets = (
        kept.groupBy("blk")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col(id_col).alias("id"), F.col(payload_col).alias("pl"))
                )
            ).alias("members"),
            F.max("__bsz").alias("__bsz"),
        )
        .filter(F.size("members") >= 2)
        .select(
            (F.col("__bsz") > max_block_size).alias("block_truncated"),
            "members",
        )
    )
    pair_arr = unordered_pairs_expr(
        F.col("members"),
        inner=lambda x, y: F.struct(
            x["id"].alias("doc_a"),
            y["id"].alias("doc_b"),
            x["pl"].alias("payload_a"),
            y["pl"].alias("payload_b"),
        ),
    )
    return buckets.select("block_truncated", F.explode(pair_arr).alias("p")).select(
        "p.doc_a", "p.doc_b", "p.payload_a", "p.payload_b", "block_truncated"
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    block_words: int = 2,
    min_jaccard: float = 0.0,
    max_block_size: int | None = None,
) -> DataFrame:
    """Exact Jaccard similarity over k-word shingle sets, restricted to
    blocked candidate pairs (docs sharing their first ``block_words``
    lowercased words).  Blocking bounds the join output; the exact
    verification runs only inside blocks.  Shingle sets are built by
    the explode+collect_set pipeline (one split per doc, aggregation
    barrier) rather than a nested array expression.

    ``max_block_size`` guards against block-key skew (boilerplate
    prefixes): set, it switches to the capped bucket expansion
    (_capped_block_pairs) and the output gains a ``block_truncated``
    provenance column; unset, the default schema/semantics are
    unchanged."""
    toks = tokens(F.col(text_col))
    sets = (
        shingle_rows(docs, text_col, id_col, shingle_k)
        .groupBy(id_col)
        .agg(F.collect_set("sh").alias("shingles"))
    )
    prepared = docs.select(
        F.col(id_col),
        F.concat_ws(" ", *[F.try_element_at(toks, F.lit(i + 1)) for i in range(block_words)]).alias("blk"),
    ).join(sets, id_col)
    if max_block_size is not None:
        pairs = _capped_block_pairs(prepared, id_col, "shingles", max_block_size)
        inter = F.size(F.array_intersect("payload_a", "payload_b"))
        union = F.size(F.array_union("payload_a", "payload_b"))
        return pairs.select(
            "doc_a",
            "doc_b",
            F.round(inter / union + F.lit(1e-9), 4).alias("jaccard"),
            "block_truncated",
        ).filter(F.col("jaccard") >= min_jaccard)
    a = prepared.select(
        F.col(id_col).alias("doc_a"), F.col("blk"), F.col("shingles").alias("sh_a")
    )
    b = prepared.select(
        F.col(id_col).alias("doc_b"), F.col("blk"), F.col("shingles").alias("sh_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        a.join(b, "blk")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.round(inter / union + F.lit(1e-9), 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


# ------------------------------------------------- dedup cluster closure

def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Transitive closure of near-dup pairs -> (id, component) with the
    component labeled by its smallest member — the final stage of a
    dedup pipeline (pairs from MinHash/SimHash blocking say A~B and
    B~C; deduplication needs {A,B,C} as ONE group with one survivor).

    Small-label propagation: every node repeatedly adopts the minimum
    label among itself and its neighbors until a fixpoint.  Each
    iteration is one join + one aggregate (both shuffle on well-spread
    node ids); iterations needed = graph diameter (duplicate clusters
    are tiny, so 2-3 in practice — max_iterations bounds adversarial
    chains).  The driver loop only checks a scalar convergence count
    per iteration; all data stays distributed.

    Skew boundary: the per-iteration join keys edges by ``dst``, so a
    power-law hub (one document near-duplicate to millions — think an
    empty-page template) concentrates all its edges in ONE partition;
    AQE's skew-join splitting (enabled in session.get_spark) divides
    such a partition at run time.  The neighbor-min and convergence
    aggregates are algebraic, so map-side partial aggregation already
    absorbs hub skew there."""
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(
            pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
        .distinct()
    )
    # partition ONCE by the join key: every iteration's
    # edges-to-labels join reuses this layout, so only the (small)
    # label side shuffles per round.  Checkpoints here and below are
    # LAZY (eager=False): every round already ends in a count() action
    # for the convergence check, so that count doubles as the
    # materializer — eager checkpoints ran one extra driver job per
    # round (init + round, measured ~2x the job count for identical
    # compute; r12 optimization pass, guide §1.2 "remove passes").
    # The blocks still cache on first materialization and the SQL
    # lineage is still truncated at build time, so the exponential
    # iterative-plan growth this guards against is unchanged.
    # Accepted cost (ADVICE r12): round 1's convergence count reaches
    # the COLD edges checkpoint through two branches (the labels seed
    # lineage and the join probe side), so parts of the edges shuffle
    # output may be read twice within that first job before the
    # checkpoint blocks land — bounded to re-reading shuffle output
    # once, and measured cheaper than the eager alternative's extra
    # driver job per call (r12 A/B: x104 9.26 -> 6.74s with lazy).
    edges = edges.repartition("dst").localCheckpoint(eager=False)
    # seed each node with min(self, neighbors) — the first propagation
    # round fused into initialization (one aggregate instead of a
    # join + aggregate + convergence action)
    labels = (
        edges.groupBy(F.col("src").alias("id"))
        .agg(F.least(F.col("id"), F.min("dst")).alias("component"))
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iterations):
        joined = edges.join(labels, edges.dst == labels.id)
        neighbor_min = joined.groupBy("src").agg(
            F.min("component").alias("nbr_component")
        )
        prop = labels.join(
            neighbor_min, labels.id == neighbor_min.src, "left"
        ).select(
            "id",
            F.least(
                F.col("component"), F.coalesce(F.col("nbr_component"), F.col("component"))
            ).alias("component"),
            (F.col("nbr_component") < F.col("component")).alias("changed"),
        )
        # pointer doubling: adopt the label's own label (every label IS
        # a node id — edges are symmetrized, so each appears as src).
        # One extra label-side self-join per round halves the remaining
        # chain length: rounds drop from O(diameter) to O(log diameter)
        # — measured 8 -> 4 materializations on the x104 mention graph
        # for ~2x closure wall time.  The fixpoint is unchanged
        # (label(label(x)) == label(x) at convergence), so components
        # are identical; only the round count shrinks.
        ptr = prop.select(
            F.col("id").alias("pid"), F.col("component").alias("pcomp")
        )
        updated = (
            prop.join(ptr, F.col("component") == F.col("pid"), "left")
            .select(
                "id",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("pcomp"), F.col("component")),
                ).alias("component"),
                (
                    F.col("changed") | (F.col("pcomp") < F.col("component"))
                ).alias("changed"),
            )
        ).localCheckpoint(eager=False)  # truncate lineage: iterative plans grow exponentially
        # the convergence count IS the round's materializing action
        # (lazy checkpoint): one job per round, not two
        n_changed = updated.filter(F.col("changed")).count()
        labels = updated.drop("changed")
        if n_changed == 0:
            break
    return labels


def verify_candidate_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
) -> DataFrame:
    """Exact-verification stage of the two-phase near-dup pipeline:
    compute TRUE Jaccard only for the candidate ``pairs`` (from LSH /
    SimHash blocking) — never the cross product.  Two broadcast-or-hash
    joins attach each side's distinct shingle set; the set arithmetic
    is JVM array ops.  Output: every column of ``pairs`` (candidate
    provenance rides through) plus the exact ``jaccard``."""
    sets = (
        shingle_rows(docs, text_col, id_col, shingle_k)
        .groupBy(id_col)
        .agg(F.collect_set("sh").alias("shingles"))
    )
    a = sets.select(F.col(id_col).alias("doc_a"), F.col("shingles").alias("sh_a"))
    b = sets.select(F.col(id_col).alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            *pairs.columns,
            F.round(inter / union + F.lit(1e-9), 4).alias("jaccard"),
        )
    )


def union_neardup_candidates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    min_est_jaccard: float = 0.5,
    max_hamming: int = 3,
    simhash_bands: int = 4,
) -> DataFrame:
    """Candidate pairs from BOTH detectors — MinHash-LSH (set-overlap
    view of similarity) ∪ SimHash banding (weighted-token-profile
    view) — with per-pair provenance.  The detectors miss different
    pairs: LSH recall falls off below its Jaccard threshold while
    SimHash catches small-Hamming profile matches, and vice versa, so
    the union strictly improves candidate recall into the exact-verify
    stage at the cost of the (tiny) second candidate set.

    Output: (doc_a, doc_b, est_jaccard, from_lsh, from_simhash) —
    ``est_jaccard`` is null for SimHash-only pairs.  The full outer
    join runs on the two CANDIDATE sets (bounded by blocking), never
    the corpus."""
    lsh = minhash_lsh_pairs(
        docs, text_col, id_col, num_hashes, bands, shingle_k, min_est_jaccard
    ).select("doc_a", "doc_b", "est_jaccard", F.lit(True).alias("from_lsh"))
    sh = simhash_neardup_pairs(
        docs, text_col, id_col, max_hamming, simhash_bands
    ).select("doc_a", "doc_b", F.lit(True).alias("from_simhash"))
    return (
        lsh.join(sh, ["doc_a", "doc_b"], "full")
        .select(
            "doc_a",
            "doc_b",
            "est_jaccard",
            F.coalesce("from_lsh", F.lit(False)).alias("from_lsh"),
            F.coalesce("from_simhash", F.lit(False)).alias("from_simhash"),
        )
    )


# ------------------------------------------------- edit-distance verify

def edit_distance_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_words: int = 2,
    max_rel_distance: float = 1.0,
    max_block_size: int | None = None,
    max_abs_distance: int | None = None,
) -> DataFrame:
    """Character-level near-dup verification: Levenshtein distance and
    the derived similarity ratio 1 - lev/max(len), computed ONLY for
    blocked candidate pairs (first ``block_words`` words shared — the
    same bound-the-join blocking as ngram_jaccard_pairs).  Catches
    small in-place edits that shingle Jaccard underweights (a one-char
    typo changes k shingles) while staying O(candidates), never O(n^2).

    ``F.levenshtein`` is a JVM codegen expression; cost is
    O(len_a*len_b) per PAIR, which is why this belongs in the verify
    stage behind blocking, never on the cross product.

    ``max_block_size`` guards against block-key skew exactly as in
    ngram_jaccard_pairs: capped bucket expansion + ``block_truncated``
    provenance when set; unchanged schema/semantics when unset.

    ``max_abs_distance`` switches to Spark's BANDED Levenshtein
    (3-arg form): cost per pair drops from O(len_a*len_b) to
    O(len * threshold) with early exit once the band is exceeded, and
    only pairs within the bound are emitted — the realistic verify
    semantic (a verify stage always thresholds) and a multiple-x
    speedup when most blocked pairs are far apart.  For emitted pairs
    the banded distance equals the exact distance, so the oracle can
    mirror with full Levenshtein + the same filter."""
    toks = tokens(F.col(text_col))
    prepared = docs.select(
        F.col(id_col),
        F.col(text_col),
        F.concat_ws(
            " ", *[F.try_element_at(toks, F.lit(i + 1)) for i in range(block_words)]
        ).alias("blk"),
    )
    if max_block_size is not None:
        pairs = _capped_block_pairs(prepared, id_col, text_col, max_block_size)
        if max_abs_distance is not None:
            lev = F.levenshtein("payload_a", "payload_b", max_abs_distance)
        else:
            lev = F.levenshtein("payload_a", "payload_b")
        max_len = F.greatest(F.length("payload_a"), F.length("payload_b"))
        bounded = (lev >= 0) if max_abs_distance is not None else F.lit(True)
        return (
            pairs.filter(bounded & (lev <= F.ceil(max_len * F.lit(max_rel_distance))))
            .select(
                "doc_a",
                "doc_b",
                lev.cast("long").alias("lev_distance"),
                F.round(F.lit(1.0) - lev / max_len + F.lit(1e-9), 4).alias("char_sim"),
                "block_truncated",
            )
        )
    a = prepared.select(
        F.col(id_col).alias("doc_a"), F.col("blk"), F.col(text_col).alias("text_a")
    )
    b = prepared.select(
        F.col(id_col).alias("doc_b"), F.col("blk"), F.col(text_col).alias("text_b")
    )
    if max_abs_distance is not None:
        lev = F.levenshtein("text_a", "text_b", max_abs_distance)
    else:
        lev = F.levenshtein("text_a", "text_b")
    max_len = F.greatest(F.length("text_a"), F.length("text_b"))
    bounded = (lev >= 0) if max_abs_distance is not None else F.lit(True)
    return (
        a.join(b, "blk")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(bounded & (lev <= F.ceil(max_len * F.lit(max_rel_distance))))
        .select(
            "doc_a",
            "doc_b",
            lev.cast("long").alias("lev_distance"),
            F.round(F.lit(1.0) - lev / max_len + F.lit(1e-9), 4).alias("char_sim"),
        )
    )


def simhash_neardup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
    max_block_size: int = 10_000,
) -> DataFrame:
    """SimHash near-dup candidates: split the 64-bit signature into
    ``bands`` equal slices; docs sharing ANY slice value become
    candidates (a pair within Hamming distance d must agree on some
    band whenever d < bands — the pigeonhole recall argument; the
    defaults keep that guarantee: max_hamming=3 < bands=4, so every
    pair within the bound IS generated.  bands < max_hamming + 1 turns
    the guarantee into plain banding recall), then the exact Hamming
    distance (per-word bit_count of XOR, summed — pure codegen array
    expression) filters to ``max_hamming``.

    Band width is ≥16 bits (bands=4 → 16-bit slices, 65,536 values
    each; bands=2 → 32-bit slices): the band-value space grows with
    corpus size instead of saturating, so the ``max_block_size`` skew
    guard only fires on true boilerplate floods, not on the band space
    itself.

    Same join-free shape as MinHash banding: signatures compute once,
    buckets expand via _capped_block_pairs (explicit ``max_block_size``
    skew guard with truncation provenance — always emitted here since
    banded blocking is coarser than prefix blocking), and the only
    shuffles are the signature agg, the band groupBy, and the
    cross-band pair dedup."""
    sig = simhash64(docs, text_col, id_col)
    return hamming_band_pairs(sig, id_col, max_hamming, bands, max_block_size)


def hamming_band_pairs(
    sig: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
    max_block_size: int = 10_000,
) -> DataFrame:
    """Banded Hamming near-dup pairing over an EXISTING (id, sig)
    frame of four 16-bit words — the second half of
    ``simhash_neardup_pairs``, split out so ANY 64-bit signature in
    the simhash word layout (text SimHash, image perceptual dHash)
    shares one blocking + exact-verify dataflow.  Pigeonhole recall:
    every pair within ``max_hamming`` < ``bands`` is generated."""
    if SIMHASH_WORDS % bands != 0:
        raise ValueError(
            f"bands must divide the {SIMHASH_WORDS}-word signature: "
            f"one of {[d for d in (1, 2, 4) if d <= SIMHASH_WORDS]}"
        )
    words_per_band = SIMHASH_WORDS // bands
    if words_per_band * SIMHASH_BAND_BITS > 32:
        # a 64-bit single band would need the sign bit; also pointless
        # (bands=1 is no blocking at all)
        raise ValueError("bands must be >= 2 (band values must fit in 32 bits)")

    def _band_val(b: int):
        # combine the band's 16-bit words big-endian; < 2^32, no overflow
        val = F.element_at("sig", b * words_per_band + 1)
        for w in range(1, words_per_band):
            val = val * F.lit(1 << SIMHASH_BAND_BITS) + F.element_at(
                "sig", b * words_per_band + w + 1
            )
        # band index namespaces the block key (values < 2^32)
        return F.lit(b * (1 << 32)) + val

    banded = sig.select(
        F.col(id_col),
        "sig",
        F.explode(F.array(*[_band_val(b) for b in range(bands)])).alias("blk"),
    )
    pairs = _capped_block_pairs(banded, id_col, "sig", max_block_size)
    hamming = F.aggregate(
        F.zip_with(
            "payload_a", "payload_b", lambda x, y: F.bit_count(x.bitwiseXOR(y))
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        pairs.select(
            "doc_a",
            "doc_b",
            hamming.cast("long").alias("hamming"),
            "block_truncated",
        )
        .filter(F.col("hamming") <= max_hamming)
        # a pair can meet in several bands: keep one row, truncation wins
        .groupBy("doc_a", "doc_b", "hamming")
        .agg(F.max("block_truncated").alias("block_truncated"))
    )


def incremental_dedup(
    new_docs: DataFrame,
    history_fingerprints: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental exact dedup of a NEW batch against corpus history —
    the daily-ingest shape: the full corpus is never re-deduplicated,
    only the new batch pays.  ``history_fingerprints`` is the
    (pre-deduplicated, at scale bucketed-by-fingerprint) set of known
    fingerprints with one column ``fingerprint``.

    Output: one row per new doc with ``seen_in_history`` (exact text
    already ingested), ``is_batch_canonical`` (min-id survivor among
    this batch's in-batch duplicates), and ``keep`` (new to the corpus
    AND batch survivor).  Two fingerprint-keyed joins: history lookup +
    in-batch group stats."""
    from .text import fingerprint

    fp = new_docs.select(
        F.col(id_col), fingerprint(F.col(text_col)).alias("fingerprint")
    )
    hist = history_fingerprints.select("fingerprint").distinct().withColumn(
        "__seen", F.lit(True)
    )
    batch_groups = fp.groupBy("fingerprint").agg(
        F.min(id_col).alias("__batch_canonical")
    )
    return (
        fp.join(hist, "fingerprint", "left")
        .join(batch_groups, "fingerprint")
        .select(
            id_col,
            "fingerprint",
            F.coalesce(F.col("__seen"), F.lit(False)).alias("seen_in_history"),
            (F.col(id_col) == F.col("__batch_canonical")).alias("is_batch_canonical"),
            (
                F.coalesce(F.col("__seen"), F.lit(False)).eqNullSafe(F.lit(False))
                & (F.col(id_col) == F.col("__batch_canonical"))
            ).alias("keep"),
        )
    )


def duplicate_span_trim(
    docs: DataFrame,
    k: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document repeated-SUBSTRING removal (the k-gram
    approximation of Lee et al.'s suffix-array exact-substring dedup,
    at token granularity): any k-token window whose hash appears in
    >= ``min_docs`` distinct documents marks its k token positions as
    duplicated in every document carrying it; duplicated tokens are
    cut.  Two docs sharing any >= k consecutive tokens are guaranteed
    to share a window, so every shared run of length >= k is removed
    in full — boilerplate, licenses, and copy-pasted passages go, at
    finer grain than whole-line dedup (line_dedup) and with exact
    (not fingerprint-sampled) coverage, unlike winnowing (x40).

    Output per doc: token counts, duplicated-token ratio, and the md5
    fingerprint of the cleaned text (kept tokens in order).

    Scale shape: one window-hash aggregate for the cross-doc
    frequency, one hash-keyed join back, one positions aggregate per
    doc, one rejoin to the token array — never a self-join, and the
    shared-window set shuffles on the well-spread hash key."""
    toks_arr = docs.select(F.col(id_col), tokens(F.col(text_col)).alias("t"))
    g = docs.select(
        F.col(id_col),
        F.posexplode(shingle_arr(F.col(text_col), k)).alias("pos0", "gram"),
    ).select(id_col, (F.col("pos0") + 1).alias("pos"), _hash64(F.col("gram"), "").alias("h"))
    shared = (
        g.groupBy("h")
        .agg(F.count_distinct(id_col).alias("__d"))
        .filter(F.col("__d") >= min_docs)
        .select("h")
    )
    covered = (
        g.join(shared, "h")
        .select(id_col, F.explode(F.sequence(F.col("pos"), F.col("pos") + k - 1)).alias("tok_i"))
        .distinct()
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_set("tok_i")).alias("cov"))
    )
    cov = F.coalesce(F.col("cov"), F.array().cast("array<int>"))
    # partial windows of short docs can nominally cover past the end
    in_range = F.filter(cov, lambda i: i <= F.size("t"))
    kept = F.filter(F.col("t"), lambda x, i: ~F.array_contains(in_range, (i + 1).cast("int")))
    return (
        toks_arr.join(covered, id_col, "left")
        .select(
            id_col,
            F.size("t").alias("n_tokens"),
            F.size(in_range).alias("n_dup_tokens"),
            F.round(F.size(in_range) / F.size("t") + F.lit(1e-9), 4).alias(
                "dup_token_ratio"
            ),
            F.md5(F.concat_ws(" ", kept)).alias("cleaned_fingerprint"),
        )
    )


def substring_dedup_spans(
    docs: DataFrame,
    k: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document exact-substring dedup REMOVAL SPANS — the
    k-gram form of Lee et al. 2021's suffix-array substring dedup
    ("Deduplicating Training Data Makes Language Models Better"),
    emitting the spans themselves rather than x71's per-doc coverage
    stats: every maximal run of token positions covered by k-token
    windows shared with >= ``min_docs`` distinct documents becomes one
    row — the edit list a corpus-cleaning pass applies.

    Two docs sharing any >= k consecutive tokens are guaranteed to
    share a window, so every cross-document repeated run of length
    >= k is reported in full, with no pairwise comparison anywhere.

    Output: one row per (document, maximal duplicated span) —
    (doc_id, span_start, span_end, span_len [1-based token positions,
    inclusive], n_windows [shared k-gram occurrences merged into the
    span], max_window_docs [the widest cross-document spread among
    them]).  Ordering-free and deterministic.

    Scale shape (the reason this form replaces a suffix array on
    Spark): one window-hash frequency aggregate (shuffle on the
    well-spread 60-bit hash), one hash-keyed join back, then a per-doc
    ordered window to merge overlapping/adjacent hits into maximal
    spans (gaps-and-islands: a hit whose start exceeds the running max
    end + 1 opens a new island) and one (doc, island) aggregate.
    Never a self-join, never all-pairs, and no caps needed — the
    frequency filter is a pure aggregate, and the join-back fan-out is
    bounded by the document's own window count (linear in corpus
    tokens).  A window shared by millions of documents costs its own
    occurrence list, which is exactly the data being removed.

    The occurrence frame is tracked_persist'ed: it feeds BOTH the
    frequency aggregate and the join-back — unpersisted, the
    tokenize/posexplode/hash pipeline executes twice (measured 2x the
    wall time at the amplified decade)."""
    from ..cache import tracked_persist

    g = tracked_persist(_window_occurrences(docs, k, text_col, id_col))
    shared = (
        g.groupBy("h")
        .agg(F.count_distinct(id_col).cast("long").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )
    hits = g.join(shared, "h").select(id_col, "s", "e", "n_docs")
    w = W.partitionBy(id_col).orderBy("s", "e")
    prev_end = F.max("e").over(w.rowsBetween(W.unboundedPreceding, -1))
    islands = (
        hits.withColumn(
            "__brk",
            F.when(
                prev_end.isNull() | (F.col("s") > prev_end + 1), 1
            ).otherwise(0),
        )
        .withColumn(
            "__island",
            F.sum("__brk").over(w.rowsBetween(W.unboundedPreceding, 0)),
        )
    )
    return islands.groupBy(id_col, "__island").agg(
        F.min("s").cast("int").alias("span_start"),
        F.max("e").cast("int").alias("span_end"),
        (F.max("e") - F.min("s") + 1).cast("int").alias("span_len"),
        F.count("*").cast("long").alias("n_windows"),
        F.max("n_docs").cast("long").alias("max_window_docs"),
    ).drop("__island")


def _window_occurrences(
    docs: DataFrame, k: int, text_col: str, id_col: str
) -> DataFrame:
    """Every k-token window occurrence as (id, s, e [1-based token
    positions, inclusive], h [portable 60-bit hash]) — the shared
    front end of the substring-dedup family (spans report, cross-doc
    cleaner, self-repetition trimmer).  A short doc's single partial
    shingle never claims past its own end."""
    n_toks = F.size(tokens(F.col(text_col)))
    return docs.select(
        F.col(id_col),
        n_toks.alias("__n"),
        F.posexplode(shingle_arr(F.col(text_col), k)).alias("pos0", "gram"),
    ).select(
        id_col,
        (F.col("pos0") + 1).alias("s"),
        F.least(F.col("pos0") + k, F.col("__n")).alias("e"),
        _hash64(F.col("gram"), "").alias("h"),
    )


def _apply_keep_rule(
    docs: DataFrame,
    removals: DataFrame,
    protections: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Edit application shared by ``substring_dedup_clean`` and
    ``self_repetition_trim``: a token position survives unless it is
    covered by a removal occurrence AND not covered by a protection
    (kept-canonical) occurrence — so canonical coverage is never
    clipped by an overlapping duplicate occurrence.

    Both occurrence sets aggregate to per-doc span ARRAYS (bounded by
    the doc's own window count, never corpus-sized) and the keep test
    is a codegen higher-order filter over the token array — map-only
    after two doc-keyed aggregates and two doc-keyed left joins; the
    corpus text is read once."""
    span_t = "array<struct<s:int,e:int>>"

    def spans_of(occ: DataFrame, name: str) -> DataFrame:
        return occ.groupBy(id_col).agg(
            F.collect_list(
                F.struct(
                    F.col("s").cast("int").alias("s"),
                    F.col("e").cast("int").alias("e"),
                )
            ).alias(name)
        )

    def covered(arr: str, i):
        return F.exists(
            F.coalesce(F.col(arr), F.lit(None).cast(span_t)),
            lambda sp: (i + 1 >= sp["s"]) & (i + 1 <= sp["e"]),
        )

    toks = tokens(F.col(text_col))
    kept = F.filter(
        toks,
        lambda x, i: ~F.coalesce(covered("__rem", i), F.lit(False))
        | F.coalesce(covered("__prot", i), F.lit(False)),
    )
    return (
        docs.select(id_col, text_col)
        .join(spans_of(removals, "__rem"), id_col, "left")
        .join(spans_of(protections, "__prot"), id_col, "left")
        .select(
            id_col,
            F.array_join(kept, " ").alias("cleaned_text"),
            F.size(toks).cast("int").alias("n_tokens_before"),
            (F.size(toks) - F.size(kept)).cast("int").alias(
                "n_tokens_removed"
            ),
        )
    )


def substring_dedup_clean(
    docs: DataFrame,
    k: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """APPLY cross-document exact-substring dedup (the edit stage to
    ``substring_dedup_spans``'s report): every k-token window string
    shared by >= ``min_docs`` documents survives exactly ONCE
    corpus-wide — at its canonical occurrence (lowest doc id, then
    lowest position) — and every other occurrence's coverage is cut
    from the text, Lee et al. 2021's keep-one-copy semantics.
    Canonical coverage is protected: a token inside a kept occurrence
    is never clipped by an overlapping duplicate occurrence of
    another window.

    Output: one row per document — (doc_id, cleaned_text,
    n_tokens_before, n_tokens_removed); documents with nothing shared
    pass through unchanged.

    Scale shape: the spans-report dataflow (window-hash frequency
    aggregate + hash join-back) plus ONE per-hash canonical window
    (row_number over the well-spread hash key) and the shared
    map-only edit applier — still no pairwise comparison anywhere.
    The occurrence frame persists once for its two consumers (see
    substring_dedup_spans)."""
    from ..cache import tracked_persist

    g = tracked_persist(_window_occurrences(docs, k, text_col, id_col))
    shared = (
        g.groupBy("h")
        .agg(F.count_distinct(id_col).cast("long").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("h")
    )
    hits = g.join(shared, "h")
    w = W.partitionBy("h").orderBy(id_col, "s")
    # persisted: the removals and protections filters are two
    # consumers of one join+window pass
    marked = tracked_persist(hits.withColumn("__rn", F.row_number().over(w)))
    return _apply_keep_rule(
        docs,
        marked.filter(F.col("__rn") > 1).select(id_col, "s", "e"),
        marked.filter(F.col("__rn") == 1).select(id_col, "s", "e"),
        text_col,
        id_col,
    )


def self_repetition_trim(
    docs: DataFrame,
    k: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """WITHIN-document repetition removal — the cleaner to x29's
    repetition *report*: any k-token window string occurring more than
    once in the SAME document keeps its first occurrence and loses the
    later ones' coverage (degenerate generations, boilerplate loops,
    stutter).  The guarantee: every k-window string the document
    contained still occurs at least once — first occurrences are
    protected, so periodic text collapses to its first period plus
    the k-1-token tail of the last rotated window's first occurrence
    (each rotation is its own protected window) instead of vanishing:
    'a b a b a b' (k=2) cleans to 'a b a', never ''.

    Output matches ``substring_dedup_clean``: (doc_id, cleaned_text,
    n_tokens_before, n_tokens_removed).

    Scale shape: the repeat detection is a per-(doc, hash) window —
    partitioned on the doc id, so it composes with any corpus
    partitioning and never shuffles on a skewed key — then the shared
    map-only edit applier."""
    from ..cache import tracked_persist

    g = _window_occurrences(docs, k, text_col, id_col)
    grp = W.partitionBy(id_col, "h")
    # persisted: removals and protections both read this window pass
    marked = tracked_persist(
        g.withColumn(
            "__rn", F.row_number().over(grp.orderBy("s"))
        ).withColumn("__cnt", F.count("*").over(grp))
    )
    # protections are first occurrences of REPEATED windows only: a
    # unique window overlapping a duplicate's coverage must not veto
    # its removal (it is not removable content needing a survivor)
    repeated = marked.filter(F.col("__cnt") >= 2)
    return _apply_keep_rule(
        docs,
        repeated.filter(F.col("__rn") > 1).select(id_col, "s", "e"),
        repeated.filter(F.col("__rn") == 1).select(id_col, "s", "e"),
        text_col,
        id_col,
    )


def incremental_substring_clean(
    new_docs: DataFrame,
    history_hashes: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental cross-document substring dedup of a NEW batch — the
    window-hash sibling of ``incremental_neardup``: history is
    represented purely by its persisted distinct window-hash set
    (column ``h``), so cleaning a batch costs O(batch windows + one
    hash membership join) and history TEXT is never re-read.

    Keep-one-copy under corpus-prefix causality: an occurrence whose
    hash exists in history is removed (its canonical copy already
    shipped); a hash new to the corpus but shared by >= 2 documents
    WITHIN the batch keeps its first occurrence (lowest id, lowest
    position — protected exactly as in ``substring_dedup_clean``) and
    loses the rest; a hash seen only once stays untouched and enters
    history.  Shipped batches are final — equal to the one-shot batch
    cleaner whenever arrival follows doc-id order and no document
    self-repeats a window that only later becomes cross-document
    shared (the retroactive-edit corner streaming causality forbids).

    Output matches ``substring_dedup_clean``; feed the batch's
    distinct hashes back into the history table
    (streaming.sinks.make_substring_clean_sink closes the loop)."""
    from ..cache import tracked_persist

    hist = history_hashes.select("h").distinct()
    g = tracked_persist(_window_occurrences(new_docs, k, text_col, id_col))
    in_hist = g.join(hist, "h", "left_semi").select(id_col, "s", "e")
    fresh = g.join(hist, "h", "left_anti")
    grp = W.partitionBy("h")
    # persisted: the removals and protections filters are two readers
    # of one window pass over the fresh occurrences
    marked = tracked_persist(
        fresh.withColumn(
            "__rn", F.row_number().over(grp.orderBy(id_col, "s"))
        ).withColumn("__nd", F.size(F.collect_set(id_col).over(grp)))
    )
    shared = marked.filter(F.col("__nd") >= 2)
    removals = in_hist.unionByName(
        shared.filter(F.col("__rn") > 1).select(id_col, "s", "e")
    )
    protections = shared.filter(F.col("__rn") == 1).select(id_col, "s", "e")
    return _apply_keep_rule(new_docs, removals, protections, text_col, id_col)


def incremental_neardup(
    new_docs: DataFrame,
    history_sigs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    min_est_jaccard: float = 0.5,
) -> DataFrame:
    """Incremental NEAR-dup detection of a new batch — the MinHash
    sibling of ``incremental_dedup``: history is represented purely by
    its persisted SIGNATURE table (id, sig), so matching a batch costs
    O(batch shingling + band joins) and the history TEXT is never
    re-read (a 16-long signature row is ~128 bytes vs the document —
    the whole reason the signature table is the persisted artifact).

    Candidates come from two band joins with identical blocking keys
    (banded_signatures): new x history, and new x new within the
    batch.  Estimated Jaccard is computed from the signatures exactly
    as in minhash_lsh_pairs and filtered at ``min_est_jaccard``.

    Output: (new_id, matched_id, est_jaccard, from_history) — one row
    per candidate pair; in-batch pairs are ordered new_id < matched_id
    and flagged from_history=false.  Feed accepted new docs' signatures
    back into the history table (Engine.accept_neardup) to close the
    ingest loop."""
    # localCheckpoint: the batch signature frame feeds BOTH the history
    # join and a self-join — without the barrier the shingle->minhash
    # pipeline would execute once per reference
    new_sigs = minhash_signatures(
        new_docs, text_col, id_col, num_hashes, shingle_k
    ).localCheckpoint()
    new_b = banded_signatures(new_sigs, num_hashes, bands, id_col)
    hist_b = banded_signatures(
        history_sigs.select(F.col(id_col), "sig"), num_hashes, bands, id_col
    )

    def _est(a: Column, b: Column) -> Column:
        matches = F.size(F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda m: m))
        return F.round(matches / F.lit(num_hashes), 4)

    hist_cand = (
        new_b.select(
            F.col(id_col).alias("new_id"),
            F.col("sig").alias("sig_a"),
            "band_idx",
            "band_hash",
        )
        .join(
            hist_b.select(
                F.col(id_col).alias("matched_id"),
                F.col("sig").alias("sig_b"),
                "band_idx",
                "band_hash",
            ),
            ["band_idx", "band_hash"],
        )
        .dropDuplicates(["new_id", "matched_id"])
        .select(
            "new_id",
            "matched_id",
            _est(F.col("sig_a"), F.col("sig_b")).alias("est_jaccard"),
            F.lit(True).alias("from_history"),
        )
    )
    batch_cand = (
        new_b.select(
            F.col(id_col).alias("new_id"),
            F.col("sig").alias("sig_a"),
            "band_idx",
            "band_hash",
        )
        .join(
            new_b.select(
                F.col(id_col).alias("matched_id"),
                F.col("sig").alias("sig_b"),
                "band_idx",
                "band_hash",
            ),
            ["band_idx", "band_hash"],
        )
        .filter(F.col("new_id") < F.col("matched_id"))
        .dropDuplicates(["new_id", "matched_id"])
        .select(
            "new_id",
            "matched_id",
            _est(F.col("sig_a"), F.col("sig_b")).alias("est_jaccard"),
            F.lit(False).alias("from_history"),
        )
    )
    return hist_cand.unionByName(batch_cand).filter(
        F.col("est_jaccard") >= min_est_jaccard
    )


def containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    max_df: int = 16,
    min_containment: float = 0.8,
) -> DataFrame:
    """Asymmetric near-dup detection: directional shingle-set
    containment |A∩B| / |A| — the metric that catches one document
    QUOTED or WRAPPED inside another (a small doc inside a big one has
    high containment but low Jaccard, so every symmetric detector —
    MinHash, SimHash, Jaccard verify — misses it).

    Candidate generation is prefix-filter style (the PPJoin family):
    docs pair only through a shared RARE shingle (corpus doc-frequency
    in [2, ``max_df``]).  A truly contained doc shares most of its
    shingles with its container and almost all of those are rare, so
    recall is high; frequent boilerplate shingles generate no pairs,
    which is what bounds the blocking — per-shingle pair expansion is
    <= max_df(max_df-1)/2 and the candidate count is linear in the
    corpus, never quadratic.

    ONE corpus scan (the bm25_topk persisted-narrow-frame pattern):
    one projection explodes shingles and compacts each to a portable
    60-bit hash, so the persisted frame is two longs per shingle
    occurrence — no strings.  The df count, the rare-shingle bucket
    join, and the per-doc set aggregates all read that cache, each
    deduplicating repeated shingles natively (countDistinct /
    collect_set).  All set arithmetic (intersection, sizes) runs on
    the hashed elements, which both Spark and the DuckDB oracle
    derive identically, so collisions (negligible at 60 bits) merge
    the same way in both engines.

    Output: (doc_a, doc_b, containment_a, containment_b, jaccard) for
    pairs whose max directional containment >= ``min_containment``."""
    from ..cache import tracked_persist

    sh = tracked_persist(
        shingle_rows(docs, text_col, id_col, shingle_k)
        .select(F.col(id_col), (_hash64(F.col("sh"), "cnt|")).alias("sh"))
    )
    dfreq = sh.groupBy("sh").agg(F.countDistinct(id_col).alias("df"))
    rare = dfreq.filter((F.col("df") >= 2) & (F.col("df") <= max_df)).select("sh")
    buckets = (
        sh.join(rare, "sh")
        .groupBy("sh")
        .agg(F.array_sort(F.collect_set(id_col)).alias("m"))
        .filter(F.size("m") >= 2)
    )
    cand = (
        buckets.select(F.explode(unordered_pairs_expr(F.col("m"))).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    sets = sh.groupBy(id_col).agg(F.collect_set("sh").alias("shingles"))
    a = sets.select(F.col(id_col).alias("doc_a"), F.col("shingles").alias("sh_a"))
    b = sets.select(F.col(id_col).alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    c_a = inter / F.size("sh_a")
    c_b = inter / F.size("sh_b")
    jac = inter / (F.size("sh_a") + F.size("sh_b") - inter)
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(F.greatest(c_a, c_b) >= F.lit(min_containment))
        .select(
            "doc_a",
            "doc_b",
            F.round(c_a + F.lit(1e-9), 4).alias("containment_a"),
            F.round(c_b + F.lit(1e-9), 4).alias("containment_b"),
            F.round(jac + F.lit(1e-9), 4).alias("jaccard"),
        )
    )


def incremental_components(
    prev_labels: DataFrame,
    new_pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Incremental maintenance of near-dup components: fold a batch of
    NEW candidate pairs into an existing (id, component) labeling
    without re-clustering the whole graph — the cluster-side
    complement of incremental_neardup's candidate generation.

    Edges only MERGE components (never split), so the update reduces
    to a component-level graph: each new edge maps its endpoints to
    their current labels (a previously-unseen doc is its own label)
    and the transitive closure runs over THOSE super-edges — a graph
    whose size is O(new pairs), independent of corpus size.  The
    resulting merge map (old label -> merged label) is tiny and
    broadcast; applying it to the full labeling is one map-only pass.
    Labels stay canonical (smallest member id), so the output is
    EXACTLY what connected_components would produce on the union of
    all edges ever seen — equality is property-tested.

    Output: (id, component) covering every previously-labeled doc
    plus the new docs that appear in ``new_pairs``."""
    la = prev_labels.select(
        F.col("id").alias(a_col), F.col("component").alias("__ca")
    )
    lb = prev_labels.select(
        F.col("id").alias(b_col), F.col("component").alias("__cb")
    )
    sup = (
        new_pairs.select(a_col, b_col)
        .join(la, a_col, "left")
        .join(lb, b_col, "left")
        .select(
            F.coalesce("__ca", F.col(a_col)).alias("doc_a"),
            F.coalesce("__cb", F.col(b_col)).alias("doc_b"),
        )
        .filter(F.col("doc_a") != F.col("doc_b"))
    )
    merge = connected_components(sup, max_iterations=max_iterations)
    # docs whose ONLY edge is a self-pair: the a!=b filter removed them
    # from the super-graph, but connected_components on the union would
    # still label them — keep exact equality by adding them back as
    # singletons (unless already labeled via prev or a real edge)
    selfers = (
        new_pairs.filter(F.col(a_col) == F.col(b_col))
        .select(F.col(a_col).alias("id"))
        .distinct()
        .join(prev_labels.select("id"), "id", "left_anti")
        .join(merge.select("id"), "id", "left_anti")
        .select("id", F.col("id").alias("component"))
    )
    merge_map = merge.select(
        F.col("id").alias("component"), F.col("component").alias("__new")
    )
    relabeled = (
        prev_labels.join(F.broadcast(merge_map), "component", "left")
        .select("id", F.coalesce("__new", "component").alias("component"))
    )
    new_nodes = merge.join(prev_labels.select("id"), "id", "left_anti").select(
        "id", "component"
    )
    return relabeled.unionByName(new_nodes).unionByName(selfers)


def canonical_selection(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    **lsh_kwargs,
) -> DataFrame:
    """Canonical-document selection for near-dup clusters — the policy
    step between detection and deletion: MinHash-LSH pairs -> connected
    components -> within each cluster keep the HIGHEST-quality member
    (quality_score desc, id asc tiebreak), flag the rest for purge,
    with sizes for immediate yield accounting.  The ONE implementation
    behind both the x92 registry query and Engine.canonical_docs.
    Scale: adds one broadcast-size join (cluster membership is a tiny
    fraction of the corpus) and a window over components to the
    pair-closure cost."""
    from pyspark.sql import Window as W

    from . import text as tx

    pairs = minhash_lsh_pairs(docs, text_col=text_col, id_col=id_col, **lsh_kwargs)
    comp = connected_components(pairs)
    q = docs.select(
        F.col(id_col).alias("doc_id"),
        tx.quality_score(F.col(text_col)).alias("quality_score"),
        F.length(text_col).cast("long").alias("n_chars"),
    )
    w = W.partitionBy("component").orderBy(F.desc("quality_score"), F.asc("id"))
    return (
        comp.join(q, comp.id == q.doc_id)
        .withColumn("rn", F.row_number().over(w))
        .select(
            "component",
            "doc_id",
            "quality_score",
            "n_chars",
            (F.col("rn") == 1).alias("is_canonical"),
        )
    )


def cluster_weighted_sample(
    docs: DataFrame,
    frac: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    **lsh_kwargs,
) -> DataFrame:
    """SOFT dedup by cluster-size-weighted sampling: instead of
    deleting near-duplicates, every doc is kept with probability
    ``frac / |its dup cluster|`` — so each duplicate CLUSTER
    contributes ~``frac`` expected docs to the sample regardless of
    how many times its content was crawled.  This is the sampling
    counterpart of hard dedup (p16) used when duplication frequency
    itself carries signal (popular content should not be boosted
    |cluster| times, but deleting all evidence of popularity is also
    wrong).

    The draw is the deterministic hash60 unit-interval trick (no RNG,
    replayable, engine-exact): select iff hash60(id)/2^60 < frac/size.
    Scale: the LSH pair closure plus one size aggregate and two
    membership joins (cluster membership is a tiny fraction of the
    corpus; singletons never join anything)."""
    comp = connected_components(
        minhash_lsh_pairs(docs, text_col=text_col, id_col=id_col, **lsh_kwargs)
    )
    sizes = comp.groupBy("component").agg(F.count("*").cast("long").alias("csize"))
    labeled = (
        docs.select(F.col(id_col))
        .join(comp, F.col(id_col) == F.col("id"), "left")
        .select(
            id_col, F.coalesce("component", F.col(id_col)).alias("dup_group")
        )
        .join(
            sizes.select(F.col("component").alias("dup_group"), "csize"),
            "dup_group",
            "left",
        )
        .select(
            id_col,
            "dup_group",
            F.coalesce("csize", F.lit(1)).cast("long").alias("cluster_size"),
        )
    )
    from .text import hash60

    u = hash60(F.col(id_col).cast("string"), salt="softdedup|") / F.lit(
        float(1 << 60)
    )
    w = F.lit(frac) / F.col("cluster_size")
    return labeled.select(
        id_col,
        "dup_group",
        "cluster_size",
        (F.round(w + F.lit(1e-9), 6) + F.lit(0.0)).alias("sel_weight"),
        (u < w).alias("selected"),
    )


def cluster_size_distribution(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    **lsh_kwargs,
) -> DataFrame:
    """Distribution of near-duplicate cluster sizes — the first chart
    in any dedup report: how much of the corpus is singletons, how
    heavy the duplication tail is (crawl loops and mirror farms show
    up as giant clusters), and how much a hard dedup would delete
    (n_docs - n_clusters summed over sizes >= 2).

    Shape: the LSH pair closure, one component-size aggregate, one
    size histogram; the singleton row is derived arithmetically from
    the corpus total (never a corpus-sized anti-join).  doc_share is
    the one rounded ratio."""
    comp = connected_components(
        minhash_lsh_pairs(docs, text_col=text_col, id_col=id_col, **lsh_kwargs)
    )
    sizes = comp.groupBy("component").agg(F.count("*").cast("long").alias("csize"))
    dist = sizes.groupBy("csize").agg(F.count("*").cast("long").alias("n_clusters"))
    tot = docs.agg(F.count("*").cast("long").alias("n_total"))
    clustered = dist.agg(
        F.coalesce(F.sum(F.col("csize") * F.col("n_clusters")), F.lit(0))
        .cast("long")
        .alias("n_clustered")
    )
    singles = (
        tot.crossJoin(F.broadcast(clustered))
        .select(
            F.lit(1).cast("long").alias("csize"),
            (F.col("n_total") - F.col("n_clustered")).cast("long").alias(
                "n_clusters"
            ),
        )
    )
    allrows = dist.unionByName(singles).where(F.col("n_clusters") > 0)
    return (
        allrows.crossJoin(F.broadcast(tot))
        .select(
            F.col("csize").alias("cluster_size"),
            "n_clusters",
            (F.col("csize") * F.col("n_clusters")).cast("long").alias("n_docs"),
            (
                F.round(
                    (F.col("csize") * F.col("n_clusters")).cast("double")
                    / F.col("n_total").cast("double")
                    + F.lit(1e-9),
                    6,
                )
                + F.lit(0.0)
            ).alias("doc_share"),
        )
    )


def threshold_sensitivity(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    **lsh_kwargs,
) -> DataFrame:
    """Dedup threshold-sensitivity curve: candidate-pair yield at
    every possible estimated-Jaccard level from ONE LSH pass (the
    16-hash signature estimates are multiples of 1/16, so the curve
    has at most 17 points).  Reading the cumulative column at a
    proposed threshold answers 'how many pairs would this threshold
    keep?' BEFORE committing a full dedup run — a threshold sitting
    on a steep part of the curve is a fragile threshold.

    One signature pipeline (min_est_jaccard forced to 0 so banding
    alone gates candidacy), one 17-row histogram, one cumulative
    window over that aggregate (provably bounded)."""
    from pyspark.sql import Window

    lsh_kwargs.pop("min_est_jaccard", None)
    pairs = minhash_lsh_pairs(
        docs, text_col=text_col, id_col=id_col, min_est_jaccard=0.0, **lsh_kwargs
    )
    hist = pairs.groupBy("est_jaccard").agg(
        F.count("*").cast("long").alias("n_pairs")
    )
    w = (
        Window.orderBy(F.col("est_jaccard").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return hist.select(
        "est_jaccard",
        "n_pairs",
        F.sum("n_pairs").over(w).cast("long").alias("n_pairs_at_or_above"),
    )


def lsh_calibration(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """Calibration audit of the MinHash estimator against EXACT
    Jaccard, per estimate level: how well does est = matches/16
    predict the true similarity on THIS corpus?  The per-level mean
    exact Jaccard and mean absolute error tell you where to put the
    dedup threshold (x136 gives the pair-yield curve; this gives the
    accuracy curve) — a level whose mean error is large means the
    banding config needs more hashes before its decisions are
    trustworthy.

    Dataflow: ONE LSH pass with banding alone gating candidacy
    (min_est_jaccard = 0, the x136 convention) -> exact verification
    on candidates only (never n^2) -> a <= num_hashes+1-row aggregate.
    Mean terms are micro-quantized BIGINT sums of the 4dp-verified
    values (house float discipline)."""
    pairs = minhash_lsh_pairs(
        docs, text_col, id_col, num_hashes, bands, shingle_k,
        min_est_jaccard=0.0,
    )
    ver = verify_candidate_pairs(docs, pairs, text_col, id_col, shingle_k)
    level = (F.col("est_jaccard") * num_hashes + F.lit(0.5)).cast("int")
    qex = (F.col("jaccard") * F.lit(1e6)).cast("long")
    qae = (F.abs(F.col("est_jaccard") - F.col("jaccard")) * F.lit(1e6)).cast("long")
    per = (
        ver.select(level.alias("level"), qex.alias("qex"), qae.alias("qae"))
        .groupBy("level")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum("qex").cast("long").alias("sex"),
            F.sum("qae").cast("long").alias("sae"),
        )
    )
    nd = F.col("n_pairs").cast("double")
    return per.select(
        (
            F.round(
                F.col("level").cast("double") / F.lit(float(num_hashes))
                + F.lit(1e-9),
                4,
            )
            + F.lit(0.0)
        ).alias("est_jaccard"),
        "n_pairs",
        (
            F.round(F.col("sex").cast("double") / nd / F.lit(1e6) + F.lit(1e-9), 6)
            + F.lit(0.0)
        ).alias("mean_exact_jaccard"),
        (
            F.round(F.col("sae").cast("double") / nd / F.lit(1e6) + F.lit(1e-9), 6)
            + F.lit(0.0)
        ).alias("mean_abs_err"),
    )


def component_size_profile(components: DataFrame, corpus: DataFrame) -> DataFrame:
    """Cluster-size distribution of the near-dup components — the
    'how big are the duplicate families' report an operator reads
    before acting on dedup output: a healthy corpus shows many small
    clusters and a long singleton tail, while one giant component
    (threshold too loose, or a boilerplate shingle stitching unrelated
    docs together) means canonical-selection would delete most of the
    corpus.  Singletons (documents in no cluster) are reported as
    cluster_size = 1 so the fractions sum to 1 over the corpus.

    Scale shape: component sizes from one aggregate of the (doc,
    component) frame; the size DISTRIBUTION is another aggregate of
    that |clusters|-row frame; the corpus total and clustered total
    are one-row aggregates broadcast into the final projection.
    Output: one row per distinct cluster size."""
    sizes = components.groupBy("component").agg(
        F.count("*").cast("long").alias("sz")
    )
    dist = sizes.groupBy("sz").agg(
        F.count("*").cast("long").alias("n_clusters"),
        F.sum("sz").cast("long").alias("n_docs"),
    )
    tot = corpus.agg(F.count("*").cast("long").alias("n_corpus"))
    clustered = components.agg(F.count("*").cast("long").alias("n_in"))
    singles = (
        tot.crossJoin(F.broadcast(clustered))
        .filter(F.col("n_corpus") > F.col("n_in"))
        .select(
            F.lit(1).cast("long").alias("sz"),
            (F.col("n_corpus") - F.col("n_in")).cast("long").alias("n_clusters"),
            (F.col("n_corpus") - F.col("n_in")).cast("long").alias("n_docs"),
        )
    )
    return (
        dist.unionByName(singles)
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("sz").alias("cluster_size"),
            "n_clusters",
            "n_docs",
            (
                F.round(
                    F.col("n_docs").cast("double")
                    / F.col("n_corpus").cast("double")
                    + F.lit(1e-9),
                    6,
                )
                + F.lit(0.0)
            ).alias("corpus_frac"),
        )
    )
