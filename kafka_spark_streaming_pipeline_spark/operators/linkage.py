"""Entity resolution (record linkage) over short mention strings.

The reference pipeline carries no record-linkage stage; this extends
the dedup family (SURVEY.md §2.9 training-data operators) with the
classic Fellegi–Sunter-shaped pipeline used to collapse dirty mention
records onto entities:

    multi-pass rare-token blocking  ->  bounded in-block pair
    expansion  ->  token-Jaccard verification  ->  transitive closure
    ->  canonical (golden-record) survivorship

Scale shape: the token document-frequency table is vocabulary-sized
(broadcast), the per-record rarest-token ranking is a window keyed by
the record id (well spread), and the pair expansion is the SAME
capped-block machinery minhash_lsh_pairs uses — Σ block² with an
explicit ``max_block_size`` guard, never an all-pairs join.  The
closure is the distributed small-label propagation from
operators/dedup.connected_components.  Every stage runs under the
session's shuffle settings; a job that needs more partition headroom
wraps the call in ``session.scoped_shuffle_partitions``.

Recall guarantee (why TWO blocking passes): ranking every record's
tokens by global document frequency and blocking on the 2 rarest
means two records whose token sets differ by ONE dropped token always
share at least one blocking key — if the dropped token was the rarest
(r1), both sides still key on r2; if it was r2, both key on r1; if it
was neither, both key on r1 AND r2.  Single-token edits therefore
cannot escape candidate generation (tests/test_operators.py pins
this with planted variants).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from .dedup import _capped_block_pairs, connected_components


def _mention_tokens(records: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, toks): distinct lowercase whitespace tokens per record."""
    return records.select(
        F.col(id_col),
        F.array_distinct(F.split(F.lower(F.col(text_col)), " ")).alias("toks"),
    )


def rare_token_keys(
    toks: DataFrame, id_col: str = "rec_id", passes: int = 2
) -> DataFrame:
    """Blocking keys: each record's ``passes`` globally-rarest tokens.

    Document frequency is computed over the record set itself (one
    vocabulary-sized aggregate, broadcast back onto the exploded
    tokens), then a per-record window ranks tokens by (df, token) —
    the tie-break makes the key choice deterministic on both engines.
    Output: (id, blk) rows, ≤ ``passes`` per record."""
    exploded = toks.select(F.col(id_col), F.explode("toks").alias("blk"))
    df_tab = exploded.groupBy("blk").agg(F.count("*").alias("__df"))
    ranked = exploded.join(F.broadcast(df_tab), "blk").withColumn(
        "__rk",
        F.row_number().over(W.partitionBy(id_col).orderBy("__df", "blk")),
    )
    return ranked.filter(F.col("__rk") <= passes).select(id_col, "blk")


def rare_token_pair_keys(
    toks: DataFrame, id_col: str = "rec_id", top_k: int = 3
) -> DataFrame:
    """CONJUNCTIVE blocking keys — the scale dial for block population
    (VERDICT r9 item 5): each record's ``top_k`` globally-rarest
    tokens, every unordered PAIR of them concatenated (in global
    (df, token) order, so both members of a true match render the key
    identically) as one composite key.  A composite key's block
    population is the records containing BOTH tokens — the joint
    frequency — so blocks shrink multiplicatively vs single-token
    blocking while per-record key count stays bounded
    (top_k choose 2 = 3 keys at the default).

    Recall guarantee (why top_k = 3 suffices): for any record B equal
    to A minus ONE token, with A having >= 3 distinct tokens — if the
    dropped token is outside A's rarest-3, both sides key identical
    pairs; if it IS one of them, the other two of A's rarest-3 are
    B's two rarest survivors' superset and the pair of them is keyed
    by BOTH sides.  Single-token edits cannot escape candidate
    generation (pinned by the planted-variant test, same as the
    2-pass single-token guarantee).

    Records with ONE distinct token key their lone token verbatim (a
    1-token key never collides with a 2-token composite, so degenerate
    records only ever pair among themselves).

    One token-df aggregate (vocabulary-sized, broadcast) + one
    groupBy(id) whose array_sort/slice/HOF pair expansion happens
    inside the aggregate row — no window, no self-join."""
    exploded = toks.select(F.col(id_col), F.explode("toks").alias("blk"))
    df_tab = exploded.groupBy("blk").agg(F.count("*").alias("__df"))
    top = (
        exploded.join(F.broadcast(df_tab), "blk")
        .groupBy(id_col)
        .agg(
            F.slice(
                F.array_sort(F.collect_list(F.struct("__df", "blk"))),
                1,
                top_k,
            ).alias("__tl")
        )
        .withColumn("__arr", F.transform("__tl", lambda s: s["blk"]))
    )
    pair_keys = F.flatten(
        F.transform(
            F.col("__arr"),
            lambda x, i: F.transform(
                F.slice(F.col("__arr"), i + 2, F.size(F.col("__arr"))),
                lambda y: F.concat_ws(" ", x, y),
            ),
        )
    )
    keys = F.when(F.size("__arr") == 1, F.col("__arr")).otherwise(pair_keys)
    return top.select(F.col(id_col), F.explode(keys).alias("blk"))


def entity_pairs(
    records: DataFrame,
    id_col: str = "rec_id",
    text_col: str = "mention",
    min_jaccard: float = 0.6,
    passes: int = 2,
    max_block_size: int = 128,
    conjunctive: bool = False,
    dedup_pairs: bool = True,
) -> DataFrame:
    """Verified match pairs (id_a, id_b): blocked candidates whose
    token-set Jaccard clears ``min_jaccard``.

    One scan tokenizes the records into a persisted narrow (id, toks)
    frame consumed by the df aggregate, the key ranking, and the pair
    payloads; oversized blocks truncate deterministically via
    ``_capped_block_pairs`` (smallest ids survive) instead of going
    quadratic on a stopword-keyed block.

    ``conjunctive=True`` switches to composite rare-token-PAIR keys
    (``rare_token_pair_keys``) — the production setting for large
    corpora, where single-token block populations grow linearly with
    N but pair-key populations grow with the much smaller joint
    frequency; the single-token-drop recall guarantee carries over
    (see rare_token_pair_keys).

    ``dedup_pairs=False`` skips the final distinct — a pair can then
    appear once per shared blocking key (<= passes+1 choose 2 copies).
    entity_resolve uses it (r12): the closure symmetrizes and
    distincts its edge set anyway, so the pairs-level distinct was a
    redundant back-to-back exchange over the same rows; the default
    keeps the distinct-pairs contract for direct consumers."""
    from ..cache import tracked_persist

    toks = tracked_persist(_mention_tokens(records, id_col, text_col))
    keys = (
        rare_token_pair_keys(toks, id_col=id_col, top_k=passes + 1)
        if conjunctive
        else rare_token_keys(toks, id_col=id_col, passes=passes)
    )
    prepared = keys.join(toks, id_col).select(
        F.col(id_col), F.col("blk"), F.col("toks").alias("__pl")
    )
    pairs = _capped_block_pairs(prepared, id_col, "__pl", max_block_size)
    inter = F.size(F.array_intersect(F.col("payload_a"), F.col("payload_b")))
    uni = F.size(F.array_union(F.col("payload_a"), F.col("payload_b")))
    out = pairs.filter(inter / uni >= F.lit(min_jaccard)).select(
        F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")
    )
    return out.distinct() if dedup_pairs else out


def entity_resolve(
    records: DataFrame,
    id_col: str = "rec_id",
    text_col: str = "mention",
    min_jaccard: float = 0.6,
    passes: int = 2,
    max_block_size: int = 128,
    conjunctive: bool = False,
) -> DataFrame:
    """Full entity resolution: every record labeled with its entity.

    Output per record: (id, entity_id, cluster_size, is_canonical)
    where ``entity_id`` is the smallest member id of the record's
    connected match-component (singletons label themselves) and the
    canonical record — the golden-record survivor — is the member
    equal to that minimum.  The closure runs on verified pairs only,
    so its input is |matches|, not |records|.

    Every stage runs under the session's shuffle settings.  A caller
    that needs partition headroom at a larger scale (SCALE_ROOTCAUSE.json:
    20.8 s -> 13.4 s at 128 partitions on 10x the bench corpus) wraps
    the call in ``session.scoped_shuffle_partitions`` itself, as
    tools/bench_scale.py does; it is not a session default because 8x
    initial headroom taxes composed small-shuffle pipelines 1.5-3x
    (AQE_AB.json)."""
    pairs = entity_pairs(
        records,
        id_col=id_col,
        text_col=text_col,
        min_jaccard=min_jaccard,
        passes=passes,
        max_block_size=max_block_size,
        conjunctive=conjunctive,
        # the closure's symmetrized edge distinct absorbs per-key pair
        # copies; skipping the pairs-level distinct drops one exchange
        dedup_pairs=False,
    )
    labels = connected_components(pairs, "id_a", "id_b")
    out = records.join(labels, records[id_col] == labels.id, "left").select(
        F.col(id_col),
        F.coalesce(F.col("component"), F.col(id_col)).alias("entity_id"),
    )
    w = W.partitionBy("entity_id")
    return out.select(
        id_col,
        "entity_id",
        F.count("*").over(w).alias("cluster_size"),
        (F.col(id_col) == F.min(id_col).over(w)).alias("is_canonical"),
    )
