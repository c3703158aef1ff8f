"""One-object entry point: the surface a user coming from the
reference pipeline drives.

The reference exposes its data through an ad-hoc read API over the
sink databases (api/main.py); here the same reachability — tables,
ad-hoc SQL, every registered query, and the training-data operator
tiers — hangs off a single ``Engine`` handle:

    from kafka_spark_streaming_pipeline_spark.engine import Engine

    eng = Engine(sf_dir="/root/testdata/sf0.01")
    eng.table("lineitem")                  # catalog DataFrame
    eng.sql("SELECT count(*) FROM orders") # views pre-registered
    eng.query("p01_stream_health")         # any registry query
    eng.search(["customer", "vector"])     # BM25 over documents
    eng.near_dups()                        # MinHash+LSH candidate pairs
    eng.dedup_clusters()                   # transitive-closure groups

Everything returns a lazy DataFrame; nothing here adds plan nodes —
it only wires existing operators to the session + catalog.  The
methods below are the entry points something calls; every other
operator is ``operators.<module>.<fn>(eng.table(...))`` or
``eng.query("<registered name>")``.

Side effect to know about: registering the catalog views sets two
SESSION-WIDE confs on the SparkSession you pass in — the session
timezone is forced to UTC and ``inferTimestampNTZ`` is disabled —
because every oracle-verified query depends on those timestamp
semantics.  If you share the session with other workloads that need
different timestamp confs, snapshot and restore them around Engine
construction (or give the Engine its own session via the default
``get_spark()``)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .catalog import DEFAULT_SF_DIR, register_views
from .session import get_spark


class Engine:
    def __init__(self, spark: SparkSession | None = None, sf_dir: str = DEFAULT_SF_DIR):
        self.spark = spark or get_spark()
        self.sf_dir = sf_dir
        self._tables = register_views(self.spark, sf_dir)
        self._dedup_history_path: str | None = None
        self._neardup_history_path: str | None = None

    # ------------------------------------------------------------ core
    def table(self, name: str) -> DataFrame:
        return self._tables[name]

    def sql(self, query: str) -> DataFrame:
        """Ad-hoc SQL over the registered table views."""
        return self.spark.sql(query)

    def query(self, name: str) -> DataFrame:
        """Run any registered query (see query_names())."""
        from .plans import QUERIES

        return QUERIES[name].builder(self.spark, self.sf_dir)

    def query_names(self) -> list[str]:
        from .plans import QUERIES

        return sorted(QUERIES)

    def clear_caches(self, blocking: bool = False) -> int:
        """Release every operator-internal cached frame created so far
        (the multi-consumer persists inside dedup/similarity/retrieval/
        timeseries/curation operators go through a tracked registry).
        Call between workloads in a long-lived session; returns how
        many frames were unpersisted.  Any still-referenced result
        simply recomputes on next use."""
        from .cache import unpersist_tracked

        return unpersist_tracked(blocking)

    # ----------------------------------------------------- training data
    def search(self, terms: list[str], k: int = 10) -> DataFrame:
        """BM25 top-k over the documents table."""
        from .operators.retrieval import bm25_topk

        return bm25_topk(self.table("documents"), terms, topk=k)

    def near_dups(self, **kwargs) -> DataFrame:
        """MinHash+LSH candidate near-duplicate pairs over documents."""
        from .operators.dedup import minhash_lsh_pairs

        return minhash_lsh_pairs(self.table("documents"), **kwargs)

    def dedup_clusters(self, **kwargs) -> DataFrame:
        """Transitive closure of near-dup pairs -> (doc, component)."""
        from .operators.dedup import connected_components

        return connected_components(self.near_dups(**kwargs))

    def chunks(self, chunk_tokens: int = 32, overlap: int = 8) -> DataFrame:
        """Fixed-token-window chunks of every document."""
        from .operators.curation import chunk_documents

        return chunk_documents(
            self.table("documents"), chunk_tokens=chunk_tokens, overlap=overlap
        )

    def build_search_index(self, dest: str, n_buckets: int = 64) -> None:
        """Persist the documents' inverted index in the term-hash-bucket
        layout (pruned lookups via lookup())."""
        from .operators.retrieval import inverted_index, write_search_index

        write_search_index(inverted_index(self.table("documents")), dest, n_buckets)

    def lookup(self, dest: str, terms: list[str], n_buckets: int = 64) -> DataFrame:
        """Postings for ``terms`` from a build_search_index() layout."""
        from .operators.retrieval import lookup_terms

        return lookup_terms(self.spark, dest, terms, n_buckets)

    def build_dedup_history(self, dest: str, rebuild: bool = False) -> None:
        """Persist the documents table's fingerprint set at ``dest``
        (an AtomicParquetTable) and point ingest_dedup at it.  This is
        the ONE full-corpus hashing pass; every subsequent batch joins
        the persisted fingerprints only — re-hashing 100 TB of history
        text per ingest batch is exactly what incremental dedup exists
        to avoid.  No-op if the table already exists (pass
        ``rebuild=True`` after the corpus itself changes)."""
        from .operators.dedup import exact_dedup_groups

        self._build_history(
            dest,
            rebuild,
            lambda: exact_dedup_groups(self.table("documents"))
            .select("fingerprint")
            .distinct(),
        )
        self._dedup_history_path = dest

    def ingest_dedup(self, new_docs: DataFrame, history_path: str | None = None) -> DataFrame:
        """Deduplicate an incoming batch against the fingerprint
        history (seen_in_history / is_batch_canonical / keep flags per
        new doc).

        With a history table (``build_dedup_history`` called, or
        ``history_path`` pointing at one), the batch plan reads ONLY
        the persisted fingerprints — the documents table is never
        scanned.  Without one, it falls back to hashing the whole
        corpus on the fly and WARNS (correct, but pays a full-corpus
        read per batch — fine ad hoc, wrong as a loop)."""
        from .operators.dedup import exact_dedup_groups, incremental_dedup

        path = history_path or self._dedup_history_path
        if path is None:
            import warnings

            warnings.warn(
                "Engine.ingest_dedup without a fingerprint history re-hashes "
                "the ENTIRE documents corpus for this one batch — fine ad "
                "hoc, wrong in a loop.  Call build_dedup_history(dest) once "
                "(or pass history_path=) so batches join the persisted "
                "fingerprints instead.",
                stacklevel=2,
            )
            history = exact_dedup_groups(self.table("documents"))
        else:
            history = self._read_history(
                path, "build_dedup_history", "ingest_dedup", "fingerprint"
            )
            self._dedup_history_path = path
        return incremental_dedup(new_docs, history.select("fingerprint"))

    def accept_ingest(self, ingest_result: DataFrame) -> None:
        """Append an accepted batch's new fingerprints (the
        ``keep=true`` rows of an ingest_dedup result) to the persisted
        history, so the NEXT batch sees them — the update half of the
        incremental-dedup loop.  O(batch) append; the history is never
        rewritten."""
        from pyspark.sql import functions as F

        self._history_table(
            self._dedup_history_path, "build_dedup_history", "accept_ingest"
        ).append(ingest_result.filter(F.col("keep")).select("fingerprint").distinct())

    def build_neardup_history(self, dest: str, rebuild: bool = False) -> None:
        """Persist the documents table's MinHash SIGNATURE table at
        ``dest`` — the near-dup sibling of build_dedup_history.  One
        full-corpus shingling pass; afterwards every ingest batch
        matches against the ~128-byte/doc signature rows only, never
        the history text.  No-op if the table exists (``rebuild=True``
        after the corpus changes)."""
        from .operators.dedup import minhash_signatures

        self._build_history(
            dest, rebuild, lambda: minhash_signatures(self.table("documents"))
        )
        self._neardup_history_path = dest

    def ingest_neardup(
        self,
        new_docs: DataFrame,
        history_path: str | None = None,
        min_est_jaccard: float = 0.5,
    ) -> DataFrame:
        """Near-dup-match an incoming batch against the persisted
        signature history (build_neardup_history first): (new_id,
        matched_id, est_jaccard, from_history) candidate pairs.  The
        batch plan reads the signature table, not the documents."""
        from .operators.dedup import incremental_neardup

        path = history_path or self._neardup_history_path
        history = self._read_history(
            path, "build_neardup_history", "ingest_neardup", "signature"
        )
        self._neardup_history_path = path
        return incremental_neardup(
            new_docs, history, min_est_jaccard=min_est_jaccard
        )

    def accept_neardup(self, accepted_docs: DataFrame) -> None:
        """Append the accepted new docs' signatures to the persisted
        history so the NEXT batch sees them — O(batch) shingling +
        append, the history is never rewritten."""
        from .operators.dedup import minhash_signatures

        self._history_table(
            self._neardup_history_path, "build_neardup_history", "accept_neardup"
        ).append(minhash_signatures(accepted_docs))

    def _build_history(self, dest: str, rebuild: bool, frame) -> None:
        """Overwrite the history at ``dest`` with ``frame()`` unless a
        version is already committed there (or ``rebuild``)."""
        from .streaming.txn import AtomicParquetTable

        table = AtomicParquetTable(dest)
        if rebuild or table.read(self.spark) is None:
            table.overwrite(frame())

    @staticmethod
    def _history_table(path: str | None, build: str, use: str):
        """The history table at ``path``; ``use`` needs ``build`` to
        have run (or a ``history_path=``) first."""
        from .streaming.txn import AtomicParquetTable

        if path is None:
            raise RuntimeError(f"{build}(dest) before {use}")
        return AtomicParquetTable(path)

    def _read_history(self, path: str | None, build: str, use: str, what: str) -> DataFrame:
        history = self._history_table(path, build, use).read(self.spark)
        if history is None:
            raise FileNotFoundError(
                f"no committed {what} history at {path} — call {build}(dest) first"
            )
        return history

    def nearest_embeddings(self, queries: DataFrame | None = None, k: int = 5) -> DataFrame:
        """Exact cosine top-k over the embeddings table (queries default
        to the first 5 vectors)."""
        from .operators.similarity import cosine_topk

        emb = self.table("embeddings")
        return cosine_topk(self._queries(emb, queries), emb, k=k)

    @staticmethod
    def _queries(emb: DataFrame, queries: DataFrame | None) -> DataFrame:
        """``queries``, or the first 5 vectors of ``emb``."""
        from pyspark.sql import functions as F

        return queries if queries is not None else emb.filter(F.col("vec_id") < 5)

    def hybrid_search(
        self, terms: list[str], query_vec_id: int = 0, n: int = 20, k: int = 10
    ) -> DataFrame:
        """Hybrid retrieval: RRF fusion of BM25 top-n (terms over
        documents) with exact-cosine top-n (query_vec_id over
        embeddings) — doc ids and vec ids share the id space in this
        catalog."""
        from pyspark.sql import functions as F

        from .operators.retrieval import bm25_topk, rrf_fuse
        from .operators.similarity import cosine_topk

        sparse = bm25_topk(self.table("documents"), terms, topk=n).select(
            "doc_id", "rank"
        )
        emb = self.table("embeddings")
        dense = cosine_topk(
            emb.filter(F.col("vec_id") == query_vec_id), emb, k=n
        ).select(F.col("neighbor_id").alias("doc_id"), "rank")
        return rrf_fuse([sparse, dense], id_col="doc_id", topk=k)

    def semantic_dedup(
        self, n_centroids: int | None = None, threshold: float = 0.3
    ) -> DataFrame:
        """SemDeDup pruning over the embeddings table (first
        ``n_centroids`` vectors seed the deterministic centroids).
        By default the centroid count is sized from the corpus —
        nlist = ceil(sqrt(N)) — so the in-cell pair term stays
        subquadratic at scale (VERDICT r9 item 1; same dial as the
        x51 registry query)."""
        import math

        from pyspark.sql import functions as F

        from .operators.similarity import semantic_dedup

        emb = self.table("embeddings")
        if n_centroids is None:
            n_centroids = int(math.ceil(math.sqrt(emb.count())))
        cents = emb.filter(F.col("vec_id") < n_centroids).select(
            F.col("vec_id").alias("cell"),
            F.transform("embedding", lambda x: x.cast("double")).alias("centroid"),
        )
        return semantic_dedup(emb, cents, threshold=threshold)

    def quality_report(self, **kwargs) -> DataFrame:
        """Gopher-style per-document quality rules with per-rule
        attribution (see operators.curation.gopher_quality_rules)."""
        from .operators.curation import gopher_quality_rules

        return gopher_quality_rules(self.table("documents"), **kwargs)

    def shards(self, n_shards: int = 8) -> DataFrame:
        """Deterministic RNG-free training order: (doc, shard, pos)."""
        from .operators.curation import training_shards

        return training_shards(self.table("documents"), n_shards=n_shards)

    def weighted_sample(self, scale: float = 1.0) -> DataFrame:
        """Quality-weighted RNG-free Bernoulli downsample of the
        documents table (keep probability ∝ quality score)."""
        from pyspark.sql import functions as F

        from .operators.curation import quality_weighted_sample
        from .operators.text import quality_score

        return quality_weighted_sample(
            self.table("documents"), quality_score(F.col("text")), scale=scale
        )

    def pq_search(
        self, queries: DataFrame | None = None, k: int = 5, rerank: int = 50
    ) -> DataFrame:
        """Compressed-tier ANN over the embeddings table: PQ ADC scan +
        exact rerank of the shortlist (queries default to the first 5
        vectors)."""
        from .operators.similarity import pq_topk

        emb = self.table("embeddings")
        return pq_topk(self._queries(emb, queries), emb, m=16, ksub=16, k=k, rerank=rerank)

    def contamination_screen(
        self, train: DataFrame, eval_set: DataFrame, k: int = 5
    ) -> DataFrame:
        """Bloom-filter contamination screen (no false negatives):
        per-train-doc flagged-gram counts against the eval set's packed
        8 KB filter — map-only over the train side."""
        from .operators.curation import bloom_decontaminate

        return bloom_decontaminate(train, eval_set, k=k)

    def dsir_select(self, target: DataFrame, quantile: float = 0.8) -> DataFrame:
        """DSIR importance-resampling selection: score every document
        by target-likeness (hashed n-gram bucket model) and mark the
        top tail."""
        from .operators.curation import dsir_weights

        return dsir_weights(self.table("documents"), target, select_quantile=quantile)

    def dedup_lines(self, min_docs: int = 2) -> DataFrame:
        """Cross-document line dedup over the documents table (newline
        segmentation; per-doc boilerplate ratio + cleaned-text
        fingerprint)."""
        from .operators.curation import line_dedup, split_lines

        return line_dedup(split_lines(self.table("documents")), min_docs=min_docs)

    def corpus_overlap(self, other_docs: DataFrame, shingle_k: int = 3) -> DataFrame:
        """KMV dataset-overlap audit: estimated distinct/union/Jaccard/
        intersection of shingle sets between this catalog's documents
        and ``other_docs`` — from 128 hashes, not the corpora."""
        from pyspark.sql import functions as F

        from .operators.dedup import shingle_arr
        from .operators.sketches import kmv_overlap, kmv_sketch

        def grams(df):
            return df.select(
                F.explode(
                    F.array_distinct(shingle_arr(F.col("text"), shingle_k))
                ).alias("gram")
            )

        return kmv_overlap(
            kmv_sketch(grams(self.table("documents")), F.col("gram")),
            kmv_sketch(grams(other_docs), F.col("gram")),
        )

    def perplexity_scores(self, k_smooth: float = 0.5) -> DataFrame:
        """Bigram-LM cross-entropy per document (CCNet-style perplexity
        filter): high scorers are word salad / off-distribution."""
        from .operators.curation import bigram_cross_entropy

        return bigram_cross_entropy(self.table("documents"), k_smooth=k_smooth)

    def contained_docs(self, min_containment: float = 0.8) -> DataFrame:
        """Asymmetric containment pairs (quote/boilerplate inclusion
        that symmetric Jaccard misses), rare-shingle blocked."""
        from .operators.dedup import containment_pairs

        return containment_pairs(
            self.table("documents"), min_containment=min_containment
        )

    def price_quantiles(
        self, qs: list[float] | None = None, keys: list[str] | None = None
    ) -> DataFrame:
        """DDSketch quantiles over order totals — the mergeable,
        relative-error-bounded percentile path."""
        from .operators.sketches import dd_build, dd_quantiles

        keys = keys if keys is not None else ["o_orderpriority"]
        qs = qs if qs is not None else [0.5, 0.95, 0.99]
        pre = dd_build(self.table("orders"), "o_totalprice", keys=keys)
        return dd_quantiles(pre, qs, keys=keys)

    def mine_triplets(
        self, pos_threshold: float = 0.4, neg_threshold: float = 0.2
    ) -> DataFrame:
        """Contrastive (anchor, positive, hard-negative) triplets from
        the embeddings table via SRP-bucket mining."""
        from .plans.extensions import NEARDUP_PLANES
        from .operators.similarity import contrastive_triplets

        return contrastive_triplets(
            self.table("embeddings"),
            NEARDUP_PLANES,
            pos_threshold=pos_threshold,
            neg_threshold=neg_threshold,
        )

    def datasheet(self) -> DataFrame:
        """Per-source corpus datasheet (x93): volume, length
        distribution, quality share, language mix, exact-dup rate —
        one corpus scan."""
        return self.query("x93_corpus_datasheet")

    def cluster_topics(self, k: int = 8, iterations: int = 1) -> DataFrame:
        """Name each embedding cluster by its top TF-IDF terms (x90):
        portable k-means cells joined to documents, cluster-level
        TF-IDF top-3."""
        from .operators.similarity import cluster_topics

        return cluster_topics(
            self.table("embeddings"), self.table("documents"), k=k, iterations=iterations
        )

    def canonical_docs(self, **kwargs) -> DataFrame:
        """Near-dup clusters with the best-quality member flagged
        canonical and the rest marked for purge — the same
        implementation as the value-checked x92 registry query
        (operators/dedup.canonical_selection); ``kwargs`` pass through
        to minhash_lsh_pairs."""
        from .operators.dedup import canonical_selection

        return canonical_selection(self.table("documents"), **kwargs)

    def distinct_counts(self, keys: list[str], col: str, table: str = "events") -> DataFrame:
        """Portable-HLL approximate distinct counts per key group
        (x89): one raw scan to 256-register state, value-reproducible
        estimator; registers are reusable for coarser rollups."""
        from .operators.sketches import hll_portable_estimate, hll_portable_registers

        regs = hll_portable_registers(self.table(table), keys, col)
        return hll_portable_estimate(regs, keys)

    def tokenize(self, merges) -> DataFrame:
        """Apply a BPE merge list (trained via operators.text.bpe_train
        or fixed) to the documents table — map-only, scan-speed
        (x88)."""
        from .operators.text import bpe_encode

        return bpe_encode(self.table("documents"), merges)

    def curate(self, eval_mod: int = 20, **kwargs) -> DataFrame:
        """The composed curation pipeline with per-stage yield
        accounting (x94): eval holdout -> Gopher rules -> exact dedup
        -> near-dup closure -> decontamination -> shards, one train-
        corpus text scan total.  ``eval_mod`` carves every Nth doc
        out as the held-out benchmark; ``kwargs`` pass through to
        operators.curation.curation_funnel."""
        from .operators.curation import curation_funnel

        return curation_funnel(*self._eval_split(eval_mod), **kwargs)

    def split_leakage(self, **kwargs) -> DataFrame:
        """Near-dup pairs crossing the deterministic train/val/test
        boundary (x96) — the held-out-set hygiene audit."""
        from .operators.curation import split_leakage

        return split_leakage(self.table("documents"), **kwargs)

    def source_overlap(self, shingle_k: int = 3) -> DataFrame:
        """Pairwise source-content-overlap matrix from per-source KMV
        sketches (x97)."""
        from pyspark.sql import functions as F

        from .operators.dedup import shingle_arr
        from .operators.sketches import kmv_overlap_matrix, kmv_sketch_by

        sh = self.table("documents").select(
            "source",
            F.explode(F.array_distinct(shingle_arr(F.col("text"), shingle_k))).alias(
                "gram"
            ),
        )
        return kmv_overlap_matrix(kmv_sketch_by(sh, ["source"], F.col("gram")), "source")

    def drift(self, new_docs: DataFrame, **kwargs) -> DataFrame:
        """Per-source distribution drift of ``new_docs`` (the incoming
        crawl) against this engine's documents table (x98)."""
        from .operators.curation import snapshot_drift

        return snapshot_drift(self.table("documents"), new_docs, **kwargs)

    def curriculum(self, n_stages: int = 4, n_shards: int = 8) -> DataFrame:
        """Difficulty-staged curriculum iteration order (x99)."""
        from .operators.curation import curriculum_order

        return curriculum_order(self.table("documents"), n_stages, n_shards)

    def budget_plan(
        self,
        budget_factor: float = 2.0,
        alpha: float = 0.5,
        max_epochs: float = 4.0,
    ) -> DataFrame:
        """Token-budget sampling plan with repetition caps (x100)."""
        from .operators.curation import token_budget_plan

        return token_budget_plan(
            self.table("documents"), budget_factor, alpha, max_epochs
        )

    def doc_fates(self, eval_mod: int = 20, **kwargs) -> DataFrame:
        """Per-document curation provenance (x102): each doc's fate
        and the tier evidence, from the same flag frame the funnel
        aggregates."""
        from .operators.curation import curation_flags, doc_fate

        return doc_fate(curation_flags(*self._eval_split(eval_mod), **kwargs))

    def _eval_split(self, eval_mod: int) -> tuple[DataFrame, DataFrame]:
        """(train, eval): every ``eval_mod``-th document is held out."""
        from pyspark.sql import functions as F

        docs = self.table("documents")
        held_out = F.col("doc_id") % eval_mod == 0
        return docs.filter(~held_out), docs.filter(held_out)

    def release_audit(self) -> DataFrame:
        """The composed pre-publication gate (x164): datasheet + PII
        residue + k-anonymity + Bloom trust + sketch-accuracy audits
        as one long-form (family, item, metric, value, ok) report —
        one documents scan, one orders scan, one events scan."""
        return self.query("x164_release_audit")

    def audit_ann_recall(self) -> DataFrame:
        """Per-query recall@10 of the multi-table LSH search vs the
        exact brute-force baseline (x165) — run before trusting the
        bucketed index."""
        return self.query("x165_ann_recall_audit")

    def classifier_calibration(self, label_col: str = "lang", **kw) -> DataFrame:
        """Accuracy per prediction-margin bucket of the NB classifier
        (x167) — which confidence threshold buys which accuracy."""
        from .operators.classify import nb_calibration

        return nb_calibration(self.table("documents"), label_col=label_col, **kw)

    def tokenizer_report(self, group_col: str = "lang", **kw) -> DataFrame:
        """Per-language tokenizer fertility / bytes-per-token /
        chars-per-word budgeting report (x168)."""
        from .operators.profile import tokenizer_fertility

        return tokenizer_fertility(self.table("documents"), group_col=group_col, **kw)

    def train_unigram_tokenizer(self, **kw) -> DataFrame:
        """Unigram-LM (SentencePiece-style) tokenizer model via Viterbi
        hard-EM + contribution pruning (x172) — the probabilistic
        sibling of train_bpe; integer micro-nat code lengths."""
        from .operators.text import unigram_lm_train

        return unigram_lm_train(self.table("documents"), **kw)

    def tokenizer_audit(self) -> DataFrame:
        """The composed tokenizer-budget gate (x176): tokenizer-family
        comparison + per-language fertility + padding efficiency +
        truncation sweep as one long-form (family, item, metric,
        value) report — the x164 sibling for the token-budget
        decision."""
        return self.query("x176_tokenizer_audit")

    def conformal_prediction_sets(self, **kw) -> DataFrame:
        """Split-conformal prediction sets for the NB classifier
        (x177): per alpha, empirical coverage (>= 1-alpha marginally)
        and average set size — uncertainty-aware labeling."""
        from .operators.classify import nb_conformal_sets

        return nb_conformal_sets(self.table("documents"), **kw)
