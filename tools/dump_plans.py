#!/usr/bin/env python3
"""Regenerate PLANS.md: the physical-plan audit for representative
queries — evidence that pushdown/pruning/broadcast/partial-agg actually
happen, not just that results match.  Run after plan-shape changes:

    python3 tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_spark_streaming_pipeline_spark.plans import QUERIES  # noqa: E402
from kafka_spark_streaming_pipeline_spark.session import get_spark  # noqa: E402

AUDITED = {
    "p01_stream_health": "flagship: window + groupBy share one exchange",
    "q01_pricing_summary": "scan-heavy agg: shipdate filter pushed to parquet, only needed columns read",
    "q03_join_broadcast_dims": "star join: every dimension broadcast",
    "q30_subqueries": "subqueries decorrelated to broadcast semi-joins",
    "q33_star_join_five_tables": "5-table join reordered, fact never shuffles for dims",
    "p12_minhash_lsh": "LSH: no self-join, signatures computed once",
    "p13_cosine_topk": "brute-force ANN: corpus never shuffles, queries broadcast",
    "x25_decontaminate": "decontamination: eval gram set broadcast, train side never shuffles on the join",
    "x27_pack_sequences": "packing: per-shard window, no single-partition exchange, no global sort",
    "x33_pii_redaction": "PII scrub: map-only — zero exchanges, regex counting+redaction in one scan",
    "x36_matryoshka_truncate": "matryoshka tier: map-only array slice+renorm, zero exchanges",
    "x38_ewma_zscore": "EWMA anomaly: single per-key window shuffle, bounded frame state",
    "q45_resample_interpolate": "interpolation: bounds agg + grid join + one anchor window — no per-gap self-join",
    "p17_inverted_index": "inverted index: one scan, one grouped agg; df exact under the postings cap",
    "p18_bm25_topk": "BM25: ONE corpus scan (persisted narrow tf frame; N/avgdl/df from a single broadcast scalar aggregate, no per-term groupBy), TakeOrderedAndProject ranking",
    "x42_chunk_documents": "chunking: map-only — zero exchanges, token array bound once",
    "x45_url_canonical_dedup": "URL canonical dedup: map-only canonicalization + one canonical-key aggregate",
    "x47_incremental_dedup": "incremental ingest dedup: new batch joins history fingerprints only — history text never re-read",
    "x50_hybrid_rrf": "hybrid RRF: both branches already top-n, fusion union+agg touches <=40 rows",
    "x51_semantic_dedup": "SemDeDup: broadcast-argmax centroid assignment (no corpus shuffle), one groupBy(cell) for in-cluster pairs",
    "x52_training_shards": "training shards: ONE exchange (the per-shard rank window), hash-balanced, no global sort",
    "x53_gopher_rules": "quality rules: map-only — zero exchanges, token+trigram arrays bound once per row",
    "x54_reranked_search": "rerank: stage 2 touches only the broadcast candidate set, one corpus scan for text",
    "x55_dedup_yield_report": "dedup yield: one groupBy(source) over the composed fingerprint+closure flags",
    "x56_supplier_pagerank": "pagerank: edges partitioned once; per-iteration join + combinable aggregate, no collect",
    "x57_phrase_search": "phrase: per-term postings joined on doc_id; rarest term bounds the join; no text re-scan",
    "x59_novelty_scores": "novelty: one explode + corpus df aggregate + rejoin; no self-join",
    "x60_hash_embeddings": "hash embed: one explode + two combinable aggregates, no joins",
    "x61_text_embedding_neardup": "centered multi-table blocking: persisted prep frame, per-table bucket groupBy, no self-join",
    "x62_pq_topk": "PQ ANN: codes scan + broadcast LUT scoring; exact rerank touches only |Q| x 50 shortlist rows",
    "x63_bloom_decontaminate": "bloom screen: packed filter broadcast, membership is a pure column expression — map-only until the per-doc agg",
    "x64_dsir_weights": "DSIR: 64-row bucket tables, broadcast log-ratio join, scalar percentile — nothing global sorts",
    "x65_incremental_neardup": "incremental near-dup: batch signatures checkpointed once; band joins against history signatures — history text never read",
    "x66_line_dedup": "line dedup: one line-hash aggregate + hash-keyed join back + per-doc agg; no self-join",
    "x67_bpe_pair_counts": "BPE pairs: one corpus scan to vocabulary counts; pair math over distinct words; TakeOrderedAndProject",
    "x68_kmv_corpus_overlap": "KMV: per-half TakeOrderedAndProject to 64 hashes; all estimates from 128-element arrays",
    "x69_ivfpq_topk": "IVF-PQ: probed cells only; residual ADC over codes; broadcast LUT+cell_dot; exact rerank on the shortlist",
    "x70_vocab_coverage": "vocab coverage: one frequency agg + TakeOrderedAndProject top-V; OOV join broadcasts the vocabulary",
    "x71_duplicate_span_trim": "span trim: window-hash agg + hash-keyed join back + per-doc positions agg; no self-join",
    "x72_session_sequences": "session sequences: one per-user window pass + one grouped agg; in-group ordered assembly, no global sort",
    "x73_pmi_collocations": "PMI: PERSISTED vocabulary-sized count tables (each feeds totals + joins), word-keyed joins, TakeOrderedAndProject",
    "x74_bigram_perplexity": "bigram LM: ONE corpus scan (persisted hashed-narrow frame); context counts and V derived from the vocabulary-sized bigram count table",
    "x75_containment_pairs": "containment: ONE corpus scan (persisted hashed shingle frame); rare-shingle (df-capped) blocking, never all-pairs",
    "x76_dd_quantiles": "DDSketch: one grouped count to log-bucket state; quantile lookup windows over hundreds of bucket rows, never the data",
    "x78_contrastive_triplets": "triplets: one embedding scan through the SRP bucket expansion; pos/neg are filters over the symmetrized pairs, hardest-negative is a bounded per-anchor window",
    "x79_cohort_retention": "cohort retention: distinct (user,day) frame feeds both branches; user-keyed aggregates, vocabulary-sized join",
    "x81_session_affinity": "session affinity: pair expansion over per-session TYPE SETS (vocabulary-bounded), never a self-join of the event log",
    "x84_leadlag_xcorr": "lead-lag xcorr: one log pass to hours x types; all lag joins/corr run on the aggregated series only",
    "x86_rfm_segments": "RFM: broadcast quintile boundaries + map-only scoring — no single-partition ntile window (linter-enforced)",
    "x15_ivf_topk": "IVF: broadcast-centroid argmax assignment (corpus never shuffles to assign); probed cells only at search",
    "x37_kmeans_clusters": "k-means: broadcast-argmax per round; the (cell, dim) agg is each round's only shuffle, the corpus never shuffles",
    "x88_bpe_encode": "BPE encode: map-only codegen replace chain — zero exchanges, zero joins, no Python",
    "x89_hll_portable_rollup": "portable HLL: one raw scan to 256-register state; rollup and estimator touch registers only",
    "x90_cluster_topics": "cluster topics: persisted (doc, cell) assignment + persisted tf — Lloyd runs once, corpus explodes once",
    "x91_tokenizer_fertility": "tokenizer fertility: ONE scan — lang-ID and BPE symbol counts in the same projection, 8-group combinable agg",
    "x92_canonical_selection": "canonical selection: p14 closure + quality join + per-component window; membership frame is tiny",
    # round 6: every bench headliner carries a plan audit (VERDICT r5 #3)
    "p04_live_dvr_manifest": "live DVR: ONE per-key tail-window pass + in-group ordered assembly — no global sort",
    "p10_range_join": "range join: equi key keeps it a hash join; the 90-day band is evaluated in the join condition — no nested loop",
    "q16_running_sum": "running sum + lead: ONE per-key window exchange serves both analytics",
    "q40_resample_ffill": "resample+ffill: bounds agg feeds the generated grid; grid-to-hourly join + ffill window on well-spread keys — no per-gap self-join",
    "q41_funnel": "funnel: user-keyed stage aggregates; AQE picks the stage-join strategy (no forced broadcast); only the 1-row total is broadcast",
    "p14_dedup_clusters": "dedup closure: label propagation runs over capped LSH pairs only — corpus text is read once into the persisted signature frame",
    "x14_embedding_neardup": "embedding near-dup: SRP sign-bucket blocking (sum of bucket^2, never n^2); one embeddings scan through the persisted projection frame",
    "x17_tfidf_top_terms": "TF-IDF top terms: corpus explodes once; tf/df/rank shuffles all on well-spread keys",
    "x80_all_but_the_top": "all-but-the-top: ONE corpus scan to dim^2 moment sums; power iteration runs on the driver over a dim x dim matrix",
    "x93_corpus_datasheet": "datasheet: every per-doc signal is a column expression — ONE corpus scan + one per-source 8-aggregate groupBy",
    "x95_pq_index_search": "steady-state PQ search: codes-only ADC scan of the persisted index + broadcast LUT; exact rerank touches only the |Q| x 50 shortlist",
    "x94_curation_pipeline": "composed curation funnel: train text scanned ONCE into the persisted per-doc frame (metrics+fingerprint+signature+gram hashes) — every tier is an InMemoryTableScan reader; eval side scanned for the broadcast gram set + holdout count only; single-partition exchanges are the three 1-row funnel aggregates",
    "x96_split_leakage": "split-leakage audit: p12's LSH pair dataflow + pure-projection split labels on the endpoints; final aggregate bounded by 6 split-pair rows",
    "x97_source_overlap_matrix": "source overlap: one scan + distinct + WindowGroupLimit bottom-64 per source; the sources^2 pair math is broadcast over 64-length arrays",
    "x98_snapshot_drift": "snapshot drift: x93's column-expression signals, one conditional-aggregation pass per snapshot, one groupBy(source) exchange",
    "x99_curriculum_order": "curriculum: broadcast-percentile stage boundaries (x86 pattern, no global sort); position window over balanced (stage, shard) cells",
    "x100_token_budget_plan": "budget plan: distributed per-source aggregate; cross-source float folds over ONE sorted collected array (sources are vocabulary-sized)",
    "x101_phash_image_neardup": "pHash near-dup: one Arrow decode pass (mapInPandas), codegen dHash words, band groupBy + capped block pairs — never a self-join of payloads",
    "x102_doc_fate": "doc fate: pure projection over the SAME persisted flag frame the funnel aggregates — no extra corpus work",
    "x103_audio_fingerprint_neardup": "audio near-dup: one Arrow decode pass, codegen energy-gradient words, band groupBy + capped block pairs — never a self-join of payloads",
    "x104_entity_resolution": "entity resolution: vocabulary-sized token-df broadcast onto the exploded tokens; capped in-block pair expansion (LSH skew-guard machinery); closure over verified matches only — the record set never self-joins. Stage pricing (r11, conjunctive keys + pointer doubling, X104_STAGES.json, best-of-3 over persisted inputs): sf0.1 keys 0.71s | pairs+verify 3.17s | closure 1.73s (1,550 pairs, 3 rounds vs diameter 5); big 10x point keys 0.79s | verify 5.81s | closure 2.95s (15,859 pairs — linear in pairs, 5 rounds vs diameter 6). VERIFY now dominates (r8's closure bottleneck closed by pointer doubling); every stage grows <=1.8x per 10x decade. The scale record's 41s big point was best-of-2 noise + 32-partition saturation (SCALE_ROOTCAUSE.json: 13.4s at 128 partitions, repeats=3)",
    "x105_mmr_rerank": "MMR rerank: corpus touched only by the BM25 shortlist stage (one persisted narrow scan, TakeOrderedAndProject); the n^2 sim matrix is a broadcast self-pair of a constant-size frame",
    "x106_embedding_drift": "embedding drift: one union scan -> one (key, side, dim) aggregate; exact-BIGINT quantized sums make the centroids order-independent; output is keys-sized",
    "x107_key_skew_profile": "skew profile: ONE persisted frequency aggregate per key feeds histogram + top-k; percentile walk over the persisted freq-of-freq rows",
    "x108_shard_manifest": "shard manifest: one scan, one commutative aggregate (bit_xor + modular sums) — invariant to partitioning and task order by construction",
    "x109_cluster_silhouette": "cluster silhouette: trained centroids broadcast as ONE array row (nearest_cells discipline); scoring is map-only over the corpus; one k-row aggregate",
    "x110_manifest_diff": "manifest diff: two one-scan commutative aggregates joined on n_shards rows — the diff itself is corpus-size-independent",
    "x111_srm_check": "SRM audit: ONE corpus scan into one unit-keyed aggregate yielding unit AND row counts; persisted k-row arm table feeds total/chi2/rows",
    "x112_touch_attribution": "touch attribution: ONE user-keyed RANGE window over the event scan — no per-conversion self-join; quantized cents/ms sums",
    "x113_cusum_changepoints": "CUSUM: one log pass to hours x types; recursion rewritten to prefix-sum/prefix-min windows over the tiny grid — no recursion, no Python",
    "x114_pareto_frontier": "pareto frontier: per-bucket max agg + broadcast lower-bucket running max prunes map-side; exact skyline windows touch survivors only, never a corpus-sized global window",
    "x115_quantile_normalized_selection": "quantile normalization: (source, score) histogram windows + broadcast rank-map join-back — the corpus is never sorted",
    "x116_robust_outliers": "median/MAD: both exact medians from count histograms with cumulative counts — data never sorts; scoring joins broadcast k-row stats",
    "x117_rater_agreement": "rater kappa: one scan, one k-row 2x2-cell aggregate; marginal products composed in DOUBLE (no BIGINT n^2 overflow)",
    "x118_benford_audit": "benford: one scan to a 9-row digit aggregate; chi-square rides broadcast back; digit via integer-cents string prefix, no log10",
    "x119_dedup_graph_triangles": "triangles: degree-oriented wedge join over the capped pair set only (out-degree <= sqrt(2m)) — corpus never touched, hub-proof",
    "x120_km_survival": "KM survival: per-user 2-aggregate to durations, duration histogram to risk sets via cumulative counts; product = exp of prefix-summed nano-quantized BIGINT log factors — data never sorts",
    "x121_soft_dedup_sample": "soft dedup: p14 closure supplies cluster ids; cluster sizes broadcast back; the keep decision is a map-only hash draw",
    "x122_prf_expanded_search": "PRF: both BM25 passes ride the persisted narrow tf frame; candidate mining explodes only the fb_k feedback docs; expansion terms are a bounded (top-3) driver literal",
    "x123_score_auc": "ROC-AUC: one scan to a (source, score) histogram; midrank window runs over distinct quantized scores, never corpus rows; final k-row ratio composed in DOUBLE",
    "x124_priority_sample": "priority sample: map-only IEEE priority projection + TakeOrderedAndProject top-(k+1); rank/threshold over the persisted LIMIT-bounded candidates",
    "x125_quality_bootstrap_ci": "bootstrap CI: ONE corpus scan through the 33-replicate explode into a map-side-combined (source, b) aggregate; rank windows over <= 32 rows per source",
    "x126_source_js_divergence": "JS divergence: PERSISTED token histogram feeds totals and both join sides (corpus explodes once); shared-terms-only equi-join on term; k x k skeleton crosses the k-row totals frame",
    "x127_token_gini": "Gini concentration: one scan to a (source, weight) histogram; cumulative-count window over distinct weights only; contributions normalized then pico-quantized BIGINT — no sort, no overflow",
    "x128_signal_rank_corr": "Spearman: two histogram midrank maps joined back on well-spread (source, value) keys; windows over distinct quantized values; nano-quantized BIGINT moment sums",
    "x129_lexical_diversity": "lexical diversity: PERSISTED token histogram feeds totals + Simpson join; one corpus explode, per-source k-row aggregate",
    "x130_capture_recapture": "capture-recapture: PERSISTED distinct (source, fingerprint) frame feeds totals + both join sides; fingerprint equi-join; k x k skeleton of k-row totals",
    "x131_dispersion_index": "dispersion: one log pass to the persisted hours x types grid; exact BIGINT moment aggregate over grid rows only",
    "x132_zipf_fit": "Zipf fit: one token histogram; rank window over distinct terms per source; micro-quantized BIGINT regression moments",
    "x133_packing_efficiency": "packing efficiency: one scan through the per-shard running-sum window, one per-shard aggregate — x27 dataflow with zero extra passes",
    "x134_distinguishing_terms": "fightin-words: one conditional-agg histogram over the two sources, broadcast totals, map-side z, two TakeOrderedAndProject top-ks",
    "x135_cluster_size_distribution": "cluster sizes: LSH closure + component-size agg + size histogram; singleton row is arithmetic from the total, no anti-join",
    "x136_threshold_sensitivity": "threshold curve: one LSH signature pass, 17-row histogram, cumulative window over the aggregate only",
    "x137_readability": "readability: map-only per-doc arithmetic (token array bound once), one per-source aggregate — zero joins",
    "x138_vocabulary_churn": "vocab churn: one unioned conditional-agg histogram (no join), one per-source k-row aggregate",
    "x139_ks_length_drift": "KS drift: PERSISTED length histogram feeds totals + both pair sides (one corpus scan); ECDF align + max-gap windows run over aggregated rows only; k x k skeleton crosses the k-row totals",
    "x140_heaps_fit": "Heaps fit: running-sum window over the NARROW persisted (src, id, nt) frame only — text never rides the per-source sort; offsets join back on the well-spread doc id; regression over <= ~40 checkpoint rows",
    "x141_mann_kendall": "Mann-Kendall: one log pass to the persisted hours x types grid; the C(n,2) pair self-join and Sen median run over AGGREGATED grid rows only — bounded by the time window, never event volume",
    "x142_markov_transitions": "Markov transitions: ONE per-key lag window over the log; transition cells, margins, and entropy all run on the k^2 aggregate",
    "x143_order_value_model": "closed-form OLS: per-order aggregate + one orders join; all nine regression moments accumulate in ONE combinable aggregate — no iterative solver, no driver matrix",
    "x144_lang_source_chi2": "chi2 independence: one corpus scan to the persisted contingency cells; margins/total/grid/statistic all run on r x c rows; zero cells restored by the margin cross",
    "x145_autocorrelation": "ACF: one log pass to the persisted hours x types grid; lag self-join + exact-BIGINT Pearson moments over aggregated rows only (sixth consumer of the shared rollup)",
    "x146_detector_consensus": "detector consensus: ONE log pass to the persisted dense grid; all five detectors (seasonal/robust/CUSUM/dispersion/trend) are readers of the cached grid, composed LAZILY (r13 recovery of the r12 always-eager form — the dedicated count() + eager checkpoint cost two driver jobs per cold build); the shape is pinned by tests/test_plan_shapes.py::test_consensus_grid_pass_and_checkpoint",
    "q47_sole_late_supplier": "TPC-H Q21 shape: the (orderkey, suppkey, late) projection computed ONCE and persisted — semi/anti/probe roles all read the cache; orderkey-equi self-joins; top-20 over the supplier-count aggregate",
    "x147_holt_winters": "Holt-Winters: one log pass to the persisted grid; each type's whole series folds inside ONE row as a codegen array fold — no Python, no driver loop, no iterative jobs",
    "x148_length_psi": "PSI drift: the persisted length histogram (shared with the KS screen) bins map-side; skeleton cross and the quantized term sum run over k x ~20-bin rows only",
    "x149_lsh_calibration": "LSH calibration: ONE LSH pass (banding-only candidacy) + exact verify on candidates only — never n^2; final aggregate is <= 17 rows",
    "x150_session_ngrams": "session n-grams: one sessionize window pass into the PERSISTED per-session frame (denominator + gram counts both read it); in-group trigram expansion; TakeOrderedAndProject",
    "x151_hill_tail_index": "Hill tail index: one corpus explode into the rank window; the PERSISTED (k+1)-per-source head feeds f_(k+1) and the ln-ratio sum",
    "x152_active_users": "DAU/WAU/MAU: corpus reduces to the PERSISTED distinct (user, day) frame first; the 28x grid expansion + three conditional distinct counts run on that aggregate only",
    "x153_quantile_sketch_audit": "quantile audit: the x76 sketch dataflow + one exact-percentile aggregate, joined on 15 rows",
    "x154_cardinality_sketch_audit": "cardinality audit: the x89 register dataflow + one exact distinct aggregate, joined on k rows",
    "x155_bloom_fpr_audit": "bloom FPR audit: persisted distinct build side feeds filter/membership/count; probe is the production broadcast map-only scan; output is ONE row of exact counts",
    "x156_embedding_health": "embedding health: one posexplode into a dim-keyed combinable aggregate — zero joins",
    "x157_fisher_separation": "Fisher separation: one posexplode to (label, dim) moments; the pair join + term sum run on labels x dims rows only",
    "x158_knn_label_agreement": "1-NN agreement: broadcast query sample scored against one corpus scan (p13 dataflow); windows over |Q| rows",
    "x159_nb_classifier": "NB classifier: ONE train-corpus token scan into a persisted (label, tok, c) frame; dense |V|x|L| model broadcast to the score join; argmax window over |docs|x|L| rows",
    "x160_k_anonymity": "k-anonymity: one scan to a QI-class aggregate (QI-cardinality-bounded); per-k report explodes a 4-literal array on that frame",
    "x161_welch_source_pairs": "Welch pairs: one scan to |sources|-row exact BIGINT moments; the pair join is broadcast on that tiny frame",
    "x162_conformal_threshold": "conformal: calibration scan to a distinct-score histogram (quantization-bounded); rank walk on that frame; test scan aggregates vs the |alphas|-row broadcast",
    "x163_retrieval_eval": "retrieval eval: ONE corpus scan into persisted postings; |Q|x3 query terms broadcast into the postings join; metrics windows over |Q| rows",
    "x164_release_audit": "release audit: the per-doc projection is lineage_checkpoint'ed (r9) — downstream families read a LogicalRDD leaf, so the composed plan no longer reprints/re-optimizes the text-scan subtree per reader; sketch audits add one orders + one events scan; every aggregate bounded",
    "x165_ann_recall_audit": "ANN recall audit: broadcast-queries exact baseline (p13 dataflow) vs bucket-cohabitant LSH candidates (x49 dataflow); the hit join runs on |Q| x k rows",
    "x166_padding_efficiency": "padding report: ONE corpus scan into a <=8-row bucket aggregate; the naive baseline re-aggregates the same tiny frame",
    "x167_classifier_calibration": "calibration: the x159 dataflow + a top-2 window over |docs|x|L| rows; the report is a <=12-row bucket aggregate",
    "x168_tokenizer_fertility": "fertility: ONE corpus scan into a |langs|-row exact-BIGINT combinable aggregate — zero joins",
    "x169_quality_length_confound": "confound audit: one scan to the 4 x log2-buckets contingency table; chi2 machinery on the tiny persisted cell frame",
    "x170_truncation_loss": "truncation sweep: ONE corpus scan -> per-doc length -> |max_lens| literal explode -> combinable aggregate",
    "x171_dedup_cluster_profile": "cluster profile: p14's component frame aggregated twice (sizes -> distribution); corpus/clustered totals broadcast one-row aggregates",
    "x172_unigram_lm_train": "unigram-LM training: the audited plan is the RETURNED artifact — the vocab-sized model as a LocalTableScan (0 scans/exchanges BY DESIGN, x77 precedent); the build itself runs ONE corpus scan into the checkpointed word-frequency frame, then map-only codegen Viterbi folds per EM pass (model inlined as a map literal, no joins), driver state bounded by vocab params",
    "x173_unigram_lm_encode": "unigram encode: per-word DP computed once per DISTINCT word, joined back on the well-spread word key; per-doc rollup is one combinable aggregate",
    "x174_tokenizer_compare": "tokenizer compare: two map-only encode passes (BPE replace chain; unigram distinct-word DP join) + one 1-row aggregate each — no new shuffles",
    "x176_tokenizer_audit": "tokenizer audit: four constituents each keep their audited one-scan shape (x174 encodes, x168/x166/x170 single-scan bounded aggregates); the union is a run-rarely gate, not a hot path",
    "x177_conformal_prediction_sets": "conformal sets: x159 scoring dataflow per split (size-gated model join); the rank walk's single-partition window reads the quantization-bounded nonconformity histogram (aggregate child, lint-proven); set scan joins the broadcast |alphas|-row qhat frame. Model/calibration frames are lineage_checkpoint'ed (r9): the dump collapsed from 178 textual scans / 348 exchanges of cache-substitution reprints to 6 scans / 42 exchanges — each remaining node is real work",
    "x178_semantic_decontaminate": "semantic decontamination: SRP buckets map-only on both sides; the candidate join BROADCASTS the eval suite so the train corpus never shuffles on the 16-value bucket key; per-doc argmax window on the well-spread train id",
    "x179_leakage_safe_split": "leakage-safe split: p14 closure on pairs only; one left join on the doc key + map-only md5 bucket arithmetic",
    "x180_vocab_size_sweep": "vocab sweep: three independent train+encode pipelines, each the x172/x173 audited shape; 1-row aggregate per branch",
    "x181_t_closeness": "t-closeness: one scan to the (QI x sensitive) cell frame; exact decimal numerator fold per class; per-t report over the broadcast threshold literals",
    "x182_release_audit_extended": "extended release gate: x164's audited composition rides through verbatim; t-closeness adds one cell-frame aggregate, contamination one broadcast-eval bucket screen",
    "x183_bitext_mining": "bitext mining: both language sides bucket via ONE projection per side (3 SRP tables exploded, never re-scanned); candidates are a shuffle equi-join on the well-spread (tbl, bucket) key (neither side broadcastable at mining scale) deduped on ids; the persisted candidate frame serves the pair scan and both k-NN neighborhood windows",
    "x184_trigram_perplexity": "trigram LM: ONE corpus scan into the persisted six-long narrow frame; all three tier count tables and the scalars derive from that cache; scoring joins on the well-spread trigram hash (x74's audited shape, one tier up)",
    "x186_bitext_recall_audit": "bitext recall audit: exact side is broadcast-queries x target corpus (p13 dataflow, priced by |Q|); blocked flag is a pure array expression on the prep buckets — no second join; top-1 window over |Q|-keyed rows",
    "x187_bitext_margin_sensitivity": "margin sensitivity: ONE threshold-free mining pass (x183's audited dataflow); tier histogram aggregate; the cumulative single-partition window reads the bounded histogram, never pairs",
    "x188_bitext_corpus": "bitext corpus: x185's aligned-pair frame (tiny) joins text back via two id-keyed joins — corpus text read once per side, never shuffled beyond the join",
    "x189_bitext_yield": "bitext yield funnel: three bounded 1-row aggregates over the shared mining dataflow; single-partition exchanges are the three scalar counts",
    "x190_code_switching": "code switching: chunking is a pure projection (x42, zero shuffle); lang-id is codegen marker counting per chunk; only exchanges are doc-keyed count aggregates and rollups",
    "x191_pii_pseudonyms": "pseudonyms: sequential regex extraction is map-only (progressively-redacted text stays one codegen projection); one aggregate on the well-spread surrogate key",
    "x192_effective_token_budget": "effective tokens: p14 capped closure + one membership left join; token counting and survivorship resolve in ONE conditional per-source aggregate over a single corpus scan",
    # round 10: full-registry coverage (VERDICT r9 item 6) — every
    # remaining query gets a committed plan claim
    "q02_filter_pushdown": "TPC-H Q6 shape: all conjunctive predicates pushed to the parquet scan; revenue is per-row codegen — one scan, one 1-row aggregate",
    "q04_join_semi": "EXISTS as LEFT SEMI: the order probe never projects payload columns; semi side filtered before the join",
    "q05_join_anti": "NOT EXISTS as LEFT ANTI: high-value filter pushed below the anti join; no subquery re-scan",
    "q06_join_theta": "theta join: the equi key (nation) keeps it a hash join; the balance inequality folds into the join condition — no nested loop",
    "q07_rollup": "ROLLUP: Catalyst expands to ONE shuffle with a grouping-id expand — no per-level re-scan",
    "q08_cube": "CUBE: one expand + one shuffle for all 2^2 grouping sets — never four scans",
    "q09_distinct_agg": "exact distinct per group: two-phase (partial distinct map-side) aggregate, one key shuffle",
    "q10_histogram": "histogram: CASE bucketing is map-only codegen; one grouped count on the bounded bucket key",
    "q11_seq_gap_detect": "gap detect: ONE per-user window shuffle (lag), then a per-user aggregate — the reference's per-event Python loop as two exchanges total",
    "q12_latest_per_key": "top-1 per key: row_number window, rn=1 filter pushed into WindowGroupLimit (per-partition top-1 before the shuffle)",
    "q13_tail_window": "trailing-N per key: desc row_number with WindowGroupLimit — each key materializes at most N rows past the window",
    "q14_dvr_window_start": "DVR base arithmetic: one per-key window for the synthesized index; greatest() is map-only codegen",
    "q15_rank_in_group": "rank windows: one nation-keyed exchange serves rank AND dense_rank; top-5 filter becomes WindowGroupLimit",
    "q17_orderby_limit": "ORDER BY+LIMIT: TakeOrderedAndProject — per-partition top-k then a tiny driver merge, no global sort",
    "q18_topk_per_group": "top-k per group: ranked window with WindowGroupLimit (map-side partial top-k under AQE)",
    "q19_union": "UNION ALL: both branch scans stay parallel; the re-aggregation is the only shuffle",
    "q20_intersect": "INTERSECT: compiles to a left-semi hash aggregate — distinct + semi join, no cartesian",
    "q21_except": "EXCEPT: left-anti on the distinct frame; the high-balance filter pushed to the supplier scan",
    "q22_scalar_checksum_paths": "scalar surface: md5/format_string/substr/pmod all JVM codegen in ONE projection — zero exchanges",
    "q23_time_buckets": "time buckets: date_trunc is map-only; one grouped count on the (hour) key",
    "q24_json_extract": "from_json: schema-bound decode as a column expression in the scan projection — no Python, no shuffle before the aggregate",
    "q25_conditional_defaults": "coalesce/CASE defaults: pure codegen projection; single aggregate exchange",
    "q26_union_by_name": "unionByName: two branch aggregates feed one union — branch shuffles are independent, no re-sort",
    "q27_pivot": "pivot with explicit value list: NO extra distinct-scan pass; one grouped pivot aggregate",
    "q28_grouping_sets": "GROUPING SETS via spark.sql: parser->analyzer->same single expand+shuffle plan as the DataFrame form",
    "q29_window_analytics": "analytic windows: ntile/percent_rank/cume_dist/lead/lag + RANGE frame all share ONE o_custkey exchange",
    "q31_percentiles": "exact percentiles: one grouped percentile aggregate — sort happens within groups, no global sort",
    "q32_skew_topk": "salted top-k: per-(key,salt) partial rank caps any single task at the salt-bucket size; final rank over <= k*buckets survivors",
    "q34_correlated_avg_subquery": "TPC-H Q17 shape: decorrelated to one grouped aggregate joined back on the correlation key (partkey) — no per-row subquery",
    "q35_set_ops_all": "INTERSECT/EXCEPT ALL: bag semantics via hash aggregate with count columns — no row-number self-join",
    "q36_null_aware_windows": "IGNORE NULLS/nth_value: all null-aware functions ride ONE per-key window exchange",
    "q37_array_functions": "array surface: size/sort/slice/distinct all JVM-side in one projection — zero exchanges before the limit",
    "q38_string_functions": "string surface: levenshtein/translate/pad/reverse as codegen; map-only until the aggregate",
    "q39_datetime_functions": "datetime surface: extraction/boundaries/arithmetic are pure projections; ISO-string casts keep the oracle exact",
    "q42_cohort_retention": "cohort retention: per-user first-week aggregate joins WITHOUT a broadcast hint (user-cardinality side, AQE decides); only the calendar-bounded cohort sizes broadcast",
    "q43_map_functions": "map surface: create/concat/transform_values/filter/explode — one projection chain, value-checked through the exploded form",
    "q44_trailing_24h_frame": "24h RANGE frame: epoch-seconds ordering makes frame membership engine-exact; ONE per-user window exchange",
    "q46_scd2_intervals": "SCD2: one per-key window pass (lead for valid_to); the history table is the as-of join target",
    "p02_checksum_validation": "checksum validation: failure predicate is a pure column expression; one labeled-counter aggregate",
    "p03_vod_manifest": "VOD manifest: ONE groupBy + in-group array_sort + string render — replaces the reference's per-event S3 read-modify-write",
    "p05_variant_explode": "variant explode: literal-array explode (lateral view) is map-only fan-out — zero shuffle",
    "p06_latency_histogram": "latency histogram: CASE bucket expression + one grouped count on the bounded bucket key",
    "p07_sessionization": "sessionization: lag + cumulative boundary sum in ONE per-user window exchange; session agg reuses the partitioning",
    "p08_idempotent_replay": "idempotent replay: doubled input deduplicates on the compound key in one hash aggregate — no sort, no window",
    "p09_asof_enrich": "as-of join: union + running-max window on the key partitioning — no per-row subquery, no range self-join",
    "p11_dedup_exact": "exact dedup: one fingerprint hash shuffle; canonical survivor via min within the group",
    "x02_ngram_jaccard": "blocked Jaccard verify: first-words blocking bounds candidates; exact set math only on blocked pairs",
    "x04_simhash": "SimHash: explode -> 64 signed bit sums in ONE combinable aggregate -> pack; no joins",
    "x06_lsh_cosine_topk": "SRP-LSH top-k: quantized bucket assignment map-only; candidates from the bucket equi-join, never all-pairs",
    "x07_lang_id": "lang-id: marker counting + fixed-order argmax as pure codegen — map-only before the limit",
    "x08_text_quality": "quality scores: every signal a codegen built-in over the token array bound once — zero exchanges",
    "x09_multimodal_decode": "multimodal decode: binary column through ONE Arrow mapInPandas batch boundary; metadata projection JVM-side after",
    "x10_frame_sample": "frame sampling: sequence+explode lateral expansion — map-only fan-out, no shuffle",
    "x11_embedding_centroids": "centroids: posexplode + ONE (label, dim)-keyed grouped avg — the vector-aggregation primitive as a single shuffle",
    "x12_token_stats": "token stats: whitespace/BPE-regex/bytes counts in one projection — one scan, no shuffle",
    "x13_rolling_fingerprint": "rolling hash: polynomial fold over the token array via aggregate() codegen; one group-size aggregate",
    "x16_winnow_fingerprints": "winnowing: k-gram hashes + window-min as array expressions; one explode into the fingerprint aggregate",
    "x18_hll_user_rollup": "HLL rollup: ONE raw pass to per-(type, day) registers; weekly view is register max-merge — raw data never rescanned",
    "x19_audio_window_features": "audio features: ONE Arrow decode pass (mapInPandas); windowed RMS/peak JVM-side after the batch boundary",
    "x20_profile_events": "profile: nulls/cardinalities/ranges for every column in ONE aggregate pass (oracle needs six scans)",
    "x22_quantize_embeddings": "int8 quantization: scale/code/dequant-error all array expressions — map-only, zero exchanges",
    "p15_verified_neardups": "two-phase near-dup: LSH candidates first; exact Jaccard touches O(|candidates|), never n^2",
    "p16_deduplicated_corpus": "dedup end-product: closure labels join back LEFT on doc_id; kept flag is map-only over the joined frame",
    "x26_train_split": "hash split: md5(doc_id) assignment is a pure projection (stable under corpus growth); the registered accounting adds one 3-row split aggregate",
    "x28_stratified_sample": "stratified sample: salted-hash rank within each stratum partition — each stratum sorts only its own rows",
    "x29_repetition_stats": "repetition: two map-side-combinable aggregates — (doc, gram) then doc; no joins",
    "x30_source_mixture": "mixture weights: two tiny broadcast-joined aggregates over ONE corpus scan",
    "x31_curation_funnel": "funnel: three per-doc flags on one scan lineage join on doc_id; the funnel is four tiny conditional aggregates",
    "x32_unigram_logprob": "unigram scoring: frequency table joins back on the well-spread token key — no driver-side model state",
    "x34_url_blocklist": "URL rollup: regex extraction codegen; one domain-keyed aggregate; blocklist as literal IN (broadcast semi at real size)",
    "x35_edit_distance_pairs": "banded Levenshtein: blocking bounds pairs; band caps per-pair cost at O(len*100) with early exit",
    "x39_count_min_heavy_hitters": "CMS: 1024-counter sketch from one grouped aggregate; estimation broadcasts the sketch — corpus never rescanned",
    "x40_shared_spans": "shared spans: one fingerprint-keyed aggregate over the winnowing set — no pairwise comparison anywhere",
    "x41_token_budget_sample": "budget sample: salted-hash rank + cumulative token sum in one per-source window — never a driver loop",
    "x43_quality_yield_curve": "yield curve: one scan + literal threshold fan-out into a bounded conditional aggregate",
    "x44_simhash_neardup": "SimHash near-dup: 16-bit band groupBy + capped expansion; exact Hamming via bit_count(XOR) on candidates only",
    "x46_length_outlier_trim": "length trim: exact per-source percentile aggregate broadcast back; the keep filter is map-only",
    "x48_union_neardup_verify": "dual detector: full outer join of two CANDIDATE sets (blocking-bounded); exact verify on the union only",
    "x49_multi_table_lsh": "multi-table LSH: 3 bucket joins unioned + per-pair dedup; each table's candidates bounded by its buckets",
    "x58_quality_weighted_sample": "weighted sample: md5 uniform draw vs score threshold — map-only, zero shuffle",
    "x77_bpe_train": "BPE train: vocabulary-sized pair counts per round; driver holds only the merge list (sanctioned iterative pattern)",
    "x82_correlation_matrix": "correlation screen: all pairwise co-moments in ONE combinable aggregate — a single scan, never k^2 passes",
    "x83_rake_keyphrases": "RAKE: regex phrase split map-only; word/phrase stats vocabulary-sized; TakeOrderedAndProject ranks",
    "x85_seasonal_anomalies": "seasonal anomalies: one log pass to the dense grid; leave-one-out baselines on 24 x |types| rows only",
    "x87_decontaminate_tiered": "tiered decontamination: Bloom screen map-only corpus-wide; exact gram join on suspects; containment on the gray zone only — cost escalates, population shrinks",
    "x175_int8_quantization": "int8 audit: per-vector scale/codes/fidelity as array expressions — map-only, zero exchanges",
    "x185_bitext_mutual_best": "mutual-best alignment: two ranked windows over the thresholded margin frame — no scans beyond x183's dataflow",
    "x193_substring_dedup": "substring dedup: window-hash frequency aggregate (well-spread 60-bit key) + hash join-back + per-doc gaps-and-islands window — no pairwise expansion, no caps needed",
    "x194_substring_dedup_clean": "substring dedup apply: x193's hash dataflow + one per-hash canonical window (row_number on the well-spread hash) + map-only higher-order token filter — corpus text read once, no pairwise expansion",
    "x195_self_repetition_trim": "self-repetition trim: per-(doc, hash) repeat window partitioned on the doc id (composes with corpus partitioning, no skewed-key shuffle) + the shared map-only edit applier",
    "x196_incremental_substring_clean": "incremental substring clean: batch windows join the persisted hash SET only (semi/anti membership) — history text never re-read; batch-internal canonicals via one hash-keyed window",
    "q48_order_count_distribution": "Q13 shape: filter rides the OUTER JOIN condition (zero-order customers survive); one customer-key shuffle; second aggregate over the tiny count domain",
    "q49_top_revenue_supplier": "Q15 shape: shipdate band pushed to the scan; the revenue view persists once for rows + max; supplier dimension broadcasts",
    "q50_large_volume_orders": "Q18 shape: ONE order-key lineitem aggregate; only the HAVING survivors drive the enrichment joins (AQE picks the strategy)",
    "q51_dormant_rich_customers": "Q22 shape: broadcast one-row exact-cents average (no float boundary); anti join on the well-spread customer key; 7-code rollup",
    "q52_region_pair_volume": "Q7 shape: both dimension stacks broadcast after pushed region filters; fact and orders shuffle once on the order key",
    "q53_resample_ffill_capped": "q40's grid with the span-axis loud cap engaged (max_grid_hours=168): same two-shuffle shape, per-key sequence clamped via least() so grid rows are bounded keys x 168 regardless of archive span; truncation carried as an explicit grid_truncated flag (SPAN_PROBE.json prices the uncapped axis)",
    "q54_shipping_priority": "Q3 shape: segment filter inside the broadcast customer build, date filters pushed to both fact scans, one group shuffle, TakeOrderedAndProject top-10 with deterministic tiebreaks",
    "q55_returned_item_ranking": "Q10 shape: returnflag + date filters pushed, customer/nation broadcast, one customer-group shuffle, TakeOrderedAndProject top-20",
    "q56_order_priority_pipeline": "Q4 shape: EXISTS with a correlated non-equi date condition -> left SEMI join carrying the >30-day predicate; both date filters pushed to the orders scan; no forced hint (both sides scale)",
    "q57_promo_revenue_share": "Q14 shape: conditional aggregate over a broadcast dim join — promo and total sums in ONE fact pass, date filter pushed to the lineitem scan",
    "q58_disjunctive_brackets": "Q19 shape: OR-of-ANDs spanning the join; Catalyst extracts single-side conjuncts (brand/size disjunction prunes the part build, quantity 1-30 envelope pushes to the lineitem scan) and evaluates the full disjunction on joined rows",
    "q59_market_share": "Q8 shape: share-of-group ratio over a two-sided dimension join — supplier nation labels the numerator, customer region (pushed into its broadcast stack) filters the market; numerator CASE and denominator in ONE grouped fact pass",
    "q60_correlated_scalar_avg": "Q17 raw correlated form: Catalyst DECORRELATES the per-part scalar AVG subquery to one grouped aggregate broadcast-joined back on the correlation key — 3 scans / 1 exchange / 2 broadcast joins, never a per-row fact re-scan (q34 is the same semantics pre-lowered by hand)",
    "q61_nested_semi_aggregate": "Q20 shape, raw nested-IN form: the part-name IN lowers to a semi join BELOW the (suppkey, partkey) aggregate, the outer IN to a semi join against the tiny HAVING survivor set — fact scanned once, 2 semi joins, 1 exchange",
    "q62_correlated_exists_pair": "Q21 raw correlated form: EXISTS and NOT EXISTS (each with a non-equi suppkey<> conjunct riding the orderkey correlation) lower to one left-SEMI + one left-ANTI join — no per-row re-scan; the CTE inlines 3x (7 textual scans), which is why q47's persisted hand-lowering stays the production form",
    "q63_scalar_equality_correlation": "Q2 shape, raw correlated form: a scalar MAX subquery used as an EQUALITY predicate decorrelates to aggregate-then-join with the aggregate value as a SECOND equi-key alongside the correlation key (per-group argmax as a pure hash join); 0 subquery nodes, TakeOrderedAndProject top-100 under a total deterministic order",
    "x197_quality_budget_threshold": "budget threshold: one scan to a quality-level aggregate (value-set bounded); cumulative window over those few rows (aggregate child); broadcast scalar budget join",
    "x198_materialize_mixture": "materialize mixture: x30's n_sources-row weight aggregates broadcast; ONE per-source cumulative window over the salted ranking; per-source summary aggregate",
}


def pushdown_ratio(fmt: str) -> tuple[int, int]:
    """(scans with nonempty pushed filters, ALL data-bearing parquet
    scans) from the FORMATTED explain — the simple-mode toString
    truncates each FileScan line at ~150 chars, silently dropping the
    PushedFilters attribute of wide scans, which made the old ratio's
    denominator under-count (VERDICT r11 item 5: q58 read 1/1 while
    listing 2 scans).  Formatted mode prints one untruncated
    PushedFilters line per scan node, so numerator and denominator
    come from the same lossless source."""
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", fmt))
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", fmt)
    nonempty = [p for p in pushed if p.strip()]
    return len(nonempty), max(n_scans, len(pushed))


def summarize(plan: str, fmt: str | None = None) -> str:
    out = []
    n_scans = plan.count("Scan parquet")
    n_cached = plan.count("InMemoryTableScan")
    if n_cached:
        # each InMemoryTableScan re-prints the cached child's scan, so
        # textual scans == cached readers means ONE physical scan
        out.append(
            f"- parquet scans (textual): {n_scans}, cached readers: {n_cached}"
            + (" — single physical scan via persisted frame" if n_scans == n_cached else "")
        )
    else:
        out.append(f"- parquet scans: {n_scans}")
    out.append(f"- shuffle exchanges: {plan.count('Exchange hashpartitioning')}")
    out.append(f"- broadcast joins: {plan.count('BroadcastHashJoin')}"
               f" | sort-merge joins: {plan.count('SortMergeJoin')}")
    n_pushed, n_all = pushdown_ratio(fmt if fmt is not None else plan)
    out.append(f"- scans with pushed filters: {n_pushed}/{n_all}")
    for rs in re.findall(r"ReadSchema: struct<([^>]*)", plan)[:4]:
        cols = rs.count(":")
        out.append(f"- scan reads {cols} columns: `{rs[:90]}`")
    return "\n".join(out)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="plan_audit")
    lines = [
        "# PLANS — physical-plan audit",
        "",
        f"Generated by `tools/dump_plans.py` against `{sf_dir}`.",
        "Evidence that the declared plans compile to the physical shapes",
        "the 100 TB design calls for (README §Scale design).",
        "",
    ]
    explain_mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode
    for name, claim in AUDITED.items():
        df = QUERIES[name].builder(spark, sf_dir)
        qe = df._jdf.queryExecution()
        plan = qe.executedPlan().toString()
        fmt = qe.explainString(explain_mode.fromString("formatted"))
        lines += [f"## {name}", "", f"*Claim:* {claim}", "",
                  summarize(plan, fmt), ""]
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           "PLANS.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
