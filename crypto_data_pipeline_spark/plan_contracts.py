"""Declared plan contracts — the named allowances the plan doctor
(tests/test_plan_doctor.py) enforces and tools/plan_audit.py reports.

One definition feeds BOTH the suite's hard screens and the committed
PLAN_AUDIT.md verdict column, so an allowance cannot drift between
what the tests tolerate and what the audit documents. Every entry is
a DECLARATION with its justification beside it: a zero-partition
window that IS the contract, a broadcast nested-loop join whose
broadcast side is contractually tiny, an Arrow-batched Python stage
that is the operator's design, or a driver collect whose row count is
bounded by CONFIG (never corpus size).
"""

from __future__ import annotations

# Queries whose plans legitimately contain a ZERO-PARTITION Window —
# the anti-pattern that funnels every input row through ONE task
# (round-9 finding: the DSIR gate query shipped one). Every allowance
# is a query whose CONTRACT is a global rank over a bounded or
# driver-SF frame, each with a scale-safe sibling:
GLOBAL_WINDOW_OK = {
    "value_ntile_deciles",    # global decile assignment IS the contract;
                              # value_percentiles is the sketch twin
    "zipf_rank_frequency",    # global frequency rank over the (pruned)
                              # vocab frame — rank IS the Zipf x-axis
    "vocab_coverage",         # cumulative-coverage curve needs the same
                              # vocab total order (min_count-pruned frame)
    "dsir_resample_exact",    # the DECLARED exact-top-k oracle twin of
                              # the quantile path (operators/dsir.py)
    "dsir_resample_gumbel",   # same duty for the Gumbel draw
}

# Queries whose plans legitimately contain a BroadcastNestedLoopJoin:
# every entry ships a broadcast side that is contractually tiny.
BNLJ_OK = {
    "embedding_topk_bruteforce",   # 10 query vectors broadcast over the corpus
    "embedding_topk_crossjoin",    # exactness baseline, same broadcast side
    "embedding_topk_quantized",    # quantized twin of the same shape
    "embedding_similar_pairs",     # label-blocked pairs, broadcast block stats
    "embedding_ann_ivf",           # nprobe cell ids broadcast to the index scan
    "embedding_ann_ivf_fixed",
    "embedding_ann_lsh",           # query-bucket list broadcast
    "embedding_ann_lsh_multiprobe",  # same broadcast, (1+q)x the keys
    "embedding_bucket_dedup",
    "embedding_quantize_int8",     # 1-row global bounds frame
    "zorder_cluster_keys",         # 1-row quantizer bounds frame
    "skew_key_shares",             # 1-row grand-total frame
    "tfidf_top_terms",             # 1-row corpus doc-count frame
    "boilerplate_ratio",           # 1-row fingerprint-total frame
    "value_histogram",             # 1-row min/max bounds frame
    "quality_unigram_logprob",     # 1-row vocab-total + tercile-bounds frames
    "bm25_retrieval",              # 1-row (N, avgdl) corpus-totals frame
    "mix_temperature_sampling",    # 1-row census-totals frame
    "pack_token_budget",
    "dsir_importance_resample",    # two 1-row corpus-totals frames (T, S)
    "dsir_resample_exact",         # same fit path, same totals frames
    "dsir_resample_gumbel",        # same fit path, same totals frames
    "dsir_resample_gumbel_quantile",  # same fit path, same totals frames
    "dedup_minhash_portable",      # broadcast candidate-id prune
    "dedup_minhash_incremental",   # same prune over the at-rest sigs
    "dedup_staged_pipeline",       # same portable-minhash candidate prune
    "corpus_curation_pipeline",    # minhash prune + census-totals frames
    "contamination_ngram",
    "contamination_semantic",      # 1-row collect_list benchmark frame
    "chi_square_independence",     # 1-row grand-total frame
    "psi_value_drift",             # 1-row halves-total frame
    "nb_lang_classifier",          # classes-row prior frame (5 rows) + 1-row vocab/total frames
    "vocab_coverage",              # 1-row corpus-token-total frame
    "embedding_pq_topk",           # 10 query distance-tables (m×k doubles each) broadcast
    "embedding_knn_classify",      # 20 query vectors broadcast (brute-force top-k stage)
    "embedding_mmr_topk",          # 10 query vectors broadcast (candidate top-k stage)
    "heavy_hitter_tokens",         # 1-row stream-total frame (threshold test)
    "embedding_rp_topk",           # 10 projected query vectors broadcast
}

# Arrow-batched Python (mapInPandas / applyInPandas / pandas UDF) is a
# declared design choice in these paths only.
ARROW_OK = {
    "multimodal_pipeline", "multimodal_ingest", "multimodal_features",
    "multimodal_frames",
    "sessionize_stateful",         # applyInPandasWithState twin
    "embedding_topk_bruteforce",   # partition-local Arrow top-k
    "embedding_topk_quantized",
    "model_comparison", "model_comparison_sanity",  # Spark ML internals
    "linear_ridge_closed_form",
    "doc_chunks_udtf",             # ArrowEvalPythonUDTF — the §2.10 table-function surface
    "embedding_mmr_topk",          # greedy MMR chain: applyInPandas over pool-sized groups
    "embedding_pq_codes",          # vectorized numpy PQ encode (mapInPandas)
    "embedding_pq_topk",           # same encode feeding the ADC scan
    "embedding_ann_ivfpq",         # same encode over the IVF-assigned corpus
    "embedding_ann_ivf_fixed",     # vectorized numpy cell assignment (mapInPandas)
    "cluster_balanced_sample",     # same fixed-quantizer assignment
    "semantic_dedup",              # same fixed-quantizer assignment
    "heavy_hitter_tokens",         # bounded-memory Misra-Gries prune (mapInPandas)
    "embedding_rp_topk",           # vectorized numpy JL matmul (mapInPandas)
    # round 13: query-side LSH probe keys via one Arrow mapInPandas
    # over the 10-row query batch (similarity.lsh_query_keys) — the
    # expression forms cost ~1s/call of Catalyst work on an 80 KB
    # plane-literal tree; keys pinned bit-identical in
    # tests/test_dedup_similarity.py
    "embedding_ann_lsh",
    "embedding_ann_lsh_multiprobe",
}


# The driver-traffic screen (round 11; VERDICT r10 what's-missing #2):
# every .collect()/.toPandas() site in the package must live in a
# function declared here with its one-line BOUND justification — the
# driver-side analog of GLOBAL_WINDOW_OK. "Bounded" means the row
# count collected is a function of CONFIG (n_bins, n_centroids,
# classes, batch size), never of corpus size. Keys are
# "relpath:qualname" from observability.driver_collect_sites.
DECLARED_DRIVER_SCALARS = {
    "cli.py:cmd_get_history":
        "CLI display path — rows already LIMITed by the query contract",
    "operators/bpe.py:top_pair":
        "1 row: argmax pair per merge round (merge table config-bounded)",
    "operators/contamination.py:decontaminate_stream":
        "benchmark-suite n-gram list — contractually small eval set",
    "observability.py:global_window_nodes.walk":
        "py4j Scala Seq .head() on a plan node's expression list — "
        "not a DataFrame fetch at all",
    "ml/regression.py:regression_metrics":
        "1 row of metric sufficient statistics (n, Σe², Σ|e|, var(y)) "
        "per model evaluation",
    "operators/dsir.py:dsir_kth_weight":
        "fixed-width histogram rows (≤ weight_range/n_bins + 1 bins, "
        "≤ n_bins for the bounded log-ratio weight domain) + ≤ n_bins "
        "finals rows — never doc rows",
    "operators/expectations.py:check":
        "1 row of rule-violation counters per expectation battery",
    "operators/expectations.py:enforce":
        "same 1-row counter frame as check (shared helper)",
    "operators/graph.py:connected_components":
        "1 scalar changed-labels count per iteration (convergence test)",
    "operators/graph.py:connected_components_star":
        "1 row (edge count, xxhash64 set signature) per iteration (convergence test)",
    "operators/similarity.py:brute_force_topk_arrow":
        "contractual query batch (10 vectors) for the broadcast side",
    "operators/similarity.py:build_fixed_ivf_index":
        "n_centroids centroid rows — build config, not corpus",
    "operators/similarity.py:ivf_expected_candidate_fraction":
        "cell histogram ≤ n_centroids rows + one scalar average row",
    "operators/similarity.py:kmeans_fit_sample":
        "hash-stride training sample ≤ ~sample_cap rows (config: "
        "max(4096, 256·k)) — FAISS-style bounded quantizer training, "
        "never corpus-proportional",
    "operators/similarity.py:ivf_candidate_fraction_curve":
        "cell histogram ≤ n_centroids rows + one max_nprobe-wide "
        "scalar row (the whole curve in one pass)",
    "operators/similarity.py:lsh_expected_candidate_fraction":
        "per-table moments — exactly `tables` rows",
    "operators/similarity.py:build_fixed_pq_codebook":
        "m×k codebook seed rows — build config, not corpus",
    "plans/core_queries.py:cdc_apply_changes":
        "distinct _batch_id list of the delivered change set (bounded "
        "by deliveries, the CDC contract)",
    "plans/core_queries.py:chi_square_independence":
        "1-row grand-total frame feeding the test statistic",
    "plans/core_queries.py:psi_value_drift":
        "1-row halves-total frame",
    "plans/extension_queries.py:hll_set_ops":
        "fixed 2^p HLL register arrays (two sketches) — config-bounded",
    "plans/io_queries.py:scalar_function_block":
        "1-row max-date frame anchoring the date_sub window",
    "sources/upsert.py:upsert_parquet_incremental":
        "distinct month-partition keys touched by THIS delivery",
    "streaming/ingest.py:_bootstrap_covers":
        "1-row min/max bounds of the already-ingested store",
}


# The marginal-vs-joint hash screen (round 12; VERDICT r11 next #1):
# every call site of the AFFINE portable hash (hash_bucket /
# sql_hash_bucket) must be declared here with a one-line justification
# that its contract is a PER-KEY MARGINAL — a keep/split threshold
# compared against a constant or per-group literal, where the affine
# lattice is harmless (often preferable: systematic sampling). A site
# whose body ALSO ranks/sorts/extremizes over the hash fails the suite
# outright with no declaration accepted (observability.joint_hash_sites
# — the class that shipped the r10 MinHash-mask, r11 HLL + Gumbel, and
# r12 A-ES bugs). Joint/extreme-value statistics must use
# avalanche_bucket / sql_avalanche_bucket instead. Keys are
# "relpath:qualname".
MARGINAL_CONTRACT_OK = {
    "operators/sampling.py:deterministic_sample":
        "keep iff hash < fraction*MOD — per-key threshold marginal",
    "operators/sampling.py:split_column":
        "split label from hash vs cumulative-weight cutpoints — "
        "per-key threshold marginal",
    "operators/sampling.py:weighted_mix":
        "keep iff hash < per-stratum literal rate — per-key threshold "
        "marginal (strata thresholds are CASE literals, not ranks)",
    "operators/sampling.py:sql_split_case":
        "SQL twin of split_column — same cutpoint thresholds",
    "operators/sampling.py:temperature_mix_flags":
        "keep iff hash < per-language census threshold — per-key "
        "threshold marginal; realized proportions probed vs the "
        "temperature target (tools/stat_contract_probe.py, round 12)",
    "plans/extension_queries.py:sample_hash_10pct":
        "oracle twin of deterministic_sample's threshold",
    "plans/extension_queries.py:mix_rebalance_langs":
        "oracle twin of weighted_mix's per-stratum threshold",
    "plans/extension_queries.py:_mix_keep_sql":
        "oracle twin of temperature_mix_flags' census threshold",
    "plans/extension_queries.py:sampling_membership":
        "all three membership flags are threshold/split marginals "
        "(10% keep, 80/10/10 split, language rebalance)",
}
