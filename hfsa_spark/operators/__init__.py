"""Report operators (SURVEY.md §2) — each a declarative DataFrame builder
over the canonical ``inodes`` table, plus the beyond-reference training-data
pipeline operators (dedup, similarity, text, multimodal)."""

from hfsa_spark.operators.rollup import ancestor_rollup
from hfsa_spark.operators.summary import summary_report
from hfsa_spark.operators.smallfiles import small_files_report
from hfsa_spark.operators.userusage import user_usage_report
from hfsa_spark.operators.pathreport import path_report
from hfsa_spark.operators.inodeinfo import inode_info
from hfsa_spark.operators.dedup import (
    bloom_build,
    bloom_dedup,
    bloom_might_contain,
    connected_components,
    duplicate_char_ratio,
    duplicate_substring_spans,
    exact_dedup,
    exact_dedup_groups,
    nfc_dedup_groups,
    minhash_lsh_candidates,
    minhash_signature,
    ngram_jaccard_pairs,
    simhash,
    simhash_neardup_pairs,
)
from hfsa_spark.operators.asof import asof_join
from hfsa_spark.operators.events import funnel_stage_counts, resample_ffill
from hfsa_spark.operators.features import (
    percentile_filter,
    quality_drift_psi,
    zscore_standardize,
)
from hfsa_spark.operators.graph import (
    canonical_edges,
    degree_distribution,
    triangle_count,
)
from hfsa_spark.operators.packing import pack_sequences, packing_efficiency
from hfsa_spark.operators.rangejoin import range_join
from hfsa_spark.operators.sampling import (
    fixed_size_sample,
    interleave_order,
    hash_split,
    mixture_sample,
    stratified_sample,
    token_budget_filter,
    weighted_sample,
)
from hfsa_spark.operators.sketches import (
    approx_distinct_report,
    approx_quantile_report,
)
from hfsa_spark.operators.jpeg import decode_jpeg, encode_jpeg
from hfsa_spark.operators.similarity import (
    cosine_topk,
    cosine_topk_lsh,
    embedding_near_dup_pairs,
    exact_topk_arrow,
    ivf_assign,
    ivf_assign_arrow,
    ivf_topk,
    ivf_topk_indexed,
    kmeans_iterate,
    l2_normalize_df,
    pq_adc_rerank_topk,
    pq_adc_topk,
    pq_adc_topk_arrow,
    pq_codebooks_from_seeds,
    pq_encode,
    pq_mse,
    pq_train,
    quantize_embeddings,
    write_ivf_index,
)
from hfsa_spark.operators.text import (
    benchmark_contamination,
    tokenizer_byte_fertility,
    tokenizer_fertility,
    chunk_documents,
    next_token_stats,
    regex_redact,
    repetition_profile,
    tfidf_top_terms,
    vocab_top_terms,
)

__all__ = [
    "ancestor_rollup",
    "summary_report",
    "small_files_report",
    "user_usage_report",
    "path_report",
    "inode_info",
    "exact_dedup",
    "exact_dedup_groups",
    "minhash_signature",
    "minhash_lsh_candidates",
    "simhash",
    "simhash_neardup_pairs",
    "ngram_jaccard_pairs",
    "connected_components",
    "asof_join",
    "funnel_stage_counts",
    "resample_ffill",
    "percentile_filter",
    "quality_drift_psi",
    "zscore_standardize",
    "canonical_edges",
    "degree_distribution",
    "triangle_count",
    "pack_sequences",
    "packing_efficiency",
    "interleave_order",
    "range_join",
    "cosine_topk",
    "cosine_topk_lsh",
    "decode_jpeg",
    "encode_jpeg",
    "embedding_near_dup_pairs",
    "exact_topk_arrow",
    "ivf_assign",
    "ivf_assign_arrow",
    "ivf_topk",
    "ivf_topk_indexed",
    "kmeans_iterate",
    "pq_adc_rerank_topk",
    "pq_adc_topk",
    "pq_adc_topk_arrow",
    "pq_codebooks_from_seeds",
    "pq_encode",
    "pq_mse",
    "pq_train",
    "l2_normalize_df",
    "quantize_embeddings",
    "write_ivf_index",
    "hash_split",
    "stratified_sample",
    "fixed_size_sample",
    "weighted_sample",
    "mixture_sample",
    "token_budget_filter",
    "approx_distinct_report",
    "approx_quantile_report",
    "chunk_documents",
    "next_token_stats",
    "repetition_profile",
    "benchmark_contamination",
    "tokenizer_byte_fertility",
    "tokenizer_fertility",
    "tfidf_top_terms",
    "vocab_top_terms",
    "regex_redact",
]
