from .stats import (
    column_histogram,
    column_profile,
    count_min_estimates,
    count_min_merge,
    count_min_table,
    top_values,
)
from .uniqueness import duplicate_keys
from .referential import orphan_keys, orphan_rows
from .drift import (
    drift_between_sketch_tables,
    psi_drift,
    quantile_drift,
    quantile_sketch_table,
)
from .dedup import (
    exact_duplicates,
    minhash_lsh_candidates,
    minhash_signatures,
    minhash_signatures_oph,
    ngram_jaccard_pairs,
    simhash,
    simhash_candidates,
    simhash_duplicates,
    winnowing_fingerprints,
)
from .similarity import ann_lsh_topk, cosine_self_join_topk, cosine_topk
from .text import (
    doc_fingerprint,
    language_guess,
    quality_score,
    text_stats,
    token_count,
)
from .multimodal import (
    extract_media_metadata,
    resize_images,
    sample_frames,
    synth_media_payloads,
)
from .setops import domain_diff, domain_values

__all__ = [
    "column_profile",
    "column_histogram",
    "count_min_estimates",
    "count_min_merge",
    "count_min_table",
    "top_values",
    "duplicate_keys",
    "orphan_rows",
    "orphan_keys",
    "psi_drift",
    "quantile_drift",
    "quantile_sketch_table",
    "drift_between_sketch_tables",
    "exact_duplicates",
    "minhash_lsh_candidates",
    "minhash_signatures",
    "minhash_signatures_oph",
    "ngram_jaccard_pairs",
    "simhash",
    "simhash_candidates",
    "winnowing_fingerprints",
    "simhash_duplicates",
    "ann_lsh_topk",
    "cosine_self_join_topk",
    "cosine_topk",
    "doc_fingerprint",
    "language_guess",
    "quality_score",
    "text_stats",
    "token_count",
    "extract_media_metadata",
    "resize_images",
    "sample_frames",
    "domain_diff",
    "domain_values",
    "synth_media_payloads",
]
