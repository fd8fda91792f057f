"""Curated public combinator surface — the reusable DataFrame operators a
library user composes directly (each is consumed by at least one
registry query; see COVERAGE.md for the full inventory)."""

from .aggregates import grouped_top_k, last_per_group
from .dedup import (
    containment_pairs,
    embedding_lsh_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    shingle_sets,
    simhash,
)
from .graph import connected_components, pagerank
from .joins import (
    asof_join,
    coalescing_fill_join,
    interval_join,
    prefix_blacklist_anti_join,
)
from .similarity import cosine, cosine_topk, dot, label_centroids
from .skew import salted_aggregate
from .windows import adjacency_flag_filter, gap_fill, grouped_prefix_sum

__all__ = [
    "adjacency_flag_filter",
    "asof_join",
    "coalescing_fill_join",
    "connected_components",
    "containment_pairs",
    "cosine",
    "cosine_topk",
    "dot",
    "embedding_lsh_pairs",
    "exact_dedup",
    "gap_fill",
    "grouped_prefix_sum",
    "grouped_top_k",
    "interval_join",
    "label_centroids",
    "last_per_group",
    "minhash_lsh_pairs",
    "minhash_signatures",
    "ngram_jaccard_pairs",
    "pagerank",
    "prefix_blacklist_anti_join",
    "salted_aggregate",
    "shingle_sets",
    "simhash",
]
