from .asof import asof_join
from .clean import clean_quotes, dedup_keep_last
from .dedup import (
    exact_duplicate_groups,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_near_pairs,
    simhash_signatures,
)
from .enrich import enrich
from .similarity import (
    ann_topk_lsh,
    cosine_topk,
    embedding_near_pairs,
    ivf_topk,
)
from .skew import salted_collect_list, with_salt

__all__ = [
    "asof_join",
    "clean_quotes",
    "dedup_keep_last",
    "exact_duplicate_groups",
    "minhash_lsh_candidates",
    "minhash_signatures",
    "ngram_jaccard_pairs",
    "simhash_near_pairs",
    "simhash_signatures",
    "enrich",
    "ann_topk_lsh",
    "cosine_topk",
    "embedding_near_pairs",
    "ivf_topk",
    "salted_collect_list",
    "with_salt",
]
