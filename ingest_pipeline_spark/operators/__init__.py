from .dedup import (  # noqa: F401
    exact_dedup,
    fingerprint_dedup,
    minhash_signatures,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_signatures,
    simhash_near_pairs,
)
from .similarity import cosine_topk, embedding_near_dup_pairs, lsh_bucket_candidates  # noqa: F401
from .graph import ancestors_bfs, descendants_bfs, latest_child  # noqa: F401
from .windows import first_match_by_priority  # noqa: F401
from .sessionize import sessionize  # noqa: F401
