from .payload import (  # noqa: F401
    build_payload,
    prune_empty_spans,
    span_signature,
)
from .extraction import extract_triples  # noqa: F401
from .dedup import (  # noqa: F401
    exact_dedup,
    minhash_dedup_groups,
    simhash_near_dup_pairs,
)
from .graph import (  # noqa: F401
    co_mention_edges,
    pagerank,
    predicate_object_degrees,
)
from .similarity import (  # noqa: F401
    cosine_topk,
    ivf_index,
    ivf_topk,
    ivf_topk_from_path,
    ivf_topk_join,
    ivf_write,
)
