"""Operator entry points, resolved lazily: importing one operator
module (as every Python worker does when it unpickles a kernel that
references a module-level helper) loads only that module, not the
whole package."""

import importlib

_EXPORTS = {
    "build_payload": "payload",
    "prune_empty_spans": "payload",
    "span_signature": "payload",
    "extract_triples": "extraction",
    "exact_dedup": "dedup",
    "minhash_dedup_groups": "dedup",
    "simhash_near_dup_pairs": "dedup",
    "co_mention_edges": "graph",
    "pagerank": "graph",
    "predicate_object_degrees": "graph",
    "cosine_topk": "similarity",
    "ivf_index": "similarity",
    "ivf_topk": "similarity",
    "ivf_topk_join": "similarity",
    "ivf_write": "similarity",
}

__all__ = sorted(_EXPORTS)


def __getattr__(name: str):
    if name not in _EXPORTS:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    return getattr(importlib.import_module(f".{_EXPORTS[name]}", __name__), name)
