"""Entity linking: exact canonical maps + exhaustive difflib fuzzy matching.

Two phases, mirroring the reference's exact-then-fuzzy short-circuit
(``best_semantic_match``, /root/reference/evaluation_gpt4_vs_gpt5.py:80-96):

1. **Exact** — normalized alias → canonical via the per-field literal maps
   (``evaluation_gpt4_vs_gpt5.py:99-127``). Tiny maps fold into codegen as
   ``create_map`` literals; the large gazetteer goes through a broadcast
   hash join (map-side, zero shuffle of the mention side).

2. **Fuzzy** — only surfaces that resolved to nothing are scanned, in one
   ``mapInPandas`` kernel, against every vocabulary surface of their own
   field with :func:`best_match`: the exact-match short-circuit, then the
   best ``difflib.SequenceMatcher.ratio()`` ≥ the reference's threshold
   (``SIM_THRESH`` at ``:28``; both-empty → 1.0, one-empty → 0.0,
   ``:72-78``, which is what ``ratio()`` itself returns).
   :func:`best_match` is the one difflib scorer: the evaluation UDFs
   (``evaluation._semantic_map_udf`` and ``_greedy_udf``) call it too.

Scale shape: fuzzy matching runs over **distinct unresolved surfaces**
(typically ≪ corpus size), never over mentions — at 10^12 docs the
mentions table only ever sees broadcast joins against the resolved
surface→canonical dimension. The vocabulary side is the bounded
gazetteer (409 rows, at most 319 per field), so the scan is exhaustive:
no blocking step can drop a pair that scores above the threshold.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from difflib import SequenceMatcher
from functools import lru_cache

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import vocab
from ..functions.normalize import normalize_text
from ..session import local_frame

SIM_THRESH = 0.95  # evaluation_gpt4_vs_gpt5.py:28


def vocabulary_df(spark: SparkSession) -> DataFrame:
    """The gazetteer dimension (field, surface, canonical) — FIXTURES.md T3.

    A ``LocalTableScan`` with one row per ``(field, surface)`` key
    (``vocab.gazetteer_rows`` checks the keys), so references to it plan
    no shuffle."""
    return local_frame(
        spark, vocab.gazetteer_rows(), "field string, surface string, canonical string"
    )


@lru_cache(maxsize=4096)
def _matcher(ref: str) -> SequenceMatcher:
    """A matcher with ``b = ref``. difflib caches its per-``b`` tables
    (``b2j``, the ``quick_ratio`` counts), so one matcher per candidate,
    kept for the life of the Python worker, pays them once; each query
    only swaps in ``a`` with ``set_seq1``."""
    return SequenceMatcher(None, "", ref)


def best_match(
    s: str | None, candidates: Iterable[str | None], threshold: float
) -> tuple[str | None, float] | None:
    """The reference's ``best_semantic_match`` over ``candidates`` in order.

    A candidate equal to ``s`` returns at once with score 1.0. Otherwise
    the first candidate with the maximal difflib ``ratio()`` (``a`` =
    ``s or ""``, ``b`` = ``ref or ""``, no junk function) wins if that
    ratio is ≥ ``threshold``; returns ``(candidate, ratio)`` or None.
    A candidate is skipped when ``real_quick_ratio()`` or
    ``quick_ratio()`` is already below the score it would have to reach;
    both bound ``ratio()`` from above, so the result equals a full scan.
    This is the only difflib scorer in the library (F5/J4/J5).
    """
    hit = None
    for ref in candidates:
        if ref == s:
            return ref, 1.0
        m = _matcher(ref or "")
        m.set_seq1(s or "")
        floor = threshold if hit is None else hit[1]
        if m.real_quick_ratio() < floor or m.quick_ratio() < floor:
            continue
        r = m.ratio()
        if r >= threshold and (hit is None or r > hit[1]):
            hit = ref, r
    return hit


def exact_canonicalize(mentions: DataFrame) -> DataFrame:
    """Apply the per-field literal canonical maps to (doc_id, pred, obj).

    obj is normalized then mapped; identity when the field has no map or
    the alias is unknown (``canonicalize``, evaluation_gpt4_vs_gpt5.py:66-67).
    """
    expr = normalize_text(F.col("obj"))
    for field, cmap in vocab.CANON_MAPS.items():
        m = F.create_map(*[F.lit(x) for kv in cmap.items() for x in kv])
        expr = F.when(
            F.col("pred") == field,
            F.coalesce(F.element_at(m, normalize_text(F.col("obj"))), normalize_text(F.col("obj"))),
        ).otherwise(expr)
    return mentions.withColumn("obj", expr)


def fuzzy_link_surfaces(
    unresolved: DataFrame,
    vocab_df: DataFrame,
    threshold: float = SIM_THRESH,
) -> DataFrame:
    """Map unresolved surfaces to vocabulary canonicals by fuzzy similarity.

    unresolved: (field, surface); normalized and made distinct here.
    vocab_df: the bounded (field, surface, canonical) dimension, collected
    once on the driver (``vocabulary_df`` is a ``LocalTableScan``).
    Returns (field, surface, canonical, score) for each surface whose
    :func:`best_match` over its OWN field's vocabulary clears
    ``threshold``: field scoping is structural, a surface is never
    compared with another field's surfaces. Candidates are scanned in
    (canonical, surface) order, so the first strict maximum is the best
    score with ties broken by canonical asc. The scan is exhaustive, so
    the result depends only on each surface, not on the rest of the input.
    """
    by_field: dict[str, dict[str, str]] = {}
    for field, surface, canonical in sorted(
        vocab_df.select(
            "field",
            normalize_text("surface").alias("surface"),
            normalize_text("canonical").alias("canonical"),
        ).collect(),
        key=lambda r: (r[0], r[2], r[1]),
    ):
        by_field.setdefault(field, {}).setdefault(surface, canonical)

    def link(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for field, surface in zip(pdf["field"], pdf["surface"]):
                refs = by_field.get(field, {})
                hit = best_match(surface, refs, threshold)
                if hit is not None:
                    rows.append((field, surface, refs[hit[0]], hit[1]))
            if rows:
                yield pd.DataFrame(
                    rows, columns=["field", "surface", "canonical", "score"]
                )

    return (
        unresolved.select("field", normalize_text("surface").alias("surface"))
        .dropDuplicates()
        .mapInPandas(
            link, "field string, surface string, canonical string, score double"
        )
    )


def link_mentions(
    mentions: DataFrame,
    vocab_df: DataFrame,
    fuzzy: bool = False,
) -> DataFrame:
    """mentions(doc_id, pred, obj) → triples(doc_id, pred, obj) canonical.

    Phase 1: literal canonical maps (always) + broadcast gazetteer join.
    Phase 2 (``fuzzy=True``): difflib linking (:func:`fuzzy_link_surfaces`)
    of still-unknown surfaces for vocabulary fields, applied back via a
    second broadcast join. Output deduplicated per (doc_id, pred, obj) —
    the reference's per-paper ``list(set())`` (main.py:201-203), made
    deterministic.
    """
    canon = exact_canonicalize(mentions)
    gaz = F.broadcast(
        vocab_df.select(
            F.col("field").alias("pred"),
            normalize_text("surface").alias("__surface"),
            normalize_text("canonical").alias("__canonical"),
        ).dropDuplicates(["pred", "__surface"])
    )
    joined = canon.join(
        gaz, (canon["pred"] == gaz["pred"]) & (canon["obj"] == gaz["__surface"]), "left"
    ).select(canon["doc_id"], canon["pred"], canon["obj"], gaz["__canonical"])

    if fuzzy:
        vocab_fields = {f for f, _, _ in vocab.gazetteer_rows()}
        unresolved = joined.filter(
            F.col("__canonical").isNull() & F.col("pred").isin(list(vocab_fields))
        ).select(F.col("pred").alias("field"), F.col("obj").alias("surface"))
        fuzzy_map = fuzzy_link_surfaces(unresolved, vocab_df)
        fm = F.broadcast(
            fuzzy_map.select(
                F.col("field").alias("pred"),
                F.col("surface").alias("__fsurface"),
                F.col("canonical").alias("__fcanonical"),
            )
        )
        joined = joined.join(
            fm,
            (joined["pred"] == fm["pred"]) & (joined["obj"] == fm["__fsurface"]),
            "left",
        ).select(
            joined["doc_id"],
            joined["pred"],
            joined["obj"],
            F.coalesce(joined["__canonical"], fm["__fcanonical"]).alias("__canonical"),
        )

    return (
        joined.withColumn("obj", F.coalesce("__canonical", "obj"))
        .drop("__canonical")
        .dropDuplicates(["doc_id", "pred", "obj"])
    )
