"""Entity linking: exact canonical maps + LSH-blocked fuzzy matching.

Two phases, mirroring the reference's exact-then-fuzzy short-circuit
(``best_semantic_match``, /root/reference/evaluation_gpt4_vs_gpt5.py:80-96):

1. **Exact** — normalized alias → canonical via the per-field literal maps
   (``evaluation_gpt4_vs_gpt5.py:99-127``). Tiny maps fold into codegen as
   ``create_map`` literals; the large gazetteer goes through a broadcast
   hash join (map-side, zero shuffle of the mention side).

2. **Fuzzy** — only surfaces that resolved to nothing go through
   MinHash-LSH blocking (char 3-gram shingles → MinHash →
   ``approxSimilarityJoin``) against the vocabulary, then exact
   ``difflib.SequenceMatcher.ratio()`` scoring in a pandas UDF with the
   reference's threshold semantics (``seq_sim ≥ 0.95``, SIM_THRESH at
   ``:28``; both-empty → 1.0, one-empty → 0.0, ``:72-78``).

Scale shape: fuzzy matching runs over **distinct unresolved surfaces**
(typically ≪ corpus size), never over mentions — at 10^12 docs the
mentions table only ever sees broadcast joins against the resolved
surface→canonical dimension.
"""

from __future__ import annotations

from difflib import SequenceMatcher

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

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


@pandas_udf(DoubleType())
def seq_sim_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Exact difflib.SequenceMatcher.ratio() parity (F5 in SURVEY §2.4).

    Inputs are assumed pre-normalized; both-empty → 1.0, one-empty → 0.0
    (evaluation_gpt4_vs_gpt5.py:72-78). Arrow-batched; the per-pair Python
    cost is paid only on the small post-blocking candidate set.
    """

    def ratio(x: str | None, y: str | None) -> float:
        x = x or ""
        y = y or ""
        if not x and not y:
            return 1.0
        if not x or not y:
            return 0.0
        return SequenceMatcher(None, x, y).ratio()

    return pd.Series([ratio(x, y) for x, y in zip(a, b)])


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


def _char_ngrams(col, n: int = 3):
    """Padded character n-gram shingles as array<string> (for MinHash)."""
    padded = F.concat(F.lit("^"), F.regexp_replace(col, r"\s+", "_"), F.lit("$"))
    length = F.length(padded)
    return F.transform(
        F.sequence(F.lit(1), F.greatest(length - n + 1, F.lit(1))),
        lambda i: padded.substr(i, F.lit(n)),
    )


def _field_scoped_grams(df: DataFrame, surface_col: str) -> DataFrame:
    """Attach field-prefixed char-3-gram shingles as ``grams``.

    Each gram is tagged ``field\\x1f<gram>`` so grams from different
    fields can never collide in the CountVectorizer vocabulary or hash to
    the same MinHash bucket membership — the LSH blocking becomes
    field-scoped without changing same-field Jaccard.
    """
    grams = F.array_distinct(
        F.transform(
            _char_ngrams(F.col(surface_col)),
            lambda g: F.concat_ws("\x1f", F.col("field"), g),
        )
    )
    return df.withColumn("grams", grams).filter(F.size("grams") > 0)


def lsh_candidate_pairs(
    l_g: DataFrame,
    r_g: DataFrame,
    jaccard_max_distance: float = 0.7,
    num_hash_tables: int = 6,
) -> DataFrame:
    """MinHashLSH candidate pairs over pre-shingled inputs (``grams``).

    Returns the raw approxSimilarityJoin output (datasetA/datasetB
    structs + jaccard_dist) BEFORE any field filtering — factored out so
    tests can assert the field-scoped blocking produces zero cross-field
    candidates (the expensive difflib scorer only ever sees in-field
    pairs).
    """
    from pyspark.ml.feature import CountVectorizer, MinHashLSH

    # shared vocabulary of shingles → sparse vectors → MinHash
    cv = CountVectorizer(
        inputCol="grams", outputCol="features", binary=True, minDF=1.0
    ).fit(l_g.select("grams").union(r_g.select("grams")))
    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=42
    ).fit(cv.transform(l_g))
    return lsh.approxSimilarityJoin(
        cv.transform(l_g), cv.transform(r_g), jaccard_max_distance,
        distCol="jaccard_dist",
    )


def fuzzy_link_surfaces(
    unresolved: DataFrame,
    vocab_df: DataFrame,
    threshold: float = SIM_THRESH,
    jaccard_max_distance: float = 0.7,
    num_hash_tables: int = 6,
) -> DataFrame:
    """Map unresolved surfaces to vocabulary canonicals by fuzzy similarity.

    unresolved: (field, surface) distinct, normalized.
    Returns (field, surface, canonical, score) for pairs with
    difflib ratio ≥ threshold, best-match-per-surface (ties broken by
    canonical asc for determinism).

    Blocking: MinHashLSH over **field-prefixed** char-3-gram shingles
    bounds the candidate set (Jaccard distance ≤ ``jaccard_max_distance``);
    a difflib ratio of 0.95 implies high shingle overlap, so the block is
    lossless in practice for the reference threshold. Prefixing each gram
    with its field makes cross-field grams unequal, so blocking is
    field-scoped BEFORE the join — per-field vocabularies share surface
    shapes, and unscoped LSH would inflate the difflib-scored candidate
    set with cross-field pairs. Same-field Jaccard is unchanged by the
    prefix. The post-join field equality filter stays as a safety assert.
    """
    left = unresolved.select(
        "field", normalize_text("surface").alias("surface")
    ).dropDuplicates()
    right = vocab_df.select(
        "field",
        normalize_text("surface").alias("vocab_surface"),
        normalize_text("canonical").alias("canonical"),
    ).dropDuplicates(["field", "vocab_surface"])

    l_g, r_g = _field_scoped_grams(left, "surface"), _field_scoped_grams(
        right, "vocab_surface"
    )
    if l_g.isEmpty() or r_g.isEmpty():
        return left.limit(0).select(
            "field",
            "surface",
            F.lit(None).cast("string").alias("canonical"),
            F.lit(0.0).alias("score"),
        )

    pairs = (
        lsh_candidate_pairs(l_g, r_g, jaccard_max_distance, num_hash_tables)
        .filter(F.col("datasetA.field") == F.col("datasetB.field"))
        .select(
            F.col("datasetA.field").alias("field"),
            F.col("datasetA.surface").alias("surface"),
            F.col("datasetB.vocab_surface").alias("vocab_surface"),
            F.col("datasetB.canonical").alias("canonical"),
        )
    )
    scored = pairs.withColumn(
        "score",
        F.when(F.col("surface") == F.col("vocab_surface"), F.lit(1.0)).otherwise(
            seq_sim_udf(F.col("surface"), F.col("vocab_surface"))
        ),
    ).filter(F.col("score") >= threshold)
    # deterministic best-match: order by (score desc, canonical asc)
    from pyspark.sql.window import Window

    w = Window.partitionBy("field", "surface").orderBy(
        F.col("score").desc(), F.col("canonical").asc()
    )
    best = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("field", "surface", "canonical", "score")
    )
    return best


def link_mentions(
    mentions: DataFrame,
    vocab_df: DataFrame,
    fuzzy: bool = False,
) -> DataFrame:
    """mentions(doc_id, pred, obj) → triples(doc_id, pred, obj) canonical.

    Phase 1: literal canonical maps (always) + broadcast gazetteer join.
    Phase 2 (``fuzzy=True``): LSH+difflib linking of still-unknown
    surfaces for vocabulary fields, applied back via a second broadcast
    join. Output deduplicated per (doc_id, pred, obj) — the reference's
    per-paper ``list(set())`` (main.py:201-203), made deterministic.
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
        unresolved = (
            joined.filter(
                F.col("__canonical").isNull() & F.col("pred").isin(list(vocab_fields))
            )
            .select(F.col("pred").alias("field"), F.col("obj").alias("surface"))
            .dropDuplicates()
        )
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
