"""Evaluation suite as distributed DataFrame aggregations.

Re-expresses the reference's pandas/sklearn evaluation (SURVEY §2.6
A1-A11, §2.5 J4/J5) without ever materializing one-hot matrices: label
sets live as array columns, metrics are exploded-join + groupBy
aggregations.

Parity targets:
- multilabel micro/macro/samples P/R/F1, subset accuracy, Jaccard —
  evaluation_gpt4_vs_gpt5.py:162-225 (sklearn semantics);
- SKIP_EMPTY_GOLD row filter — :36,188-194;
- binary yes/no metrics — :141-160;
- fuzzy semantic pred→gold mapping (SIM_THRESH=0.95) — :80-96,326-332;
- greedy order-dependent TP/FP/FN — whitematter_error_analysis.py:85-112
  (SIM_THRESH=0.85); reference iterates an unordered set for candidate
  golds — we iterate golds sorted, which only differs on exact score
  ties (documented deviation); both fuzzy matchers score with
  ``linking.best_match``, the one difflib scorer;
- NA/Global/Specific categorisation — whitematter_distributions.py:32-91.

Input convention: one row per (sample), columns ``gold`` and ``pred`` of
``array<string>`` (already normalized/canonicalized — use
functions.normalize + linking for that).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, IntegerType, StringType, StructType

from ..vocab import EMPTY_TOKENS
from .linking import SIM_THRESH, best_match

GREEDY_SIM_THRESH = 0.85  # whitematter_error_analysis.py:32


# ---------------------------------------------------------------------------
# row filters (P9/P10)
# ---------------------------------------------------------------------------
def filter_empty_gold(df: DataFrame, gold_col: str = "gold") -> DataFrame:
    """SKIP_EMPTY_GOLD semantics (evaluation_gpt4_vs_gpt5.py:188-194)."""
    return df.filter(F.size(F.col(gold_col)) > 0)


def filter_both_empty(
    df: DataFrame, gold_col: str = "gold", pred_col: str = "pred"
) -> DataFrame:
    """Error-analysis row skip (whitematter_error_analysis.py:141-143)."""
    return df.filter(
        (F.size(F.col(gold_col)) > 0) | (F.size(F.col(pred_col)) > 0)
    )


# ---------------------------------------------------------------------------
# fuzzy semantic pred→gold mapping (J4)
# ---------------------------------------------------------------------------
@pandas_udf(ArrayType(StringType()))
def _semantic_map_udf(preds: pd.Series, golds: pd.Series) -> pd.Series:
    """Map each predicted label to its best same-row gold label.

    Parity with best_semantic_match (evaluation_gpt4_vs_gpt5.py:80-96),
    via ``linking.best_match`` over the row's golds in list order: exact
    match short-circuits at 1.0; otherwise highest SequenceMatcher.ratio
    ≥ 0.95 wins; below threshold the raw pred is kept. Arrays are tiny
    (per-row label sets) so per-row Python here is bounded; batches
    arrive via Arrow.
    """

    def map_row(pred_list, gold_list):
        gold_list = list(gold_list) if gold_list is not None else []
        out = []
        for p in pred_list if pred_list is not None else []:
            hit = best_match(p, gold_list, SIM_THRESH)
            out.append(p if hit is None else hit[0])
        return out

    return pd.Series([map_row(p, g) for p, g in zip(preds, golds)])


def apply_semantic_matching(
    df: DataFrame, gold_col: str = "gold", pred_col: str = "pred"
) -> DataFrame:
    """Rewrite pred labels onto gold labels when fuzzy-similar (≥0.95)."""
    return df.withColumn(
        pred_col, _semantic_map_udf(F.col(pred_col), F.col(gold_col))
    )


# ---------------------------------------------------------------------------
# multilabel metrics (A1-A6) — exploded joins, no one-hot matrices
# ---------------------------------------------------------------------------
def _with_row_id(df: DataFrame, row_col: str | None) -> tuple[DataFrame, str]:
    if row_col is not None:
        return df, row_col
    return df.withColumn("__row_id", F.monotonically_increasing_id()), "__row_id"


def multilabel_counts(
    df: DataFrame,
    gold_col: str = "gold",
    pred_col: str = "pred",
    row_col: str | None = None,
) -> DataFrame:
    """Per-row TP/FP/FN via intra-row set ops (labels are deduped sets).

    Equivalent to one-hot TP/FP/FN (multilabel_binarize,
    evaluation_gpt4_vs_gpt5.py:162-169) because binarization dedups.
    """
    d, rid = _with_row_id(df, row_col)
    g = F.array_distinct(F.col(gold_col))
    p = F.array_distinct(F.col(pred_col))
    return d.select(
        F.col(rid).alias("row_id"),
        F.col(gold_col),
        F.col(pred_col),
        F.size(F.array_intersect(p, g)).alias("tp"),
        F.size(F.array_except(p, g)).alias("fp"),
        F.size(F.array_except(g, p)).alias("fn"),
    )


def _prf(tp: Column, fp: Column, fn: Column) -> tuple[Column, Column, Column]:
    precision = F.when(tp + fp > 0, tp / (tp + fp)).otherwise(F.lit(0.0))
    recall = F.when(tp + fn > 0, tp / (tp + fn)).otherwise(F.lit(0.0))
    f1 = F.when(
        (tp + fp > 0) | (tp + fn > 0),
        2 * tp / (2 * tp + fp + fn),
    ).otherwise(F.lit(0.0))
    return precision, recall, f1


def multilabel_metrics(
    df: DataFrame,
    gold_col: str = "gold",
    pred_col: str = "pred",
    skip_empty_gold: bool = True,
) -> DataFrame:
    """One-row DataFrame with the full multilabel metric set.

    Columns: micro_p, micro_r, micro_f1, macro_f1, samples_p, samples_r,
    samples_f1, subset_accuracy, jaccard_samples, n_rows.
    """
    base = filter_empty_gold(df, gold_col) if skip_empty_gold else df
    counts = multilabel_counts(base, gold_col, pred_col).cache()

    # micro (A2): global sums
    sums = counts.agg(
        F.sum("tp").alias("tp"), F.sum("fp").alias("fp"), F.sum("fn").alias("fn")
    )
    mp, mr, mf1 = _prf(F.col("tp"), F.col("fp"), F.col("fn"))
    micro = sums.select(
        mp.alias("micro_p"), mr.alias("micro_r"), mf1.alias("micro_f1")
    )

    # macro (A3): per-label, skip zero-support labels, unweighted mean
    gold_l = counts.select(
        "row_id", F.explode(F.array_distinct(F.col(gold_col))).alias("label")
    )
    pred_l = counts.select(
        "row_id", F.explode(F.array_distinct(F.col(pred_col))).alias("label")
    )
    tp_l = gold_l.join(pred_l, ["row_id", "label"]).groupBy("label").count()
    fp_l = pred_l.join(gold_l, ["row_id", "label"], "left_anti").groupBy("label").count()
    fn_l = gold_l.join(pred_l, ["row_id", "label"], "left_anti").groupBy("label").count()
    per_label = (
        tp_l.withColumnRenamed("count", "tp")
        .join(fp_l.withColumnRenamed("count", "fp"), "label", "full")
        .join(fn_l.withColumnRenamed("count", "fn"), "label", "full")
        .fillna(0, ["tp", "fp", "fn"])
    )
    _, _, lf1 = _prf(F.col("tp"), F.col("fp"), F.col("fn"))
    macro = per_label.filter(
        F.col("tp") + F.col("fp") + F.col("fn") > 0
    ).agg(F.avg(lf1).alias("macro_f1"))

    # samples (A4) + subset accuracy (A5) + jaccard (A6): per-row then mean
    sp, sr, sf1 = _prf(F.col("tp"), F.col("fp"), F.col("fn"))
    g = F.array_distinct(F.col(gold_col))
    p = F.array_distinct(F.col(pred_col))
    per_row = counts.select(
        sp.alias("p"),
        sr.alias("r"),
        sf1.alias("f1"),
        (F.size(F.array_except(g, p)) + F.size(F.array_except(p, g)) == 0)
        .cast("double")
        .alias("exact"),
        F.when(
            F.size(F.array_union(g, p)) > 0,
            F.size(F.array_intersect(g, p)) / F.size(F.array_union(g, p)),
        )
        .otherwise(F.lit(1.0))
        .alias("jac"),
    )
    samples = per_row.agg(
        F.avg("p").alias("samples_p"),
        F.avg("r").alias("samples_r"),
        F.avg("f1").alias("samples_f1"),
        F.avg("exact").alias("subset_accuracy"),
        F.avg("jac").alias("jaccard_samples"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return micro.crossJoin(macro).crossJoin(samples)


# ---------------------------------------------------------------------------
# binary metrics (A7)
# ---------------------------------------------------------------------------
def binary_metrics(
    df: DataFrame,
    gold_col: str = "gold",
    pred_col: str = "pred",
    pos_label: str = "yes",
) -> DataFrame:
    """Confusion-matrix metrics for scalar yes/no fields
    (compute_binary_metrics, evaluation_gpt4_vs_gpt5.py:151-160; binary
    jaccard :147-149). Inputs are scalar string columns."""
    g = F.col(gold_col) == pos_label
    p = F.col(pred_col) == pos_label
    agg = df.agg(
        F.sum((g & p).cast("long")).alias("tp"),
        F.sum((~g & p).cast("long")).alias("fp"),
        F.sum((g & ~p).cast("long")).alias("fn"),
        F.sum((~g & ~p).cast("long")).alias("tn"),
    )
    tp, fp, fn, tn = F.col("tp"), F.col("fp"), F.col("fn"), F.col("tn")
    prec, rec, f1 = _prf(tp, fp, fn)
    return agg.select(
        # raw confusion counts first: integers can't ulp-mismatch, so
        # downstream contracts can hash them instead of derived ratios
        tp, fp, fn, tn,
        ((tp + tn) / (tp + tn + fp + fn)).alias("accuracy"),
        prec.alias("precision"),
        rec.alias("recall"),
        f1.alias("f1"),
        F.when(tp + fp + fn > 0, tp / (tp + fp + fn))
        .otherwise(F.lit(0.0))
        .alias("jaccard"),
        (tp + fn).alias("support"),
    )


# ---------------------------------------------------------------------------
# greedy error analysis (J5 + A9)
# ---------------------------------------------------------------------------
_GREEDY_SCHEMA = StructType().add("tp", IntegerType()).add(
    "fp", IntegerType()
).add("fn", IntegerType())


@pandas_udf(_GREEDY_SCHEMA)
def _greedy_udf(golds: pd.Series, preds: pd.Series) -> pd.DataFrame:
    """Order-dependent greedy matcher (row_tp_fp_fn,
    whitematter_error_analysis.py:85-112): preds in list order each claim
    the best *unmatched* gold with ratio ≥ 0.85 (``linking.best_match``),
    else count as FP; unmatched golds are FN. Candidate golds are
    iterated in sorted order (the reference iterates a Python set —
    nondeterministic on ties)."""

    def row(gold_list, pred_list) -> tuple[int, int, int]:
        gold_list = list(gold_list) if gold_list is not None else []
        pred_list = list(pred_list) if pred_list is not None else []
        if not gold_list and not pred_list:
            return 0, 0, 0
        gold_set = set(gold_list)
        matched: set[str] = set()
        tp = fp = 0
        for p in pred_list:
            hit = best_match(p, sorted(gold_set - matched), GREEDY_SIM_THRESH)
            if hit is not None:
                tp += 1
                matched.add(hit[0])
            else:
                fp += 1
        return tp, fp, len(gold_set - matched)

    vals = [row(g, p) for g, p in zip(golds, preds)]
    return pd.DataFrame(vals, columns=["tp", "fp", "fn"])


def greedy_error_analysis(
    df: DataFrame, gold_col: str = "gold", pred_col: str = "pred"
) -> DataFrame:
    """Corpus TP/FP/FN totals + percentages (A9,
    whitematter_error_analysis.py:135-160)."""
    rows = filter_both_empty(df, gold_col, pred_col).withColumn(
        "__cnt", _greedy_udf(F.col(gold_col), F.col(pred_col))
    )
    agg = rows.agg(
        F.sum("__cnt.tp").alias("tp"),
        F.sum("__cnt.fp").alias("fp"),
        F.sum("__cnt.fn").alias("fn"),
    )
    total = F.col("tp") + F.col("fp") + F.col("fn")
    return agg.select(
        "tp",
        "fp",
        "fn",
        (F.col("tp") / total * 100).alias("tp_pct"),
        (F.col("fp") / total * 100).alias("fp_pct"),
        (F.col("fn") / total * 100).alias("fn_pct"),
    )


# ---------------------------------------------------------------------------
# NA/Global/Specific categorisation (A8)
# ---------------------------------------------------------------------------
GLOBAL_KEYWORDS = [
    "global", "white matter", "global white matter",
    "all tracts", "all white matter", "wm",
]


def categorise_cell(col: Column | str) -> Column:
    """'NA' | 'Global' | 'Specific' per categorise
    (whitematter_distributions.py:32-69): specific beats global; global
    keywords or a 'global' prefix count as global; empty tokens are NA."""
    c = F.col(col) if isinstance(col, str) else col
    raw = F.trim(F.coalesce(c, F.lit("")))
    lowered = F.lower(raw)
    parts = F.filter(
        F.transform(
            F.split(F.regexp_replace(raw, ";", ","), ","), lambda p: F.trim(p)
        ),
        lambda p: p != F.lit(""),
    )
    non_empty = F.filter(parts, lambda p: ~F.lower(p).isin(EMPTY_TOKENS))
    is_global_part = lambda p: F.lower(p).isin(GLOBAL_KEYWORDS) | F.lower(  # noqa: E731
        p
    ).startswith("global")
    has_specific = F.exists(non_empty, lambda p: ~is_global_part(p))
    has_global = F.exists(non_empty, is_global_part)
    return (
        F.when(raw == "", F.lit("NA"))
        .when(lowered.isin(EMPTY_TOKENS), F.lit("NA"))
        .when(has_specific, F.lit("Specific"))
        .when(has_global, F.lit("Global"))
        .otherwise(F.lit("NA"))
    )


def category_distribution(df: DataFrame, col: str) -> DataFrame:
    """% breakdown (compute_distribution, whitematter_distributions.py:72-91).

    Single groupBy + a broadcast-total window-free percentage (the total
    comes from a scalar subquery-style crossJoin of one row)."""
    cats = df.select(categorise_cell(col).alias("category"))
    counts = cats.groupBy("category").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "category",
            "n",
            (F.col("n") / F.col("total") * 100).alias("pct"),
        )
        .orderBy("category")
    )


def pivot_f1(df: DataFrame, field_col: str, model_col: str, f1_col: str) -> DataFrame:
    """field × model F1 matrix (A10, evaluation_gpt4_vs_gpt5.py:358-369)."""
    return (
        df.groupBy(field_col)
        .pivot(model_col)
        .agg(F.first(f1_col))
        .orderBy(field_col)
    )
