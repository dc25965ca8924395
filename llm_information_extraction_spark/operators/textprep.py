"""Training-data text preparation: PII scrubbing, token-window chunking,
sequence packing.

Extensions beyond the reference (which processes a 622-doc curated
corpus): the operations a web-scale LLM training-data pipeline runs
between ingest and tokenization. All three are pure Catalyst column
expressions — no UDFs, no shuffles beyond what the semantics require:

- :func:`scrub_pii` is a per-row projection (zero shuffles);
- :func:`chunk_documents` is posexplode (zero shuffles);
- :func:`pack_sequences` shuffles once, by the salt group.

Regex patterns are RE2-compatible (no backrefs/lookaheads) so the same
pattern string runs identically in Spark (java.util.regex) and the
DuckDB oracle (RE2) — required for the driver contract.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.normalize import normalize_text
from .dedup import _word_gram_md5s


def _raw_words(text_col: str) -> Column:
    """Whitespace tokens of the raw (case-preserving) text, empties
    dropped. Shared by chunking and packing so the two operators (and
    the ``raw_words`` mirror in ``__spark_entry__.oracle_sql``) cannot
    silently diverge on tokenization."""
    return F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+"),
        lambda w: w != F.lit(""),
    )


#: (name, pattern, replacement) applied IN ORDER — email before ip so a
#: numeric mail domain is consumed by <EMAIL>; ssn before phone so the
#: looser phone pattern can't eat a dashed SSN first. Fixed order makes
#: the composition deterministic across engines.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<ID>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("phone", r"\+?[0-9][0-9()\s.-]{7,}[0-9]", "<PHONE>"),
]


def scrub_pii(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "clean_text",
    count_col: str = "n_redactions",
) -> DataFrame:
    """Redact common PII shapes (email / SSN / IPv4 / phone) from
    ``text_col`` and count redactions per row.

    One whole-stage-codegen projection: the patterns chain as nested
    regexp_replace calls; the count is the marker-token count of the
    scrubbed output MINUS the marker tokens already present in the
    input (so it is consistent with the replacement by construction,
    including overlapping-pattern interactions, and a document that
    legitimately contains a literal ``<EMAIL>`` is not counted as a
    redaction — no pattern can match a marker token, so pre-existing
    markers pass through the chain unchanged and cancel exactly). Rows
    with many redactions are candidates for dropping entirely —
    PII-dense documents are usually scraped contact pages, not prose.
    """
    raw: Column = F.coalesce(F.col(text_col), F.lit(""))
    scrubbed: Column = raw
    for _, pattern, repl in PII_PATTERNS:
        scrubbed = F.regexp_replace(scrubbed, pattern, repl)
    markers = F.lit("<EMAIL>|<ID>|<IP>|<PHONE>")

    def n_markers(c: Column) -> Column:
        return F.size(F.regexp_extract_all(c, markers, F.lit(0)))

    n = n_markers(scrubbed) - n_markers(raw)
    return df.withColumn(out_col, scrubbed).withColumn(
        count_col, n.cast("long")
    )


def chunk_documents(
    df: DataFrame,
    max_tokens: int,
    overlap: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split documents into word-token windows of ``max_tokens`` with
    ``overlap`` tokens shared between consecutive chunks.

    Chunk i covers tokens [i*stride, i*stride + max_tokens) where
    stride = max_tokens - overlap. Output:
    (id, chunk_idx int, chunk_text string, n_tokens long); a document
    shorter than one window yields exactly one chunk. Pure expressions:
    split → sequence → posexplode → slice → array_join, all inside
    codegen — the 100-TB-friendly shape (no UDF, no shuffle; chunking
    happens where the document already lives).
    """
    if not 0 <= overlap < max_tokens:
        raise ValueError("need 0 <= overlap < max_tokens")
    stride = max_tokens - overlap

    # bind the words array ONCE via the single-element-array transform
    # scope: Catalyst does no CSE across HOF lambda boundaries, so
    # referencing the split+filter subtree inside the per-window lambda
    # would re-tokenize the whole document once per window
    def build(ws: Column) -> Column:
        n_words = F.size(ws)
        # number of windows: 1 + ceil(max(n - max_tokens, 0) / stride)
        n_chunks = F.lit(1) + F.ceil(
            F.greatest(n_words - max_tokens, F.lit(0)) / F.lit(stride)
        ).cast("int")
        return F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.slice(ws, i * stride + 1, max_tokens),
        )

    chunks = F.transform(F.array(_raw_words(text_col)), build)[0]
    ex = df.select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_idx", "chunk_words"),
    )
    return ex.select(
        id_col,
        "chunk_idx",
        F.array_join("chunk_words", " ").alias("chunk_text"),
        F.size("chunk_words").cast("long").alias("n_tokens"),
    )


def pack_sequences(
    df: DataFrame,
    context_tokens: int,
    num_groups: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "pack",
) -> DataFrame:
    """Assign documents to fixed-budget training bins (sequence packing).

    Documents are salted into ``num_groups`` independent packing groups
    by a portable md5 hash (same trick as ``hash_sample`` — engine- and
    partitioning-independent), then packed contiguously in doc-id order
    within each group: bin = floor(cumulative_tokens_before / budget).
    Output: (id, pack_group int, bin_id long, n_tokens long).

    Scale shape: ONE shuffle keyed by the salt group; each group's
    running sum is an independent window, so packing parallelizes to
    ``num_groups`` regardless of corpus size (a single global running
    sum would serialize the corpus through one partition). Contiguous
    cumulative packing wastes at most one document's tokens per bin
    boundary versus first-fit, and unlike first-fit it is deterministic,
    order-stable under reruns, and expressible as a window aggregate.
    """
    from pyspark.sql.window import Window

    n_tokens = F.size(_raw_words(text_col)).cast("long")
    group = (
        F.conv(F.substring(F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))), 1, 8), 16, 10)
        .cast("long")
        % num_groups
    ).cast("int")
    w = (
        Window.partitionBy("pack_group")
        .orderBy(F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    base = df.select(
        F.col(id_col),
        group.alias("pack_group"),
        n_tokens.alias("n_tokens"),
    )
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return base.withColumn(
        "bin_id", F.floor(cum_before / F.lit(context_tokens)).cast("long")
    )


def _gram_keys_arrow(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, k) — one row per DISTINCT word ``n``-gram of the normalized
    text (:func:`.dedup.word_shingles` rules), keyed by the gram's
    first 14 md5 hex digits as a 56-bit long (``h >> 8`` of the
    :func:`.dedup._word_gram_md5s` prefix). DuckDB computes the same
    key, which makes decontamination oracle-checkable; 56 bits keep it
    inside a signed long, and the collision probability for 10⁹
    distinct grams is ~10⁻².

    Normalization runs JVM-side (:func:`normalize_text`); grams are
    hashed in Python over Arrow batches (hashlib on
    pre-normalized strings ran ~2× faster than the explode → md5 → conv
    expression chain, 1.6 s → 0.8 s over sf1.0's 4.4M train grams).
    Key equality with that expression chain is pinned by
    ``test_contaminated_gram_keys_arrow_matches_expr``.
    """
    from itertools import chain

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        [
            StructField("id", df.schema[id_col].dataType, True),
            StructField("k", LongType(), True),
        ]
    )
    src = df.select(
        F.col(id_col).alias("id"), normalize_text(text_col).alias("__t")
    )

    def run(batches):
        for pdf in batches:
            per_doc = [_word_gram_md5s(t, n) for t in pdf["__t"]]
            cnt = np.fromiter(map(len, per_doc), np.int64, len(per_doc))
            # the first 14 hex digits of md5(gram): the top 56 prefix bits
            k = np.fromiter(chain.from_iterable(per_doc), np.uint64) >> np.uint64(8)
            yield pd.DataFrame(
                {"id": np.repeat(pdf["id"].to_numpy(), cnt), "k": k.view(np.int64)}
            )

    return src.mapInPandas(run, schema=schema)


def contaminated_ids(
    train: DataFrame,
    eval_df: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_text_col: str | None = None,
    max_gram_docs: int | None = None,
) -> DataFrame:
    """Training documents sharing ANY word ``n``-gram with the eval set
    (the GPT-3/PaLM-style 13-gram decontamination rule).

    Returns a one-column DataFrame (``id_col``) of contaminated ids.
    Shape: both sides explode to (id, 56-bit gram key); the train side
    is joined against the distinct eval keys — one shuffle keyed by an
    8-byte long (never the gram strings), and AQE broadcasts the eval
    side when it is small (the common case: eval benchmarks are tiny
    next to a training corpus). A document shorter than ``n`` words
    contributes one partial gram (its full normalized text), so an exact
    short-text match still flags — ``word_shingles`` semantics. Null,
    empty and all-blank texts all give the one empty gram, so every
    such training document is flagged when the eval set holds one too.

    ``max_gram_docs``: ignore eval grams matched by MORE than this many
    distinct training documents. On template-heavy corpora the raw rule
    over-fires catastrophically (measured: a 400k-doc boilerplate-style
    corpus flags 100% of documents against a 1k eval sample, through
    shared template grams) — the same chaining mechanism that breaks
    naive MinHash there. A gram hit by thousands of training docs is
    boilerplate, not leakage; the cap is an ABSOLUTE doc count (exact
    arithmetic, engine-reproducible) and the frequency pass runs only
    over eval-matched grams, so its cost is bounded by the eval set.
    """
    eval_text_col = eval_text_col or text_col
    train_tok = _gram_keys_arrow(train, id_col, text_col, n).select(
        F.col("id").alias(id_col), "k"
    )
    # the eval side never needs its ids — key on a constant (the helper
    # only reads the id column's values to pass them through)
    ev = eval_df.select(
        F.lit(0).alias("__eval_id"), F.col(eval_text_col)
    )
    eval_keys = (
        _gram_keys_arrow(ev, "__eval_id", eval_text_col, n)
        .select("k")
        .distinct()
    )
    if max_gram_docs is None:
        return (
            train_tok.join(eval_keys, "k", "leftsemi")
            .select(id_col)
            .distinct()
        )
    # cache the (small, eval-bounded) hit set: it feeds BOTH the
    # boilerplate count and the anti-join — without the cache the whole
    # train-side explode+join recomputes for each
    hits = (
        train_tok.join(eval_keys, "k").select(id_col, "k").distinct().cache()
    )
    boilerplate = (
        hits.groupBy("k")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > max_gram_docs)
        .select("k")
    )
    return (
        hits.join(boilerplate, "k", "left_anti").select(id_col).distinct()
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_text_col: str | None = None,
    max_gram_docs: int | None = None,
) -> DataFrame:
    """Drop training documents that share any word n-gram with the eval
    set — benchmark-leakage removal as one anti-join. On template-heavy
    corpora ALWAYS set ``max_gram_docs`` (see :func:`contaminated_ids`):
    the raw rule can flag essentially the whole corpus through shared
    boilerplate grams, and this anti-join would then delete it."""
    bad = contaminated_ids(
        train, eval_df, n, id_col, text_col, eval_text_col, max_gram_docs
    )
    return train.join(bad, id_col, "left_anti")
