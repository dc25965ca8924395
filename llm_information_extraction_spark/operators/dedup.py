"""Deduplication operators for large-scale training-data pipelines.

Shingling and Jaccard via set-similarity joins are Catalyst expressions
(whole-stage codegen). MinHash signatures and the md5 SimHash signature
fold their per-shingle hashes in numpy over Arrow batches
(``mapInPandas``), one kernel each; the Python side hashes word grams
only through :func:`_word_gram_md5s`. Only the final
connected-components grouping runs the iterative join loop from
:mod:`.canonicalize`.

Scale notes (100 TB):
- exact dedup shuffles 16-byte md5 keys, never documents;
- MinHash banding turns the O(n²) pair space into per-band windows:
  each bucket collapses to star edges (member → bucket-min), at most
  ``bands`` per document (Broder '97, Leskovec-Rajaraman-Ullman ch.3);
- every star edge is verified by true n-gram Jaccard BEFORE the edges
  are unioned into clusters, so shared template buckets cannot chain
  dissimilar documents;
- SimHash uses 64-bit signatures + lossless multi-table blocking with
  ≥16-bit composite keys (Manku-Jain-Sadhwani, WWW'07): d ≤ 3 keys on
  one 16-bit block (4 tables), d ≤ 6 on 2-of-8-block 16-bit composites
  (≤28 tables); looser budgets are refused (MinHash is the right tool).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.normalize import normalize_text
from ..functions.textmetrics import doc_fingerprint


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------
def exact_duplicate_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Groups of byte-identical (normalized) documents.

    Returns (fingerprint, n_docs, keep_id, doc_ids) for groups with >1 doc.
    """
    fp = df.select(
        F.col(id_col).alias("doc_id"), doc_fingerprint(text_col).alias("fingerprint")
    )
    return (
        fp.groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_id"),
            F.array_sort(F.collect_list("doc_id")).alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep one row (min id) per distinct normalized text."""
    with_fp = df.withColumn("__fp", doc_fingerprint(text_col))
    keep = with_fp.groupBy("__fp").agg(F.min(F.col(id_col)).alias(id_col))
    return with_fp.join(keep, [ "__fp", id_col]).drop("__fp")


# ---------------------------------------------------------------------------
# shingling (shared)
# ---------------------------------------------------------------------------
def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the normalized text.

    The words array is BOUND ONCE via a single-element-array transform
    scope before the per-shingle lambda runs. Without that, Catalyst
    re-evaluates the whole normalize+split subtree for EVERY shingle
    (no common-subexpression elimination across higher-order-function
    lambda boundaries), which is O(doc_len · n_words) per document —
    measured 50×+ slower on multi-KB documents.
    """
    words = F.split(normalize_text(col), " ")

    def build(ws: Column) -> Column:
        n_sh = F.greatest(F.size(ws) - n + 1, F.lit(1))
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n_sh),
                lambda i: F.concat_ws(" ", F.slice(ws, i, n)),
            )
        )

    return F.transform(F.array(words), build)[0]


def _word_gram_md5s(text: str, n: int) -> list[int]:
    """The distinct word ``n``-grams of one :func:`normalize_text`-ed
    text, each as its md5 prefix: the first 8 digest bytes read as a
    big-endian unsigned 64-bit int, in no particular order.

    The one Python replay of :func:`word_shingles`' rules: split on
    single spaces, a slice past the end gives a shorter gram, and a
    text of fewer than ``n`` words gives one partial gram (an empty
    text gives the empty gram). Every Python word-gram kernel builds
    on this helper instead of splitting text itself.
    """
    md5, ib = hashlib.md5, int.from_bytes
    ws = text.split(" ")
    grams = {" ".join(ws[i : i + n]) for i in range(max(len(ws) - n + 1, 1))}
    return [ib(md5(g.encode()).digest()[:8], "big") for g in grams]


# ---------------------------------------------------------------------------
# n-gram Jaccard set-similarity self-join
# ---------------------------------------------------------------------------
def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """All document pairs with word-``n``-gram Jaccard ≥ threshold.

    Exact (not approximate): explode shingles → equi-join on shingle →
    per-pair intersection counts → |A∩B| / (|A|+|B|−|A∩B|). The shuffle
    key is the shingle, so common shingles fan out — at scale, drop
    ultra-frequent shingles first (stop-shingle filtering) or group
    with :func:`minhash_dedup_groups`, which verifies at most
    ``bands`` star edges per document (and can miss a pair whose shared
    buckets all have a dissimilar min; see its docstring). Its test
    oracle is this function plus connected components. Returns
    (id_a, id_b, jaccard), id_a < id_b.
    """
    sh = df.select(
        F.col(id_col).alias("id"), word_shingles(text_col, n).alias("shingles")
    ).withColumn("size", F.size("shingles"))
    tok = sh.select("id", "size", F.explode("shingles").alias("shingle"))
    a = tok.select(
        F.col("id").alias("id_a"), F.col("size").alias("size_a"), "shingle"
    )
    b = tok.select(
        F.col("id").alias("id_b"), F.col("size").alias("size_b"), "shingle"
    )
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "size_a", "size_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    jac = F.col("c") / (F.col("size_a") + F.col("size_b") - F.col("c"))
    return (
        inter.select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# winnowing fingerprints (rolling-window document fingerprinting)
# ---------------------------------------------------------------------------
def ordered_word_shingles(col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles in DOCUMENT ORDER (duplicates kept) — the
    winnowing input, unlike :func:`word_shingles`'s distinct set."""
    words = F.split(normalize_text(col), " ")

    def build(ws: Column) -> Column:
        n_sh = F.greatest(F.size(ws) - n + 1, F.lit(1))
        return F.transform(
            F.sequence(F.lit(1), n_sh),
            lambda i: F.concat_ws(" ", F.slice(ws, i, n)),
        )

    return F.transform(F.array(words), build)[0]


def winnow_fingerprints(
    col: Column | str, n: int = 3, window: int = 4
) -> Column:
    """Winnowing document fingerprints (Schleimer-Wilkerson-Aiken,
    SIGMOD'03 — the MOSS algorithm): hash the ordered n-gram sequence,
    slide a ``window``-wide frame over it, keep each frame's MINIMUM
    hash, dedupe. Guarantee: two documents sharing any token run of
    length ≥ window + n − 1 share at least one fingerprint, while only
    ~2/(window+1) of positions are kept — the rolling-hash fingerprint
    family for partial-overlap (containment) detection, which set-level
    MinHash can't do.

    The hash is the first 8 md5 hex digits (portable: DuckDB/Postgres
    reproduce it bit-for-bit, so the operator is oracle-checkable).
    """
    sh = ordered_word_shingles(col, n)

    def build(hs: Column) -> Column:
        n_win = F.greatest(F.size(hs) - window + 1, F.lit(1))
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n_win),
                lambda i: F.array_min(F.slice(hs, i, window)),
            )
        )

    hashes = F.transform(
        sh, lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")
    )
    return F.transform(F.array(hashes), build)[0]


def winnow_overlap_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    window: int = 4,
    min_shared: int = 2,
) -> DataFrame:
    """Document pairs sharing ≥ ``min_shared`` winnowing fingerprints —
    partial-overlap (plagiarism/quotation/containment) candidates.

    One explode + equi-join on the fingerprint (the shuffle key), count
    per pair: the same bucketed shape as every other dedup join here —
    no all-pairs work. Returns (id_a, id_b, n_shared), id_a < id_b.
    """
    fp = df.select(
        F.col(id_col).alias("id"),
        F.explode(winnow_fingerprints(text_col, n, window)).alias("fp"),
    )
    a = fp.select(F.col("id").alias("id_a"), "fp")
    b = fp.select(F.col("id").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------
#: Spark XXH64 primes (org.apache.spark.sql.catalyst.expressions.XXH64 —
#: the standard public xxHash64 constants)
_XXH_PRIMES = (
    0x9E3779B185EBCA87,
    0xC2B2AE3D27D4EB4F,
    0x165667B19E3779F9,
    0x85EBCA77C2B2AE63,
    0x27D4EB2F165667C5,
)


def _check_seeds(seed: int, num_hashes: int) -> None:
    """Refuse a seed range ``[seed, seed + num_hashes)`` outside int32."""
    if not (-(2**31) <= seed and seed + num_hashes - 1 < 2**31):
        raise ValueError(
            f"minhash seeds [{seed}, {seed + num_hashes}) must fit int32"
        )


def _minhash_sigs_arrow(
    hs_df: DataFrame, num_hashes: int, seed: int
) -> DataFrame:
    """(id, hs array<bigint>) → (id, sig array<bigint>): the one MinHash
    signature kernel. ``hs`` holds each document's per-shingle
    ``xxhash64`` values; slot i of the signature is the min over them of
    Spark's ``xxhash64(h, seed+i)``.

    The ``num_hashes`` re-hash + min folds run vectorized in numpy over
    Arrow batches (guide §4.2: hand whole Arrow batches to native code),
    replaying Spark's column fold ``hashInt(seed+i, hashLong(h, 42))``
    over uint64 arrays. The hash's mixing of its *input* is independent
    of its seed argument, so the inner ``hashLong(h, 42)`` is computed
    once per shingle and the outer fold's input-mix ``(seed+i)·P1`` once
    per i: ~8 vector ops per (shingle, i). Bit equality with the
    expression form ``min(xxhash64(xxhash64(shingle), seed+i))`` is
    pinned by ``tests/test_dedup_similarity.py``. The fold hashes
    ``seed+i`` as an int, so every seed in ``[seed, seed+num_hashes)``
    must fit int32; anything else raises ``ValueError`` here, when the
    plan is built.
    """
    _check_seeds(seed, num_hashes)
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("id", hs_df.schema["id"].dataType, True),
            StructField("sig", ArrayType(LongType()), True),
        ]
    )
    p1, p2, p3, p4, p5 = (np.uint64(p) for p in _XXH_PRIMES)

    def rotl(x, r):
        r = np.uint64(r)
        return (x << r) | (x >> (np.uint64(64) - r))

    def fmix(h):
        h ^= h >> np.uint64(33)
        h *= p2
        h ^= h >> np.uint64(29)
        h *= p3
        h ^= h >> np.uint64(32)
        return h

    # outer hash is hashInt(seed+i, inner): its input mix is constant
    # per i — (seed+i as uint32) · P1
    seeds = np.arange(seed, seed + num_hashes, dtype=np.int64) & np.int64(
        0xFFFFFFFF
    )
    k1s = seeds.astype(np.uint64) * p1
    init = np.int64(2**63 - 1)

    def run(batches):
        for pdf in batches:
            nrows = len(pdf)
            if not nrows:
                continue
            hs = [
                np.asarray(x if x is not None else [], dtype=np.int64)
                for x in pdf["hs"]
            ]
            lens = np.fromiter((len(x) for x in hs), dtype=np.int64,
                               count=nrows)
            sig_mat = np.full((nrows, num_hashes), init, dtype=np.int64)
            nonempty = lens > 0
            if nonempty.any():
                flat = np.concatenate([x for x in hs if len(x)])
                h = flat.view(np.uint64)
                # inner = hashLong(h, 42), once per shingle
                inner = np.uint64(42) + p5 + np.uint64(8)
                inner = inner ^ (rotl(h * p2, 31) * p1)
                inner = rotl(inner, 27) * p1 + p4
                inner = fmix(inner)
                # outer (hashInt) seed-side state, once per shingle
                acc = inner + p5 + np.uint64(4)
                starts = np.zeros(int(nonempty.sum()), dtype=np.int64)
                np.cumsum(lens[nonempty][:-1], out=starts[1:])
                rows = np.nonzero(nonempty)[0]
                for i in range(num_hashes):
                    x = rotl(acc ^ k1s[i], 23) * p2 + p3
                    x = fmix(x).view(np.int64)
                    sig_mat[rows, i] = np.minimum.reduceat(x, starts)
            yield pd.DataFrame(
                {"id": pdf["id"], "sig": list(sig_mat)}
            )

    return hs_df.mapInPandas(run, schema=out_schema)


def drop_frequent_shingles(
    tok: DataFrame, max_doc_freq: float
) -> DataFrame:
    """Stop-shingle filtering: drop shingles present in more than
    ``max_doc_freq`` of documents BEFORE MinHashing.

    Boilerplate shingles dominate signatures (they win the min for many
    permutations across many docs), which puts whole template-heavy
    corpora into shared LSH buckets (see BENCH/dedup_scale.md): their
    star edges then fail verification, and a near pair whose only
    shared buckets these are is missed. Removing corpus-frequent
    shingles makes the signature reflect each document's DISTINCTIVE
    content — the standard web-dedup mitigation. Two extra codegen
    aggregations, shuffling only (shingle, count) pairs.

    ``max_doc_freq`` is honored APPROXIMATELY near the cutoff: the doc
    count it scales comes from ``approx_count_distinct`` (HLL, ~5% rsd),
    so a shingle whose document frequency sits within a few percent of
    the threshold may land on either side. That is fine for the
    boilerplate-removal purpose (boilerplate is orders of magnitude above
    any sane cutoff); pass an exact-counted threshold yourself if you
    need a hard fraction.
    """
    # HLL cardinality, not distinct().count(): the doc count only scales
    # a threshold, and approx_count_distinct is one map-side-combining
    # aggregate instead of a corpus-wide distinct shuffle
    n_docs = F.broadcast(
        tok.agg(F.approx_count_distinct("id").alias("__n"))
    )
    rare = (
        tok.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("__df"))
        .crossJoin(n_docs)
        .filter(F.col("__df") <= F.col("__n") * max_doc_freq)
        .select("shingle")
    )
    return tok.join(rare, "shingle", "leftsemi")


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    seed: int = 42,
) -> DataFrame:
    """(id, sig array<bigint>) MinHash signatures of each row's word
    ``n``-gram shingle set, computed per row with no shuffle.

    Slot i is ``min over shingles s of xxhash64(xxhash64(s), seed+i)``:
    one base hash per shingle (``transform(word_shingles, xxhash64)`` in
    the JVM), then ``num_hashes`` re-hashes (overflow-free under ANSI
    mode, unlike an affine family) folded in numpy over Arrow batches by
    :func:`_minhash_sigs_arrow`. The family is prefix-stable
    in ``num_hashes`` (slot i does not depend on the signature length),
    which the streaming store's bucket keys rely on. ``seed`` through
    ``seed + num_hashes - 1`` must lie in the int32 range
    ``[-2**31, 2**31)``; other seeds raise ``ValueError`` when called,
    before any Spark job runs.
    """
    return _minhash_sigs_arrow(
        _shingle_hashes(_doc_shingles(df, id_col, text_col, n)),
        num_hashes,
        seed,
    )


def _rows_per_band(num_hashes: int, bands: int) -> int:
    """Signature slots per band, ``num_hashes / bands``. Any other
    geometry is refused, before a plan is built: ``bands`` that does not
    divide ``num_hashes`` silently ignores the leftover slots, and
    ``bands > num_hashes`` gives empty bands, one bucket shared by every
    document, so everything chains."""
    if not (1 <= bands <= num_hashes and num_hashes % bands == 0):
        raise ValueError(
            f"bands={bands} must divide num_hashes={num_hashes} and lie in "
            f"[1, {num_hashes}]"
        )
    return num_hashes // bands


def _banded_buckets(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(band, bucket, id, sig) — one bucket key per signature band: the
    streaming signature store's rows, which carry their signature for
    in-join verification."""
    rows_per_band = _rows_per_band(num_hashes, bands)
    return sig.select(
        "id",
        "sig",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                                lambda v: v.cast("string"),
                            ),
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select(
        F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"), "id", "sig"
    )


def _banded_slices(
    sig: DataFrame, num_hashes: int, bands: int
) -> tuple[DataFrame, list[str]]:
    """(id, band, b0..b{r-1}) — each band's RAW signature slice as the
    bucket key, no hash (round 6). Two docs collide on a band iff the
    slice values are equal — the exact LSH banding definition — which
    removes both the 2⁻⁶⁴ bucket-collision caveat and the per-row
    cast-to-string + concat + xxhash64 codegen of
    :func:`_banded_buckets`. The hashed form is kept for the streaming
    store, whose PERSISTED bucket keys must stay stable across
    versions. Returns (frame, key column names); the ≤ r·8-byte-wider
    shuffle key is noise next to the removed per-row work.
    """
    r = _rows_per_band(num_hashes, bands)
    keys = [f"b{i}" for i in range(r)]
    banded = sig.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    *[
                        F.element_at(F.col("sig"), b * r + i + 1).alias(
                            f"b{i}"
                        )
                        for i in range(r)
                    ],
                ),
            )
        ).alias("bb"),
    ).select(
        "id",
        F.col("bb.band").alias("band"),
        *[F.col(f"bb.b{i}").alias(f"b{i}") for i in range(r)],
    )
    return banded, keys


def _doc_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, sh): each document's distinct word-``n``-gram shingles."""
    return df.select(
        F.col(id_col).alias("id"), word_shingles(text_col, n).alias("sh")
    )


def _shingle_hashes(sh: DataFrame) -> DataFrame:
    """(id, hs): the base hash ``xxhash64`` of each shingle of
    :func:`_doc_shingles`' (id, sh) frame, the signature kernel's input."""
    return sh.select(
        "id", F.transform("sh", lambda s: F.xxhash64(s)).alias("hs")
    )


def _verified_star_edges(
    sh: DataFrame,
    num_hashes: int,
    bands: int,
    threshold: float,
    seed: int,
    max_shingle_doc_freq: float | None,
) -> DataFrame:
    """(src, dst) string edges for :func:`minhash_dedup_groups`: each
    document's star edge to the min id of every band bucket it shares,
    kept only when the two documents' exact shingle-set Jaccard is
    ≥ ``threshold``.

    ``sh`` is :func:`_doc_shingles`' (id, sh) frame, materialized by the
    caller: the signature kernel's input and both verify join sides read
    it, so no side re-derives the shingles or re-reads the input."""
    from pyspark.sql.window import Window

    if max_shingle_doc_freq is None:
        hs = _shingle_hashes(sh)
    else:
        # the filter needs corpus-level shingle frequencies, so it runs
        # on the exploded token table; the survivors' base hashes are
        # grouped back per doc for the same kernel
        tok = drop_frequent_shingles(
            sh.select("id", F.explode("sh").alias("shingle")),
            max_shingle_doc_freq,
        )
        hs = tok.groupBy("id").agg(
            F.collect_list(F.xxhash64("shingle")).alias("hs")
        )
    sig = _minhash_sigs_arrow(hs, num_hashes, seed)
    banded, keys = _banded_slices(sig, num_hashes, bands)
    # ONE bucket-partitioned window min (one exchange) rather than
    # groupBy + self-join, which re-derived the signature pipeline on
    # both join sides. The min runs on the NATIVE id type: the anchor
    # only has to be the same for every member of the bucket
    star = (
        banded.select(
            "id", F.min("id").over(Window.partitionBy("band", *keys)).alias("dst")
        )
        .filter(F.col("id") != F.col("dst"))
        .dropDuplicates()
    )
    # join each document's ONE shingle array to both edge ends: building
    # them per edge end (up to ``bands`` times per doc on templated
    # corpora) was 4.5x slower at 100k docs (BENCH/dedup_scale.md).
    # word_shingles arrays are distinct, so |array_intersect| is the
    # intersection size. No broadcast hints: AQE broadcasts the edge
    # side when it turns out small
    pairs = (
        star.join(sh, "id")
        .join(sh.withColumnsRenamed({"id": "dst", "sh": "dsh"}), "dst")
        .withColumn("__c", F.size(F.array_intersect("sh", "dsh")))
    )
    jac = F.col("__c") / (F.size("sh") + F.size("dsh") - F.col("__c"))
    return pairs.filter(jac >= threshold).select(
        F.col("id").cast("string").alias("src"),
        F.col("dst").cast("string").alias("dst"),
    )


def minhash_dedup_groups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    seed: int = 42,
    max_shingle_doc_freq: float | None = None,
) -> DataFrame:
    """Near-duplicate clusters: MinHash banding → star edges verified by
    exact n-gram Jaccard → connected components. Returns (doc_id string,
    group_id string), group_id = the cluster's min string doc id;
    singletons omitted.

    Each (band, bucket) collapses to STAR edges, member → bucket-min
    doc, so there are at most ``bands`` edges per document however the
    clusters are shaped (enumerating candidate PAIRS is Θ(Σ bucket²):
    one 14k-copy boilerplate bucket alone yields 10⁸ pairs). Every star
    edge is then verified — word-``n``-gram Jaccard ≥ ``threshold`` —
    BEFORE the edges are unioned, so a bucket shared by dissimilar
    template documents cannot chain them into one component: two
    documents end up grouped only through a path of verified
    near-duplicate edges.

    Each document is shingled once: the (id, shingles) frame is
    local-checkpointed (one job) and feeds the signatures, the optional
    frequency filter and both verify sides; its blocks are released when
    connected components returns. Bad banding geometry or seeds raise
    ``ValueError`` before that job.

    Caveat: the two documents of a near pair meet only through the min
    of the buckets they share. If every shared bucket's min is a
    dissimilar document, both star edges fail verification and the
    pair is not grouped (pinned by
    ``test_minhash_star_edge_caveat_dissimilar_bucket_min``).
    ``max_shingle_doc_freq`` is the mitigation: it applies
    :func:`drop_frequent_shingles` before signing, so boilerplate
    shingles stop dominating signatures and putting unrelated documents
    in one bucket. A document whose every shingle is corpus-frequent
    carries no distinctive content and is left unclustered (run exact
    fingerprint dedup first — KGPipeline does). That branch signs each
    document's surviving shingles, grouped back from the filtered token
    table, with the same kernel as :func:`minhash_signatures`;
    verification always uses the full shingle sets.

    ``bands`` must divide ``num_hashes`` (``ValueError`` otherwise).
    """
    from .canonicalize import _release, connected_components

    # refuse bad geometry and seeds before the checkpoint job runs
    _rows_per_band(num_hashes, bands)
    _check_seeds(seed, num_hashes)
    sh = _doc_shingles(df, id_col, text_col, n).localCheckpoint(eager=True)
    try:
        cc = connected_components(
            _verified_star_edges(
                sh, num_hashes, bands, threshold, seed, max_shingle_doc_freq
            )
        )
    finally:
        _release(sh)
    # CC's component is the min string node id, and every node it
    # returns has an edge to another one: no singleton to drop
    return cc.select(
        F.col("node").alias("doc_id"), F.col("component").alias("group_id")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
def simhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
) -> DataFrame:
    """(id, sig bigint) — 64-bit SimHash over each document's distinct
    word ``n``-grams (:func:`word_shingles` rules), md5 bits.

    Bit b of a gram's hash is bit ``3 - b%4`` of hex digit ``b//4`` of
    ``md5(gram)``, which is bit ``63 - b`` of the md5 prefix from
    :func:`_word_gram_md5s`. Signature bit b is set iff at least half
    the grams have it set (``2·sum ≥ count``; ties set the bit). md5
    exists in DuckDB/Postgres/etc., so the signature is reproducible
    outside Spark and the ``simhash_pairs`` oracle recomputes it in SQL.

    The JVM ships only the normalized text; grams are hashed in Python
    and the 64 bit counts summed per document in numpy over Arrow
    batches (``mapInPandas``). A null, empty or all-blank
    text has the one empty gram, so all such documents share one
    signature.
    """
    from itertools import chain

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField("id", df.schema[id_col].dataType, True),
            StructField("sig", LongType(), True),
        ]
    )
    src = df.select(
        F.col(id_col).alias("id"), normalize_text(text_col).alias("__t")
    )

    def run(batches):
        one = np.uint64(1)
        for pdf in batches:
            per_doc = [_word_gram_md5s(t, n) for t in pdf["__t"]]
            # every text has at least one gram, so no segment is empty
            cnt = np.fromiter(map(len, per_doc), np.int64, len(per_doc))
            flat = np.fromiter(chain.from_iterable(per_doc), np.uint64)
            starts = np.zeros(len(cnt), dtype=np.int64)
            np.cumsum(cnt[:-1], out=starts[1:])
            sig = np.zeros(len(cnt), dtype=np.uint64)
            for b in range(64):
                bits = (flat >> np.uint64(63 - b)) & one
                sums = np.add.reduceat(bits.view(np.int64), starts)
                sig |= (2 * sums >= cnt).astype(np.uint64) << np.uint64(b)
            yield pd.DataFrame({"id": pdf["id"], "sig": sig.view(np.int64)})

    return src.mapInPandas(run, schema=out_schema)


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit signatures (bit_count of xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def _simhash_block_plan(
    max_hamming: int, min_key_bits: int = 16, max_tables: int = 70
) -> tuple[list[int], list[int], list[tuple[int, ...]]]:
    """Lossless multi-table blocking plan (Manku-Jain-Sadhwani, WWW'07).

    Split 64 bits into ``n_blocks`` blocks and key each table on a
    combination of ``key_blocks = n_blocks - max_hamming`` blocks: a pair
    within the Hamming budget corrupts ≤ max_hamming blocks, so at least
    one table's key blocks are all untouched — lossless by pigeonhole.

    Picks the smallest n_blocks whose key is ≥ ``min_key_bits`` wide
    (narrow keys degenerate the self-join toward O(n²/2^bits): the
    round-1 contiguous-band scheme at max_hamming=10 had ≤6-bit keys)
    and whose table count stays ≤ ``max_tables``. Raises for budgets
    where no such plan exists (max_hamming ≥ 7 with 16-bit keys) —
    MinHash-LSH is the right operator for loose thresholds.

    Returns (widths, offsets, tables) where tables enumerates the block
    index combinations.
    """
    from itertools import combinations
    from math import comb

    if max_hamming < 0:
        raise ValueError("max_hamming must be ≥ 0")
    for n_blocks in range(max_hamming + 1, 33):
        key_blocks = n_blocks - max_hamming
        if key_blocks * (64 // n_blocks) < min_key_bits:
            continue
        if comb(n_blocks, key_blocks) > max_tables:
            continue
        widths = [
            64 // n_blocks + (1 if i < 64 % n_blocks else 0)
            for i in range(n_blocks)
        ]
        offsets = [sum(widths[:i]) for i in range(n_blocks)]
        return widths, offsets, list(combinations(range(n_blocks), key_blocks))
    raise ValueError(
        f"no lossless SimHash blocking with ≥{min_key_bits}-bit keys and "
        f"≤{max_tables} tables exists for max_hamming={max_hamming}; use "
        "minhash_dedup_groups for loose similarity budgets, or lower "
        "min_key_bits explicitly"
    )


def _simhash_table_keys(
    sig: DataFrame, max_hamming: int, min_key_bits: int = 16
) -> DataFrame:
    """(id, sig, band, key) — one row per (signature, blocking table) of
    the :func:`_simhash_block_plan` for ``max_hamming``: ``band`` is the
    table index and ``key`` packs that table's signature blocks."""
    widths, offsets, tables = _simhash_block_plan(max_hamming, min_key_bits)

    def block_val(k: int) -> Column:
        v = F.shiftrightunsigned(F.col("sig"), offsets[k])
        if widths[k] < 64:
            v = v.bitwiseAND(F.lit((1 << widths[k]) - 1).cast("long"))
        return v

    def table_key(blocks: tuple[int, ...]) -> Column:
        key = F.lit(0).cast("long")
        for k in blocks:
            key = F.shiftleft(key, widths[k]).bitwiseOR(block_val(k))
        return key

    return sig.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("band"), table_key(blocks).alias("key")
                    )
                    for t, blocks in enumerate(tables)
                ]
            )
        ).alias("bk"),
    ).select("id", "sig", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    n: int = 2,
    min_key_bits: int = 16,
) -> DataFrame:
    """Pairs with SimHash Hamming distance ≤ ``max_hamming`` —
    (id_a, id_b, hamming), id_a < id_b, over :func:`simhash_signatures`.
    Lossless (every qualifying pair is emitted): candidates come from
    the multi-table wide-key blocking of :func:`_simhash_block_plan`
    (:func:`_simhash_table_keys`), then the exact Hamming filter.

    Each table is one shuffle keyed by (table, key) with ≥
    ``min_key_bits``-bit keys, so per-bucket collision lists stay
    O(n/2^bits) and the self-join cost is O(tables · n) rows in, not
    O(n²/buckets) out — the property that makes this safe at 100 TB.

    Null, empty and all-blank texts all hash the one empty gram, so
    they share one signature and pair with each other at Hamming 0.
    """
    # cached: the banded self-join reads it for both sides
    sig = simhash_signatures(df, id_col, text_col, n).cache()
    banded = _simhash_table_keys(sig, max_hamming, min_key_bits)
    a = banded.select(
        F.col("id").alias("id_a"), F.col("sig").alias("sig_a"), "band", "key"
    )
    b = banded.select(
        F.col("id").alias("id_b"), F.col("sig").alias("sig_b"), "band", "key"
    )
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            hamming64(F.col("sig_a"), F.col("sig_b")).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )
