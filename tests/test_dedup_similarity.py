"""Dedup / similarity / text-analysis / multimodal operator tests.

Runs over the driver's read-only testdata (TESTDATA.md) plus small
hand-built corpora with known duplicate structure.
"""

import re
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from llm_information_extraction_spark.functions.textmetrics import (
    detect_lang,
    doc_fingerprint,
    quality_score,
    token_count,
)
from llm_information_extraction_spark.operators.dedup import (
    exact_dedup,
    exact_duplicate_groups,
    hamming64,
    minhash_dedup_groups,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
    simhash_signatures,
    word_shingles,
)
from llm_information_extraction_spark.operators.multimodal import (
    extract_media_features,
    media_stats,
    resize_media,
    synth_media,
)
from llm_information_extraction_spark.operators import similarity
from llm_information_extraction_spark.operators.similarity import (
    cosine_topk,
    cosine_topk_join,
    embedding_near_dup_pairs_blocked,
    ivf_topk,
    ivf_topk_join,
    rp_lsh_near_dup_pairs,
)

SF_DIR = "/root/testdata/sf0.001"
ROOT = Path(__file__).resolve().parent.parent

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden"
)


@pytest.fixture(scope="module")
def dup_corpus(spark):
    rows = [
        (1, BASE),
        (2, BASE),                                   # exact dup of 1
        (3, BASE.replace("warm", "cold")),           # near dup of 1
        (4, "completely different text about spark sql shuffle partitions"),
        (5, "  THE   quick brown fox jumps over the lazy dog while the cat "
            "watches from the warm windowsill and the birds sing in the garden "),
        # normalized-exact dup of 1
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_exact_dedup(dup_corpus):
    groups = exact_duplicate_groups(dup_corpus).collect()
    assert len(groups) == 1
    assert groups[0]["doc_ids"] == [1, 2, 5]
    assert groups[0]["keep_id"] == 1
    kept = {r["doc_id"] for r in exact_dedup(dup_corpus).collect()}
    assert kept == {1, 3, 4}


def test_ngram_jaccard_pairs(dup_corpus):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(dup_corpus, threshold=0.5).collect()
    }
    assert pairs[(1, 2)] == pytest.approx(1.0)
    assert pairs[(1, 5)] == pytest.approx(1.0)
    assert (1, 3) in pairs and pairs[(1, 3)] < 1.0
    assert all(a != 4 and b != 4 for a, b in pairs)


def exact_closure(df, threshold, id_col="doc_id", text_col="text"):
    """{doc_id: group_id} of the exact word-3-gram-Jaccard closure —
    every pair ≥ ``threshold`` unioned, group_id = min string id: the
    oracle the MinHash grouping is checked against."""
    from llm_information_extraction_spark.operators.canonicalize import (
        connected_components,
    )

    pairs = ngram_jaccard_pairs(
        df, id_col, text_col, threshold=threshold
    ).select(
        F.col("id_a").cast("string").alias("src"),
        F.col("id_b").cast("string").alias("dst"),
    )
    return {
        r["node"]: r["component"]
        for r in connected_components(pairs).collect()
    }


def _groups(df):
    return {r["doc_id"]: r["group_id"] for r in df.collect()}


def test_minhash_dedup_groups(dup_corpus):
    got = _groups(minhash_dedup_groups(dup_corpus, threshold=0.5))
    # 1,2,5 exact-identical signatures; 3 near-dup joins the cluster
    assert got == exact_closure(dup_corpus, 0.5)
    assert got["1"] == got["2"] == got["5"] == got["3"] == "1"
    assert "4" not in got


def test_minhash_dedup_groups_matches_exact_closure_on_testdata(spark):
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = _groups(minhash_dedup_groups(d, threshold=0.5))
    assert got and got == exact_closure(d, 0.5)


def test_minhash_dedup_groups_finds_planted_copies_in_templated_corpus(spark):
    """Generator documents share their templates (median pairwise
    3-gram Jaccard ≈ 0.3), so MinHash buckets mix unrelated documents.
    25 planted copies (payload + one appended word) must all be grouped
    with their source at 0.8, and every dropped document must be a true
    member of the exact ≥ 0.8 closure."""
    from llm_information_extraction_spark.operators.payload import (
        build_payload,
    )
    from llm_information_extraction_spark.sources.synthetic import (
        generate_documents,
    )

    payload = build_payload(generate_documents(spark, 500, seed=42)).select(
        "doc_id", "payload"
    )
    sources = [
        r["doc_id"]
        for r in payload.orderBy("doc_id").select("doc_id").collect()[::20]
    ]
    assert len(sources) == 25
    copies = payload.filter(F.col("doc_id").isin(sources)).select(
        F.concat("doc_id", F.lit("_copy")).alias("doc_id"),
        F.concat("payload", F.lit(" appendedword")).alias("payload"),
    )
    corpus = payload.unionByName(copies).cache()

    got = _groups(
        minhash_dedup_groups(corpus, text_col="payload", threshold=0.8)
    )
    found = [s for s in sources if s in got and got.get(f"{s}_copy") == got[s]]
    assert len(found) / len(sources) == 1.0, f"recall {len(found)}/25"
    closure = exact_closure(corpus, 0.8, text_col="payload")
    false_drops = [
        d
        for d, g in got.items()
        if d != g and (d not in closure or closure[d] != closure.get(g))
    ]
    assert false_drops == []
    corpus.unpersist()


def test_minhash_star_edge_caveat_dissimilar_bucket_min(spark, monkeypatch):
    """The documented caveat of star-edge grouping: near copies B and C
    share only band 0, whose min is a dissimilar lower-id document A.
    Both star edges (B → A, C → A) fail verification, so B and C are
    NOT grouped; without A the same bucket's min is B and they are."""
    from llm_information_extraction_spark.operators import dedup

    text_b = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango"
    )
    rows = [
        (1, "unrelated filler words about some entirely different topic"),
        (2, text_b),
        (3, text_b + " uniform"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    jac = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.0).collect()
    }
    assert jac[(2, 3)] >= 0.8 and (1, 2) not in jac and (1, 3) not in jac

    # band 0 (slots 0-3) equal for all three docs; every other slot
    # distinct per doc, so no other band bucket is shared
    sigs = spark.createDataFrame(
        [(i, [0] * 4 + [1000 * i + k for k in range(60)]) for i in (1, 2, 3)],
        "id bigint, sig array<bigint>",
    )
    monkeypatch.setattr(
        dedup,
        "_minhash_sigs_arrow",
        lambda hs_df, num_hashes, seed: hs_df.select("id").join(sigs, "id"),
    )
    assert _groups(dedup.minhash_dedup_groups(docs)) == {}
    without_a = docs.filter(F.col("doc_id") != 1)
    assert _groups(dedup.minhash_dedup_groups(without_a)) == {
        "2": "2",
        "3": "2",
    }


def minhash_signature_oracle(
    shingles, num_hashes: int = 64, seed: int = 42
):
    """array<bigint> MinHash signature as a per-row column expression —
    the bit-equality oracle for the library's numpy kernel.

    h_i(S) = min over shingles of xxhash64(xxhash64(shingle), seed+i),
    folded by array higher-order functions (interpreted per element).
    The seeds array is bound ONCE via a single-element-array transform
    scope: referencing the computed sequence inside the aggregate lambda
    would re-materialize it per shingle (no CSE across HOF lambdas).
    """
    hashes = F.transform(shingles, lambda s: F.xxhash64(s))

    def build(seeds):
        init = F.array_repeat(F.lit(2**63 - 1).cast("long"), num_hashes)
        return F.aggregate(
            hashes,
            init,
            lambda acc, h: F.zip_with(
                acc, seeds, lambda m, i: F.least(m, F.xxhash64(h, i))
            ),
        )

    return F.transform(
        F.array(F.sequence(F.lit(seed), F.lit(seed + num_hashes - 1))), build
    )[0]


def test_minhash_kernel_matches_hof_oracle(spark):
    """The numpy signature kernel must be BIT-IDENTICAL to the
    expression oracle at 64 slots and at 256 (the streaming store's
    ``verify_hashes`` default), and prefix-stable: the 256-slot
    signature's first 64 slots equal the 64-slot signature, because the
    store's persisted bucket keys hash exactly that prefix."""
    from llm_information_extraction_spark.operators.dedup import (
        minhash_signatures,
        word_shingles,
    )

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sigs = {}
    for k in (64, 256):
        kernel = {
            r["id"]: r["sig"]
            for r in minhash_signatures(
                d, "doc_id", "text", num_hashes=k
            ).collect()
        }
        oracle = {
            r["doc_id"]: r["sig"]
            for r in d.select(
                "doc_id",
                minhash_signature_oracle(
                    word_shingles("text", 3), k
                ).alias("sig"),
            ).collect()
        }
        assert kernel == oracle and len(kernel) == d.count()
        assert all(len(v) == k for v in kernel.values())
        sigs[k] = kernel
    assert {i: v[:64] for i, v in sigs[256].items()} == sigs[64]


def test_minhash_filtered_branch_matches_hof_oracle(spark, monkeypatch):
    """``minhash_dedup_groups(max_shingle_doc_freq=...)`` signs the
    shingles that survive stop-shingle filtering, grouped back per doc
    from the filtered token table: its signatures must equal the oracle
    over those same filtered shingle sets."""
    from llm_information_extraction_spark.operators import dedup

    boiler = "shared opening words for every single document here"
    rows = [
        (i, f"{boiler} doc {i} says alpha{i} beta{i % 3} gamma{i} delta")
        for i in range(12)
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    captured = []
    kernel = dedup._minhash_sigs_arrow

    def spy(hs_df, num_hashes, seed):
        out = kernel(hs_df, num_hashes, seed)
        # the kernel reads the grouping's shingle checkpoint, which is
        # released when the call returns: collect inside the call
        captured.append({r["id"]: r["sig"] for r in out.collect()})
        return out

    monkeypatch.setattr(dedup, "_minhash_sigs_arrow", spy)
    dedup.minhash_dedup_groups(docs, max_shingle_doc_freq=0.5)
    (got,) = captured

    kept = (
        dedup.drop_frequent_shingles(
            dedup._doc_shingles(docs, "doc_id", "text", 3).select(
                "id", F.explode("sh").alias("shingle")
            ),
            0.5,
        )
        .groupBy("id")
        .agg(F.collect_set("shingle").alias("sh"))
    )
    want = {
        r["id"]: r["sig"]
        for r in kept.select(
            "id", minhash_signature_oracle(F.col("sh")).alias("sig")
        ).collect()
    }
    unfiltered = {
        r["id"]: r["sig"]
        for r in dedup.minhash_signatures(docs).collect()
    }
    assert got == want and len(got) == len(rows)
    # the filter really dropped the boilerplate shingles
    assert all(got[i] != unfiltered[i] for i in got)


@pytest.mark.parametrize("seed", [2**31, 2**31 - 63, -(2**31) - 1])
def test_minhash_seed_outside_int32_raises_before_any_job(spark, seed):
    """Slot i hashes ``seed+i`` as an int32; a seed range leaving int32
    is refused when the plan is built, before any Spark job starts
    (``2**31 - 63`` fails through its last slot at 64 hashes)."""
    from llm_information_extraction_spark.operators.dedup import (
        minhash_signatures,
    )
    from llm_information_extraction_spark.session import job_group

    docs = spark.createDataFrame([(1, "a b c d")], "doc_id bigint, text string")
    group = "test:minhash-seed"
    with job_group(spark, group):
        with pytest.raises(ValueError, match="int32"):
            minhash_signatures(docs, num_hashes=64, seed=seed)
    assert not spark.sparkContext.statusTracker().getJobIdsForGroup(group)


@pytest.mark.parametrize("bands", [0, 5, 128])
def test_minhash_bad_banding_geometry_raises_before_any_job(spark, bands):
    """``bands`` must divide ``num_hashes``: 128 bands of 64 slots are
    empty (one bucket for every doc), 5 bands ignore 4 slots. The
    grouping's raw-slice banding, the streaming store's hashed buckets
    and the stream's definition refuse them before any job runs."""
    from llm_information_extraction_spark.operators.dedup import (
        _banded_buckets,
        minhash_signatures,
    )
    from llm_information_extraction_spark.session import job_group
    from llm_information_extraction_spark.streaming import (
        incremental_fuzzy_unique_documents,
    )

    docs = spark.createDataFrame([(1, "a b c d")], "doc_id bigint, text string")
    group = "test:minhash-bands"
    with job_group(spark, group):
        with pytest.raises(ValueError, match="must divide"):
            minhash_dedup_groups(docs, num_hashes=64, bands=bands)
        with pytest.raises(ValueError, match="must divide"):
            _banded_buckets(minhash_signatures(docs), 64, bands)
        with pytest.raises(ValueError, match="must divide"):
            incremental_fuzzy_unique_documents(
                spark, "in", "out", "ckpt", "state", num_hashes=64, bands=bands
            )
    assert not spark.sparkContext.statusTracker().getJobIdsForGroup(group)


def simhash_md5_agg_oracle(df, id_col="doc_id", text_col="text", n=2):
    """(id, sig) — the SimHash signature as pure Spark expressions:
    explode ``word_shingles``, parse md5's first 16 hex digits as two
    32-bit ``conv`` halves, one sum per signature bit, set bit b iff
    ``2·sum ≥ count``. Bit b of a shingle is bit ``3 - b%4`` of hex
    digit ``b//4`` (digit i of a half sits at bits [4·(7−i), 4·(7−i)+3]),
    the rule the DuckDB ``simhash_pairs`` oracle spells out in SQL."""
    hexd = F.md5("shingle")
    src = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(text_col, n)).alias("shingle"),
    ).select(
        "id",
        F.conv(F.substring(hexd, 1, 8), 16, 10).cast("long").alias("h0"),
        F.conv(F.substring(hexd, 9, 8), 16, 10).cast("long").alias("h1"),
    )

    def bit(b):
        half, i = divmod(b // 4, 8)
        return (
            F.shiftright(F.col(f"h{half}"), 4 * (7 - i) + (3 - b % 4))
            .bitwiseAND(F.lit(1))
            .cast("long")
        )

    sums = src.groupBy("id").agg(
        F.count(F.lit(1)).alias("cnt"),
        *[F.sum(bit(b)).alias(f"b{b}") for b in range(64)],
    )
    sig = F.lit(0).cast("long")
    for b in range(64):
        mask = F.lit((1 << b) if b < 63 else -(2**63)).cast("long")
        sig = sig.bitwiseOR(
            F.when(F.col(f"b{b}") * 2 >= F.col("cnt"), mask).otherwise(
                F.lit(0).cast("long")
            )
        )
    return sums.select("id", sig.alias("sig"))


def _sigs(df):
    return {r["id"]: r["sig"] for r in df.collect()}


def _pairs(pairs_df):
    return {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs_df.collect()}


def test_simhash_kernel_matches_md5_agg_oracle(spark):
    """The numpy md5 signature kernel must be BIT-IDENTICAL to the
    expression oracle — the DuckDB oracle's bit-exactness rests on it."""
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    kernel = _sigs(simhash_signatures(d))
    assert kernel == _sigs(simhash_md5_agg_oracle(d))
    assert len(kernel) == d.count()


def test_md5_kernels_pin_degenerate_texts(spark):
    """Null, empty, blank, one-word (< n words) and two-word texts, and
    an empty frame: both md5 word-gram kernels equal their expression
    oracles. Null, "" and blank texts all hash the one empty gram, so
    they share a signature, pair at Hamming 0, and an all-null train
    set is fully contaminated by an all-null eval set."""
    from test_textprep import gram_keys, gram_keys_oracle

    from llm_information_extraction_spark.operators.textprep import (
        contaminated_ids,
    )

    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "Solo"), (5, "two  Words")],
        "doc_id bigint, text string",
    )
    for frame in (docs, docs.limit(0)):
        assert _sigs(simhash_signatures(frame)) == _sigs(
            simhash_md5_agg_oracle(frame)
        )
        for n in (2, 13):
            assert gram_keys(frame, n) == gram_keys_oracle(frame, n)
    sigs = _sigs(simhash_signatures(docs))
    assert sigs[1] == sigs[2] == sigs[3]
    assert len({sigs[1], sigs[4], sigs[5]}) == 3
    pairs = _pairs(simhash_near_dup_pairs(docs, max_hamming=3))
    assert {p: h for p, h in pairs.items() if h == 0} == {
        (1, 2): 0, (1, 3): 0, (2, 3): 0
    }
    nulls = spark.createDataFrame(
        [(i, None) for i in range(3)], "doc_id bigint, text string"
    )
    assert {r["doc_id"] for r in contaminated_ids(nulls, nulls).collect()} == {
        0, 1, 2
    }


def test_winnow_fingerprints_guarantee(spark):
    """Winnowing guarantee: a shared token run of length ≥ window+n−1
    yields ≥1 shared fingerprint; disjoint docs share none."""
    from llm_information_extraction_spark.operators.dedup import (
        winnow_overlap_pairs,
    )

    shared_run = "the hippocampus modulates consolidation during slow wave sleep"
    rows = [
        (1, f"intro words alpha beta {shared_run} closing remarks one"),
        (2, f"totally different opening gamma delta {shared_run} and more"),
        (3, "nothing in common here whatsoever with anybody else at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    pairs = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in winnow_overlap_pairs(
            docs, n=3, window=4, min_shared=1
        ).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 1
    assert all(3 not in p for p in pairs)


def test_stop_shingle_filter_breaks_boilerplate_chaining(spark):
    """All docs share a boilerplate prefix: dropping corpus-frequent
    shingles before signing leaves only the true duplicate pair
    grouped."""
    boiler = (
        "this article is distributed under the terms of the creative "
        "commons attribution license which permits unrestricted use"
    )
    rows = [
        (i, f"{boiler} study number {i} investigated outcome variable "
            f"alpha{i} beta{i} gamma{i} delta{i} epsilon{i} zeta{i}")
        for i in range(20)
    ]
    rows += [
        (20, f"{boiler} completely identical trailing content about "
             "sleep and memory consolidation in adults"),
        (21, f"{boiler} completely identical trailing content about "
             "sleep and memory consolidation in adults"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    filtered = _groups(
        minhash_dedup_groups(docs, max_shingle_doc_freq=0.5)
    )
    assert set(filtered) == {"20", "21"}  # only the true dup pair


def test_simhash_near_dups(dup_corpus):
    sigs = _sigs(simhash_signatures(dup_corpus))
    assert sigs[1] == sigs[2] == sigs[5]
    assert sigs[1] != sigs[4]
    wide = _pairs(
        # hamming budgets > 6 need an explicit narrow-key opt-in — fine
        # on a 5-doc corpus, refused by default (scale guard)
        simhash_near_dup_pairs(dup_corpus, max_hamming=12, min_key_bits=4)
    )
    assert wide[(1, 2)] == 0
    assert (1, 3) in wide  # one-word edit stays within the budget
    assert all(4 not in p for p in wide)


def _random_docs(spark, n, words_per_doc=12, vocab=1000):
    from pyspark.sql import functions as F

    words = F.transform(
        F.sequence(F.lit(0), F.lit(words_per_doc - 1)),
        lambda i: F.concat(
            F.lit("w"), F.pmod(F.xxhash64(F.col("id"), i), F.lit(vocab))
        ),
    )
    return spark.range(n).select(
        F.col("id").alias("doc_id"), F.array_join(words, " ").alias("text")
    )


def test_simhash_blocking_is_lossless(spark):
    """Multi-table blocked pairs == brute-force Hamming pairs, at d=3
    (single-block 16-bit keys) and d=5 (2-of-7-block composite keys)."""
    from pyspark.sql import functions as F

    from llm_information_extraction_spark.operators.dedup import (
        hamming64,
        simhash_signatures,
    )

    docs = _random_docs(spark, 300, vocab=40).cache()  # small vocab → near dups
    sig = simhash_signatures(docs, "doc_id", "text").cache()
    for d in (3, 5):
        brute = {
            (r["id_a"], r["id_b"])
            for r in sig.alias("a")
            .crossJoin(sig.alias("b"))
            .filter(F.col("a.id") < F.col("b.id"))
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                hamming64(F.col("a.sig"), F.col("b.sig")).alias("h"),
            )
            .filter(F.col("h") <= d)
            .collect()
        }
        blocked = {
            (r["id_a"], r["id_b"])
            for r in simhash_near_dup_pairs(docs, max_hamming=d).collect()
        }
        assert blocked == brute, f"d={d}: blocked != brute force"


def test_simhash_refuses_degenerate_band_widths():
    import pytest as _pytest

    from llm_information_extraction_spark.operators.dedup import (
        _simhash_block_plan,
    )

    with _pytest.raises(ValueError, match="minhash"):
        _simhash_block_plan(10)  # the round-1 scale-killer budget
    widths, _, tables = _simhash_block_plan(3)
    assert len(tables) == 4 and all(len(t) == 1 for t in tables)
    widths6, _, tables6 = _simhash_block_plan(6)
    # composite 2-of-8-block keys: 16-bit effective width, 28 tables
    assert all(len(t) == 2 for t in tables6) and len(tables6) == 28


def test_simhash_candidate_pairs_stay_linear(spark):
    """On 10⁵ random docs the per-table buckets must spread: total
    candidate pairs Σ c·(c−1)/2 stays O(n), nowhere near the O(n²/2^bits)
    a narrow-key scheme produces. Buckets are the library's own
    blocking keys, the rows ``simhash_near_dup_pairs`` self-joins."""
    from llm_information_extraction_spark.operators.dedup import (
        _simhash_table_keys,
    )

    n = 100_000
    sig = simhash_signatures(_random_docs(spark, n), "doc_id", "text")
    buckets = (
        _simhash_table_keys(sig, max_hamming=3)
        .groupBy("band", "key")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cand = buckets.agg(
        F.sum(F.col("c") * (F.col("c") - 1) / 2).alias("pairs")
    ).first()["pairs"]
    assert cand <= 20 * n, f"{cand} candidate pairs for n={n}"


def test_simhash_md5_variant_finds_exact_dups(dup_corpus):
    pairs = _pairs(simhash_near_dup_pairs(dup_corpus, max_hamming=3))
    assert pairs[(1, 2)] == 0 and pairs[(2, 5)] == 0 and pairs[(1, 5)] == 0
    assert all(4 not in p for p in pairs)


def test_embedding_near_dup_and_lsh(spark):
    rng = np.random.default_rng(0)
    base = rng.normal(size=8)
    rows = [
        (1, (base / np.linalg.norm(base)).tolist()),
        (2, (base / np.linalg.norm(base) * 3.0).tolist()),   # same direction
        (3, (base + rng.normal(scale=0.01, size=8)).tolist()),  # tiny noise
        (4, rng.normal(size=8).tolist()),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs_blocked(df, threshold=0.99).collect()
    }
    assert (1, 2) in exact and (1, 3) in exact and (2, 3) in exact
    assert all(4 not in p for p in exact)
    approx = {
        (r["id_a"], r["id_b"])
        for r in rp_lsh_near_dup_pairs(df, dim=8, threshold=0.99, num_planes=8).collect()
    }
    # LSH must find the identical-direction pair (same bucket guaranteed)
    assert (1, 2) in approx
    assert approx <= exact  # no false positives (exact verify step)


def test_cosine_topk_on_testdata(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    first = emb.orderBy("vec_id").first()
    got = cosine_topk(emb, list(first["embedding"]), k=5).collect()
    assert got[0]["id"] == first["vec_id"]  # self is nearest
    assert got[0]["cosine"] == pytest.approx(1.0)
    sims = [r["cosine"] for r in got]
    assert sims == sorted(sims, reverse=True)


def test_cosine_topk_join(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.limit(3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = cosine_topk_join(emb, queries, k=4).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    assert len(by_q) == 3
    for qid, rows in by_q.items():
        assert len(rows) == 4
        assert rows[0]["id"] == qid  # rank 1 is self
        assert [r["rank"] for r in sorted(rows, key=lambda x: x["rank"])] == [1, 2, 3, 4]


def test_ivf_topk_recall(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    from llm_information_extraction_spark.operators.similarity import (
        ivf_index,
        ivf_topk,
    )

    index, centroids = ivf_index(emb, n_centroids=8)
    index = index.cache()
    q = emb.orderBy("vec_id").first()
    query = [float(x) for x in q["embedding"]]
    exact = [r["id"] for r in cosine_topk(emb, query, k=10).collect()]
    # full probe == exact search
    full = [r["id"] for r in
            ivf_topk(index, centroids, query, k=10, n_probe=8).collect()]
    assert full == exact
    # partial probe finds the self-match and decent recall
    approx = [r["id"] for r in
              ivf_topk(index, centroids, query, k=10, n_probe=3).collect()]
    assert approx[0] == q["vec_id"]
    assert len(set(approx) & set(exact)) >= 5


def test_ivf_sample_fit_full_probe_still_exact(spark):
    """fit_fraction trains the quantizer on a deterministic hash sample;
    exactness at n_probe == n_centroids is fit-independent (every cell
    scanned), every vector still gets assigned, and the sample fit is
    reproducible."""
    from llm_information_extraction_spark.operators.similarity import (
        cosine_topk,
        ivf_index,
        ivf_topk,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n = emb.count()
    index, centroids = ivf_index(emb, n_centroids=8, fit_fraction=0.5)
    assert index.count() == n  # full corpus assigned
    q = emb.orderBy("vec_id").first()
    query = [float(x) for x in q["embedding"]]
    exact = [r["id"] for r in cosine_topk(emb, query, k=10).collect()]
    full = [
        r["id"]
        for r in ivf_topk(index, centroids, query, k=10, n_probe=8).collect()
    ]
    assert full == exact
    # deterministic: same sample, same centroids on re-fit
    _, centroids2 = ivf_index(emb, n_centroids=8, fit_fraction=0.5)
    assert centroids2 == centroids


def test_ivf_topk_join_matches_per_query_probes(spark):
    """Batched serving: one broadcast-join job over the index must equal
    the union of per-query ivf_topk results (same probes, same ranks)."""
    from llm_information_extraction_spark.operators.similarity import (
        ivf_index,
        ivf_topk,
        ivf_topk_join,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    index, centroids = ivf_index(emb, n_centroids=8)
    qrows = emb.orderBy("vec_id").limit(40).collect()[::13]  # 4 queries
    queries = spark.createDataFrame(
        [(r["vec_id"], r["embedding"]) for r in qrows],
        "query_id bigint, embedding array<float>",
    )
    joined = ivf_topk_join(index, centroids, queries, k=5, n_probe=3)
    got = {
        (r["query_id"], r["rank"]): r["id"] for r in joined.collect()
    }
    for r in qrows:
        single = ivf_topk(
            index, centroids, [float(x) for x in r["embedding"]], k=5, n_probe=3
        ).collect()
        for rank, s in enumerate(single, start=1):
            assert got[(r["vec_id"], rank)] == s["id"], (r["vec_id"], rank)
    assert len(got) == len(qrows) * 5


def test_ivf_topk_join_empty_queries(spark):
    """Zero queries → zero rows, correct schema, no error."""
    from llm_information_extraction_spark.operators.similarity import (
        ivf_index,
        ivf_topk_join,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    index, centroids = ivf_index(emb, n_centroids=4)
    empty = emb.limit(0).selectExpr(
        "vec_id as query_id", "embedding"
    )
    out = ivf_topk_join(index, centroids, empty, k=3, n_probe=2)
    assert out.columns == ["query_id", "id", "cosine", "rank"]
    assert out.count() == 0


def test_ivf_topk_join_shuffle_fallback_matches_broadcast(spark, monkeypatch):
    """The cell-repartition shuffle shape (probe sets too large to
    broadcast) must return exactly the broadcast serving shape's rows;
    it is picked when n_queries * n_probe exceeds the module limit."""
    from llm_information_extraction_spark.operators.similarity import (
        ivf_index,
        ivf_topk_join,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    index, centroids = ivf_index(emb, n_centroids=8)
    queries = emb.orderBy("vec_id").limit(20).selectExpr(
        "vec_id as query_id", "embedding"
    )

    def rows(df):
        return sorted(
            (r["query_id"], r["rank"], r["id"], round(r["cosine"], 9))
            for r in df.collect()
        )

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    bc = ivf_topk_join(index, centroids, queries, k=5, n_probe=3)
    assert "Join" not in plan(bc)
    # 20 queries * 3 probes = 60 > limit → shuffle shape: index and
    # probes joined on cell
    monkeypatch.setattr(similarity, "_BROADCAST_PROBE_ROWS", 10)
    sh = ivf_topk_join(index, centroids, queries, k=5, n_probe=3)
    assert "Join" in plan(sh)
    assert rows(sh) == rows(bc)


def test_ivf_index_undersized_fit_sample_falls_back_to_full(spark):
    """A hash sample smaller than n_centroids cannot train the
    quantizer: ivf_index must warn and fall back to a full-corpus fit
    instead of failing inside KMeans with an opaque error."""
    from llm_information_extraction_spark.operators.similarity import (
        ivf_index,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    with pytest.warns(UserWarning, match="fewer than n_centroids"):
        index, centroids = ivf_index(
            emb, n_centroids=8, fit_fraction=1e-9
        )
    _, full = ivf_index(emb, n_centroids=8)
    assert centroids == full  # identical to the full-corpus fit
    assert index.count() == emb.count()


def test_ivf_topk_tied_centroids_match_batched_probe_choice(spark):
    """Duplicate centroids produce exactly tied centroid similarities:
    the numpy probe pick (stable argsort) and the window pick
    (csim desc, cell asc) must choose the SAME cells — lower cell index
    wins in both paths."""
    from llm_information_extraction_spark.operators.similarity import (
        ivf_topk,
        ivf_topk_join,
    )

    # handcrafted index: cells 0/1 share a centroid (exact tie), cell 2
    # is orthogonal to the query
    centroids = [[1.0, 0.0], [1.0, 0.0], [0.0, 1.0]]
    index = spark.createDataFrame(
        [(1, [0.9, 0.1], 0), (2, [0.8, 0.2], 1), (3, [0.0, 1.0], 2)],
        "id bigint, v array<double>, cell int",
    )
    query = [1.0, 0.0]
    single = [
        r["id"]
        for r in ivf_topk(index, centroids, query, k=5, n_probe=1).collect()
    ]
    queries = spark.createDataFrame(
        [(7, query)], "query_id bigint, embedding array<double>"
    )
    joined = ivf_topk_join(index, centroids, queries, k=5, n_probe=1)
    batched = [
        r["id"] for r in joined.orderBy("rank").collect()
    ]
    # n_probe=1 on a tied pair: both paths must probe cell 0 only
    assert single == [1] and batched == [1]


def test_ivf_topk_join_dynamic_partition_pruning(spark, tmp_path):
    """Batched serving against a PERSISTED cell-partitioned index:
    the broadcast serving shape pre-filters the index scan to the probed
    cells, which parquet turns into STATIC partition pruning (round 6 —
    formerly a runtime DPP filter from the probe join; the static
    literal filter prunes at planning time, strictly earlier), and
    results match the in-memory path exactly."""
    from llm_information_extraction_spark.operators.similarity import (
        ivf_index,
        ivf_topk_join,
        ivf_write,
    )
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    index, centroids = ivf_index(emb, n_centroids=8)
    path = str(tmp_path / "ivf_join")
    ivf_write(index, path)
    queries = emb.orderBy("vec_id").limit(3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    disk = ivf_topk_join(
        spark.read.parquet(path), centroids, queries, k=5, n_probe=2
    )
    rows = {(r["query_id"], r["rank"]): r["id"] for r in disk.collect()}
    plan = disk._jdf.queryExecution().executedPlan().toString()
    # the probed-cell literal filter must reach the scan as a partition
    # filter (static pruning — unprobed cell directories never open)
    assert "PartitionFilters: [cell" in plan
    mem = ivf_topk_join(index, centroids, queries, k=5, n_probe=2)
    assert rows == {(r["query_id"], r["rank"]): r["id"] for r in mem.collect()}


def test_ivf_persisted_index_prunes_partitions(spark, tmp_path):
    """The serving path: a persisted cell-partitioned index turns the
    probe filter into parquet partition PRUNING — the scan's
    PartitionFilters carries the cell predicate and results match the
    in-memory probe exactly."""
    from llm_information_extraction_spark.operators.similarity import (
        ivf_index,
        ivf_topk,
        ivf_write,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    index, centroids = ivf_index(emb, n_centroids=8)
    path = str(tmp_path / "ivf")
    ivf_write(index, path)

    q = emb.orderBy("vec_id").first()
    query = [float(x) for x in q["embedding"]]
    disk = ivf_topk(spark.read.parquet(path), centroids, query, k=10, n_probe=3)
    plan = disk._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]
    mem = ivf_topk(index, centroids, query, k=10, n_probe=3)
    assert [r["id"] for r in disk.collect()] == [r["id"] for r in mem.collect()]


def cosine_sim(a: Column, b: Column) -> Column:
    """Test-side expression oracle for every library cosine: zip_with
    dot over aggregate norms, all JVM-side; 0.0 when either vector is
    null or has norm 0."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))


# null and zero-norm vectors in both cells, in the index and the queries
NULL_INDEX = [
    (1, [0.9, 0.1], 0), (2, [-0.9, 0.1], 0), (3, None, 0), (4, [0.0, 0.0], 0),
    (5, [0.0, 1.0], 1), (6, [1.8, 0.2], 1), (7, None, 1), (8, [0.0, 0.0], 1),
]
NULL_CENTROIDS = [[1.0, 0.0], [0.0, 1.0]]
NULL_QUERIES = [(10, [1.0, 0.0]), (11, None), (12, [0.0, 0.0]), (13, [0.2, 0.9])]


def _null_frames(spark):
    index = spark.createDataFrame(NULL_INDEX, "id bigint, v array<double>, cell int")
    queries = spark.createDataFrame(
        NULL_QUERIES, "query_id bigint, embedding array<double>"
    )
    return index, queries


def _oracle_topk(spark, index, queries, k, n_probe):
    """Per-query top-k by ``cosine_sim`` over the ``n_probe`` cells
    whose centroids score highest (ties to the lower cell)."""
    cents = spark.createDataFrame(
        list(enumerate(NULL_CENTROIDS)), "cell int, centroid array<double>"
    )
    q = queries.select("query_id", F.col("embedding").alias("q_vec"))
    probe = Window.partitionBy("query_id").orderBy(
        F.col("csim").desc(), F.col("cell").asc()
    )
    rank = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("id").asc()
    )
    return (
        q.crossJoin(cents)
        .withColumn("csim", cosine_sim(F.col("q_vec"), F.col("centroid")))
        .withColumn("pr", F.row_number().over(probe))
        .filter(F.col("pr") <= n_probe)
        .join(index, "cell")
        .select("query_id", "id", cosine_sim(F.col("v"), F.col("q_vec")).alias("cosine"))
        .withColumn("rank", F.row_number().over(rank))
        .filter(F.col("rank") <= k)
    )


def _ranked(df):
    return sorted(
        (r["query_id"], r["rank"], r["id"], round(r["cosine"], 9))
        for r in df.collect()
    )


def _single_query(spark, topk_one, n_probe):
    """Per-query runs of a one-query operator as ranked rows, next to
    the oracle's; the null query has no list form, so it is left out."""
    index, queries = _null_frames(spark)
    got = []
    for qid, vec in NULL_QUERIES:
        if vec is not None:
            rows = topk_one(index, vec).collect()
            got += [(qid, i + 1, r["id"], round(r["cosine"], 9)) for i, r in enumerate(rows)]
    listed = queries.filter(F.col("embedding").isNotNull())
    return sorted(got), _ranked(_oracle_topk(spark, index, listed, 5, n_probe))


@pytest.mark.parametrize(
    "op",
    [
        "cosine_topk",
        "cosine_topk_join",
        "ivf_topk",
        "ivf_topk_join_broadcast",
        "ivf_topk_join_shuffle",
        "blocked",
        "rp_lsh",
    ],
)
def test_null_and_zero_norm_vectors_score_zero(spark, monkeypatch, op):
    """Every cosine operator scores a null or zero-norm vector 0.0, as
    the ``cosine_sim`` oracle does: such rows are ranked, never dropped
    and never a crash."""
    index, queries = _null_frames(spark)
    items = index.select(F.col("id").alias("vec_id"), F.col("v").alias("embedding"))
    if op == "cosine_topk":
        got, want = _single_query(
            spark, lambda ix, q: cosine_topk(items, q, k=5), n_probe=2
        )
    elif op == "cosine_topk_join":
        got = _ranked(cosine_topk_join(items, queries, k=5))
        want = _ranked(_oracle_topk(spark, index, queries, 5, n_probe=2))
    elif op == "ivf_topk":
        got, want = _single_query(
            spark,
            lambda ix, q: ivf_topk(ix, NULL_CENTROIDS, q, k=5, n_probe=1),
            n_probe=1,
        )
        # the query [1, 0] probes cell 0 alone
        assert [r[2] for r in got if r[0] == 10] == [1, 3, 4, 2]
    elif op.startswith("ivf_topk_join"):
        if op.endswith("shuffle"):
            monkeypatch.setattr(similarity, "_BROADCAST_PROBE_ROWS", 0)
        got = _ranked(ivf_topk_join(index, NULL_CENTROIDS, queries, k=5, n_probe=1))
        want = _ranked(_oracle_topk(spark, index, queries, 5, n_probe=1))
        assert [r[2] for r in got if r[0] == 10] == [1, 3, 4, 2]
    else:
        a, b = items.alias("a"), items.alias("b")
        oracle = {
            (r["id_a"], r["id_b"], round(r["cosine"], 9))
            for r in a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
            .select(
                F.col("a.vec_id").alias("id_a"),
                F.col("b.vec_id").alias("id_b"),
                cosine_sim(F.col("a.embedding"), F.col("b.embedding")).alias("cosine"),
            )
            .filter(F.col("cosine") >= 0.0)
            .collect()
        }
        if op == "blocked":
            pairs = embedding_near_dup_pairs_blocked(items, threshold=0.0, num_blocks=3)
        else:
            pairs = rp_lsh_near_dup_pairs(items, dim=2, threshold=0.0, num_planes=4)
        got = {
            (r["id_a"], r["id_b"], round(r["cosine"], 9)) for r in pairs.collect()
        }
        if op == "blocked":
            assert got == oracle
        else:
            # same direction, both null, both zero: one bucket each
            assert {(1, 6), (3, 7), (4, 8)} <= {p[:2] for p in got} and got <= oracle
        return
    assert got == want


@pytest.mark.parametrize("threshold", [0.5, 0.0])
def test_rp_lsh_null_and_zero_vectors_join_no_candidates(spark, monkeypatch, threshold):
    """Above a positive threshold a null or zero-norm vector can never
    qualify, so ``rp_lsh_near_dup_pairs`` scores no candidate pair that
    holds one; at threshold 0.0 they still pair (and score 0.0)."""
    index, _ = _null_frames(spark)
    items = index.select(F.col("id").alias("vec_id"), F.col("v").alias("embedding"))
    scored = []
    pair_cosines = similarity._pair_cosines

    def spy(pairs, *cols):
        scored.extend(tuple(r) for r in pairs.select("id_a", "id_b").collect())
        return pair_cosines(pairs, *cols)

    monkeypatch.setattr(similarity, "_pair_cosines", spy)
    got = {
        (r["id_a"], r["id_b"])
        for r in rp_lsh_near_dup_pairs(
            items, dim=2, threshold=threshold, num_planes=4
        ).collect()
    }
    degenerate = {3, 4, 7, 8}
    assert (1, 6) in got
    if threshold > 0:
        assert got == {(1, 6)}
        assert scored and not degenerate & {i for p in scored for i in p}
    else:
        assert {(3, 7), (4, 8)} <= set(scored)


def test_cosine_sim_is_only_a_test_oracle():
    """No library code, contract entry or tool defines or imports
    ``cosine_sim``: every cosine comes from the numpy scorer in
    ``operators/similarity.py``."""
    files = sorted((ROOT / "llm_information_extraction_spark").rglob("*.py"))
    files += [ROOT / "__spark_entry__.py"] + sorted((ROOT / "tools").rglob("*.py"))
    hits = [
        (path.relative_to(ROOT).as_posix(), line.strip())
        for path in files
        for line in path.read_text().splitlines()
        if re.search(r"\bcosine_sim\b", line)
    ]
    assert hits == []


def test_similarity_import_loads_no_other_operator():
    """Python workers unpickle kernels that reference module-level
    scorers; importing ``operators.similarity`` must not import the rest
    of the operators package."""
    code = (
        "import sys, llm_information_extraction_spark.operators.similarity\n"
        "print(sorted(m for m in sys.modules if '.operators.' in m))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, check=True
    ).stdout
    assert out.strip() == "['llm_information_extraction_spark.operators.similarity']"


def test_text_metrics_on_testdata(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = docs.select(
        "doc_id",
        token_count("text").alias("tokens"),
        quality_score("text").alias("quality"),
        detect_lang("text").alias("lang"),
        doc_fingerprint("text").alias("fp"),
    ).collect()
    assert all(r["tokens"] > 0 for r in out)
    assert all(0.0 <= r["quality"] <= 1.0 for r in out)
    assert all(len(r["fp"]) == 32 for r in out)
    langs = {r["lang"] for r in out}
    assert langs <= {"en", "de", "fr", "es", "und"}


def test_detect_lang_heuristic(spark):
    df = spark.createDataFrame(
        [
            ("the cat and the dog sat in the house for a while",),
            ("der hund und die katze sind nicht in das haus",),
            ("le chat et les oiseaux dans le jardin est une",),
            ("xyzzy plugh 12345",),
        ],
        "text string",
    )
    got = [r[0] for r in df.select(detect_lang("text")).collect()]
    assert got == ["en", "de", "fr", "und"]


def test_multimodal_pipeline(spark):
    media = synth_media(spark, 40, seed=1).cache()
    feats = extract_media_features(media).cache()
    ok = feats.filter(F.col("error").isNull())
    assert ok.count() == 40
    pixel = ok.filter(F.col("kind") != "table").first()
    assert len(pixel["features"]) == 16
    assert abs(sum(pixel["features"]) - 1.0) < 1e-9
    assert 0 <= pixel["mean_intensity"] <= 255
    table = ok.filter(F.col("kind") == "table").first()
    n_rows, n_cols, numeric_ratio = table["features"]
    assert n_rows >= 3 and n_cols >= 2  # header + body
    assert 0.0 <= numeric_ratio <= 1.0
    assert table["mean_intensity"] is None

    resized = resize_media(media, 8, 8)
    sizes = resized.filter(F.col("codec") == "raw8").select(
        "media_id", F.length("payload").alias("nbytes"), "n_frames"
    ).collect()
    for r in sizes:
        assert r["nbytes"] == 8 * 8 * r["n_frames"]

    stats = {r["kind"]: r["n_items"] for r in media_stats(media).collect()}
    assert sum(stats.values()) == 40


def test_multimodal_unknown_codec_lands_in_error(spark):
    media = synth_media(spark, 4, seed=2).withColumn("codec", F.lit("jpeg"))
    feats = extract_media_features(media).collect()
    assert all(r["error"] is not None and "jpeg" in r["error"] for r in feats)
    assert all(r["features"] is None for r in feats)


def test_table_media_extraction_on_reference_tables(spark):
    """Real parity: the reference's extracted-table CSVs (its actual
    interleaved media, data/raw/dementia_data/**/tables/table_NNN.csv)
    decode through the csv media path and yield tract mentions."""
    import glob

    paths = sorted(
        glob.glob(
            "/root/reference/data/raw/dementia_data/*/articles/*/*/tables/table_*.csv"
        )
    )[:6]
    if not paths:
        pytest.skip("reference tables not available")
    rows = [
        (f"med_{i}", f"doc_{i}", "table", open(p, "rb").read(), 0, 0, 1, "csv")
        for i, p in enumerate(paths)
    ]
    media = spark.createDataFrame(
        rows,
        "media_id string, doc_id string, kind string, payload binary, "
        "width int, height int, n_frames int, codec string",
    )
    from llm_information_extraction_spark.operators.multimodal import (
        extract_from_table_media,
    )

    mentions = extract_from_table_media(media)
    tracts = {
        r["obj"]
        for r in mentions.filter(
            F.col("pred") == "whitematter_tracts"
        ).collect()
    }
    # table_001 of pmcid_10481508 names corpus callosum + corticospinal tract
    assert {"corpus callosum", "corticospinal tract"} & tracts


def test_corpus_profile_approx_matches_exact(spark):
    """The scale path (approx_percentile sketch, O(accuracy) buffer per
    group) must agree with the exact path within the sketch's rank-error
    bound at sf0.1 — the contract's corpus_stats pins exact ONLY for
    DuckDB bit-equality; this is the profiling default for big corpora."""
    from llm_information_extraction_spark.functions.textmetrics import (
        corpus_profile,
    )

    docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    approx = {
        r["lang"]: r.asDict()
        for r in corpus_profile(docs, approx=True, accuracy=10000).collect()
    }
    exact = {
        r["lang"]: r.asDict()
        for r in corpus_profile(docs, approx=False).collect()
    }
    assert approx.keys() == exact.keys()
    for lang, e in exact.items():
        a = approx[lang]
        # count/avg/max are sketch-free: identical
        assert a["n_docs"] == e["n_docs"]
        assert a["avg_n_chars"] == e["avg_n_chars"]
        assert a["max_n_chars"] == e["max_n_chars"]
        # percentiles: rank error ≤ n/accuracy ⇒ tiny value drift on
        # a dense integer distribution
        spread = e["max_n_chars"] or 1
        for p in ("p50_n_chars", "p90_n_chars"):
            assert abs(a[p] - e[p]) <= max(0.01 * spread, 2.0), (lang, p)


def _bmp24(pixels):
    """Encode an (h, w, 3) RGB uint8 array as a bottom-up 24-bit BMP."""
    import struct

    h, w, _ = pixels.shape
    stride = (w * 3 + 3) & ~3
    body = bytearray()
    for row in pixels[::-1]:  # bottom-up
        line = bytearray()
        for px in row:
            line += bytes([px[2], px[1], px[0]])  # BGR on disk
        line += b"\x00" * (stride - len(line))
        body += line
    off = 14 + 40
    return (
        b"BM" + struct.pack("<IHHI", off + len(body), 0, 0, off)
        + struct.pack("<IiihhIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
        + bytes(body)
    )


def test_bmp_decoder_real_binary_media(spark):
    """A real binary image decoder (24-bit BMP, pure python) behind the
    same codec boundary: featurize over actual encoded bytes and check
    the histogram/mean against numpy on the known pixel grid."""
    rng = np.random.default_rng(7)
    pixels = rng.integers(0, 256, size=(5, 9, 3), dtype=np.uint8)
    payload = _bmp24(pixels)
    media = spark.createDataFrame(
        [("m0", "d0", "image", bytearray(payload), 9, 5, 1, "bmp")],
        "media_id string, doc_id string, kind string, payload binary, "
        "width int, height int, n_frames int, codec string",
    )
    r, g, b = (pixels[..., i].astype(np.int32) for i in range(3))
    luma = ((299 * r + 587 * g + 114 * b) // 1000).astype(np.uint8)
    hist, _ = np.histogram(luma, bins=16, range=(0, 256))
    want = (hist / hist.sum()).tolist()

    row = extract_media_features(media).collect()[0]
    assert row["error"] is None
    assert row["features"] == pytest.approx(want)
    assert row["mean_intensity"] == pytest.approx(float(luma.mean()))

    # resize of a decoded container re-encodes as headerless raw8
    from llm_information_extraction_spark.operators.multimodal import (
        resize_media,
    )
    rz = resize_media(media, 4, 4).collect()[0]
    assert rz["codec"] == "raw8" and len(rz["payload"]) == 16


def test_wav_decoder_real_binary_media(spark):
    """Real PCM WAV decode via stdlib wave: 16-bit stereo samples are
    downmixed to channel 0 and scaled to uint8; histogram/mean match
    numpy on the known sample buffer."""
    import io
    import wave

    rng = np.random.default_rng(11)
    s16 = rng.integers(-32768, 32767, size=400, dtype=np.int16)  # L/R interleaved
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(2)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        wf.writeframes(s16.tobytes())
    payload = buf.getvalue()
    media = spark.createDataFrame(
        [("a0", "d0", "audio", bytearray(payload), 0, 0, 1, "wav")],
        "media_id string, doc_id string, kind string, payload binary, "
        "width int, height int, n_frames int, codec string",
    )
    ch0 = s16[::2].astype(np.int32)
    samples = ((ch0 // 256) + 128).astype(np.uint8)
    hist, _ = np.histogram(samples, bins=16, range=(0, 256))
    want = (hist / hist.sum()).tolist()

    row = extract_media_features(media).collect()[0]
    assert row["error"] is None
    assert row["features"] == pytest.approx(want)
    assert row["mean_intensity"] == pytest.approx(float(samples.mean()))


def test_compressed_codecs_still_error_per_row(spark):
    """The NotImplementedError boundary is unchanged for codecs that
    genuinely need external libraries — and a corrupt BMP/WAV payload
    degrades to the error column too, never a task failure."""
    rng = np.random.default_rng(3)
    full = _bmp24(rng.integers(0, 256, size=(20, 20, 3), dtype=np.uint8))
    rows = [
        ("x1", "d", "image", bytearray(b"\xff\xd8\xff junk"), 0, 0, 1, "jpeg"),
        ("x2", "d", "image", bytearray(b"not a bmp"), 0, 0, 1, "bmp"),
        ("x3", "d", "audio", bytearray(b"RIFFgarbage"), 0, 0, 1, "wav"),
        # valid header, truncated pixel data → ValueError path
        ("x4", "d", "image", bytearray(full[:80]), 0, 0, 1, "bmp"),
        # sub-chunk-header WAV → EOFError path (not wave.Error)
        ("x5", "d", "audio", bytearray(b"RIFF"), 0, 0, 1, "wav"),
    ]
    media = spark.createDataFrame(
        rows,
        "media_id string, doc_id string, kind string, payload binary, "
        "width int, height int, n_frames int, codec string",
    )
    got = {r["media_id"]: r for r in extract_media_features(media).collect()}
    bad = ("x1", "x2", "x3", "x4", "x5")
    assert all(got[m]["error"] is not None for m in bad)
    assert all(got[m]["features"] is None for m in bad)
