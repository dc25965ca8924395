"""Skew utilities + physical-plan quality assertions.

The plan tests pin the optimizations the engine relies on at 100 TB:
filter/column pushdown into the parquet scan, broadcast joins for dims,
and whole-stage codegen on the hash-heavy paths. If a refactor silently
turns a broadcast join into a sort-merge join, these fail.
"""

import pytest
from pyspark.sql import functions as F

from llm_information_extraction_spark.operators.extraction import extract_triples
from llm_information_extraction_spark.operators.linking import (
    link_mentions,
    vocabulary_df,
)
from llm_information_extraction_spark.operators.payload import build_payload
from llm_information_extraction_spark.operators.skew import (
    chunk_spans,
    extract_chunked,
    salted_join,
)
from llm_information_extraction_spark.sources.synthetic import generate_documents

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


# ---------------------------------------------------------------------------
# skew utilities
# ---------------------------------------------------------------------------
def test_salted_join_matches_plain_join(spark):
    big = spark.createDataFrame(
        [(k % 3, i, f"v{i}") for i, k in enumerate(range(300))],
        "k int, i int, v string",
    )
    small = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], "k int, d string")
    plain = big.join(small, "k").select("k", "i", "v", "d")
    salted = salted_join(big, small, "k", buckets=8).select("k", "i", "v", "d")
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_chunk_spans_preserves_order_and_content(spark):
    docs = generate_documents(spark, 20, seed=9, oversized_doc_pct=1.0)
    chunked = chunk_spans(docs, max_spans=16)
    # every chunk ≤ 16 spans; reassembled sequence == original sequence
    assert chunked.filter(F.size("spans") > 16).count() == 0
    reassembled = (
        chunked.select("doc_id", F.explode("spans").alias("s"))
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.col("s.offset"))).alias("offsets"))
    )
    original = docs.select(
        "doc_id",
        F.array_sort(
            F.transform("spans", lambda s: s["offset"])
        ).alias("offsets"),
    )
    diff = reassembled.join(original, "doc_id").filter(
        reassembled["offsets"] != original["offsets"]
    )
    assert diff.count() == 0


def test_chunked_extraction_equals_unchunked(spark):
    docs = generate_documents(spark, 60, seed=13, oversized_doc_pct=0.3).cache()
    unchunked = link_mentions(
        extract_triples(build_payload(docs)), vocabulary_df(spark)
    )
    chunked = link_mentions(
        extract_chunked(docs, max_spans=16), vocabulary_df(spark)
    )
    assert chunked.exceptAll(unchunked).count() == 0
    assert unchunked.exceptAll(chunked).count() == 0


def test_chunked_extraction_doc_level_rules_cross_chunk(spark):
    """A doc whose animal/review markers land in a DIFFERENT chunk than
    its tracts / humans / 'single study' mentions: per-chunk rules would
    leak tracts, emit both study_types, and flip Human_study to 'yes'.
    max_spans=1 forces every span into its own chunk."""

    def span(i, text):
        return {"kind": "section", "text": text, "media_ref": None, "offset": i}

    rows = [
        (  # markers split from mentions across spans
            "d_split",
            [
                span(0, "the corpus callosum was traced with dti"),
                span(1, "humans participated in the protocol"),
                span(2, "a mouse model was also induced"),
                span(3, "this review covers prior findings"),
                span(4, "a single study design was considered"),
            ],
        ),
        (  # control: no markers anywhere
            "d_clean",
            [
                span(0, "the fornix was traced in humans"),
                span(1, "a single study design"),
            ],
        ),
    ]
    docs = spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct"
        "<kind:string,text:string,media_ref:string,offset:int>>",
    )
    unchunked = extract_triples(build_payload(docs))
    chunked = extract_chunked(docs, max_spans=1)
    assert chunked.exceptAll(unchunked).count() == 0
    assert unchunked.exceptAll(chunked).count() == 0
    got = {
        (r["pred"], r["obj"])
        for r in chunked.filter(F.col("doc_id") == "d_split").collect()
    }
    assert ("whitematter_tracts", "corpus callosum") not in got
    assert ("Human_study", "no") in got and ("Human_study", "yes") not in got
    assert ("study_type", "review") in got
    assert ("study_type", "single study") not in got


# ---------------------------------------------------------------------------
# physical-plan quality
# ---------------------------------------------------------------------------
def test_filter_pushdown_to_parquet(spark):
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    q = orders.filter(F.col("o_totalprice") > 400000).select("o_orderkey")
    plan = _plan(q)
    assert "PushedFilters" in plan and "GreaterThan(o_totalprice" in plan


def test_column_pruning_in_scan(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    q = docs.select("doc_id")
    plan = _plan(q)
    assert "ReadSchema: struct<doc_id:bigint>" in plan
    assert "text" not in plan.split("ReadSchema:")[1].split("\n")[0]


def test_dim_join_broadcasts(spark):
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    q = orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
    assert "BroadcastHashJoin" in _plan(q)


def test_gazetteer_join_broadcasts(spark):
    docs = generate_documents(spark, 10, seed=1)
    triples = link_mentions(
        extract_triples(build_payload(docs)), vocabulary_df(spark)
    )
    plan = _plan(triples)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_payload_column_not_read_for_metadata_rollup(spark, tmp_path):
    from llm_information_extraction_spark.operators.multimodal import (
        media_stats,
        synth_media,
    )

    path = str(tmp_path / "media")
    synth_media(spark, 30, seed=3).write.parquet(path)
    stats = media_stats(spark.read.parquet(path))
    plan = _plan(stats)
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "payload" not in read_schema  # 99% of bytes never leave the scan


def test_contract_query_scans_are_pruned(spark):
    """Column pruning must reach the parquet scan for the round-2
    contract queries (a scan reading all columns for a 1-2 column
    computation is a 100-TB bug, not a style issue)."""
    import re

    import __spark_entry__ as entrymod

    expected = {
        "sampled_docs": {"doc_id"},
        "split_counts": {"doc_id"},
        "event_windows": {"ts", "event_type", "value"},
        "curated_docs": {"doc_id", "text"},
    }
    qs = entrymod.queries()
    for name, cols in expected.items():
        df = qs[name](spark, "/root/testdata/sf0.001")
        plan = _plan(df)
        schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        assert schemas, name
        for schema in schemas:
            read = {f.split(":")[0] for f in schema.split(",") if f}
            assert read <= cols, (name, read)


def test_minhash_signature_plan_prunes_scan_and_has_no_exchange(spark):
    from llm_information_extraction_spark.operators.dedup import (
        minhash_signatures,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(minhash_signatures(docs))
    # signatures are computed per row: no shuffle at all
    assert "Exchange" not in plan
    # and the scan must prune to exactly (doc_id, text)
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_verified_star_edges_plan_signs_once_and_has_no_cartesian(spark):
    """The star edges minhash_dedup_groups feeds to connected
    components: bucket collapse by window, texts attached by equi-joins
    — never a cartesian product — and ONE signature kernel, so no join
    side re-derives the signatures."""
    from llm_information_extraction_spark.operators.canonicalize import _release
    from llm_information_extraction_spark.operators.dedup import (
        _doc_shingles,
        _verified_star_edges,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sh = _doc_shingles(docs, "doc_id", "text", 3).localCheckpoint(eager=True)
    try:
        plan = _plan(_verified_star_edges(sh, 64, 16, 0.8, 42, None))
    finally:
        _release(sh)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("MapInPandas") == 1


@pytest.mark.parametrize("max_freq", [None, 0.5])
def test_minhash_grouping_shingles_each_document_once(spark, monkeypatch, max_freq):
    """The edges minhash_dedup_groups hands to connected components read
    ONE materialized (id, shingles) frame: the signature kernel's input
    and both verify join sides scan it, none re-reads the input file or
    re-derives the shingles, with or without the frequency filter."""
    from llm_information_extraction_spark.operators import canonicalize
    from llm_information_extraction_spark.operators.dedup import (
        minhash_dedup_groups,
    )

    plans = []
    cc = canonicalize.connected_components

    def spy(edges, *args, **kwargs):
        plans.append(_plan(edges))
        return cc(edges, *args, **kwargs)

    monkeypatch.setattr(canonicalize, "connected_components", spy)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    minhash_dedup_groups(docs, threshold=0.5, max_shingle_doc_freq=max_freq)
    (plan,) = plans
    assert "FileScan" not in plan
    # word_shingles' distinct is the shingling pass: it ran once, into
    # the checkpoint, so no branch of the edge plan evaluates it
    assert "array_distinct" not in plan
    # kernel input + two verify sides; the filter reads the token table
    # three times (doc count, shingle counts, semi-join) instead of once
    assert plan.count("Scan ExistingRDD") == (3 if max_freq is None else 5)
    assert plan.count("MapInPandas") == 1
