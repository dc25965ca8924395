"""Deterministic sampling/splitting + KG graph analytics."""

import pytest
from pyspark.sql import functions as F

from llm_information_extraction_spark.functions.sampling import (
    hash_sample,
    hash_split,
)
from llm_information_extraction_spark.operators.graph import (
    co_mention_edges,
    predicate_object_degrees,
)

SF_DIR = "/root/testdata/sf0.01"


def test_hash_sample_deterministic_across_partitionings(spark):
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    s1 = {r["doc_id"] for r in hash_sample(d, 0.3, salt="x").select("doc_id").collect()}
    s2 = {
        r["doc_id"]
        for r in hash_sample(d.repartition(17), 0.3, salt="x")
        .select("doc_id")
        .collect()
    }
    assert s1 == s2  # df.sample() cannot make this guarantee
    n = d.count()
    assert 0.2 * n < len(s1) < 0.4 * n  # ~rate, loose bound at n=500


def test_hash_sample_salts_are_independent(spark):
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    a = {r["doc_id"] for r in hash_sample(d, 0.5, salt="a").collect()}
    b = {r["doc_id"] for r in hash_sample(d, 0.5, salt="b").collect()}
    assert a != b
    n = d.count()
    # overlap ≈ rate² · n = 125 at n=500; just assert it's not degenerate
    assert 0.05 * n < len(a & b) < 0.45 * n


def test_hash_split_is_a_stable_partition(spark):
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    s = hash_split(d, w, salt="s")
    counts = {r["split"]: r["n"] for r in s.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sum(counts.values()) == d.count()
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
    # growing the corpus must not move existing keys between splits
    half = d.filter(F.col("doc_id") < 250)
    s_half = {r["doc_id"]: r["split"] for r in hash_split(half, w, salt="s").collect()}
    s_full = {r["doc_id"]: r["split"] for r in s.collect()}
    assert all(s_full[k] == v for k, v in s_half.items())


def test_hash_split_validates_weights(spark):
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    with pytest.raises(ValueError, match="sum to 1"):
        hash_split(d, {"a": 0.5, "b": 0.1})


def test_hash_uniform_null_keys_share_one_draw(spark):
    """NULL keys must not silently vanish: they hash as a sentinel, so
    every null-key row shares one deterministic draw per salt — kept or
    dropped together, and epoch_replicate still grants whole copies."""
    from llm_information_extraction_spark.functions.sampling import (
        epoch_replicate,
        hash_sample,
        hash_uniform,
    )

    d = spark.createDataFrame(
        [(None, "a"), (None, "b"), (1, "c")], "doc_id bigint, text string"
    )
    u = d.select(hash_uniform("doc_id", "s").alias("u")).collect()
    assert all(r["u"] is not None for r in u)
    kept = hash_sample(d, 1.0, "doc_id", salt="s")
    assert kept.count() == 3  # rate 1.0 keeps null-key rows too
    # whole copies never depend on the fractional draw
    assert epoch_replicate(d, 2.0, salt="s").count() == 6


def test_stratified_mixture_rates_and_determinism(spark):
    """Data-mixing: each group sampled at ITS rate, membership stable
    across partitionings, absent groups at default_rate (0 = dropped),
    invalid rates rejected."""
    from llm_information_extraction_spark.functions.sampling import (
        stratified_mixture,
    )

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    rates = {"src0": 1.0, "src1": 0.5}
    out = stratified_mixture(
        d, rates, group_col="source", salt="t", default_rate=0.0
    )
    by_src = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    totals = {
        r["source"]: r["n"]
        for r in d.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert set(by_src) == {"src0", "src1"}  # default 0 drops the rest
    assert by_src["src0"] == totals["src0"]  # rate 1.0 keeps everything
    assert 0 < by_src["src1"] < totals["src1"]  # rate 0.5 thins
    # partitioning-independent membership
    ids1 = {r["doc_id"] for r in out.select("doc_id").collect()}
    ids2 = {
        r["doc_id"]
        for r in stratified_mixture(
            d.repartition(13), rates, group_col="source", salt="t"
        ).select("doc_id").collect()
    }
    assert ids1 == ids2
    with pytest.raises(ValueError, match="must be in \\[0,1\\]"):
        stratified_mixture(d, {"src0": 1.5}, group_col="source")
    with pytest.raises(ValueError, match="must be in \\[0,1\\]"):
        stratified_mixture(d, {}, group_col="source", default_rate=-0.1)


def test_epoch_replicate_fractional_epochs(spark):
    """2.4 epochs: every key gets 2 or 3 copies (0-based epoch index),
    ~40% get the third, the copy count is partitioning-independent;
    whole/zero/negative epochs behave exactly."""
    from llm_information_extraction_spark.functions.sampling import (
        epoch_replicate,
    )

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n = d.count()
    out = epoch_replicate(d, 2.4, salt="e")
    per_key = {
        r["doc_id"]: r["k"]
        for r in out.groupBy("doc_id").agg(F.count("*").alias("k")).collect()
    }
    assert len(per_key) == n and set(per_key.values()) == {2, 3}
    n3 = sum(1 for k in per_key.values() if k == 3)
    assert 0.3 * n < n3 < 0.5 * n  # ~40%, loose bound at n=500
    assert {r["epoch"] for r in out.select("epoch").distinct().collect()} == {
        0,
        1,
        2,
    }
    per_key2 = {
        r["doc_id"]: r["k"]
        for r in epoch_replicate(d.repartition(13), 2.4, salt="e")
        .groupBy("doc_id")
        .agg(F.count("*").alias("k"))
        .collect()
    }
    assert per_key2 == per_key  # copy count pure in (key, salt)
    assert epoch_replicate(d, 1.0).count() == n
    assert epoch_replicate(d, 0.0).count() == 0
    with pytest.raises(ValueError, match="epochs must be >= 0"):
        epoch_replicate(d, -1.0)


def test_co_mention_edges_and_degrees(spark):
    mentions = spark.createDataFrame(
        [
            ("d1", "Disease_study", "ad"),
            ("d1", "whitematter_tracts", "cc"),
            ("d1", "whitematter_tracts", "fornix"),
            ("d2", "Disease_study", "ad"),
            ("d2", "whitematter_tracts", "cc"),
            ("d2", "whitematter_tracts", "cc"),  # dup mention, 1 doc
            ("d3", "Disease_study", "pd"),
        ],
        "doc_id string, pred string, obj string",
    )
    edges = {
        (r["obj_a"], r["obj_b"]): r["n_docs"]
        for r in co_mention_edges(
            mentions, "Disease_study", "whitematter_tracts"
        ).collect()
    }
    assert edges == {("ad", "cc"): 2, ("ad", "fornix"): 1}
    # same-pred self-pairs: ordered, no self-loops
    tt = {
        (r["obj_a"], r["obj_b"]): r["n_docs"]
        for r in co_mention_edges(
            mentions, "whitematter_tracts", "whitematter_tracts"
        ).collect()
    }
    assert tt == {("cc", "fornix"): 1}
    deg = {
        (r["pred"], r["obj"]): r["n_docs"]
        for r in predicate_object_degrees(mentions).collect()
    }
    assert deg[("whitematter_tracts", "cc")] == 2  # distinct docs, not rows
    assert deg[("Disease_study", "pd")] == 1


def test_pagerank_three_node_classic(spark):
    """A->B, A->C, B->C, C->A with d=0.85: C collects from A and B so
    rank(C) > rank(A) > rank(B); mass is conserved; the fixed-point
    (integer nano-unit) mode agrees with the double mode to < 1e-5 and
    is invariant under repartitioning."""
    from llm_information_extraction_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a")],
        "src string, dst string",
    )
    d = {r["node"]: r["rank"] for r in pagerank(edges, iterations=20).collect()}
    assert abs(sum(d.values()) - 1.0) < 1e-9  # no dangling: conserved
    assert d["c"] > d["a"] > d["b"]
    fp = {
        r["node"]: r["rank_nano"]
        for r in pagerank(edges, iterations=20, fixed_point=True).collect()
    }
    for k in d:
        assert abs(fp[k] / 1e9 - d[k]) < 1e-5, (k, fp[k], d[k])
    fp2 = {
        r["node"]: r["rank_nano"]
        for r in pagerank(
            edges.repartition(7), iterations=20, fixed_point=True
        ).collect()
    }
    assert fp2 == fp  # bit-deterministic


def test_pagerank_dangling_mass_redistributed(spark):
    """b has no out-edges: its mass must be redistributed, not lost."""
    from llm_information_extraction_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("c", "b")], "src string, dst string"
    )
    d = {r["node"]: r["rank"] for r in pagerank(edges, iterations=30).collect()}
    assert abs(sum(d.values()) - 1.0) < 1e-6
    assert d["b"] > d["a"] == d["c"]
    # the fixed-point integer blend must take the SAME dangling path:
    # dang > 0 exercises the (dang div n) term inside the expr
    fp = {
        r["node"]: r["rank_nano"]
        for r in pagerank(edges, iterations=30, fixed_point=True).collect()
    }
    assert abs(sum(fp.values()) / 1e9 - 1.0) < 1e-4  # floor losses only
    for k in d:
        assert abs(fp[k] / 1e9 - d[k]) < 1e-4, (k, fp[k], d[k])


def test_pagerank_reliable_checkpoint_same_result(spark, tmp_path):
    """checkpoint_dir= switches lineage truncation to reliable
    checkpoint() (survives executor loss on a cluster); results are
    bit-identical to localCheckpoint mode, and re-invoking with the same
    dir must not re-point the context (no new UUID subdir)."""
    from llm_information_extraction_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("c", "d")],
        "src string, dst string",
    )
    local = {
        r["node"]: r["rank_nano"]
        for r in pagerank(
            edges, iterations=7, fixed_point=True, checkpoint_every=2
        ).collect()
    }
    ckpt = str(tmp_path / "pr_ckpt")
    reliable = {
        r["node"]: r["rank_nano"]
        for r in pagerank(
            edges,
            iterations=7,
            fixed_point=True,
            checkpoint_every=2,
            checkpoint_dir=ckpt,
        ).collect()
    }
    assert reliable == local
    cur = spark.sparkContext.getCheckpointDir()
    pagerank(
        edges, iterations=2, fixed_point=True, checkpoint_dir=ckpt
    ).collect()
    # same requested dir → context NOT re-pointed (same UUID subdir)
    assert spark.sparkContext.getCheckpointDir() == cur


def test_pagerank_tol_early_stop(spark):
    """tol= stops once the L1 rank change falls below it; the result
    agrees with a long fixed-iteration run to within tol."""
    from llm_information_extraction_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a")],
        "src string, dst string",
    )
    converged = {
        r["node"]: r["rank"] for r in pagerank(edges, iterations=60).collect()
    }
    early = {
        r["node"]: r["rank"]
        for r in pagerank(edges, iterations=60, tol=1e-7).collect()
    }
    for k in converged:
        assert abs(early[k] - converged[k]) < 1e-5, k
    # fixed-point mode takes the same early exit without error
    fp = {
        r["node"]: r["rank_nano"]
        for r in pagerank(
            edges, iterations=60, fixed_point=True, tol=1e-7
        ).collect()
    }
    for k in converged:
        assert abs(fp[k] / 1e9 - converged[k]) < 1e-5, k


def test_pagerank_fixed_point_damping_quantization_warns(spark):
    """fixed_point quantizes damping to per-mille; a non-representable
    damping must warn (double mode must not)."""
    import warnings

    from llm_information_extraction_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "src string, dst string"
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        pagerank(edges, iterations=1, fixed_point=True, damping=0.8567)
        assert any("per-mille" in str(x.message) for x in w)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        pagerank(edges, iterations=1, fixed_point=True, damping=0.85)
        pagerank(edges, iterations=1, damping=0.8567)
        assert not any("per-mille" in str(x.message) for x in w)


@pytest.mark.parametrize(
    "kw",
    [
        {"iterations": 6},
        {"iterations": 6, "fixed_point": True},
        {"iterations": 60, "tol": 1e-7},
        {"iterations": 7, "checkpoint_every": 2},
    ],
    ids=["double", "fixed_point", "tol", "checkpoint_every_2"],
)
def test_pagerank_keeps_only_the_result_checkpoint(spark, kw):
    """Every node-set and rank checkpoint but the one behind the result
    is freed by the time pagerank returns; the result still reads."""
    from llm_information_extraction_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("c", "d")],
        "src string, dst string",
    )
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    out = pagerank(edges, **kw)
    left = set(jsc.getPersistentRDDs().keySet()) - before
    leaf = out._jdf.queryExecution().logical().collectLeaves().head()
    assert left == {leaf.rdd().id()}
    assert out.count() == 4
