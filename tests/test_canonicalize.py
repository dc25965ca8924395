"""Connected-components + entities-table tests (FIXTURES.md T4 chains)."""

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from llm_information_extraction_spark import vocab
from llm_information_extraction_spark.operators import canonicalize
from llm_information_extraction_spark.operators.canonicalize import (
    connected_components,
    entity_rows,
)
from llm_information_extraction_spark.operators.linking import vocabulary_df


def build_entities_oracle(vocab_df: DataFrame) -> DataFrame:
    """The ``entities`` table as Spark operators: per-field connected
    components over the surface↔canonical alias edges, isolated nodes
    restored, representative canonical = arg-max by (votes, value),
    aliases = sorted members. The test-side oracle of
    ``canonicalize.entity_rows``."""
    base = vocab_df.select("field", "surface", "canonical")
    # scope components per field by prefixing node ids with the field
    edges = base.select(
        F.concat_ws("\x1f", "field", "surface").alias("src"),
        F.concat_ws("\x1f", "field", "canonical").alias("dst"),
    )
    cc = connected_components(edges)
    all_nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    cc = all_nodes.join(cc, "node", "left").select(
        "node", F.coalesce("component", "node").alias("component")
    )
    members = cc.select(
        F.split_part("node", F.lit("\x1f"), F.lit(1)).alias("field"),
        F.split_part("node", F.lit("\x1f"), F.lit(2)).alias("alias"),
        F.split_part("component", F.lit("\x1f"), F.lit(2)).alias("entity_id"),
    )
    canon_votes = base.join(
        members,
        (base["field"] == members["field"]) & (base["surface"] == members["alias"]),
    ).select(members["field"], "entity_id", base["canonical"])
    top_canon = (
        canon_votes.groupBy("field", "entity_id", "canonical")
        .count()
        .groupBy("field", "entity_id")
        .agg(
            F.max_by(
                "canonical", F.struct(F.col("count"), F.col("canonical"))
            ).alias("canonical")
        )
    )
    return (
        members.groupBy("field", "entity_id")
        .agg(F.array_sort(F.collect_set("alias")).alias("aliases"))
        .join(top_canon, ["field", "entity_id"], "left")
        .select(
            "entity_id",
            "field",
            F.coalesce("canonical", "entity_id").alias("canonical"),
            "aliases",
            F.size("aliases").alias("n_aliases"),
        )
    )


def _oracle_rows(spark, rows):
    vdf = spark.createDataFrame(rows, "field string, surface string, canonical string")
    return _sorted_entities(build_entities_oracle(vdf).collect())


def _sorted_entities(rows) -> list[tuple]:
    """Entity rows as tuples in ``entity_rows``' (field, entity_id) order."""
    return sorted(
        ((r["entity_id"], r["field"], r["canonical"], r["aliases"], r["n_aliases"])
         for r in rows),
        key=lambda t: (t[1], t[0]),
    )


def _persisted(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_transitive_chain(spark):
    # a~b, b~c, d~e  ⇒ {a,b,c} and {d,e}
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("d", "e")], "src string, dst string"
    )
    got = {
        r["node"]: r["component"] for r in connected_components(edges).collect()
    }
    assert got == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d"}


def test_long_path_converges(spark, monkeypatch):
    # a path graph of 30 nodes must collapse to a single component
    edges = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(29)],
        "src string, dst string",
    )
    monkeypatch.setattr(canonicalize, "_LOCAL_CC_EDGES", 0)
    comps = connected_components(edges)
    assert comps.select("component").distinct().count() == 1
    assert comps.count() == 30
    assert comps.agg(F.min("component")).collect()[0][0] == "n00"


def test_self_loops_and_dups_ignored(spark):
    edges = spark.createDataFrame(
        [("a", "a"), ("a", "b"), ("b", "a"), ("a", "b")], "src string, dst string"
    )
    got = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert got == {"a": "a", "b": "a"}


def test_resolve_entity_ids(spark):
    from llm_information_extraction_spark.operators.canonicalize import (
        resolve_entity_ids,
    )

    triples = spark.createDataFrame(
        [
            ("d1", "whitematter_tracts", "superior longitudinal fasciculus"),
            ("d1", "DTI_study", "yes"),
        ],
        "doc_id string, pred string, obj string",
    )
    entities = spark.createDataFrame(
        [("slf", "whitematter_tracts", "superior longitudinal fasciculus",
          ["slf", "superior longitudinal fasciculus"], 2)],
        "entity_id string, field string, canonical string, "
        "aliases array<string>, n_aliases int",
    )
    got = {(r["pred"], r["entity_id"]) for r in
           resolve_entity_ids(triples, entities).collect()}
    assert ("whitematter_tracts", "slf") in got
    assert ("DTI_study", None) in got


_MERGE_ROWS = [
    ("tract", "slf", "superior longitudinal fasciculus"),
    ("tract", "slf i", "superior longitudinal fasciculus"),
    ("tract", "superior longitudinal fasciculus",
     "superior longitudinal fasciculus"),
    ("tract", "fornix", "fornix"),
    # same surface under a different field must NOT merge
    ("disease", "fornix", "fornix"),
]


def test_build_entities_merges_aliases(spark):
    got = entity_rows(_MERGE_ROWS)
    assert got == _oracle_rows(spark, _MERGE_ROWS)
    rows = {(r[1], r[2]): r for r in got}
    slf = rows[("tract", "superior longitudinal fasciculus")]
    assert set(slf[3]) == {
        "slf", "slf i", "superior longitudinal fasciculus",
    }
    assert slf[4] == 3
    assert ("tract", "fornix") in rows and ("disease", "fornix") in rows
    assert rows[("tract", "fornix")][3] == ["fornix"]


def test_entity_rows_match_spark_oracle_on_gazetteer(spark):
    rows = vocab.gazetteer_rows()
    got = entity_rows(rows)
    assert got == _oracle_rows(spark, rows)
    assert len(got) == 402


def test_entity_rows_vote_ties_and_chains(spark):
    """A chain merges through a shared canonical; the representative is
    the canonical with the most votes, ties to the larger value."""
    rows = [
        ("f", "b", "c"), ("f", "a", "b"), ("f", "c", "c"), ("f", "d", "d"),
        ("f", "x", "y"), ("f", "z", "w"), ("f", "y", "w"), ("f", "w", "w"),
        ("g", "p", "q"), ("g", "q", "p"),
    ]
    got = entity_rows(rows)
    assert got == [
        ("a", "f", "c", ["a", "b", "c"], 3),
        ("d", "f", "d", ["d"], 1),
        ("w", "f", "w", ["w", "x", "y", "z"], 4),
        ("p", "g", "q", ["p", "q"], 2),
    ]
    assert got == _oracle_rows(spark, rows)


def _group_jobs(spark, group):
    sc = spark.sparkContext
    # job ids reach the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(group))


def test_entities_stage_starts_at_most_one_job(spark, tmp_path):
    from llm_information_extraction_spark.plans.pipeline import KGPipeline

    p = KGPipeline(spark, str(tmp_path / "wh"))
    before = _group_jobs(spark, "kg:entities")
    rows, out = p._commit("entities", p._build_entities, None)
    assert rows == 402
    assert len(_group_jobs(spark, "kg:entities") - before) <= 1
    assert _sorted_entities(out.collect()) == entity_rows(vocab.gazetteer_rows())


@pytest.mark.parametrize("local_edges", [100_000, 0])
def test_cc_keeps_no_checkpoint(spark, monkeypatch, local_edges):
    """``unpersist()`` does not free a checkpoint: CC releases each of
    its own. The local path keeps none; the distributed path keeps only
    the last round's, which its returned frame reads."""
    monkeypatch.setattr(canonicalize, "_LOCAL_CC_EDGES", local_edges)
    edges = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(50)],
        "src string, dst string",
    )
    before = _persisted(spark)
    calls = 3 if local_edges else 1
    for _ in range(calls):
        comps = connected_components(edges)
        assert comps.filter(F.col("component") == "n00").count() == 51
    assert len(_persisted(spark) - before) == (0 if local_edges else 1)


def test_minhash_grouping_keeps_no_checkpoint(spark):
    from llm_information_extraction_spark.operators.dedup import (
        minhash_dedup_groups,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f g"), (3, "x y z w")],
        "doc_id bigint, text string",
    )
    before = _persisted(spark)
    got = {(r["doc_id"], r["group_id"]) for r in
           minhash_dedup_groups(docs, threshold=0.5).collect()}
    assert got == {("1", "1"), ("2", "1")}
    assert not _persisted(spark) - before


def test_cc_reliable_checkpoint_mode(spark, tmp_path, monkeypatch):
    """checkpoint_dir= switches lineage truncation to reliable
    checkpoint() (survives executor loss on a real cluster); results
    must be identical to the localCheckpoint default."""
    edges = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(29)] + [("x", "y")],
        "src string, dst string",
    )
    ckpt = str(tmp_path / "cc_ckpt")
    local = {
        (r["node"], r["component"])
        for r in connected_components(edges).collect()
    }
    monkeypatch.setattr(canonicalize, "_LOCAL_CC_EDGES", 0)
    reliable = {
        (r["node"], r["component"])
        for r in connected_components(edges, checkpoint_dir=ckpt).collect()
    }
    assert reliable == local
    import os
    assert os.listdir(ckpt)  # checkpoint files actually landed on disk


def test_cc_local_fast_path_matches_iterative(spark, monkeypatch):
    """The driver-side union-find fast path must return exactly the
    distributed star-contraction result on an arbitrary graph (chains,
    a star, duplicate and reversed edges, isolated pair)."""
    import random

    rng = random.Random(13)
    nodes = [f"v{i:03d}" for i in range(120)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(200)]
    edges += [("hub", f"leaf{i}" ) for i in range(10)]
    df = spark.createDataFrame(edges, "src string, dst string")
    local = {
        (r["node"], r["component"])
        for r in connected_components(df).collect()
    }
    monkeypatch.setattr(canonicalize, "_LOCAL_CC_EDGES", 0)
    iterative = {
        (r["node"], r["component"])
        for r in connected_components(df).collect()
    }
    assert local == iterative and local
