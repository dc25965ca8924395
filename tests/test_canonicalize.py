"""Connected-components + entities-table tests (FIXTURES.md T4 chains)."""

from pyspark.sql import functions as F

from llm_information_extraction_spark.operators import canonicalize
from llm_information_extraction_spark.operators.canonicalize import (
    build_entities,
    connected_components,
)


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


def test_build_entities_merges_aliases(spark):
    vdf = spark.createDataFrame(
        [
            ("tract", "slf", "superior longitudinal fasciculus"),
            ("tract", "slf i", "superior longitudinal fasciculus"),
            ("tract", "superior longitudinal fasciculus",
             "superior longitudinal fasciculus"),
            ("tract", "fornix", "fornix"),
            # same surface under a different field must NOT merge
            ("disease", "fornix", "fornix"),
        ],
        "field string, surface string, canonical string",
    )
    ents = build_entities(vdf)
    rows = {(r["field"], r["canonical"]): r for r in ents.collect()}
    slf = rows[("tract", "superior longitudinal fasciculus")]
    assert set(slf["aliases"]) == {
        "slf", "slf i", "superior longitudinal fasciculus",
    }
    assert slf["n_aliases"] == 3
    assert ("tract", "fornix") in rows and ("disease", "fornix") in rows
    assert rows[("tract", "fornix")]["aliases"] == ["fornix"]


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
