"""Resume semantics: kill after stage-k snapshot, rerun, identical output.

BASELINE.md resumability target: a killed run resumes from the last
committed snapshot (catalog manifest commit is atomic) and the final
triples are identical to an uninterrupted run.
"""

import json
import re
import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from llm_information_extraction_spark.plans.pipeline import (
    KGPipeline,
    PipelineConfig,
)

CFG = PipelineConfig(n_docs=60, seed=11)


def _triples_set(df):
    return {(r["doc_id"], r["pred"], r["obj"]) for r in df.collect()}


def test_kill_and_resume_identical(spark, tmp_path):
    # uninterrupted run
    full = KGPipeline(spark, str(tmp_path / "w_full"), CFG)
    full_counts = full.run()
    want = _triples_set(full.read("triples"))
    assert want

    # killed run: stop after mentions commit
    wh = str(tmp_path / "w_killed")
    killed = KGPipeline(spark, wh, CFG)
    killed.run(stop_after="mentions")
    assert killed.catalog.exists("mentions")
    assert not killed.catalog.exists("triples")
    mention_snap = killed.catalog.current_snapshot("mentions")

    # resume in a NEW pipeline object (fresh driver)
    resumed = KGPipeline(spark, wh, CFG)
    # committed stages count from their commit records, the rest from
    # their writes: the same counts as the uninterrupted run
    assert resumed.run(resume=True) == full_counts
    got = _triples_set(resumed.read("triples"))
    assert got == want
    # committed stages were NOT recomputed (snapshot id unchanged)
    assert resumed.catalog.current_snapshot("mentions") == mention_snap


def test_pipeline_dedup_stage(spark, tmp_path):
    """Corpus dedup between ingest and extraction: duplicated docs are
    collapsed before the expensive stages; the stage is committed and
    resumable like any other."""
    from pyspark.sql import functions as F

    from llm_information_extraction_spark.sources.synthetic import (
        generate_documents,
    )

    docs = generate_documents(spark, 40, seed=77)
    dups = docs.limit(10).withColumn(
        "doc_id", F.concat(F.lit("copy_"), F.col("doc_id"))
    )
    corpus = docs.unionByName(dups).cache()

    for mode in ("exact", "minhash"):
        cfg = PipelineConfig(n_docs=50, seed=77, dedup=mode)
        pipe = KGPipeline(
            spark, str(tmp_path / f"w_{mode}"), cfg, documents=corpus
        )
        counts = pipe.run()
        assert counts["ingest"] == 50
        if mode == "exact":
            assert counts["unique_docs"] == 40
        else:  # minhash may additionally drop true near-dups
            assert counts["unique_docs"] <= 40
        kept_ids = {
            r["doc_id"]
            for r in pipe.read("unique_docs").select("doc_id").collect()
        }
        dup_ids = {r["doc_id"] for r in dups.select("doc_id").collect()}
        for cid in dup_ids:  # never keep both members of a dup pair
            assert not (cid in kept_ids and cid[len("copy_"):] in kept_ids)
        # one doc per duplicate pair survives; mentions computed on the
        # deduped corpus only
        mention_docs = {
            r["doc_id"]
            for r in pipe.read("mentions").select("doc_id").distinct().collect()
        }
        kept = {
            r["doc_id"] for r in pipe.read("unique_docs").select("doc_id").collect()
        }
        assert mention_docs <= kept
        # resume skips the committed dedup stage
        snap = pipe.catalog.current_snapshot("unique_docs")
        again = KGPipeline(
            spark, str(tmp_path / f"w_{mode}"), cfg, documents=corpus
        )
        again.run(resume=True)
        assert again.catalog.current_snapshot("unique_docs") == snap


def test_config_change_invalidates_snapshots(spark, tmp_path):
    wh = str(tmp_path / "w_cfg")
    p1 = KGPipeline(spark, wh, CFG)
    p1.run(stop_after="mentions")
    snap0 = p1.catalog.current_snapshot("mentions")

    p2 = KGPipeline(spark, wh, PipelineConfig(n_docs=60, seed=12))
    p2.run(stop_after="mentions")
    assert p2.catalog.current_snapshot("mentions") == snap0 + 1


def test_crash_mid_write_invisible(spark, tmp_path):
    """A snapshot dir without a manifest commit must be invisible."""
    wh = tmp_path / "w_crash"
    p = KGPipeline(spark, str(wh), CFG)
    p.run(stop_after="ingest")
    # simulate a crashed writer: orphan snapshot dir, manifest not updated
    orphan = wh / "mentions" / "snap_000099"
    orphan.mkdir(parents=True)
    (orphan / "part-00000.parquet").write_bytes(b"garbage")
    assert not p.catalog.exists("mentions")
    # resume runs mentions from scratch and commits cleanly
    p2 = KGPipeline(spark, str(wh), CFG)
    p2.run(stop_after="mentions")
    m = json.loads((wh / "mentions" / "_manifest.json").read_text())
    assert m["current"] == 0


def test_sql_views_over_pipeline(spark, tmp_path):
    from llm_information_extraction_spark.plans.sql_views import (
        doc_field_matrix,
        entity_mention_counts,
        register_views,
    )

    p = KGPipeline(spark, str(tmp_path / "w_sql"), CFG)
    p.run()
    views = register_views(p)
    assert {"kg_triples", "kg_entities", "kg_lineage"} <= set(views)
    top = entity_mention_counts(spark).first()
    assert top["n_mentions"] >= top["n_docs"] >= 1
    m = doc_field_matrix(spark)
    assert m.count() == CFG.n_docs
    assert m.filter("n_fields < 3").count() == 0  # binary defaults everywhere


def test_chunked_pipeline_matches_unchunked(spark, tmp_path):
    """chunk_max_spans bounds Arrow batches without changing triples."""
    base = KGPipeline(spark, str(tmp_path / "w_nochunk"), CFG)
    base.run(stop_after="triples")
    chunked_cfg = PipelineConfig(n_docs=60, seed=11, chunk_max_spans=16)
    chunked = KGPipeline(spark, str(tmp_path / "w_chunk"), chunked_cfg)
    chunked.run(stop_after="triples")
    assert _triples_set(chunked.read("triples")) == _triples_set(
        base.read("triples")
    )


def test_pipeline_with_table_media_mentions(spark, tmp_path):
    """Table media payloads contribute extra triples; binary defaults
    from media rows never overwrite a payload 'yes'."""
    media = spark.createDataFrame(
        [
            (
                "m1",
                "doc_000000000",
                "table",
                b"region,fa\ncorpus callosum,0.41\nfornix,0.38",
                0, 0, 1, "csv",
            )
        ],
        "media_id string, doc_id string, kind string, payload binary, "
        "width int, height int, n_frames int, codec string",
    )
    p = KGPipeline(spark, str(tmp_path / "w_media"), CFG, media=media)
    p.run(stop_after="mentions")
    got = _triples_set(p.read("mentions"))
    assert ("doc_000000000", "whitematter_tracts", "corpus callosum") in got
    assert ("doc_000000000", "whitematter_tracts", "fornix") in got
    # no doc holds both yes and no for a binary field
    from collections import defaultdict

    vals = defaultdict(set)
    for doc, pred, obj in got:
        if pred in ("DTI_study", "Human_study", "Dementia_study"):
            vals[(doc, pred)].add(obj)
    assert all(len(v) == 1 for v in vals.values())


def test_lineage_recorded_per_partition(spark, tmp_path):
    wh = str(tmp_path / "w_lin")
    p = KGPipeline(spark, wh, CFG)
    counts = p.run()
    lineage = p.read("lineage")
    stages = {r["stage"] for r in lineage.select("stage").distinct().collect()}
    assert {"ingest", "mentions", "triples", "entities"} <= stages
    # rows_out sums match stage counts
    agg = {
        r["stage"]: r["total"]
        for r in lineage.groupBy("stage").sum("rows_out")
        .withColumnRenamed("sum(rows_out)", "total").collect()
    }
    for stage in ("mentions", "triples", "entities"):
        assert agg[stage] == counts[stage]
    # stage-level metrics table exists with sane rollups
    metrics = {r["stage"]: r for r in p.read("metrics").collect()}
    for stage in ("mentions", "triples", "entities"):
        assert metrics[stage]["rows_out"] == counts[stage]
        assert metrics[stage]["n_partitions"] >= 1
        assert metrics[stage]["partition_skew"] >= 1.0
        assert metrics[stage]["wall_ms"] > 0


CFG_STAGES = ["ingest", "mentions", "triples", "entities"]
LINEAGE_TYPES = [
    ("stage", "string"), ("snapshot_id", "int"), ("partition_id", "int"),
    ("rows_out", "bigint"), ("wall_ms", "double"), ("config", "string"),
]
METRICS_TYPES = [
    ("stage", "string"), ("snapshot_id", "int"), ("config", "string"),
    ("rows_out", "bigint"), ("n_partitions", "bigint"),
    ("max_partition_rows", "bigint"), ("partition_skew", "double"),
    ("wall_ms", "double"),
]


def _types(df):
    return [(f.name, f.dataType.simpleString()) for f in df.schema]


def _group_jobs(spark, groups):
    sc = spark.sparkContext
    # job ids reach the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return {g: set(sc.statusTracker().getJobIdsForGroup(g)) for g in groups}


@pytest.fixture(scope="module")
def pinned_run(spark, tmp_path_factory):
    """One run of CFG, with the job ids it started in each stage's job
    group and in each stage's commit group."""
    groups = [f"kg:{s}{g}" for s in CFG_STAGES for g in ("", ":commit")]
    before = _group_jobs(spark, groups)
    p = KGPipeline(spark, str(tmp_path_factory.mktemp("w_pin")), CFG)
    counts = p.run()
    after = _group_jobs(spark, groups)
    return p, counts, {g: after[g] - before[g] for g in groups}


def _rollup(lineage):
    """The stage-level rollup of lineage rows, as a Spark aggregate."""
    return lineage.groupBy("stage", "snapshot_id", "config").agg(
        F.sum("rows_out").alias("rows_out"),
        F.count(F.lit(1)).alias("n_partitions"),
        F.max("rows_out").alias("max_partition_rows"),
        F.round(
            F.max("rows_out") / F.greatest(F.avg("rows_out"), F.lit(1.0)), 3
        ).alias("partition_skew"),
        F.max("wall_ms").alias("wall_ms"),
    )


def test_lineage_and_metrics_equal_a_rescan(pinned_run):
    """Lineage rows (built from the commit record) equal a re-scan of each
    stage's output grouped by file; metrics equal their rollup."""
    p, counts, _ = pinned_run
    want = []
    for stage in CFG_STAGES:
        snap = p.catalog.current_snapshot(stage)
        per_file = p.read(stage).groupBy(F.input_file_name().alias("f")).count()
        for r in per_file.collect():
            part = int(re.search(r"/part-(\d+)-[^/]*$", r["f"]).group(1))
            want.append((stage, snap, part, r["count"]))
    lineage = p.read("lineage")
    assert _types(lineage) == LINEAGE_TYPES
    rows = lineage.collect()
    assert sorted(
        (r["stage"], r["snapshot_id"], r["partition_id"], r["rows_out"]) for r in rows
    ) == sorted(want)
    assert {r["config"] for r in rows} == {CFG.fingerprint()}
    assert all(r["wall_ms"] > 0 for r in rows)

    metrics = p.read("metrics")
    assert _types(metrics) == METRICS_TYPES
    got = sorted(tuple(r) for r in metrics.collect())
    assert got == sorted(tuple(r) for r in _rollup(lineage).collect())
    assert {r[0]: r[3] for r in got} == {s: counts[s] for s in CFG_STAGES}


def test_stage_jobs_labelled_and_commits_start_none(pinned_run):
    _, _, jobs = pinned_run
    for stage in CFG_STAGES:
        assert jobs[f"kg:{stage}"], f"no jobs labelled kg:{stage}"
        assert not jobs[f"kg:{stage}:commit"], f"{stage} bookkeeping started jobs"


def _to_old_layout(spark, wh: Path) -> None:
    """Rewrite a warehouse into the layout of catalogs that stored no
    schema or per-file rows and rewrote lineage/metrics as one snapshot
    directory per commit."""
    for manifest in wh.glob("*/_manifest.json"):
        table = manifest.parent
        m = json.loads(manifest.read_text())
        if table.name in ("lineage", "metrics"):
            cat = KGPipeline(spark, str(wh), CFG).catalog
            df = cat.read(table.name)
            data = spark.createDataFrame(df.collect(), df.schema)
            shutil.rmtree(table)
            data.write.parquet(str(table / "snap_000000"))
            m = {"snapshots": [{"id": 0, "path": str(table / "snap_000000"),
                                "meta": {}}], "current": 0}
        else:
            m["snapshots"] = [
                {k: s[k] for k in ("id", "path", "meta")} for s in m["snapshots"]
            ]
        manifest.write_text(json.dumps(m))


def test_old_layout_warehouse_reads_resumes_and_appends(spark, tmp_path, pinned_run):
    _, full_counts, _ = pinned_run
    wh = tmp_path / "w_old"
    KGPipeline(spark, str(wh), CFG).run(stop_after="mentions")
    _to_old_layout(spark, wh)
    old = sorted(tuple(r) for r in KGPipeline(spark, str(wh), CFG).read("lineage").collect())
    assert {r[0] for r in old} == {"ingest", "mentions"}

    resumed = KGPipeline(spark, str(wh), CFG)
    assert resumed.run(resume=True) == full_counts
    assert resumed.catalog.current_snapshot("mentions") == 0  # not recomputed
    lineage = resumed.read("lineage")
    assert _types(lineage) == LINEAGE_TYPES
    rows = sorted(tuple(r) for r in lineage.collect())
    assert [r for r in rows if r[0] in ("ingest", "mentions")] == old
    assert {r[0] for r in rows} - {r[0] for r in old} == {"triples", "entities"}
    metrics = resumed.read("metrics")
    assert _types(metrics) == METRICS_TYPES
    assert sorted(tuple(r) for r in metrics.collect()) == sorted(
        tuple(r) for r in _rollup(lineage).collect()
    )
