"""Iceberg-branch Catalog semantics, pinned without an Iceberg jar.

This sandbox has no Iceberg runtime on the classpath, so the branch
(`Catalog._iceberg=True`) can't execute for real. These tests stub the
three JVM touchpoints — ``DataFrame.writeTo``, ``SparkSession.table``
(tables and their ``files`` metadata table),
``spark.catalog.tableExists`` — with an eager in-memory table store, so
the branch's meta/snapshot BOOKKEEPING (the round-1 silent-resume bug
class: manifest and data store disagreeing) can't regress unexecuted.
The parquet fallback branch is covered by test_pipeline_resume.py.
"""

import pytest
from pyspark.sql import DataFrame

from llm_information_extraction_spark.sources.catalog import Catalog


@pytest.fixture
def iceberg_stub(spark, monkeypatch):
    """In-memory V2-write stub: eager snapshot on createOrReplace /
    create / append (like Iceberg's commit), name-keyed reads, a
    ``<table>.files`` metadata table holding one data file per table,
    catalog existence checks."""
    tables: dict[str, DataFrame] = {}

    class _FakeV2Writer:
        def __init__(self, df, name):
            self._df, self._name = df, name

        def createOrReplace(self):
            # materialize eagerly: an Iceberg commit is a durable
            # snapshot, not a lazy plan reference
            tables[self._name] = self._df.sparkSession.createDataFrame(
                self._df.collect(), self._df.schema
            )

        create = createOrReplace

        def append(self):
            rows = tables[self._name].collect() + self._df.collect()
            tables[self._name] = self._df.sparkSession.createDataFrame(
                rows, self._df.schema
            )

    def table(name):
        if name.endswith(".files"):
            rows = tables[name[: -len(".files")]].count()
            return spark.createDataFrame(
                [("wh/data/00000-0-stub-00001.parquet", rows)],
                "file_path string, record_count long",
            )
        return tables[name]

    # patch the CONCRETE class (pyspark 4: pyspark.sql.DataFrame is the
    # abstract base; classic.dataframe.DataFrame overrides writeTo)
    monkeypatch.setattr(
        type(spark.range(1)),
        "writeTo",
        lambda self, name: _FakeV2Writer(self, name),
    )
    monkeypatch.setattr(spark, "table", table)
    monkeypatch.setattr(
        spark.catalog, "tableExists", lambda name: name in tables
    )
    return tables


def test_iceberg_branch_write_read_meta_roundtrip(spark, tmp_path, iceberg_stub):
    cat = Catalog(spark, str(tmp_path / "wh"), use_iceberg=True)
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")

    commit = cat.write("t1", df, meta={"fp": "cfg-1"})
    assert commit.snapshot_id == 0
    assert commit.rows == 2  # from the files metadata table
    assert cat.exists("t1")
    assert cat.snapshot_meta("t1") == {"fp": "cfg-1"}
    assert {tuple(r) for r in cat.read("t1").collect()} == {(1, "a"), (2, "b")}

    # second write: snapshot id advances, meta follows the new commit
    df2 = spark.createDataFrame([(3, "c")], "id long, v string")
    commit2 = cat.write("t1", df2, meta={"fp": "cfg-2"})
    assert commit2.snapshot_id == 1
    assert cat.current_snapshot("t1") == 1
    assert cat.snapshot_meta("t1") == {"fp": "cfg-2"}
    assert [tuple(r) for r in cat.read("t1").collect()] == [(3, "c")]


def test_iceberg_crash_between_commits_reads_uncommitted(
    spark, tmp_path, iceberg_stub, monkeypatch
):
    """A crash AFTER the Iceberg table commit but BEFORE the manifest
    commit must read as 'not committed' (exists() False) so the stage
    re-runs — the safe direction (createOrReplace is idempotent)."""
    cat = Catalog(spark, str(tmp_path / "wh"), use_iceberg=True)
    df = spark.createDataFrame([(1, "a")], "id long, v string")

    boom = RuntimeError("driver died between commits")
    monkeypatch.setattr(
        cat, "_commit_meta", lambda *a, **k: (_ for _ in ()).throw(boom)
    )
    with pytest.raises(RuntimeError):
        cat.write("t2", df, meta={"fp": "x"})

    # the Iceberg side landed, the manifest didn't: both must agree that
    # the table is NOT committed (this was the round-1 bug class)
    assert spark.catalog.tableExists("t2")
    assert not cat.exists("t2")
    assert cat.current_snapshot("t2") is None

    # a rerun on a fresh Catalog (new driver) commits cleanly
    cat2 = Catalog(spark, str(tmp_path / "wh"), use_iceberg=True)
    assert cat2.write("t2", df, meta={"fp": "x"}).snapshot_id == 0
    assert cat2.exists("t2")
    assert cat2.snapshot_meta("t2") == {"fp": "x"}


def test_pipeline_kill_and_resume_on_iceberg_branch(
    spark, tmp_path, iceberg_stub, monkeypatch
):
    """The full resume matrix on the Iceberg branch: kill after the
    mentions commit, resume in a fresh pipeline, identical triples."""
    import llm_information_extraction_spark.sources.catalog as catmod
    from llm_information_extraction_spark.plans.pipeline import (
        KGPipeline,
        PipelineConfig,
    )

    monkeypatch.setattr(catmod, "iceberg_available", lambda s: True)
    cfg = PipelineConfig(n_docs=40, seed=13)

    full = KGPipeline(spark, str(tmp_path / "w_full"), cfg)
    full.run()
    want = {
        (r["doc_id"], r["pred"], r["obj"])
        for r in full.read("triples").collect()
    }
    assert want

    wh = str(tmp_path / "w_killed")
    killed = KGPipeline(spark, wh, cfg)
    killed.run(stop_after="mentions")
    assert killed.catalog._iceberg  # really on the Iceberg branch
    assert killed.catalog.exists("mentions")
    assert not killed.catalog.exists("triples")

    resumed = KGPipeline(spark, wh, cfg)
    resumed.run(resume=True)
    got = {
        (r["doc_id"], r["pred"], r["obj"])
        for r in resumed.read("triples").collect()
    }
    assert got == want
