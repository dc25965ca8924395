"""Driver-built frames enter Spark through ``session.local_frame``: every
one plans as a JVM ``LocalTableScan``, never as a PythonRDD scan
(``ExistingRDD``), whose each scan is a Python job on a second worker
pool."""

from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from llm_information_extraction_spark import vocab
from llm_information_extraction_spark.operators import canonicalize
from llm_information_extraction_spark.operators.canonicalize import (
    connected_components,
)
from llm_information_extraction_spark.operators.linking import vocabulary_df
from llm_information_extraction_spark.operators.similarity import ivf_topk_join
from llm_information_extraction_spark.session import local_frame

ROOT = Path(__file__).resolve().parent.parent


def _assert_local(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan
    return plan


def test_vocabulary_df_is_a_local_scan_without_shuffle(spark):
    v = vocabulary_df(spark)
    plan = _assert_local(v)
    assert "Exchange" not in plan, plan
    assert sorted(map(tuple, v.collect())) == vocab.gazetteer_rows()


def test_gazetteer_rejects_key_with_two_canonicals(monkeypatch):
    alias = vocab._alias_rows()
    field, surface, canonical = alias[0]
    monkeypatch.setattr(
        vocab, "_alias_rows", lambda: alias + [(field, surface, canonical + "x")]
    )
    with pytest.raises(ValueError, match="two canonicals"):
        vocab.gazetteer_rows()


def test_gazetteer_rejects_canonical_that_is_not_a_surface(monkeypatch):
    alias = vocab._alias_rows()
    field = alias[0][0]
    monkeypatch.setattr(
        vocab, "_alias_rows", lambda: alias + [(field, "slff", "no such tract")]
    )
    with pytest.raises(ValueError, match="not a surface of its field"):
        vocab.gazetteer_rows()


def test_cc_local_path_is_a_local_scan(spark):
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("x", "y")], "src string, dst string"
    )
    cc = connected_components(edges)
    _assert_local(cc)
    assert sorted(map(tuple, cc.collect())) == [
        ("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x"),
    ]


@pytest.mark.parametrize("local_edges", [100_000, 0])
def test_cc_empty_edges_is_a_local_scan(spark, monkeypatch, local_edges):
    edges = spark.createDataFrame([], "src string, dst string")
    monkeypatch.setattr(canonicalize, "_LOCAL_CC_EDGES", local_edges)
    cc = connected_components(edges)
    _assert_local(cc)
    assert cc.columns == ["node", "component"]
    assert cc.count() == 0


def test_lang_canonicalize_map_is_a_local_scan(spark, tmp_path):
    import __spark_entry__ as entry

    pq.write_table(
        pa.table({
            "doc_id": pa.array([1, 2, 3], pa.int64()),
            "lang": ["en", " DE ", "xx"],
        }),
        tmp_path / "documents.parquet",
    )
    out = entry.lang_canonicalize(spark, str(tmp_path))
    _assert_local(out)
    assert sorted(map(tuple, out.collect())) == [
        (1, "english"), (2, "german"), (3, "xx"),
    ]


def test_ivf_centroid_frame_is_a_local_scan(spark):
    index = local_frame(
        spark,
        [(1, [1.0, 0.0], 0), (2, [0.0, 1.0], 1), (3, [0.9, 0.1], 0)],
        "id bigint, v array<double>, cell int",
    )
    queries = local_frame(
        spark, [(10, [1.0, 0.05])], "query_id bigint, embedding array<double>"
    )
    out = ivf_topk_join(index, [[1.0, 0.0], [0.0, 1.0]], queries, k=2, n_probe=1)
    _assert_local(out)
    assert [(r["id"], r["rank"]) for r in out.orderBy("rank").collect()] == [
        (1, 1), (3, 2),
    ]


def test_local_frame_is_the_only_create_dataframe():
    """Library code builds no frame from a Python list; tests may."""
    calls = []
    files = sorted((ROOT / "llm_information_extraction_spark").rglob("*.py"))
    for path in files + [ROOT / "__spark_entry__.py"]:
        for line in path.read_text().splitlines():
            if "createDataFrame(" in line:
                calls.append((path.relative_to(ROOT).as_posix(), line.strip()))
    assert calls == [
        (
            "llm_information_extraction_spark/session.py",
            "return spark.createDataFrame(rows, schema)",
        )
    ]
