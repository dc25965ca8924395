"""Fast checks of the benchmark itself (no Spark):

    python3 -m pytest -q perfbench
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import driver  # noqa: E402
import inputs  # noqa: E402
import metrics  # noqa: E402
import trace  # noqa: E402

WORDS = [f"w{i}" for i in range(300)]


def _doc(rng) -> list[dict]:
    spans = [{"kind": "title", "text": "a study", "media_ref": None, "offset": 0}]
    for k in range(4):
        text = " ".join(rng.choice(WORDS, 12)) + "."
        spans.append({"kind": "section", "text": text, "media_ref": None, "offset": k + 1})
    spans.append({"kind": "table_ref", "text": None, "media_ref": "tbl_001", "offset": 5})
    return spans


@pytest.fixture
def small(tmp_path, monkeypatch):
    """A 200-doc pool, its gold, and a 2-batch pristine stream output."""
    for name, value in {
        "KG_POOL": 60, "KG_DOCS": 40, "KG_NEAR_COPIES": 4, "KG_CONTROLS": 2, "KG_FILES": 2,
        "STREAM_BATCH": 20, "STREAM_HISTORY": 2, "STREAM_FILES": 2, "STREAM_NC_STORED": 2,
        "STREAM_NC_BATCH": 2, "STREAM_CONTROLS": 2, "STREAM_POOL0": 60,
        "STREAM_FRESH0": 100, "STREAM_FRESH": 100,
    }.items():
        monkeypatch.setattr(inputs, name, value)
    rng = np.random.default_rng(0)
    ids = [inputs.doc_id(i) for i in range(200)]
    pool = tmp_path / "pool"
    (pool / "docs").mkdir(parents=True)
    (pool / "gold").mkdir()
    pq.write_table(
        pa.table({"doc_id": ids, "spans": [_doc(rng) for _ in ids]}, schema=inputs.DOCS_SCHEMA),
        pool / "docs" / "part-0.parquet",
    )
    pq.write_table(
        pa.table({"doc_id": ids[:60], "pred": ["subjects"] * 60, "obj": ["humans"] * 60}),
        pool / "gold" / "part-0.parquet",
    )
    out = tmp_path / "stream" / "pristine" / "output" / "batch_id=0"
    out.mkdir(parents=True)
    pq.write_table(pa.table({"doc_id": ids[60:100]}), out / "part-0.parquet")
    return tmp_path


def _read_dir(path: Path) -> pa.Table:
    return pq.read_table(path).sort_by("doc_id")


def test_kg_inputs_deterministic_per_seed(small, tmp_path):
    a = inputs.derive_kg(small, 7)
    other = tmp_path / "other"
    other.mkdir()
    (other / "pool").symlink_to(small / "pool")
    b = inputs.derive_kg(other, 7)
    c = inputs.derive_kg(small, 8)
    assert _read_dir(a / "docs").equals(_read_dir(b / "docs"))
    assert _read_dir(a / "docs") != _read_dir(c / "docs")
    assert pq.read_table(a / "truth.parquet").equals(pq.read_table(b / "truth.parquet"))


def test_kg_planted_truth_holds(small):
    d = inputs.derive_kg(small, 3)
    docs = dict(zip(*_read_dir(d / "docs").to_pydict().values()))
    truth = pq.read_table(d / "truth.parquet").to_pylist()
    roles = [t["role"] for t in truth]
    assert roles.count("near_copy") == 4 and roles.count("control") == 2
    assert len(docs) == len(truth) == 46
    for t in truth:
        if t["role"] == "near_copy":
            assert inputs.jaccard(docs[t["doc_id"]], docs[t["source"]]) >= 0.9
            assert t["doc_id"] > t["source"]  # the original is the kept min id
            # the pair shares no word-3-gram with any other document
            pair = inputs.shingles(docs[t["source"]]) | inputs.shingles(docs[t["doc_id"]])
            others = [i for i in docs if i not in (t["doc_id"], t["source"])]
            assert all(not pair & inputs.shingles(docs[i]) for i in others)
        if t["role"] == "control":
            assert inputs.jaccard(docs[t["doc_id"]], docs[t["source"]]) <= 0.5
    gold = pq.read_table(d / "gold.parquet").to_pylist()
    ctl = [t["doc_id"] for t in truth if t["role"] == "control"]
    assert {g["doc_id"] for g in gold} >= set(ctl)


def test_tagging_keeps_every_extraction_match():
    texts = [
        "we studied alzheimers disease patients vs controls in this work.",
        "this single study enrolled participants prospectively.",
        "fractional anisotropy was reduced in the (anterior) cingulum bundle of patients.",
        "imaging used diffusion weighted mri and analyses were run in fsl.",
        "a systematic review of mice and humans; corpus callosum - genu and body of the corpus callosum",
    ]
    for text in texts:
        tagged = inputs.tag_text(text, inputs.tag(7))
        for rx in inputs._extraction_patterns():
            assert [m.group(0) for m in rx.finditer(text)] == [
                m.group(0) for m in rx.finditer(tagged)
            ]
        assert "_zqaah" in tagged
    # no word-3-gram survives untagged outside a multi-word match
    a = inputs.tag_text("the study included humans recruited from memory clinics.", inputs.tag(1))
    b = inputs.tag_text("the study included humans recruited from memory clinics.", inputs.tag(2))
    assert not set(a.split()) & set(b.split()) - {"humans"}


def test_stream_probe_truth_holds(small):
    d = inputs.derive_stream(small, 5)
    docs = dict(zip(*_read_dir(d / "probe").to_pydict().values()))
    truth = {t["doc_id"]: t for t in pq.read_table(d / "truth.parquet").to_pylist()}
    assert len(docs) == len(truth) == inputs.STREAM_BATCH
    stored = {inputs.doc_id(i) for i in range(60, 100)}
    for t in truth.values():
        if t["role"] == "near_copy_stored":
            assert t["source"] in stored and t["source"] not in docs
        if t["role"] == "near_copy_batch":
            assert truth[t["source"]]["role"] == "original"
    assert inputs.derive_stream(small, 5) == d


def test_metric_names_match_benchmark_json():
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert [w["name"] for w in bench["workloads"]] == list(metrics.WORKLOADS)
    assert sorted(driver.WORKLOADS) == sorted(metrics.WORKLOADS)
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]] == [
        tuple(m) for m in metrics.E2E
    ]
    # BENCHMARK.json entries carry exactly name, unit and better; what each
    # per-layer metric should move lives in metrics.PER_LAYER
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == [
        m[:3] for m in metrics.PER_LAYER
    ]
    assert all(len(m) == 4 and m[3] for m in metrics.PER_LAYER)
    assert len(bench["per_layer"]) <= 128


def test_span_coverage():
    tr = trace.Tracer()
    tr.spans = [
        trace.Span("run", 0.0, 10.0),
        trace.Span("a", 1.0, 4.0, parent=0),
        trace.Span("b", 3.0, 6.0, parent=0),
        trace.Span("a.child", 1.5, 2.0, parent=1),
    ]
    assert tr.uncovered(0) == pytest.approx(5.0)
    assert tr.children(1) == [3]


def test_event_log_counters(tmp_path):
    sql = "org.apache.spark.sql.execution.ui."
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {"spark.job.description": "x"}},
        {"Event": sql + "SparkListenerSQLExecutionStart", "executionId": 0, "time": 1000,
         "sparkPlanInfo": {"nodeName": "Scan parquet", "metadata": {"Location": "file:/s/state"},
                           "metrics": [{"name": "number of output rows", "accumulatorId": 9}],
                           "children": []}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Accumulables": [{"ID": 9, "Update": "40"}]},
         "Task Metrics": {"Executor CPU Time": 2e9, "JVM GC Time": 500,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
                          "Memory Bytes Spilled": 1, "Disk Bytes Spilled": 2,
                          "Output Metrics": {"Bytes Written": 11}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 9000,
         "Stage IDs": [1], "Properties": {}},
    ]
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in events))
    log = trace.EventLog(path)
    c = log.counters(log.jobs_between(0.5, 5.0))
    assert (c["jobs"], c["cpu_s"], c["gc_s"], c["exec_s"]) == (1, 2.0, 0.5, 2.0)
    assert (c["shuffle_write_bytes"], c["spill_bytes"], c["write_bytes"]) == (7, 3, 11)
    assert log.rows_scanned("/s/state", 0.5, 5.0) == 40
    assert log.rows_scanned("/s/state", 5.0, 10.0) == 0
