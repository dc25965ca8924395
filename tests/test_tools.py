"""Argument handling of the repository's command-line tools (no Spark)."""

import sys
from pathlib import Path

import pyarrow as pa
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

import check_contract  # noqa: E402
import cpu_breakdown  # noqa: E402
import make_synth_sf  # noqa: E402


def test_check_contract_queries_both_spellings():
    want = (["sf"], {"orders_customer_join", "token_count_docs"})
    names = "orders_customer_join,token_count_docs"
    assert check_contract.parse_args(["sf", "--queries", names]) == want
    assert check_contract.parse_args(["sf", f"--queries={names}"]) == want
    assert check_contract.parse_args(["sf"]) == (["sf"], None)
    assert check_contract.parse_args([]) == ([], None)


@pytest.mark.parametrize("arg", ["--queries=no_such_query", "--queries=", "--queries=orders_customer_join,typo"])
def test_check_contract_unknown_query_fails(arg, capsys):
    with pytest.raises(SystemExit) as e:
        check_contract.parse_args([arg])
    assert e.value.code == 2
    assert "no contract query" in capsys.readouterr().err


def test_make_synth_sf_replica0_keeps_source():
    src = pa.table({
        "doc_id": pa.array([0, 1], pa.int64()),
        "text": ["héllo wörld", "b c"],
        "lang": ["en", "de"],
        "source": ["x", "y"],
        # not len(text): replica 0 must carry the column through as is
        "n_chars": pa.array([13, 99], pa.int64()),
    })
    out = make_synth_sf.documents(src, 2)
    assert out.slice(0, 2).equals(src.replace_schema_metadata(None))
    assert out.column("n_chars").to_pylist()[2:] == [
        len(t) for t in out.column("text").to_pylist()[2:]
    ]


@pytest.mark.parametrize("name, cls", [
    ("C1 CompilerThre", "jit_c1"),
    ("C2 CompilerThre", "jit_c2"),
    ("GC Thread#3", "gc"),
    ("G1 Conc#0", "gc"),
    ("G1 Refine#0", "gc"),
    ("Executor task l", "executor_tasks"),
    ("Thread-4", "driver_py4j"),
    ("dag-scheduler-e", "other"),
    ("VM Thread", "other"),
    ("java", "other"),
])
def test_cpu_breakdown_thread_class(name, cls):
    assert cpu_breakdown.thread_class(name) == cls


def test_cpu_breakdown_stage_cpu_wraps_each_commit():
    class Pipeline:
        def __init__(self, n):
            self.n = n

        def _commit(self, stage, build, *args):
            return build(*args)

        def run(self):
            return [self._commit(s, lambda k: sum(range(k)), self.n) for s in ("a", "b")]

    p = cpu_breakdown.stage_cpu_pipeline(Pipeline)(200_000)
    assert p.run() == [sum(range(200_000))] * 2
    assert list(p.stage_cpu) == ["a", "b"]
    assert all(s >= 0 for s in p.stage_cpu.values())


def test_cpu_breakdown_stage_report():
    out = cpu_breakdown.stage_report({"ingest": 1.25, "unique_docs": 30.0}, 40.0)
    assert out.splitlines() == [
        "CPU per stage commit (driver process tree):",
        "  ingest               1.2",
        "  unique_docs         30.0",
        "  outside commits      8.8",
    ]
