"""CPU breakdown of one cold ``KGPipeline(dedup="minhash")`` pass.

    python tools/cpu_breakdown.py CORPUS_PARQUET

``CORPUS_PARQUET`` is a documents table the pipeline accepts as input
(``doc_id``, ``spans``), e.g. a perfbench ``kg_build`` corpus:
``perfbench/.cache/kg/<generator>/seed1/docs``. Start the tool in a
fresh process: the pass must be the session's first, so JIT warm-up and
Python worker start-up land in it. The tool starts a local Spark session
(``SPARK_DRIVER_MEM`` defaults to 2g here, as in the benchmark), opens
the corpus, snapshots CPU time, runs one pass into a temporary
warehouse, snapshots again and prints the difference:

- JVM CPU by thread class, from ``/proc/<jvm>/task/*/stat``: C1 and C2
  JIT compiler threads, GC threads, executor task threads, the driver's
  py4j threads (``Thread-N``) and the rest, plus the CPU of JVM threads
  that exited during the pass;
- every ``pyspark.daemon`` process under the JVM with its live worker
  count and the CPU of the daemon, its live workers and the workers it
  has reaped;
- the process tree's CPU per pipeline stage: a snapshot before and
  after each stage commit (the stage's build and write, and its lineage
  and metrics rows), and the rest of the pass outside them.

Linux only (reads ``/proc``).
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "perfbench"))
sys.path.insert(1, str(ROOT))

import procs  # noqa: E402

#: thread-name prefixes (Linux ``comm``, at most 15 chars) per class
_THREAD_CLASSES = (
    ("jit_c1", ("C1 CompilerThre",)),
    ("jit_c2", ("C2 CompilerThre",)),
    ("gc", ("GC Thread", "G1 ")),
    ("executor_tasks", ("Executor task l",)),
    ("driver_py4j", ("Thread-",)),
)


def thread_class(name: str) -> str:
    """The class of a JVM thread, from its Linux thread name."""
    for cls, prefixes in _THREAD_CLASSES:
        if name.startswith(prefixes):
            return cls
    return "other"


def _stat(path: Path) -> tuple[str, list[str]] | None:
    """(comm, fields after comm) of a ``/proc`` stat file, or None once
    the process or thread is gone."""
    try:
        stat = path.read_text()
    except OSError:
        return None
    return stat[stat.index("(") + 1:stat.rindex(")")], stat[stat.rindex(")") + 2:].split()


def jvm_threads(pid: int) -> dict[int, tuple[str, int]]:
    """tid -> (thread name, user + system ticks) of every live thread."""
    out = {}
    for task in Path(f"/proc/{pid}/task").iterdir():
        st = _stat(task / "stat")
        if st is not None:
            out[int(task.name)] = (st[0], int(st[1][11]) + int(st[1][12]))
    return out


def _cmdline(pid: int) -> bytes:
    try:
        return Path(f"/proc/{pid}/cmdline").read_bytes()
    except OSError:
        return b""


def find_jvm() -> int:
    """The Spark driver JVM started by this process."""
    table = procs.table()
    for pid in sorted(procs.tree(os.getpid(), table) - {os.getpid()}):
        st = _stat(Path(f"/proc/{pid}/stat"))
        if st is not None and st[0] == "java":
            return pid
    raise RuntimeError("no JVM under this process")


def daemons(jvm: int) -> dict[int, tuple[int, int]]:
    """daemon pid -> (live workers, CPU ticks of the daemon, of the
    workers it reaped and of its live workers) for every
    ``pyspark.daemon`` the JVM started. Workers are forked from their
    daemon, so they are its children."""
    table = procs.table()
    out = {}
    for pid, p in table.items():
        if p.ppid == jvm and b"pyspark.daemon" in _cmdline(pid):
            workers = procs.tree(pid, table) - {pid}
            ticks = sum(table[w].cpu_ticks for w in workers | {pid})
            out[pid] = (len(workers), ticks)
    return out


def snapshot(jvm: int) -> dict:
    own = _stat(Path(f"/proc/{jvm}/stat"))[1]
    return {
        "jvm_ticks": int(own[11]) + int(own[12]),
        "threads": jvm_threads(jvm),
        "daemons": daemons(jvm),
        "tree_s": procs.tree_cpu_s(),
    }


def report(before: dict, after: dict) -> str:
    hz = procs.CLK_TCK
    by_class: Counter = Counter()
    other: Counter = Counter()
    for tid, (name, ticks) in after["threads"].items():
        d = ticks - before["threads"].get(tid, (name, 0))[1]
        cls = thread_class(name)
        by_class[cls] += d
        if cls == "other":
            other[name.rstrip("0123456789#-")] += d
    jvm = after["jvm_ticks"] - before["jvm_ticks"]
    exited = jvm - sum(by_class.values())
    lines = [f"cold pass CPU (driver process tree): {after['tree_s'] - before['tree_s']:.1f} s",
             f"JVM threads: {jvm / hz:.1f} CPU-s"]
    for cls, _ in (*_THREAD_CLASSES, ("other", ())):
        lines.append(f"  {cls:<16}{by_class[cls] / hz:8.1f}")
    lines.append(f"  {'exited threads':<16}{exited / hz:8.1f}")
    for name, d in other.most_common(5):
        lines.append(f"    other: {name:<18}{d / hz:6.1f}")
    lines.append(f"pyspark.daemon processes: {len(after['daemons'])}")
    for pid, (workers, ticks) in sorted(after["daemons"].items()):
        d = ticks - before["daemons"].get(pid, (0, 0))[1]
        lines.append(f"  pid {pid:<8} live workers {workers:<3} CPU {d / hz:6.1f} s")
    return "\n".join(lines)


def stage_cpu_pipeline(base: type) -> type:
    """A subclass of the pipeline class ``base`` that records, in its
    ``stage_cpu`` dict, the process tree's CPU seconds spent in each
    stage commit (``base._commit``)."""

    class StageCPU(base):
        def __init__(self, *args, **kwargs):
            super().__init__(*args, **kwargs)
            self.stage_cpu: dict[str, float] = {}

        def _commit(self, stage, build, *args):
            t0 = procs.tree_cpu_s()
            try:
                return super()._commit(stage, build, *args)
            finally:
                self.stage_cpu[stage] = procs.tree_cpu_s() - t0

    return StageCPU


def stage_report(stage_cpu: dict[str, float], pass_s: float) -> str:
    """Per-stage CPU lines, in commit order, and the rest of the pass."""
    lines = ["CPU per stage commit (driver process tree):"]
    for stage, s in stage_cpu.items():
        lines.append(f"  {stage:<16}{s:8.1f}")
    lines.append(f"  {'outside commits':<16}{pass_s - sum(stage_cpu.values()):8.1f}")
    return "\n".join(lines)


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    from llm_information_extraction_spark.plans.pipeline import KGPipeline, PipelineConfig
    from llm_information_extraction_spark.session import get_spark

    spark = get_spark(app_name="cpu-breakdown")
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(argv[0])
    docs.schema  # noqa: B018 - open the input before the pass
    jvm = find_jvm()
    wh = tempfile.mkdtemp(prefix="cpu_breakdown_wh_")
    try:
        pipeline = stage_cpu_pipeline(KGPipeline)(
            spark, wh, PipelineConfig(dedup="minhash"), documents=docs
        )
        before = snapshot(jvm)
        counts = pipeline.run(resume=False)
        after = snapshot(jvm)
    finally:
        shutil.rmtree(wh, ignore_errors=True)
    print(f"stage rows: {counts}")
    print(report(before, after))
    print(stage_report(pipeline.stage_cpu, after["tree_s"] - before["tree_s"]))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
