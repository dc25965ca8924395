"""perfbench: the repository benchmark.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --steadiness --workload stream_query --runs 5

Run from the repository root.  Each run builds its seeded inputs in
``perfbench/.cache`` (the document pool and the pristine streaming store
are built once per checkout), starts the workload in a fresh driver
process (``driver.py``, ``local[nproc]``, one client, closed loop),
samples that process tree's resident memory from ``/proc``, checks the
outputs and prints one JSON line last:

    {"correct": true, "attempted": 5, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (see ``metrics.py``).  A line before it, starting with
``perfbench-run``, is the run record: host size, heap, load, code
version, the output checks, and ``valid: false`` when another Spark JVM
was running on the host at the time.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(1, str(HERE.parent))  # the library, for the generator's extraction patterns

import inputs  # noqa: E402
import metrics  # noqa: E402
import procs  # noqa: E402

CACHE = HERE / ".cache"
#: driver heap for the benchmark's JVMs: the inputs are small, and the
#: library default (16g) does not fit a 15 GiB host shared with others
HEAP = "2g"
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 165


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(2)


def _require_repo(root: Path) -> None:
    for rel in ("llm_information_extraction_spark/__init__.py", "__spark_entry__.py",
                "tools/check_contract.py"):
        if not (root / rel).is_file():
            _fail(f"run from the repository root: {rel} is missing")


# -- processes ------------------------------------------------------------------
def other_spark_jvms() -> list[int]:
    """Spark JVMs on the host that this process did not start."""
    table = procs.table()
    mine = procs.tree(os.getpid(), table)
    found = []
    for pid in table:
        if pid in mine:
            continue
        try:
            cmd = Path(f"/proc/{pid}/cmdline").read_bytes()
        except OSError:
            continue
        if b"org.apache.spark.deploy.SparkSubmit" in cmd:
            found.append(pid)
    return found


class _RssSampler(threading.Thread):
    """Peak summed RSS of a process tree (driver JVM + Python workers)."""

    def __init__(self, pid: int, period: float = 0.2):
        super().__init__(daemon=True)
        self.pid, self.period, self.peak = pid, period, 0.0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            pids = procs.tree(self.pid, procs.table())
            self.peak = max(self.peak, sum(procs.rss_mb(p) for p in pids))
            self._stop_evt.wait(self.period)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak


def _child_env() -> dict[str, str]:
    tmp = CACHE / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.pop("SPARK_MASTER", None)
    env.update(
        SPARK_DRIVER_MEM=HEAP,
        SPARK_LOCAL_DIRS=str(CACHE / "spark-local"),
        SPARK_GRAFT_CPUS=str(os.cpu_count() or 1),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        TMPDIR=str(tmp),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
    )
    return env


def _run_child(cmd: list[str], timeout: float, log: Path) -> tuple[int, float]:
    """Run ``cmd`` in its own process group; returns (exit code, peak
    RSS MB).  Every process of the group is stopped and waited for."""
    with open(log, "w") as fh:
        proc = subprocess.Popen(
            cmd, stdout=fh, stderr=subprocess.STDOUT, env=_child_env(),
            start_new_session=True,
        )
        sampler = _RssSampler(proc.pid)
        sampler.start()
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            code = -1
        finally:
            peak = sampler.stop()
            _stop_group(proc)
    return code, peak


def _stop_group(proc: subprocess.Popen) -> None:
    pgid = proc.pid
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            pass
        deadline = time.time() + 10
        while time.time() < deadline:
            proc.poll()
            if not any(p.pgrp == pgid for p in procs.table().values()):
                return
            time.sleep(0.1)


def _tail(log: Path, n: int = 30) -> str:
    return "\n".join(log.read_text(errors="replace").splitlines()[-n:])


# -- inputs -----------------------------------------------------------------------
def ensure_build() -> None:
    if all((CACHE / p / "_DONE").exists() for p in ("pool", "stream/pristine")):
        return
    log = CACHE / "build.log"
    code, _ = _run_child(
        [sys.executable, str(HERE / "build.py"), "--cache", str(CACHE)], BUILD_TIMEOUT_S, log
    )
    if code != 0 or not (CACHE / "stream" / "pristine" / "_DONE").exists():
        print(_tail(log), file=sys.stderr)
        _fail(f"input build failed (exit {code}); log in {log}")


def derive(workload: str, seed: int) -> None:
    if workload == "kg_build":
        inputs.derive_kg(CACHE, seed)
    elif workload == "stream_query":
        inputs.derive_stream(CACHE, seed)


# -- one run ----------------------------------------------------------------------
def _code_version(root: Path) -> dict[str, str | None]:
    h = hashlib.sha256()
    files = sorted((root / "llm_information_extraction_spark").rglob("*.py"))
    for f in files + [root / "__spark_entry__.py"]:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    sha = None
    if (root / ".git").exists():
        try:
            sha = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True,
                timeout=10,
            ).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    return {"git_sha": sha, "code_sha": h.hexdigest()[:16]}


def one_run(workload: str, seed: int, seconds: float, trace: bool) -> dict | None:
    """Run the workload once; returns the driver's result plus the run
    record, or None when the driver process died without a result."""
    root = Path.cwd()
    CACHE.mkdir(parents=True, exist_ok=True)
    ensure_build()
    derive(workload, seed)
    (CACHE / "runs").mkdir(exist_ok=True)
    others = other_spark_jvms()
    load0 = os.getloadavg()
    out = CACHE / "work" / f"result-{workload}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.unlink(missing_ok=True)
    log = CACHE / "work" / f"driver-{workload}.log"
    t0 = time.time()
    code, peak = _run_child(
        [sys.executable, str(HERE / "driver.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(int(trace)), "--cache", str(CACHE),
         "--t0", repr(t0), "--out", str(out)],
        RUN_TIMEOUT_S, log,
    )
    if code != 0 or not out.exists():
        print(_tail(log), file=sys.stderr)
        return None
    res = json.loads(out.read_text())
    res["peak_rss_mb"] = peak
    res["record"] = {
        "workload": workload, "seed": seed, "trace": trace, "nproc": os.cpu_count(),
        "heap": HEAP, "loadavg_start": load0, "loadavg_end": os.getloadavg(),
        **_code_version(root), "other_spark_jvms": others, "valid": not others,
        "started": t0, "run_s": time.time() - t0,
    }
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime(t0))
    (CACHE / "runs" / f"{stamp}-{workload}-s{seed}-t{int(trace)}.json").write_text(
        json.dumps(res, indent=1)
    )
    return res


def summary(res: dict, trace: bool) -> dict:
    if trace:
        # a failed traced run has no layer breakdown: it reports zeros
        layers = {**res.get("layers", {}), "mem.peak_rss_mb": res["peak_rss_mb"]}
        values = {n: (layers.get(n, 0.0), u) for n, u, *_ in metrics.PER_LAYER}
    else:
        # a run whose cold pass raised has no pass time; it is not correct
        cpu = res["pass_cpu_s"][0] if res["pass_cpu_s"] else 0.0
        values = {"setup_s": (res["setup_cpu_s"], "s"), "cold_cpu_s": (cpu, "s")}
    return {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
    }


# -- steadiness self-check ----------------------------------------------------------
def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def steadiness(workload: str, runs: int, seeds: tuple[int, int], seconds: float) -> int:
    """Two sets of ``runs`` runs (seeds ``a, a+1, ...`` and ``b, b+1, ...``);
    prints each end-to-end metric's spread per set and the median drift."""
    sets = []
    for base in seeds:
        vals: dict[str, list[float]] = {n: [] for n, *_ in metrics.E2E}
        for i in range(runs):
            res = one_run(workload, base + i, seconds, False)
            if res is None or res["failed"]:
                print(json.dumps({"seed": base + i, "error": "run failed"}))
                return 1
            for name, m in summary(res, False)["metrics"].items():
                vals[name].append(m["value"])
            print("perfbench-steady", json.dumps({"seed": base + i, **{k: v[-1] for k, v in vals.items()}}),
                  flush=True)
        sets.append(vals)
    ok = True
    for name, unit, better, bound in metrics.E2E:
        a, b = sets[0][name], sets[1][name]
        ma, mb = statistics.median(a), statistics.median(b)
        drift = (mb - ma) / ma if better == "lower" else (ma - mb) / ma
        sa, sb = spread(a), spread(b)
        steady = max(sa, sb) < bound / 3
        ok &= steady and drift <= bound
        print(json.dumps({
            "workload": workload, "metric": name, "unit": unit, "bound": bound,
            "median": [round(ma, 4), round(mb, 4)], "spread": [round(sa, 4), round(sb, 4)],
            "drift": round(drift, 4), "steady": steady,
        }))
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=metrics.WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steadiness", action="store_true",
                    help="run two sets of --runs runs and print each metric's spread")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seeds", default="1,101", help="first seed of each steadiness set")
    args = ap.parse_args()
    _require_repo(Path.cwd())
    if args.steadiness:
        a, b = (int(s) for s in args.seeds.split(","))
        return steadiness(args.workload, args.runs, (a, b), args.seconds)
    res = one_run(args.workload, args.seed, args.seconds, bool(args.trace))
    if res is None:
        _fail(f"{args.workload} driver process failed; log in {CACHE / 'work'}")
    print("perfbench-run", json.dumps({**res["record"], "details": res["details"],
                                       "pass_s": res["pass_s"]}))
    print(json.dumps(summary(res, bool(args.trace))))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
