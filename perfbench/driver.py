"""One benchmark run of one workload, in a fresh driver process.

Started by ``run.py``; writes its result as JSON to ``--out``.  The run
is: set-up (session, inputs opened, state restored), one cold pass, then
warm passes until ``--seconds`` have been measured (none when the cold
pass alone takes that long), then the output checks (untimed).  With
``--trace 1`` the layer wrappers and the Spark event log are on, and the
run makes a cold pass, a traced warm pass and an untraced warm pass.
The difference of the last two is the tracing overhead; the last pass
also runs a little warmer, so it is an upper bound.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path.cwd()))
sys.path.insert(0, str(Path(__file__).resolve().parent))

import numpy as np  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import inputs  # noqa: E402
import metrics  # noqa: E402
import procs  # noqa: E402
import trace  # noqa: E402

HERE = Path(__file__).resolve().parent
SF_DIR = HERE / "data" / "sf0.01"
F1_FLOOR = 0.95


class Workload:
    """One pass = one operation group; subclasses fill in the hooks."""

    name = ""
    ops_per_pass = 1

    def __init__(self, spark, cache: Path, seed: int, tracer: trace.Tracer | None):
        self.spark, self.cache, self.seed, self.tracer = spark, cache, seed, tracer
        self.passes: list[dict] = []

    def span(self, name: str):
        if self.tracer is None:
            from contextlib import nullcontext

            return nullcontext()
        return self.tracer.span(name)

    def pass_span(self) -> int:
        """Index of this workload's span for its cold pass."""
        return next(i for i, s in enumerate(self.tracer.spans) if s.name == f"pass:{self.name}")

    def setup(self) -> None: ...

    def run_pass(self) -> dict: ...

    def check(self) -> tuple[int, dict]:
        """(failed operations, details) for the last pass's output."""
        ...

    def layers(self, log: trace.EventLog) -> dict[str, float]: ...


# -- kg_build ------------------------------------------------------------------
class KgBuild(Workload):
    name = "kg_build"
    ops_per_pass = 5  # stage commits

    def setup(self) -> None:
        self.dir = inputs.derive_kg(self.cache, self.seed)
        self.docs = self.spark.read.parquet(str(self.dir / "docs"))
        self.docs.schema  # noqa: B018 - open the input now, not in the pass
        self.wh = self.cache / "work" / "kg_wh"

    def run_pass(self) -> dict:
        from llm_information_extraction_spark.plans.pipeline import KGPipeline, PipelineConfig

        shutil.rmtree(self.wh, ignore_errors=True)
        with self.span(f"pass:{self.name}"):
            t = time.time()
            counts = KGPipeline(
                self.spark, str(self.wh), PipelineConfig(dedup="minhash"), documents=self.docs
            ).run(resume=False)
            dt = time.time() - t
        return {"s": dt, "counts": counts}

    def check(self) -> tuple[int, dict]:
        from llm_information_extraction_spark.sources.catalog import Catalog

        cat = Catalog(self.spark, str(self.wh))
        kept = set(cat.read("unique_docs").select("doc_id").toArrow().column(0).to_pylist())
        truth = pq.read_table(self.dir / "truth.parquet").to_pylist()
        planted = [t for t in truth if t["role"] in inputs.DROP_ROLES]
        removed = sum(t["doc_id"] not in kept for t in planted)
        false_drops = sum(
            t["doc_id"] not in kept for t in truth if t["role"] in inputs.KEEP_ROLES
        )
        natural = sum(t["doc_id"] not in kept for t in truth if t["role"] == "base")

        gold = pq.read_table(self.dir / "gold.parquet", columns=["doc_id", "pred", "obj"])
        gold = {tuple(r.values()) for r in gold.to_pylist() if r["doc_id"] in kept}
        gold_docs = {g[0] for g in gold}
        got = cat.read("triples").select("doc_id", "pred", "obj").toArrow().to_pylist()
        got = {tuple(r.values()) for r in got if r["doc_id"] in gold_docs}
        tp = len(got & gold)
        f1 = 2 * tp / (len(got) + len(gold)) if got or gold else 0.0

        recall = self.recall = removed / len(planted)
        counts = self.passes[-1]["counts"]
        # a planted near-copy kept or a planted-distinct doc dropped is a
        # failed unique_docs commit; gold F1 under the floor a failed
        # triples commit
        failed = int(recall < 1.0 or false_drops > 0) + int(f1 < F1_FLOOR)
        return failed, {
            "triple_f1": round(f1, 6), "dedup_recall": recall, "false_drops": false_drops,
            "natural_drops": natural, "dedup_dropped": counts["ingest"] - counts["unique_docs"],
            "counts": counts,
        }

    def layers(self, log: trace.EventLog) -> dict[str, float]:
        tr = self.tracer
        runs = [i for i, s in enumerate(tr.spans) if s.name == "pipeline.run"]
        idx = runs[0]  # the cold pass: explains cold_cpu_s
        run = tr.spans[idx]
        out: dict[str, float] = {}
        kids = [tr.spans[i] for i in tr.children(idx)]

        def counters(spans):
            jobs = [j for s in spans for j in log.jobs_between(s.start, s.end)]
            return log.counters(jobs)

        lineage = [s for s in kids if s.name.split(":")[-1] in ("lineage", "metrics")]
        out["pipeline.lineage_s"] = sum(s.dur for s in lineage)
        out["pipeline.lineage_jobs"] = counters(lineage)["jobs"]
        for s in kids:
            if s.name.startswith("catalog.write:"):
                t = s.name.split(":", 1)[1]
                out[f"catalog.write_s.{t}"] = out.get(f"catalog.write_s.{t}", 0.0) + s.dur
                out[f"catalog.write_bytes.{t}"] = (
                    out.get(f"catalog.write_bytes.{t}", 0.0) + counters([s])["write_bytes"]
                )
        # stage S spans from the end of the previous stage's table write
        # to the end of its own; its plan is the operator calls in there
        prev_end = run.start
        for s in kids:
            if not s.name.startswith("catalog.write:"):
                continue
            stage = s.name.split(":", 1)[1]
            if stage not in metrics.STAGES and stage != "ingest":
                continue
            ops = [k for k in kids if not k.name.startswith("catalog.")
                   and prev_end <= k.start and k.end <= s.end]
            prev_end = s.end
            if stage == "ingest":
                continue
            c = counters(ops + [s])
            out[f"stage.{stage}.plan_s"] = sum(k.dur for k in ops)
            for name in ("exec_s", "jobs", "cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes"):
                out[f"stage.{stage}.{name}"] = c[name]
        out["dedup.recall"] = self.recall
        out["pipeline.other_s"] = tr.uncovered(idx)
        out["trace.uncovered_frac"] = tr.uncovered(idx) / run.dur
        return out


# -- stream_dedup ----------------------------------------------------------------
class StreamDedup(Workload):
    name = "stream_dedup"

    def setup(self) -> None:
        self.dir = inputs.derive_stream(self.cache, self.seed)
        self.probe = sorted((self.dir / "probe").glob("*.parquet"))
        self.dirs = inputs.restore_stream(self.cache)
        self.restored = True

    def run_pass(self) -> dict:
        from llm_information_extraction_spark.streaming import incremental_fuzzy_unique_documents

        if not self.restored:
            self.dirs = inputs.restore_stream(self.cache)
        self.restored = False
        d = self.dirs
        with self.span(f"pass:{self.name}"):
            t = time.time()
            with self.span("bench.land"):
                for f in self.probe:
                    tmp = Path(d["input"]) / f".{f.name}.tmp"
                    shutil.copyfile(f, tmp)
                    os.replace(tmp, Path(d["input"]) / f"probe-{f.name}")
            q = incremental_fuzzy_unique_documents(
                self.spark, d["input"], d["output"], d["checkpoint"], d["state"]
            )
            q.awaitTermination()
            dt = time.time() - t
        rec = {"s": dt, "progress": [json.loads(p.json) for p in q.recentProgress]}
        if self.tracer is not None:
            files = [p for p in Path(d["state"]).rglob("*") if p.is_file()]
            rec["state_files"] = len(files)
            rec["state_bytes"] = sum(p.stat().st_size for p in files)
        return rec

    def check(self) -> tuple[int, dict]:
        batch = Path(self.dirs["output"]) / f"batch_id={inputs.STREAM_HISTORY}"
        ids = pq.read_table(batch, columns=["doc_id"]).column(0).to_pylist() if batch.exists() else []
        kept = set(ids)
        truth = pq.read_table(self.dir / "truth.parquet").to_pylist()
        planted = [t for t in truth if t["role"] in inputs.DROP_ROLES]
        removed = sum(t["doc_id"] not in kept for t in planted)
        false_drops = sum(t["doc_id"] not in kept for t in truth if t["role"] in inputs.KEEP_ROLES)
        natural = sum(t["doc_id"] not in kept for t in truth if t["role"] == "fresh")
        unknown = len(kept - {t["doc_id"] for t in truth})
        recall = self.recall = removed / len(planted)
        ok = (batch.exists() and len(ids) == len(kept) and unknown == 0
              and recall == 1.0 and false_drops == 0)
        return int(not ok), {
            "dedup_recall": recall, "false_drops": false_drops, "natural_drops": natural,
            "duplicate_ids": len(ids) - len(kept), "unknown_ids": unknown, "kept": len(kept),
        }

    def layers(self, log: trace.EventLog) -> dict[str, float]:
        tr = self.tracer
        idx = self.pass_span()
        p = tr.spans[idx]
        cold = self.passes[0]
        out: dict[str, float] = {}
        starts = [tr.spans[i] for i in tr.children(idx)
                  if tr.spans[i].name == "incremental.incremental_fuzzy_unique_documents"]
        out["stream.start_s"] = sum(s.dur for s in starts)
        for k in metrics.STREAM_PROGRESS:
            out[f"stream.progress.{k}_ms"] = sum(
                pr.get("durationMs", {}).get(k, 0) for pr in cold["progress"]
            )
        c = log.counters(log.jobs_between(p.start, p.end))
        out["stream.jobs"] = c["jobs"]
        out["stream.cpu_s"] = c["cpu_s"]
        out["stream.shuffle_write_bytes"] = c["shuffle_write_bytes"]
        rows = log.rows_scanned(self.dirs["state"], p.start, p.end)
        out["stream.store_rows_read"] = rows
        out["stream.store_read_frac"] = rows / inputs.store_rows(self.cache)
        out["stream.state_bytes"] = cold["state_bytes"]
        out["stream.state_files"] = cold["state_files"]
        out["dedup.recall"] = self.recall
        out["trace.uncovered_frac"] = tr.uncovered(idx) / p.dur
        return out


# -- query_mix -------------------------------------------------------------------
class QueryMix(Workload):
    name = "query_mix"

    def setup(self) -> None:
        import __spark_entry__ as entry

        sys.path.insert(0, str(Path.cwd() / "tools"))
        import check_contract

        self.tables = check_contract.TABLES
        missing = [t for t in self.tables if not (SF_DIR / f"{t}.parquet").exists()]
        if missing:
            raise FileNotFoundError(f"query tables missing from {SF_DIR}: {missing}")
        self.queries = entry.queries()
        order = np.random.default_rng([self.seed, 3]).permutation(len(metrics.QUERIES))
        self.order = [metrics.QUERIES[i] for i in order]
        self.results: dict[str, object] = {}
        self.errors: dict[str, str] = {}

    def run_pass(self) -> dict:
        per, plan = {}, {}
        first = not self.passes
        with self.span(f"pass:{self.name}"):
            t_pass = time.time()
            for name in self.order:
                with self.span(f"query:{name}"):
                    t = time.time()
                    try:
                        df = self.queries[name](self.spark, str(SF_DIR))
                        plan[name] = time.time() - t
                        if first:
                            # the cold pass also collects the rows for the check
                            table = df.toArrow()
                        else:
                            df.write.format("noop").mode("overwrite").save()
                            table = None
                    except Exception as e:  # a failed query is a failed operation
                        self.errors.setdefault(name, f"{type(e).__name__}: {e}"[:300])
                        table = None
                    per[name] = time.time() - t
                if first and table is not None:
                    self.results[name] = table
            dt = time.time() - t_pass
        return {"s": dt, "per_query": per, "plan": plan}

    @property
    def ops_per_pass(self) -> int:
        return len(metrics.QUERIES)

    def check(self) -> tuple[int, dict]:
        import hashlib

        import __spark_entry__ as entry
        import check_contract

        oracles = entry.oracle_sql()
        key = hashlib.sha256(
            json.dumps([oracles[q] for q in metrics.QUERIES]).encode()
        ).hexdigest()[:16]
        cached = self.cache / f"oracle-{key}.json"
        if cached.exists():
            expect = json.loads(cached.read_text())
        else:
            import duckdb

            con = duckdb.connect()
            for t in self.tables:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
            expect = {}
            for q in metrics.QUERIES:
                cur = con.execute(oracles[q])
                cols = [d[0] for d in cur.description]
                rows = [dict(zip(cols, r)) for r in cur.fetchall()]
                expect[q] = [len(rows), sorted(cols), check_contract.value_hash(rows)]
            con.close()
            cached.write_text(json.dumps(expect))
        mismatched = {}
        for q in metrics.QUERIES:
            table = self.results.get(q)
            if table is None:
                continue
            rows = table.to_pylist()
            got = [len(rows), sorted(table.column_names), check_contract.value_hash(rows)]
            if got != expect[q]:
                mismatched[q] = {"got": got, "expected": expect[q]}
        return len(mismatched) + len(self.errors), {
            "mismatched": mismatched, "errors": self.errors, "order": self.order,
        }

    def layers(self, log: trace.EventLog) -> dict[str, float]:
        tr = self.tracer
        cold, warm = self.passes[0], self.passes[1]
        out: dict[str, float] = {}
        for q in metrics.QUERIES:
            out[f"q.{q}.cold_s"] = cold["per_query"].get(q, 0.0)
            out[f"q.{q}.wall_s"] = warm["per_query"].get(q, 0.0)
        out["query_mix.cold_plan_s"] = sum(cold["plan"].values())
        out["query_mix.plan_s"] = sum(warm["plan"].values())
        idx = self.pass_span()
        p = tr.spans[idx]
        out["query_mix.jobs"] = len(log.jobs_between(p.start, p.end))
        out["trace.uncovered_frac"] = tr.uncovered(idx) / p.dur
        return out


# -- stream_query ----------------------------------------------------------------
class StreamQuery(Workload):
    """One streaming dedup micro-batch, then the contract queries: two
    parts in one driver process, so that both fit the run budget."""

    name = "stream_query"

    def __init__(self, *args):
        super().__init__(*args)
        self.parts = [StreamDedup(*args), QueryMix(*args)]

    @property
    def ops_per_pass(self) -> int:
        return sum(p.ops_per_pass for p in self.parts)

    def setup(self) -> None:
        for p in self.parts:
            p.setup()

    def run_pass(self) -> dict:
        for p in self.parts:
            p.passes.append(p.run_pass())
        return {"s": sum(p.passes[-1]["s"] for p in self.parts)}

    def check(self) -> tuple[int, dict]:
        failed, details = 0, {}
        for p in self.parts:
            f, d = p.check()
            failed += f
            details[p.name] = d
        return failed, details

    def layers(self, log: trace.EventLog) -> dict[str, float]:
        out: dict[str, float] = {}
        spans = [self.tracer.spans[p.pass_span()] for p in self.parts]
        for p in self.parts:
            out.update(p.layers(log))
        # both parts' span-uncovered time over both parts' pass time
        out["trace.uncovered_frac"] = sum(
            self.tracer.uncovered(p.pass_span()) for p in self.parts
        ) / sum(s.dur for s in spans)
        return out


WORKLOADS = {"kg_build": KgBuild, "stream_query": StreamQuery}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--cache", required=True)
    ap.add_argument("--t0", type=float, required=True, help="process spawn time (epoch s)")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    cache = Path(args.cache).resolve()

    tracer = None
    extra_conf = None
    if args.trace:
        import __spark_entry__  # noqa: F401 - bind its imports before wrapping

        tracer = trace.Tracer()
        tracer.install()
        log_dir = cache / "work" / "eventlog"
        shutil.rmtree(log_dir, ignore_errors=True)
        log_dir.mkdir(parents=True)
        extra_conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    from llm_information_extraction_spark import session

    spark = session.get_spark(app_name=f"perfbench-{args.workload}", extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.time() - args.t0

    wl = WORKLOADS[args.workload](spark, cache, args.seed, tracer)
    wl.setup()
    setup_s = time.time() - args.t0
    setup_cpu_s = procs.tree_cpu_s()  # this process and its children started at t0

    def timed_pass() -> None:
        cpu = procs.tree_cpu_s()
        wl.passes.append(wl.run_pass())
        wl.passes[-1]["cpu_s"] = procs.tree_cpu_s() - cpu

    try:
        t_measure = time.time()
        timed_pass()  # cold
        if args.trace:
            timed_pass()  # warm, traced
            tracer.enabled = False
            timed_pass()  # warm, untraced
            tracer.enabled = True
        else:
            while time.time() - t_measure < args.seconds:
                timed_pass()  # warm
    except Exception as e:  # the run reports a failed operation, not a crash
        import traceback

        traceback.print_exc()
        failed, details = 1, {"error": f"{type(e).__name__}: {e}"[:500]}
    else:
        failed, details = wl.check()
    attempted = max(len(wl.passes), 1) * wl.ops_per_pass

    result = {
        "session_s": session_s,
        "setup_s": setup_s,
        "setup_cpu_s": setup_cpu_s,
        "pass_s": [p["s"] for p in wl.passes],
        "pass_cpu_s": [p.get("cpu_s") for p in wl.passes],
        "attempted": attempted,
        "failed": failed,
        "details": details,
    }
    spark.stop()
    if args.trace and len(wl.passes) == 3:
        log = trace.EventLog(trace.find_event_log(cache / "work" / "eventlog"))
        layers = {name: 0.0 for name, *_ in metrics.PER_LAYER}
        layers.update(wl.layers(log))
        layers["session.start_s"] = session_s
        layers["pass.warm_s"] = wl.passes[1]["s"]
        layers["pass.cold_s"] = wl.passes[0]["s"]
        layers["trace.overhead_s"] = wl.passes[1]["s"] - wl.passes[2]["s"]
        result["layers"] = layers
        tracer.dump(cache / "work" / "spans.json")
    Path(args.out).write_text(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
