"""Metric names, units and what each per-layer metric should move.

``BENCHMARK.json`` lists the same names; ``test_perfbench.py`` keeps
the two in step.  A per-layer metric a workload does not exercise reads
0 on that workload (no time, jobs or bytes were spent in that layer).
"""

from __future__ import annotations

WORKLOADS = ("kg_build", "stream_query")

#: contract queries (bench.py HEADLINE), one per operator layer that
#: neither the pipeline nor the stream reaches: TPC-H join, evaluation,
#: textprep, similarity, multimodal, stateful
QUERIES = (
    "orders_customer_join", "multilabel_micro", "token_count_docs", "cosine_topk_emb",
    "media_features", "user_sessions",
)

#: end-to-end: (name, unit, better, bound).  Both are CPU time of the
#: driver process tree (driver JVM plus Python workers): ``setup_s`` from
#: process start until the session is up and the inputs are opened,
#: ``cold_cpu_s`` for the first pass in a fresh process, as a
#: spark-submit user pays it.  Their wall times move with CPU steal on a
#: shared host (a fifth between two sets of runs) and are the per-layer
#: ``session.start_s`` and ``pass.cold_s``
E2E = (
    ("setup_s", "s", "lower", 0.25),
    ("cold_cpu_s", "s", "lower", 0.25),
)

KG_TABLES = ("ingest", "unique_docs", "mentions", "triples", "entities", "lineage", "metrics")
STAGES = ("unique_docs", "mentions", "triples", "entities")
STAGE_COUNTERS = (
    ("plan_s", "s"), ("exec_s", "s"), ("jobs", "count"), ("cpu_s", "s"), ("gc_s", "s"),
    ("shuffle_write_bytes", "B"), ("spill_bytes", "B"),
)
STREAM_PROGRESS = ("triggerExecution", "addBatch", "queryPlanning", "getBatch",
                   "latestOffset", "walCommit")


def _per_layer() -> list[tuple[str, str, str, str]]:
    """(name, unit, better, which end-to-end metric on which workload it
    should move)."""
    kg = "cold_cpu_s on kg_build"
    st = qm = "cold_cpu_s on stream_query"
    warm = "none: the warm pass of the queries in a traced stream_query run"
    out = [("session.start_s", "s", "lower", "setup_s on every workload")]
    for t in KG_TABLES:
        out.append((f"catalog.write_s.{t}", "s", "lower", kg + "; no change on stream_query"))
    for t in KG_TABLES:
        out.append((f"catalog.write_bytes.{t}", "B", "lower", kg))
    out += [
        ("pipeline.lineage_s", "s", "lower", kg),
        ("pipeline.lineage_jobs", "count", "lower", kg),
        ("pipeline.other_s", "s", "lower", kg),
    ]
    for stage in STAGES:
        for counter, unit in STAGE_COUNTERS:
            out.append((f"stage.{stage}.{counter}", unit, "lower", kg))
    out.append(("dedup.recall", "ratio", "higher", "none: must stay 1.0 on both workloads "
                "(a lower value fails the run)"))
    out.append(("stream.start_s", "s", "lower", st + "; no change on kg_build"))
    for k in STREAM_PROGRESS:
        out.append((f"stream.progress.{k}_ms", "ms", "lower", st))
    out += [
        ("stream.jobs", "count", "lower", st),
        ("stream.cpu_s", "s", "lower", st),
        ("stream.shuffle_write_bytes", "B", "lower", st),
        ("stream.store_rows_read", "count", "lower", st),
        ("stream.store_read_frac", "ratio", "lower", st),
        ("stream.state_bytes", "B", "lower", st),
        ("stream.state_files", "count", "lower", st),
    ]
    for q in QUERIES:
        out.append((f"q.{q}.wall_s", "s", "lower", warm))
        out.append((f"q.{q}.cold_s", "s", "lower", qm))
    out += [
        ("query_mix.plan_s", "s", "lower", warm),
        ("query_mix.cold_plan_s", "s", "lower", qm),
        ("query_mix.jobs", "count", "lower", qm),
        ("pass.cold_s", "s", "lower", "none: wall time of the cold pass"),
        ("pass.warm_s", "s", "lower", "none: a traced warm pass, the share of the cold pass "
         "that is not start-up cost"),
        ("mem.peak_rss_mb", "MB", "lower", "none: host fit"),
        ("trace.overhead_s", "s", "lower", "none: tracing cost"),
        ("trace.uncovered_frac", "ratio", "lower", "none: span coverage"),
    ]
    return out


PER_LAYER = tuple(_per_layer())
