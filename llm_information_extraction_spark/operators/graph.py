"""Graph analytics over the materialized KG (SURVEY §2.7 extension).

Once extraction has produced the long-form ``(doc_id, pred, obj)``
triples table, the knowledge-graph EDGES between entity mentions are
plain relational algebra — co-occurrence within a document is a
doc-keyed self-join plus a count, which Spark executes as one shuffle
with map-side partial aggregation. No graph library needed; at 100 TB
the doc-keyed join partitions evenly because documents are the natural
sharding unit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def co_mention_edges(
    mentions: DataFrame, pred_a: str, pred_b: str
) -> DataFrame:
    """Edges between objects of two predicates co-occurring in a doc.

    Returns (obj_a, obj_b, n_docs) — e.g. disease ↔ tract co-mention
    counts, the adjacency the reference's downstream analyses plot.
    Self-pairs are excluded when pred_a == pred_b; each doc contributes
    at most once per (obj_a, obj_b) pair.
    """
    a = (
        mentions.filter(F.col("pred") == pred_a)
        .select("doc_id", F.col("obj").alias("obj_a"))
        .distinct()
    )
    b = (
        mentions.filter(F.col("pred") == pred_b)
        .select("doc_id", F.col("obj").alias("obj_b"))
        .distinct()
    )
    pairs = a.join(b, "doc_id")
    if pred_a == pred_b:
        pairs = pairs.filter(F.col("obj_a") < F.col("obj_b"))
    return pairs.groupBy("obj_a", "obj_b").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


def predicate_object_degrees(mentions: DataFrame) -> DataFrame:
    """Node degrees of the KG: per (pred, obj), in how many documents it
    appears — the fan-out statistic that decides broadcast vs shuffle
    strategies (and salting) for downstream joins against the graph."""
    return (
        mentions.select("pred", "obj", "doc_id")
        .distinct()
        .groupBy("pred", "obj")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    fixed_point: bool = False,
    checkpoint_every: int = 5,
    checkpoint_dir: str | None = None,
    tol: float | None = None,
) -> DataFrame:
    """PageRank by DataFrame power iteration — entity importance over
    the materialized KG (edges(src, dst), directed, duplicates ignored).

    Each iteration is ONE shuffle (contribution aggregation keyed by
    dst) plus a broadcast of the two scalar terms (dangling mass and
    node count); lineage is truncated every ``checkpoint_every``
    iterations so tens of iterations don't grow the plan. Each
    checkpoint is freed once a newer one is materialized, so the call
    keeps only the one its result reads.
    Dangling-node mass is redistributed uniformly.

    ``checkpoint_dir``: when set (a cluster-visible path, e.g. HDFS/S3),
    lineage truncation uses reliable ``checkpoint()`` instead of
    ``localCheckpoint()`` — local checkpoint blocks die with their
    executor, so on a multi-hour 100×-scale run one lost executor would
    restart the loop from iteration 0. Same contract (and the same
    context-wide ``setCheckpointDir`` note) as
    ``canonicalize.connected_components``.

    ``tol``: optional early stop — iteration ends when the L1 rank
    change Σ|r_new − r_old| drops below ``tol`` (total mass is 1, so
    tol is an absolute fraction). Costs one extra 1-row aggregate per
    iteration and forces a per-iteration materialization, so leave it
    None for short fixed-iteration runs (the driver contract pins
    exactly 5 iterations); set it for open-ended convergence runs where
    saved iterations dwarf the per-iteration delta job.

    ``fixed_point=True`` computes in integer nano-rank units (total mass
    10⁹) with floor division everywhere: per-node shares, contributions
    and the damping blend are exact long arithmetic, so the result is
    BIT-DETERMINISTIC regardless of partitioning, summation order, or
    engine — that is what lets the driver value-check a fixed-iteration
    run against a DuckDB replication (the contract query replays 5
    iterations), and what makes distributed regression runs
    reproducible. The default double mode is the conventional
    formulation (values differ from fixed-point by < 1e-6 relative).
    Damping is quantized to exact per-mille in this mode; a damping that
    isn't a multiple of 0.001 warns (the <1e-6 double-mode agreement
    doesn't hold for it).

    Returns (node, rank double) or (node, rank_nano long).
    """
    from .canonicalize import _checkpoint, _ensure_checkpoint_dir, _release

    if checkpoint_dir is not None:
        _ensure_checkpoint_dir(
            edges.sparkSession.sparkContext, checkpoint_dir
        )

    e = edges.select(
        F.col("src").cast("string").alias("src"),
        F.col("dst").cast("string").alias("dst"),
    ).dropDuplicates()
    nodes = _checkpoint(
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct(),
        checkpoint_dir,
    )
    n = nodes.count()
    if n == 0:  # the node set backs the result: keep it
        return nodes.select(
            "node",
            (F.lit(0).cast("long") if fixed_point else F.lit(0.0)).alias(
                "rank_nano" if fixed_point else "rank"
            ),
        )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # dmill: damping in exact per-mille so the fixed-point blend is
    # integer; double mode uses the float damping directly
    dmill = int(round(damping * 1000))
    if fixed_point and abs(dmill / 1000.0 - damping) > 1e-12:
        import warnings

        warnings.warn(
            f"fixed_point mode quantizes damping to per-mille: requested "
            f"{damping}, running at {dmill / 1000.0} — the documented "
            f"<1e-6 agreement with double mode does not hold",
            stacklevel=2,
        )

    if fixed_point:
        total = 10**9
        ranks = nodes.select(
            "node", F.lit(total // n).cast("long").alias("r")
        )
    else:
        ranks = nodes.select("node", F.lit(1.0 / n).alias("r"))

    last = None  # the newest rank checkpoint
    for it in range(iterations):
        with_deg = ranks.join(
            outdeg, ranks["node"] == outdeg["src"], "left"
        ).select(ranks["node"], "r", "deg")
        # dangling mass stays IN the plan as a broadcast 1-row scalar —
        # a driver-side fetch would add a blocking job per iteration
        zero = F.lit(0).cast("long") if fixed_point else F.lit(0.0)
        dang_df = with_deg.filter(F.col("deg").isNull()).agg(
            F.coalesce(F.sum("r"), zero).alias("dang")
        )
        share = (
            F.expr("r div deg") if fixed_point else F.col("r") / F.col("deg")
        )
        contribs = (
            with_deg.filter(F.col("deg").isNotNull())
            .select("node", share.alias("share"))
            .join(e, F.col("node") == e["src"])
            .groupBy("dst")
            .agg(F.sum("share").alias("c"))
        )
        joined = nodes.join(
            contribs, nodes["node"] == contribs["dst"], "left"
        ).crossJoin(F.broadcast(dang_df))
        if fixed_point:
            # integer blend, exact: base + (dmill*(contrib + dang/n)) div 1000
            base = (1000 - dmill) * (total // n) // 1000
            newr = F.expr(
                f"{base}L + ({dmill}L * (coalesce(c, 0L) + (dang div {n}L)))"
                " div 1000"
            ).cast("long")
        else:
            newr = (
                F.lit((1.0 - damping) / n)
                + F.lit(damping)
                * (F.coalesce(F.col("c"), F.lit(0.0)) + F.col("dang") / n)
            )
        prev = ranks
        ranks = joined.select("node", newr.alias("r"))
        if (
            tol is None
            and (it + 1) % checkpoint_every
            and it < iterations - 1
        ):
            continue  # no lineage cut this iteration
        ranks = _checkpoint(ranks, checkpoint_dir)
        delta = None
        if tol is not None:
            # one 1-row aggregate per iteration: L1 change of the rank
            # vector (both sides are materialized, so no recompute)
            delta = (
                ranks.select("node", F.col("r").alias("r_new"))
                .join(
                    prev.select("node", F.col("r").alias("r_old")), "node"
                )
                .agg(
                    F.sum(F.abs(F.col("r_new") - F.col("r_old"))).alias("d")
                )
                .first()["d"]
            )
        # ranks is materialized (and the delta read prev, the previous
        # checkpoint under tol): the older checkpoint has no reader, or
        # k checkpoints would hold k rank vectors in the block manager
        if last is not None:
            _release(last)
        last = ranks
        scale = 10**9 if fixed_point else 1.0
        if delta is not None and float(delta) / scale < tol:
            break
    if last is not None:
        # the last iteration always checkpoints, so the result no longer
        # reads the node set
        _release(nodes)
    out_name = "rank_nano" if fixed_point else "rank"
    return ranks.select("node", F.col("r").alias(out_name))
