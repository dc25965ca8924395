"""Canonicalization: connected components over the alias-similarity graph.

The reference's canonical maps (evaluation_gpt4_vs_gpt5.py:99-127) are a
hand-maintained union-find: alias → canonical. At corpus scale the same
structure is the transitive closure of the alias edge list (gazetteer
surface → canonical edges), i.e. connected components. We compute them
with the **large-star / small-star** alternating DataFrame-join algorithm
(Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14
— a published public algorithm), which converges in O(log² n) rounds and
needs only groupBy/join primitives:

- large-star: every node connects its *larger* neighbors to its current
  minimum neighbor;
- small-star: every node connects its *smaller-or-equal* neighbors to the
  minimum.

Each round is one shuffle; ``localCheckpoint`` truncates the lineage so
the plan doesn't grow across iterations (SURVEY §4 requirement). Node ids
are strings; ordering is lexicographic, so the component representative
is the lexicographically smallest member, which is deterministic.
:func:`connected_components` serves the dedup groupings. The gazetteer's
alias graph is package data of a few hundred rows, so the ``entities``
table (:func:`entity_rows`) runs the same min-root union-find on the
driver that CC's small-graph fast path runs.
"""

from __future__ import annotations

from collections import Counter

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import vocab
from ..session import local_frame

_CC_SCHEMA = "node string, component string"

#: a graph with at most this many DISTINCT edges is solved by the driver
#: union-find; tests set it to 0 to pin the distributed path
_LOCAL_CC_EDGES = 100_000
#: star-contraction round cap of the distributed path
_MAX_CC_ITERATIONS = 20


def _ensure_checkpoint_dir(sc, checkpoint_dir: str) -> None:
    """Point the context's reliable-checkpoint directory at
    ``checkpoint_dir`` unless it already is.

    ``setCheckpointDir`` is CONTEXT-WIDE state: every job sharing the
    SparkContext checkpoints under the new directory for the rest of its
    lifetime. Callers (CC, PageRank) accept that — the docstrings say
    so — but repeated calls with the same path must not keep re-pointing
    it: Spark materializes a fresh UUID subdirectory per call, so the
    check compares the requested path against the PARENT of the current
    (qualified) checkpoint dir. The requested path is fully QUALIFIED
    through the Hadoop FileSystem first (scheme + authority), so the
    same path string on a different filesystem — ``/x`` local vs
    ``hdfs:///x`` — is correctly treated as different and re-pointed.
    """
    cur = sc.getCheckpointDir()  # e.g. 'file:/x/y/<uuid>' or None
    if cur is not None:
        jvm = sc._jvm
        want_p = jvm.org.apache.hadoop.fs.Path(checkpoint_dir)
        want_q = str(
            want_p.getFileSystem(sc._jsc.hadoopConfiguration()).makeQualified(
                want_p
            )
        )
        parent = cur.rstrip("/").rsplit("/", 1)[0]
        if parent.rstrip("/") == want_q.rstrip("/"):
            return
    sc.setCheckpointDir(checkpoint_dir)


def _canonical_edges(edges: DataFrame) -> DataFrame:
    """Undirected, deduped, self-loop-free (src < dst) edge list."""
    e = edges.select(
        F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
    )
    return e.filter(F.col("src") != F.col("dst")).dropDuplicates()


def _edge_stats(e: DataFrame) -> tuple:
    """(count, order-independent checksum) of the edge set — one job.

    Equal stats between rounds ⟺ the edge set is stable (up to a ~2⁻⁶⁴
    checksum collision; the alternation is monotone, so a collision
    would only end one round early on an already-star-shaped graph).
    Replaces the two ``exceptAll().limit(1).count()`` jobs per round the
    round-1 convergence check ran.
    """
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        # decimal(38,0) sum: order-independent and overflow-free under
        # ANSI mode (a plain long sum of 2⁶³-scale hashes overflows)
        F.coalesce(
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("chk"),
    ).first()
    return (row["n"], row["chk"])


def _checkpoint(df: DataFrame, checkpoint_dir: str | None) -> DataFrame:
    """Materialize ``df`` and truncate its lineage: reliable
    ``checkpoint()`` when ``checkpoint_dir`` is set (the caller points
    the context at it with :func:`_ensure_checkpoint_dir`), else
    ``localCheckpoint()``. Free the result with :func:`_release`."""
    if checkpoint_dir is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def _release(df: DataFrame) -> None:
    """Free the blocks behind ``df``, a frame made by ``cache()`` /
    ``persist()`` or by ``localCheckpoint()`` / ``checkpoint()``.

    ``DataFrame.unpersist()`` reaches only the first kind: a checkpoint
    is a ``LogicalRDD`` over an RDD persisted outside the cache manager,
    and its blocks stay in the block manager for the session's life
    unless that RDD itself is unpersisted. A frame derived from ``df``
    fails once its checkpoint blocks are freed, so release only frames
    nothing reads any more."""
    df.unpersist()
    plan = df._jdf.queryExecution().logical()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(False)


def _union_find(pairs) -> dict:
    """node → min node id of its component, over ``(a, b)`` pairs of
    comparable node ids (strings, or :func:`entity_rows`' (field, alias)
    tuples). Min-root union keeps every set's root at its smallest node
    id, the component id the distributed large-star/small-star loop
    converges to. A self-pair just registers its node."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {n: find(n) for n in parent}


def _local_components(spark, edges: pa.Table) -> DataFrame:
    """Driver-side :func:`_union_find` over a BOUNDED ``(src, dst)`` Arrow
    table (the small-graph fast path of :func:`connected_components`):
    (node, component = min id in the component), identical to the
    distributed result."""
    comp = _union_find(
        zip(edges.column("src").to_pylist(), edges.column("dst").to_pylist())
    )
    comps = pa.table({
        "node": pa.array(list(comp), pa.string()),
        "component": pa.array(list(comp.values()), pa.string()),
    })
    return local_frame(spark, comps, _CC_SCHEMA)


def connected_components(
    edges: DataFrame,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """edges(src string, dst string) → (node string, component string).

    component = min node id in the component. Isolated nodes (no edges)
    are the caller's concern — join the result back with a coalesce.

    A graph with at most ``_LOCAL_CC_EDGES`` DISTINCT edges is solved by
    driver-side union-find instead of the iterative star-contraction
    loop (at most ``_MAX_CC_ITERATIONS`` rounds). Each distributed round
    costs several shuffles plus a checkpoint, which only pays off on
    graphs too big to hold in driver memory; below the threshold (100k
    edges ≈ a few MB of short ids — broadcast-build scale, not a corpus
    collect) the local path returns identical components in
    milliseconds. The check
    is a bounded ``limit(threshold+1)`` read of the already-materialized
    canonical edge set, so huge graphs pay one short-circuiting scan,
    not a count. An empty graph always takes the local path; at 0 every
    other graph iterates (tests use that to pin the distributed path).

    The call keeps none of its checkpoints on the local path, and only
    the last round's on the distributed path: the returned frame reads
    it, so its blocks live as long as that frame (Spark's context
    cleaner frees them once the frame is garbage-collected).

    ``checkpoint_dir``: when set (a cluster-visible path, e.g. HDFS/S3),
    per-round lineage truncation uses reliable ``checkpoint()`` instead of
    ``localCheckpoint()`` — local checkpoint blocks die with their
    executor, so on a multi-hour CC run one lost executor would restart
    the whole loop. Local (the default) is right for single-node runs.
    NOTE: setting it re-points the SparkContext's checkpoint directory,
    which is CONTEXT-WIDE — other jobs on the shared context checkpoint
    there afterwards (skipped when the context already points at the
    requested path).
    """
    if checkpoint_dir is not None:
        _ensure_checkpoint_dir(
            edges.sparkSession.sparkContext, checkpoint_dir
        )

    e = _checkpoint(_canonical_edges(edges), checkpoint_dir)
    # ONE bounded read decides empty/local/distributed: an empty head IS
    # the empty check
    head = e.limit(_LOCAL_CC_EDGES + 1).toArrow()
    if head.num_rows <= _LOCAL_CC_EDGES:
        # the checkpointed edge blocks have no reader after this
        # point — release them now (streaming dedup calls CC every
        # micro-batch; waiting for driver GC would accumulate one
        # materialized edge set per batch in the block manager)
        _release(e)
        return _local_components(edges.sparkSession, head)

    prev_stats = _edge_stats(e)
    for _ in range(_MAX_CC_ITERATIONS):
        # -- large-star ----------------------------------------------------
        # neighborhoods in both directions
        nbrs = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        mins = nbrs.groupBy("src").agg(F.min("dst").alias("m"))
        mins = mins.withColumn("m", F.least("src", "m"))
        large = (
            nbrs.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))  # larger neighbors only
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )
        e1 = _canonical_edges(large.union(e))

        # -- small-star ----------------------------------------------------
        nbrs = e1.union(
            e1.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        mins = nbrs.groupBy("src").agg(F.min("dst").alias("m"))
        mins = mins.withColumn("m", F.least("src", "m"))
        small = (
            nbrs.join(mins, "src")
            .filter(F.col("dst") <= F.col("src"))  # smaller-or-equal neighbors
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )
        e2 = _checkpoint(_canonical_edges(small.union(e1)), checkpoint_dir)

        # converged when the edge set is a star forest pointing at minima
        # (stable between rounds) — one aggregate job, not two exceptAlls
        cur_stats = _edge_stats(e2)
        # e2 is materialized: the previous round's checkpoint blocks are
        # dead weight — release them or k iterations hold k edge-set
        # copies in the block manager (OOMs large graphs in local mode)
        _release(e)
        e = e2
        if cur_stats == prev_stats:
            break
        prev_stats = cur_stats

    # after convergence every edge is (member, component-min)
    nodes = e.select(F.col("dst").alias("node")).union(
        e.select(F.col("src").alias("node"))
    ).distinct()
    comp = e.union(e.select("dst", "src")).groupBy(F.col("src").alias("node")).agg(
        F.min("dst").alias("component")
    )
    return (
        nodes.join(comp, "node", "left")
        .select(
            "node",
            F.least(F.coalesce("component", "node"), F.col("node")).alias("component"),
        )
    )


def resolve_entity_ids(
    triples: DataFrame, entities: DataFrame
) -> DataFrame:
    """Rewrite triple objects to entity ids (graph materialization step,
    SURVEY §2.7): join canonical object → entities(entity_id) per field.

    Non-vocabulary predicates (yes/no fields, free-text comparisons) keep
    their object as-is with a null entity_id. Broadcast join — entities
    is a dimension.
    """
    dim = F.broadcast(
        entities.select(
            F.col("field").alias("pred"),
            F.col("canonical").alias("__canon"),
            F.col("entity_id"),
        ).dropDuplicates(["pred", "__canon"])
    )
    return (
        triples.join(
            dim,
            (triples["pred"] == dim["pred"]) & (triples["obj"] == dim["__canon"]),
            "left",
        )
        .select(triples["doc_id"], triples["pred"], triples["obj"], "entity_id")
    )


#: schema of the ``entities`` table :func:`entity_rows` fills
ENTITY_SCHEMA = (
    "entity_id string, field string, canonical string, "
    "aliases array<string>, n_aliases int"
)


def entity_rows(
    gazetteer_rows: list[tuple[str, str, str]],
) -> list[tuple[str, str, str, list[str], int]]:
    """The ``entities`` table, in :data:`ENTITY_SCHEMA` column order,
    from ``(field, surface, canonical)`` alias rows (each row is an edge
    surface↔canonical), sorted by (field, entity_id).

    Per field (tract aliases never merge with disease aliases), the
    connected components of the alias edges (:func:`_union_find`) are
    the entities: entity_id = the component's lexicographically smallest
    alias, aliases = its sorted members, canonical = the arg-max over
    (votes, value) of the canonicals its rows name, one vote per row.
    The entity table is a pure function of the gazetteer, so it is built
    here on the driver and enters Spark through :func:`entities_df`.
    """
    comp = _union_find(
        ((f, s), (f, c)) for f, s, c in gazetteer_rows
    )
    members: dict[tuple, list[str]] = {}
    for (field, alias), (_, root) in comp.items():
        members.setdefault((field, root), []).append(alias)
    votes: dict[tuple, Counter] = {}
    for field, surface, canonical in gazetteer_rows:
        votes.setdefault((field, comp[(field, surface)][1]), Counter())[
            canonical
        ] += 1
    out = []
    for (field, entity_id), aliases in sorted(members.items()):
        vote = votes.get((field, entity_id))
        canonical = (
            max(vote.items(), key=lambda kv: (kv[1], kv[0]))[0]
            if vote
            else entity_id
        )
        out.append(
            (entity_id, field, canonical, sorted(aliases), len(aliases))
        )
    return out


def entities_df(spark) -> DataFrame:
    """The ``entities`` table of the package gazetteer: :func:`entity_rows`
    of ``vocab.gazetteer_rows()`` as a ``LocalTableScan``."""
    return local_frame(spark, entity_rows(vocab.gazetteer_rows()), ENTITY_SCHEMA)
