"""Similarity search and near-dup pairs over embedding columns
(array<float> / array<double>).

Every cosine here, and in the streaming embedding dedup, comes from
ONE float64 numpy scorer: ``dot / (‖a‖·‖b‖)``, where a null or
zero-norm vector scores 0.0. :func:`_cosine_matrix` scores a block of
rows against a block of queries (one BLAS product);
:func:`_cosine_rows` scores aligned pair rows. Spark reaches the scorer
through two ``mapInPandas`` wrappers:

- :func:`_topk_candidates` — per-partition, tie-safe top-k candidates
  for a collected query set held as per-cell query matrices; the
  caller then ranks the candidates exactly. :func:`cosine_topk` and
  :func:`ivf_topk` are its one-query case; :func:`cosine_topk_join`
  and the broadcast shape of :func:`ivf_topk_join` its many-query case.
- :func:`_pair_cosines` — a ``cosine`` column for rows that were
  already joined: the shuffle shape of :func:`ivf_topk_join`, the
  :func:`rp_lsh_near_dup_pairs` verify and the streaming embedding
  verifies. Each join keeps its shape; memory is bounded by the Arrow
  batch.

:func:`embedding_near_dup_pairs_blocked` calls the matrix form once per
block pair. :func:`rp_lsh_buckets` is random-hyperplane (sign) LSH over
a seeded deterministic pseudo-random matrix, so bucketing needs no
driver-side randomness and is reproducible across runs
(Charikar'02 SimHash-for-cosine).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DataType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

#: ivf_topk_join collects its queries and broadcasts the probe set
#: (queries × n_probe rows) up to this size; above it, index and probes
#: are repartitioned by cell and joined
_BROADCAST_PROBE_ROWS = 100_000


def _as_double_array(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def _has_norm(col: Column | str) -> Column:
    """True for a vector with a nonzero element. A null or zero-norm
    vector scores 0.0 against everything, so it can never clear a
    positive threshold: candidate joins leave such rows out."""
    return F.exists(_as_double_array(col), lambda x: x != 0)


def _matrix(vecs) -> np.ndarray:
    """float64 (n, dim) matrix of a sequence of vectors; a null vector
    becomes a zero row, which the scorer scores 0.0."""
    vecs = list(vecs)
    dim = next((len(v) for v in vecs if v is not None), 0)
    zero = np.zeros(dim)
    return np.asarray(
        [zero if v is None else v for v in vecs], dtype=np.float64
    ).reshape(len(vecs), dim)


def _norms(m: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Row norms with zeros replaced by 1.0, and the zero-norm mask."""
    n = np.linalg.norm(m, axis=1)
    zero = n == 0.0
    n[zero] = 1.0
    return n, zero


def _cosine_matrix(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(len(a), len(b)) cosines of every row of ``a`` against every row
    of ``b``: ``dot / (‖a‖·‖b‖)``; a zero-norm row scores 0.0."""
    if not (a.shape[1] and b.shape[1]):  # one side holds only nulls
        return np.zeros((len(a), len(b)))
    na, za = _norms(a)
    nb, zb = _norms(b)
    s = (a @ b.T) / (na[:, None] * nb[None, :])
    s[za, :] = 0.0
    s[:, zb] = 0.0
    return s


def _cosine_rows(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Cosine of each aligned row pair ``(a[i], b[i])``: the arithmetic
    of :func:`_cosine_matrix`, one dot per row."""
    if not (a.shape[1] and b.shape[1]):
        return np.zeros(len(a))
    na, za = _norms(a)
    nb, zb = _norms(b)
    s = np.einsum("ij,ij->i", a, b) / (na * nb)
    s[za | zb] = 0.0
    return s


def _topk(scores: np.ndarray, ids: np.ndarray, k: int) -> np.ndarray:
    """Positions of the top ``k`` scores under (score desc, id asc).

    Tie-safe: every row at or above the k-th score is kept before the
    (score, id) order truncates, so the kept set holds the global top-k
    whatever the partitioning.
    """
    n = len(scores)
    if n > k:
        thr = np.partition(scores, n - k)[n - k]
        cand = np.nonzero(scores >= thr)[0]
    else:
        cand = np.arange(n)
    return cand[np.lexsort((ids[cand], -scores[cand]))][:k]


def _topk_candidates(
    items: DataFrame, probes: list, query_type: DataType, k: int
) -> DataFrame:
    """(query_id, id, cosine) rows holding every query's exact top-``k``
    items under (cosine desc, id asc).

    ``items`` is (cell, id, v); ``probes`` is a driver-side list of
    (query_id, cell, vector), one entry per cell a query probes. The
    probes become one dense query matrix per cell, carried in the
    kernel's closure (PySpark broadcasts a closure above 1 MB itself).
    Each Arrow batch of an item partition is scored per cell with one
    :func:`_cosine_matrix` product and emits only each query's
    :func:`_topk` rows, so about partitions·queries·k candidates reach
    the caller's exact rank instead of |items|·queries scored rows.
    """
    out_schema = StructType(
        [
            StructField("query_id", query_type, True),
            StructField("id", items.schema["id"].dataType, True),
            StructField("cosine", DoubleType(), True),
        ]
    )
    by_cell: dict = {}
    for qid, cell, vec in probes:
        by_cell.setdefault(cell, []).append((qid, vec))
    mats = {
        cell: ([qid for qid, _ in qs], _matrix(v for _, v in qs))
        for cell, qs in by_cell.items()
    }

    def score(batches):
        for pdf in batches:
            out_q: list = []
            out_i: list = []
            out_c: list = []
            for cell, grp in pdf.groupby("cell", sort=False):
                if cell not in mats:
                    continue
                qids, qm = mats[cell]
                ids = grp["id"].to_numpy()
                sims = _cosine_matrix(_matrix(grp["v"]), qm)
                for j, qid in enumerate(qids):
                    sel = _topk(sims[:, j], ids, k)
                    out_q.extend([qid] * len(sel))
                    out_i.extend(ids[sel])
                    out_c.extend(sims[sel, j])
            yield pd.DataFrame(
                {"query_id": out_q, "id": out_i, "cosine": out_c}
            )

    return items.mapInPandas(score, schema=out_schema)


def _pair_cosines(
    pairs: DataFrame, a: str, b: str, *keep: Column | str
) -> DataFrame:
    """(*keep, cosine) for each row of ``pairs``, an already-joined
    frame: the cosine of its vector columns ``a`` and ``b``
    (:func:`_cosine_rows`, one Arrow batch at a time). Rows are not
    regrouped, so a hot join key costs rows, never an n×n matrix."""
    src = pairs.select(*keep, F.col(a).alias("_a"), F.col(b).alias("_b"))
    out_schema = StructType(
        src.schema.fields[:-2] + [StructField("cosine", DoubleType(), True)]
    )

    def score(batches):
        for pdf in batches:
            yield pdf.iloc[:, :-2].assign(
                cosine=_cosine_rows(_matrix(pdf["_a"]), _matrix(pdf["_b"]))
            )

    return src.mapInPandas(score, schema=out_schema)


def _rank(scored: DataFrame, k: int) -> DataFrame:
    """Exact per-query top-``k``: (query_id, id, cosine, rank)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def cosine_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k rows by cosine similarity to ``query``.

    Returns (id, cosine) ordered desc, deterministic tiebreak by id: the
    one-query case of :func:`_topk_candidates` (one BLAS matvec per
    Arrow batch), then the exact global ``orderBy(...).limit(k)``
    (TakeOrderedAndProject — per-partition heaps, no full sort).
    """
    items = df.select(
        F.lit(0).alias("cell"),
        F.col(id_col).alias("id"),
        _as_double_array(vec_col).alias("v"),
    )
    return (
        _topk_candidates(items, [(0, 0, query)], IntegerType(), k)
        .select("id", "cosine")
        .orderBy(F.col("cosine").desc(), F.col("id").asc())
        .limit(k)
    )


def cosine_topk_join(
    items: DataFrame,
    queries: DataFrame,
    k: int = 10,
    item_id: str = "vec_id",
    item_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "embedding",
) -> DataFrame:
    """For every query row, its exact top-k items by cosine.

    The query set must be small: it is collected once and scored
    against every item partition by :func:`_topk_candidates`, then each
    query's candidates are ranked by a (cosine desc, id asc) window.
    Returns (query_id, id, cosine, rank).
    """
    q = queries.select(
        F.col(query_id).alias("query_id"),
        _as_double_array(query_vec).alias("q_vec"),
    )
    probes = [(r["query_id"], 0, r["q_vec"]) for r in q.collect()]
    src = items.select(
        F.lit(0).alias("cell"),
        F.col(item_id).alias("id"),
        _as_double_array(item_vec).alias("v"),
    )
    return _rank(
        _topk_candidates(src, probes, q.schema["query_id"].dataType, k), k
    )


def _seeded_hyperplane(dim: int, plane: int, seed: int) -> Column:
    """Deterministic pseudo-random hyperplane as a literal array.

    Components derive from a splitmix-style integer hash of
    (seed, plane, i) mapped to [-1, 1] — identical on every executor
    without shipping numpy state.
    """

    def h(i: int) -> float:
        x = (seed * 0x9E3779B97F4A7C15 + plane * 0xBF58476D1CE4E5B9 + i * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 30
        x = (x * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 27
        return (x / 2**64) * 2.0 - 1.0

    return F.array(*[F.lit(h(i)) for i in range(dim)])


def rp_lsh_buckets(
    df: DataFrame,
    dim: int,
    num_planes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """(id, *keep, bucket) where bucket = sign pattern across
    ``num_planes`` random hyperplanes. Vectors in the same bucket are
    cosine-close with high probability; bucket key is a bigint (≤ 63
    planes). ``keep`` passes extra columns through (the streaming vector
    store keeps the vector itself next to its bucket)."""
    v = _as_double_array(vec_col)
    bucket = F.lit(0).cast("long")
    for p in range(num_planes):
        plane = _seeded_hyperplane(dim, p, seed)
        dot = F.aggregate(
            F.zip_with(v, plane, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, z: acc + z,
        )
        bucket = bucket.bitwiseOR(
            F.when(dot >= 0, F.lit(1 << p).cast("long")).otherwise(F.lit(0).cast("long"))
        )
    return df.select(
        F.col(id_col).alias("id"), *keep, bucket.alias("bucket")
    )


def ivf_index(
    df: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    fit_fraction: float | None = None,
    max_iter: int = 20,
    init_mode: str = "k-means||",
) -> tuple[DataFrame, list[list[float]]]:
    """IVF coarse quantizer: k-means centroids + per-vector cell id.

    ``max_iter`` bounds the k-means refinement passes (each is a full
    job over the fit set) — the quantizer build budget, as in standard
    IVF implementations. Fewer iterations only shift cell BOUNDARIES:
    recall at a given n_probe may change, exactness at
    n_probe == n_centroids never does. ``init_mode`` is KMeans'
    ``initMode`` (``"random"`` skips the k-means|| init passes — same
    exactness argument; the default keeps the better-spread quantizer
    for partial-probe serving).

    Returns (assignments(id, v, cell), centroids). The index DataFrame
    should be persisted/bucketed by ``cell`` at scale so probes prune
    partitions. Deterministic via seed.

    ``fit_fraction``: fit the k-means quantizer on a DETERMINISTIC
    content-hash sample of the corpus (``sampling.hash_uniform`` — the
    same rows regardless of partitioning or cluster size) and assign the
    FULL corpus in one transform pass. Standard IVF practice: the coarse
    quantizer needs only O(n_centroids·10³) training vectors, so at
    100 TB a full-corpus fit dominates index build time for no recall
    gain — pick fit_fraction so the sample is a few-hundred-× the
    centroid count. Correctness at n_probe == n_centroids is
    fit-independent (every cell is scanned), which is what the driver
    oracle pins.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    src = df.select(
        F.col(id_col).alias("id"), _as_double_array(vec_col).alias("v")
    ).withColumn("features", array_to_vector("v"))
    if fit_fraction is not None:
        from ..functions.sampling import hash_uniform

        fit_src = src.filter(hash_uniform("id", "ivf_fit") < fit_fraction)
        # a quantizer needs at least n_centroids training vectors; a tiny
        # corpus (or a fraction tuned for a bigger one) can hash-sample
        # fewer, and KMeans then fails with an opaque Breeze error or
        # silently fits a degenerate codebook. The bounded limit-count
        # short-circuits once n_centroids sample rows are found — it
        # never scans the full corpus at index build.
        if fit_src.limit(n_centroids).count() < n_centroids:
            import warnings

            warnings.warn(
                f"ivf_index: fit_fraction={fit_fraction} sampled fewer "
                f"than n_centroids={n_centroids} vectors; fitting the "
                "quantizer on the full corpus instead",
                stacklevel=2,
            )
            fit_src = src
    else:
        fit_src = src
    km = KMeans(
        k=n_centroids, seed=seed, featuresCol="features", maxIter=max_iter,
        initMode=init_mode,
    ).fit(fit_src)
    assigned = km.transform(src).select(
        "id", "v", F.col("prediction").alias("cell")
    )
    centroids = [list(map(float, c)) for c in km.clusterCenters()]
    return assigned, centroids


def _probe_cells(
    centroids: list[list[float]], qm: np.ndarray, n_probe: int
) -> np.ndarray:
    """(len(qm), ≤ n_probe) cells each query row probes: its
    ``n_probe`` cosine-closest centroids, ties to the lower cell index
    (stable sort). The one probe choice of :func:`ivf_topk` and both
    shapes of :func:`ivf_topk_join`."""
    sims = _cosine_matrix(qm, np.asarray(centroids, dtype=np.float64))
    return np.argsort(-sims, axis=1, kind="stable")[:, :n_probe]


def ivf_topk(
    index: DataFrame,
    centroids: list[list[float]],
    query: list[float],
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """Approximate top-k: score only the ``n_probe`` cells whose
    centroids are cosine-closest to the query, then exact rerank.

    The cell filter prunes (1 - n_probe/n_centroids) of the corpus before
    any per-vector work — the IVF scale path from the ANN literature;
    recall rises with n_probe (== exact when n_probe == n_centroids).
    Against a persisted index (``ivf_topk(spark.read.parquet(path),
    ...)``, see :func:`ivf_write`) the filter prunes partitions.
    """
    cells = _probe_cells(centroids, _matrix([query]), n_probe)[0]
    probed = index.filter(F.col("cell").isin([int(c) for c in cells]))
    return cosine_topk(probed, query, k, id_col="id", vec_col="v")


def ivf_write(index: DataFrame, path: str) -> None:
    """Persist an IVF index PARTITIONED BY cell.

    This is what makes IVF the 100-TB serving path: a probe's
    ``cell IN (...)`` filter becomes parquet partition PRUNING — only
    n_probe/n_centroids of the index files are ever opened (check
    ``PartitionFilters`` in the scan plan), so query cost scales with
    the probe set, not the corpus.
    """
    index.write.mode("overwrite").partitionBy("cell").parquet(path)


def ivf_topk_join(
    index: DataFrame,
    centroids: list[list[float]],
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    query_id: str = "query_id",
    query_vec: str = "embedding",
) -> DataFrame:
    """Approximate top-k for a whole DataFrame of queries in one pass
    over the index — the real IVF serving shape (a python loop of
    :func:`ivf_topk` calls runs one job per query and rescans the index
    each time).

    Each query probes the cells :func:`_probe_cells` picks, the same
    numpy choice :func:`ivf_topk` makes, so per-query results equal the
    one-at-a-time path. One bounded collect of the queries (at most
    ``_BROADCAST_PROBE_ROWS // n_probe + 1`` rows) picks the shape:

    - broadcast, when the probe set (queries × n_probe) fits: the
      collected queries become per-cell query matrices for
      :func:`_topk_candidates`. The index scan is pre-filtered to the
      probed cells (against a persisted cell-partitioned index, static
      partition pruning), and only per-partition top-k candidates reach
      the final rank.
    - shuffle, for offline query sets too large to collect: a
      ``mapInPandas`` expands each query to its probe rows, index and
      probes are repartitioned by cell and joined, and
      :func:`_pair_cosines` scores each joined row. A hot cell is
      ordinary join skew (AQE splits it).

    Both shapes end in the same exact (cosine desc, id asc) window.
    Returns (query_id, id, cosine, rank ≤ k).
    """
    q = queries.select(
        F.col(query_id).alias("query_id"),
        _as_double_array(query_vec).alias("q_vec"),
    )
    cap = _BROADCAST_PROBE_ROWS // max(n_probe, 1) + 1
    rows = q.limit(cap).collect()
    if len(rows) < cap:
        cells = _probe_cells(centroids, _matrix(r["q_vec"] for r in rows), n_probe)
        probes = [
            (r["query_id"], int(c), r["q_vec"])
            for r, cs in zip(rows, cells)
            for c in cs
        ]
        probed = index.filter(F.col("cell").isin(sorted({p[1] for p in probes})))
        return _rank(
            _topk_candidates(
                probed.select("cell", "id", "v"),
                probes,
                q.schema["query_id"].dataType,
                k,
            ),
            k,
        )

    def expand(batches):
        for pdf in batches:
            cells = _probe_cells(centroids, _matrix(pdf["q_vec"]), n_probe)
            p = cells.shape[1]
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy().repeat(p),
                    "cell": cells.ravel(),
                    "q_vec": pdf["q_vec"].to_numpy().repeat(p),
                }
            )

    probes = q.mapInPandas(
        expand,
        schema=StructType(
            [
                q.schema["query_id"],
                StructField("cell", IntegerType(), True),
                q.schema["q_vec"],
            ]
        ),
    )
    joined = index.repartition("cell").join(probes.repartition("cell"), "cell")
    return _rank(_pair_cosines(joined, "v", "q_vec", "query_id", "id"), k)


def embedding_near_dup_pairs_blocked(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    num_blocks: int = 16,
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold via blocked matrix multiply.

    The scalable exact path: vectors are hashed into ``num_blocks``
    groups and every row is replicated to each of its block's
    B(B+1)/2 − (B−1) block-*pair* groups via one explode; an
    ``applyInPandas`` over (pa, pb) then runs one :func:`_cosine_matrix`
    product per group. Output: (id_a, id_b, cosine), id_a < id_b, every
    pair with cosine ≥ ``threshold`` (null and zero-norm vectors score
    0). Each vector crosses the shuffle B times (vs n times for a cross
    join) and the O(n²·d) flops run in BLAS instead of interpreted
    expression lambdas.

    Round-6 shape: plain rows through one exchange — no
    ``collect_list`` block arrays (object aggregates, computed once
    per cross-join SIDE in the former shape) and no broadcast of the
    blocks relation (which carried the ENTIRE corpus through a single
    BroadcastExchange — an 8 GB hard cap the row shuffle does not
    have).

    Choose num_blocks ≈ sqrt(n·d·8 / 64MB) so a block pair fits in task
    memory.
    """
    id_type = dict(df.dtypes)[id_col]
    out_schema = StructType(
        [
            StructField("id_a", LongType() if id_type == "bigint" else df.schema[id_col].dataType, False),
            StructField("id_b", LongType() if id_type == "bigint" else df.schema[id_col].dataType, False),
            StructField("cosine", DoubleType(), False),
        ]
    )
    rows = (
        df.select(
            F.col(id_col).alias("id"),
            _as_double_array(vec_col).alias("v"),
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(num_blocks)).alias("block"),
        )
        .withColumn(
            "other", F.explode(F.sequence(F.lit(0), F.lit(num_blocks - 1)))
        )
        .select(
            F.least("block", "other").alias("pa"),
            F.greatest("block", "other").alias("pb"),
            "id",
            "v",
            "block",
        )
    )

    def run_group(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        if not len(pdf):
            return empty
        pa, pb = pdf["pa"].iat[0], pdf["pb"].iat[0]
        same = pa == pb
        a = pdf[pdf["block"] == pa]
        b = a if same else pdf[pdf["block"] == pb]
        if not len(a) or not len(b):
            return empty
        ids_a = a["id"].to_numpy()
        ids_b = ids_a if same else b["id"].to_numpy()
        ma = _matrix(a["v"])
        sims = _cosine_matrix(ma, ma if same else _matrix(b["v"]))
        ii, jj = np.where(sims >= threshold)
        if same:
            tri = ii < jj  # each unordered pair once within a block
            ii, jj = ii[tri], jj[tri]
        if not len(ii):
            return empty
        x, y = ids_a[ii], ids_b[jj]
        keep = x != y
        x, y, c = x[keep], y[keep], sims[ii, jj][keep]
        lo = np.where(x < y, x, y)
        hi = np.where(x < y, y, x)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cosine": c})

    return (
        rows.groupBy("pa", "pb")
        .applyInPandas(run_group, schema=out_schema)
        .dropDuplicates(["id_a", "id_b"])
    )


def rp_lsh_near_dup_pairs(
    df: DataFrame,
    dim: int,
    threshold: float = 0.95,
    num_planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine near-dup pairs: bucket join → exact verify.

    Same output contract as :func:`embedding_near_dup_pairs_blocked`
    (the exact path) but the join is on the LSH bucket instead of every
    block pair — the 100-TB path; :func:`_pair_cosines` verifies each
    joined pair. Recall < 1 by construction (raise recall with multiple
    bucket tables: re-run with different seeds and union). With
    ``threshold > 0`` null and zero-norm vectors join no candidates.
    """
    if threshold > 0:
        df = df.filter(_has_norm(vec_col))
    b = rp_lsh_buckets(df, dim, num_planes, id_col, vec_col, seed)
    src = df.select(
        F.col(id_col).alias("id"), _as_double_array(vec_col).alias("v")
    ).join(b, "id")
    a = src.select(F.col("id").alias("id_a"), F.col("v").alias("v_a"), "bucket")
    c = src.select(F.col("id").alias("id_b"), F.col("v").alias("v_b"), "bucket")
    pairs = a.join(c, "bucket").filter(F.col("id_a") < F.col("id_b"))
    return (
        _pair_cosines(pairs, "v_a", "v_b", "id_a", "id_b")
        .filter(F.col("cosine") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )
