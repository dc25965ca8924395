"""Similarity search over embedding columns (array<float>).

- :func:`cosine_topk` — exact brute-force top-k for one query vector:
  one scan, JVM-side dot products (``zip_with``/``aggregate``), global
  top-k via ``orderBy(...).limit(k)`` (Spark executes TakeOrderedAndProject
  — per-partition heaps, no full sort).
- :func:`cosine_topk_join` — top-k neighbors for a *set* of queries:
  broadcast the queries, per-partition scoring, window rank. Queries must
  be small (they are broadcast).
- :func:`rp_lsh_buckets` / :func:`rp_lsh_near_dup_pairs` — the scale path:
  random-hyperplane (sign) LSH buckets computed with a seeded
  deterministic pseudo-random matrix derived from xxhash64, so bucketing
  needs no driver-side randomness and is reproducible across runs
  (Charikar'02 SimHash-for-cosine).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import local_frame


def _as_double_array(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def cosine_sim(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float/double> columns (zip_with dot
    + aggregate norms, all JVM-side); 0.0 when either norm is 0."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )
    nb = F.sqrt(
        F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v)
    )
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))


def _blas_topk_single(
    src: DataFrame, query: list[float], k: int
) -> DataFrame:
    """(id, cosine) partial top-k candidates for ONE query vector over
    ``src(id, v)`` — per-partition float64 BLAS scoring in mapInPandas
    (guide §4.2), tie-safe truncation to each partition's top-``k``
    under (cosine desc, id asc). Callers apply the exact global
    ``orderBy(...).limit(k)``. NULL or zero-norm vectors score 0.0,
    matching :func:`cosine_sim`.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    out_schema = StructType(
        [
            StructField("id", src.schema["id"].dataType, True),
            StructField("cosine", DoubleType(), True),
        ]
    )
    q = np.asarray([float(x) for x in query], dtype=np.float64)
    qn = float(np.linalg.norm(q))

    def score(batches):
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            ids = pdf["id"].to_numpy()
            col = np.zeros(n, dtype=np.float64)
            if qn > 0.0:
                ok = pdf["v"].notna().to_numpy()
                if ok.any():
                    vm = np.asarray(
                        pdf["v"][ok].to_list(), dtype=np.float64
                    )
                    vn = np.linalg.norm(vm, axis=1)
                    vzero = vn == 0.0
                    vn[vzero] = 1.0
                    s = (vm @ q) / (vn * qn)
                    s[vzero] = 0.0
                    col[ok] = s
            if n > k:
                thr = np.partition(col, n - k)[n - k]
                cand = np.nonzero(col >= thr)[0]
            else:
                cand = np.arange(n)
            sel = cand[np.lexsort((ids[cand], -col[cand]))][:k]
            yield pd.DataFrame({"id": ids[sel], "cosine": col[sel]})

    return src.select("id", "v").mapInPandas(score, schema=out_schema)


def cosine_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k rows by cosine similarity to ``query``.

    Returns (id, cosine) ordered desc, deterministic tiebreak by id.
    Scoring runs per partition as one BLAS matvec (round 6 — formerly
    one interpreted higher-order aggregate per row); the global
    order-and-limit stays exact.
    """
    src = df.select(
        F.col(id_col).alias("id"), _as_double_array(vec_col).alias("v")
    )
    scored = _blas_topk_single(src, query, k)
    return scored.orderBy(F.col("cosine").desc(), F.col("id").asc()).limit(k)


def cosine_topk_join(
    items: DataFrame,
    queries: DataFrame,
    k: int = 10,
    item_id: str = "vec_id",
    item_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "embedding",
    broadcast_queries: bool = True,
) -> DataFrame:
    """For every query row, its exact top-k items by cosine.

    Broadcast-nested-loop over a *small* query set: shuffle-free scoring,
    then a per-query window top-k. Returns (query_id, id, cosine, rank).

    ``broadcast_queries=False`` drops the broadcast hint for query sets
    too large to build a broadcast relation (offline all-pairs-style
    jobs): the cross join degrades to a partition-pairing cartesian —
    strictly more data movement, but it completes where a broadcast
    build would OOM. Results are identical either way.
    """
    q = queries.select(
        F.col(query_id).alias("query_id"),
        _as_double_array(query_vec).alias("q_vec"),
    )
    if broadcast_queries:
        q = F.broadcast(q)
    scored = items.select(
        F.col(item_id).alias("id"), _as_double_array(item_vec).alias("v")
    ).crossJoin(q).select(
        "query_id",
        "id",
        cosine_sim(F.col("v"), F.col("q_vec")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
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
    """
    import numpy as np

    q = np.asarray(query, dtype=float)
    qn = q / (np.linalg.norm(q) or 1.0)
    cents = np.asarray(centroids, dtype=float)
    norms = np.linalg.norm(cents, axis=1)
    norms[norms == 0] = 1.0
    sims = (cents / norms[:, None]) @ qn
    # stable sort: centroid-similarity ties break by cell index, matching
    # ivf_topk_join's window ordering (csim desc, cell asc) — an unstable
    # quicksort argsort could pick a different probe set on tied sims
    probe_cells = [int(i) for i in np.argsort(-sims, kind="stable")[:n_probe]]

    src = index.filter(F.col("cell").isin(probe_cells)).select("id", "v")
    return (
        _blas_topk_single(src, [float(x) for x in query], k)
        .orderBy(F.col("cosine").desc(), F.col("id").asc())
        .limit(k)
    )


def ivf_write(index: DataFrame, path: str) -> None:
    """Persist an IVF index PARTITIONED BY cell.

    This is what makes IVF the 100-TB serving path: a probe's
    ``cell IN (...)`` filter becomes parquet partition PRUNING — only
    n_probe/n_centroids of the index files are ever opened (check
    ``PartitionFilters`` in the scan plan), so query cost scales with
    the probe set, not the corpus.
    """
    index.write.mode("overwrite").partitionBy("cell").parquet(path)


def ivf_topk_from_path(
    spark,
    path: str,
    centroids: list[list[float]],
    query: list[float],
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """Probe a persisted IVF index (see :func:`ivf_write`)."""
    return ivf_topk(spark.read.parquet(path), centroids, query, k, n_probe)


def ivf_topk_join(
    index: DataFrame,
    centroids: list[list[float]],
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    query_id: str = "query_id",
    query_vec: str = "embedding",
    broadcast_queries: bool | None = None,
    broadcast_limit: int = 100_000,
) -> DataFrame:
    """Approximate top-k for a whole DataFrame of queries in ONE job —
    the real IVF serving shape (a python loop of :func:`ivf_topk` calls
    runs one job per query and rescans the index each time).

    Probe-cell assignment happens in-plan: queries × centroids (both
    broadcast-small) → per-query top-``n_probe`` cells by centroid
    cosine, then ONE join of (query, cell, q_vec) against the index fans
    each index row out to only the queries probing its cell. The index
    is scanned exactly once for the whole batch; per-query work stays
    bounded by its n_probe cells. Tie-breaks are aligned with
    :func:`ivf_topk` (centroid-sim ties break by cell index in both, and
    item-cosine ties by vector id) — per-query results match the
    one-at-a-time path up to last-ulp differences between numpy's and
    Spark's float summation on centroid similarities, which can flip
    probe choice only when two centroid sims are within rounding noise.

    ``broadcast_queries``: True forces the broadcast serving shape
    (right for online batches): the probe set (bounded — it is broadcast
    scale by definition of this branch) is collected once, grouped by
    cell into dense query matrices, and shipped to executors as ONE
    Spark broadcast; an Arrow-batched ``mapInPandas`` stage then scores
    each index partition against its cells' query matrices with one
    float64 BLAS matmul and emits only each partition's per-query
    top-``k`` candidates (tie-safe: candidates at the k-th score are
    resolved by id before truncation, so the partial set provably
    contains the global top-k). The final exact (cosine desc, id asc)
    window then ranks ~``partitions × queries × k`` candidate rows
    instead of ``|index| × queries`` scored rows, and the index scan is
    pre-filtered to the probed cells (against a persisted
    cell-partitioned index that is static partition PRUNING — stronger
    than the runtime DPP the former probe-join shape relied on).
    False repartitions index and probes by ``cell`` instead — the
    offline path for probe sets too large to broadcast (an
    all-pairs-style query DataFrame); scoring there stays in
    expression form. None (default) picks automatically with a BOUNDED
    limit-count of the query set (stops scanning once the limit is
    provably exceeded): broadcast iff ``n_queries * n_probe <=
    broadcast_limit`` rows. Both shapes return identical rows up to
    last-ulp float summation differences (BLAS vs sequential
    expression sum — the same tolerance already accepted between this
    operator and numpy/DuckDB replicas); the shuffle shape adds a
    cell-keyed exchange on each side, and a hot cell there is ordinary
    join skew (AQE splits it).

    Returns (query_id, id, cosine, rank ≤ k).
    """
    spark = index.sparkSession
    cents = local_frame(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cell int, centroid array<double>",
    )
    q = queries.select(
        F.col(query_id).alias("query_id"),
        _as_double_array(query_vec).alias("q_vec"),
    )
    probe_rank = Window.partitionBy("query_id").orderBy(
        F.col("csim").desc(), F.col("cell").asc()
    )
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            "q_vec",
            "cell",
            cosine_sim(F.col("q_vec"), F.col("centroid")).alias("csim"),
        )
        .withColumn("pr", F.row_number().over(probe_rank))
        .filter(F.col("pr") <= n_probe)
        .select("query_id", "q_vec", "cell")
    )
    if broadcast_queries is None:
        # bounded decision probe: limit-count short-circuits after
        # ~broadcast_limit/n_probe rows, so a huge offline query set
        # never pays a full scan just to learn it is over the limit
        cap = broadcast_limit // max(n_probe, 1) + 1
        broadcast_queries = q.limit(cap).count() * n_probe <= broadcast_limit
    if broadcast_queries:
        scored = _blas_probe_candidates(index, probes, k)
    else:
        joined = index.repartition("cell").join(
            probes.repartition("cell"), "cell"
        )
        scored = joined.select(
            "query_id",
            "id",
            cosine_sim(F.col("v"), F.col("q_vec")).alias("cosine"),
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _blas_probe_candidates(
    index: DataFrame, probes: DataFrame, k: int
) -> DataFrame:
    """(query_id, id, cosine) candidate rows for the broadcast serving
    shape of :func:`ivf_topk_join` — guaranteed to contain every query's
    exact top-``k`` under (cosine desc, id asc).

    The probe set is broadcast scale by contract, so it is collected
    once, grouped by cell into dense float64 matrices and shipped via
    one ``sc.broadcast`` (the same driver-side build a broadcast hash
    join performs). Scoring runs per index partition as one BLAS matmul
    per (batch, cell) in ``mapInPandas`` — the O(n·q·d) flops run in
    native code instead of one interpreted higher-order aggregate per
    (index row, query) pair, and only per-partition top-k candidates
    flow into the final window (bounded by partitions·queries·k rows
    rather than |index|·queries). The index scan is pre-filtered to the
    probed cells, so a persisted cell-partitioned index prunes unprobed
    partitions statically.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    spark = index.sparkSession
    out_schema = StructType(
        [
            StructField(
                "query_id", probes.schema["query_id"].dataType, True
            ),
            StructField("id", index.schema["id"].dataType, True),
            StructField("cosine", DoubleType(), True),
        ]
    )
    # bounded collect: |probes| = n_queries · n_probe ≤ broadcast_limit
    # rows on this branch — the identical driver footprint the former
    # F.broadcast(probes) hash relation had
    probe_rows = probes.collect()
    by_cell: dict = {}
    for r in probe_rows:
        by_cell.setdefault(r["cell"], []).append(
            (r["query_id"], r["q_vec"])
        )
    cell_mats = {}
    for cell, qs in by_cell.items():
        qids = [qid for qid, _ in qs]
        qm = np.asarray([v for _, v in qs], dtype=np.float64)
        qn = np.linalg.norm(qm, axis=1)
        qzero = qn == 0.0
        qn[qzero] = 1.0
        cell_mats[cell] = (qids, qm, qn, qzero)
    bc = spark.sparkContext.broadcast(cell_mats)

    def score(batches):
        mats = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            out_q: list = []
            out_i: list = []
            out_c: list = []
            for cell, grp in pdf.groupby("cell", sort=False):
                m = mats.get(cell)
                if m is None:
                    continue
                qids, qm, qn, qzero = m
                grp = grp[grp["v"].notna()]
                n = len(grp)
                if not n:
                    continue
                ids = grp["id"].to_numpy()
                vm = np.asarray(grp["v"].to_list(), dtype=np.float64)
                vn = np.linalg.norm(vm, axis=1)
                vzero = vn == 0.0
                vn[vzero] = 1.0
                # cosine = dot / (||v|| · ||q||); zero-norm → 0.0
                # (cosine_sim parity)
                sims = (vm @ qm.T) / (vn[:, None] * qn[None, :])
                if vzero.any():
                    sims[vzero, :] = 0.0
                if qzero.any():
                    sims[:, qzero] = 0.0
                for j, qid in enumerate(qids):
                    col = sims[:, j]
                    if n > k:
                        # tie-safe partial top-k: keep EVERY row at or
                        # above the k-th score, then order by
                        # (score desc, id asc) and truncate — the kept
                        # set contains the global top-k by construction
                        thr = np.partition(col, n - k)[n - k]
                        cand = np.nonzero(col >= thr)[0]
                    else:
                        cand = np.arange(n)
                    sel = cand[np.lexsort((ids[cand], -col[cand]))][:k]
                    out_q.extend([qid] * len(sel))
                    out_i.extend(ids[sel])
                    out_c.extend(col[sel])
            yield pd.DataFrame(
                {"query_id": out_q, "id": out_i, "cosine": out_c}
            )

    probed_cells = sorted(by_cell)
    src = index.select("cell", "id", "v")
    if probed_cells:
        src = src.filter(F.col("cell").isin(probed_cells))
    else:
        src = src.limit(0)
    return src.mapInPandas(score, schema=out_schema).select(
        "query_id", "id", "cosine"
    )


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
    ``applyInPandas`` over (pa, pb) then runs one numpy matmul per
    group. Output: (id_a, id_b, cosine), id_a < id_b, every pair with
    cosine ≥ ``threshold`` (zero-norm vectors score 0). Each vector
    crosses the shuffle B times (vs n times for a cross join) and the
    O(n²·d) flops run in BLAS instead of interpreted expression
    lambdas.

    Round-6 shape: plain rows through one exchange — no
    ``collect_list`` block arrays (object aggregates, computed once
    per cross-join SIDE in the former shape) and no broadcast of the
    blocks relation (which carried the ENTIRE corpus through a single
    BroadcastExchange — an 8 GB hard cap the row shuffle does not
    have).

    Choose num_blocks ≈ sqrt(n·d·8 / 64MB) so a block pair fits in task
    memory.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

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
        ma = np.asarray(a["v"].to_list(), dtype=np.float64)
        na = np.linalg.norm(ma, axis=1)
        na[na == 0] = 1.0
        if same:
            mb, nb = ma, na
        else:
            mb = np.asarray(b["v"].to_list(), dtype=np.float64)
            nb = np.linalg.norm(mb, axis=1)
            nb[nb == 0] = 1.0
        sims = (ma / na[:, None]) @ (mb / nb[:, None]).T
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
    block pair — the 100-TB path.
    Recall < 1 by construction (raise recall with multiple bucket tables:
    re-run with different seeds and union).
    """
    b = rp_lsh_buckets(df, dim, num_planes, id_col, vec_col, seed)
    src = df.select(
        F.col(id_col).alias("id"), _as_double_array(vec_col).alias("v")
    ).join(b, "id")
    a = src.select(F.col("id").alias("id_a"), F.col("v").alias("v_a"), "bucket")
    c = src.select(F.col("id").alias("id_b"), F.col("v").alias("v_b"), "bucket")
    return (
        a.join(c, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", cosine_sim(F.col("v_a"), F.col("v_b")).alias("cosine")
        )
        .filter(F.col("cosine") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )
