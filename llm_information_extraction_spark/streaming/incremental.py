"""Incremental (streaming) triple extraction and cross-batch dedup.

The reference is strictly batch (SURVEY §2: no streaming semantics), so
this is an *extension*: new document files landing in a directory are
extracted incrementally with Structured Streaming. The transformation
chain is byte-identical to the batch path — the same payload expressions
and the same mapInPandas extractor run inside ``foreachBatch``.

The sink is idempotent under micro-batch REPLAY, which foreachBatch does
not guarantee by itself: each batch overwrites its own
``batch_id=<N>`` partition directory, so a crash after the write but
before the checkpoint commit re-runs the batch into the same directory
instead of appending duplicates (the standard exactly-once foreachBatch
recipe). Readers get ``batch_id`` back as a discovered partition column.

The near-dup operators (MinHash text, embeddings) keep their cross-batch
state the same way: a flat store of precomputed bucket rows with one
``batch_id=<N>`` directory per micro-batch. Batch N joins the rows of
every batch below N (a literal partition filter) on (band or table,
bucket), then overwrites its own directory; committed batches are
merged into one directory by :func:`compact_signature_store`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.extraction import extract_triples
from ..operators.linking import link_mentions, vocabulary_df
from ..operators.payload import build_payload
from ..sources.synthetic import DOCUMENTS_SCHEMA


def incremental_triples(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    mode: str = "full_text",
    max_files_per_trigger: int = 16,
    available_now: bool = True,
):
    """Stream documents(doc_id, spans[]) parquet files → triples parquet.

    ``available_now=True`` processes the current backlog and stops
    (batch-equivalent semantics, used by tests); ``False`` runs
    continuously. Returns the StreamingQuery.
    """
    stream = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    vdf = vocabulary_df(spark)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        triples = link_mentions(
            extract_triples(build_payload(batch_df, mode=mode)), vdf
        )
        # overwrite-per-batch-directory = replay-idempotent commit
        triples.write.mode("overwrite").parquet(
            f"{output_dir}/batch_id={batch_id}"
        )

    return _start_foreach(stream, process_batch, checkpoint_dir, available_now)


def incremental_unique_documents(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 16,
    available_now: bool = True,
):
    """Streaming CROSS-BATCH exact dedup: the stateful operator a 100 TB
    ingest pipeline runs in front of extraction.

    ``dropDuplicates`` on a streaming DataFrame keeps the seen-key set in
    the state store (checkpointed, survives restarts), so a document
    whose content fingerprint arrived in ANY earlier micro-batch is
    suppressed — not just within the batch. State holds only the 32-char
    fingerprint per distinct document, never text. The sink is Spark's
    transactional file sink (_spark_metadata commit log → exactly-once).

    Returns the StreamingQuery; output rows keep the INPUT row shape
    (doc_id, spans) plus the fingerprint column ``fp``, so the deduped
    stream feeds the batch KG pipeline directly.
    """
    from ..functions.textmetrics import doc_fingerprint
    from ..operators.payload import build_payload

    stream = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    with_fp = build_payload(stream).select(
        "doc_id", "spans", doc_fingerprint("payload").alias("fp")
    )
    unique = with_fp.dropDuplicates(["fp"])
    writer = (
        unique.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _sig_est_jaccard(a, b, num_hashes: int):
    """Signature-estimated Jaccard: fraction of matching minhash slots
    (unbiased estimator, stderr ≈ 1/sqrt(num_hashes))."""
    from pyspark.sql import functions as F

    matches = F.aggregate(
        F.zip_with(a, b, lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return matches.cast("double") / num_hashes


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path class) for ``path``. Every store operation goes
    through the Hadoop FileSystem API resolved from the path itself, so
    the same code runs on a local directory, ``hdfs://`` or an object
    store."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    return hpath(path).getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _batch_dirs(spark: SparkSession, state_dir: str) -> list:
    """FileStatus of every ``batch_id=N`` directory of a store (none when
    the store does not exist)."""
    fs, hpath = _hadoop_fs(spark, state_dir)
    found = fs.globStatus(hpath(state_dir.rstrip("/") + "/batch_id=*"))
    return list(found) if found is not None else []


def _read_older_batches(
    spark: SparkSession, state_dir: str, batch_id: int
) -> DataFrame | None:
    """The store's bucket rows of every batch STRICTLY older than
    ``batch_id`` (a replayed batch must never see its own rows).

    ``batch_id < N`` is a literal partition filter, so the scan skips
    the batch's own directory and any later one (``PartitionFilters`` in
    the plan). Returns None when the store holds no batch yet (first
    batch, or only empty batches so far).

    Only the path-missing case means "no store yet"; any other read
    failure (corrupt footer, permissions, botched compaction) must FAIL
    the batch so the checkpoint retries — swallowing it would silently
    disable cross-batch dedup. Shared by every streaming dedup variant
    so the error-class match lives in exactly one place.
    """
    from pyspark.errors import AnalysisException
    from pyspark.sql import functions as F

    # "no store yet" = no batch_id=* data partitions. The directory
    # itself can exist earlier (the _layout.json marker is written at
    # stream start), and a read of a data-less dir fails schema
    # inference rather than path lookup.
    if not _batch_dirs(spark, state_dir):
        return None
    try:
        return spark.read.parquet(state_dir).filter(
            F.col("batch_id") < F.lit(batch_id)
        )
    except AnalysisException as e:
        if "PATH_NOT_FOUND" not in str(e) and "Path does not exist" not in str(e):
            raise
        return None


def _retired_layout(state_dir: str, why: str) -> ValueError:
    return ValueError(
        f"state store at {state_dir} {why}: the partitioned (pt, batch_id) "
        "store layout is retired and the stream cannot read it — delete "
        "the state dir and let the stream rebuild it"
    )


def _refuse_partitioned_store(spark: SparkSession, state_dir: str) -> None:
    """Raise when ``state_dir`` holds ``pt=K`` directories: the retired
    layout kept its rows one level deeper, keyed by a ``pt`` column
    instead of the band / table index the cross-batch join matches on."""
    fs, hpath = _hadoop_fs(spark, state_dir)
    root = hpath(state_dir)
    if fs.exists(root) and any(
        st.getPath().getName().startswith("pt=") for st in fs.listStatus(root)
    ):
        raise _retired_layout(state_dir, "holds pt=K directories")


def _check_store_layout(
    spark: SparkSession, state_dir: str, layout: dict
) -> None:
    """Fail fast, before any Spark job, when a store is reopened with
    different blocking parameters or was written in a retired layout.

    The store holds PRECOMPUTED bucket values, so every parameter that
    feeds them (bands / planes / tables / seed / hash config) is baked
    into the rows: restarting the stream with a different value would
    make the (band, bucket) or (tbl, bucket) equi-join silently match
    nothing (or the wrong rows) and near-dups of stored docs would pass
    through undetected. The first run writes ``_layout.json`` into the
    store root (underscore prefix keeps it out of partition discovery);
    later runs compare and raise on any difference. A store holding
    ``pt=K`` directories, or whose marker records a parameter the caller
    no longer passes at all (the retired partitioned layout recorded its
    partition count), raises the retired-layout error instead: no choice
    of parameters can reopen it.
    """
    import json

    _refuse_partitioned_store(spark, state_dir)
    fs, hpath = _hadoop_fs(spark, state_dir)
    marker = hpath(state_dir.rstrip("/") + "/_layout.json")
    if fs.exists(marker):
        # read JVM-side: py4j passes byte[] by VALUE, so a Java
        # stream.read(python_buf) never fills the Python buffer
        jvm = spark._jvm
        bos = jvm.java.io.ByteArrayOutputStream()
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(
            fs.open(marker), bos, 4096, True
        )
        existing = json.loads(bos.toString("UTF-8"))
        # a key that is ABSENT and a key whose requested value is None
        # both mean "feature off / legacy geometry": normalize so adding
        # an optional parameter in a later version never bricks stores
        # whose geometry is byte-compatible (callers only put a key in
        # the layout when it changes the stored rows)
        norm_existing = {k: v for k, v in existing.items() if v is not None}
        norm_layout = {k: v for k, v in layout.items() if v is not None}
        retired = sorted(set(norm_existing) - set(layout))
        if retired:
            raise _retired_layout(
                state_dir, f"records parameters no longer taken: {retired}"
            )
        if norm_existing != norm_layout:
            diffs = {
                k: (existing.get(k, "<absent>"), layout.get(k, "<absent>"))
                for k in set(norm_existing) | set(norm_layout)
                if norm_existing.get(k) != norm_layout.get(k)
            }
            raise ValueError(
                "state store at "
                f"{state_dir} was built with different blocking "
                f"parameters (stored vs requested): {diffs} — precomputed "
                "buckets are incompatible; rebuild the store or restore "
                "the original parameters"
            )
        return
    fs.mkdirs(hpath(state_dir))
    out = fs.create(marker, True)
    try:
        out.write(json.dumps(layout, sort_keys=True).encode("utf-8"))
    finally:
        out.close()


def _write_store(rows: DataFrame, state_dir: str, batch_id: int) -> None:
    """Commit a batch's bucket rows as the store's ``batch_id=N``
    partition. Dynamic partition overwrite replaces exactly that one
    directory — a REPLAYED batch recomputes the same rows (inputs and
    store reads are deterministic) and overwrites its own directory,
    never touching other batches: the same exactly-once foreachBatch
    recipe as the per-batch output dirs. A batch with no rows writes no
    directory."""
    from pyspark.sql import functions as F

    (
        rows.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(state_dir)
    )


def _auto_compact(
    spark: SparkSession,
    state_dir: str,
    checkpoint_dir: str,
    compact_batches: int | None,
) -> None:
    """Bound a state store's directory count across stream restarts:
    when the store holds ``compact_batches`` or more ``batch_id=N``
    directories, merge the COMMITTED ones into a single directory before
    the stream starts.

    Stream start is the documented no-concurrent-writer safe point, and
    passing the checkpoint dir keeps any crash-uncommitted batch's
    directory untouched (see :func:`compact_signature_store`) — so this
    runs unattended. The directory and file count grows with BATCHES,
    not rows, and every store read lists them. ``None`` or ``0``
    disables (matching the CLI contract — a threshold of 0 must not mean
    "compact on every start")."""
    if not compact_batches:
        return
    if len(_batch_dirs(spark, state_dir)) >= compact_batches:
        compact_signature_store(spark, state_dir, checkpoint_dir)


def _start_foreach(stream, process_batch, checkpoint_dir: str, available_now: bool):
    """Common foreachBatch writer tail for the streaming dedup ops."""
    writer = stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def incremental_fuzzy_unique_documents(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    threshold: float = 0.8,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    verify_hashes: int | None = 256,
    compact_batches: int | None = 64,
    max_files_per_trigger: int = 16,
    available_now: bool = True,
):
    """Streaming CROSS-BATCH near-duplicate (MinHash) dedup.

    Exact streaming dedup (:func:`incremental_unique_documents`) only
    catches byte-identical content; this operator suppresses a NEAR-dup
    arriving any number of micro-batches later. State is a compact
    on-disk signature store — precomputed bucket rows
    (band, bucket, id, sig array<bigint>) in one ``batch_id=N`` parquet
    directory per micro-batch: the signature per band per surviving doc,
    never text. Per micro-batch:

    1. sign incoming docs with the batch MinHash operators;
    2. within-batch: banded-bucket candidates → signature-estimated
       Jaccard ≥ threshold edges → connected components → keep min id;
    3. cross-batch: the batch's bucket rows equi-join the store on
       (band, bucket). The store read carries the LITERAL partition
       filter ``batch_id < current``, so a REPLAYED batch never sees its
       own signatures. Estimated Jaccard ≥ threshold (verified in-join
       from the stored signature) drops the newcomer;
    4. survivors overwrite ``output/batch_id=N``; their bucket rows
       dynamically overwrite the store's ``batch_id=N`` directory. Both
       replay-idempotent (the standard exactly-once foreachBatch recipe).

    Similarity is the SIGNATURE estimate (matching-slot fraction): the
    store deliberately holds no text to re-verify against, so a drop
    decision carries estimator noise — stderr ≈ √(J(1−J)/k) for k
    hashes, and a colliding pair whose true Jaccard sits below the
    threshold can be FALSELY dropped (silent loss of unique data).
    ``verify_hashes`` bounds that risk without touching the blocking
    geometry: the hash family is prefix-stable (slot i is
    ``xxhash64(h, seed+i)``), so one ``verify_hashes``-slot signature is
    computed per doc, bands hash only its first ``num_hashes`` slots
    (bucket keys identical to the short-signature layout), and the drop
    estimate averages ALL slots. At the default 256 the stderr near a
    0.8 threshold falls from ≈0.05 to ≈0.025; measured on planted pairs
    (``tools/measure_minhash_fp.py``, table in
    ``BENCH/streaming_store.md``) the false-drop rate at true J = 0.714
    goes from 2.7% of colliding pairs to 0 in 300 trials (binomial tail
    ≈ 1×10⁻³). The cost is store size — ``bands · verify_hashes`` longs
    per surviving doc (32 KB at defaults vs 8 KB) — still ≪ corpus;
    set ``verify_hashes=None`` to keep the 64-slot store when that
    false-drop rate is acceptable. Callers needing EXACT-Jaccard
    confirmation keep a doc store and run ``minhash_dedup_groups``
    (star edges verified by exact Jaccard) over it offline.

    ``doc_id`` must be globally unique across the STREAM's lifetime
    (suppression is keyed by id): if a later batch reuses an id with
    different content, a hit on either content suppresses every row
    carrying that id.

    Storing buckets costs ``bands`` rows per doc (the signature is
    repeated per band, which parquet dictionary-encodes within a file);
    in exchange the store side of the join is a plain columnar scan of
    precomputed buckets, with no re-banding of history. Every batch
    reads the whole older store: a micro-batch of a few hundred docs
    collides with almost every bucket region anyway (measured in
    ``BENCH/streaming_store.md``). The store's directory count grows
    with batches, not rows: every stream start auto-compacts committed
    batches once ``compact_batches`` batch directories have accumulated
    (None disables; :func:`compact_signature_store` can still be run
    manually between runs). A store written in the retired
    (pt, batch_id) layout raises ``ValueError`` when the stream is
    defined.
    """
    from pyspark.sql import functions as F

    from ..operators.canonicalize import connected_components
    from ..operators.dedup import _banded_buckets, _rows_per_band

    # the batches band through the same helper; refuse a bad geometry
    # when the stream is defined, not in its first micro-batch
    _rows_per_band(num_hashes, bands)
    if verify_hashes is not None and verify_hashes < num_hashes:
        raise ValueError(
            f"verify_hashes={verify_hashes} must be >= num_hashes="
            f"{num_hashes} (bands hash the signature's first num_hashes "
            "slots; a shorter verify signature cannot contain them)"
        )
    if verify_hashes == num_hashes:
        # identical geometry to "no verify signature" — normalize so the
        # store layout marker treats them as the same store
        verify_hashes = None
    sig_len = verify_hashes or num_hashes

    stream = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.dedup import minhash_signatures

        # collapse same-id duplicate ROWS first: the candidate self-join
        # pairs ids with id_a < id_b, so two byte-identical rows sharing
        # an id could otherwise BOTH survive (ids are unique per the
        # operator contract, so surviving rows are byte-identical and
        # the pick is replay-deterministic)
        batch_df = batch_df.dropDuplicates(["doc_id"])
        docs = build_payload(batch_df).select("doc_id", "payload")
        # sig_len slots computed once: bands consume slots [0, num_hashes)
        # (prefix-stable hash family → bucket keys identical to a
        # 64-slot store), the drop estimate averages all sig_len slots
        sig = minhash_signatures(
            docs, "doc_id", "payload", n, sig_len, seed
        ).cache()
        # released in ``finally``: a failing batch must not leave its
        # frames in the session's cache across stream restarts
        cached = [sig]
        try:
            buckets = _banded_buckets(sig, num_hashes, bands)

            # -- within-batch: est-Jaccard edges → CC → keep min id --------
            # no distinct on the pairs: a pair sharing several bands
            # repeats until CC's canonical-edge dedup, whose map-side
            # partial aggregate collapses the repeats in place. The
            # signature kernel's output carries no id partitioning, so a
            # distinct here would be one more shuffle
            cand = (
                buckets.alias("a")
                .join(
                    buckets.alias("b"),
                    (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.bucket") == F.col("b.bucket"))
                    & (F.col("a.id") < F.col("b.id")),
                )
                .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            )
            edges = (
                cand.join(
                    sig.withColumnsRenamed({"id": "id_a", "sig": "sig_a"}), "id_a"
                )
                .join(sig.withColumnsRenamed({"id": "id_b", "sig": "sig_b"}), "id_b")
                .filter(
                    _sig_est_jaccard(F.col("sig_a"), F.col("sig_b"), sig_len)
                    >= threshold
                )
                .select(
                    F.col("id_a").cast("string").alias("src"),
                    F.col("id_b").cast("string").alias("dst"),
                )
            )
            cc = connected_components(edges)
            in_batch_losers = cc.filter(
                F.col("node") != F.col("component")
            ).select(F.col("node").alias("doc_id"))
            # both anti joins broadcast their id side (in-batch losers
            # here, store hits below): each holds ids of this micro-batch
            # only, and the kernel's output carries no id partitioning,
            # so a shuffle join would move every 8·sig_len-byte signature
            survivors = sig.join(
                F.broadcast(in_batch_losers.withColumnsRenamed({"doc_id": "id"})),
                "id",
                "left_anti",
            ).cache()
            cached.append(survivors)

            # -- cross-batch: join the older batches' bucket rows ----------
            # bucket rows with the signature attached (zero shuffle: pure
            # explode over the cached survivor signatures)
            def bucket_rows(s: DataFrame) -> DataFrame:
                return _banded_buckets(
                    s, num_hashes, bands, keep=("id", "sig")
                ).select("band", "bucket", "id", "sig")

            final = survivors
            store = _read_older_batches(spark, state_dir, batch_id)
            if store is not None:
                # verification happens IN the join projection from the
                # stored signature — no join back to a signature table,
                # so a pair colliding in b bands is estimated b times
                # (sig_len int compares) instead of shuffled once
                hits = (
                    bucket_rows(survivors).alias("nw")
                    .join(
                        store.alias("od"),
                        (F.col("nw.band") == F.col("od.band"))
                        & (F.col("nw.bucket") == F.col("od.bucket")),
                    )
                    .filter(
                        _sig_est_jaccard(
                            F.col("nw.sig"), F.col("od.sig"), sig_len
                        )
                        >= threshold
                    )
                    .select(F.col("nw.id").alias("id"))
                    .distinct()
                )
                final = survivors.join(
                    F.broadcast(hits), "id", "left_anti"
                ).cache()
                cached.append(final)

            # overwrite-per-batch-directory = replay-idempotent commit; the
            # sink preserves the INPUT row schema (doc_id, spans, ...) so
            # the deduped stream feeds the batch KG pipeline directly
            batch_df.join(
                final.select(F.col("id").alias("doc_id")), "doc_id", "leftsemi"
            ).write.mode("overwrite").parquet(f"{output_dir}/batch_id={batch_id}")
            _write_store(bucket_rows(final), state_dir, batch_id)
        finally:
            for df in cached:
                df.unpersist()

    _check_store_layout(
        spark,
        state_dir,
        {
            "kind": "minhash",
            "n": n,
            "num_hashes": num_hashes,
            "bands": bands,
            "seed": seed,
            "verify_hashes": verify_hashes,
        },
    )
    _auto_compact(spark, state_dir, checkpoint_dir, compact_batches)
    return _start_foreach(stream, process_batch, checkpoint_dir, available_now)


def _last_committed_batch(spark: SparkSession, checkpoint_dir: str) -> int:
    """Highest batch id recorded in a Structured Streaming checkpoint's
    ``commits/`` log (−1 when nothing has committed). Batches at or
    below it can never be replayed; anything above can."""
    commits = checkpoint_dir.rstrip("/") + "/commits"
    fs, hpath = _hadoop_fs(spark, commits)
    cdir = hpath(commits)
    if not fs.exists(cdir):
        return -1
    ids = [
        int(st.getPath().getName())
        for st in fs.listStatus(cdir)
        if st.getPath().getName().isdigit()
    ]
    return max(ids, default=-1)


def compact_signature_store(
    spark: SparkSession, state_dir: str, checkpoint_dir: str | None = None
) -> int:
    """Merge the ``batch_id=N`` directories of a dedup state store into
    the single highest ``batch_id``; returns the surviving batch_id.

    ``checkpoint_dir`` (the stream's checkpoint location) makes the
    merge safe against the crash-before-commit window: only batches AT
    OR BELOW the last id in the checkpoint's ``commits/`` log are
    compacted. Without it, a run that crashed after writing state for
    batch N but before committing N would have N's rows merged into the
    surviving directory — the restarted stream replays N, its store read
    (``batch_id < N``) finds no older history, and its dynamic overwrite
    of ``batch_id=N`` would DESTROY the merged rows. With the bound,
    uncommitted directories are left untouched and the replay overwrites
    only its own rows. Pass it whenever the store belongs to a live
    stream (the streaming operators' auto-compaction does); omitting it
    is only safe when no run has ever crashed mid-batch, e.g. offline
    maintenance of a retired store.

    Operates on the flat layout the streaming dedup operators write
    (``batch_id=N``, compacted to ``batch_id=<max>``). A store in the
    retired ``pt=K/batch_id=N`` layout raises ``ValueError``: the stream
    cannot read it either, so the honest answer is "rebuild the state",
    not a compaction that papers over the mismatch. All file operations
    go through the Hadoop FileSystem API resolved from ``state_dir``.

    Safe ONLY between stream runs (no concurrent writer): every row
    keeps a copy, and future batches N > max read ``batch_id < N`` which
    still matches everything — with ``checkpoint_dir``, replay of any
    compacted batch cannot occur because only committed batches are
    merged.

    Crash-safe ordering — duplicates are harmless to the dedup semantics
    (candidate hits are set-joined), loss is not, so the merged rows are
    ADDED to the surviving directory before anything is deleted:

    1. write the full-row-distinct merge to a sibling staging dir (the
       leading underscore keeps it out of Spark partition discovery);
    2. move its part-files INTO ``batch_id=<max>`` (crash mid-move →
       duplicate rows at worst, every row still present somewhere);
    3. delete the older directories, the part-files ``batch_id=<max>``
       held before the move, and the staging dir (crash mid-delete →
       leftover duplicates, again harmless; re-running compaction
       cleans up).
    """
    import uuid

    _refuse_partitioned_store(spark, state_dir)

    def _batch_of(status) -> int:
        return int(status.getPath().getName().split("=", 1)[1])

    parts = _batch_dirs(spark, state_dir)
    batch_ids = sorted({_batch_of(s) for s in parts})
    if checkpoint_dir is not None:
        # merge only batches the stream checkpoint has COMMITTED: an
        # uncommitted batch (crash between state write and commit) will
        # be replayed, reads batch_id < N, and dynamically overwrites
        # its own directory — merging its rows upward would let that
        # overwrite destroy them
        last_committed = _last_committed_batch(spark, checkpoint_dir)
        batch_ids = [b for b in batch_ids if b <= last_committed]
    if len(batch_ids) <= 1:
        return batch_ids[0] if batch_ids else -1
    max_id = batch_ids[-1]

    from pyspark.sql import functions as F

    # schema-agnostic: full-row distinct works for the MinHash store
    # (band, bucket, id, sig) and the embedding store (tbl, bucket, id, v)
    # alike — crash-leftover duplicates are byte-identical rows. The
    # batch_id filter is a literal partition predicate (no-op when every
    # batch is compactable).
    merged = (
        spark.read.parquet(state_dir)
        .filter(F.col("batch_id") <= F.lit(max_id))
        .drop("batch_id")
        .dropDuplicates()
    )
    root = state_dir.rstrip("/")
    staging = f"{root}/_compacting"
    merged.write.mode("overwrite").parquet(staging)
    fs, hpath = _hadoop_fs(spark, state_dir)

    def _part_files(d):
        return [
            st.getPath()
            for st in fs.listStatus(d)
            if st.getPath().getName().startswith(("part-", "compact-"))
        ]

    dest = hpath(f"{root}/batch_id={max_id}")
    superseded = _part_files(dest)
    for f in _part_files(hpath(staging)):
        fs.rename(f, hpath(dest, f"compact-{uuid.uuid4().hex}-{f.getName()}"))
    for st in parts:
        if _batch_of(st) != max_id and _batch_of(st) in batch_ids:
            fs.delete(st.getPath(), True)
    for f in superseded:
        fs.delete(f, False)
    fs.delete(hpath(staging), True)
    return max_id


def incremental_unique_embeddings(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    dim: int,
    threshold: float = 0.95,
    num_planes: int = 12,
    num_tables: int = 4,
    seed: int = 42,
    schema: str = "vec_id bigint, embedding array<double>",
    compact_batches: int | None = 64,
    max_files_per_trigger: int = 16,
    available_now: bool = True,
):
    """Streaming CROSS-BATCH embedding near-dup dedup (cosine ≥
    ``threshold``) — the third member of the streaming dedup trio
    (exact fingerprints / MinHash text / embeddings).

    State is precomputed bucket rows (tbl, bucket, id, v array<double>)
    in one ``batch_id=N`` parquet directory per micro-batch — the full
    vector is stored per blocking table (a 64-dim embedding is ~0.5 KB,
    cheaper than a re-embeddable document), so candidate verification is
    EXACT cosine computed IN the bucket join, unlike the MinHash store's
    signature estimate. Blocking is RP-LSH sign buckets over
    ``num_tables`` independent hyperplane tables (union of seeds):
    per-table recall at cosine 0.95 with 12 planes is ~(1−θ/π)¹² ≈ 0.28,
    four tables ≈ 0.73; raise ``num_tables`` for higher recall, every
    candidate is exactly verified so precision is 1.0 regardless.

    The cross-batch join matches (tbl, bucket) against every strictly
    older batch (the literal partition filter ``batch_id < current``
    keeps a replayed batch from seeing itself). Replay-idempotence
    follows the same recipe as the MinHash variant: per-batch dynamic
    overwrite of ``batch_id=N``; every stream start auto-compacts
    committed batches once ``compact_batches`` batch directories exist
    (None disables; :func:`compact_signature_store` is schema-agnostic
    and can also run manually). A store in the retired (pt, batch_id)
    layout raises ``ValueError`` when the stream is defined. Within-batch cluster
    representatives keep the LEXICOGRAPHICALLY smallest id (ids are
    handled as strings, like every dedup operator here) — zero-pad
    numeric ids upstream if numeric-min semantics matter; the output id
    column is string for the same reason.
    """
    from pyspark.sql import functions as F

    from ..operators.canonicalize import connected_components
    from ..operators.similarity import cosine_sim, rp_lsh_buckets

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )

    def bucket_rows(vecs: DataFrame) -> DataFrame:
        # store-shaped rows: vector carried next to its bucket so every
        # join (within-batch AND cross-batch) verifies cosine in-join;
        # pure projections + union, zero shuffle
        parts = [
            rp_lsh_buckets(
                vecs, dim, num_planes, "id", "v", seed + 1000 * t, keep=("v",)
            ).select("id", "v", F.lit(t).alias("tbl"), "bucket")
            for t in range(num_tables)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.union(p)
        return out.select("tbl", "bucket", "id", "v")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # dim guard IN the value path: zip_with would pad a wrong-length
        # vector with nulls, every plane dot would be NULL, every vector
        # would land in bucket 0 of every table, and the candidate
        # self-join would silently go quadratic. Wrapping ``v`` itself in
        # when/raise_error means the first job that touches the batch
        # fails (all writes come last, so nothing is committed) with the
        # offending id in the message. Unlike the previous
        # ``filter(size != dim).count()`` gate this schedules no
        # blocking pre-pass job before the real work can be submitted;
        # plan shape is unchanged (same Exchange count with and without
        # the guard — when/raise_error stays inside the existing
        # projection)
        vecs = (
            batch_df.select(
                F.col(batch_df.columns[0]).cast("string").alias("id"),
                F.col(batch_df.columns[1]).cast("array<double>").alias("v"),
            )
            # same-id duplicate rows would both survive the id<id
            # candidate join — collapse them (contract: ids unique, so
            # duplicates are byte-identical and the pick deterministic)
            .dropDuplicates(["id"])
            .select(
                "id",
                F.when(F.size("v") == dim, F.col("v"))
                .otherwise(
                    F.raise_error(
                        F.format_string(
                            "batch %s: vector %s length %s != dim %s",
                            F.lit(str(batch_id)),
                            F.col("id"),
                            F.size("v").cast("string"),
                            F.lit(str(dim)),
                        )
                    )
                )
                .alias("v"),
            )
            .cache()
        )
        # released in ``finally``: a failing batch must not leave its
        # frames in the session's cache across stream restarts
        cached = [vecs]
        try:
            # hyperplane dots are the dominant per-row compute: compute the
            # bucket rows ONCE, cache, and derive the within-batch join, the
            # cross-batch probe, and the store write from the same rows
            rows = bucket_rows(vecs).cache()
            cached.append(rows)

            # within-batch: bucket candidates verified by exact cosine
            # IN-join (vectors travel with their buckets) → CC → keep min
            edges = (
                rows.alias("a")
                .join(
                    rows.alias("b"),
                    (F.col("a.tbl") == F.col("b.tbl"))
                    & (F.col("a.bucket") == F.col("b.bucket"))
                    & (F.col("a.id") < F.col("b.id")),
                )
                .filter(cosine_sim(F.col("a.v"), F.col("b.v")) >= threshold)
                .select(F.col("a.id").alias("src"), F.col("b.id").alias("dst"))
            )
            losers = connected_components(edges).filter(
                F.col("node") != F.col("component")
            ).select(F.col("node").alias("id"))
            survivors = vecs.join(losers, "id", "left_anti").cache()
            cached.append(survivors)

            # cross-batch: the survivors' bucket rows against every
            # strictly-older batch
            final, final_rows = survivors, rows.join(losers, "id", "left_anti")
            store = _read_older_batches(spark, state_dir, batch_id)
            if store is not None:
                hits = (
                    final_rows.alias("nw")
                    .join(
                        store.alias("od"),
                        (F.col("nw.tbl") == F.col("od.tbl"))
                        & (F.col("nw.bucket") == F.col("od.bucket")),
                    )
                    .filter(cosine_sim(F.col("nw.v"), F.col("od.v")) >= threshold)
                    .select(F.col("nw.id").alias("id"))
                    .distinct()
                )
                final = survivors.join(hits, "id", "left_anti").cache()
                cached.append(final)
                final_rows = final_rows.join(hits, "id", "left_anti")

            final.write.mode("overwrite").parquet(
                f"{output_dir}/batch_id={batch_id}"
            )
            _write_store(final_rows, state_dir, batch_id)
        finally:
            for df in cached:
                df.unpersist()

    _check_store_layout(
        spark,
        state_dir,
        {
            "kind": "embedding",
            "dim": dim,
            "num_planes": num_planes,
            "num_tables": num_tables,
            "seed": seed,
        },
    )
    _auto_compact(spark, state_dir, checkpoint_dir, compact_batches)
    return _start_foreach(stream, process_batch, checkpoint_dir, available_now)
