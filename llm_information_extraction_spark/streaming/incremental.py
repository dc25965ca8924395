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
``batch_id=<N>`` directory per micro-batch. Both run one micro-batch
chain, :func:`_dedup_micro_batch`: batch N's bucket rows self-join on
(band or table, bucket) into verified pairs and connected components,
the same rows join the rows of every batch below N (a literal partition
filter), and the batch drops its in-batch losers and store hits, then
overwrites its own directory with the rest. An operator supplies only
its bucket rows, a verify and an output write. Committed batches are
merged into one directory by :func:`compact_signature_store`.
"""

from __future__ import annotations

import json
import uuid
from functools import reduce

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.textmetrics import doc_fingerprint
from ..operators.canonicalize import connected_components
from ..operators.dedup import _banded_buckets, _rows_per_band, minhash_signatures
from ..operators.extraction import extract_triples
from ..operators.linking import link_mentions, vocabulary_df
from ..operators.payload import build_payload
from ..sources.synthetic import DOCUMENTS_SCHEMA


def _file_stream(
    spark: SparkSession, schema, input_dir: str, max_files_per_trigger: int
) -> DataFrame:
    """The streaming parquet file source every operator here reads:
    files landing in ``input_dir``, at most ``max_files_per_trigger``
    per micro-batch."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


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
    stream = _file_stream(spark, DOCUMENTS_SCHEMA, input_dir, max_files_per_trigger)
    vdf = vocabulary_df(spark)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        triples = link_mentions(
            extract_triples(build_payload(batch_df, mode=mode)), vdf
        )
        # overwrite-per-batch-directory = replay-idempotent commit
        triples.write.mode("overwrite").parquet(
            f"{output_dir}/batch_id={batch_id}"
        )

    return _start(
        stream.writeStream.foreachBatch(process_batch), checkpoint_dir, available_now
    )


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
    stream = _file_stream(spark, DOCUMENTS_SCHEMA, input_dir, max_files_per_trigger)
    with_fp = build_payload(stream).select(
        "doc_id", "spans", doc_fingerprint("payload").alias("fp")
    )
    unique = with_fp.dropDuplicates(["fp"])
    return _start(
        unique.writeStream.format("parquet")
        .option("path", output_dir)
        .outputMode("append"),
        checkpoint_dir,
        available_now,
    )


def _sig_est_jaccard(a, b, num_hashes: int):
    """Signature-estimated Jaccard: fraction of matching minhash slots
    (unbiased estimator, stderr ≈ 1/sqrt(num_hashes))."""
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
    disable cross-batch dedup.
    """
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


def _start(writer, checkpoint_dir: str, available_now: bool):
    """Start a stream writer on its checkpoint; ``available_now``
    processes the current backlog and stops."""
    writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _start_store_dedup(
    spark: SparkSession, stream: DataFrame, process_batch, checkpoint_dir: str,
    state_dir: str, compact_batches: int | None, available_now: bool, **layout,
):
    """Stream tail of the store-backed dedup operators: refuse a store
    of another ``layout`` (before any Spark job), auto-compact it, then
    start the foreachBatch query."""
    _check_store_layout(spark, state_dir, layout)
    _auto_compact(spark, state_dir, checkpoint_dir, compact_batches)
    return _start(
        stream.writeStream.foreachBatch(process_batch), checkpoint_dir, available_now
    )


def _dedup_micro_batch(
    spark: SparkSession, batch_id: int, base: DataFrame, rows: DataFrame, key: str,
    verify, output: DataFrame, output_dir: str, state_dir: str,
    output_id: str = "id", may_join=None,
) -> None:
    """The one micro-batch chain of the store-backed near-dup operators.

    ``rows`` are the batch's store-shaped bucket rows
    ``(key, bucket, id, payload)``, one per document and band or table;
    the signature or vector rides along, so every pair is verified in
    its join. The operator supplies them, ``verify(pairs, a, b)`` (joined
    pairs, sides aliased ``a`` and ``b`` → verified ``(src, dst)`` ids),
    the ``output`` frame whose rows of kept ``output_id`` values are the
    batch's output, and optionally ``may_join``, a filter on the rows
    that can clear the threshold at all. Then:

    1. within-batch: the joinable rows self-join on
       (key, bucket, a.id < b.id); verified pairs go through connected
       components, and every id but its component's min is a loser;
    2. cross-batch: the same rows join the store's strictly older
       batches on (key, bucket); a verified match is a store hit. Probing
       with all rows, not only the in-batch survivors, drops the same
       set: a loser is dropped either way;
    3. the kept ids' output rows overwrite ``output_dir/batch_id=N``,
       then their bucket rows overwrite the store's ``batch_id=N``; both
       replay-idempotent, as per-batch directory overwrites.

    ``base`` is the frame the operator computes once and ``rows`` (and
    possibly ``output``) derive from: the signatures, whose bands are a
    cheap explode, or the bucket rows themselves, whose hyperplane dots
    are not. It is cached in place and released in ``finally`` with
    every other cached frame: a failing batch must not leave them in the
    session's cache across stream restarts.
    """
    cached = [base.cache()]
    try:
        probe = rows if may_join is None else rows.filter(may_join)

        def pairs(other: DataFrame, a: str, b: str) -> DataFrame:
            return probe.alias(a).join(
                other.alias(b),
                (F.col(f"{a}.{key}") == F.col(f"{b}.{key}"))
                & (F.col(f"{a}.bucket") == F.col(f"{b}.bucket")),
            )

        # no distinct on the pairs: a pair sharing several buckets
        # repeats until CC's canonical-edge dedup, whose map-side
        # partial aggregate collapses the repeats in place
        edges = verify(
            pairs(probe, "a", "b").filter(F.col("a.id") < F.col("b.id")), "a", "b"
        )
        dropped = (
            connected_components(edges)
            .filter(F.col("node") != F.col("component"))
            .select(F.col("node").alias("id"))
        )
        store = _read_older_batches(spark, state_dir, batch_id)
        if store is not None:
            hits = verify(pairs(store, "nw", "od"), "nw", "od")
            dropped = dropped.union(hits.select(F.col("src").alias("id")))
        # ids of this micro-batch only: cached for both writes, which
        # broadcast them rather than shuffle the payload-wide rows
        dropped = dropped.distinct().cache()
        cached.append(dropped)
        output.join(
            F.broadcast(dropped.withColumnRenamed("id", output_id)),
            output_id,
            "left_anti",
        ).write.mode("overwrite").parquet(f"{output_dir}/batch_id={batch_id}")
        _write_store(
            rows.join(F.broadcast(dropped), "id", "left_anti"), state_dir, batch_id
        )
    finally:
        for df in cached:
            df.unpersist()


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
    never text. Per micro-batch, through the one chain of the
    store-backed dedup operators (:func:`_dedup_micro_batch`):

    1. sign incoming docs with the batch MinHash operators and band the
       signatures into store-shaped (band, bucket, id, sig) rows;
    2. within-batch: the rows self-join on (band, bucket); pairs whose
       signature-estimated Jaccard (computed in the join projection) is
       ≥ threshold go through connected components → keep min id;
    3. cross-batch: the same rows equi-join the store on (band, bucket).
       The store read carries the LITERAL partition filter
       ``batch_id < current``, so a REPLAYED batch never sees its own
       signatures. Estimated Jaccard ≥ threshold against the stored
       signature drops the newcomer;
    4. the kept docs overwrite ``output/batch_id=N``; their bucket rows
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

    def verify(pairs: DataFrame, a: str, b: str) -> DataFrame:
        # a pair colliding in several bands is estimated once per band
        # (sig_len int compares), never joined back to a signature table
        return pairs.filter(
            _sig_est_jaccard(F.col(f"{a}.sig"), F.col(f"{b}.sig"), sig_len)
            >= threshold
        ).select(F.col(f"{a}.id").alias("src"), F.col(f"{b}.id").alias("dst"))

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
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
        sig = minhash_signatures(docs, "doc_id", "payload", n, sig_len, seed)
        # the output keeps the INPUT row schema (doc_id, spans, ...) so
        # the deduped stream feeds the batch KG pipeline directly
        _dedup_micro_batch(
            spark, batch_id, sig, _banded_buckets(sig, num_hashes, bands), "band",
            verify, batch_df, output_dir, state_dir, output_id="doc_id",
        )

    return _start_store_dedup(
        spark, _file_stream(spark, DOCUMENTS_SCHEMA, input_dir, max_files_per_trigger),
        process_batch, checkpoint_dir, state_dir, compact_batches, available_now,
        kind="minhash", n=n, num_hashes=num_hashes, bands=bands, seed=seed,
        verify_hashes=verify_hashes,
    )


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

    Per micro-batch it runs the one chain of the store-backed dedup
    operators (:func:`_dedup_micro_batch`) on the bucket rows of vectors
    with a nonzero norm, verified by exact cosine ≥ ``threshold``.
    """
    from ..operators.similarity import _has_norm, _pair_cosines, rp_lsh_buckets

    def bucket_rows(vecs: DataFrame) -> DataFrame:
        # store-shaped rows: vector carried next to its bucket so every
        # join (within-batch AND cross-batch) verifies cosine in-join;
        # pure projections + union, zero shuffle
        parts = [
            rp_lsh_buckets(
                vecs, dim, num_planes, "id", "v", seed + 1000 * t, keep=("v",)
            ).select(F.lit(t).alias("tbl"), "bucket", "id", "v")
            for t in range(num_tables)
        ]
        return reduce(DataFrame.union, parts)

    def verify(pairs: DataFrame, a: str, b: str) -> DataFrame:
        src, dst = F.col(f"{a}.id").alias("src"), F.col(f"{b}.id").alias("dst")
        return (
            _pair_cosines(pairs, f"{a}.v", f"{b}.v", src, dst)
            .filter(F.col("cosine") >= threshold)
            .select("src", "dst")
        )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # dim guard IN the value path: zip_with would pad a wrong-length
        # vector with nulls, every plane dot would be NULL, every vector
        # would land in bucket 0 of every table, and the candidate
        # self-join would silently go quadratic. Wrapping ``v`` itself in
        # when/raise_error means the first job that touches the batch
        # fails (all writes come last, so nothing is committed) with the
        # offending id in the message, and no pre-pass job runs: the
        # guard stays inside the existing projection
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
        )
        rows = bucket_rows(vecs)
        # every vector has one row per table, so table 0's rows are the
        # vectors; zero-norm vectors share one bucket per table and score
        # 0.0: above a positive threshold they join nothing
        _dedup_micro_batch(
            spark, batch_id, rows, rows, "tbl", verify,
            rows.filter(F.col("tbl") == 0).select("id", "v"), output_dir, state_dir,
            may_join=_has_norm("v") if threshold > 0 else None,
        )

    return _start_store_dedup(
        spark, _file_stream(spark, schema, input_dir, max_files_per_trigger),
        process_batch, checkpoint_dir, state_dir, compact_batches, available_now,
        kind="embedding", dim=dim, num_planes=num_planes, num_tables=num_tables,
        seed=seed,
    )
