"""Ingest (S1-S3, J1) and streaming-parity tests."""

import json

import pytest
from pyspark.sql import functions as F

from llm_information_extraction_spark.operators.extraction import extract_triples
from llm_information_extraction_spark.operators.linking import (
    link_mentions,
    vocabulary_df,
)
from llm_information_extraction_spark.operators.payload import build_payload
from llm_information_extraction_spark.sources.ingest import (
    flat_papers,
    load_json_corpus,
    validated_one_to_one_join,
)
from llm_information_extraction_spark.sources.synthetic import generate_documents
from llm_information_extraction_spark.streaming.incremental import (
    incremental_triples,
    incremental_unique_documents,
)


def test_load_json_corpus_orders_and_normalizes(spark, tmp_path):
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    papers = [
        ("03_333.json", {"metadata": {"PMID": "333", "title": "c"}, "body": "z"}),
        ("01_111.json", {"pmcid": "PMC111", "title": "a", "body": "x"}),
        ("02_222.json", {"title": "b", "body": "y"}),  # PMID from filename
    ]
    for name, payload in papers:
        (corpus / name).write_text(json.dumps(payload))
    df = load_json_corpus(spark, str(corpus))
    rows = df.select("PMID").collect()
    assert [r["PMID"] for r in rows] == ["111", "222", "333"]


def test_flat_papers_coalesce(spark, tmp_path):
    corpus = tmp_path / "c2"
    corpus.mkdir()
    (corpus / "01_9.json").write_text(
        json.dumps(
            {
                "metadata": {"PMID": "9", "title": "meta title"},
                "title": "top title",
                "abstract": "abs",
                "body": "b",
            }
        )
    )
    flat = flat_papers(load_json_corpus(spark, str(corpus))).collect()[0]
    assert flat["doc_id"] == "9"
    assert flat["title"] == "meta title"  # metadata wins (main.py:57-61)
    assert flat["keywords"] == ""  # missing → ''


def test_validated_one_to_one_join(spark):
    a = spark.createDataFrame([(1, "x"), (2, "y")], "k int, va string")
    b = spark.createDataFrame([(1, "p")], "k int, vb string")
    out = validated_one_to_one_join(a, b, "k").orderBy("k").collect()
    assert [r["vb"] for r in out] == ["p", None]
    b_dup = spark.createDataFrame([(1, "p"), (1, "q")], "k int, vb string")
    with pytest.raises(ValueError, match="duplicate keys"):
        validated_one_to_one_join(a, b_dup, "k")


def test_streaming_matches_batch(spark, tmp_path):
    docs = generate_documents(spark, 80, seed=21)
    in_dir = str(tmp_path / "in")
    docs.repartition(4).write.parquet(in_dir)

    out_dir = str(tmp_path / "out")
    q = incremental_triples(
        spark, in_dir, out_dir, str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(120)

    batch = link_mentions(
        extract_triples(build_payload(spark.read.parquet(in_dir))),
        vocabulary_df(spark),
    )
    streamed = spark.read.parquet(out_dir).drop("batch_id")
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0

    # restart with same checkpoint: no files left → no duplicate output
    n_before = streamed.count()
    q2 = incremental_triples(
        spark, in_dir, out_dir, str(tmp_path / "ckpt"), available_now=True
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == n_before


def test_streaming_cross_batch_dedup(spark, tmp_path):
    """Stateful dropDuplicates suppresses duplicates ACROSS micro-batches:
    re-ingesting the same documents in a later batch adds zero rows, new
    documents still land."""
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    docs_a = generate_documents(spark, 30, seed=50)
    docs_a.write.parquet(in_dir)
    q = incremental_unique_documents(spark, in_dir, out_dir, ckpt)
    q.awaitTermination(120)
    out_a = spark.read.parquet(out_dir)
    n_a = out_a.count()
    assert n_a == out_a.select("fp").distinct().count()

    # batch 2: the SAME 30 docs again (cross-batch duplicates) + 20 new
    docs_a.write.mode("append").parquet(in_dir)
    generate_documents(spark, 20, seed=51).write.mode("append").parquet(in_dir)
    q2 = incremental_unique_documents(spark, in_dir, out_dir, ckpt)
    q2.awaitTermination(120)
    out_all = spark.read.parquet(out_dir)
    n_all = out_all.count()
    assert n_all == out_all.select("fp").distinct().count()
    assert n_all > n_a  # new docs landed
    assert n_all < n_a + 30 + 20  # replayed docs were suppressed


def test_streaming_sink_idempotent_on_batch_replay(spark, tmp_path):
    """Crash-after-write-before-checkpoint-commit replays the micro-batch;
    the per-batch_id overwrite sink must not duplicate rows. Simulated by
    re-running the whole (single-batch) stream with a FRESH checkpoint
    against the same output directory — same batch id, same data."""
    docs = generate_documents(spark, 40, seed=33)
    in_dir = str(tmp_path / "in")
    docs.repartition(2).write.parquet(in_dir)
    out_dir = str(tmp_path / "out")

    q = incremental_triples(
        spark, in_dir, out_dir, str(tmp_path / "ckpt1"), available_now=True
    )
    q.awaitTermination(120)
    n_first = spark.read.parquet(out_dir).count()

    q2 = incremental_triples(
        spark, in_dir, out_dir, str(tmp_path / "ckpt2"), available_now=True
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == n_first


def _span_doc(doc_id, text):
    return (doc_id, [("body", text, None, 0)])


def _salad(rng, n_words):
    words = [f"w{rng.integers(0, 5000):04d}" for _ in range(n_words)]
    return " ".join(words)


def test_streaming_fuzzy_dedup_catches_near_dup_batches_later(spark, tmp_path):
    """A NEAR-duplicate (one word changed) arriving two micro-batches
    after the original is suppressed by the signature store; replaying
    the last batch (crash before checkpoint commit) changes nothing; the
    store still answers after compaction."""
    import numpy as np

    from llm_information_extraction_spark.sources.synthetic import (
        DOCUMENTS_SCHEMA,
    )
    from llm_information_extraction_spark.streaming.incremental import (
        compact_signature_store,
        incremental_fuzzy_unique_documents,
    )

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    state = str(tmp_path / "state")
    rng = np.random.default_rng(5)

    base_text = _salad(rng, 60)
    near_dup = base_text.replace(base_text.split()[30], "wXXXX", 1)
    assert near_dup != base_text

    def run():
        import time

        q = incremental_fuzzy_unique_documents(
            spark, in_dir, out_dir, ckpt, state, threshold=0.8
        )
        q.awaitTermination(180)
        q.stop()
        for _ in range(100):  # full deregistration before the next start
            if not q.isActive:
                break
            time.sleep(0.2)

    def write(rows):
        spark.createDataFrame(rows, DOCUMENTS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)

    # batch 0: the original + one unrelated doc
    write([_span_doc("a0", base_text), _span_doc("a1", _salad(rng, 40))])
    run()
    # batch 1: unrelated noise
    write([_span_doc("b0", _salad(rng, 40))])
    run()
    # batch 2: the near-dup (two batches later) + a fresh doc
    write([_span_doc("c0", near_dup), _span_doc("c1", _salad(rng, 40))])
    run()

    ids = {r["doc_id"] for r in spark.read.parquet(out_dir).collect()}
    assert ids == {"a0", "a1", "b0", "c1"}  # c0 suppressed cross-batch

    # -- replay: drop the LAST checkpoint commit → Spark re-runs batch 2
    import os

    commits = sorted(os.listdir(f"{ckpt}/commits"))
    last = [c for c in commits if not c.startswith(".")][-1]
    os.remove(f"{ckpt}/commits/{last}")
    crc = f"{ckpt}/commits/.{last}.crc"  # orphan checksum breaks rewrite
    if os.path.exists(crc):
        os.remove(crc)
    run()
    ids2 = {r["doc_id"] for r in spark.read.parquet(out_dir).collect()}
    assert ids2 == ids  # replay-idempotent: same rows, no dupes
    assert spark.read.parquet(out_dir).count() == 4

    # -- compaction: one batch dir left, same answers afterwards ----------
    compact_signature_store(spark, state)
    import glob

    batch_dirs = glob.glob(f"{state}/batch_id=*")
    assert batch_dirs  # flat batch_id=N layout
    assert len({d.rsplit("=", 1)[1] for d in batch_dirs}) == 1
    write([_span_doc("d0", base_text), _span_doc("d1", _salad(rng, 40))])
    run()
    ids3 = {r["doc_id"] for r in spark.read.parquet(out_dir).collect()}
    assert ids3 == ids | {"d1"}  # exact copy d0 still caught post-compact


def _near_dup_batches(kind):
    """Two micro-batches for a store-backed near-dup operator: stored
    rows s1..s3, then b1 ~ s1, b2 ~ b1 (a further step away from s1),
    b3 ~ s2 and two controls b4, b5. Returns (schema, batches, id_col,
    start kwargs)."""
    import numpy as np

    from llm_information_extraction_spark.sources.synthetic import (
        DOCUMENTS_SCHEMA,
    )

    if kind == "minhash":
        rng = np.random.default_rng(21)

        def edit(text, positions, tag):
            words = text.split()
            for k, i in enumerate(positions):
                words[i] = f"{tag}{k}"
            return " ".join(words)

        s1, s2, s3 = (_salad(rng, 200) for _ in range(3))
        # 4 edited words replace 12 of 198 word-3-grams: Jaccard ≈ 0.89
        # per step, ≈ 0.78 from s1 to b2
        b1 = edit(s1, (20, 60, 100, 140), "xa")
        b2 = edit(b1, (40, 80, 120, 160), "xb")
        b3 = edit(s2, (50, 150), "xc")
        batches = [
            [("s1", s1), ("s2", s2), ("s3", s3)],
            [("b1", b1), ("b2", b2), ("b3", b3), ("b4", _salad(rng, 200)),
             ("b5", _salad(rng, 200))],
        ]
        return (
            DOCUMENTS_SCHEMA,
            [[_span_doc(i, t) for i, t in b] for b in batches],
            "doc_id",
            {},
        )

    def unit(angle, axes=(0, 1)):
        v = [0.0] * 8
        v[axes[0]], v[axes[1]] = float(np.cos(angle)), float(np.sin(angle))
        return v

    # cosine 0.97 per step (above 0.95), 0.88 from s1 to b2
    step = float(np.arccos(0.97))
    batches = [
        [(1, unit(0.0)), (2, unit(0.0, (2, 3))), (3, unit(0.0, (4, 5)))],
        [(11, unit(step)), (12, unit(2 * step)), (13, unit(0.1, (2, 3))),
         (14, unit(0.0, (6, 7))), (15, unit(np.pi / 2, (4, 5)))],
    ]
    # 4 planes x 8 tables: a 0.97 pair shares a bucket in some table
    # with probability > 0.9999
    kw = {"dim": 8, "num_planes": 4, "num_tables": 8}
    return "vec_id bigint, embedding array<double>", batches, "id", kw


@pytest.mark.parametrize("kind", ["minhash", "embedding"])
def test_streaming_near_dup_batch_drops_losers_and_store_hits(
    spark, tmp_path, kind
):
    """One batch after a stored batch drops its in-batch losers AND its
    store hits: b2 loses to b1 inside the batch, b1 (the pair's min id)
    and b3 near-copy stored rows. Only the controls reach the output and
    the store, the same set whether the store is probed with every row
    or only with the in-batch survivors."""
    import time

    from llm_information_extraction_spark.streaming.incremental import (
        incremental_fuzzy_unique_documents,
        incremental_unique_embeddings,
    )

    schema, batches, id_col, kw = _near_dup_batches(kind)
    start = {
        "minhash": incremental_fuzzy_unique_documents,
        "embedding": incremental_unique_embeddings,
    }[kind]
    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    state = str(tmp_path / "state")
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        q = start(spark, in_dir, out_dir, str(tmp_path / "ckpt"), state, **kw)
        q.awaitTermination(180)
        q.stop()
        for _ in range(100):
            if not q.isActive:
                break
            time.sleep(0.2)
        assert q.exception() is None

    def ids(path, col):
        return {str(r[col]) for r in spark.read.parquet(path).collect()}

    first, second = (
        {"s1", "s2", "s3"}, {"b4", "b5"}
    ) if kind == "minhash" else ({"1", "2", "3"}, {"14", "15"})
    assert ids(f"{out_dir}/batch_id=0", id_col) == first
    assert ids(f"{out_dir}/batch_id=1", id_col) == second
    assert ids(f"{state}/batch_id=1", "id") == second
    assert ids(state, "id") == first | second


def test_streaming_embedding_zero_vectors_join_no_candidates(
    spark, tmp_path, monkeypatch
):
    """Zero vectors share one RP-LSH bucket per table and score 0.0, so
    the within-batch candidate join leaves them out above a positive
    threshold; they still land in the output and in the store."""
    import os

    from llm_information_extraction_spark.operators import similarity
    from llm_information_extraction_spark.streaming.incremental import (
        incremental_unique_embeddings,
    )

    scored = []
    pair_cosines = similarity._pair_cosines

    def spy(pairs, a, b, *cols):
        if a == "a.v":  # the within-batch join
            scored.extend(
                tuple(r) for r in pairs.select("a.id", "b.id").collect()
            )
        return pair_cosines(pairs, a, b, *cols)

    monkeypatch.setattr(similarity, "_pair_cosines", spy)
    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    state = str(tmp_path / "state")
    rows = [(1, [0.0] * 4), (2, [0.0] * 4), (3, [1.0, 0.5, 0.2, 0.1]),
            (4, [1.0, 0.5, 0.2, 0.1001]), (5, [-0.3, 0.9, 0.1, 0.0])]
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    ).coalesce(1).write.parquet(in_dir)
    q = incremental_unique_embeddings(
        spark, in_dir, out_dir, str(tmp_path / "ckpt"), state, dim=4,
        threshold=0.95,
    )
    q.awaitTermination(180)
    q.stop()
    ids = {int(r["id"]) for r in spark.read.parquet(out_dir).collect()}
    assert ids == {1, 2, 3, 5}  # 4 is a near-copy of 3
    assert ("3", "4") in scored
    assert not {"1", "2"} & {i for p in scored for i in p}
    stored = {r["id"] for r in spark.read.parquet(state).collect()}
    assert {"1", "2"} <= stored and os.listdir(state)


def test_streaming_embedding_dedup_cross_batch(spark, tmp_path):
    """An embedding near-copy (cosine > 0.95) arriving two batches after
    the original is suppressed by the vector store with EXACT cosine
    verification; distinct vectors always land."""
    import numpy as np

    from llm_information_extraction_spark.streaming.incremental import (
        incremental_unique_embeddings,
    )

    dim = 8
    rng = np.random.default_rng(9)
    base = rng.normal(size=dim)
    near = base + rng.normal(scale=0.01, size=dim)  # cosine ~0.9999
    cos = float(base @ near / (np.linalg.norm(base) * np.linalg.norm(near)))
    assert cos > 0.99

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    state = str(tmp_path / "state")

    def write(rows):
        spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in rows],
            "vec_id bigint, embedding array<double>",
        ).coalesce(1).write.mode("append").parquet(in_dir)

    def run():
        import time

        q = incremental_unique_embeddings(
            spark, in_dir, out_dir, ckpt, state, dim=dim, threshold=0.95
        )
        q.awaitTermination(180)
        q.stop()
        for _ in range(100):
            if not q.isActive:
                break
            time.sleep(0.2)

    # (1, base) appears TWICE in the batch: same-id duplicate rows must
    # collapse to one output row (the id<id candidate join can't pair them)
    write([(1, base), (1, base), (2, rng.normal(size=dim))])
    run()
    assert spark.read.parquet(out_dir).count() == 2
    write([(3, rng.normal(size=dim))])
    run()
    write([(4, near), (5, rng.normal(size=dim))])  # 4 = near-dup of 1
    run()

    ids = {int(r["id"]) for r in spark.read.parquet(out_dir).collect()}
    assert ids == {1, 2, 3, 5}  # 4 suppressed two batches later

    # replay the last micro-batch (crash before checkpoint commit):
    # identical output, no duplicates
    import os

    commits = sorted(
        c for c in os.listdir(f"{ckpt}/commits") if not c.startswith(".")
    )
    os.remove(f"{ckpt}/commits/{commits[-1]}")
    crc = f"{ckpt}/commits/.{commits[-1]}.crc"
    if os.path.exists(crc):
        os.remove(crc)
    run()
    ids2 = {int(r["id"]) for r in spark.read.parquet(out_dir).collect()}
    assert ids2 == ids and spark.read.parquet(out_dir).count() == 4

    # compact the (id, v) store; a later exact copy is still caught
    import glob

    from llm_information_extraction_spark.streaming.incremental import (
        compact_signature_store,
    )

    compact_signature_store(spark, state)
    batch_dirs = glob.glob(f"{state}/batch_id=*")
    assert batch_dirs and len({d.rsplit("=", 1)[1] for d in batch_dirs}) == 1
    write([(6, base), (7, rng.normal(size=dim))])
    run()
    ids3 = {int(r["id"]) for r in spark.read.parquet(out_dir).collect()}
    assert ids3 == ids | {7}  # 6 caught against the compacted store


def test_streaming_embedding_dedup_dim_mismatch_fails_in_plan(
    spark, tmp_path
):
    """A wrong-length vector must fail the micro-batch BEFORE anything
    commits — via the in-plan raise_error guard on the value path (zero
    extra jobs), not a separate count() job. The error names the
    offending id and nothing is written to output or store."""
    import os

    from pyspark.errors.exceptions.base import StreamingQueryException
    from llm_information_extraction_spark.streaming.incremental import (
        incremental_unique_embeddings,
    )

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    spark.createDataFrame(
        [(1, [0.1] * 8), (2, [0.2] * 5)],  # id 2: length 5 != dim 8
        "vec_id bigint, embedding array<double>",
    ).coalesce(1).write.mode("append").parquet(in_dir)
    q = incremental_unique_embeddings(
        spark,
        in_dir,
        out_dir,
        str(tmp_path / "ckpt"),
        str(tmp_path / "state"),
        dim=8,
    )
    with pytest.raises(StreamingQueryException, match="length 5 != dim 8"):
        q.awaitTermination(180)
        raise AssertionError("query should have failed")  # pragma: no cover
    q.stop()
    # failed batch commits nothing: no output rows, no store partitions
    assert not os.path.exists(f"{out_dir}/batch_id=0")
    assert not any(
        p.startswith("batch_id=") for p in os.listdir(str(tmp_path / "state"))
    )


def test_streaming_fuzzy_dedup_verify_hashes_prevents_false_drop(
    spark, tmp_path
):
    """The cross-batch drop decision is a signature ESTIMATE; pair
    '42x12' (true word-3-gram Jaccard = 40/56 ≈ 0.714, below the 0.8
    threshold) band-collides and its 64-slot estimate reads 0.812 — the
    narrow gate falsely drops unique data. The default 256-slot verify
    signature (same bucket keys: the hash family is prefix-stable) reads
    0.746 and keeps it. Deterministic pair found by
    tools/measure_minhash_fp.py; measured false-drop curve in
    BENCH/minhash_fp.json."""
    import pytest

    from llm_information_extraction_spark.sources.synthetic import (
        DOCUMENTS_SCHEMA,
    )
    from llm_information_extraction_spark.streaming.incremental import (
        incremental_fuzzy_unique_documents,
    )

    s, m, pid = 42, 50, "42x12"
    shared = [f"p{pid}s{i}" for i in range(s)]
    text_a = " ".join(shared + [f"p{pid}a{i}" for i in range(m - s)])
    text_b = " ".join(shared + [f"p{pid}b{i}" for i in range(m - s)])

    def run(tag, **kw):
        import time

        in_dir = str(tmp_path / tag / "in")
        paths = {
            "out": str(tmp_path / tag / "out"),
            "ckpt": str(tmp_path / tag / "ckpt"),
            "state": str(tmp_path / tag / "state"),
        }
        for batch in ([_span_doc("a", text_a)], [_span_doc("b", text_b)]):
            spark.createDataFrame(batch, DOCUMENTS_SCHEMA).coalesce(
                1
            ).write.mode("append").parquet(in_dir)
            q = incremental_fuzzy_unique_documents(
                spark,
                in_dir,
                paths["out"],
                paths["ckpt"],
                paths["state"],
                threshold=0.8,
                **kw,
            )
            q.awaitTermination(180)
            q.stop()
            for _ in range(100):
                if not q.isActive:
                    break
                time.sleep(0.2)
        return {r["doc_id"] for r in spark.read.parquet(paths["out"]).collect()}

    # default (verify_hashes=256): the non-dup pair survives intact
    assert run("wide") == {"a", "b"}
    # narrow 64-slot gate: 'b' is falsely dropped — the measured failure
    # mode the wider default exists to prevent
    assert run("narrow", verify_hashes=None) == {"a"}
    # a verify signature shorter than the blocking signature is invalid
    with pytest.raises(ValueError, match="must be >= num_hashes"):
        incremental_fuzzy_unique_documents(
            spark,
            str(tmp_path / "x"),
            str(tmp_path / "y"),
            str(tmp_path / "z"),
            str(tmp_path / "w"),
            verify_hashes=32,
        )


def test_streaming_fuzzy_dedup_collapses_same_batch_duplicate_rows(
    spark, tmp_path
):
    """Byte-identical rows with the SAME doc_id landing in one
    micro-batch must yield ONE output row (the id < id candidate join
    cannot pair same-id rows, so this needs the explicit per-batch id
    collapse)."""
    import numpy as np

    from llm_information_extraction_spark.sources.synthetic import (
        DOCUMENTS_SCHEMA,
    )
    from llm_information_extraction_spark.streaming.incremental import (
        incremental_fuzzy_unique_documents,
    )

    rng = np.random.default_rng(3)
    text = _salad(rng, 50)
    rows = [_span_doc("x0", text), _span_doc("x0", text), _span_doc("x1", _salad(rng, 40))]
    in_dir = str(tmp_path / "in")
    spark.createDataFrame(rows, DOCUMENTS_SCHEMA).coalesce(1).write.parquet(
        in_dir
    )
    q = incremental_fuzzy_unique_documents(
        spark,
        in_dir,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        str(tmp_path / "state"),
    )
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == 2  # one x0 row, one x1 row
    assert {r["doc_id"] for r in out.collect()} == {"x0", "x1"}


def test_streaming_store_reads_strictly_older_batches(spark, tmp_path):
    """The flat store holds one batch_id=N directory per batch; the
    cross-batch read for batch N sees only batches below N through a
    literal partition filter on the scan, a replayed batch rewrites only
    its own directory, and compaction keeps one copy of each row."""
    import os

    from llm_information_extraction_spark.streaming.incremental import (
        _read_older_batches,
        _write_store,
        compact_signature_store,
    )

    schema = "band int, bucket long, id string, sig array<bigint>"
    state = str(tmp_path / "state")
    # missing store → None (first batch)
    assert _read_older_batches(spark, state, 1) is None
    rows = {
        0: [(0, 11, "a", [1, 2]), (1, 12, "b", [3, 4])],
        1: [(0, 11, "c", [1, 2])],
        2: [(3, 14, "d", [7, 8])],
    }
    for b, r in rows.items():
        _write_store(spark.createDataFrame(r, schema), state, b)
    assert sorted(p for p in os.listdir(state) if "=" in p) == [
        "batch_id=0", "batch_id=1", "batch_id=2"
    ]

    older = _read_older_batches(spark, state, 2)
    assert {(r["id"], r["batch_id"]) for r in older.collect()} == {
        ("a", 0), ("b", 0), ("c", 1)
    }
    plan = older._jdf.queryExecution().executedPlan().toString()
    assert "batch_id" in plan.split("PartitionFilters")[1].split("]")[0]
    assert _read_older_batches(spark, state, 0).count() == 0

    # replayed batch 1 rewrites exactly its own directory: no duplicates
    _write_store(spark.createDataFrame(rows[1], schema), state, 1)
    assert spark.read.parquet(state).count() == 4
    assert _read_older_batches(spark, state, 99).count() == 4

    # compaction folds every batch into batch_id=2, one copy of each row
    assert compact_signature_store(spark, state) == 2
    assert [p for p in os.listdir(state) if "=" in p] == ["batch_id=2"]
    assert spark.read.parquet(state).count() == 4


def test_streaming_retired_partitioned_store_raises_before_any_job(
    spark, tmp_path
):
    """A store in the retired (pt, batch_id) layout — pt=K directories,
    or a layout marker recording the partition count — is refused when
    the stream is defined, before any Spark job; compaction refuses a
    pt=K/batch_id=N store the same way."""
    import json
    import os

    from llm_information_extraction_spark.session import job_group
    from llm_information_extraction_spark.streaming.incremental import (
        compact_signature_store,
        incremental_fuzzy_unique_documents,
        incremental_unique_embeddings,
    )

    by_marker = tmp_path / "marker"
    by_marker.mkdir()
    (by_marker / "_layout.json").write_text(json.dumps({
        "kind": "embedding", "dim": 8, "num_planes": 12, "num_tables": 4,
        "seed": 42, "store_partitions": 4,
    }))
    by_dirs = tmp_path / "dirs"
    os.makedirs(by_dirs / "pt=3" / "batch_id=0")
    (tmp_path / "in").mkdir()

    group = "test:retired-store"
    with job_group(spark, group):
        with pytest.raises(ValueError, match="retired"):
            incremental_unique_embeddings(
                spark, str(tmp_path / "in"), str(tmp_path / "out"),
                str(tmp_path / "ckpt"), str(by_marker), dim=8,
            )
        with pytest.raises(ValueError, match="retired"):
            incremental_fuzzy_unique_documents(
                spark, str(tmp_path / "in"), str(tmp_path / "out"),
                str(tmp_path / "ckpt"), str(by_dirs),
            )
        with pytest.raises(ValueError, match="retired"):
            compact_signature_store(spark, str(by_dirs))
    assert not spark.sparkContext.statusTracker().getJobIdsForGroup(group)


def test_streaming_failed_batch_releases_cached_frames(
    spark, tmp_path, monkeypatch
):
    """A micro-batch that fails after caching its frames unpersists them:
    nothing stays in the session's cache manager for the next run."""
    import numpy as np
    from pyspark.errors.exceptions.base import StreamingQueryException

    from llm_information_extraction_spark.sources.synthetic import (
        DOCUMENTS_SCHEMA,
    )
    from llm_information_extraction_spark.streaming import incremental

    def failing_write(rows, state_dir, batch_id):
        raise RuntimeError("store write failed")

    monkeypatch.setattr(incremental, "_write_store", failing_write)
    rng = np.random.default_rng(4)
    spark.createDataFrame(
        [_span_doc("a", _salad(rng, 40)), _span_doc("b", _salad(rng, 40))],
        DOCUMENTS_SCHEMA,
    ).coalesce(1).write.parquet(str(tmp_path / "docs"))
    spark.createDataFrame(
        [(1, [0.1] * 8), (2, [0.2, -0.1] * 4)],
        "vec_id bigint, embedding array<double>",
    ).coalesce(1).write.parquet(str(tmp_path / "vecs"))
    spark.catalog.clearCache()
    for tag, start in (
        ("docs", incremental.incremental_fuzzy_unique_documents),
        ("vecs", lambda *a: incremental.incremental_unique_embeddings(*a, dim=8)),
    ):
        q = start(
            spark, str(tmp_path / tag), str(tmp_path / f"{tag}_out"),
            str(tmp_path / f"{tag}_ckpt"), str(tmp_path / f"{tag}_state"),
        )
        with pytest.raises(StreamingQueryException, match="store write failed"):
            q.awaitTermination(180)
            raise AssertionError("query should have failed")  # pragma: no cover
        q.stop()
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), tag


def test_streaming_fuzzy_dedup_empty_text_batch_then_normal_batch(
    spark, tmp_path, monkeypatch
):
    """A micro-batch of empty-text docs (no shingles) runs through; the
    next batch reads its stored rows (or finds no store when it wrote
    none) and keeps the right ids."""
    import os
    import time

    import numpy as np

    from llm_information_extraction_spark.sources.synthetic import (
        DOCUMENTS_SCHEMA,
    )
    from llm_information_extraction_spark.streaming import incremental

    reads = {}
    real_read = incremental._read_older_batches

    def spy_read(spark_, state_dir, batch_id):
        store = real_read(spark_, state_dir, batch_id)
        reads[batch_id] = None if store is None else store.count()
        return store

    monkeypatch.setattr(incremental, "_read_older_batches", spy_read)
    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    state = str(tmp_path / "state")
    rng = np.random.default_rng(8)
    batches = [
        [_span_doc("e0", ""), _span_doc("e1", ""), _span_doc("e2", " ")],
        [_span_doc("n0", _salad(rng, 40)), _span_doc("n1", _salad(rng, 40))],
    ]
    for rows in batches:
        spark.createDataFrame(rows, DOCUMENTS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        q = incremental.incremental_fuzzy_unique_documents(
            spark, in_dir, out_dir, str(tmp_path / "ckpt"), state
        )
        q.awaitTermination(180)
        q.stop()
        for _ in range(100):
            if not q.isActive:
                break
            time.sleep(0.2)
        assert q.exception() is None

    out = {
        b: {r["doc_id"] for r in spark.read.parquet(f"{out_dir}/batch_id={b}").collect()}
        for b in (0, 1)
    }
    assert out[1] == {"n0", "n1"}
    # the empty texts share one signature: exact duplicates, min id kept
    assert out[0] == {"e0"}
    assert reads[0] is None
    if os.path.exists(f"{state}/batch_id=0"):
        assert reads[1] == spark.read.parquet(f"{state}/batch_id=0").count() > 0
    else:
        assert reads[1] is None


def test_streaming_store_layout_mismatch_fails_fast(spark, tmp_path):
    """Reopening a store with different blocking parameters must raise:
    precomputed pt/bucket values are incompatible and a silent mismatch
    would let near-dups of stored docs through undetected."""
    import pytest

    from llm_information_extraction_spark.streaming.incremental import (
        _check_store_layout,
    )

    state = str(tmp_path / "state")
    layout = {"kind": "minhash", "bands": 16, "store_partitions": 4}
    _check_store_layout(spark, state, layout)  # first run writes marker
    _check_store_layout(spark, state, dict(layout))  # same params: fine
    with pytest.raises(ValueError, match="different blocking parameters"):
        _check_store_layout(
            spark, state, {**layout, "store_partitions": 8}
        )
    # an optional parameter added in a later version must NOT brick a
    # legacy store when it is off (None == absent)...
    _check_store_layout(spark, state, {**layout, "verify_hashes": None})
    # ...and when it IS on, the error must name the absent side
    with pytest.raises(ValueError, match="<absent>.*256|256.*<absent>"):
        _check_store_layout(spark, state, {**layout, "verify_hashes": 256})


def test_streaming_fuzzy_verify_equal_to_num_hashes_is_legacy_geometry(
    spark, tmp_path
):
    """verify_hashes == num_hashes produces byte-identical stores to
    verify_hashes=None: a store built with one must reopen with the
    other (the layout marker normalizes both to 'no verify signature')."""
    import time

    from llm_information_extraction_spark.sources.synthetic import (
        DOCUMENTS_SCHEMA,
    )
    from llm_information_extraction_spark.streaming.incremental import (
        incremental_fuzzy_unique_documents,
    )

    in_dir = str(tmp_path / "in")
    spark.createDataFrame(
        [_span_doc("a", "alpha beta gamma delta epsilon zeta")],
        DOCUMENTS_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(in_dir)

    def run(vh):
        q = incremental_fuzzy_unique_documents(
            spark,
            in_dir,
            str(tmp_path / "out"),
            str(tmp_path / "ckpt"),
            str(tmp_path / "state"),
            verify_hashes=vh,
        )
        q.awaitTermination(120)
        q.stop()
        for _ in range(100):
            if not q.isActive:
                break
            time.sleep(0.2)

    run(None)
    run(64)  # == num_hashes default: same geometry, must reopen cleanly


def test_compact_signature_store_edge_cases(spark, tmp_path):
    """Missing store → -1; single-batch store → no-op returning that
    batch; double compaction is idempotent."""
    from llm_information_extraction_spark.streaming.incremental import (
        _write_store,
        compact_signature_store,
    )

    state = str(tmp_path / "state")
    assert compact_signature_store(spark, state) == -1  # missing dir

    schema = "pt int, bucket long, id string, sig array<bigint>"
    _write_store(
        spark.createDataFrame([(0, 1, "a", [1]), (1, 2, "b", [2])], schema),
        state,
        7,
    )
    assert compact_signature_store(spark, state) == 7  # single batch: no-op
    _write_store(spark.createDataFrame([(0, 3, "c", [3])], schema), state, 9)
    assert compact_signature_store(spark, state) == 9
    assert compact_signature_store(spark, state) == 9  # idempotent
    rows = {(r["pt"], r["id"]) for r in spark.read.parquet(state).collect()}
    assert rows == {(0, "a"), (1, "b"), (0, "c")}


def test_compact_checkpoint_aware_spares_uncommitted_batch(spark, tmp_path):
    """Crash-before-commit window: with a checkpoint dir, compaction
    merges only COMMITTED batches — an uncommitted batch's partitions
    stay where the replay's dynamic overwrite expects to replace them,
    so the replayed batch cannot destroy merged history."""
    import glob
    import os

    from llm_information_extraction_spark.streaming.incremental import (
        _write_store,
        compact_signature_store,
    )

    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    schema = "pt int, bucket long, id string, sig array<bigint>"
    for b, rid in ((0, "a"), (1, "b"), (2, "c")):
        _write_store(
            spark.createDataFrame([(0, 10 + b, rid, [b])], schema), state, b
        )
    # checkpoint committed batches 0 and 1 only — batch 2 was written
    # but its commit never landed (crash window): it WILL be replayed
    os.makedirs(f"{ckpt}/commits")
    for c in ("0", "1"):
        open(f"{ckpt}/commits/{c}", "w").write("v1")

    assert compact_signature_store(spark, state, checkpoint_dir=ckpt) == 1
    batch_dirs = {
        d.rsplit("=", 1)[1] for d in glob.glob(f"{state}/batch_id=*")
    }
    assert batch_dirs == {"1", "2"}  # 0 merged into 1; 2 untouched
    rows = {(r["id"], r["batch_id"]) for r in spark.read.parquet(state).collect()}
    assert rows == {("a", 1), ("b", 1), ("c", 2)}
    # a replayed batch 2 reads strictly-older history: both merged rows
    # visible, its own rows invisible
    older = spark.read.parquet(state).filter("batch_id < 2")
    assert {r["id"] for r in older.collect()} == {"a", "b"}
    # without commits covering anything, nothing is compacted
    state2 = str(tmp_path / "state2")
    for b in (0, 1):
        _write_store(
            spark.createDataFrame([(0, b, f"x{b}", [b])], schema), state2, b
        )
    assert (
        compact_signature_store(
            spark, state2, checkpoint_dir=str(tmp_path / "nockpt")
        )
        == -1
    )
    assert len({
        d.rsplit("=", 1)[1] for d in glob.glob(f"{state2}/batch_id=*")
    }) == 2
    # compact_batches=0 means DISABLED (CLI contract), never
    # "compact on every start"
    from llm_information_extraction_spark.streaming.incremental import (
        _auto_compact,
    )

    _auto_compact(spark, state2, str(tmp_path / "nockpt"), 0)
    _auto_compact(spark, state2, str(tmp_path / "nockpt"), None)
    assert len({
        d.rsplit("=", 1)[1] for d in glob.glob(f"{state2}/batch_id=*")
    }) == 2


def test_streaming_auto_compaction_bounds_store_directories(spark, tmp_path):
    """A long-lived stream with compact_batches=2 keeps the store's
    batch-directory count bounded across restarts (auto-compaction at
    stream start), survives a mid-matrix replay, and still suppresses a
    near-dup of a batch-0 vector arriving after several compactions."""
    import glob
    import os
    import time

    import numpy as np

    from llm_information_extraction_spark.streaming.incremental import (
        incremental_unique_embeddings,
    )

    dim = 8
    rng = np.random.default_rng(11)
    base = rng.normal(size=dim)

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    state = str(tmp_path / "state")

    def write(rows):
        spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in rows],
            "vec_id bigint, embedding array<double>",
        ).coalesce(1).write.mode("append").parquet(in_dir)

    def run():
        q = incremental_unique_embeddings(
            spark,
            in_dir,
            out_dir,
            ckpt,
            state,
            dim=dim,
            threshold=0.95,
            compact_batches=2,
        )
        q.awaitTermination(180)
        q.stop()
        for _ in range(100):
            if not q.isActive:
                break
            time.sleep(0.2)

    def n_batch_dirs():
        return len(
            {d.rsplit("=", 1)[1] for d in glob.glob(f"{state}/batch_id=*")}
        )

    write([(0, base), (1, rng.normal(size=dim))])
    run()
    for w in range(2, 5):
        write([(10 * w, rng.normal(size=dim))])
        run()
        # auto-compaction ran at stream start: committed history is one
        # merged partition + at most the batch(es) started since
        assert n_batch_dirs() <= 2, n_batch_dirs()

    # mid-matrix replay: drop the last commit (crash before commit);
    # restart triggers compaction AND replay together
    commits = sorted(
        c for c in os.listdir(f"{ckpt}/commits") if not c.startswith(".")
    )
    os.remove(f"{ckpt}/commits/{commits[-1]}")
    crc = f"{ckpt}/commits/.{commits[-1]}.crc"
    if os.path.exists(crc):
        os.remove(crc)
    run()
    ids_after_replay = {
        int(r["id"]) for r in spark.read.parquet(out_dir).collect()
    }
    assert ids_after_replay == {0, 1, 20, 30, 40}

    # near-copy of the batch-0 vector, several compactions later
    near = base + rng.normal(scale=0.01, size=dim)
    write([(99, near), (100, rng.normal(size=dim))])
    run()
    ids = {int(r["id"]) for r in spark.read.parquet(out_dir).collect()}
    assert ids == {0, 1, 20, 30, 40, 100}  # 99 suppressed
    assert n_batch_dirs() <= 2
