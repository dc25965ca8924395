"""Seeded inputs with planted truth.

Two stages:

* ``build`` (once per checkout, needs Spark, run by ``build.py``): a
  fixed pool of ``generate_documents`` output plus its gold triples, and
  the streaming history (8 committed micro-batches) snapshotted as a
  pristine store/checkpoint/output tree.
* ``derive_*`` (per seed, pure pyarrow/numpy, cheap): the inputs one run
  sees.  A seeded sample of pool documents, plus near-copies under fresh
  ids (one span gets one extra word, word-3-gram Jaccard >= 0.9 against
  the original) and planted-distinct controls (the original plus as many
  new words again as it has, Jaccard <= 0.5), plus a truth table.

The generator's documents are filled-in templates: two distinct ones
share a word-3-gram Jaccard of about 0.3, so any banded MinHash links a
few thousand of them into one component.  Real papers share far less.
``derive_kg`` therefore gives every document its own word forms (see
``tag_doc``), which leaves what extraction finds unchanged, and takes
the near-copy originals only from documents that share no 3-gram with
any other document.

The program under test only ever reads the parquet written here.
"""

from __future__ import annotations

import copy
import functools
import hashlib
import json
import os
import re
import shutil
from collections import Counter
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# -- sizes (fixed: the seed picks documents, never how many) -----------------
KG_POOL = 4_500          # pool ids [0, KG_POOL) feed kg_build
KG_DOCS = 1_000          # base docs sampled per seed
KG_NEAR_COPIES = 50      # 5% planted near-duplicates
KG_CONTROLS = 20         # 2% planted-distinct controls
KG_FILES = 8             # input files -> 8 scan partitions at any nproc

STREAM_BATCH = 250       # docs per micro-batch (history and probe)
STREAM_HISTORY = 8       # committed batches in the pristine store
STREAM_FILES = 4         # files per micro-batch
STREAM_NC_STORED = 10    # probe near-copies of stored docs
STREAM_NC_BATCH = 6      # probe near-copies of docs in the same batch
STREAM_CONTROLS = 6      # probe controls (half of stored, half in-batch)
STREAM_POOL0 = KG_POOL   # history ids start here
STREAM_FRESH0 = STREAM_POOL0 + STREAM_HISTORY * STREAM_BATCH
STREAM_FRESH = 1_500     # probe fresh docs are sampled from this range
POOL_DOCS = STREAM_FRESH0 + STREAM_FRESH
POOL_SEED = 20_251

NEAR_COPY_MIN_J = 0.9
CONTROL_MAX_J = 0.5

SPAN_TYPE = pa.struct(
    [
        pa.field("kind", pa.string()),
        pa.field("text", pa.string()),
        pa.field("media_ref", pa.string()),
        pa.field("offset", pa.int32()),
    ]
)
DOCS_SCHEMA = pa.schema(
    [pa.field("doc_id", pa.string(), False), pa.field("spans", pa.list_(SPAN_TYPE), False)]
)
TRUTH_SCHEMA = pa.schema(
    [pa.field("doc_id", pa.string()), pa.field("role", pa.string()), pa.field("source", pa.string())]
)

#: derived inputs are cached per version of this file, so a change to
#: the generator never reuses inputs an older version wrote
GENERATOR = hashlib.sha256(Path(__file__).read_bytes()).hexdigest()[:10]

# roles a dedup must drop / must keep
DROP_ROLES = ("near_copy", "near_copy_stored", "near_copy_batch")
KEEP_ROLES = ("original", "control", "control_stored", "control_batch")


def doc_id(i: int) -> str:
    """Id ``generate_documents`` gives pool row ``i``."""
    return f"doc_{i:09d}"


# -- payload shingles (mirrors operators.payload + dedup.word_shingles) -----
def payload_text(spans: list[dict]) -> str:
    parts = []
    for s in sorted(spans, key=lambda s: s["offset"]):
        text, ref = s["text"], s["media_ref"]
        if text is not None and text.strip():
            parts.append(f"{s['kind']}: {text}")
        elif ref is not None:
            parts.append(f"[media {ref}]")
    return "\n".join(parts)


def shingles(spans: list[dict], n: int = 3) -> set[str]:
    words = re.sub(r"\s+", " ", payload_text(spans).lower()).strip().split(" ")
    return {" ".join(words[i:i + n]) for i in range(max(len(words) - n + 1, 1))}


def jaccard(a: list[dict], b: list[dict]) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def _nonce(rng: np.random.Generator) -> str:
    # "zq" never starts a vocabulary term, so extraction ignores it
    return "zq" + "".join(chr(97 + int(c)) for c in rng.integers(0, 26, 6))


@functools.lru_cache(maxsize=1)
def _extraction_patterns() -> tuple[re.Pattern, ...]:
    """Everything extraction matches on: vocabulary surfaces, the
    doc-level markers and the question phrase, with the same token
    boundaries the extractor uses."""
    from llm_information_extraction_spark import vocab
    from llm_information_extraction_spark.operators.extraction import marker_patterns

    rows = vocab.extraction_rows()
    phrases = {s for _, s, _ in rows}
    phrases |= {f"{s} patients vs controls" for f, s, _ in rows if f == "Disease_study"}
    alts = "|".join(re.escape(p) for p in sorted(phrases, key=len, reverse=True))
    return (
        re.compile(rf"(?<![a-z0-9])(?:{alts})(?![a-z0-9])"),
        *(re.compile(p) for p in marker_patterns().values()),
    )


def tag(i: int) -> str:
    """Word-form tag of document ``i`` of a corpus (unique below 26**3)."""
    return "zq" + "".join(chr(97 + (i // 26**k) % 26) for k in (2, 1, 0))


def tag_text(text: str, t: str) -> str:
    """Append ``_<t>`` to every word of ``text`` unless that would split
    something extraction matches.  ``_`` is not a word character to the
    extractor and no vocabulary term starts with ``zq``, so the matches,
    and with them the gold triples, stay the same."""
    low = text.lower()
    inside = [(m.start(), m.end()) for rx in _extraction_patterns() for m in rx.finditer(low)]
    words = []
    for m in re.finditer(r"\S+", text):
        end = m.end()
        split = any(a < end < b for a, b in inside)
        words.append(m.group(0) if split else f"{m.group(0)}_{t}")
    return " ".join(words)


def tag_doc(spans: list[dict], t: str) -> list[dict]:
    """The document with its own word forms: every word-3-gram but those
    inside a multi-word match carries ``t``, and so do media refs."""
    out = copy.deepcopy(spans)
    for s in out:
        if s["text"] is not None and s["text"].strip():
            s["text"] = tag_text(s["text"], t)
        elif s["media_ref"] is not None:
            s["media_ref"] = f"{s['media_ref']}_{t}"
    return out


def isolated(docs: list[list[dict]]) -> list[int]:
    """Indexes of the documents that share no word-3-gram with another."""
    sets = [shingles(d) for d in docs]
    df = Counter(x for s in sets for x in s)
    return [i for i, s in enumerate(sets) if all(df[x] == 1 for x in s)]


def near_copy(spans: list[dict], rng: np.random.Generator) -> list[dict]:
    """Perturb one span: append one new word to the last section."""
    out = copy.deepcopy(spans)
    last = max(
        (s for s in out if s["kind"] == "section" and s["text"]),
        key=lambda s: s["offset"],
    )
    last["text"] = f"{last['text']} {_nonce(rng)}"
    return out


def control(spans: list[dict], rng: np.random.Generator) -> list[dict]:
    """Original plus as many new words again, in new trailing sections."""
    out = copy.deepcopy(spans)
    n_words = len(payload_text(spans).split())
    offset = max(s["offset"] for s in out) + 1
    while n_words > 0:
        out.append(
            {
                "kind": "section",
                "text": " ".join(_nonce(rng) for _ in range(12)),
                "media_ref": None,
                "offset": offset,
            }
        )
        offset += 1
        n_words -= 12
    return out


# -- pool access --------------------------------------------------------------
def read_pool_docs(pool_dir: Path, ids: list[str]) -> dict[str, list[dict]]:
    table = pq.read_table(pool_dir / "docs", filters=[("doc_id", "in", ids)])
    return dict(zip(table.column("doc_id").to_pylist(), table.column("spans").to_pylist()))


def _write_docs(rows: list[tuple[str, list[dict]]], out_dir: Path, n_files: int) -> None:
    out_dir.mkdir(parents=True, exist_ok=True)
    for k in range(n_files):
        part = rows[k::n_files]
        table = pa.table(
            {"doc_id": [r[0] for r in part], "spans": [r[1] for r in part]},
            schema=DOCS_SCHEMA,
        )
        pq.write_table(table, out_dir / f"part-{k:05d}.parquet")


def _write_truth(truth: list[tuple[str, str, str]], path: Path) -> None:
    ids, roles, sources = (list(c) for c in zip(*truth))
    pq.write_table(
        pa.table({"doc_id": ids, "role": roles, "source": sources}, schema=TRUTH_SCHEMA),
        path,
    )


def _plant(rng, pool, originals, make, role, suffix):
    """Planted docs built by ``make`` from ``originals``: (rows, truth)."""
    rows, truth = [], []
    for src in originals:
        spans = make(pool[src], rng)
        j = jaccard(spans, pool[src])
        if make is near_copy and j < NEAR_COPY_MIN_J:
            raise ValueError(f"near-copy of {src} has Jaccard {j:.3f}")
        if make is control and j > CONTROL_MAX_J:
            raise ValueError(f"control of {src} has Jaccard {j:.3f}")
        rows.append((src + suffix, spans))
        truth.append((src + suffix, role, src))
    return rows, truth


def _done(path: Path) -> bool:
    return (path / "_DONE").exists()


def _finish(tmp: Path, final: Path) -> None:
    (tmp / "_DONE").write_text("")
    if final.exists():
        shutil.rmtree(final)
    os.replace(tmp, final)


def _fresh_tmp(final: Path) -> Path:
    tmp = final.with_name(final.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    return tmp


# -- per-seed derivation -----------------------------------------------------
def derive_kg(cache: Path, seed: int) -> Path:
    """kg_build corpus + truth + gold for ``seed``; returns its dir."""
    out = cache / "kg" / GENERATOR / f"seed{seed}"
    if _done(out):
        return out
    rng = np.random.default_rng([seed, 1])
    picks = np.sort(rng.choice(KG_POOL, KG_DOCS, replace=False))
    base = [doc_id(int(i)) for i in picks]
    raw = read_pool_docs(cache / "pool", base)
    pool = {d: tag_doc(raw[d], tag(k)) for k, d in enumerate(base)}
    # near-copies of isolated documents only: a banded MinHash can then
    # link the pair to nothing else, so the original is its cluster's
    # representative whatever the hash seeds
    alone = isolated([pool[d] for d in base])
    if len(alone) < KG_NEAR_COPIES:
        raise ValueError(f"only {len(alone)} isolated documents for {KG_NEAR_COPIES} near-copies")
    nc_src = [base[i] for i in rng.choice(alone, KG_NEAR_COPIES, replace=False)]
    rest = sorted(set(base) - set(nc_src))
    ctl_src = [rest[i] for i in rng.choice(len(rest), KG_CONTROLS, replace=False)]

    originals = set(nc_src)
    rows = [(d, pool[d]) for d in base]
    truth = [(d, "original" if d in originals else "base", d) for d in base]
    for src, make, role, suffix in (
        (nc_src, near_copy, "near_copy", "_nc"),
        (ctl_src, control, "control", "_ctl"),
    ):
        r, t = _plant(rng, pool, src, make, role, suffix)
        rows += r
        truth += t
    rows = [rows[i] for i in rng.permutation(len(rows))]

    tmp = _fresh_tmp(out)
    _write_docs(rows, tmp / "docs", KG_FILES)
    _write_truth(truth, tmp / "truth.parquet")
    # a control's gold is its source's gold: the added words are nonce
    gold = pq.read_table(cache / "pool" / "gold", filters=[("doc_id", "in", base)])
    ctl_gold = gold.filter(pc.is_in(gold.column("doc_id"), pa.array(ctl_src)))
    ctl_gold = ctl_gold.set_column(
        0, gold.schema.field("doc_id"),
        pc.binary_join_element_wise(ctl_gold.column("doc_id"), "_ctl", ""),
    )
    pq.write_table(pa.concat_tables([gold, ctl_gold]), tmp / "gold.parquet")
    _finish(tmp, out)
    return out


def derive_stream(cache: Path, seed: int) -> Path:
    """stream_dedup probe batch + truth for ``seed``; returns its dir."""
    out = cache / "stream" / GENERATOR / f"seed{seed}"
    if _done(out):
        return out
    rng = np.random.default_rng([seed, 2])
    n_fresh = STREAM_BATCH - STREAM_NC_STORED - STREAM_NC_BATCH - STREAM_CONTROLS
    fresh_idx = np.sort(rng.choice(STREAM_FRESH, n_fresh, replace=False))
    fresh = [doc_id(STREAM_FRESH0 + int(i)) for i in fresh_idx]
    stored = sorted(
        pq.read_table(cache / "stream" / "pristine" / "output", columns=["doc_id"])
        .column("doc_id").to_pylist()
    )
    half = STREAM_CONTROLS // 2
    st_pick = rng.choice(len(stored), STREAM_NC_STORED + half, replace=False)
    nc_stored = [stored[i] for i in st_pick[:STREAM_NC_STORED]]
    ctl_stored = [stored[i] for i in st_pick[STREAM_NC_STORED:]]
    b_pick = rng.choice(len(fresh), STREAM_NC_BATCH + half, replace=False)
    nc_batch = [fresh[i] for i in b_pick[:STREAM_NC_BATCH]]
    ctl_batch = [fresh[i] for i in b_pick[STREAM_NC_BATCH:]]
    pool = read_pool_docs(cache / "pool", fresh + nc_stored + ctl_stored)

    originals = set(nc_batch)
    rows = [(d, pool[d]) for d in fresh]
    truth = [(d, "original" if d in originals else "fresh", d) for d in fresh]
    for src, make, role, suffix in (
        (nc_stored, near_copy, "near_copy_stored", "_nc"),
        (nc_batch, near_copy, "near_copy_batch", "_nc"),
        (ctl_stored, control, "control_stored", "_ctl"),
        (ctl_batch, control, "control_batch", "_ctl"),
    ):
        r, t = _plant(rng, pool, src, make, role, suffix)
        rows += r
        truth += t
    rows = [rows[i] for i in rng.permutation(len(rows))]

    tmp = _fresh_tmp(out)
    _write_docs(rows, tmp / "probe", STREAM_FILES)
    _write_truth(truth, tmp / "truth.parquet")
    _finish(tmp, out)
    return out


# -- build (needs a SparkSession; see build.py) -------------------------------
def build_pool(spark, cache: Path) -> None:
    from llm_information_extraction_spark.sources.synthetic import (
        generate_documents,
        generate_gold_triples,
    )

    out = cache / "pool"
    if _done(out):
        return
    tmp = _fresh_tmp(out)
    generate_documents(spark, POOL_DOCS, seed=POOL_SEED).write.parquet(str(tmp / "docs"))
    generate_gold_triples(spark, KG_POOL, seed=POOL_SEED).write.parquet(str(tmp / "gold"))
    _finish(tmp, out)


def stream_layout(root: Path) -> dict[str, str]:
    return {k: str(root / k) for k in ("input", "output", "checkpoint", "state")}


def build_stream_history(spark, cache: Path) -> None:
    """Run the 8 history batches through the streaming dedup in the
    working dir, then snapshot the tree as ``pristine``.  The checkpoint
    records absolute input paths, so runs restore into the same path."""
    import time

    from llm_information_extraction_spark.streaming import (
        incremental_fuzzy_unique_documents,
    )

    pristine = cache / "stream" / "pristine"
    if _done(pristine):
        return
    work = cache / "stream" / "work"
    shutil.rmtree(work, ignore_errors=True)
    dirs = stream_layout(work)
    ids = [doc_id(STREAM_POOL0 + i) for i in range(STREAM_HISTORY * STREAM_BATCH)]
    pool = read_pool_docs(cache / "pool", ids)
    stamp = time.time() - 3600
    for b in range(STREAM_HISTORY):
        batch = ids[b * STREAM_BATCH:(b + 1) * STREAM_BATCH]
        bdir = work / "staging" / f"b{b:02d}"
        _write_docs([(d, pool[d]) for d in batch], bdir, STREAM_FILES)
        Path(dirs["input"]).mkdir(parents=True, exist_ok=True)
        for f in sorted(bdir.iterdir()):
            # the file source takes files oldest first: one batch per group
            target = Path(dirs["input"]) / f"b{b:02d}-{f.name}"
            os.replace(f, target)
            os.utime(target, (stamp + 10 * b, stamp + 10 * b))
    shutil.rmtree(work / "staging")
    q = incremental_fuzzy_unique_documents(
        spark, dirs["input"], dirs["output"], dirs["checkpoint"], dirs["state"],
        max_files_per_trigger=STREAM_FILES,
    )
    q.awaitTermination()
    n_batches = len(list(Path(dirs["output"]).glob("batch_id=*")))
    if n_batches != STREAM_HISTORY:
        raise RuntimeError(f"history build committed {n_batches} batches, not {STREAM_HISTORY}")
    tmp = _fresh_tmp(pristine)
    shutil.copytree(work, tmp)
    rows = sum(
        pq.ParquetFile(f).metadata.num_rows for f in Path(tmp / "state").rglob("*.parquet")
    )
    (tmp / "store_rows.json").write_text(json.dumps({"rows": rows}))
    _finish(tmp, pristine)


def store_rows(cache: Path) -> int:
    """Bucket rows the pristine store holds (the probe's read denominator)."""
    return json.loads((cache / "stream" / "pristine" / "store_rows.json").read_text())["rows"]


def restore_stream(cache: Path) -> dict[str, str]:
    """Reset the working stream tree to the pristine 8-batch state."""
    work = cache / "stream" / "work"
    shutil.rmtree(work, ignore_errors=True)
    shutil.copytree(cache / "stream" / "pristine", work)
    return stream_layout(work)
