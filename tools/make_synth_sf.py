"""Generate a synthetic scaled testdata dir for LOCAL perf validation.

Replicates /root/testdata/sf0.1 `factor` times with structure-preserving
perturbations so operator costs scale realistically:

- documents: replica 0 is byte-identical (source n_chars kept as is);
  replica r>0 remaps each token
  w -> w + 'q' + letter(r) for half the vocabulary (chosen by
  hash(w, r)), a 1:1 per-replica token map — every within-replica
  Jaccard/dup relation is preserved EXACTLY while cross-replica shingle
  overlap collapses (~0.25^3), so dedup candidate volume scales ~linearly
  like a real bigger corpus; its n_chars is recomputed.
- embeddings: per-replica fixed dimension permutation + sign flips —
  within-replica geometry identical, cross-replica cosine ~random.
- events: user_id/event_id offset per replica (10x users/sessions).
- TPC-H tables: key offsets preserving FK consistency.

NOT used by bench.py/oracles unless SPARK_GRAFT_SF_DIR points at the
output. Perf validation only — correctness stays pinned to the real
small SFs.

Usage: python tools/make_synth_sf.py [--factor 10] [--out /root/synthdata/sf1.0]
"""
from __future__ import annotations

import argparse
import hashlib
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SRC = Path("/root/testdata/sf0.1")
LETTERS = "abcdefghijklmnopqrstuvwxyz"


def _word_map(vocab: list[str], r: int) -> dict[str, str]:
    suf = "q" + LETTERS[r % 26] + (LETTERS[(r // 26) % 26] if r >= 26 else "")
    out = {}
    for w in vocab:
        h = hashlib.md5(f"{w}\x00{r}".encode()).digest()[0]
        out[w] = w + suf if h % 2 == 0 else w
    return out


def documents(t: pa.Table, factor: int) -> pa.Table:
    ids = t.column("doc_id").to_numpy()
    texts = t.column("text").to_pylist()
    langs = t.column("lang")
    sources = t.column("source")
    n = len(ids)
    vocab = sorted({w for s in texts for w in s.split(" ") if w})
    out_id, out_text, out_nchars = [], [], []
    lang_chunks, src_chunks = [], []
    for r in range(factor):
        out_id.append(ids + r * n)
        if r == 0:
            out_text.extend(texts)
            out_nchars.extend(t.column("n_chars").to_pylist())
        else:
            wm = _word_map(vocab, r)
            new_texts = [
                " ".join(wm.get(w, w) for w in s.split(" ")) for s in texts
            ]
            out_text.extend(new_texts)
            out_nchars.extend(len(s) for s in new_texts)
        lang_chunks.append(lang_chunks and lang_chunks[0] or langs)
        src_chunks.append(src_chunks and src_chunks[0] or sources)
    return pa.table(
        {
            "doc_id": pa.array(np.concatenate(out_id), pa.int64()),
            "text": pa.array(out_text, pa.string()),
            "lang": pa.concat_arrays(
                [c for ch in lang_chunks for c in ch.chunks]
            ),
            "source": pa.concat_arrays(
                [c for ch in src_chunks for c in ch.chunks]
            ),
            "n_chars": pa.array(out_nchars, pa.int64()),
        }
    )


def embeddings(t: pa.Table, factor: int) -> pa.Table:
    ids = t.column("vec_id").to_numpy()
    labels = t.column("label").to_numpy()
    emb = np.array(t.column("embedding").to_pylist(), dtype=np.float32)
    n, d = emb.shape
    out_id, out_emb, out_lab = [], [], []
    for r in range(factor):
        rng = np.random.default_rng(12345 + r)
        if r == 0:
            e = emb
        else:
            perm = rng.permutation(d)
            signs = rng.choice([-1.0, 1.0], size=d).astype(np.float32)
            e = emb[:, perm] * signs
        out_id.append(ids + r * n)
        out_emb.append(e)
        out_lab.append(labels)
    flat = np.concatenate(out_emb).reshape(-1)
    return pa.table(
        {
            "vec_id": pa.array(np.concatenate(out_id), pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(flat, pa.float32()), d
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(np.concatenate(out_lab), pa.int32()),
        }
    )


def offset_cols(t: pa.Table, factor: int, offsets: dict[str, int]) -> pa.Table:
    cols = {name: [] for name in t.column_names}
    n = t.num_rows
    for r in range(factor):
        for name in t.column_names:
            if name in offsets:
                cols[name].append(
                    pa.array(
                        t.column(name).to_numpy() + r * offsets[name],
                        t.schema.field(name).type,
                    )
                )
            else:
                cols[name].extend(t.column(name).chunks)
    return pa.table(
        {
            name: pa.concat_arrays(
                [c.combine_chunks() if isinstance(c, pa.ChunkedArray) else c
                 for c in chunks]
            )
            for name, chunks in cols.items()
        }
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--out", default="/root/synthdata/sf1.0")
    args = ap.parse_args()
    out = Path(args.out)
    out.mkdir(parents=True, exist_ok=True)
    f = args.factor

    def load(name: str) -> pa.Table:
        return pq.read_table(SRC / f"{name}.parquet")

    def save(name: str, t: pa.Table) -> None:
        pq.write_table(t, out / f"{name}.parquet")
        print(f"{name}: {t.num_rows} rows")

    save("documents", documents(load("documents"), f))
    save("embeddings", embeddings(load("embeddings"), f))
    ev = load("events")
    n_users = int(ev.column("user_id").to_numpy().max()) + 1
    save("events", offset_cols(ev, f, {"event_id": ev.num_rows,
                                       "user_id": n_users}))
    li = load("lineitem")
    od = load("orders")
    cu = load("customer")
    pt = load("part")
    sp = load("supplier")
    n_ord = int(od.column("o_orderkey").to_numpy().max()) + 1
    save("orders", offset_cols(od, f, {"o_orderkey": n_ord,
                                       "o_custkey": cu.num_rows}))
    save("lineitem", offset_cols(li, f, {"l_orderkey": n_ord,
                                         "l_partkey": pt.num_rows,
                                         "l_suppkey": sp.num_rows}))
    save("customer", offset_cols(cu, f, {"c_custkey": cu.num_rows}))
    save("part", offset_cols(pt, f, {"p_partkey": pt.num_rows}))
    save("supplier", offset_cols(sp, f, {"s_suppkey": sp.num_rows}))
    for small in ("nation", "region"):
        save(small, load(small))


if __name__ == "__main__":
    main()
