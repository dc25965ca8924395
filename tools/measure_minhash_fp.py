"""Evidence tool: false-drop rate of the streaming MinHash gate.

The streaming near-dup operator (`incremental_fuzzy_unique_documents`)
drops a document when (a) it collides with a stored doc in ≥1 LSH band
and (b) the signature-estimated Jaccard clears the threshold. The store
holds no text, so (b) is an ESTIMATE — a colliding pair whose TRUE
Jaccard is below the threshold can be falsely dropped (silent loss of
unique training data). This tool measures that rate on planted pairs
with exactly-known n-gram Jaccard, for estimator widths
k ∈ {64, 128, 256}, using the production hash family
(`minhash_signatures`, prefix-stable in k) and the production banding
geometry (16 bands × 4 rows over the first 64 slots).

Corpus: for each target Jaccard level, ``pairs_per_level`` document
pairs share their first ``s`` words and diverge after (every token is
unique to its pair and side), so the word-3-gram Jaccard is EXACTLY
(s−2) / (2(m−2) − (s−2)) — no sampling noise in the ground truth. A
drop needs a band collision first, so the reported rate is the JOINT
P(collide ∧ est_k ≥ t), i.e. exactly the streaming gate's decision.

    python tools/measure_minhash_fp.py [--pairs 300] [--out BENCH/minhash_fp.json]

Prints a markdown table (the one in BENCH/streaming_store.md) and
writes the JSON artifact.
"""

from __future__ import annotations

import argparse
import json
import math
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

M_WORDS = 50          # words per document
NUM_HASHES = 64       # blocking signature width (production default)
BANDS = 16            # production banding geometry
THRESHOLD = 0.8       # production drop threshold
SIG_LEN = 256         # widest estimator measured (prefix-stable family)
SEED = 42
TARGET_JS = [0.50, 0.55, 0.60, 0.65, 0.70, 0.74, 0.78, 0.82, 0.86, 0.90]


def shared_words_for(j: float, m: int = M_WORDS) -> int:
    """Invert J = (s-2)/(2(m-2)-(s-2)) for the shared-prefix count s."""
    return round(2 + j * (2 * m - 4) / (1 + j))


def exact_jaccard(s: int, m: int = M_WORDS) -> float:
    return (s - 2) / (2 * (m - 2) - (s - 2))


def build_pairs(pairs_per_level: int):
    """(pair_id, level_idx, true_j, text_a, text_b) rows; every token is
    unique to its (pair, side) except the planted shared prefix."""
    rows = []
    pid = 0
    for li, j in enumerate(TARGET_JS):
        s = shared_words_for(j)
        tj = exact_jaccard(s)
        for _ in range(pairs_per_level):
            shared = [f"p{pid}s{i}" for i in range(s)]
            ta = " ".join(shared + [f"p{pid}a{i}" for i in range(M_WORDS - s)])
            tb = " ".join(shared + [f"p{pid}b{i}" for i in range(M_WORDS - s)])
            rows.append((pid, li, tj, ta, tb))
            pid += 1
    return rows


def binom_tail(k: int, j: float, t: float) -> float:
    """Analytic P(est >= t): survival of Binomial(k, j) at ceil(k*t)."""
    lo = math.ceil(k * t)
    return sum(
        math.comb(k, i) * j**i * (1 - j) ** (k - i) for i in range(lo, k + 1)
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pairs", type=int, default=300)
    ap.add_argument("--out", default="BENCH/minhash_fp.json")
    args = ap.parse_args()

    import numpy as np

    from llm_information_extraction_spark.operators.dedup import (
        minhash_signatures,
        word_shingles,
    )
    from llm_information_extraction_spark.session import get_spark

    spark = get_spark(app_name="minhash-fp")
    spark.sparkContext.setLogLevel("ERROR")

    rows = build_pairs(args.pairs)
    df = spark.createDataFrame(
        rows, "pair_id long, level int, true_j double, ta string, tb string"
    )
    # one document per (pair, side): id 2·pair_id is side a, 2·pair_id+1
    # side b. One wide signature per side; slicing its prefix gives every
    # narrower estimator (the production family is prefix-stable)
    sides = spark.createDataFrame(
        [(2 * pid, ta) for pid, _, _, ta, _ in rows]
        + [(2 * pid + 1, tb) for pid, _, _, _, tb in rows],
        "id long, text string",
    )
    sig = {
        row["id"]: row["sig"]
        for row in minhash_signatures(
            sides, "id", "text", 3, SIG_LEN, SEED
        ).collect()
    }
    sigs = [
        row.asDict()
        | {"sa": sig[2 * row["pair_id"]], "sb": sig[2 * row["pair_id"] + 1]}
        for row in df.select(
            "pair_id",
            "level",
            "true_j",
            # sanity-pin the constructed ground truth with the real
            # shingle sets: the planted J must match the closed form
            # exactly
            (
                F.size(F.array_intersect(word_shingles("ta", 3), word_shingles("tb", 3)))
                / F.size(F.array_union(word_shingles("ta", 3), word_shingles("tb", 3)))
            ).alias("j_check"),
        ).collect()
    ]

    r = NUM_HASHES // BANDS
    ks = (64, 128, 256)
    levels: dict[int, dict] = {}
    for row in sigs:
        assert abs(row["j_check"] - row["true_j"]) < 1e-12, row["pair_id"]
        sa = np.array(row["sa"])
        sb = np.array(row["sb"])
        eq = sa == sb
        collide = any(
            eq[b * r : (b + 1) * r].all() for b in range(BANDS)
        )
        lv = levels.setdefault(
            row["level"],
            {"true_j": row["true_j"], "n": 0, "collide": 0}
            | {f"drop{k}": 0 for k in ks},
        )
        lv["n"] += 1
        lv["collide"] += collide
        for k in ks:
            est = eq[:k].mean()
            lv[f"drop{k}"] += collide and est >= THRESHOLD

    out = {
        "m_words": M_WORDS,
        "num_hashes": NUM_HASHES,
        "bands": BANDS,
        "threshold": THRESHOLD,
        "pairs_per_level": args.pairs,
        "levels": [],
    }
    hdr = (
        "| true J | P(band collide) | "
        + " | ".join(f"drop@k={k}" for k in ks)
        + " | "
        + " | ".join(f"binom tail k={k}" for k in ks)
        + " |"
    )
    print(hdr)
    print("|" + "---|" * (len(ks) * 2 + 2))
    for li in sorted(levels):
        lv = levels[li]
        j = lv["true_j"]
        rec = {
            "true_j": round(j, 4),
            "n_pairs": lv["n"],
            "p_collide": round(lv["collide"] / lv["n"], 4),
        }
        cells = [f"{j:.3f}", f"{rec['p_collide']:.3f}"]
        for k in ks:
            rec[f"p_drop_k{k}"] = round(lv[f"drop{k}"] / lv["n"], 4)
            cells.append(f"{rec[f'p_drop_k{k}']:.3f}")
        for k in ks:
            rec[f"binom_tail_k{k}"] = binom_tail(k, j, THRESHOLD)
            cells.append(f"{rec[f'binom_tail_k{k}']:.2e}")
        out["levels"].append(rec)
        print("| " + " | ".join(cells) + " |")

    Path(args.out).write_text(json.dumps(out, indent=2) + "\n")
    print(f"\nwrote {args.out}")


if __name__ == "__main__":
    main()
