"""Time one ``linking.fuzzy_link_surfaces`` run in a fresh process.

    python tools/fuzzy_link_ab.py REPO THRESHOLD OUT_JSON

Imports the engine from the checkout at REPO, so two checkouts (say a
parent commit and a change) run the same inputs through this one script.
The input is 4,000 seeded (seed 1) unresolved ``whitematter_tracts``
surfaces: 3,000 typos of gazetteer tract surfaces (one edit at threshold
0.95, one or two edits otherwise) and 1,000 random non-matches. The run
uses ``local[4]`` and one job group; it prints one JSON line with the
wall seconds of ``collect()`` (planning included, session start not),
the Spark jobs it started and the rows it returned, and writes the
sorted rows (scores as ``float.hex``) to OUT_JSON for a row-by-row diff.
"""

from __future__ import annotations

import json
import random
import sys
import time

LETTERS = "abcdefghijklmnopqrstuvwxyz"


def typo(rng: random.Random, s: str, edits: int) -> str:
    for _ in range(edits):
        i = rng.randrange(len(s))
        op = rng.choice("sid")
        if op == "s":
            s = s[:i] + rng.choice(LETTERS) + s[i + 1:]
        elif op == "i":
            s = s[:i] + rng.choice(LETTERS) + s[i:]
        elif len(s) > 1:
            s = s[:i] + s[i + 1:]
    return s


def surfaces(tracts: list[str], threshold: float) -> list[str]:
    rng = random.Random(1)
    edits = [1] if threshold >= 0.95 else [1, 2]
    out = [typo(rng, rng.choice(tracts), rng.choice(edits)) for _ in range(3000)]
    out += [
        "".join(rng.choice(LETTERS) for _ in range(rng.randint(6, 20)))
        for _ in range(1000)
    ]
    return out


def main() -> None:
    repo, threshold, out_path = sys.argv[1], float(sys.argv[2]), sys.argv[3]
    sys.path.insert(0, repo)
    import pyarrow as pa

    from llm_information_extraction_spark import vocab
    from llm_information_extraction_spark.operators.linking import (
        fuzzy_link_surfaces,
        vocabulary_df,
    )
    from llm_information_extraction_spark.session import get_spark, local_frame

    spark = get_spark(master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    field = "whitematter_tracts"
    tracts = sorted({s for f, s, _ in vocab.gazetteer_rows() if f == field})
    batch = surfaces(tracts, threshold)
    unresolved = local_frame(
        spark,
        pa.table({"field": [field] * len(batch), "surface": batch}),
        "field string, surface string",
    )
    sc = spark.sparkContext
    sc.setJobGroup("fuzzy_link_ab", "fuzzy_link_surfaces")
    t0 = time.perf_counter()
    rows = fuzzy_link_surfaces(unresolved, vocabulary_df(spark), threshold).collect()
    wall = time.perf_counter() - t0
    jobs = len(sc.statusTracker().getJobIdsForGroup("fuzzy_link_ab"))
    out = sorted([r["field"], r["surface"], r["canonical"], r["score"].hex()] for r in rows)
    with open(out_path, "w") as f:
        json.dump(out, f)
    print(json.dumps({"wall_s": round(wall, 3), "jobs": jobs, "rows": len(out)}))
    spark.stop()


if __name__ == "__main__":
    main()
