"""Entity-linking fixtures (FIXTURES.md T4): exact, fuzzy, threshold.

Checks difflib-parity scoring (seq_sim, evaluation_gpt4_vs_gpt5.py:72-78),
the SIM_THRESH=0.95 gate (:28), exact-match short-circuit (:88-90), and
exhaustive per-field fuzzy linking of typo'd aliases onto the vocabulary
against a brute-force ``SequenceMatcher`` scan.
"""

import random
import re
import sys
from difflib import SequenceMatcher
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from llm_information_extraction_spark import vocab
from llm_information_extraction_spark.operators.linking import (
    best_match,
    exact_canonicalize,
    fuzzy_link_surfaces,
    link_mentions,
    vocabulary_df,
)

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "tools"))

from fuzzy_link_ab import typo  # noqa: E402


def test_seq_sim_parity():
    pairs = [
        ("corpus callosum", "corpus callosum"),
        ("corpus callosum", "corpus calosum"),
        ("fornix", "cingulum"),
        ("", ""),
        ("", "fornix"),
        ("posteior arcuate fascisculus", "posterior arcuate fasciculus"),
    ]
    for a, b in pairs:
        if not a and not b:
            want = 1.0
        elif not a or not b:
            want = 0.0
        else:
            want = SequenceMatcher(None, a, b).ratio()
        assert best_match(a, [b], 0.0) == (b, want), (a, b)


def test_exact_canonicalize_maps(spark):
    mentions = spark.createDataFrame(
        [
            ("d1", "whitematter_tracts", "SLF"),
            ("d1", "whitematter_tracts", "cc"),
            ("d1", "Human_study", "human"),
            ("d1", "study_type", "single"),
            ("d1", "Disease_study", "AD"),
            ("d1", "imaging_modalities", "fMRI"),
        ],
        "doc_id string, pred string, obj string",
    )
    got = {
        (r["pred"], r["obj"]) for r in exact_canonicalize(mentions).collect()
    }
    assert ("whitematter_tracts", "superior longitudinal fasciculus") in got
    assert ("whitematter_tracts", "corpus callosum") in got
    assert ("Human_study", "yes") in got
    assert ("study_type", "single study") in got
    assert ("Disease_study", "alzheimers disease") in got
    assert ("imaging_modalities", "fmri") in got


def test_fuzzy_link_typos(spark):
    vdf = vocabulary_df(spark)
    unresolved = spark.createDataFrame(
        [
            # 1-char typo, ratio ≥ 0.95 → must link
            ("whitematter_tracts", "superior longitudinal fasciculuss"),
            # way below threshold → must NOT link
            ("whitematter_tracts", "zzzz qqqq xxxx"),
            # exact (after normalization) → short-circuit at 1.0
            ("whitematter_tracts", "  Corpus   Callosum "),
        ],
        "field string, surface string",
    )
    got = {r["surface"]: (r["canonical"], r["score"])
           for r in fuzzy_link_surfaces(unresolved, vdf).collect()}
    assert got["superior longitudinal fasciculuss"][0] == "superior longitudinal fasciculus"
    assert got["corpus callosum"] == ("corpus callosum", 1.0)
    assert "zzzz qqqq xxxx" not in got


def test_fuzzy_blocking_is_field_scoped(spark):
    """A surface is scored only against its own field's vocabulary: text
    that exists only in another field's vocabulary never links."""
    vdf = spark.createDataFrame(
        [
            ("field_a", "corpus callosum", "corpus callosum"),
            ("field_a", "fornix", "fornix"),
            ("field_b", "alzheimers disease", "alzheimers disease"),
            ("field_b", "cingulum", "cingulum"),
        ],
        "field string, surface string, canonical string",
    )
    unresolved = spark.createDataFrame(
        [
            ("field_a", "cingulum"),            # exact text, other field
            ("field_a", "alzheimers diseas"),   # typo of another field's text
            ("field_a", "fornix"),
            ("field_b", "alzheimers diseas"),
            ("field_c", "fornix"),              # field with no vocabulary
        ],
        "field string, surface string",
    )
    got = {
        (r["field"], r["surface"]): r["canonical"]
        for r in fuzzy_link_surfaces(unresolved, vdf).collect()
    }
    assert got == {
        ("field_a", "fornix"): "fornix",
        ("field_b", "alzheimers diseas"): "alzheimers disease",
    }


def _brute_force_links(rows, threshold):
    """Test oracle: score every same-field gazetteer row with a fresh
    SequenceMatcher (exact match → 1.0) and keep the best at or above
    ``threshold`` by (score desc, canonical asc)."""
    gaz = vocab.gazetteer_rows()
    out = {}
    for field, surface in rows:
        s = " ".join(surface.lower().split())
        best = None
        for f, ref, canonical in gaz:
            if f != field:
                continue
            score = 1.0 if ref == s else SequenceMatcher(None, s, ref).ratio()
            if score >= threshold and (
                best is None or (-score, canonical) < (-best[1], best[0])
            ):
                best = (canonical, score)
        if best is not None:
            out[(field, s)] = best
    return out


@pytest.mark.parametrize("threshold", [0.85, 0.95])
def test_fuzzy_link_matches_brute_force_scan(spark, threshold):
    """The linker equals an exhaustive scan over the gazetteer, including
    short or heavily edited surfaces whose character shingles share
    little with their match (``geu`` → ``genu`` scores 0.857)."""
    rng = random.Random(1)
    gaz = vocab.gazetteer_rows()
    rows = [
        ("whitematter_tracts", "geu"),
        ("whitematter_tracts", "foormnix"),
        ("whitematter_tracts", "solf"),
        ("whitematter_tracts", "  Corpus   CALLOSUM "),
        ("Disease_study", "alzheimers diseas"),
    ]
    for field, surface, _ in rng.sample(gaz, 160):
        rows.append((field, typo(rng, surface, rng.choice([1, 1, 2]))))
    for _ in range(40):
        field = rng.choice(gaz)[0]
        rows.append((field, "".join(rng.choice("xyzq ") for _ in range(9))))
    unresolved = spark.createDataFrame(rows, "field string, surface string")
    got = {
        (r["field"], r["surface"]): (r["canonical"], r["score"])
        for r in fuzzy_link_surfaces(unresolved, vocabulary_df(spark), threshold).collect()
    }
    want = _brute_force_links(rows, threshold)
    assert got == want
    if threshold == 0.85:
        assert want[("whitematter_tracts", "geu")][0] == "genu"


def test_relinking_first_pass_leftovers_finds_nothing(spark):
    """Every gazetteer canonical is a known surface of its field, so the
    triple objects that are not known surfaces are exactly what the first
    fuzzy pass could not link; a second pass over them returns no row."""
    vdf = vocabulary_df(spark)
    mentions = spark.createDataFrame(
        [
            ("d1", "whitematter_tracts", "corpus callosumm"),
            ("d1", "whitematter_tracts", "slf"),
            ("d1", "whitematter_tracts", "geu"),
            ("d2", "whitematter_tracts", "not a tract at all"),
            ("d2", "Disease_study", "alzheimers diseas"),
            ("d2", "Disease_study", "zzzz"),
        ],
        "doc_id string, pred string, obj string",
    )
    triples = link_mentions(mentions, vdf, fuzzy=True)
    known = vdf.select(F.col("field").alias("pred"), F.col("surface").alias("obj"))
    leftovers = (
        triples.join(known, ["pred", "obj"], "left_anti")
        .filter(F.col("pred").isin([f for f, _, _ in vocab.gazetteer_rows()]))
        .select(F.col("pred").alias("field"), F.col("obj").alias("surface"))
    )
    assert {r["surface"] for r in leftovers.collect()} == {
        "geu", "not a tract at all", "zzzz",
    }
    assert fuzzy_link_surfaces(leftovers, vdf).count() == 0


def test_sequence_matcher_only_in_best_match():
    """Every difflib score in the library, contract entry and tools comes
    from ``linking.best_match`` (its cached ``_matcher``), and linking
    uses no ``pyspark.ml`` blocking."""
    files = sorted((ROOT / "llm_information_extraction_spark").rglob("*.py"))
    files += [ROOT / "__spark_entry__.py"] + sorted((ROOT / "tools").rglob("*.py"))
    hits = [
        (path.relative_to(ROOT).as_posix(), line.strip())
        for path in files
        for line in path.read_text().splitlines()
        if "SequenceMatcher(" in line
    ]
    assert hits == [
        (
            "llm_information_extraction_spark/operators/linking.py",
            'return SequenceMatcher(None, "", ref)',
        )
    ]
    linking = ROOT / "llm_information_extraction_spark/operators/linking.py"
    assert not re.search(r"pyspark\.ml\b", linking.read_text())


def test_link_mentions_fuzzy_end_to_end(spark):
    mentions = spark.createDataFrame(
        [
            ("d1", "whitematter_tracts", "corpus callosum"),       # exact vocab
            ("d1", "whitematter_tracts", "corpus callosumm"),      # typo → fuzzy
            ("d1", "whitematter_tracts", "slf"),                   # alias map
            ("d2", "whitematter_tracts", "not a tract at all"),    # unlinked, kept
        ],
        "doc_id string, pred string, obj string",
    )
    out = link_mentions(mentions, vocabulary_df(spark), fuzzy=True)
    got = {(r["doc_id"], r["obj"]) for r in out.collect()}
    assert ("d1", "corpus callosum") in got
    assert ("d1", "superior longitudinal fasciculus") in got
    assert ("d2", "not a tract at all") in got
    # the typo must have been merged into the canonical (deduped with exact)
    assert ("d1", "corpus callosumm") not in got
    assert out.filter(
        (F.col("doc_id") == "d1") & (F.col("obj") == "corpus callosum")
    ).count() == 1
