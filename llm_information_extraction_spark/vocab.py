"""Controlled vocabularies (the reference's LUT) as plain data.

Sources (data parity, not code):
- white-matter tract surface forms: ``/root/reference/prompts/brain_extraction.py:37``
  (normalized + deduped into ``data/tracts.txt``);
- disease list: ``brain_extraction.py:50-51`` → ``data/diseases.txt``;
- per-field example vocabularies: ``brain_extraction.py:31-49`` field guidance;
- canonical alias maps: ``/root/reference/evaluation_gpt4_vs_gpt5.py:99-127``;
- empty-token set: ``evaluation_gpt4_vs_gpt5.py:43-46``;
- animal/review pre-filter markers: ``brain_extraction.py:35``;
- gray-matter exclusion list: ``brain_extraction.py:39``.

Everything is normalized with the reference's ``normalize_text`` semantics
(lowercase, strip, collapse whitespace) so matching is exact downstream.
"""

from __future__ import annotations

from importlib import resources

#: the 15 extraction fields — the triple `pred` domain
#: (reference output schema, brain_extraction.py:12-27)
EXTRACTION_FIELDS = [
    "imaging_modalities",
    "patient_groups",
    "whitematter_tracts",
    "subjects",
    "analysis_software",
    "study_type",
    "diffusion_measures",
    "template_space",
    "results_method",
    "white_integrity",
    "question_of_study",
    "DTI_study",
    "Human_study",
    "Dementia_study",
    "Disease_study",
]

#: yes/no fields default to ["no"] when not derivable (brain_extraction.py:55)
BINARY_FIELDS = ["DTI_study", "Human_study", "Dementia_study"]


def _load_list(name: str) -> list[str]:
    # importlib.resources (not Path) so the package also works zipped
    # into spark-submit --py-files archives on executors
    text = resources.files(__package__).joinpath("data", name).read_text()
    return [line.strip() for line in text.splitlines() if line.strip()]


def tract_surface_forms() -> list[str]:
    """All ~300 normalized tract aliases from the LUT."""
    return _load_list("tracts.txt")


def disease_surface_forms() -> list[str]:
    """The 21 disease names from the prompt's Disease_study list."""
    return _load_list("diseases.txt")


# per-field gazetteer vocabularies (field guidance examples, normalized).
# These are closed sets in the deterministic extractor; the fixture
# generator only plants terms from these sets, so P/R is exact.
FIELD_VOCABS: dict[str, list[str]] = {
    "imaging_modalities": [
        "anatomical mri", "fmri", "pet", "ct", "spect", "meg", "eeg",
        "diffusion mri", "diffusion weighted mri", "dti", "dmri", "mri",
    ],
    "subjects": ["humans", "mice", "rats", "monkeys", "macaques"],
    "analysis_software": [
        "fsl", "freesurfer", "spm", "afni", "dipy", "tracula",
        "mrtrix", "ants", "tbss",
    ],
    "diffusion_measures": ["fa", "md", "ad", "rd", "mk", "ndi", "odi"],
    "template_space": ["talairach", "mni", "mni152"],
    "results_method": [
        "t-test", "anova", "correlation", "regression", "chi-square",
        "mixed model", "ancova",
    ],
    "white_integrity": ["decrease", "increase", "no mention"],
    "patient_groups": ["healthy controls"],  # extended with diseases at load
}

#: gray-matter terms that must NOT be extracted as tracts
#: (EXCLUSION rule, brain_extraction.py:39)
GRAY_MATTER_EXCLUSIONS = [
    "putamen", "thalamus", "hippocampus", "amygdala", "cortex",
    "basal ganglia", "caudate", "globus pallidus",
]

#: markers that force whitematter_tracts = [] (pre-filter, brain_extraction.py:35)
ANIMAL_MARKERS = [
    "mouse model", "in mice", "in rats", "rat model", "rodent",
    "in monkeys", "macaque", "animal study", "animal model",
]
REVIEW_MARKERS = [
    "meta-analysis", "meta analysis", "systematic review",
    "this review", "literature review", "we review",
]

#: empty-value tokens (evaluation_gpt4_vs_gpt5.py:43-46)
EMPTY_TOKENS = [
    "", "none", "n.a.", "na", "n a", "n/a", "null", "_", "-", "nan",
    "not reported", "unknown",
]

#: canonical alias maps (evaluation_gpt4_vs_gpt5.py:99-127), pre-normalized
CANON_MAPS: dict[str, dict[str, str]] = {
    "DTI_study": {"yes": "yes", "no": "no"},
    "Human_study": {"yes": "yes", "no": "no", "human": "yes"},
    "Dementia_study": {"yes": "yes", "no": "no"},
    "study_type": {
        "single study": "single study",
        "single": "single study",
        "meta analysis": "meta analysis",
        "review": "review",
    },
    "Disease_study": {
        "alzheimers disease": "alzheimers disease",
        "ad": "alzheimers disease",
        "parkinson disease": "parkinson disease",
    },
    "whitematter_tracts": {
        "corpus callosum": "corpus callosum",
        "corpus callosum - splenium": "corpus callosum - splenium",
        "cingulum": "cingulum",
        "uncinate fasciculus": "uncinate fasciculus",
        "fornix": "fornix",
        "genu": "genu",
        "inferior fronto occipital fasciculus":
            "inferior fronto occipital fasciculus",
        "superior longitudinal fasciculus":
            "superior longitudinal fasciculus",
        "corticospinal tract": "corticospinal tract",
        "forceps minor": "forceps minor",
        "ilf": "inferior longitudinal fasciculus",
        "ifo": "inferior fronto occipital fasciculus",
        "uncinate fasc.": "uncinate fasciculus",
        "slf": "superior longitudinal fasciculus",
        "cc": "corpus callosum",
        "cc- corpus callosum": "corpus callosum",
    },
}


#: cross-field surface overlap sanctioned by the reference: the disease
#: list doubles as the patient_groups vocabulary (brain_extraction.py:50-51)
SANCTIONED_OVERLAP = frozenset({"Disease_study", "patient_groups"})


def _canon(field: str, surface: str) -> str:
    return CANON_MAPS.get(field, {}).get(surface, surface)


def _primary_rows() -> list[tuple[str, str, str]]:
    """Rows from the prompt's controlled vocabularies (the LUT proper)."""
    rows: list[tuple[str, str, str]] = []
    for t in tract_surface_forms():
        rows.append(("whitematter_tracts", t, _canon("whitematter_tracts", t)))
    for d in disease_surface_forms():
        rows.append(("Disease_study", d, _canon("Disease_study", d)))
        rows.append(("patient_groups", d, d))
    for field, words in FIELD_VOCABS.items():
        for w in words:
            rows.append((field, w, _canon(field, w)))
    return rows


def _alias_rows() -> list[tuple[str, str, str]]:
    """Rows from the evaluation alias maps
    (evaluation_gpt4_vs_gpt5.py:110-127), e.g. 'slf' → 'superior
    longitudinal fasciculus'. The reference uses these only to
    canonicalize predicted/gold labels at eval time."""
    rows: list[tuple[str, str, str]] = []
    for field in ("whitematter_tracts", "Disease_study"):
        for alias, canonical in CANON_MAPS[field].items():
            rows.append((field, alias, canonical))
    return rows


def gazetteer_rows() -> list[tuple[str, str, str]]:
    """Flatten every vocabulary into ``(field, surface, canonical)`` rows.

    This is the broadcast dimension table used by LINKING and entity
    construction (FIXTURES.md T3): it includes the eval alias maps so
    entities merge 'slf' with 'superior longitudinal fasciculus'.
    Canonical = the surface itself unless a canonical map overrides it.
    The extraction matcher must use :func:`extraction_rows` instead —
    alias surfaces that collide with another field's vocabulary (e.g.
    Disease_study alias 'ad' vs diffusion measure 'ad') are extraction
    false-positive triggers.

    Each ``(field, surface)`` key appears once, so the dimension needs no
    dedup downstream; a key with two canonicals raises ``ValueError``.
    Every canonical is itself a surface of its field, so a linked object
    is always a known surface and re-linking it finds nothing new; a
    canonical without its own row raises ``ValueError`` too.
    """
    rows = sorted(set(_primary_rows() + _alias_rows()))
    seen: dict[tuple[str, str], str] = {}
    for field, surface, canonical in rows:
        prev = seen.setdefault((field, surface), canonical)
        if prev != canonical:
            raise ValueError(
                f"gazetteer key ({field!r}, {surface!r}) has two canonicals: "
                f"{prev!r} and {canonical!r}"
            )
    for field, surface, canonical in rows:
        if (field, canonical) not in seen:
            raise ValueError(
                f"gazetteer canonical ({field!r}, {canonical!r}) of surface "
                f"{surface!r} is not a surface of its field"
            )
    return rows


def extraction_rows() -> list[tuple[str, str, str]]:
    """Extraction-matcher vocabulary: primary LUT rows + only those eval
    aliases whose surface does NOT appear in any *other* field's
    vocabulary (beyond the sanctioned Disease_study↔patient_groups
    overlap).

    Recognizing unambiguous aliases ('slf', 'ilf', 'cc', …) at extraction
    time is a recall extension over the reference; ambiguous ones ('ad'
    is both the Alzheimer alias and a diffusion measure) stay eval-only,
    matching the reference, which never uses alias maps as extraction
    triggers.
    """
    primary = _primary_rows()
    aliases = _alias_rows()
    surf_fields: dict[str, set[str]] = {}
    for f, s, _ in primary + aliases:
        surf_fields.setdefault(s, set()).add(f)
    rows = list(primary)
    for f, s, c in aliases:
        others = surf_fields[s] - {f}
        if f in SANCTIONED_OVERLAP:
            others -= SANCTIONED_OVERLAP
        if not others:
            rows.append((f, s, c))
    return sorted(set(rows))
