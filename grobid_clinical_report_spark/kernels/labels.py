"""Label vocabularies for every model in the cascade.

Mirrors the reference's hard-coded enums in
`MedicalLabels.java:16-119` (label strings) and the 11-model binding at
`MedicalLabels.java:134-296` / `GrobidMedicalReportModels.java:19-24`.
Output `kind` strings drop the reference's angle brackets (FIXTURES.md §2).

Each model also declares its Viterbi transition priors here: the reference
gets sequence coherence from Wapiti CRF transitions (models trained with the
window/epsilon/maxIter params in resources/config/grobid-medical-report.yaml);
we refit deterministic transition matrices offline (see kernels/viterbi.py).
"""

from __future__ import annotations

import numpy as np

# --- segmenter zones (MedicalLabels.java:15-25: titlePage, header, headnote,
# footnote, marginnote, leftnote, rightnote, body, page, acknowledgement,
# annex) — the full reference vocabulary -------------------------------------
SEG_LABELS = [
    "titlePage",
    "header",
    "leftnote",
    "rightnote",
    "marginnote",
    "body",
    "headnote",
    "footnote",
    "page",
    "acknowledgement",
    "annex",
    "other",
]

# --- full-medical-text body structure (MedicalLabels.java:96-103,178-190) --
BODY_LABELS = [
    "title",
    "section",
    "subsection",
    "paragraph",
    "item",
    "figure",
    "table",
    "figure_marker",
    "table_marker",
    "medic",
    "patient",
    "note",
]

# --- header fields (MedicalLabels.java:146-162) -----------------------------
HEADER_LABELS = [
    "docnum",
    "doctype",
    "title",
    "date",
    "time",
    "dateline",
    "medic",
    "patient",
    "affiliation",
    "address",
    "org",
    "email",
    "phone",
    "fax",
    "web",
    "note",
]

# --- left-note fields (MedicalLabels.java:165-175) --------------------------
LEFTNOTE_LABELS = [
    "idno",
    "organization",
    "medic",
    "address",
    "country",
    "settlement",
    "phone",
    "fax",
    "email",
    "web",
    "note",
]

# --- string sub-models (MedicalLabels.java:106-119, 192-244) ----------------
DATELINE_LABELS = ["doctype", "date", "time", "place", "note", "other"]
MEDIC_LABELS = [
    "idno", "rolename", "persname", "affiliation", "orgname", "institution",
    "address", "country", "settlement", "email", "phone", "fax", "web", "other",
]
PATIENT_LABELS = [
    "idno", "idtype", "persname", "sex", "birthdate", "birthplace", "age",
    "death", "address", "country", "settlement", "phone", "note", "other",
]
NAME_LABELS = ["title", "forename", "middlename", "surname", "suffix", "other"]
ADDRESS_LABELS = [
    "streetnumber", "streetname", "postcode", "city", "country", "other",
]
# full hospital-hierarchy vocabulary (MedicalLabels.java:53-78: ghu/chu/dmu/
# pole/site/hospital/university/institution/center/service/department/unit/
# administration + orgname/address/settlement/country)
ORG_LABELS = [
    "orgname", "ghu", "chu", "dmu", "pole", "site", "hospital", "university",
    "institution", "center", "service", "department", "unit",
    "administration", "address", "settlement", "country", "other",
]

# --- French medical NER (MedicalLabels.java:80-93, 269-296) ------------------
NER_LABELS = [
    "age", "anatomy", "date", "device", "dose", "email", "fax", "idno",
    "idtype", "living", "location", "measure", "medicament", "object",
    "orgname", "pathology", "persname", "perstype", "phone", "physiology",
    "procedure", "rolename", "substance", "symptom", "time", "treatment",
    "unit", "value", "web", "other",
]


def label_index(labels: list[str]) -> dict[str, int]:
    return {lab: i for i, lab in enumerate(labels)}


def sticky_transitions(labels: list[str], stay: float = 2.0,
                       move: float = 0.0,
                       neutral: str | None = "other") -> np.ndarray:
    """Default linear-chain transition prior: staying in the same label is
    favored (cluster contiguity — the reference gets this from CRF transition
    weights; TaggingTokenClusteror then groups consecutive same-label tokens,
    HeaderMedicalParser.java:1230-1242).

    The ``neutral`` label (background/'other') gets NO self-stickiness:
    otherwise long background runs accumulate transition mass and singleton
    entities (one date token between stopwords) can never pay the entry+exit
    cost. Entity labels keep their contiguity prior; background is free.
    """
    n = len(labels)
    t = np.full((n, n), move, dtype=np.float64)
    np.fill_diagonal(t, stay)
    if neutral is not None and neutral in labels:
        t[labels.index(neutral), labels.index(neutral)] = move
    return t
