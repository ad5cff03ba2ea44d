"""French medical NER (SURVEY.md §2.3 F7/F8, §2.5 C8).

Reference: `FrenchMedicalNERParser` — tokenize (:186), medical-lexicon offsets
(MedicalNERLexicon.java:26-104, MedicalNERLexiconPositionsIndexes), features
(:276-558), CRF label (:214), entity assembly with offsets (:560-797).

Rebuild: token features + the module's UMLS-style gazetteer sets
(kernels/lexicon.MEDICAL_SETS) drive linear emissions; Viterbi + RLE give
entity spans. Continuation heuristics replace trained-CRF transition mass:
side-adjectives extend the open entity ('genou droit'), dose numbers/units
within 2 tokens of a drug extend the medicament ('Daptomycine 1500 mg') —
mirroring the reference's entity examples in doc/API_service.md.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .cluster import rle_cluster_ids
from .labels import NER_LABELS, label_index
from .subparsers import _cluster_spans, _decode, line_opens

_IX = label_index(NER_LABELS)

_LEX_TO_LABEL = {
    "anatomy": "anatomy",
    "pathology": "pathology",
    "medicament": "medicament",
    "substance": "substance",
    "procedure": "procedure",
    "symptom": "symptom",
    "device": "device",
    "living": "living",
    "physiology": "physiology",
}


def ner_emissions(t: pd.DataFrame) -> np.ndarray:
    # int16 at DOUBLED weights: every weight is a multiple of 0.5, so 2×
    # weights are exact small integers and path sums stay << 2^15 — every
    # argmax/tie decision is identical to the f64 math (uniform scaling
    # preserves all comparisons) while the Viterbi gather/DP memory traffic
    # is half of even f32 (this kernel feeds the corpus-NER hot loop on a
    # bandwidth-bound box; confidence margins are halved back to the
    # original scale in ner_entities). Transitions double in lockstep:
    # label_ner_tokens decodes with stay=4.0 (= 2 × the modeled 2.0).
    em = np.zeros((len(t), len(NER_LABELS)), dtype=np.int16)

    def w(x: float) -> np.int16:
        return np.int16(int(2 * x))

    # per-column term lists, accumulated in CONTIGUOUS 1-D int16 buffers
    # and stored with ONE strided write per label column — `em[:, ix] +=`
    # is a strided read-modify-write touching a cache line per element,
    # and ~30 of them dominated this kernel's profile. Same int16
    # arithmetic, same term order per column → identical values.
    terms: dict[str, list[np.ndarray]] = {}

    def add(lab: str, weight: float, arr: np.ndarray) -> None:
        terms.setdefault(lab, []).append(w(weight) * arr)

    for lex, lab in _LEX_TO_LABEL.items():
        add(lab, 4.0, t[f"lex_{lex}"].to_numpy())

    # suffix-morphology evidence for out-of-gazetteer entities (the
    # reference's prefix/suffix CRF features): weaker than a gazetteer hit,
    # stronger than the plain-word 'other' default
    add("medicament", 3.5, t["suf_drug"].to_numpy())
    add("pathology", 3.0, t["suf_patho"].to_numpy())

    add("date", 6.0, t["is_date"].to_numpy())
    add("time", 6.0, t["is_time"].to_numpy())
    add("persname", 5.0, (t["is_medic_title"] | t["is_patient_title"]).to_numpy())
    add("persname", 2.0, (t["is_cap"] | t["is_allcaps"]).to_numpy())
    add("persname", 4.0, (t["is_period"] & t["prev_abbrev"]).to_numpy())
    add("rolename", 3.0, t["is_role"].to_numpy())
    # fax/phone numbers: digit tokens inside the Fax/Tél keyword window
    # (FrenchMedicalNERParser <fax>/<phone>; the keyword itself stays other)
    num = t["is_num"].to_numpy()
    add("fax", 6.0, num & t["near_fax_kw"].to_numpy())
    add("phone", 6.0, num & t["near_tel_kw"].to_numpy() & ~t["near_fax_kw"].to_numpy())
    # location: gazetteer city or toponym-suffix morphology (<location>)
    add("location", 4.0, (t["is_city"] | t["suf_city"]).to_numpy())
    # person-TYPE mentions ('la patiente', 'le médecin') — standalone
    # descriptors, NOT titles attached to a following name (<persType>)
    add("perstype", 6.0, t["is_perstype_word"].to_numpy() & ~t["next_is_cap"].to_numpy())

    # age: '50 ans'
    age_num = (t["is_num"] & t["next_is_ans"]).to_numpy()
    add("age", 6.0, t["is_ans"].to_numpy() | age_num)

    # dose attachment: numbers/units right after a drug extend the medicament
    dose_tok = (t["is_num"] | t["is_unit"]).to_numpy()
    add("medicament", 3.0, dose_tok & t["near_medicament"].to_numpy())
    add("dose", 2.0, dose_tok & ~t["near_medicament"].to_numpy() & t["is_unit"].to_numpy())

    # side adjectives continue the open entity: neutral emission (sticky
    # transition wins) — explicitly zero other-score for them
    side = t["is_side"].to_numpy()
    not_abbrev_period = ~(t["is_period"] & t["prev_abbrev"]).to_numpy()
    # stopwords break entity runs hard (4.5 > 2× entity stickiness): 'et'
    # between two procedures must not fuse them
    add("other", 4.5, t["is_stop"].to_numpy() & ~side)
    add("other", 3.0, t["is_punct"].to_numpy() & ~side & not_abbrev_period)
    add("other", 6.0, t["is_sent_period"].to_numpy())
    # plain words default to other (beats bare stickiness, loses to any
    # lexicon/pattern evidence)
    add("other", 2.5, ~(side | dose_tok))

    for lab, parts in terms.items():
        acc = parts[0]
        for p in parts[1:]:
            acc += p
        em[:, _IX[lab]] = acc
    return em


def label_ner_tokens(t: pd.DataFrame) -> pd.Series:
    # stay=4.0 = 2 × the modeled 2.0: transitions scale with the doubled
    # int16 emissions so every path comparison is unchanged
    return _decode(t, ner_emissions(t), NER_LABELS, stay=4.0)


def ner_entities(t: pd.DataFrame) -> pd.DataFrame:
    """Entities with character offsets and a confidence score
    [doc_id, kind, text, start, end, confidence_milli] — the reference's
    entity-coordinate output (C8; FrenchMedicalNERParser.java:560-797).

    Confidence = mean per-token emission margin of the decoded label over
    the best alternative, squashed to 0..1000 (margin/(1+margin) milli) —
    the deterministic analog of the CRF's posterior confidence: gazetteer
    hits (strong emissions) score high, weak contextual attachments low.
    ``t`` is not modified.
    """
    em = ner_emissions(t)
    label = _decode(t, em, NER_LABELS, stay=4.0)  # as label_ner_tokens
    codes = label.cat.codes.to_numpy()[:, None]
    # per-token margin: emission of the decoded label minus the best OTHER
    # emission (negative when the transition prior carried the token).
    # Emissions are 2×-scaled int16 — mask with the int sentinel, then
    # halve back to the modeled scale (exact: margins are small integers)
    decoded_em = np.take_along_axis(em, codes, axis=1)[:, 0]
    masked = em.copy()
    np.put_along_axis(masked, codes, np.iinfo(np.int16).min >> 1, axis=1)
    margin = (decoded_em.astype(np.float64) - masked.max(axis=1)) / 2.0

    d = t.copy(deep=False)
    d["label"] = label
    # one clustering for both the spans and their mean margins: the spans
    # are these clusters, in order, minus the 'other' ones
    cl = rle_cluster_ids(d["doc_id"], label, break_before=line_opens(d))
    flat = _cluster_spans(d, cl, with_char_offsets=True)
    sums = np.bincount(cl, weights=np.clip(margin, 0.0, None))
    entity = np.bincount(cl, weights=codes[:, 0] != _IX["other"]) > 0
    mean_margin = (sums / np.bincount(cl))[entity]
    conf = np.floor(
        1000.0 * mean_margin / (1.0 + mean_margin)
    ).astype(np.int64)
    flat = flat.assign(confidence_milli=conf)
    return flat[["doc_id", "kind", "text", "start", "end", "confidence_milli"]]
