"""Token-level string sub-parsers: dateline / medic / patient
(SURVEY.md §2.3 F6, §2.4 L6, §2.6 string endpoints).

Reference: `DatelineParser`, `MedicParser`, `PatientParser` — tokenize
(MedicParser.java:63), lexicon offsets (:84-88), per-token features
(FeaturesVectorMedic.java:196-330 etc.), CRF label (:96), cluster (:99-102),
POJO fill (:103-228). The REST contract is doc/API_service.md
(/api/processDateline, /api/processMedic, /api/processPatient).

Rebuild: shared token featurization → per-model linear emissions → Viterbi →
RLE clusters → exact source-substring reconstruction from (gap, tok) columns
(kernels/tokenize.explode_tokens), so 'Pr. Abagael ZOSIMA' comes back with its
original punctuation/spacing.

This module owns the token path every token model runs — the string
endpoints, the header's enrichment sub-models, the NER (kernels/ner.py) and
the trained NER (trainer.run_trained_ner): `tokens_of` (explode_tokens →
token_features) builds the token frame, `_decode` is the one surrogate
decode (sticky transitions → `viterbi.decode`, the Categorical every
labeler returns), `token_spans` runs tokens → labeler → `tokens_to_spans`,
and `line_opens` is the one definition of a token's line (a line opens
where tok_idx == 0). The medic/patient endpoints' POJO fill is the header's
field fill, `header.fill_fields`, with the POJO separators
(pipeline._POJO_SEPS).

Like the reference's CRFs, which read only the vector their
FeaturesVector* class built, the labelers read feature columns and never
the token text: every word cue a model keys on (the sub-models' doctype,
'@', birth/id/sex keywords, name suffix, country and org-head cues
included) is a `token_features` column, and trainer.pack_features packs
those same columns. Text is read only by `token_features` and the span
builder (`_cluster_spans`).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from . import lexicon as lx
from .cluster import rle_cluster_ids
from .labels import (
    DATELINE_LABELS,
    MEDIC_LABELS,
    PATIENT_LABELS,
    label_index,
    sticky_transitions,
)
from .segments import seg_cumsum, seg_position
from .tokenize import explode_tokens
from .viterbi import decode

_MEDIC_TITLES = {"dr", "pr", "docteur", "professeur", "dr.", "pr."}
_PATIENT_TITLES = {"madame", "monsieur", "mme", "mlle", "mademoiselle", "m"}
_ABBREVS = {"dr", "pr", "m", "mme", "mlle"}

# head word → hierarchy label: the token that OPENS an organizational unit
# names its level; following tokens on the line ride that level until the
# next head (the reference CRF learns this from <service>/<chu>/… training
# chunks — 'SERVICE DE GYNECOLOGIE CHU HENRI MONDOR' → service + chu)
_ORG_HEADS = {
    "service": "service",
    "département": "department", "departement": "department",
    "pôle": "pole", "pole": "pole",
    "unité": "unit", "unite": "unit",
    "chu": "chu",
    "ghu": "ghu",
    "dmu": "dmu",
    "site": "site",
    "hôpital": "hospital", "hopital": "hospital", "clinique": "hospital",
    "université": "university", "universite": "university",
    "institut": "institution", "institution": "institution",
    "centre": "center",
    "aphp": "administration", "ap-hp": "administration",
    "administration": "administration",
}
_HEAD_CATS = sorted(set(_ORG_HEADS.values()))
# org_head codes: slot 0 = not a head, then 1 + the category index of each
# head word, in _ORG_HEADS order
_HEAD_CODES = np.array(
    [0] + [1 + _HEAD_CATS.index(c) for c in _ORG_HEADS.values()],
    dtype=np.int8,
)


EMPTY_SPANS = pd.DataFrame(columns=["doc_id", "kind", "text", "media_ref", "offset"])


def line_opens(t: pd.DataFrame) -> np.ndarray:
    """True on each line's first token. explode_tokens numbers tokens per
    input row, so a line opens exactly where tok_idx == 0 (and so does
    every document)."""
    return t["tok_idx"].to_numpy() == 0


def line_starts(t: pd.DataFrame) -> np.ndarray:
    """Row index of each line's first token (seg_starts form)."""
    return np.flatnonzero(line_opens(t))


def tokens_of(lines: pd.DataFrame) -> pd.DataFrame:
    """Lines [doc_id, text, offset, …] → the featured token frame every
    token model reads (explode_tokens → token_features); empty when the
    lines hold no token."""
    toks = explode_tokens(lines)
    return token_features(toks) if len(toks) else toks


def token_spans(lines: pd.DataFrame, labeler) -> pd.DataFrame:
    """Lines → labeled spans: tokens_of → ``labeler`` (token frame → label
    Series) → tokens_to_spans."""
    toks = tokens_of(lines)
    if toks.empty:
        return EMPTY_SPANS
    toks["label"] = labeler(toks)
    return tokens_to_spans(toks)


def token_features(toks: pd.DataFrame) -> pd.DataFrame:
    """Shared token-level features. Input from tokenize.explode_tokens
    (columns tok, gap, tok_idx and the lines' columns). All column-wise.

    Every per-token-FORM feature (regex match, set membership, suffix
    morphology) is computed over the batch's DICTIONARY of unique forms and
    expanded by fancy indexing: natural-language token columns are massively
    repetitive (measured ~1.9k unique forms in 518k tokens, a 270× ratio),
    so the ~45 RE2/hash passes run over thousands of strings instead of
    hundreds of thousands. Positional context features (shifts, windows)
    stay per-row numpy. Every cue a token model reads is a column here;
    no column holds text. Features accumulate in a dict and attach with ONE
    concat — incremental column inserts re-consolidate the pandas block
    manager each time (profiled at ~60% of this kernel's wall)."""
    from . import arrowtext as at

    n = len(toks)

    import pyarrow as pa
    import pyarrow.compute as pc

    # Arrow dictionary encode (zero-copy when tok is already Arrow-backed,
    # as explode_tokens now ships it): codes + the unique-form dictionary
    enc = at.arr_of(toks["tok"]).dictionary_encode()
    codes = np.asarray(enc.indices)
    tok_u = enc.dictionary
    low_u = pc.utf8_lower(tok_u)
    f: dict[str, np.ndarray] = {}

    # unique-FORM features accumulate at dictionary level in `u` and
    # expand with ONE (U, F) row gather below — ~24 separate per-feature
    # `[codes]` gathers over the corpus-sized token column cost more than
    # every is_in/regex on the tiny dictionary combined (r8)
    u: dict[str, np.ndarray] = {}

    def M(pattern: str) -> np.ndarray:
        return at.match(tok_u, pattern + "$")

    def ISIN(vocab) -> np.ndarray:
        return pc.is_in(
            low_u, value_set=pa.array(sorted(vocab), type=pa.string())
        ).to_numpy(zero_copy_only=False)

    u["is_date"] = M(r"\d{1,2}[./-]\d{1,2}[./-]\d{2,4}")
    u["is_time"] = M(r"\d{1,2}[hH:]\d{2}")
    u["is_num"] = M(r"\d+(?:[.,]\d+)?")
    u["is_punct"] = M(r"[^\wÀ-ÖØ-öø-ÿ]")
    u["is_period"] = pc.equal(tok_u, ".").to_numpy(zero_copy_only=False)
    u["is_cap"] = at.match(tok_u, r"[A-ZÀ-ÖØ][a-zà-öø-ÿ]")
    u["is_allcaps"] = M(r"[A-ZÀ-ÖØ]{2,}")
    u["is_stop"] = ISIN(lx.STOPWORDS_FR)
    u["is_medic_title"] = ISIN(_MEDIC_TITLES)
    u["is_patient_title"] = ISIN(_PATIENT_TITLES)
    u["is_role"] = ISIN(lx.ROLE_WORDS)
    u["is_org"] = ISIN(lx.ORG_WORDS)
    u["is_city"] = ISIN(lx.CITIES_FR)
    u["is_street"] = ISIN(lx.STREET_WORDS)
    u["is_postcode"] = M(r"\d{5}")
    u["is_unit"] = ISIN(lx.DOSE_UNITS)
    u["is_side"] = ISIN(lx.SIDE_WORDS)
    u["is_month"] = ISIN(lx.MONTHS_FR)
    # a single uppercase letter — a name initial ('C. LEROY'); the 1-char
    # prefix feature class of the reference's CRF inventory
    u["is_initial"] = M(r"[A-ZÀ-ÖØ]")
    # name initials abbreviate exactly like title abbreviations: the period
    # after 'C' in 'C. LEROY' continues the name, it does not end a sentence
    u["abbrev"] = ISIN(_ABBREVS) | u["is_initial"]
    u["kw_fax"] = ISIN({"fax"})
    u["kw_tel"] = ISIN({"tél", "tel", "téléphone", "telephone"})
    # person-TYPE words + the age cue (the NER's)
    u["is_perstype_word"] = ISIN(
        {"patient", "patiente", "patients", "patientes", "médecin",
         "medecin", "médecins", "infirmier", "infirmière"}
    )
    u["is_ans"] = pc.equal(low_u, "ans").to_numpy(zero_copy_only=False)
    # the string sub-models' word cues: doctype words (dateline), '@'
    # (medic e-mail), birth markers, 'le', id and sex keywords (patient),
    # name suffixes (name) and the country (address, org)
    u["is_doctype_word"] = ISIN(lx.DOCTYPE_WORDS)
    u["has_at"] = pc.match_substring(tok_u, "@").to_numpy(zero_copy_only=False)
    u["is_born_marker"] = ISIN({"née", "né", "nee", "ne"})
    u["is_le"] = pc.equal(low_u, "le").to_numpy(zero_copy_only=False)
    u["is_idno_kw"] = ISIN({"ipp", "nip"})
    u["is_sex_kw"] = ISIN({"sexe", "féminin", "feminin", "masculin"})
    u["is_name_suffix"] = ISIN({"jr", "sr", "junior"})
    u["is_france"] = ISIN({"france"})
    for lex_name, lex_set in lx.MEDICAL_SETS.items():
        u[f"lex_{lex_name}"] = ISIN(lex_set)
    # suffix-class features (FeaturesVectorMedicalNER's 1-4 char prefix/
    # suffix features, rebuilt as morphology classes): French drug and
    # pathology suffixes catch out-of-gazetteer entities
    u["suf_drug"] = at.match(
        low_u,
        r".{3,}(?:cilline|mycine|micine|cycline|oxacine|prazole|azole"
        r"|pril|sartan|statine|azépam|azepam|tidine|caïne|caine)$",
    )
    u["suf_patho"] = (
        at.match(low_u, r".{4,}(?:ite|émie|algie|pathie)s?$")
        & ~ISIN(lx.SUF_PATHO_EXCLUDE)
        & ~u["is_stop"]
    )
    # toponym/profession suffix classes (F3/F5 depth — the header/left-note
    # models' per-token 1-4-char prefix/suffix CRF features,
    # FeaturesVectorHeaderMedical.java:63-73 / FeaturesVectorLeftNote
    # Medical.java:61-71, rebuilt as the informative equivalence classes of
    # those strings): French toponym suffixes catch out-of-gazetteer place
    # names ('Boisville'), profession suffixes catch physician descriptors
    # carrying no Dr/Pr title ('Cardiologue', 'Chirurgienne')
    u["suf_city"] = at.match(low_u, r".{2,}(?:ville|bourg|court)$")
    u["suf_profession"] = at.match(
        low_u, r".{2,}(?:logue|iatre|icien|irurgien)(?:ne)?s?$"
    )

    # ONE row gather: (U, F) C-order matrix → (N, F); each expanded
    # feature is a column view (rows are F≈37 adjacent bytes, so the
    # strided consumers stay cache-line-local)
    u_names = list(u)
    mat = np.empty((len(tok_u), len(u_names)), dtype=bool)
    for j, nm in enumerate(u_names):
        mat[:, j] = u[nm]
    exp = mat[codes]
    E = {nm: exp[:, j] for j, nm in enumerate(u_names)}
    internal = {"abbrev", "kw_fax", "kw_tel", "is_le"}
    f.update({nm: E[nm] for nm in u_names if nm not in internal})
    # the org model's head category (_HEAD_CODES; a null index is no head)
    head_ix = pc.index_in(low_u, value_set=pa.array(list(_ORG_HEADS)))
    f["org_head"] = _HEAD_CODES[
        pc.fill_null(head_ix, -1).to_numpy(zero_copy_only=False) + 1
    ][codes]

    # previous-token context (within the same line), vectorized via roll
    same_line = ~line_opens(toks)
    next_same = np.zeros(n, dtype=bool)
    next_same[:-1] = same_line[1:]
    abbrev = E["abbrev"]
    f["prev_abbrev"] = np.roll(abbrev, 1) & same_line
    f["prev_is_num"] = np.roll(f["is_num"], 1) & same_line
    f["prev_is_org"] = np.roll(f["is_org"], 1) & same_line
    f["prev_is_month"] = np.roll(f["is_month"], 1) & same_line
    f["next_is_month"] = np.roll(f["is_month"], -1) & next_same
    f["next_is_cap"] = np.roll(f["is_cap"], -1) & next_same

    # distance-bounded keyword windows (same line, ≤8 tokens after the
    # keyword): number runs after 'Fax'/'Tél' are fax/phone numbers — the
    # reference NER's <fax>/<phone> context features
    idx = np.arange(n, dtype=np.int64)
    line_open = np.maximum.accumulate(np.where(~same_line, idx, -1))

    def _kw_window(kw: np.ndarray, width: int = 8) -> np.ndarray:
        last = np.maximum.accumulate(np.where(kw, idx, -1))
        return (last >= line_open) & (idx - last <= width) & (idx > last)

    f["near_fax_kw"] = _kw_window(E["kw_fax"])
    f["near_tel_kw"] = _kw_window(E["kw_tel"])
    # sentence-final period: a hard cluster boundary (vs. 'Pr.' abbreviation
    # periods which continue the name)
    f["is_sent_period"] = f["is_period"] & ~f["prev_abbrev"]
    f["next_is_ans"] = np.roll(E["is_ans"], -1) & next_same
    # the patient model's context cues: the article of 'née le 02/02/1962'
    # (a birth marker before it on its line) and the age idiom '50 ans'
    # ('ans' itself, or a number before it on its line)
    le = np.flatnonzero(E["is_le"] & same_line)  # never a line's first
    f["is_le_after_born"] = np.zeros(n, dtype=bool)
    f["is_le_after_born"][le] = E["is_born_marker"][le - 1]
    f["is_ans_cue"] = E["is_ans"] | (E["is_num"] & f["next_is_ans"])
    # drug hit within the previous 2 tokens (dose attachment window) —
    # suffix-detected drugs attach doses exactly like gazetteer ones
    med = f["lex_medicament"] | f["suf_drug"]
    prev1 = np.roll(med, 1) & same_line
    prev2 = np.roll(med, 2) & same_line & np.roll(same_line, 1)
    if n:
        prev1[0] = False
        prev2[: min(2, n)] = False
    f["near_medicament"] = prev1 | prev2
    # ONE from-dict construction, copy=False: each column keeps its own
    # array block, no vstack of the ~45 bool features and no axis-1 concat
    # consolidation (profiled on the 1256-doc NER batch: the former
    # DataFrame(f)+concat spent ~1.4s/5.5s of the whole mode's CPU in
    # pandas block management; from-dict is near-free and downstream
    # per-column .to_numpy() access is unchanged — consumers never take
    # row slices wide enough for lazy consolidation to bite back)
    # input columns pass through as their original Series — Arrow-backed
    # tok/gap stay Arrow-backed (no object materialization; the span
    # reconstruction's arr_of calls stay zero-copy)
    return pd.DataFrame(
        {**{c: toks[c] for c in toks.columns}, **f},
        index=toks.index,
        copy=False,
    )


def _decode(
    t: pd.DataFrame, em: np.ndarray, labels: list[str], stay: float = 2.5
) -> pd.Series:
    """The surrogate decode every token model runs: emissions ``em`` →
    sticky transitions → one Viterbi per line → Categorical labels."""
    trans = sticky_transitions(labels, stay=stay)
    return decode(em, line_starts(t), trans, labels, t.index)


def tokens_to_spans(t: pd.DataFrame) -> pd.DataFrame:
    """RLE-cluster labeled tokens (clusters never cross a line) into spans
    (_cluster_spans)."""
    cl = rle_cluster_ids(t["doc_id"], t["label"], break_before=line_opens(t))
    return _cluster_spans(t, cl)


def _cluster_spans(
    t: pd.DataFrame, cl: np.ndarray, with_char_offsets: bool = False
) -> pd.DataFrame:
    """Labeled tokens and their cluster ids → one span per non-'other'
    cluster, its exact source text rebuilt: first token verbatim, later
    members prefixed by their gap, each cluster's pieces joined by
    cluster.group_join. The text stays Arrow (ArrowDtype span texts, which
    _batch_from_flat emits zero-copy).

    ``with_char_offsets`` adds start/end — character offsets in the flattened
    document (line offset + in-line token offsets), the entity-coordinate
    contract of the reference NER output
    (FrenchMedicalNERParser.java:560-797); ner_entities passes it with the
    clusters it also averages its confidence over."""
    # cluster ids are nondecreasing (rle_cluster_ids is a cumsum) and ≥ 0,
    # so the first/last-member masks are one diff each — pd.duplicated
    # hashed the corpus-sized int column twice
    first_of_cl = np.diff(cl, prepend=-1) != 0
    last_of_cl = np.diff(cl, append=-1) != 0
    # span text = first token verbatim + Σ(gap+tok), joined per cluster in
    # Arrow (group_join)
    import pyarrow as pa
    import pyarrow.compute as pc

    from . import arrowtext as at
    from .cluster import group_join

    tok_arr = at.arr_of(t["tok"])
    withgap = pc.binary_join_element_wise(at.arr_of(t["gap"]), tok_arr, "")
    piece = pc.if_else(pa.array(first_of_cl), tok_arr, withgap)
    texts = pc.utf8_trim_whitespace(group_join(piece, cl, ""))
    agg = t.loc[first_of_cl, ["doc_id", "label", "offset"]].rename(
        columns={"label": "kind"}
    )
    agg["text"] = at.series_of(texts, index=agg.index)
    if with_char_offsets:
        base = t.loc[first_of_cl, "offset"].to_numpy()
        agg["start"] = base + t.loc[first_of_cl, "tok_start"].to_numpy()
        agg["end"] = (
            t.loc[last_of_cl, "offset"].to_numpy()
            + t.loc[last_of_cl, "tok_end"].to_numpy()
        )
    agg = agg[agg["kind"].ne("other")]
    # kind back to plain strings at span granularity (~100× fewer rows)
    agg["kind"] = agg["kind"].astype(str)
    agg["media_ref"] = None
    cols = ["doc_id", "kind", "text", "media_ref", "offset"]
    if with_char_offsets:
        cols += ["start", "end"]
    return agg[cols].reset_index(drop=True)


# ---------------------------------------------------------------------------
# dateline (DatelineParser.java:124-199)
# ---------------------------------------------------------------------------

_DL_IX = label_index(DATELINE_LABELS)


def parse_dateline_tokens(t: pd.DataFrame) -> pd.Series:
    em = np.zeros((len(t), len(DATELINE_LABELS)))
    em[:, _DL_IX["date"]] += 6.0 * t["is_date"].to_numpy()
    # textual dates ('3 mars 2021'): the month word and its adjacent numbers
    em[:, _DL_IX["date"]] += 6.0 * (
        t["is_month"]
        | (t["is_num"] & (t["next_is_month"] | t["prev_is_month"]))
    ).to_numpy()
    em[:, _DL_IX["time"]] += 6.0 * t["is_time"].to_numpy()
    # place: gazetteer hit OR toponym-suffix morphology (out-of-gazetteer
    # city names — the reference's CRF learns these from suffix features)
    city_like = (t["is_city"] | t["suf_city"]).to_numpy()
    em[:, _DL_IX["place"]] += 5.0 * (city_like & t["is_cap"].to_numpy())
    em[:, _DL_IX["doctype"]] += 2.0 * t["is_doctype_word"].to_numpy()
    em[:, _DL_IX["note"]] += 2.0 * (
        t["is_cap"].to_numpy() & ~city_like & ~t["is_medic_title"].to_numpy()
    )
    em[:, _DL_IX["other"]] += 3.0 * (t["is_stop"] | t["is_punct"]).to_numpy()
    em[:, _DL_IX["other"]] += 0.5
    return _decode(t, em, DATELINE_LABELS, stay=1.0)


# ---------------------------------------------------------------------------
# medic (MedicParser.java:78-233)
# ---------------------------------------------------------------------------

_MD_IX = label_index(MEDIC_LABELS)


def parse_medic_tokens(t: pd.DataFrame) -> pd.Series:
    em = np.zeros((len(t), len(MEDIC_LABELS)))
    em[:, _MD_IX["rolename"]] += 4.0 * t["is_role"].to_numpy()
    # profession-suffix tokens ('Cardiologue') are role descriptors, not
    # name parts — outweighs the +2.0 capitalization persname evidence
    em[:, _MD_IX["rolename"]] += 4.0 * t["suf_profession"].to_numpy()
    em[:, _MD_IX["persname"]] += 5.0 * t["is_medic_title"].to_numpy()
    # capitalization suggests a name — except for role words ('Assistant'),
    # which would otherwise ride the persname stickiness into the name span
    em[:, _MD_IX["persname"]] += 2.0 * (
        (t["is_cap"] | t["is_allcaps"]) & ~t["is_role"]
    ).to_numpy()
    em[:, _MD_IX["persname"]] += 4.0 * (t["is_period"] & t["prev_abbrev"]).to_numpy()
    # a bare initial opening a name ('C. LEROY')
    em[:, _MD_IX["persname"]] += 2.0 * t["is_initial"].to_numpy()
    em[:, _MD_IX["orgname"]] += 3.0 * t["is_org"].to_numpy()
    # org continuation: a capitalized token right after an org head stays in
    # the org chunk ('Hôpital BICHAT' — the name must not ride the persname
    # capitalization cue; MedicParser org-type clusters, MedicParser.java:
    # 147-155, keep head + proper name together)
    em[:, _MD_IX["orgname"]] += 2.5 * (
        (t["is_cap"] | t["is_allcaps"])
        & t["prev_is_org"]
        & ~t["is_role"]
        & ~t["is_medic_title"]
    ).to_numpy()
    em[:, _MD_IX["email"]] += 6.0 * t["has_at"].to_numpy()
    em[:, _MD_IX["address"]] += 3.0 * (
        t["is_street"] | t["is_postcode"]
    ).to_numpy()
    em[:, _MD_IX["settlement"]] += 3.0 * t["is_city"].to_numpy()
    em[:, _MD_IX["other"]] += 3.0 * (
        (t["is_stop"] | t["is_punct"]) & ~(t["is_period"] & t["prev_abbrev"])
    ).to_numpy()
    em[:, _MD_IX["other"]] += 6.0 * t["is_sent_period"].to_numpy()
    em[:, _MD_IX["other"]] += 0.5
    return _decode(t, em, MEDIC_LABELS)


# ---------------------------------------------------------------------------
# patient (PatientParser)
# ---------------------------------------------------------------------------

_PT_IX = label_index(PATIENT_LABELS)


def parse_patient_tokens(t: pd.DataFrame) -> pd.Series:
    em = np.zeros((len(t), len(PATIENT_LABELS)))
    em[:, _PT_IX["persname"]] += 5.0 * t["is_patient_title"].to_numpy()
    em[:, _PT_IX["persname"]] += 2.0 * (t["is_cap"] | t["is_allcaps"]).to_numpy()
    em[:, _PT_IX["persname"]] += 4.0 * (t["is_period"] & t["prev_abbrev"]).to_numpy()
    em[:, _PT_IX["birthdate"]] += 4.0 * t["is_date"].to_numpy()
    # 'née le 02/02/1962' — the birth marker opens the birthdate phrase and
    # the article rides it (PatientParser birth-date chunks carry the marker)
    em[:, _PT_IX["birthdate"]] += 4.0 * t["is_born_marker"].to_numpy()
    em[:, _PT_IX["birthdate"]] += 3.5 * t["is_le_after_born"].to_numpy()
    em[:, _PT_IX["age"]] += 5.0 * t["is_ans_cue"].to_numpy()
    em[:, _PT_IX["address"]] += 4.0 * (
        t["is_street"] | t["is_postcode"] | t["is_city"]
    ).to_numpy()
    em[:, _PT_IX["address"]] += 2.5 * t["is_num"].to_numpy()
    em[:, _PT_IX["idno"]] += 5.0 * t["is_idno_kw"].to_numpy()
    em[:, _PT_IX["sex"]] += 4.0 * t["is_sex_kw"].to_numpy()
    em[:, _PT_IX["other"]] += 3.0 * (
        (t["is_stop"] | t["is_punct"]) & ~(t["is_period"] & t["prev_abbrev"])
    ).to_numpy()
    em[:, _PT_IX["other"]] += 6.0 * t["is_sent_period"].to_numpy()
    em[:, _PT_IX["other"]] += 0.5
    return _decode(t, em, PATIENT_LABELS)


SUBPARSERS = {
    "parse_dateline": parse_dateline_tokens,
    "parse_medic": parse_medic_tokens,
    "parse_patient": parse_patient_tokens,
}


# ---------------------------------------------------------------------------
# person name (PersonNameParser.java:76-164; name-person-medical model)
# ---------------------------------------------------------------------------

from .labels import ADDRESS_LABELS, NAME_LABELS, ORG_LABELS  # noqa: E402

_NM_IX = label_index(NAME_LABELS)


def parse_name_tokens(t: pd.DataFrame) -> pd.Series:
    em = np.zeros((len(t), len(NAME_LABELS)))
    lstarts = line_starts(t)
    title = (t["is_medic_title"] | t["is_patient_title"]).to_numpy()
    # rank of capitalized (non-title) name tokens within the line
    name_tok = (t["is_cap"] | t["is_allcaps"]).to_numpy() & ~title
    cap_rank = seg_cumsum(name_tok.astype(np.int64), lstarts)

    em[:, _NM_IX["title"]] += 5.0 * title
    em[:, _NM_IX["title"]] += 4.0 * (t["is_period"] & t["prev_abbrev"]).to_numpy()
    em[:, _NM_IX["forename"]] += 4.0 * (name_tok & (cap_rank == 1)
                                        & t["is_cap"].to_numpy())
    em[:, _NM_IX["middlename"]] += 4.0 * (name_tok & (cap_rank > 1)
                                          & t["is_cap"].to_numpy())
    em[:, _NM_IX["surname"]] += 5.0 * (name_tok & t["is_allcaps"].to_numpy())
    em[:, _NM_IX["suffix"]] += 5.0 * t["is_name_suffix"].to_numpy()
    em[:, _NM_IX["other"]] += 3.0 * (
        (t["is_stop"] | t["is_punct"]) & ~(t["is_period"] & t["prev_abbrev"])
    ).to_numpy()
    em[:, _NM_IX["other"]] += 0.5
    return _decode(t, em, NAME_LABELS, stay=1.0)


# ---------------------------------------------------------------------------
# address (AddressParser.java:83-246)
# ---------------------------------------------------------------------------

_AD_IX = label_index(ADDRESS_LABELS)


def parse_address_tokens(t: pd.DataFrame) -> pd.Series:
    em = np.zeros((len(t), len(ADDRESS_LABELS)))
    lstarts = line_starts(t)
    post = t["is_postcode"].to_numpy().astype(np.int64)
    after_postcode = (seg_cumsum(post, lstarts) - post) > 0

    em[:, _AD_IX["streetnumber"]] += 5.0 * (
        t["is_num"] & t["tok_idx"].eq(0)
    ).to_numpy()
    em[:, _AD_IX["streetname"]] += 5.0 * t["is_street"].to_numpy()
    em[:, _AD_IX["streetname"]] += 1.5 * (
        (t["is_cap"] | t["is_allcaps"]).to_numpy() & ~after_postcode
    )
    em[:, _AD_IX["postcode"]] += 6.0 * post
    em[:, _AD_IX["city"]] += 4.0 * t["is_city"].to_numpy()
    em[:, _AD_IX["city"]] += 2.0 * (
        (t["is_cap"] | t["is_allcaps"]).to_numpy() & after_postcode
    )
    em[:, _AD_IX["country"]] += 5.0 * t["is_france"].to_numpy()
    em[:, _AD_IX["other"]] += 3.0 * t["is_punct"].to_numpy()
    em[:, _AD_IX["other"]] += 0.2
    return _decode(t, em, ADDRESS_LABELS, stay=2.0)


# ---------------------------------------------------------------------------
# organization (OrganizationParser; left-note org decomposition over the
# full hospital hierarchy, MedicalLabels.java:53-78)
# ---------------------------------------------------------------------------

_OG_IX = label_index(ORG_LABELS)


def parse_org_tokens(t: pd.DataFrame) -> pd.Series:
    n = len(t)
    em = np.zeros((n, len(ORG_LABELS)))
    lstarts = line_starts(t)

    # category id per token: 0 = not a head, 1+i = head of category i
    head_cat = t["org_head"].to_numpy().astype(np.int64)

    # forward-fill the most recent head within the line: global running max
    # of head indices is line-local because indices increase monotonically —
    # a previous line's head index is always below this line's start
    idx = np.arange(n, dtype=np.int64)
    head_pos = np.where(head_cat > 0, idx, -1)
    run = np.maximum.accumulate(head_pos) if n else head_pos
    line_start = idx - seg_position(lstarts, n)
    valid = run >= line_start
    active_cat = np.where(valid, head_cat[np.maximum(run, 0)], 0)

    capish = (t["is_cap"] | t["is_allcaps"]).to_numpy()
    is_head = head_cat > 0
    for i, cat in enumerate(_HEAD_CATS):
        mine = active_cat == (1 + i)
        em[:, _OG_IX[cat]] += 5.0 * (is_head & mine)
        # tokens riding the open unit: names and connective stopwords
        # ('SERVICE *DE* GYNECOLOGIE') continue the chunk
        em[:, _OG_IX[cat]] += 2.5 * (~is_head & mine & ~t["is_punct"].to_numpy())
    em[:, _OG_IX["orgname"]] += 1.5 * (capish & (active_cat == 0))
    em[:, _OG_IX["address"]] += 4.0 * (
        t["is_street"] | t["is_postcode"]
    ).to_numpy()
    em[:, _OG_IX["settlement"]] += 5.0 * t["is_city"].to_numpy()
    em[:, _OG_IX["country"]] += 5.0 * t["is_france"].to_numpy()
    em[:, _OG_IX["other"]] += 3.0 * t["is_punct"].to_numpy()
    em[:, _OG_IX["other"]] += 2.4 * (t["is_stop"] & (active_cat == 0)).to_numpy()
    em[:, _OG_IX["other"]] += 0.2
    return _decode(t, em, ORG_LABELS, stay=2.0)


SUBPARSERS.update(
    {
        "parse_name": parse_name_tokens,
        "parse_address": parse_address_tokens,
        "parse_org": parse_org_tokens,
    }
)
