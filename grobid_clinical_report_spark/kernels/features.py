"""Vectorized line/token featurizers (SURVEY.md §2.3 F1-F7).

The reference builds tab-separated string feature matrices per line (segmenter,
FeaturesVectorMedical.java:56-226) or per token (all other models,
FeaturesVectorFullMedicalText.java:56-155, FeaturesVectorMedic.java:196-330…)
and feeds them to Wapiti. Here the same feature inventory becomes numeric
columns on the flat lines/tokens DataFrame — one numpy tensor per Arrow batch,
no string round-trip (the headline perf win, SURVEY.md §4.1 last row).

Layout-derived features (font deltas, x/y indentation, main-area) have no
source in the span model; they are surrogated from span structure — offsets,
block/page position, media adjacency — per SURVEY.md §7.3.

Binning constants mirror MedicalReportSegmenterParser.java:69-78:
NBBINS_POSITION=12, NBBINS_SPACE=5, NBBINS_DENSITY=5, LINESCALE=10.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from . import lexicon as lx
from .cluster import repeated_pattern_flags

NBBINS_POSITION = 12
NBBINS_SPACE = 5
NBBINS_DENSITY = 5
LINESCALE = 10

_BULLET_RE = r"^\s*(?:[-•*·]|\d{1,2}[.)]\s)"


import re as _re

from . import arrowtext as at


def _any_core(vocab: set[str]) -> str:
    return "|".join(_re.escape(w) for w in sorted(vocab))


def _any_re(vocab: set[str]) -> str:
    return at.word_bounded(_any_core(vocab))


# the lowercase-text vocabulary features: (name, core) pairs scanned as
# word_bounded(core). Their UNION (one RE2 scan, linear regardless of
# alternation size) gates the per-feature scans: only the ~40% of unique
# lines with at least one bounded vocab hit pay the 9 individual scans.
# word_bounded(c1|…|ck) matches iff some word_bounded(ci) does, so the
# gate is exact.
_VOCAB_LOW = [
    ("has_medic_title", r"dr|pr|docteur|professeur"),
    (
        "has_patient_title",
        r"madame|monsieur|mme|mlle|mademoiselle|patiente?",
    ),
    ("has_fax_word", "fax"),
    ("has_birth", r"née?\s+le"),
    ("has_role_word", None),  # lx.ROLE_WORDS, filled below
    ("has_org_word", None),
    ("has_doctype_word", None),
    ("has_street_word", None),
]
# free-form lowercase patterns that join the union as raw alternatives
_RECIPIENT_RE = (
    r"\b(?:destinataire|à l'attention|a l'attention|copie à|copie a)"
)
_SPECIALTY_RE = r"[a-zà-öø-ÿ]{3,}(?:logie|iatrie|urgie|érapie|erapie)\b"


def _vocab_low_cores() -> list[tuple[str, str]]:
    fills = {
        "has_role_word": _any_core(lx.ROLE_WORDS),
        "has_org_word": _any_core(lx.ORG_WORDS),
        "has_doctype_word": _any_core(lx.DOCTYPE_WORDS),
        "has_street_word": _any_core(lx.STREET_WORDS),
    }
    return [(n, c if c is not None else fills[n]) for n, c in _VOCAB_LOW]


def featurize_lines(lines: pd.DataFrame) -> pd.DataFrame:
    """Add the shared feature columns used by segmenter/header/body emission
    models. Input must already carry block/page structure
    (tokenize.assign_blocks_pages). The header/left-note-only columns come
    from featurize_extras, run on those zones' lines only.

    String features run on Arrow compute kernels (kernels/arrowtext.py) —
    one RE2 pass per feature, no per-row Python — over the batch's
    DICTIONARY of unique line strings, expanded back by one int gather per
    feature (guide §4.2 per-task work): corpus lines are repetitive
    (~55-60% unique on the bench corpora — headers, footers, short
    boilerplate), and every feature below except the positional ones is a
    pure function of the line text, so each RE2 pass shrinks by the
    duplication factor at the cost of a cheap fancy-index.

    Features are accumulated in a dict and attached with ONE from-dict
    copy=False construction: ~35 individual column inserts would
    re-consolidate the pandas block manager each time (measured ~10%% of
    kernel time), and even a single DataFrame+axis-1 concat pays a
    vstack + consolidation pass the from-dict build avoids.
    """
    import pyarrow.compute as pc

    txt_full = at.arr_of(lines["text"])
    enc = txt_full.dictionary_encode()
    codes = np.asarray(enc.indices)
    txt = enc.dictionary  # unique line strings
    low = at.lower(txt)
    stripped = at.strip(txt)
    f: dict[str, np.ndarray] = {}

    from .segments import seg_position, seg_size_transform, seg_starts

    n = len(lines)
    dstarts = seg_starts(lines["doc_id"].to_numpy())
    f["rel_pos"] = seg_position(dstarts, n) / np.maximum(
        seg_size_transform(dstarts, n), 1
    )

    pstarts = seg_starts(lines["page_key"].to_numpy())
    f["rel_pos_page"] = seg_position(pstarts, n) / np.maximum(
        seg_size_transform(pstarts, n), 1
    )

    # unique-level (u_*) features, expanded via [codes] below
    u_raw_len = at.length(txt)
    f["line_len"] = u_raw_len[codes]
    # all-caps: uppercase-stable text with ≥3 letters. The ≥3-letters RE2
    # contains is cheap (early-exit); the upper()+equality half is the r8
    # numpy no_lowercase byte kernel (parity-pinned)
    u_all_caps = at.contains(
        txt, r"(?:[A-Za-zÀ-ÖØ-öø-ÿ].*){3}"
    ) & at.no_lowercase(txt)
    f["all_caps"] = u_all_caps[codes]
    u_starts_upper = at.starts_upper_letter(txt)
    f["starts_upper"] = u_starts_upper[codes]
    # literal suffix probes: pc.ends_with is ~4× cheaper than the RE2
    # anchors and exactly equivalent (RE2's default $ is end-of-text)
    u_ends_colon = pc.ends_with(stripped, pattern=":").to_numpy(
        zero_copy_only=False
    )
    f["ends_colon"] = u_ends_colon[codes]
    u_ends_period = pc.ends_with(stripped, pattern=".").to_numpy(
        zero_copy_only=False
    )
    f["ends_period"] = u_ends_period[codes]
    u_is_bullet = at.match(txt, _BULLET_RE)
    f["is_bullet"] = u_is_bullet[codes]
    # the body model's cues (body_emissions, relabel_caption_tails):
    # caption and table keyword lines, figure/table call-outs, and tabular
    # DATA rows (≥3 fields separated by 2+-space/tab runs)
    f["is_caption"] = at.match(low, r"(?:figure|fig\.)\s*\d*")[codes]
    f["is_table_line"] = at.match(low, r"(?:tableau|table)\b")[codes]
    marker = r"\((?:cf\.?|voir)\s+"
    f["has_fig_marker"] = at.contains(low, marker + "figure")[codes]
    f["has_tab_marker"] = at.contains(low, marker + "tableau")[codes]
    f["is_tabular_row"] = at.contains(
        txt, r"\S(?:\t| {2,})\S.*(?:\t| {2,})\S"
    )[codes]
    # the segmenter's word cues: the trailing-zone openers and the
    # figure/table caption head. The head is not is_caption | is_table_line:
    # 'figures' and 'fig. 3' are captions and 'table' is a table line, but
    # none of them is a caption head
    f["opens_annex"] = at.match(low, r"annexe")[codes]
    f["opens_ack"] = at.match(low, r"remerciements")[codes]
    f["is_caption_head"] = at.match(low, r"(?:figure|fig\.|tableau)\b")[codes]
    # token count via separator-RUN count: a run of internal spaces/tabs is
    # one separator (plain count_substring(' ') inflated column-aligned
    # table lines, shifting heading_shaped / doctype cues — ADVICE r2).
    # The run count itself is the numpy byte-buffer kernel — the RE2 count
    # was the featurizer's single most expensive scan (parity-pinned)
    stripped_len = at.length(stripped)
    u_n_tokens = np.where(
        stripped_len == 0, 0, at.count_sep_runs(stripped) + 1
    )
    f["n_tokens"] = u_n_tokens[codes]
    f["starts_lower"] = at.starts_lower_letter(txt)[codes]

    # --- gated scan machinery (r8): two cheap necessary-condition masks
    # shrink the expensive unanchored RE2 scans to the lines that could
    # possibly match. (1) digit gate: RE_DATE/PHONE/POSTCODE and the
    # page-number shape all require an ASCII digit — any_digit is a sparse
    # byte scan and only ~3% of unique lines qualify. (2) vocab-union
    # gate: one scan with the union of all lowercase vocab alternatives
    # (exact: word_bounded(c1|…|ck) ⇔ ∃i word_bounded(ci)) flags the ~40%
    # of lines with any vocab hit; the 10 per-feature scans then run on
    # that subset only. Scatter-back is a zero-init + sparse assign.
    import pyarrow as pa

    n_u = len(txt)
    u_has_digit = at.any_digit(txt)  # also shared with name/heading_shaped
    dig_idx = np.flatnonzero(u_has_digit)
    txt_dig = txt.take(pa.array(dig_idx)) if len(dig_idx) else None
    low_dig = low.take(pa.array(dig_idx)) if len(dig_idx) else None

    def DSUB(arr_dig, pattern: str, anchored: bool = False) -> np.ndarray:
        out = np.zeros(n_u, dtype=bool)
        if arr_dig is not None:
            out[dig_idx] = (at.match if anchored else at.contains)(
                arr_dig, pattern
            )
        return out

    vc = dict(_vocab_low_cores())
    union = at.word_bounded("|".join(f"(?:{c})" for c in vc.values()))
    union = f"(?:{union})|(?:{_RECIPIENT_RE})|(?:{_SPECIALTY_RE})"
    vidx = np.flatnonzero(at.contains(low, union))
    low_hit = low.take(pa.array(vidx)) if len(vidx) else None

    def VSUB(pattern: str) -> np.ndarray:
        out = np.zeros(n_u, dtype=bool)
        if low_hit is not None:
            out[vidx] = at.contains(low_hit, pattern)
        return out

    # regex/dictionary flags (F8 lexicon; FeatureFactory email/http/month/year)
    f["has_date"] = DSUB(txt_dig, lx.RE_DATE.pattern)[codes]
    f["has_phone"] = DSUB(txt_dig, lx.RE_PHONE.pattern)[codes]
    f["has_postcode"] = DSUB(txt_dig, lx.RE_POSTCODE.pattern)[codes]
    # IPP/NIP/N° dossier: every alternative contains a literal 'I' or 'N',
    # so two sparse byte scans gate the case-sensitive scan
    ipp_gate = at.contains_byte(txt, 0x49) | at.contains_byte(txt, 0x4E)
    ipp_idx = np.flatnonzero(ipp_gate)
    u_ipp = np.zeros(n_u, dtype=bool)
    if len(ipp_idx):
        u_ipp[ipp_idx] = at.contains(
            txt.take(pa.array(ipp_idx)),
            at.word_bounded(r"IPP|NIP|N°\s*dossier"),
        )
    f["has_ipp"] = u_ipp[codes]
    u_medic_title = VSUB(at.word_bounded(vc["has_medic_title"]))
    f["has_medic_title"] = u_medic_title[codes]
    u_patient_title = VSUB(at.word_bounded(vc["has_patient_title"]))
    f["has_patient_title"] = u_patient_title[codes]
    f["has_person_title"] = (u_medic_title | u_patient_title)[codes]
    f["has_fax_word"] = VSUB(at.word_bounded(vc["has_fax_word"]))[codes]
    f["has_docnum"] = at.match(txt, r"\s*N°\s*[\d-]+\s*$")[codes]
    f["has_birth"] = VSUB(at.word_bounded(vc["has_birth"]))[codes]
    f["has_role_word"] = VSUB(at.word_bounded(vc["has_role_word"]))[codes]
    f["has_org_word"] = VSUB(at.word_bounded(vc["has_org_word"]))[codes]
    f["has_doctype_word"] = VSUB(
        at.word_bounded(vc["has_doctype_word"])
    )[codes]
    f["has_street_word"] = VSUB(
        at.word_bounded(vc["has_street_word"])
    )[codes]
    f["is_page_number"] = DSUB(
        low_dig, r"\s*(?:page\s+)?\d+\s*(?:/\s*\d+)?\s*$", anchored=True
    )[codes]

    # token-shape classes (F3/F4 depth: HeaderMedicalParser.java:410-813
    # per-token 1-4-char prefix/suffix + case-shape features, rebuilt as
    # line-level classes the way the NER model got suf_drug/suf_patho):
    # a medical-specialty suffix marks out-of-gazetteer service names
    # ('Hématologie Adulte' has no ORG_WORDS hit), and the ALLCAPS-surname +
    # Capitalized-forename shape marks bare person names without titles
    f["has_specialty_word"] = VSUB(_SPECIALTY_RE)[codes]
    _name_tok = r"[A-ZÀ-ÖØ][A-Za-zÀ-ÖØ-öø-ÿ'’.-]*"
    # evaluation order: the anchored name-shape match is cheap and rare
    # (~2-5% of lines), so the two ALLCAPS/Mixed-Cap confirm scans run on
    # its survivors only
    u_name = (
        at.match(txt, rf"\s*{_name_tok}(?: +{_name_tok}){{1,3}}\s*$")
        & ~u_has_digit
    )
    nidx = np.flatnonzero(u_name)
    if len(nidx):
        sub = txt.take(pa.array(nidx))
        u_name[nidx] = at.contains(
            sub, r"[A-ZÀ-ÖØ]{3,}"            # an ALLCAPS surname token
        ) & at.contains(sub, r"[A-ZÀ-ÖØ][a-zà-öø-ÿ]")  # a Mixed-Cap token
    f["name_shaped"] = u_name[codes]

    # zone-cue vocabularies for the geometry-free rightnote/marginnote
    # surrogates (the reference separates these zones by x-coordinates,
    # MedicalReportSegmenterParser.java; the span model has none, so
    # recipient blocks and NB-style annotations stand in)
    f["has_recipient_word"] = VSUB(_RECIPIENT_RE)[codes]
    f["is_margin_note"] = at.match(low, r"\s*(?:nb\s*[:.]|\*\s)")[codes]

    f["first_page"] = lines["page_id"].to_numpy() == 0

    # heading-shaped: a block-opening capitalized short line with no
    # terminal punctuation and no digits — the structural (keyword-free)
    # signature of a section head in reports that use neither ALL-CAPS nor
    # colon conventions (standalone heading, or heading atop its paragraph)
    lib = lines["line_in_block"].to_numpy()
    u_heading = (
        u_starts_upper
        & ~u_ends_period
        & ~u_ends_colon
        & ~u_all_caps
        & ~u_is_bullet
        & (u_n_tokens >= 1)
        & (u_n_tokens <= 5)
        & (u_raw_len <= 40)
        & ~u_has_digit  # one \d scan shared with name_shaped
    )
    f["heading_shaped"] = (lib == 0) & u_heading[codes]

    # ONE from-dict copy=False construction (same fix as subparsers.
    # token_features): DataFrame(f)+axis-1 concat vstacked the bool
    # features and re-consolidated the block manager; from-dict keeps
    # each column its own block and downstream access is per-column.
    # Input columns pass through as their original Series (Arrow-backed
    # text stays Arrow-backed — downstream at.arr_of calls stay zero-copy)
    out = pd.DataFrame(
        {**{c: lines[c] for c in lines.columns}, **f},
        index=lines.index,
        copy=False,
    )
    # F1 boilerplate (needs page structure already attached); reuses this
    # pass's text dictionary-encoding instead of re-encoding
    out["repeated_pattern"] = repeated_pattern_flags(
        out, text_enc=(codes, txt)
    ).to_numpy()
    return out


def _extra_features(txt, low) -> dict[str, np.ndarray]:
    """The header/left-note-only feature block: the expensive RE2 passes
    (the CITIES_FR alternation, time/email/web) plus the shape classes.
    Never consumed by the segmenter or body models. All pure functions of
    the line text — the caller passes the unique-string dictionary and
    expands."""
    f: dict[str, np.ndarray] = {}
    f["has_time"] = at.contains(txt, lx.RE_TIME.pattern)
    f["has_email"] = at.contains(txt, lx.RE_EMAIL.pattern)
    f["has_web"] = at.contains(txt, lx.RE_WEB.pattern)
    # textual French date ('le 3 mars 2021', '1er avril 98') — RE_DATE only
    # covers numeric forms; headers date datelines both ways
    months_alt = "|".join(sorted(lx.MONTHS_FR, key=len, reverse=True))
    f["has_text_date"] = at.contains(
        low, rf"\b\d{{1,2}}(?:er)?\s+(?:{months_alt})\s+\d{{2,4}}\b"
    )
    f["has_city_word"] = at.contains(low, _any_re(lx.CITIES_FR))
    # per-token 1-4-char prefix/suffix classes at line level (F3/F5 depth,
    # FeaturesVectorHeaderMedical.java:63-73: the reference feeds raw token
    # prefix/suffix strings to the CRF; the deterministic rebuild keeps the
    # informative equivalence classes): toponym suffixes for
    # out-of-gazetteer cities, profession suffixes for untitled physician
    # descriptors, a 'Réf/Dossier' prefix for non-N° document numbers
    f["suf_city_like"] = at.contains(
        low, r"\b[a-zà-öø-ÿ]{2,}(?:ville|bourg|court)\b"
    )
    f["suf_profession_word"] = at.contains(
        low, r"\b[a-zà-öø-ÿ]{2,}(?:logue|iatre|icien|irurgien)(?:ne)?s?\b"
    )
    f["has_ref_num"] = at.match(
        txt, r"\s*(?:R[éÉ]f|Ref|Dossier)\.?\s*:?\s*[\w/-]*\d"
    )
    return f


def featurize_extras(lines: pd.DataFrame) -> pd.DataFrame:
    """Two-pass featurization, pass 2 (VERDICT r2 'what's wrong #1'):
    segmentation runs on featurize_lines over EVERY line; this adds the
    header/left-note extras to a SUBSET frame — the ~10 header/left-note-
    zone lines per ~150-line document — instead of burning the big
    gazetteer scans on the whole corpus."""
    enc = at.arr_of(lines["text"]).dictionary_encode()
    codes = np.asarray(enc.indices)
    txt = enc.dictionary
    f = _extra_features(txt, at.lower(txt))
    return pd.DataFrame(
        {
            **{c: lines[c] for c in lines.columns},
            **{k: v[codes] for k, v in f.items()},
        },
        index=lines.index,
        copy=False,
    )
