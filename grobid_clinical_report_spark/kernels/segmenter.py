"""Medical-report segmenter: line → zone labeling (SURVEY.md §2.3 F2, §2.4 L1/L3).

Reference: `MedicalReportSegmenterParser` labels *lines* (not tokens — a
deliberate perf choice, MedicalReportSegmenterParser.java:233-242) with the
zone vocabulary of MedicalLabels.java:16-26 via a Wapiti CRF over the
FeaturesVectorMedical feature set (line strings, position bins, dictionary
flags, repetitive patterns, bitmap adjacency).

Rebuild: the same feature inventory (kernels/features.py) drives a linear
emission model; a linear-chain Viterbi (kernels/viterbi.py) with a monotone
zone-order transition prior replaces the CRF decode. Zone order is the
clinical-report invariant the reference's trained CRF learns implicitly:
header → leftnote → body → annex → acknowledgement, with page/headnote/footnote
interrupting at page edges. Weights are fit offline against the fixture corpus
(SURVEY.md §7.0). Like the reference's CRF, which reads only the vector
FeaturesVectorMedical built, the emissions read feature columns and never
the line text: the word cues (annex/acknowledgement openers, caption heads)
are featurize_lines columns too.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .labels import SEG_LABELS, label_index, sticky_transitions
from .segments import seg_starts
from .viterbi import decode

_IX = label_index(SEG_LABELS)


def segment_emissions(df: pd.DataFrame) -> np.ndarray:
    """Feature-linear emission scores, (n_lines, n_zones).

    Columns consumed are produced by features.featurize_lines. All terms are
    whole-column numpy expressions (the weight matrix is written as explicit
    terms for auditability; it is still a linear model over F2's features).
    """
    n = len(df)
    # f32: weights are 0.5-multiples with tiny path sums — exact (see body)
    em = np.zeros((n, len(SEG_LABELS)), dtype=np.float32)

    fp = df["first_page"].to_numpy()
    blank = (df["is_blank"] | df["is_page_break"]).to_numpy()
    repeated = df["repeated_pattern"].to_numpy()
    near_top = (df["rel_pos_page"] < 0.15).to_numpy()
    near_bot = (df["rel_pos_page"] > 0.7).to_numpy()
    all_caps = df["all_caps"].to_numpy()
    ends_colon = df["ends_colon"].to_numpy()
    ends_period = df["ends_period"].to_numpy()
    long_line = (df["line_len"] > 25).to_numpy()

    # block-level contact signal: phone/fax lines pull their whole block into
    # the left margin (surrogate for the reference's x-coordinate evidence)
    from .segments import seg_any_transform

    # a left-note block is an organization CONTACT block: phone/fax lines
    # together with role/org words (Chef de Service, Secrétariat…). A bare
    # phone line inside the header stays a header field.
    bstarts = seg_starts(df["block_key"].to_numpy())
    has_contact = seg_any_transform(
        (df["has_phone"] | df["has_fax_word"]).to_numpy(), bstarts
    )
    has_org = seg_any_transform(
        (df["has_role_word"] | df["has_org_word"]).to_numpy(), bstarts
    )
    block_contact = has_contact & has_org

    annex_start = df["opens_annex"].to_numpy()
    ack_start = df["opens_ack"].to_numpy()

    # titlePage: a cover page — the first page of a multi-page document that
    # carries no body prose at all (MedicalLabels.java:15 <titlePage>; without
    # x/y geometry, the no-prose-page shape is the surrogate)
    prose_shaped = (long_line & ends_period) | df["is_bullet"].to_numpy()
    dstarts = seg_starts(df["doc_id"].to_numpy())
    pstarts = seg_starts(df["page_key"].to_numpy())
    page_has_prose = seg_any_transform(prose_shaped & ~blank, pstarts)
    doc_multi_page = seg_any_transform(df["is_page_break"].to_numpy(), dstarts)
    cover = fp & ~page_has_prose & doc_multi_page
    em[:, _IX["titlePage"]] += 4.0 * (cover & ~blank)

    # header: flat prior on the header page + header-content cues.
    # The header page is the first page — or the SECOND page when the first
    # is a cover (titlePage) that pushed the administrative block over.
    # The cues only apply to label-shaped lines — running prose that happens
    # to mention a patient/date is body, not header (prose = long line with
    # terminal period, or a bullet item).
    doc_has_cover = seg_any_transform(cover, dstarts)
    hdr_page = fp | ((df["page_id"].to_numpy() == 1) & doc_has_cover)
    # contact blocks (phone/fax + role/org words) belong to the left note —
    # header evidence is suppressed on them so the whole block, including
    # its leading 'Chef de Service : Pr. X' line, stays together
    hdr_line = hdr_page & ~block_contact
    em[:, _IX["header"]] += 1.5 * hdr_line
    em[:, _IX["header"]] += 1.5 * (
        df["has_docnum"]
        | df["has_ipp"]
        | (df["has_date"] & ~long_line)
        | (df["all_caps"] & df["has_doctype_word"])
        | df["has_person_title"]
        | df["has_birth"]
    ).to_numpy() * hdr_line * ~prose_shaped
    em[:, _IX["header"]] += 1.0 * (
        df["has_org_word"] | df["has_street_word"] | df["has_postcode"]
    ).to_numpy() * hdr_line * ~prose_shaped
    # mixed-case doctype lines ('Compte rendu de consultation') are header
    # evidence too — protects headers whose first line avoids ALL-CAPS
    em[:, _IX["header"]] += 1.5 * (
        df["has_doctype_word"] & ~df["all_caps"] & (df["n_tokens"] <= 6)
    ).to_numpy() * hdr_line * ~prose_shaped
    # keyword-free letterhead lines (token-shape classes, F3 depth):
    # specialty-suffix service names ('Hématologie Adulte') and bare
    # ALLCAPS-surname person names ('ZOSIMA Abagael') are header evidence
    # strong enough (1.5 + 3.5) to beat the structural heading-shaped body
    # cue (4.5) on the header page
    em[:, _IX["header"]] += 3.5 * (
        df["has_specialty_word"] | df["name_shaped"]
    ).to_numpy() * hdr_line * ~prose_shaped

    # leftnote: contact block (phone/fax + role/org words)
    em[:, _IX["leftnote"]] += 4.0 * (block_contact & hdr_page)

    # keyword-free heading-shaped lines open body structure even without
    # ALL-CAPS/colon conventions: 4.5 beats the flat header prior + stay
    # (1.5 + 2.5) but NOT a header line with a real cue (3.0 + 2.5)
    em[:, _IX["body"]] += 4.5 * df["heading_shaped"].to_numpy()

    # rightnote: recipient/addressee block (the reference separates right-
    # margin notes by geometry; recipient blocks are its dominant content)
    block_recipient = seg_any_transform(
        df["has_recipient_word"].to_numpy(), bstarts
    )
    em[:, _IX["rightnote"]] += 6.0 * block_recipient

    # marginnote: NB-/asterisk-style annotations
    em[:, _IX["marginnote"]] += 6.0 * df["is_margin_note"].to_numpy()

    # figures live in the body: a 'Figure N :'/'Tableau N' caption line is
    # unambiguous body evidence and an embedded media span is mild evidence
    # (the reference's bitmapAround/vectorAround features feed its body
    # zone the same way, MedicalReportSegmenterParser.java:342-351)
    em[:, _IX["body"]] += 4.0 * df["is_caption_head"].to_numpy()
    em[:, _IX["body"]] += 2.0 * df["is_media"].to_numpy()

    # body: strong structural cues open the body zone
    body_title = (all_caps & ~ends_colon
                  & ~df["has_doctype_word"].to_numpy()
                  & ~df["has_org_word"].to_numpy())
    em[:, _IX["body"]] += 4.0 * (all_caps & ends_colon)      # section heads
    em[:, _IX["body"]] += 4.5 * body_title                    # document title
    em[:, _IX["body"]] += 2.0 * (~all_caps & ends_colon)      # subsections
    em[:, _IX["body"]] += 2.0 * df["is_bullet"].to_numpy()    # list items
    em[:, _IX["body"]] += 2.0 * (long_line & ends_period)     # prose
    # running prose that starts lowercase is body even without terminal
    # punctuation (headers/leftnotes start with caps/labels)
    em[:, _IX["body"]] += 2.0 * (
        (df["n_tokens"] > 8) & df["starts_lower"]
    ).to_numpy()
    em[:, _IX["body"]] -= 2.0 * repeated                      # boilerplate
    # trailing-zone openers must beat body stickiness + prose evidence
    em[:, _IX["body"]] -= 6.0 * (annex_start | ack_start)

    # page numbers / boilerplate notes. A page number IS a repeated pattern
    # at the page edge, so its specific emission must beat the generic
    # footnote one even through footnote stickiness (9.0 > 6.0 + 2.5) — the
    # reference labels it <page>, not <footnote>
    em[:, _IX["page"]] += 9.0 * df["is_page_number"].to_numpy()
    # footers/running heads: repeated pattern at the page's content edge
    # (last/first 2 content lines — ratio-based position alone misses the
    # footer of a short final page)
    content = (~blank).astype(np.int64)
    from .segments import seg_cumsum, seg_sum_transform

    cpos = seg_cumsum(content, pstarts)
    clen = seg_sum_transform(content, pstarts)
    bottom_edge = near_bot | (cpos >= clen - 1)
    top_edge = near_top | (cpos <= 2)
    em[:, _IX["footnote"]] += 6.0 * (repeated & bottom_edge)
    em[:, _IX["headnote"]] += 6.0 * (repeated & top_edge & ~fp)

    # trailing zones
    em[:, _IX["annex"]] += 5.0 * annex_start
    em[:, _IX["acknowledgement"]] += 5.0 * ack_start

    # blanks and page breaks are neutral separators: zero all their scores so
    # the transition prior carries the zone across them
    em[blank, :] = 0.0
    return em


def segment_transitions() -> np.ndarray:
    """Monotone zone order + stickiness. body→header is forbidden-ish: the
    reference never re-opens the header after body (cascade order,
    FullMedicalTextParser.java:106-206)."""
    t = sticky_transitions(SEG_LABELS, stay=2.5, move=0.0)
    ix = _IX
    t[ix["body"], ix["header"]] = -8.0
    t[ix["body"], ix["leftnote"]] = -6.0
    t[ix["leftnote"], ix["header"]] = -4.0
    t[ix["annex"], ix["body"]] = -6.0
    t[ix["acknowledgement"], ix["body"]] = -6.0
    for z in ("annex", "acknowledgement"):
        t[ix[z], ix["header"]] = -8.0
        t[ix[z], ix["leftnote"]] = -8.0
    # titlePage precedes everything and never re-opens
    for z in ("body", "annex", "acknowledgement", "header", "leftnote"):
        t[ix[z], ix["titlePage"]] = -8.0
    return t


def segment_lines(df: pd.DataFrame) -> pd.Series:
    """Assign a zone label to every line. df must be featurized; rows must be
    ordered by (doc_id, seq). Returns a Categorical Series over SEG_LABELS
    aligned with df."""
    # one decode over the contiguous per-doc segments, mostly in
    # viterbi_segments' factor-2 padded buckets (the zone-order transition
    # matrix is non-sticky, so every block runs the general O(L^2) step —
    # L=12, one (B, 12, 12) tensor per time step)
    return decode(
        segment_emissions(df), seg_starts(df["doc_id"].to_numpy()),
        segment_transitions(), SEG_LABELS, df.index,
    )
