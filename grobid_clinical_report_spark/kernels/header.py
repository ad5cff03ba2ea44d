"""Header model: header-zone lines → field labels → merged field spans
(SURVEY.md §2.3 F3, §2.4 L4, §2.5 C2).

Reference: `HeaderMedicalParser` featurizes header-zone tokens
(HeaderMedicalParser.java:410-813), CRF-labels them (:255), clusters, then
fills a `HeaderMedicalItem` with merge quirks (resultExtraction :1229-1349):
  - `isDifferentContent` — case/whitespace-insensitive dedup (:1355-1370),
  - keep-longest for dates (:1261-1266), first-wins for times (:1267-1270),
  - repeats concatenated with separators,
and enrichment (:96-213): ISO date normalization (:174-181, 394-409).

Rebuild: line-level linear emissions + Viterbi, then a vectorized
field-merge. Output: one span per populated field, ordered by first
occurrence (FIXTURES.md fx-hdr-0002).

`fill_fields` is the one field fill: the header and left-note merges
(`merge_header_fields`, ' ; ' joins) and the medic/patient string
endpoints' POJO fill (MedicParser.java:103-228, '; ' / '\\t' / ' ' joins)
all run it, so the dedup key and the date/time keep-one rules live there.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from . import subparsers as sub_k
from .arrowtext import arr_of, series_of
from .labels import HEADER_LABELS, label_index, sticky_transitions
from .normalize import normalize_text, to_iso_date
from .subparsers import EMPTY_SPANS as _EMPTY
from .viterbi import decode
from .segments import seg_starts

_IX = label_index(HEADER_LABELS)


def header_emissions(df: pd.DataFrame) -> np.ndarray:
    n = len(df)
    # f32: weights are 0.5-multiples with tiny path sums — exact (see body)
    em = np.zeros((n, len(HEADER_LABELS)), dtype=np.float32)
    all_caps = df["all_caps"].to_numpy()

    em[:, _IX["docnum"]] += 5.0 * df["has_docnum"].to_numpy()
    # 'Réf : 7301-884' / 'Dossier 12-X' — document numbers without the N°
    # shape, recognized by the token-prefix class (F3 depth)
    em[:, _IX["docnum"]] += 5.0 * df["has_ref_num"].to_numpy()
    em[:, _IX["doctype"]] += 4.0 * (all_caps & df["has_doctype_word"].to_numpy())
    dateish = df["has_date"] | df["has_text_date"]
    em[:, _IX["date"]] += 3.0 * (dateish & ~df["has_person_title"]
                                 & ~df["has_birth"]).to_numpy()
    # dateline: a date co-occurring with a place ('Fait à Paris, le 20.9.2018')
    # — the reference header model's <dateline> field, later re-parsed by the
    # DatelineParser for fallback doctype/date/place enrichment
    # (HeaderMedicalParser.java:153-172)
    em[:, _IX["dateline"]] += 6.0 * (
        dateish
        & (df["has_city_word"] | df["suf_city_like"])
        & ~df["has_birth"]
    ).to_numpy()
    em[:, _IX["time"]] += 1.0 * df["has_time"].to_numpy()
    em[:, _IX["medic"]] += 4.0 * df["has_medic_title"].to_numpy()
    em[:, _IX["medic"]] += 1.0 * df["has_role_word"].to_numpy()
    em[:, _IX["patient"]] += 5.0 * (
        df["has_patient_title"] | df["has_ipp"] | df["has_birth"]
    ).to_numpy()
    em[:, _IX["affiliation"]] += 4.0 * df["has_org_word"].to_numpy()
    # token-shape classes (F3 depth, HeaderMedicalParser.java:410-813):
    # out-of-gazetteer specialty names are affiliations; bare
    # ALLCAPS-surname lines without any title/birth cue are medics (the
    # signing physician — patients in headers virtually always carry a
    # civility title or birth line)
    em[:, _IX["affiliation"]] += 3.5 * df["has_specialty_word"].to_numpy()
    em[:, _IX["medic"]] += 3.0 * (
        df["name_shaped"]
        & ~df["has_patient_title"]
        & ~df["has_birth"]
        & ~df["has_specialty_word"]
        & ~df["has_org_word"]
    ).to_numpy()
    # profession-suffix morphology ('C. LEROY, Cardiologue'): a physician
    # descriptor with no Dr/Pr title — per-token suffix class (F3 depth)
    em[:, _IX["medic"]] += 3.5 * (
        df["suf_profession_word"]
        & ~df["has_patient_title"]
        & ~df["has_birth"]
        & ~df["has_org_word"]
    ).to_numpy()
    em[:, _IX["address"]] += 3.0 * df["has_street_word"].to_numpy()
    em[:, _IX["address"]] += 2.0 * df["has_postcode"].to_numpy()
    em[:, _IX["address"]] += 1.0 * (
        df["has_city_word"] | df["suf_city_like"]
    ).to_numpy()
    em[:, _IX["email"]] += 5.0 * df["has_email"].to_numpy()
    em[:, _IX["phone"]] += 4.0 * (df["has_phone"] & ~df["has_fax_word"]).to_numpy()
    em[:, _IX["fax"]] += 5.0 * df["has_fax_word"].to_numpy()
    em[:, _IX["web"]] += 5.0 * df["has_web"].to_numpy()
    # title: early capitalized mixed-case line with no stronger cue
    title_like = (
        df["starts_upper"]
        & ~df["all_caps"]
        & ~df["has_date"]
        & ~df["has_person_title"]
        & ~df["has_street_word"]
        & ~df["has_org_word"]
        & ~df["has_phone"]
        & ~df["has_email"]
        & (df["rel_pos"] < 0.5)
    ).to_numpy()
    em[:, _IX["title"]] += 2.5 * title_like
    em[:, _IX["note"]] += 0.5  # weak fallback
    em[(df["is_blank"] | df["is_page_break"]).to_numpy(), :] = 0.0
    return em


def label_header_lines(df: pd.DataFrame) -> pd.Series:
    trans = sticky_transitions(HEADER_LABELS, stay=1.0)
    starts = seg_starts(df["doc_id"].to_numpy())
    return decode(header_emissions(df), starts, trans, HEADER_LABELS, df.index)


def fill_fields(
    spans: pd.DataFrame, sep: str, seps: dict[str, str] | None = None
) -> pd.DataFrame:
    """The field fill every field model runs: spans [doc_id, kind, text,
    media_ref, offset] in document order → one span per (doc, kind), offset
    = the field's first occurrence. The reference's resultExtraction rules
    (HeaderMedicalParser.java:1229-1349; LeftNoteMedicalParser reuses them,
    MedicParser.java:103-228 fills its POJO the same way):
      * case/space-insensitive repeats are dropped, the first kept
        (isDifferentContent, :1355-1370),
      * date: the longest value is kept and emitted ISO-normalized
        (:1261-1266, enrichment :174-181),
      * time: the first value wins (:1267-1270),
      * every other field joins its values with ``sep``, or with
        ``seps[kind]`` where that names the field.
    Output is sorted by (doc, offset, document order). No per-row Python.
    """
    if spans.empty:
        return _EMPTY
    d = spans.reset_index(drop=True)
    d["_pos"] = np.arange(len(d))  # document order, the tie-break below
    # the dedup key, built in Arrow whatever the text's dtype (object on
    # the header path, Arrow on the POJO path): lowercase as Python's
    # str.lower() does (utf8_lower differs from it at U+0130 alone, per
    # code point; a final Σ keys as σ where Python gives ς, which a
    # case-insensitive key should equate anyway), then drop every run of
    # what Python's \s matches (RE2's own \s is ASCII-only)
    low = pc.utf8_lower(
        pc.replace_substring(arr_of(d["text"]), "\u0130", "i\u0307")
    )
    canon = pc.replace_substring_regex(
        low, r"[\t-\r\x{1c}-\x{20}\x{85}\p{Z}]+", ""
    )
    key = d[["doc_id", "kind"]].assign(canon=series_of(canon, d.index))
    d = d[~key.duplicated()]

    # keep-longest for dates / first-wins for times: a stable sort ranks
    # each field's values, ties keep document order
    k = d[d["kind"].isin(["date", "time"])]
    rank = np.where(k["kind"].eq("date"), -k["text"].str.len(), 0)
    k = k.assign(_rank=rank).sort_values(
        ["doc_id", "kind", "_rank"], kind="stable"
    )
    d = d.drop(k.index[k.duplicated(subset=["doc_id", "kind"])])

    # the join runs in Arrow over contiguous (doc, kind) groups: each piece
    # carries its separator (none on a group's first row) and group_join
    # concatenates them (a per-group Python join was the header merge's
    # profiled hotspot, and an object-dtype sep + text concat makes one
    # Python string per span). Each group's first row after the
    # (doc, kind, offset) sort carries min(offset) and, among that offset's
    # rows, the earliest document position; the final (doc, offset, pos)
    # sort restores the emission order, document order included when
    # fields share an offset (hostile input).
    from .cluster import group_join

    d = d.sort_values(["doc_id", "kind", "offset"], kind="stable")
    first = (~d.duplicated(subset=["doc_id", "kind"])).to_numpy()
    codes, kinds = pd.factorize(d["kind"])
    lead = pc.take(pa.array([(seps or {}).get(k, sep) for k in kinds]), codes)
    piece = pc.binary_join_element_wise(
        pc.if_else(pa.array(first), "", lead), arr_of(d["text"]), ""
    )
    agg = d.loc[first, ["doc_id", "kind", "media_ref", "offset", "_pos"]]
    agg = agg.reset_index(drop=True)
    agg["text"] = group_join(piece, np.cumsum(first) - 1, sep="")
    is_date = agg["kind"].eq("date")
    iso = to_iso_date(agg.loc[is_date, "text"])
    agg.loc[is_date, "text"] = iso.where(iso.ne(""), agg.loc[is_date, "text"])
    # kind back to plain strings at span granularity
    return agg.sort_values(["doc_id", "offset", "_pos"], kind="stable")[
        ["doc_id", "kind", "text", "media_ref", "offset"]
    ].astype({"kind": str}).reset_index(drop=True)


def merge_header_fields(df: pd.DataFrame) -> pd.DataFrame:
    """L4 field aggregation over labeled header lines (the left-note's L5
    too): the content lines' normalized texts → fill_fields, repeats joined
    with ' ; '."""
    d = df[~(df["is_blank"] | df["is_page_break"] | df["is_media"])]
    text = normalize_text(d["text"])
    d = pd.DataFrame({"doc_id": d["doc_id"], "kind": d["label"], "text": text,
                      "media_ref": None, "offset": d["offset"]})
    return fill_fields(d[text.ne("")], " ; ")


# ---------------------------------------------------------------------------
# C2 enrichment cascade (HeaderMedicalParser.java:110-198)
# ---------------------------------------------------------------------------

# language-id markers for the 200-char body sample
# (HeaderMedicalParser.java:121-147; the reference defaults to 'fr' and its
# languageUtilities call never overrides it — we keep the fr default but make
# the sample-based id real)
_FR_MARKERS = r"\b(?:le|la|les|de|des|du|et|une?|est|pour|avec|dans)\b"
_EN_MARKERS = r"\b(?:the|and|of|to|is|are|for|with|was|this)\b"


def _subparse_fields(fields: pd.DataFrame, labeler, prefix: str) -> pd.DataFrame:
    """Run a token sub-model over merged field texts → prefixed sub-spans.

    The reference splits medics on ';' and parses each chunk
    (HeaderMedicalParser.java:184-190); here the sub-model's own boundary
    features (';' and sentence periods are hard 'other' breaks,
    subparsers.parse_medic_tokens) produce the same clusters over the joined
    string in one vectorized pass, so no explicit split is needed.
    """
    if fields.empty:
        return _EMPTY
    # each field text is one line of the token path
    out = sub_k.token_spans(fields[["doc_id", "text", "offset"]], labeler)
    if out.empty:
        return _EMPTY
    out["kind"] = prefix + out["kind"]
    # a document has one span per field, and fields are in doc_id order
    # (merge_header_fields' sort): each sub-span takes its parent's position
    parent = np.searchsorted(fields["doc_id"].to_numpy(), out["doc_id"])
    out["_pos"] = fields["_pos"].to_numpy()[parent]
    return out


def _dateline_fallback(spans: pd.DataFrame) -> pd.DataFrame:
    """DatelineParser fallback: docs with a <dateline> field get missing
    doctype/date/place filled from parsing it (HeaderMedicalParser.java:
    153-172). Emitted at the dateline's offset so the fills sit next to it.
    """
    dl = spans[spans["kind"].eq("dateline")]
    if dl.empty:
        return _EMPTY
    parsed = _subparse_fields(dl, sub_k.parse_dateline_tokens, "")
    if parsed.empty:
        return _EMPTY
    # only the FIRST cluster of each kind per doc fills the field
    parsed = parsed[~parsed.duplicated(subset=["doc_id", "kind"], keep="first")]
    have = spans[["doc_id", "kind"]].drop_duplicates()
    fills = []
    for kind, out_kind in [("doctype", "doctype"), ("date", "date"),
                           ("place", "place")]:
        cand = parsed[parsed["kind"].eq(kind)]
        if cand.empty:
            continue
        cand = cand[
            ~cand["doc_id"].isin(
                have.loc[have["kind"].eq(out_kind), "doc_id"]
            )
        ]
        if cand.empty:
            continue
        cand = cand.assign(kind=out_kind)
        if out_kind == "date":
            iso = to_iso_date(cand["text"])
            cand = cand.assign(text=iso.where(iso.ne(""), cand["text"]))
        fills.append(cand)
    if not fills:
        return _EMPTY
    return pd.concat(fills, ignore_index=True)


def scalar_enrichment_spans(
    lines: pd.DataFrame, spans: pd.DataFrame
) -> pd.DataFrame:
    """Per-document scalar enrichment shared by the header and left-note
    parsers (HeaderMedicalParser.java:120-150, LeftNoteMedicalParser.java:
    121-155): language id over a 200-char body sample (fr default — the
    reference never overrides it) + page count. Emitted as `lang` /
    `page_count` spans after the document's last line."""
    from .cluster import group_join

    doc_ids = np.sort(spans["doc_id"].unique())
    last_off = lines.groupby("doc_id")["offset"].max()

    body = lines[
        lines["zone"].eq("body")
        & ~(lines["is_blank"] | lines["is_page_break"] | lines["is_media"])
    ]
    if body.empty:
        sample = pd.Series("", index=pd.Index(doc_ids, name="doc_id"))
    else:
        body = body.sort_values(["doc_id", "offset"], kind="stable")
        joined = pd.Series(
            group_join(
                body["text"].astype(str).to_numpy(),
                pd.factorize(body["doc_id"])[0],
                sep=" ",
            ),
            index=body.loc[~body.duplicated("doc_id"), "doc_id"].to_numpy(),
        )
        sample = joined.str.slice(0, 200).reindex(doc_ids, fill_value="")
    fr = sample.str.lower().str.count(_FR_MARKERS)
    en = sample.str.lower().str.count(_EN_MARKERS)
    lang = np.where(en > fr, "en", "fr")  # fr default, as the reference

    breaks = lines[lines["is_page_break"]].groupby("doc_id").size()
    n_pages = (
        breaks.reindex(doc_ids, fill_value=0).to_numpy(dtype=np.int64) + 1
    )
    tail_off = last_off.reindex(doc_ids).to_numpy(dtype=np.int64)
    return pd.DataFrame(
        {
            "doc_id": np.repeat(doc_ids, 2),
            "kind": np.tile(["lang", "page_count"], len(doc_ids)),
            "text": np.stack([lang, n_pages.astype(str)], axis=1).ravel(),
            "media_ref": None,
            "offset": np.stack([tail_off + 1, tail_off + 2], axis=1).ravel(),
        }
    )


def enrich_header_fields(
    lines: pd.DataFrame, spans: pd.DataFrame
) -> pd.DataFrame:
    """C2 header enrichment cascade over merged field spans.

    Reference (HeaderMedicalParser.java:110-198):
      1. dateline fallback — missing doctype/date/place filled by running the
         dateline sub-model on the <dateline> field (:153-172),
      2. medics re-parsed through the medic sub-model (split on ';', :184-190)
         → `medic_*` sub-spans; patients through the patient sub-model
         (:191-198) → `patient_*` sub-spans,
      3. language id over a 200-char body sample, default 'fr' (:120-147)
         → `lang` span,
      4. page count (:150) → `page_count` span.

    ``lines`` must carry the zone column (for the body language sample and
    page counting); ``spans`` is merge_header_fields output. Everything is
    column-vectorized; the sub-models run the string endpoints' own token
    path (subparsers.token_spans — composition, not reimplementation).
    Sub-spans and dateline fills sit right after their parent field, also
    when fields share an offset.
    """
    if spans.empty:
        return spans
    # emission order; sub-spans and fills take their parent's, after it
    spans = spans.assign(_pos=np.arange(len(spans)))
    parts = [spans, _dateline_fallback(spans)]
    parts.append(
        _subparse_fields(
            spans[spans["kind"].eq("medic")],
            sub_k.parse_medic_tokens,
            "medic_",
        )
    )
    parts.append(
        _subparse_fields(
            spans[spans["kind"].eq("patient")],
            sub_k.parse_patient_tokens,
            "patient_",
        )
    )

    parts.append(scalar_enrichment_spans(lines, spans))
    out = pd.concat([p for p in parts if not p.empty], ignore_index=True)
    return out.sort_values(["doc_id", "offset", "_pos"], kind="stable")[
        ["doc_id", "kind", "text", "media_ref", "offset"]
    ].reset_index(drop=True)
