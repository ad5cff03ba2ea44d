"""Full-medical-text body model: body-zone lines → structure labels →
ordered spans (SURVEY.md §2.3 F4, §2.4 L2, §2.5 C3/C4/C5).

Reference: `FullMedicalTextParser.getBodyTextFeatured` + CRF
(FullMedicalTextParser.java:319-723, label call :139), clusters mapped to TEI
elements by `TEIFormatter.toTEITextPiece` (TEIFormatter.java:766-973) with the
transition rules this module reproduces:
  - list `<item>` opens on label transition (:876-883),
  - paragraph continuation lines merge into the open `<p>` (:884-900),
  - FIGURE/TABLE clusters keep their graphics (here: `media_ref` from the
    adjacent `media` input span — C3, FullMedicalTextParser.java:5429-5647),
  - empty divs dropped (:968-973).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .cluster import rle_cluster_ids
from .labels import BODY_LABELS, label_index, sticky_transitions
from .normalize import normalize_text
from .segments import seg_starts
from .viterbi import decode

_IX = label_index(BODY_LABELS)


def body_emissions(df: pd.DataFrame) -> np.ndarray:
    n = len(df)
    # f32: every emission weight is a multiple of 0.5 and path sums stay
    # far below 2^24, so all scores (and every argmax/tie decision) are
    # exact — half the Viterbi DP memory traffic of f64
    em = np.zeros((n, len(BODY_LABELS)), dtype=np.float32)
    all_caps = df["all_caps"].to_numpy()
    ends_colon = df["ends_colon"].to_numpy()
    media = df["is_media"].to_numpy()
    caption = df["is_caption"].to_numpy()
    table_line = df["is_table_line"].to_numpy()

    # title eligibility is relative to the BODY zone, not the whole document:
    # a cover/header-heavy front matter must not push the opening title out
    # of range (df holds body-zone lines only, so recompute position here)
    from .segments import seg_position, seg_size_transform

    dstarts = seg_starts(df["doc_id"].to_numpy())
    body_rel = seg_position(dstarts, n) / np.maximum(
        seg_size_transform(dstarts, n), 1
    )
    em[:, _IX["title"]] += 4.0 * (
        all_caps & ~ends_colon & (body_rel < 0.6) & ~table_line
        & ~caption
    )
    em[:, _IX["section"]] += 5.0 * (all_caps & ends_colon)
    em[:, _IX["subsection"]] += 4.0 * (~all_caps & ends_colon)
    # keyword/convention-free section heads: a short capitalized block-
    # opening line with no terminal punctuation (structural signature —
    # reports that use neither ALL-CAPS nor colon conventions still get
    # structure); 4.5 beats the paragraph default + two accumulated stay
    # bonuses (1.0 + 1.5 + 1.5 — the chain that rides through a blank line)
    em[:, _IX["subsection"]] += 4.5 * df["heading_shaped"].to_numpy()
    em[:, _IX["item"]] += 5.0 * df["is_bullet"].to_numpy()
    em[:, _IX["figure"]] += 6.0 * media
    em[:, _IX["figure"]] += 5.0 * caption
    em[:, _IX["table"]] += 5.0 * table_line
    # columnar shape: ≥3 fields separated by 2+-space/tab runs is a table
    # DATA row even without the 'Tableau' keyword (the caption may precede
    # or be absent; TableParser consumes the whole grid)
    em[:, _IX["table"]] += 2.5 * df["is_tabular_row"].to_numpy()
    em[:, _IX["figure_marker"]] += 6.0 * df["has_fig_marker"].to_numpy()
    em[:, _IX["table_marker"]] += 6.0 * df["has_tab_marker"].to_numpy()
    em[:, _IX["medic"]] += 5.0 * df["has_medic_title"].to_numpy()
    em[:, _IX["patient"]] += 3.0 * (
        df["has_patient_title"] & df["has_birth"]
    ).to_numpy()
    em[:, _IX["paragraph"]] += 1.0  # default prose
    # long sentence lines are strong paragraph evidence — unless they carry a
    # medic mention (inline <medic> elements, TEIFormatter.java:766-973)
    prose = (
        (df["line_len"] > 25).to_numpy()
        & df["ends_period"].to_numpy()
        & ~df["has_medic_title"].to_numpy()
    )
    em[:, _IX["paragraph"]] += 2.0 * prose
    em[(df["is_blank"] | df["is_page_break"]).to_numpy(), :] = 0.0
    return em


def body_transitions() -> np.ndarray:
    # headings are single-line: discourage self-transitions for section/
    # subsection/title so consecutive headings stay separate clusters
    t = sticky_transitions(BODY_LABELS, stay=1.5)
    for single in ("section", "subsection", "title"):
        t[_IX[single], _IX[single]] = 0.0
    return t


def label_body_lines(df: pd.DataFrame) -> pd.Series:
    # one decode over the contiguous per-doc segments; docs (~50-400 lines)
    # land mostly in viterbi_segments' factor-2 padded buckets, whose
    # padded DP work stays under 2x the live work. The matrix is
    # column-structured, but most blocks (and the whales' B=2 blocks) are
    # narrow enough that _decode runs the general step on them
    return decode(
        body_emissions(df), seg_starts(df["doc_id"].to_numpy()),
        body_transitions(), BODY_LABELS, df.index,
    )


def relabel_caption_tails(df: pd.DataFrame) -> pd.Series:
    """processShort analog (FullMedicalTextParser.java:270-317): the
    reference re-runs the full-text model over each figure/table cluster's
    text, which both keeps a multi-line caption together and keeps trailing
    prose out of the figure. At this engine's line granularity, a caption is
    ONE sentence starting at the caption line:
      * PULL — while a figure/table run's sentence is still open (no line
        ends with '.'), following paragraph lines in the same block join the
        run (Viterbi's prose evidence would otherwise split an open caption
        continuation off),
      * PUSH — once the caption sentence has closed, later non-media,
        non-caption lines stickiness kept in the run become paragraphs.

    Input: labeled body lines (label column: label_body_lines' Categorical).
    Returns the adjusted Categorical: the rules read and write its codes.
    """
    lab = df["label"].array.copy()
    # a read-only view of lab's codes: it follows the edits below
    codes = lab.codes
    fig, tab, para = _IX["figure"], _IX["table"], _IX["paragraph"]
    if not ((codes == fig) | (codes == tab)).any():
        return pd.Series(lab, index=df.index)
    from .segments import seg_any_transform, seg_cumsum

    is_media = df["is_media"].to_numpy()
    ends = df["ends_period"].to_numpy()
    doc = df["doc_id"].to_numpy()
    block = df["block_id"].to_numpy()
    same_block_prev = np.r_[
        False, (doc[1:] == doc[:-1]) & (block[1:] == block[:-1])
    ]

    def runs():
        # mirror body_spans clustering (incl. the media break) so each media
        # span's caption is evaluated within its own run
        return rle_cluster_ids(
            df["doc_id"], pd.Series(lab, index=df.index),
            aux=block.astype(np.int64), break_before=is_media,
        )

    # PULL (bounded: captions beyond 4 lines don't occur in practice; each
    # round either extends every open run by one line or stops)
    for _ in range(4):
        run = runs()
        rstarts = seg_starts(run)
        run_closed = seg_any_transform(ends & ~is_media, rstarts)
        figtab = (codes == fig) | (codes == tab)
        last_of_run = np.r_[run[1:] != run[:-1], True]
        open_last = figtab & last_of_run & ~run_closed
        prev_open = np.r_[False, open_last[:-1]]
        pull = prev_open & same_block_prev & (codes == para) & ~is_media
        if not pull.any():
            break
        at_pull = np.flatnonzero(pull)
        lab[at_pull] = lab[at_pull - 1]  # previous run's kind

    # PUSH — tabular DATA rows (tab/2+-space separated cells) are table
    # CONTENT, not trailing prose: TableParser consumes the grid after the
    # caption sentence closes (FullMedicalTextParser.java:5599-5647)
    run = runs()
    e = ends.astype(np.int64)
    closed_before = seg_cumsum(e, seg_starts(run)) - e
    figtab = (codes == fig) | (codes == tab)
    tail = (
        figtab & (closed_before > 0) & ~is_media
        & ~(df["is_caption"] | df["is_table_line"] | df["is_tabular_row"])
        .to_numpy()
    )
    lab[tail] = "paragraph"
    return pd.Series(lab, index=df.index)


def zone_block_spans(df: pd.DataFrame) -> pd.DataFrame:
    """Merge consecutive same-label lines into one span per block — used for
    trailing zones (annex / acknowledgement back-matter divs)."""
    return body_spans(df)


def body_spans(df: pd.DataFrame) -> pd.DataFrame:
    """Cluster labeled body lines into ordered output spans (C5).

    Clusters break on label change, document change, or block change —
    the block break is the reference's "new paragraph opens on a new block"
    rule (TEIFormatter.java:884-900: continuation merges only inside the
    flow).  Media lines contribute their `media_ref`; caption lines
    contribute text; both fuse into one `figure` span when adjacent (C3).
    """
    # prune to the 8 consumed columns BEFORE the row filter + copy: the
    # input is the ~40-column featurized frame and the mask-take over all
    # of it was pure allocation waste
    d = df.loc[
        ~(df["is_blank"] | df["is_page_break"]),
        ["doc_id", "seq", "text", "media_ref", "offset", "label",
         "block_id", "is_media"],
    ].copy()
    if d.empty:
        return pd.DataFrame(
            columns=["doc_id", "kind", "text", "media_ref", "offset"]
        )
    d["text_n"] = normalize_text(d["text"])
    # table lines keep their CELL structure (C3, FullMedicalTextParser.java:
    # 5599-5647 → TableParser row/cell emission): columnar separators
    # (2+-space or tab runs) become single TABs before the ordinary
    # whitespace normalization — normalize_text would collapse them to one
    # space and erase the column structure
    tbl = d["label"].eq("table").to_numpy()
    if tbl.any():
        from . import arrowtext as at

        raw = at.arr_of(d.loc[tbl, "text"])
        raw = at.replace(raw, r"\s*(?:\t| {2,})\s*", "\t")
        raw = at.strip(at.replace(raw, r" +", " "))
        d.loc[tbl, "text_n"] = raw.to_numpy(zero_copy_only=False)
    # block-change breaks clusters (label stays the output kind); list items
    # never merge — each bullet is its own <item> (TEIFormatter.java:876-883);
    # every media span opens a new figure cluster so no media_ref is ever
    # swallowed by a preceding graphic (a span carries exactly one ref) —
    # its caption line still merges INTO that cluster
    seq = d["seq"].to_numpy().astype(np.int64)
    aux = d["block_id"].to_numpy().astype(np.int64)
    aux = np.where(d["label"].eq("item").to_numpy(), -seq - 1, aux)
    d["_cl"] = rle_cluster_ids(
        d["doc_id"], d["label"], aux=aux,
        break_before=d["is_media"].to_numpy(),
    )

    # vectorized aggregation: firsts via drop_duplicates (rows are already in
    # cluster order), text join via reduceat (kernels/cluster.group_join)
    from .cluster import group_join

    base = d.drop_duplicates("_cl")[["_cl", "doc_id", "label", "offset"]]
    base = base.rename(columns={"label": "kind"}).set_index("_cl")
    base["text"] = group_join(
        d["text_n"].to_numpy(), d["_cl"].to_numpy(), " "
    )
    # a table cluster keeps its ROW structure: member lines join with
    # newlines (cells are tab-separated within each line), so one span
    # carries the whole head + rows × cells grid
    if tbl.any():
        base_tbl = base["kind"].eq("table").to_numpy()
        if base_tbl.any():
            base.loc[base_tbl, "text"] = group_join(
                d["text_n"].to_numpy(), d["_cl"].to_numpy(), "\n"
            )[base_tbl]
    # first non-null media_ref per cluster: clusters are contiguous runs, so
    # a minimum.reduceat over non-null row indices replaces the pandas hash
    # groupby (the former body_spans hotspot)
    media = d["media_ref"].to_numpy()
    notna = pd.notna(media)
    idx = np.where(notna, np.arange(len(d)), len(d))
    first_idx = np.minimum.reduceat(idx, seg_starts(d["_cl"].to_numpy()))
    base["media_ref"] = np.where(
        first_idx < len(d), media[np.minimum(first_idx, len(d) - 1)], None
    )
    agg = base.reset_index(drop=True)[
        ["doc_id", "kind", "text", "media_ref", "offset"]
    ]
    # drop empty clusters (TEIFormatter.java:968-973) unless they carry media
    keep = (agg["text"].str.len() > 0) | agg["media_ref"].notna()
    # kind back to plain strings at span granularity, as in tokens_to_spans
    return agg[keep].astype({"kind": str}).reset_index(drop=True)
