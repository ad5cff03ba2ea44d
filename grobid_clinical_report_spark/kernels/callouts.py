"""Callout (figure/table marker) post-processing (SURVEY.md §2.5 C4).

Reference: `FullMedicalTextParser.java:5773-5865` — after body labeling, the
marker spans referencing the same callout number are reconciled: if "Figure 2"
appears as a figure_marker three times and a table_marker once, the minority
vote flips to the majority type (`getBestType` :5851-5865).

Rebuild: vectorized per-(doc, callout-number) majority over the flat marker
spans. Pure pandas groupby-transform on small span counts.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

_MARKERS = ("figure_marker", "table_marker")


def reconcile_markers(flat: pd.DataFrame) -> pd.DataFrame:
    """Flip minority marker types to the per-callout-number majority.
    Input/output: flat spans [doc_id, kind, text, media_ref, offset]."""
    if flat.empty:
        return flat
    is_marker = flat["kind"].isin(_MARKERS)
    if not is_marker.any():
        return flat
    m = flat[is_marker]
    # the referent is the callout mention in the text ('Figure 2' vs
    # 'Tableau 2' are different callouts; the vote fixes labeling
    # inconsistencies for the SAME referent). Python strings on purpose:
    # RE2's \s and \d are ASCII, Python's take NBSP and every Unicode digit
    ref = (
        m["text"]
        .astype(object)
        .str.lower()
        .str.extract(r"((?:figure|fig|tableau|table)\.?\s*\d*)", expand=False)
        .fillna("")
    )
    fig_votes = (
        m["kind"].eq("figure_marker").astype(np.int64)
        .groupby([m["doc_id"], ref], sort=False)
        .transform("sum")
    )
    tab_votes = (
        m["kind"].eq("table_marker").astype(np.int64)
        .groupby([m["doc_id"], ref], sort=False)
        .transform("sum")
    )
    best = np.where(fig_votes >= tab_votes, "figure_marker", "table_marker")
    out = flat.copy()
    out.loc[is_marker, "kind"] = best
    return out
