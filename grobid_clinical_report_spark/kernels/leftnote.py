"""Left-note model: organization contact block → field spans
(SURVEY.md §2.3 F5, §2.4 L5).

Reference: `LeftNoteMedicalParser` runs header-like features over the left
margin zone (LeftNoteMedicalParser.java:174-573) and aggregates clusters into
organization fields (resultExtraction :981-1129).

Rebuild shares the header model's machinery with the left-note vocabulary:
the same emission/Viterbi shape here, and the header's field merge
(`header.merge_header_fields`) for the aggregation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .labels import LEFTNOTE_LABELS, label_index, sticky_transitions
from .segments import seg_starts
from .viterbi import decode

_IX = label_index(LEFTNOTE_LABELS)


def leftnote_emissions(df: pd.DataFrame) -> np.ndarray:
    n = len(df)
    # f32: weights are 0.5-multiples with tiny path sums — exact (see body)
    em = np.zeros((n, len(LEFTNOTE_LABELS)), dtype=np.float32)
    em[:, _IX["organization"]] += 4.0 * (
        df["all_caps"] & df["has_org_word"]
    ).to_numpy()
    em[:, _IX["organization"]] += 1.0 * df["has_org_word"].to_numpy()
    # specialty-suffix service names without an ORG_WORDS hit (F5 depth —
    # same token-shape class the header model uses)
    em[:, _IX["organization"]] += 3.5 * df["has_specialty_word"].to_numpy()
    em[:, _IX["medic"]] += 4.0 * df["has_medic_title"].to_numpy()
    # profession-suffix descriptors without a Dr/Pr title (F5 depth —
    # per-token suffix class, FeaturesVectorLeftNoteMedical.java:61-71)
    em[:, _IX["medic"]] += 3.5 * (
        df["suf_profession_word"] & ~df["has_org_word"]
    ).to_numpy()
    em[:, _IX["phone"]] += 4.0 * (df["has_phone"] & ~df["has_fax_word"]).to_numpy()
    em[:, _IX["fax"]] += 5.0 * df["has_fax_word"].to_numpy()
    em[:, _IX["email"]] += 5.0 * df["has_email"].to_numpy()
    em[:, _IX["web"]] += 5.0 * df["has_web"].to_numpy()
    em[:, _IX["address"]] += 3.0 * (
        df["has_street_word"] | df["has_postcode"]
    ).to_numpy()
    em[:, _IX["idno"]] += 4.0 * df["has_docnum"].to_numpy()
    em[:, _IX["note"]] += 0.5
    em[(df["is_blank"] | df["is_page_break"]).to_numpy(), :] = 0.0
    return em


def label_leftnote_lines(df: pd.DataFrame) -> pd.Series:
    em = leftnote_emissions(df)
    trans = sticky_transitions(LEFTNOTE_LABELS, stay=1.0)
    starts = seg_starts(df["doc_id"].to_numpy())
    return decode(em, starts, trans, LEFTNOTE_LABELS, df.index)

