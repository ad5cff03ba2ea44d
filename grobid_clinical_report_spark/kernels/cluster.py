"""Label clustering / dedup kernels (SURVEY.md §2.4 L2, §2.5 C6, §2.3 F1).

Reference parity:
- L2 `TaggingTokenClusteror` — maximal runs of consecutive same-label tokens
  become one cluster/span (used HeaderMedicalParser.java:1230-1242,
  TEIFormatter.java:784-800) → vectorized run-length encoding,
- C6 headnote/footnote dedup across pages (TEIFormatter.java:637-716),
- F1 repetitive-pattern mining: first line of first-2/last-2 blocks per page,
  doc-wide repeat counting (MedicalReportSegmenterParser.java:258-288,402-414).

All kernels operate on the flat lines DataFrame; grouping is pandas
groupby/transform — cross-page but within-document, so at the Spark layer this
never shuffles (the whole document sits in one Arrow batch row).
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def group_join(values: np.ndarray, cluster_ids: np.ndarray, sep: str = " ") -> np.ndarray:
    """Join string values per contiguous cluster — Arrow binary_join over a
    ListArray sliced at cluster starts (C++), replacing the former
    np.add.reduceat object-concat (per-element Python string adds).
    `cluster_ids` must be non-decreasing. Empty members are skipped (no
    double separators)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    n = len(values)
    if n == 0:
        return np.zeros(0, dtype=object)
    cluster_ids = np.asarray(cluster_ids)
    starts = np.flatnonzero(np.diff(cluster_ids, prepend=cluster_ids[0] - 1))
    if isinstance(values, (pa.Array, pa.ChunkedArray)):
        vals = pc.coalesce(values, "")
    else:
        vals = pa.array(np.asarray(values, dtype=object), type=pa.string())
        vals = pc.coalesce(vals, "")
    bounds = np.append(starts, n)
    if sep:
        # drop empty members and remap cluster bounds onto the kept rows
        keep = pc.not_equal(vals, "").to_numpy(zero_copy_only=False)
        prefix = np.concatenate(([0], np.cumsum(keep)))
        offsets = prefix[bounds]
        vals = vals.filter(pa.array(keep))
    else:
        offsets = bounds
    lst = pa.ListArray.from_arrays(
        pa.array(offsets.astype(np.int32), type=pa.int32()), vals
    )
    return pc.binary_join(lst, sep).to_numpy(zero_copy_only=False)


def rle_cluster_ids(
    doc_ids: pd.Series,
    labels: pd.Series,
    aux: np.ndarray | None = None,
    break_before: np.ndarray | None = None,
) -> np.ndarray:
    """L2: cluster id per row — increments when doc, label, or the optional
    ``aux`` key (e.g. block id, for the paragraph-per-block rule) changes,
    or where ``break_before`` is set (forced opens, e.g. each media span).

    Equivalent to TaggingTokenClusteror's consecutive-same-label grouping
    (an explicit `I-` prefix in a label value also opens a new cluster, as in
    GROBID's IOB scheme)."""
    # change detection and the I- scan run on int codes / the tiny
    # dictionary, not per-row string compares (profiled hotspot); every
    # labeler's Categorical (viterbi.decode) already carries both
    if isinstance(labels, pd.Series) and isinstance(
        labels.dtype, pd.CategoricalDtype
    ):
        codes = labels.cat.codes.to_numpy()
        uniq = np.asarray(labels.cat.categories)
    else:
        codes, uniq = pd.factorize(np.asarray(labels))
    # NaN is code -1, which would index the LAST unique's I- flag and merge
    # all NaN labels into one run: no caller passes NaN, so guard
    assert (codes >= 0).all(), "rle_cluster_ids: NaN labels unsupported"
    opens = np.char.startswith(uniq.astype(str), "I-")[codes]
    doc = np.asarray(doc_ids)
    if doc.dtype.kind not in "iu":
        doc = pd.factorize(doc)[0]
    change = (codes != np.roll(codes, 1)) | (doc != np.roll(doc, 1)) | opens
    if aux is not None:
        aux = np.asarray(aux)
        change |= aux != np.roll(aux, 1)
    if break_before is not None:
        change |= np.asarray(break_before)
    if len(change):
        change[0] = True
    return np.cumsum(change) - 1


def repeated_pattern_flags(
    lines: pd.DataFrame, text_enc: tuple[np.ndarray, "object"]
) -> pd.Series:
    """F1: boilerplate detector. A line's normalized pattern that occurs on
    ≥2 distinct pages of the same document, positioned in the first-2 or
    last-2 content lines of its page, is flagged as repetitive (running
    head/footer). Returns a boolean Series aligned to ``lines``.

    Vectorized: normalize → groupby(doc, pattern).nunique(page) → flag.
    (Reference hashes the pattern via FeatureFactory.getPattern and counts
    doc-wide repeats; same semantics.)

    ``text_enc``: the (codes, unique_strings) dictionary-encoding of the
    text column that featurize_lines computes for its own feature passes;
    the 3-pass normalization runs over the unique strings only and the
    pattern codes compose through the gather.
    """
    from . import arrowtext as at

    t_codes, t_uniq = text_enc
    # lower → digit-runs→'#' → ws-runs→' ' → strip. The two RE2 replaces
    # (the largest single featurizer cost, ~1.3 s/8 batches) now run only
    # on the strings they could change — one sparse byte scan finds the
    # ~2.5% digit-or-ws-anomaly candidates, one scatter merges them back
    # (kernels/arrowtext.py subset_replace, byte-exact, parity-pinned)
    lowu = at.lower(t_uniq)
    cand = at.any_digit(lowu) | at.ws_anomaly(lowu)
    norm_u = at.strip(
        at.subset_replace(lowu, cand, [(r"\d+", "#"), (r"[\s ]+", " ")])
    )
    from .segments import seg_cumsum, seg_sizes, seg_starts, seg_sum_transform

    content = (~(lines["is_blank"] | lines["is_page_break"])).to_numpy()
    n = len(lines)

    # integer composite keys: page_key is doc * 2^20 + page
    dp_key = lines["page_key"].to_numpy()
    pstarts = seg_starts(dp_key)

    c = content.astype(np.int64)
    pos_in_page = seg_cumsum(c, pstarts)
    page_len = seg_sum_transform(c, pstarts)
    edge = (pos_in_page <= 2) | (pos_in_page >= page_len - 1)

    # pages_seen per (doc, pattern): unique (doc,pat,page) triples, counted
    # per (doc,pat) — all in sorted-integer space, no hash groupby.
    # Distinct texts can normalize to the SAME pattern, so the unique-text
    # norms are re-coded (Arrow dictionary_encode) and composed through
    # the text gather: pat_codes[i] = norm_code_of_unique[t_codes[i]]
    import pyarrow.compute as pc

    norm_enc = norm_u.dictionary_encode()
    u_pat = np.asarray(norm_enc.indices, dtype=np.int64)
    pat_codes = u_pat[t_codes]
    u_empty = pc.equal(norm_u, "").to_numpy(zero_copy_only=False)
    norm_nonempty = ~u_empty[t_codes]
    page = lines["page_id"].to_numpy()
    comp = (dp_key >> 20) * (1 << 42) + pat_codes * (1 << 20) + page
    uniq = np.unique(comp)
    dp_of_uniq = uniq >> 20
    ustarts = seg_starts(dp_of_uniq)
    counts = seg_sizes(ustarts, len(uniq))
    dp_sorted_keys = dp_of_uniq[ustarts]
    idx = np.searchsorted(dp_sorted_keys, comp >> 20)
    pages_seen = counts[idx]

    flag = (pages_seen >= 2) & edge & content & norm_nonempty
    return pd.Series(flag, index=lines.index)


def dedup_notes(spans: pd.DataFrame) -> pd.DataFrame:
    """C6: within each document, drop repeated headnote/footnote spans
    (normalized-text exact repeats across pages keep only the first; spans
    shorter than 6 chars dropped), other kinds untouched.
    """
    is_note = spans["kind"].isin(["headnote", "footnote"])
    norm = (
        spans["text"].fillna("").str.lower().str.replace(r"\s+", " ", regex=True)
    )
    too_short = is_note & (norm.str.len() < 6)
    dup = (
        pd.DataFrame(
            {"d": spans["doc_id"], "k": spans["kind"], "n": norm}
        ).duplicated()
        & is_note
    )
    keep = ~(too_short | dup)
    return spans[keep].reset_index(drop=True)
