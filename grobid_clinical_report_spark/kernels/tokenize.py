"""Tokenization / line handling kernels (SURVEY.md §2.2 T1-T3, T5).

Reference parity:
- T1 `GrobidAnalyzer.tokenizeWithLayoutToken` (used e.g. MedicParser.java:63,
  FrenchMedicalNERParser.java:186) → vectorized regex tokenizer,
- T2 line splitting on [\\n\\r] (MedicalReportSegmenterParser.java:377-388),
- T3 sanitization: drop empties / junk sentinels
  (MedicalReportSegmenterParser.java:430-437, FullMedicalTextParser.java:445-473),
- T5 contiguous piece building by offset continuity
  (FullMedicalTextParser.java:212-317 processShortNew/processShort) →
  run-length segmentation on offset deltas.

Everything operates on whole pandas columns (str.findall / explode), not rows.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# GROBID's analyzer splits on whitespace and keeps punctuation as separate
# tokens; this regex reproduces that token shape for French clinical text.
# Dates and clock times are kept as single tokens (the reference re-joins them
# downstream via its date parser; single-token form keeps the kernels flat).
TOKEN_RE = (
    r"\d{1,2}[./-]\d{1,2}[./-]\d{2,4}"      # numeric date
    r"|\d{1,2}[hH:]\d{2}\b"                  # clock time
    r"|[A-Za-zÀ-ÖØ-öø-ÿ]+(?:['’][A-Za-zÀ-ÖØ-öø-ÿ]+)?"
    r"|\d+(?:[.,]\d+)?"
    r"|[^\sA-Za-zÀ-ÖØ-öø-ÿ\d]"
)

# junk sentinels the reference filters via TextUtilities.filterLine
JUNK_TOKENS = {"@PAGE", "@IMAGE", "\x00", "�"}


def _np_parts(uniq):
    """TOKEN_RE tokenization as a parts ListArray — the numpy fast path for
    strings WITHOUT ASCII digits (the date/clock/number alternatives all
    require \\d, so a digit-free string can only match the word or
    single-punct alternatives). Produces, per string, the alternating
    [gap, tok, gap, …, gap] element list that
    split_pattern(re2-bracketed, "\\x00") yields — byte-exact on that
    domain (randomized parity test in tests/test_kernels.py) — but
    assembled from token-boundary offset arithmetic over the raw buffer,
    zero-copy, with no sentinel insertion and no split:

      word  = L+(['’]L+)?  with L = [A-Za-zÀ-ÖØ-öø-ÿ] (ASCII + lead-0xC3
              Latin-1 pairs; Œ/œ at lead 0xC5 are NOT letters to this
              regex and fall through to the punct alternative)
      punct = any other single non-\\s codepoint (incl. \\v, NBSP, emoji)

    Apostrophe joining follows RE2's leftmost-first semantics: within a
    chain of letter runs linked by letter-adjacent apostrophes
    (a'b'c'd…), the 1st, 3rd, … apostrophe joins its two runs (the
    optional group fires once per word match), the ones between stay
    single punct tokens. Whitespace ([\\t\\n\\f\\r ]) separates matches and
    is never bracketed.

    Input must be a null-free pa.string() with NO \\x00 bytes (the caller
    maps NULs to U+FFFD first) and NO ASCII digits.
    """
    import pyarrow as pa

    from . import arrowtext as at

    offs, data = at._np_view(uniq)
    n = len(offs) - 1
    if len(data) == 0:
        # every string is empty → one empty gap element each
        values = pa.array([""] * n, type=pa.string())
        return pa.ListArray.from_arrays(
            pa.array(np.arange(n + 1, dtype=np.int32)), values
        )
    nd = len(data)
    starts = offs[:-1]
    vs = starts[starts < offs[1:]]  # first byte of each non-empty string
    last = offs[1:][starts < offs[1:]] - 1  # last byte of each

    # --- letter bytes (lead AND continuation of C3 pairs count) ---------
    fold = data | np.uint8(0x20)
    ascii_alpha = (fold >= 0x61) & (fold <= 0x7A) & (data < 0x80)
    c3 = data == 0xC3
    letter = ascii_alpha
    if c3.any():
        nxt = np.empty_like(data)
        nxt[:-1] = data[1:]
        nxt[-1] = 0
        inclass = (
            (nxt >= 0x80) & (nxt <= 0xBF) & (nxt != 0x97) & (nxt != 0xB7)
        )
        pair_lead = c3 & inclass
        pair_cont = np.zeros_like(pair_lead)
        pair_cont[1:] = pair_lead[:-1]
        letter = letter | pair_lead | pair_cont
    ws = (data == 0x20) | ((data >= 0x09) & (data <= 0x0D) & (data != 0x0B))

    # --- apostrophe join candidates (sparse) -----------------------------
    member = letter.copy()
    a1 = data == 0x27
    a3 = np.zeros_like(a1)
    if (data == 0xE2).any():
        a3[: nd - 2] = (
            (data[: nd - 2] == 0xE2)
            & (data[1 : nd - 1] == 0x80)
            & (data[2:] == 0x99)
        )
    apos = np.flatnonzero(a1 | a3)
    if len(apos):
        alen = np.where(a1[apos], 1, 3)
        aend = apos + alen  # first byte after the apostrophe
        sid = np.searchsorted(offs, apos, side="right") - 1
        before_ok = (apos > offs[sid]) & letter[np.maximum(apos - 1, 0)]
        after_ok = (aend < offs[sid + 1]) & letter[
            np.minimum(aend, nd - 1)
        ]
        cand = np.flatnonzero(before_ok & after_ok)
        if len(cand):
            # letter-run ids at the (sparse) candidate positions only:
            # run id = #run-starts ≤ pos, via searchsorted over the run
            # start positions (a full-buffer cumsum was ~30 ms/batch)
            run_open = letter.copy()
            run_open[1:] &= ~letter[:-1]
            run_starts_pos = np.flatnonzero(run_open)
            c_pos, c_end = apos[cand], aend[cand]
            prev_run = np.searchsorted(run_starts_pos, c_pos - 1, "right")
            next_run = np.searchsorted(
                run_starts_pos, np.minimum(c_end, nd - 1), "right"
            )
            brk = np.ones(len(cand), dtype=bool)
            # a new chain when the linking run differs OR the candidates
            # sit in different strings (a byte-level letter run can span
            # two adjacent strings; matches never do)
            sid_c = sid[cand]
            brk[1:] = (prev_run[1:] != next_run[:-1]) | (
                sid_c[1:] != sid_c[:-1]
            )
            grp = np.cumsum(brk) - 1
            first_of_grp = np.flatnonzero(brk)  # one entry per chain
            joined = ((np.arange(len(cand)) - first_of_grp[grp]) % 2) == 0
            jpos = c_pos[joined]
            jlen = np.where(a1[jpos], 1, 3)
            member[jpos] = True
            m3 = jpos[jlen == 3]
            if len(m3):
                member[m3 + 1] = True
                member[m3 + 2] = True

    # --- token starts/ends ------------------------------------------------
    mem_start = member.copy()
    mem_start[1:] &= ~member[:-1]
    mem_start[vs] = member[vs]
    mem_end = member.copy()
    mem_end[:-1] &= ~member[1:]
    mem_end[last] = member[last]

    other = ~member & ~ws
    olead = other & ((data < 0x80) | (data >= 0xC0))
    start_mask = mem_start | olead
    end_mask = mem_end
    opos = np.flatnonzero(olead)
    if len(opos):
        b = data[opos]
        olen = np.where(
            b < 0x80, 1, np.where(b < 0xE0, 2, np.where(b < 0xF0, 3, 4))
        )
        end_mask = end_mask.copy()
        end_mask[opos + olen - 1] = True
    tok_starts = np.flatnonzero(start_mask)
    tok_ends = np.flatnonzero(end_mask)
    k = len(tok_starts)

    # --- build the parts list DIRECTLY (no sentinels, no split) ----------
    # split_pattern(marked, "\x00") would yield, per string, the
    # alternating [gap, tok, gap, …, gap] elements whose boundaries in the
    # ORIGINAL buffer are exactly: string start, then (tok_start,
    # tok_end+1) per token, then string end. So the parts ListArray is
    # assembled from offset arithmetic alone — the values StringArray
    # shares the input byte buffer zero-copy, and the RE2
    # replace+split round-trip disappears entirely for this subset.
    # Tokens are disjoint and ordered, so the i-th token has exactly i
    # tokens before it: element-offset positions need no searchsorted
    # except for the per-string token counts.
    st_en = np.empty(2 * k, dtype=np.int64)
    st_en[0::2] = tok_starts
    st_en[1::2] = tok_ends + 1
    # tokens never straddle strings → tokens-before-string-j via one
    # sparse searchsorted
    tau = np.searchsorted(tok_ends, offs[:-1], side="left")
    val_offs = np.insert(st_en, 2 * tau, offs[:-1])
    val_offs = np.append(val_offs, offs[-1]).astype(np.int32)
    n_vals = len(val_offs) - 1
    values = pa.Array.from_buffers(
        pa.utf8(), n_vals, [None, pa.py_buffer(val_offs), pa.py_buffer(data)]
    )
    list_offs = np.empty(n + 1, dtype=np.int32)
    list_offs[:-1] = np.arange(n) + 2 * tau
    list_offs[-1] = n_vals
    return pa.ListArray.from_arrays(pa.array(list_offs, type=pa.int32()), values)


def explode_tokens(lines: pd.DataFrame) -> pd.DataFrame:
    """Flat lines DataFrame → flat tokens DataFrame, one row per token.

    Input columns: at least [text]; every other input column passes through
    onto the line's tokens, and ``text`` itself does not (token readers use
    tok/gap). Output adds:
      tok      — the token string,
      gap      — the raw text between the previous token and this one (so any
                 token-range span can reconstruct its exact source substring:
                 first tok + Σ(gap_i + tok_i) — no per-row slicing needed),
      tok_idx  — position within the input row: a line opens where
                 tok_idx == 0 (subparsers.line_starts),
      tok_start/tok_end — char offsets within the line.

    Fully Arrow-vectorized: every token match is bracketed with a \\x00
    sentinel (one RE2 replace), the line splits on the sentinel into an
    alternating [gap, tok, gap, tok, …, gap] list, and list_flatten /
    list_parent_indices explode it in C++ — position parity separates
    tokens from gaps (pandas str.findall was a per-row Python re loop, the
    former tokenizer hotspot). tok/gap come back ARROW-BACKED (no object
    materialization; downstream arr_of calls are zero-copy).
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    from . import arrowtext as at
    from .segments import seg_cumsum, seg_position, seg_starts

    arr = at.arr_of(lines["text"])
    arr = pc.coalesce(arr, "")
    # dictionary-encode first: the TOKEN_RE bracketing pass (the big RE2
    # alternation, this kernel's dominant cost) runs over the ~60%-unique
    # line dictionary; the per-row token lists are then replicated by one
    # C++ list take in codes order — identical output rows
    enc = arr.dictionary_encode()
    codes = enc.indices
    uniq = enc.dictionary
    # \x00 is the bracketing sentinel below, but NULs are also legal input
    # (dirty PDF text — JUNK_TOKENS lists '\x00'). Map them to U+FFFD first:
    # '�' matches TOKEN_RE's punctuation alternative and is junk-filtered,
    # which is exactly what the old findall path did with the NUL token —
    # adjacent tokens stay separate and the sentinel is guaranteed absent.
    uniq = pc.replace_substring(uniq, pattern="\x00", replacement="�")
    # hybrid tokenization: the date/clock/number alternatives of TOKEN_RE
    # all require an ASCII digit, so digit-free lines (~95+% of the unique
    # dictionary on the bench corpora) take the numpy token-boundary
    # kernel (_np_parts — byte-exact vs bracket+split, parity-fuzzed,
    # zero-copy over the line bytes) and only the digit-bearing rest pays
    # the big RE2 alternation + split
    dig = at.any_digit(uniq)
    idx = np.flatnonzero(dig)
    if at._np_view(uniq) is None or len(idx) == len(uniq):
        marked = pc.replace_substring_regex(
            uniq, f"({TOKEN_RE})", "\x00\\1\x00"
        )
        parts_u = pc.split_pattern(marked, "\x00")
    elif len(idx) == 0:
        parts_u = _np_parts(uniq)
    else:
        rest = np.flatnonzero(~dig)
        m_re2 = pc.replace_substring_regex(
            uniq.take(pa.array(idx)), f"({TOKEN_RE})", "\x00\\1\x00"
        )
        p_re2 = pc.split_pattern(m_re2, "\x00")
        p_np = _np_parts(uniq.take(pa.array(rest)))
        inv = np.empty(len(uniq), dtype=np.int64)
        inv[rest] = np.arange(len(rest))
        inv[idx] = len(rest) + np.arange(len(idx))
        parts_u = pa.concat_arrays(
            [p_np, p_re2.combine_chunks()
             if isinstance(p_re2, pa.ChunkedArray) else p_re2]
        ).take(pa.array(inv))
    parts = parts_u.take(codes)
    flat = pc.list_flatten(parts)
    parent = pc.list_parent_indices(parts).to_numpy(zero_copy_only=False)
    pstarts = seg_starts(parent)
    pos = seg_position(pstarts, len(flat))
    is_tok = (pos % 2) == 1  # odd positions are the bracketed matches

    tok_idx_flat = np.flatnonzero(is_tok)
    # codepoint lengths in Arrow (pandas .str.len over object arrays is a
    # per-row Python map — profiled at ~1/3 of this kernel)
    flat_lens = pc.utf8_length(flat).to_numpy(zero_copy_only=False)
    toks_arr = flat.take(pa.array(tok_idx_flat))
    keep_a = pc.invert(
        pc.is_in(
            toks_arr,
            value_set=pa.array(sorted(JUNK_TOKENS), type=pa.string()),
        )
    )
    keep = keep_a.to_numpy(zero_copy_only=False)
    kept_idx = tok_idx_flat[keep]
    toks_arr = toks_arr.filter(keep_a)
    gaps_arr = flat.take(pa.array(kept_idx - 1))  # element before = gap
    parents = parent[kept_idx]

    src = lines.drop(columns=["text"]).reset_index(drop=True)
    out = src.take(parents).reset_index(drop=True)
    out["tok"] = at.series_of(toks_arr, index=out.index)
    out["gap"] = at.series_of(gaps_arr, index=out.index)
    out["tok_idx"] = seg_position(seg_starts(parents), len(out))
    # char offsets within the line (entity spans report start/end,
    # FrenchMedicalNERParser.java:560-797). The cumsum runs over ALL flat
    # parts — gaps, tokens, AND junk-filtered tokens — then indexes at the
    # kept positions: a kept-only cumsum (the former code) silently
    # dropped each junk token's length and its preceding gap, drifting
    # every later offset in the line. The extraction cascade never sees
    # the difference (prepare_lines sanitizes junk out of the text first),
    # but corpus_import labels tokens by offsets in the ORIGINAL document
    # text, where a NUL/@PAGE before an entity must still be counted.
    ends_all = seg_cumsum(flat_lens, pstarts)
    out["tok_end"] = ends_all[kept_idx]
    out["tok_start"] = ends_all[kept_idx] - flat_lens[kept_idx]
    return out


_JUNK_RE = "|".join(
    {"@PAGE": "@PAGE", "@IMAGE": "@IMAGE", "\x00": "\\x00", "�": "�"}.values()
)


def sanitize_lines(lines: pd.DataFrame) -> pd.DataFrame:
    """T3: strip junk sentinels from line text; keep blank lines (they are
    block separators, consumed by block/page segmentation). One RE2 pass;
    skipped entirely when the batch is clean (the common case)."""
    from . import arrowtext as at

    arr = at.arr_of(lines["text"])
    if not at.contains(arr, _JUNK_RE).any():
        return lines.assign(text=at.series_of(arr, index=lines.index))
    clean = at.replace(arr, _JUNK_RE, "")
    return lines.assign(text=at.series_of(clean, index=lines.index))


def contiguous_pieces(offsets: np.ndarray, max_gap: int) -> np.ndarray:
    """T5: group sorted offsets into contiguous pieces; returns piece ids.

    A new piece opens when the offset delta exceeds ``max_gap`` — the numpy
    equivalent of DocumentPiece construction over token-pointer continuity
    (FullMedicalTextParser.java:216-251).
    """
    if len(offsets) == 0:
        return np.zeros(0, dtype=np.int64)
    gaps = np.diff(offsets, prepend=offsets[0]) > max_gap
    return np.cumsum(gaps)


def assign_blocks_pages(lines: pd.DataFrame) -> pd.DataFrame:
    """Derive block_id / page_id / line-in-block structure from the span
    stream: blank text spans ('') delimit blocks, form-feed spans ('\\f')
    delimit pages (FIXTURES.md §1). Vectorized via groupby-cumsum over
    integer composite keys (doc_id is expected to be a batch-local int code
    in the hot path — see pipeline._lines_from_batch; string doc_ids are
    factorized on the fly for the test path).

    Adds: is_blank, is_page_break, is_media, block_id, page_id,
    line_in_block, block_len, block_key and page_key (doc⊕block and
    doc⊕page int composites: their runs are the blocks and pages).
    """
    from . import arrowtext as at

    import pyarrow.compute as pc

    from .segments import (
        seg_cumsum,
        seg_position,
        seg_starts,
        seg_sum_transform,
    )

    df = lines.copy(deep=False)
    n = len(df)
    txt_arr = at.arr_of(df["text"])
    kind_arr = at.arr_of(df["kind"])
    df["is_media"] = pc.equal(kind_arr, "media").to_numpy(zero_copy_only=False)
    df["is_page_break"] = pc.equal(txt_arr, "\f").to_numpy(
        zero_copy_only=False
    )
    df["is_blank"] = (
        ~at.contains(txt_arr, r"\S") & ~df["is_media"] & ~df["is_page_break"]
    )

    doc = df["doc_id"].to_numpy()
    if not np.issubdtype(doc.dtype, np.integer):
        doc = pd.factorize(doc)[0]
    doc = doc.astype(np.int64)

    # lines arrive grouped by document → every grouping below is a
    # contiguous-segment aggregation (kernels/segments.py), no hash groupby
    dstarts = seg_starts(doc)
    if "seq" not in df.columns:
        df["seq"] = seg_position(dstarts, n)
    sep = (df["is_blank"] | df["is_page_break"]).to_numpy().astype(np.int64)
    df["block_id"] = seg_cumsum(sep, dstarts) - sep
    pb = df["is_page_break"].to_numpy().astype(np.int64)
    df["page_id"] = seg_cumsum(pb, dstarts) - pb
    df["page_key"] = doc * (1 << 20) + df["page_id"].to_numpy()

    block_key = doc * (1 << 22) + df["block_id"].to_numpy()
    df["block_key"] = block_key
    bstarts = seg_starts(block_key)
    content = (~(df["is_blank"] | df["is_page_break"])).to_numpy().astype(
        np.int64
    )
    df["line_in_block"] = seg_cumsum(content, bstarts) - content
    df["block_len"] = seg_sum_transform(content, bstarts)
    return df
