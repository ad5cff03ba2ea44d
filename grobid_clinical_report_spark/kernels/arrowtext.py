"""Arrow-compute string kernels — the vectorized fast path for featurization.

pandas object-dtype `.str` ops dispatch a Python `re.search` per row; Arrow's
compute kernels (RE2, C++) are ~7× faster and allocation-light, which is what
keeps the extraction cascade memory-bandwidth-friendly when 32 workers share
one socket (bench profiling note in BENCH/BASELINE.md).

RE2 caveats honored here: no lookarounds/backrefs in any pattern passed in;
`\\b` is ASCII-ish — patterns that must respect accented word chars spell the
boundary out explicitly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc


def arr_of(s: pd.Series) -> pa.Array:
    """pandas Series → Arrow string array. Zero-copy when the Series is
    already Arrow-backed (the pipeline keeps text columns as ArrowDtype so
    the megabytes of document text are never re-encoded per feature pass)."""
    if isinstance(s.dtype, pd.ArrowDtype):
        arr = s.array._pa_array  # ChunkedArray
        arr = arr.combine_chunks() if arr.num_chunks != 1 else arr.chunk(0)
        if arr.null_count:
            arr = pc.fill_null(arr, "")
        return arr
    if isinstance(s.dtype, pd.CategoricalDtype):
        # codes + tiny dictionary → string array via one C++ take (the
        # r8 token-mode labelers ship Categorical labels; .astype(str)
        # here would materialize the corpus-sized object column)
        codes = s.cat.codes.to_numpy()
        cats = pa.array(s.cat.categories.astype(str), type=pa.string())
        d = pa.DictionaryArray.from_arrays(
            pa.array(codes, mask=codes < 0), cats
        )
        return pc.fill_null(d.dictionary_decode(), "")
    return pa.array(s.fillna("").astype(str), type=pa.string())


def series_of(arr: pa.Array, index=None) -> pd.Series:
    """Arrow string array → Arrow-backed pandas Series (no object dtype)."""
    return pd.Series(
        pd.arrays.ArrowExtensionArray(pa.chunked_array([arr])), index=index
    )


def word_bounded(core: str) -> str:
    """Unicode-safe word boundary for RE2: `\\b` in RE2 is ASCII, so 'pr'
    would match inside 'présente'. RE2 has no lookarounds either, so the
    boundary is an explicit consumed character class (fine for boolean
    contains, not for extraction offsets)."""
    w = r"\p{L}\p{N}_"
    return rf"(?:^|[^{w}])(?:{core})(?:$|[^{w}])"


def contains(arr: pa.Array, pattern: str) -> np.ndarray:
    return pc.match_substring_regex(arr, pattern).to_numpy(
        zero_copy_only=False
    )


def match(arr: pa.Array, pattern: str) -> np.ndarray:
    """Anchored-at-start match (pandas .str.match semantics)."""
    p = pattern if pattern.startswith("^") else "^(?:" + pattern + ")"
    return contains(arr, p)


def count_sep_runs(arr: pa.Array) -> np.ndarray:
    """Maximal [ \\t]+ runs per string — numpy over the raw UTF-8 buffer.

    Byte-exact equivalent of ``count(arr, "[ \\t]+")`` (pinned by a
    randomized parity test): space/tab are single-byte UTF-8 and
    continuation bytes are ≥ 0x80, so the byte-level mask can't split or
    invent runs inside multibyte codepoints. The RE2 count was the single
    most expensive featurizer scan (~6× any boolean contains — it must
    walk every match, not stop at the first); three vectorized passes over
    the byte buffer + a sparse bincount replace it. Falls back to the RE2
    kernel for null-bearing or non-string inputs."""
    n = len(arr)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    if arr.null_count or not pa.types.is_string(arr.type):
        return (
            pc.fill_null(pc.count_substring_regex(arr, "[ \t]+"), 0)
            .to_numpy(zero_copy_only=False)
            .astype(np.int64)
        )
    offs = np.frombuffer(arr.buffers()[1], dtype=np.int32)[
        arr.offset : arr.offset + n + 1
    ].astype(np.int64)
    databuf = arr.buffers()[2]
    if databuf is None or offs[-1] == offs[0]:
        return np.zeros(n, dtype=np.int64)
    data = np.frombuffer(databuf, dtype=np.uint8)[offs[0] : offs[-1]]
    offs = offs - offs[0]
    sep = (data == 0x20) | (data == 0x09)
    run_start = sep.copy()
    run_start[1:] &= ~sep[:-1]
    # string boundaries: a sep at a string's first byte opens a run even
    # when the previous string's last byte was a sep
    starts = offs[:-1]
    vs = starts[starts < offs[1:]]  # non-empty strings only
    run_start[vs] = sep[vs]
    pos = np.flatnonzero(run_start)
    idx = np.searchsorted(offs, pos, side="right") - 1
    return np.bincount(idx, minlength=n).astype(np.int64)


def count(arr: pa.Array, pattern: str) -> np.ndarray:
    return (
        pc.count_substring_regex(arr, pattern)
        .to_numpy(zero_copy_only=False)
        .astype(np.int64)
    )


# ---------------------------------------------------------------------------
# numpy byte-buffer kernels (guide §4): RE2 per-string call overhead (~1.4 µs
# per string measured on the bench dictionaries) dominates simple class
# scans, so the hottest ones run directly over the raw UTF-8 byte buffer.
# All are BYTE-EXACT equivalents of the RE2 kernel they replace, pinned by
# randomized parity tests (tests/test_kernels.py): the byte classes
# involved are single-byte UTF-8 ({\t,\n,\f,\r,' '}, digits, ASCII letters)
# or 2-byte Latin-1 (lead 0xC3), and continuation bytes are ≥ 0x80, so a
# byte-level mask can't split or invent matches inside multibyte codepoints.
# Each kernel falls back to the RE2 path for inputs outside its proven
# domain (nulls, non-string arrays).
# ---------------------------------------------------------------------------

# first-codepoint class LUTs for match(r"[A-ZÀ-ÖØ]") / match(r"[a-zà-öø-ÿ]")
_UPPER_ASCII_LUT = np.zeros(256, dtype=bool)
_UPPER_ASCII_LUT[0x41:0x5B] = True
_UPPER_C3_LUT = np.zeros(256, dtype=bool)
_UPPER_C3_LUT[0x80:0x97] = True  # À-Ö
_UPPER_C3_LUT[0x98] = True       # Ø
_LOWER_ASCII_LUT = np.zeros(256, dtype=bool)
_LOWER_ASCII_LUT[0x61:0x7B] = True
_LOWER_C3_LUT = np.zeros(256, dtype=bool)
_LOWER_C3_LUT[0xA0:0xB7] = True  # à-ö
_LOWER_C3_LUT[0xB8:0xC0] = True  # ø-ÿ

def _np_view(arr: pa.Array):
    """(offsets rebased to 0 as int64, data bytes as uint8) of a null-free
    pa.string() array, or None when the numpy fast path doesn't apply."""
    if (
        not isinstance(arr, pa.Array)
        or not pa.types.is_string(arr.type)
        or arr.null_count
    ):
        return None
    n = len(arr)
    offs = np.frombuffer(arr.buffers()[1], dtype=np.int32)[
        arr.offset : arr.offset + n + 1
    ].astype(np.int64)
    databuf = arr.buffers()[2]
    if databuf is None:
        data = np.zeros(0, dtype=np.uint8)
    else:
        data = np.frombuffer(databuf, dtype=np.uint8)[offs[0] : offs[-1]]
    return offs - offs[0], data


def _mask_any(offs: np.ndarray, mask: np.ndarray) -> np.ndarray:
    """Per-string 'any True byte'. Cost ∝ number of True bytes (sparse
    scan: flatnonzero + one searchsorted), not buffer size."""
    out = np.zeros(len(offs) - 1, dtype=bool)
    pos = np.flatnonzero(mask)
    if len(pos):
        out[np.searchsorted(offs, pos, side="right") - 1] = True
    return out


def _mask_or(offs: np.ndarray, mask: np.ndarray) -> np.ndarray:
    """Per-string 'any True byte' for DENSE masks: logical_or.reduceat
    (~2 ms on a 6 MB buffer vs ~20 ms flatnonzero when most bytes hit).
    One padded False byte keeps trailing empty strings' starts in range
    without shortening the last non-empty string's segment."""
    out = np.logical_or.reduceat(np.append(mask, False), offs[:-1])
    out[offs[:-1] == offs[1:]] = False  # reduceat misreports empties
    return out


def _ws_mask(data: np.ndarray) -> np.ndarray:
    """RE2 \\s byte mask via SIMD compares (a 256-LUT gather over the
    buffer measured ~6× slower than the compare chain)."""
    return (data == 0x20) | (
        (data >= 0x09) & (data <= 0x0D) & (data != 0x0B)
    )


def _digit_mask(data: np.ndarray) -> np.ndarray:
    """ASCII digit mask: (b ^ 0x30) < 10 — one xor + one compare."""
    return (data ^ np.uint8(0x30)) < 10


def subset_replace(
    arr: pa.Array, cand: np.ndarray, ops: list[tuple[str, str]]
) -> pa.Array:
    """Chained replace_substring_regex applied only to the strings flagged
    in `cand` (bool mask); everything else passes through untouched —
    callers guarantee the unflagged strings are fixpoints of every op.
    With no candidates the input array is returned as-is (zero copy) and
    the RE2 engine never runs."""
    idx = np.flatnonzero(cand)
    if len(idx) == 0:
        return arr
    n = len(arr)
    fixed = arr.take(pa.array(idx))
    for pattern, repl in ops:
        fixed = pc.replace_substring_regex(fixed, pattern, repl)
    rest = np.flatnonzero(~cand)
    inv = np.empty(n, dtype=np.int64)
    inv[rest] = np.arange(len(rest))
    inv[idx] = len(rest) + np.arange(len(idx))
    merged = pa.concat_arrays([arr.take(pa.array(rest)), fixed])
    return merged.take(pa.array(inv))


def ws_anomaly(arr: pa.Array) -> np.ndarray:
    """Per-string: would replace(r"[\\s ]+", " ") change the string? True
    iff it has a ≥2-byte \\s run or a non-space \\s byte. On the bench
    dictionaries ~0.003% of strings — the candidate mask for
    subset_replace. Conservative at string boundaries (a run 'crossing'
    two strings flags the second; RE2 then no-ops on it)."""
    v = _np_view(arr)
    if v is None:
        return np.ones(len(arr), dtype=bool)  # can't prove — check all
    offs, data = v
    if len(data) == 0:
        return np.zeros(len(offs) - 1, dtype=bool)
    ws = _ws_mask(data)
    hit = ws & (data != 0x20)  # \t \n \f \r always rewrite to ' '
    run = ws.copy()
    run[0] = False
    run[1:] &= ws[:-1]
    return _mask_any(offs, hit | run)


def collapse_ws_runs(arr: pa.Array) -> pa.Array:
    """Byte-exact replace(arr, r"\\s+", " ") / replace(arr, r"[\\s ]+", " ")
    (identical classes — RE2 \\s is [\\t\\n\\f\\r ])."""
    if _np_view(arr) is None:
        return pc.replace_substring_regex(arr, r"[\s ]+", " ")
    return subset_replace(arr, ws_anomaly(arr), [(r"[\s ]+", " ")])


def any_digit(arr: pa.Array) -> np.ndarray:
    """Byte-exact contains(arr, r"\\d")."""
    v = _np_view(arr)
    if v is None:
        return contains(arr, r"\d")
    offs, data = v
    return _mask_any(offs, _digit_mask(data))


def contains_byte(arr: pa.Array, byte: int) -> np.ndarray:
    """Per-string: does the raw UTF-8 encoding contain `byte`? Exact
    codepoint containment for ASCII bytes (continuation bytes are ≥ 0x80).
    Fallback: pc.match_substring on the literal char."""
    v = _np_view(arr)
    if v is None:
        return pc.match_substring(arr, chr(byte)).to_numpy(
            zero_copy_only=False
        )
    offs, data = v
    return _mask_any(offs, data == np.uint8(byte))


def _starts_with_class(
    arr: pa.Array, ascii_lut: np.ndarray, c3_lut: np.ndarray, fb_pat: str
) -> np.ndarray:
    v = _np_view(arr)
    if v is None:
        return match(arr, fb_pat)
    offs, data = v
    n = len(offs) - 1
    out = np.zeros(n, dtype=bool)
    ne = offs[:-1] < offs[1:]
    fb_pos = offs[:-1][ne]
    fb = data[fb_pos]
    ok = ascii_lut[fb]
    c3 = fb == 0xC3
    if c3.any():
        # a 0xC3 lead always has its continuation byte inside the string
        ok = ok | (c3 & c3_lut[data[np.minimum(fb_pos + 1, len(data) - 1)]])
    out[ne] = ok
    return out


def starts_upper_letter(arr: pa.Array) -> np.ndarray:
    """Byte-exact match(arr, r"[A-ZÀ-ÖØ]") (first codepoint in class)."""
    return _starts_with_class(arr, _UPPER_ASCII_LUT, _UPPER_C3_LUT, r"[A-ZÀ-ÖØ]")


def starts_lower_letter(arr: pa.Array) -> np.ndarray:
    """Byte-exact match(arr, r"[a-zà-öø-ÿ]")."""
    return _starts_with_class(arr, _LOWER_ASCII_LUT, _LOWER_C3_LUT, r"[a-zà-öø-ÿ]")


def no_lowercase(arr: pa.Array) -> np.ndarray:
    """Per-string: utf8_upper(s) == s, i.e. the string contains no
    codepoint whose uppercase differs from itself. Exact for strings whose
    bytes are all < 0xC4 (ASCII + Latin-1 through lead 0xC3) via a probed
    per-codepoint LUT; strings with any byte ≥ 0xC4 (Œ/œ, ’, …) are
    re-checked through the pc kernel on that (tiny) subset."""
    v = _np_view(arr)
    if v is None:
        return pc.equal(pc.utf8_upper(arr), arr).to_numpy(
            zero_copy_only=False
        )
    offs, data = v
    n = len(offs) - 1
    if len(data) == 0:
        return np.ones(n, dtype=bool)
    # two-stage: an ASCII a-z byte proves the (dense) common case False
    # with two compares + one logical_or.reduceat; only the survivors —
    # all-caps/digit/punct lines plus anything whose lowercase lives
    # outside ASCII (é, ß, œ, µ, …) — go through the pc equality, which
    # carries the full utf8proc semantics on that small subset
    m = (data >= 0x61) & (data <= 0x7A)
    out = np.zeros(n, dtype=bool)
    maybe = ~_mask_or(offs, m)
    idx = np.flatnonzero(maybe)
    if len(idx):
        sub = arr.take(pa.array(idx))
        out[idx] = pc.equal(pc.utf8_upper(sub), sub).to_numpy(
            zero_copy_only=False
        )
    return out


def length(arr: pa.Array) -> np.ndarray:
    return pc.utf8_length(arr).to_numpy(zero_copy_only=False).astype(np.int64)


def lower(arr: pa.Array) -> pa.Array:
    return pc.utf8_lower(arr)


def replace(arr: pa.Array, pattern: str, repl: str) -> pa.Array:
    return pc.replace_substring_regex(arr, pattern, repl)


def strip(arr: pa.Array) -> pa.Array:
    return pc.utf8_trim_whitespace(arr)
