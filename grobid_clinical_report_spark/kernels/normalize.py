"""Text normalization kernels (SURVEY.md §2.5 C7, §2.5 C2 date normalization).

Reference parity:
- `normalizeDehyphenizeText` (dehyphenize + normalizeSpace,
  FullMedicalTextParser.java:6097-6118, call sites throughout),
- ISO date normalization with French month names
  (HeaderMedicalParser.java:174-181, 394-409).

All functions are vectorized over pandas Series (pd.Series -> pd.Series).
"""

from __future__ import annotations

import pandas as pd

from .lexicon import MONTHS_FR


def normalize_text(s: pd.Series) -> pd.Series:
    """dehyphenize + space-collapse — the normalization applied to every
    emitted span's text (FIXTURES.md §2). Arrow-compute fast path."""
    from . import arrowtext as at

    arr = at.arr_of(s)
    # dehyphenize needs a literal '\n' in the match — when no string in
    # the batch has one (single-line span texts, the common case), the
    # RE2 group replace is skipped outright
    if at.contains_byte(arr, 0x0A).any():
        arr = at.replace(arr, r"(\w)-\s*\n\s*(\w)", r"\1\2")
    arr = at.strip(at.collapse_ws_runs(arr))
    return pd.Series(
        arr.to_numpy(zero_copy_only=False), index=s.index, name=s.name
    )


# ---------------------------------------------------------------------------
# Date normalization → ISO (HeaderMedicalParser.java:394-409)
# ---------------------------------------------------------------------------

_NUM_DATE = r"(\d{1,2})[./-](\d{1,2})[./-](\d{2,4})"
_MONTHS_ALT = "|".join(sorted(MONTHS_FR, key=len, reverse=True))
_TEXT_DATE = rf"(\d{{1,2}})(?:er)?\s+({_MONTHS_ALT})\s+(\d{{2,4}})"


def to_iso_date(s: pd.Series) -> pd.Series:
    """Extract the first date in each string and normalize to YYYY-MM-DD.

    Handles both numeric French forms (29.04.2000, 29/04/2000, 29-04-00) and
    textual forms (29 avril 2000). Returns '' where no date found. Vectorized:
    two `str.extract` passes, no per-row parsing.
    """
    if isinstance(s.dtype, pd.ArrowDtype):
        # .str.extract/callable-replace below need the object engine
        # (Arrow's extract_regex wants named groups); date spans are few
        s = s.astype(object)
    s = s.fillna("")
    num = s.str.extract(_NUM_DATE, expand=True)
    txt = s.str.lower().str.extract(_TEXT_DATE, expand=True)

    # where, not fillna: fillna on these object columns downcasts, which
    # pandas deprecates (a FutureWarning on a string with no date)
    day = num[0].where(num[0].notna(), txt[0])
    month_txt = txt[1].map(
        lambda m: f"{MONTHS_FR[m]:02d}" if isinstance(m, str) else None
    )
    month = num[1].where(num[1].notna(), month_txt)
    year = num[2].where(num[2].notna(), txt[2])

    ok = day.notna() & month.notna() & year.notna()
    # two-digit years: 00-29 → 20xx, else 19xx (reference pivots similarly)
    yr4 = year.astype("string").str.replace(
        r"^(\d{2})$",
        lambda m: ("20" if int(m.group(1)) < 30 else "19") + m.group(1),
        regex=True,
    )
    out = (
        yr4.fillna("")
        + "-"
        + month.astype("string").str.zfill(2).fillna("")
        + "-"
        + day.astype("string").str.zfill(2).fillna("")
    )
    return out.where(ok, "").astype(str)
