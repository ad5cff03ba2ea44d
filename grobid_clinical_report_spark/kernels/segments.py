"""Contiguous-segment aggregations (numpy reduceat) — the groupby fast path.

Lines arrive in document order (pipeline._lines_from_batch flattens a batch of
document rows), so per-document — and per-block, per-page — grouping is a
*segmentation* of a sorted key array, not a hash groupby. These helpers do the
usual transform('size'/'sum')/cumcount/cumsum shapes with reduceat + repeat:
no hash tables, no per-group Series allocation, a handful of O(n) passes.
"""

from __future__ import annotations

import numpy as np


def seg_starts(keys: np.ndarray) -> np.ndarray:
    """Start index of every run of equal consecutive keys (keys sorted or at
    least run-grouped)."""
    n = len(keys)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    change = np.ones(n, dtype=bool)
    change[1:] = keys[1:] != keys[:-1]
    return np.flatnonzero(change)


def seg_sizes(starts: np.ndarray, n: int) -> np.ndarray:
    return np.diff(np.append(starts, n))


def seg_size_transform(starts: np.ndarray, n: int) -> np.ndarray:
    """transform('size'): each row gets its segment's length."""
    return np.repeat(seg_sizes(starts, n), seg_sizes(starts, n))


def seg_position(starts: np.ndarray, n: int) -> np.ndarray:
    """cumcount(): 0-based position of each row within its segment."""
    out = np.arange(n, dtype=np.int64)
    return out - np.repeat(starts, seg_sizes(starts, n))


def seg_cumsum(values: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """groupby cumsum (inclusive) within segments."""
    c = np.cumsum(values)
    offset = np.zeros_like(c)
    base = c[starts] - values[starts]
    offset = np.repeat(base, seg_sizes(starts, len(values)))
    return c - offset


def seg_sum_transform(values: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """transform('sum') within segments."""
    n = len(values)
    sums = np.add.reduceat(values, starts) if n else values[:0]
    return np.repeat(sums, seg_sizes(starts, n))


def seg_any_transform(mask: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """transform('any') within segments."""
    return seg_sum_transform(mask.astype(np.int64), starts) > 0
