"""Batched linear-chain Viterbi decoder (SURVEY.md §2.4 L1).

The reference runs Wapiti CRF Viterbi decoding through JNI once per model per
zone (`AbstractParser.label`, call sites MedicalReportSegmenterParser.java:144,
HeaderMedicalParser.java:111, FullMedicalTextParser.java:139, MedicParser.java:96).
Its binary models are unavailable (private training data — README.md:143), so
sequence labeling is rebuilt as deterministic feature-driven emissions plus a
real linear-chain Viterbi decode in numpy, with transition/emission weights fit
offline against the fixture corpus (SURVEY.md §7.0).

`decode` is the one place codes become labels: every model's labeler gets
a Categorical over its vocabulary, in vocabulary order, and labels stay
codes up to the span boundary (`viterbi_segments` alone serves the
trainer's code-level perceptron and `predict`).

Vectorization contract ("never per-row Python", BASELINE.json north_star):
every model decodes a whole Arrow batch's segments in one `viterbi_segments`
call; the only Python loops are over length buckets and over *time steps*
(bounded by a bucket's longest segment, not by row count). One bucketing
rule: segments sort by length, and a bucket starting at length T takes every
length up to T when T ≤ _DENSE_MAX_T and up to 2·T above it. A bucket
holding a single length decodes as a (k, T, L) reshape view with no padding
and no mask; any other bucket is scattered into a padded block with a live
mask, its padded work bounded at 2× the live work. One DP core, `_decode`,
runs both.

`_decode` picks its DP step per block, from the transitions and the block's
shape. A sticky or column-structured matrix (every hand-set model but the
segmenter) admits `_step_structured`, O(L) work per row, but it costs ~20
numpy calls per step against the general O(L²) step's 3. So a block of at most
_GENERAL_MAX_CELLS B·L² cells, where call overhead outweighs arithmetic,
takes the general step: the whale documents' B=2 blocks of ~20k steps, and
most short single-length blocks. Wider blocks keep the structured step.
Both break ties by argmax first index, so the labels do not depend on the
route while the DP sums are exact: every model here has integer or
half-integer hand-set scores, or integer trained weights.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# bucket cap: lengths up to this decode one length per block (zero padding);
# longer segments share factor-2 buckets — the crossover is where per-length
# numpy call overhead on small (B, L) blocks outgrows the ≤2× padded work
_DENSE_MAX_T = 64

# step crossover: blocks of at most this many B·L² cells take the general
# step even when the matrix is structured. Per-step cost of `_decode`,
# structured vs general, OMP_NUM_THREADS=1 on a 4-core box:
#   L=12 (body, f32): B=16 64.2 vs 29.5 µs; B=64 88.3 vs 73.7; B=80 97.4 vs
#     90.4; B=96 102.3 vs 103.2; B=128 115.3 vs 132.4 → crossover ≈ 13.8k;
#   L=30 (NER, int16): B=8 66.7 vs 46.8; B=12 70.2 vs 62.0; B=16 71.4 vs
#     75.3; B=24 79.7 vs 105.8 → crossover between 10.8k and 14.4k.
# Either step is within ~15% of the other from ~8k to ~14k cells.
_GENERAL_MAX_CELLS = 12 * 1024


def _acc_dtype(em_dtype: np.dtype) -> np.dtype:
    """DP accumulator dtype for a given emission dtype.

    Integer emissions (the NER kernel ships int16 doubled-weight scores for
    memory bandwidth) must NOT accumulate in int16: dp grows ~9-16 per token,
    so a single segment beyond ~2000-3600 tokens silently wraps int16 and
    decodes wrong labels. The DP runs in AT LEAST int32 — emission GATHERS
    stay int16 (that is where the bandwidth win lives; the (B, L) dp tensor
    is tiny), and int32 holds ~10^8 tokens of worst-case real emissions
    (2^31 / 16), far past any guardrail-passing document. promote_types
    (not a flat int32) so hypothetical int64 emissions keep their width
    instead of being narrowed into the same wrap bug one size up."""
    if np.issubdtype(em_dtype, np.integer):
        return np.promote_types(em_dtype, np.int32)
    return np.dtype(em_dtype)


def viterbi_segments(
    em: np.ndarray, starts: np.ndarray, transitions: np.ndarray
) -> np.ndarray:
    """Decode contiguous segments of ONE emission matrix.

    em: (N, L) — all tokens' emissions, segments contiguous; starts: segment
    start offsets (seg_starts form). Returns flat (N,) label indices aligned
    with em rows.

    Segments are gathered in length order and decoded bucket by bucket
    (see the module docstring). Lengths ≤ _DENSE_MAX_T get one bucket each:
    the token-model shape (millions of short per-line sequences, few
    distinct lengths), where switching NER off padded buckets measured
    14.5s → ~5s at local[32]. Longer lengths share greedy factor-2 buckets:
    the line-model shape (tens of thousands of ~50-400 line documents,
    hundreds of DISTINCT lengths) would otherwise decode as thousands of
    tiny per-length numpy steps where call overhead dominates — measured
    5.9s → 9.2s on the extraction cascade when every length ran alone.
    """
    n, n_lab = em.shape
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    # adopt the caller's emission dtype end-to-end: a mixed f32-emissions /
    # f64-transitions DP silently promotes every step (measured 1.47s →
    # 2.02s on the corpus-NER segment set)
    transitions = np.asarray(transitions, dtype=em.dtype)
    starts = np.asarray(starts, dtype=np.int64)
    lengths = np.diff(np.append(starts, n))
    order = np.argsort(lengths, kind="stable")
    s_starts = starts[order]
    s_lens = lengths[order]
    # gather index: rows of each sorted segment, concatenated
    ends = np.cumsum(s_lens)
    seg_of_row = np.repeat(np.arange(len(s_lens)), s_lens)
    intra = np.arange(n) - np.repeat(ends - s_lens, s_lens)
    gather = s_starts[seg_of_row] + intra
    em2 = em[gather]

    out_sorted = np.empty(n, dtype=np.int64)
    uniq, counts = np.unique(s_lens, return_counts=True)
    pos = 0
    j = int(uniq[0] == 0)  # zero-length segments sort first, emit no rows
    while j < len(uniq):
        # greedy bucket. At line-model widths (B ≈ 50-150 docs, L ≈ 12, f32)
        # a DP step's numpy call overhead dominates its B×L arithmetic, so
        # fewer, taller buckets win: factor-2 growth (~5-10 buckets per
        # batch) measured ~15-20% faster than a 1.25 cap in both A/B run
        # orders, while still bounding worst-case padded work at 2× (one
        # bucket per batch would let a single long document pad everything)
        t_len = int(uniq[j])
        cap = t_len if t_len <= _DENSE_MAX_T else 2 * t_len
        j2 = j
        while j2 + 1 < len(uniq) and uniq[j2 + 1] <= cap:
            j2 += 1
        k = int(counts[j : j2 + 1].sum())
        t_max = int(uniq[j2])
        width = int((uniq[j : j2 + 1] * counts[j : j2 + 1]).sum())
        rows = slice(pos, pos + width)
        if j2 == j:
            block = em2[rows].reshape(k, t_len, n_lab)
            out_sorted[rows] = _decode(block, None, transitions).ravel()
        else:
            # bucket-local segment index: the bucket's first row belongs to
            # its first segment
            local_seg = seg_of_row[rows] - seg_of_row[pos]
            intra_b = intra[rows]
            pad = np.full((k, t_max, n_lab), _neg_sentinel(em.dtype), em.dtype)
            pad[local_seg, intra_b] = em2[rows]
            live = np.zeros((k, t_max), dtype=bool)
            live[local_seg, intra_b] = True
            labs = _decode(pad, live, transitions)
            out_sorted[rows] = labs[local_seg, intra_b]
        pos += width
        j = j2 + 1
    out = np.empty(n, dtype=np.int64)
    out[gather] = out_sorted
    return out


def decode(
    em: np.ndarray, starts: np.ndarray, transitions: np.ndarray,
    labels: list[str], index: pd.Index,
) -> pd.Series:
    """`viterbi_segments` → a Categorical Series over ``labels`` (categories
    in vocabulary order) aligned with ``index``: equality, `isin` and
    `rle_cluster_ids` then read integer codes, not strings."""
    flat = viterbi_segments(em, starts, transitions)
    return pd.Series(pd.Categorical.from_codes(flat, labels), index=index)


def _neg_sentinel(dtype: np.dtype):
    """A 'minus infinity' that survives a few additions without wrapping:
    integer emissions (the NER kernel ships doubled-weight int16 scores —
    half the memory traffic of f32 on a bandwidth-bound box) have no inf."""
    if np.issubdtype(dtype, np.integer):
        return np.iinfo(dtype).min >> 1
    return -np.inf


def _col_move(transitions: np.ndarray):
    """(move, scalar) for column-structured transitions, else (None, False).

    Column-structured: trans[p, c] == move[c] for every p != c — the max
    over predecessors then decomposes to max(top-other + move[c],
    dp[c] + diag[c]), O(L) per step instead of the O(L²) scores tensor.
    The sticky_transitions matrices are the constant-vector special case
    (`scalar` True keeps their best-other candidate at (B, 1) instead of
    materializing (B, L) — the NER hot loop); body_transitions is the
    genuine vector case (each label has its own entry cost)."""
    n_lab = transitions.shape[0]
    if n_lab < 2:
        return None, False
    probe = transitions.copy()
    idx = np.arange(n_lab)
    # overwrite the diagonal with another off-diagonal value from the same
    # column, then column-structure ⇔ every column is constant
    probe[idx, idx] = transitions[(idx + 1) % n_lab, idx]
    if not np.array_equiv(probe, probe[0:1, :]):
        return None, False
    move = probe[0].copy()
    return move, bool(np.all(move == move[0]))


# Row-tile budget for the general O(L²) step's (B, L, L) scores buffer.
# At serving scale (trained general transition matrices over a corpus) a
# full-batch buffer runs to hundreds of MB and every step streams it
# through memory three times (fill, argmax, gather); tiling rows so the
# buffer sits in cache turned a 32.7s sf0.1 trained-NER decode into the
# numbers in BENCH/TRAINER.md. Structured matrices never tile: a wide
# block's structured step materializes no (B, L, L) tensor, and a narrow
# block's buffer (≤ _GENERAL_MAX_CELLS cells) is far under the budget.
_GENERAL_TILE_BYTES = 4 << 20


def _general_rows(n_lab: int, itemsize: int) -> int:
    return max(256, _GENERAL_TILE_BYTES // (n_lab * n_lab * itemsize))


def _step_structured(dp, mv, scalar, diag, col, rows, neg):
    """One structured Viterbi step: (best_score, best_prev) before emission
    add / masking. Tie resolution replicates np.argmax's first-index rule.

    Materializes no (B, L) candidate tensors beyond the score update
    itself: the best/second-best predecessors are the top-2 of dp, every
    column's off-diagonal candidate is (m1, i1), and only the single i1
    column per row needs the (m2, i2) fallback — one fancy-index fix-up
    instead of three full `where` passes."""
    i1 = dp.argmax(axis=1)
    m1 = dp[rows, i1].copy()
    # top-2 via poke/restore: overwrite the winners in place, argmax again,
    # put the winners back — two (B,)-sized writes instead of a full (B, L)
    # copy per step (the copy dominated the step at line-model shapes,
    # B ≈ 50-150 · L = 12, where per-op overhead ≫ arithmetic)
    dp[rows, i1] = neg
    i2 = dp.argmax(axis=1).astype(np.int32)
    m2 = dp[rows, i2]
    dp[rows, i1] = m1
    self_val = dp + diag
    if scalar:
        m1b = (m1 + mv[0])[:, None]
        m2c = m2 + mv[0]
    else:
        m1b = m1[:, None] + mv[None, :]
        m2c = m2 + mv[i1]
    i1c = i1[:, None].astype(np.int32)
    take_self = (self_val > m1b) | ((self_val == m1b) & (col < i1c))
    best_prev = np.where(take_self, col, i1c)
    best = np.maximum(self_val, m1b)
    # per-row fix of the i1 column, where the off-diagonal candidate is
    # the runner-up (m2, i2) instead of (m1, i1)
    sv1 = self_val[rows, i1]
    ts1 = (sv1 > m2c) | ((sv1 == m2c) & (i1 < i2))
    best_prev[rows, i1] = np.where(ts1, i1.astype(np.int32), i2)
    best[rows, i1] = np.maximum(sv1, m2c)
    return best, best_prev


def _decode(
    emis: np.ndarray, live: np.ndarray | None, transitions: np.ndarray
) -> np.ndarray:
    """Batched Viterbi over a (B, T, L) block → (B, T) labels.

    live (B, T) marks the real cells of a padded block, a prefix of each
    row; None means every cell is live. Padding lanes never move dp, and the
    backtrace never reads their backpointers; padding positions of the
    result hold arbitrary values (callers gather only live cells). Steps
    below the shortest live length mask nothing — every lane is alive —
    and factor-2 buckets guarantee that is at least half of all steps (all
    of them for a single-length block).

    The step is picked once per block. `_step_structured` (top-2 of dp +
    one fix-up column) serves constant-move (sticky) and column-structured
    (body model: per-label entry costs) matrices on blocks wider than
    _GENERAL_MAX_CELLS B·L² cells; every other block takes the general
    O(L²) scores step. A narrow block is call-bound — the general step's 3
    numpy calls cost 13–30 µs at L=12, B ≤ 16, the structured step's ~20
    cost 50–65 µs — and a whale's B=2 block runs ~20k such steps. Tie
    resolution is argmax-first-index in both."""
    b, max_t, n_lab = emis.shape
    rows = np.arange(b)
    # accumulator: _acc_dtype, except that int16 emissions keep an int16 dp
    # when a per-block bound proves it cannot wrap — |dp| ≤ max_t · (max|em|
    # + max|trans|), checked against the sentinel headroom (2^14). Short
    # single-length blocks (the NER corpus shape) almost always pass and
    # keep the int16 dp bandwidth win; padded blocks fail on their sentinel
    # cells and accumulate in int32. The bound costs two allocation-free
    # reduction passes over a block about to be read max_t times.
    acc = _acc_dtype(emis.dtype)
    if emis.dtype == np.int16:
        per_step = max(int(emis.max()), -int(emis.min()), 0) + max(
            int(np.max(transitions)), -int(np.min(transitions)), 0
        )
        if max_t * per_step < (1 << 14) - 64:
            acc = emis.dtype
    transitions = np.asarray(transitions, dtype=acc)
    mv, scalar = (
        _col_move(transitions)
        if b * n_lab * n_lab > _GENERAL_MAX_CELLS
        else (None, False)
    )

    if mv is None:
        # general-transition blocks decode in row tiles (rows are
        # independent; bit-identical to the unsplit decode) so the per-step
        # scores buffer stays cache-resident — see _GENERAL_TILE_BYTES
        tile = _general_rows(n_lab, acc.itemsize)
        if b > tile:
            out = np.empty((b, max_t), dtype=np.int64)
            for lo in range(0, b, tile):
                hi = lo + tile
                tile_live = None if live is None else live[lo:hi]
                out[lo:hi] = _decode(emis[lo:hi], tile_live, transitions)
            return out
        # (B, dest, prev) layout: argmax runs over the CONTIGUOUS last axis
        # — ~25% faster than the strided middle-axis argmax, with an
        # identical first-predecessor tie-break (randomized-tie pytest).
        # Preallocated scores buffer + direct fancy gather (np.take_along_axis
        # builds its index tuple in Python per call — profiled at ~0.8s over
        # a 54k-step cascade decode)
        trans_t = np.ascontiguousarray(transitions.T)[None, :, :]
        scores = np.empty((b, n_lab, n_lab), dtype=acc)
        rows_ix = rows[:, None]
        cols_ix = np.arange(n_lab)[None, :]

        def step(dp):
            np.add(dp[:, None, :], trans_t, out=scores)
            best_prev = scores.argmax(axis=2)
            return scores[rows_ix, cols_ix, best_prev], best_prev
    else:
        diag = np.diag(transitions)[None, :]
        col = np.arange(n_lab, dtype=np.int32)[None, :]
        neg = _neg_sentinel(acc)

        def step(dp):
            return _step_structured(dp, mv, scalar, diag, col, rows, neg)

    min_len = max_t if live is None else int(live.sum(axis=1).min())
    dp = emis[:, 0, :].astype(acc, copy=True)
    # int8 backpointers when labels fit (all current models: L ≤ 27):
    # back is the largest tensor the DP touches ((B, T, L), written every
    # step, read back once) — quartering its bytes matters on a
    # bandwidth-bound box. Values are label indices < 128; identical.
    back = np.empty(
        (b, max_t, n_lab), dtype=np.int8 if n_lab <= 127 else np.int32
    )
    for t in range(1, max_t):
        best, back[:, t, :] = step(dp)
        ndp = best + emis[:, t, :]
        dp = ndp if t < min_len else np.where(live[:, t, None], ndp, dp)

    # backtrace: a row whose segment ended holds its final label
    labels = np.empty((b, max_t), dtype=np.int64)
    cur = dp.argmax(axis=1)
    labels[:, max_t - 1] = cur
    for t in range(max_t - 1, 0, -1):
        prev = back[rows, t, cur]
        cur = prev if t < min_len else np.where(live[:, t], prev, cur)
        labels[:, t - 1] = cur
    return labels
