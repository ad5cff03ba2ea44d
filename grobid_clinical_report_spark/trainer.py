"""Distributed sequence-labeler TRAINING — the reference's mode-0 analog.

Reference: `MedicalReportTrainerRunner.java:25,134-143` — mode 0 ("train")
on all 11 `*Trainer` classes delegates to Wapiti/DeLFT CRF training over
the generated supervision files (`doc/Training-the-medical-report-
models.md:41-77`). Rounds 2-7 built the other two thirds of that loop —
supervision generation (A2, `pipeline.run_training*`) and evaluation (A5,
`evaluate.py`); this module closes it: fit the linear-chain weights that
`kernels/viterbi.py` decodes with, from a supervision corpus, on Spark.

Spark-first redesign, not a Wapiti port: mini-batch STRUCTURED PERCEPTRON
with iterative parameter mixing (McDonald, Hall & Mann, NAACL 2010 —
"Distributed Training Strategies for the Structured Perceptron", public).
The perceptron trains through the SAME Viterbi kernel the inference path
uses — no forward-backward partition function, no gradient numerics — and
its distributed form maps exactly onto Spark: broadcast the weight vector
(≈2k integers), run one local perceptron pass per shard
(one `mapInArrow` over the shard-partitioned packed rows), average the
per-shard weights, repeat.

Integer-exact distributed semantics (the property every oracle in this
repo is built on): weights are kept P-SCALED — `W_stored = P · W_model`
where P is the shard count. Decoding with `W_stored` is argmax-identical
to decoding with `W_model` (uniform positive scaling preserves every
Viterbi comparison), local updates apply ±P per feature occurrence (so
local dynamics match a ±1 update on `W_model`), and the parameter-mixing
average `W ← W + (Σ_p Δ_p)/P` divides a sum of multiples of P — EXACT
int64 division, no floats anywhere, so the distributed run is bit-equal
to its serial twin (`train_local`, pytest-pinned) and deterministic
across partitionings of the same shard assignment.

Scale shape (100 TB corpus):
- featurize ONCE: one zero-shuffle mapInArrow pass packs each token's
  boolean feature vector into a single int64 bitmask (≤63 features) —
  the training set is ~17 bytes/token and is what every epoch scans.
- per epoch: one shuffle of that compact table onto P shards (at
  production scale the materialized training set would be written
  BUCKETED by shard, making the per-epoch exchange a no-op; the local
  bench does not need it), P map tasks, and a P-row collect of weight
  deltas (≈2 KB each). The model never grows with the corpus.
- mini-batches (default 32 docs) keep the per-shard pass vectorized:
  one emission matmul + one `viterbi_segments` call per batch instead of
  per document; `batch_docs=1` recovers the classic online perceptron.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .kernels.labels import NER_LABELS, label_index
from .kernels.segments import seg_starts
from .kernels.subparsers import line_starts, tokens_of
from .kernels.viterbi import decode, viterbi_segments

_IX = label_index(NER_LABELS)
_L = len(NER_LABELS)

# Ordered boolean feature basis: exactly the token_features() columns the
# hand-built NER emission model draws on (kernels/subparsers.py:37-166 —
# the FeaturesVectorMedicalNER analog), plus an always-on bias. The order
# is part of the trained-model contract (bit i of the packed mask).
TRAIN_FEATURES: tuple[str, ...] = (
    "is_date", "is_time", "is_num", "is_punct", "is_period", "is_cap",
    "is_allcaps", "is_stop", "is_medic_title", "is_patient_title",
    "is_role", "is_org", "is_city", "is_street", "is_postcode", "is_unit",
    "is_side", "is_month", "is_initial", "prev_abbrev", "prev_is_num",
    "prev_is_org", "prev_is_month", "next_is_month", "next_is_cap",
    "near_fax_kw", "near_tel_kw", "is_sent_period",
    "lex_anatomy", "lex_device", "lex_living", "lex_medicament",
    "lex_pathology", "lex_physiology", "lex_procedure", "lex_substance",
    "lex_symptom",
    "suf_drug", "suf_patho", "suf_city", "suf_profession",
    "near_medicament",
    "bias",
)
_NF = len(TRAIN_FEATURES)
assert _NF <= 63, "packed feature mask must fit a signed int64"
_SHIFTS = np.arange(_NF, dtype=np.int64)


class ModelSpec:
    """One trainable sequence model: its label vocabulary, its surrogate
    labeler (the distillation gold source), and its ordered boolean
    feature basis. The bit LAYOUT is per-spec — adding a feature to one
    model never shifts another model's packed masks (the NER trajectory
    oracles depend on that).

    The reference trains 11 models through one runner
    (`MedicalReportTrainerRunner.java:60-131` dispatching per-model
    `*Trainer` classes over a shared Wapiti engine); this is the same
    shape — every token-level model that draws on the shared
    `token_features` basis trains through the same kernel. Every feature
    but the trailing 'bias' names a `token_features` column, so a
    labeler's word cues are packed from the columns it reads."""

    def __init__(self, name, labels, features, labeler):
        assert len(features) <= 63, name
        assert features[-1] == "bias", name
        self.name = name
        self.labels = list(labels)
        self.features = tuple(features)
        self.labeler = labeler
        self.n_feats = len(self.features)
        self.n_labels = len(self.labels)


def _ner_spec() -> ModelSpec:
    from .kernels import ner as ner_k

    return ModelSpec(
        "fr-medical-ner", NER_LABELS, TRAIN_FEATURES,
        ner_k.label_ner_tokens,
    )


def _medic_spec() -> ModelSpec:
    """The medic sub-model (MedicParser.java:103-228 analog): the NER's
    token basis plus the one column only its labeler reads (has_at, the
    '@' e-mail cue)."""
    from .kernels.labels import MEDIC_LABELS
    from .kernels.subparsers import parse_medic_tokens

    return ModelSpec(
        "medic", MEDIC_LABELS,
        TRAIN_FEATURES[:-1] + ("has_at", "bias"),
        parse_medic_tokens,
    )


def _patient_spec() -> ModelSpec:
    """The patient sub-model (PatientParser.java:147-182 analog): the NER's
    token basis plus the five cue columns only its labeler reads (birth
    marker + trailing article, 'ans' age idiom, IPP/NIP id keywords, sex
    keywords)."""
    from .kernels.labels import PATIENT_LABELS
    from .kernels.subparsers import parse_patient_tokens

    return ModelSpec(
        "patient", PATIENT_LABELS,
        TRAIN_FEATURES[:-1] + (
            "is_born_marker", "is_le_after_born", "is_ans_cue",
            "is_idno_kw", "is_sex_kw", "bias",
        ),
        parse_patient_tokens,
    )


SPECS = {
    "fr-medical-ner": _ner_spec,
    "medic": _medic_spec,
    "patient": _patient_spec,
}

TS_DDL = (
    "doc_id string, seq array<int>, tok_idx array<int>, "
    "feats array<bigint>, gold array<int>, starts array<int>"
)


def pack_features(
    toks: pd.DataFrame, features: tuple[str, ...] = TRAIN_FEATURES
) -> np.ndarray:
    """Token feature frame → one int64 bitmask per token (bit i ⇔
    features[i]). 'bias' is always on; every other bit is the boolean
    token_features column of that name."""
    bits = np.zeros(len(toks), dtype=np.int64)
    for i, name in enumerate(features):
        on = True if name == "bias" else toks[name].to_numpy()
        bits |= np.asarray(on, dtype=np.int64) << np.int64(i)
    return bits


def unpack_features(feats: np.ndarray, n_feats: int = _NF) -> np.ndarray:
    """(n,) int64 bitmasks → (n, F) 0/1 int64 design matrix."""
    shifts = np.arange(n_feats, dtype=np.int64)
    return (feats[:, None] >> shifts[None, :]) & np.int64(1)


def _unpack_u8(feats: np.ndarray, n_feats: int = _NF) -> np.ndarray:
    """(n,) int64 bitmasks → (n, F) 0/1 uint8 design matrix — 1/8 the
    memory traffic of the int64 unpack and ~8× faster (unpackbits is one
    C pass; the shift-and-mask broadcast writes 344 bytes/token). The
    byte view assumes little-endian (x86/arm); the portable shift path
    is the fallback."""
    import sys as _sys

    if _sys.byteorder != "little":
        return unpack_features(feats, n_feats).astype(np.uint8)
    return np.unpackbits(
        feats.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
    )[:, :n_feats]


# numpy's int64 matmul is compiled C loops, not BLAS — profiled as the
# single biggest block of the shard pass (≈4s of 8.5s on an 845k-token
# shard). float64 dgemm computes the same dot products EXACTLY as long as
# every partial sum stays below 2^53 (IEEE-754 integers are exact there),
# which for a 0/1 design matrix means max|W| · (F+1) < 2^53 — checked at
# runtime, int64 fallback above the bound (unreachable in practice:
# weights would need ~10^10 updates).
_F64_EXACT = np.int64(1) << np.int64(53)


_F32_EXACT = np.int64(1) << np.int64(24)


def _matmul_exact(X: np.ndarray, W: np.ndarray) -> np.ndarray:
    """X (n, F) small-int · W (F, L) int64 → int64, BLAS-fast and exact
    (sgemm below the 2^24 partial-sum bound, dgemm below 2^53, compiled
    int64 loops above)."""
    bound = (np.abs(W).max() + 1) * max(np.abs(X).max() + 1, 1) * (X.shape[1] + 1)
    if bound < _F32_EXACT:
        return np.rint(
            X.astype(np.float32) @ W.astype(np.float32)
        ).astype(np.int64)
    if bound < _F64_EXACT:
        return np.rint(
            X.astype(np.float64) @ W.astype(np.float64)
        ).astype(np.int64)
    return X.astype(np.int64) @ W


def _emissions(
    X8: np.ndarray, W: np.ndarray, t_abs: int, t_max: int
) -> np.ndarray:
    """Exact integer emission matrix X8·W with the narrowest safe dtype.

    Tiered: float32 sgemm (exact while every partial sum < 2^24 — 0/1
    design rows make that max|W|·(F+1)) beats float64 dgemm 2× and the
    int64 matmul ~3×; the result lands in int32 when the VITERBI bound
    t_max·(max|em| + max|T|) < 2^31 holds — the DP accumulates in the
    emission dtype (kernels/viterbi._acc_dtype trusts int32 emissions
    unconditionally, so THIS caller carries the overflow proof), halving
    the decode's memory traffic. Every tier is bit-exact; only speed and
    width differ."""
    n_f = W.shape[0]
    w_abs = int(np.abs(W).max(initial=0))
    em_abs = w_abs * n_f
    if (w_abs + 1) * (n_f + 1) < _F32_EXACT:
        emf = X8.astype(np.float32) @ W.astype(np.float32)
        if t_max * (em_abs + t_abs + 1) < (1 << 31):
            return np.rint(emf).astype(np.int32)
        return np.rint(emf).astype(np.int64)
    return _matmul_exact(X8, W)


def _trained_emissions(
    feats: np.ndarray, starts: np.ndarray, W: np.ndarray, T: np.ndarray
) -> np.ndarray:
    """Packed masks + segment starts → the trained-weights emissions that
    `predict` and `run_trained_ner` decode: _emissions plus a corpus-decode
    int32 narrowing pass. Trained weights usually overflow the sgemm tier
    (so _emissions lands int64), but the DP bound over the ACTUAL emission
    extrema often still fits int32 — halving the general-transition
    decode's memory traffic. Training's mini-batch decodes measured and
    rejected the extra pass (their buffers sit in cache either way); the
    corpus-scale serve/eval decode is bandwidth-bound, where it pays
    (BENCH/TRAINER.md)."""
    t_abs = int(np.abs(T).max(initial=0))
    t_max = int(np.diff(np.append(starts, len(feats))).max(initial=0))
    em = _emissions(_unpack_u8(feats, W.shape[0]), W, t_abs, t_max)
    if em.dtype == np.int64 and len(em):
        em_abs = max(int(em.max()), -int(em.min()), 0)
        if t_max * (em_abs + t_abs + 1) < (1 << 31):
            em = em.astype(np.int32)
    return em


_BLAS_PINNED = False


def _blas_single_thread() -> None:
    """Pin the in-process OpenBLAS pool to ONE thread before the dgemm path
    runs. shard_pass/predict execute inside Spark Python workers that are
    already the box's parallelism unit (one per core); left alone, numpy's
    OpenBLAS spins its own pool per worker and a 32-worker stage
    oversubscribes the box ~32× (measured on the 845k-token profile shard:
    122s process-CPU multi-threaded vs 5.4s pinned, for the SAME 4.7s
    wall). OMP_NUM_THREADS only works if set before the library loads, so
    use the runtime symbol; silently no-op on non-OpenBLAS builds (the
    int64 fallback path never multithreads anyway)."""
    global _BLAS_PINNED
    if _BLAS_PINNED:
        return
    _BLAS_PINNED = True
    import ctypes
    import glob
    import os

    libdir = os.path.join(os.path.dirname(np.__file__), "..", "numpy.libs")
    for so in glob.glob(os.path.join(libdir, "libopenblas*.so*")):
        try:
            lib = ctypes.CDLL(so)  # already loaded → same handle
        except OSError:
            continue
        for sym in ("openblas_set_num_threads64_",
                    "openblas_set_num_threads"):
            fn = getattr(lib, sym, None)
            if fn is not None:
                fn(1)
                return


def build_training_set(docs: DataFrame, spec: ModelSpec | None = None) -> DataFrame:
    """Interleaved-span corpus → one compact training row per document:
    (doc_id, seq[], tok_idx[], feats[] packed int64, gold[] label idx,
    starts[] per-line segment offsets). Zero-shuffle mapInArrow over the
    same `pipeline._prepared` batch loop as `pipeline.run_mode`.

    Gold labels come from the surrogate labeler (`label_ner_tokens`) — the
    distillation refit of SURVEY.md §7.0: the trained linear model learns
    to reproduce the decoder it will replace. `join_supervision` swaps in
    external gold (e.g. the Quaero-analog import) instead.
    """
    from .pipeline import _content_lines, _prepared

    spec = spec or _ner_spec()
    labeler, features = spec.labeler, spec.features

    def mapper(batches):
        for doc_ids, lines in _prepared(batches):
            if lines.empty:
                continue
            toks = tokens_of(_content_lines(lines))
            if toks.empty:
                continue
            # the labeler's codes index its vocabulary, spec.labels
            gold = labeler(toks).cat.codes.to_numpy().astype(np.int32)
            feats = pack_features(toks, features)
            doc = toks["doc_id"].to_numpy()
            first = seg_starts(doc)
            codes, dstarts = doc[first], np.append(first, len(doc))
            # per-line segment starts, made doc-relative fully vectorized:
            # global start rows → owning doc via searchsorted → subtract
            # the doc's first row; list offsets via bincount.
            g_starts = line_starts(toks)
            doc_of = np.searchsorted(dstarts[:-1], g_starts, side="right") - 1
            rel = (g_starts - dstarts[doc_of]).astype(np.int32)
            per_doc = np.bincount(doc_of, minlength=len(codes))
            s_offsets = np.concatenate(([0], np.cumsum(per_doc))).astype(
                np.int32
            )
            t_offsets = dstarts.astype(np.int32)

            def lst(values: np.ndarray, offs: np.ndarray, typ):
                return pa.ListArray.from_arrays(
                    pa.array(offs, type=pa.int32()),
                    pa.array(values, type=typ),
                )

            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.asarray(doc_ids)[codes], type=pa.string()),
                    lst(
                        toks["seq"].to_numpy().astype(np.int32),
                        t_offsets, pa.int32(),
                    ),
                    lst(
                        toks["tok_idx"].to_numpy().astype(np.int32),
                        t_offsets, pa.int32(),
                    ),
                    lst(feats, t_offsets, pa.int64()),
                    lst(gold, t_offsets, pa.int32()),
                    lst(rel, s_offsets, pa.int32()),
                ],
                names=["doc_id", "seq", "tok_idx", "feats", "gold", "starts"],
            )

    return docs.mapInArrow(mapper, schema=TS_DDL)


def join_supervision(
    ts: DataFrame, sup: DataFrame, labels: list[str] = NER_LABELS
) -> DataFrame:
    """Replace the distilled gold arrays with labels from an external
    supervision table (doc_id, seq, tok_idx, label) — e.g. the output of
    `corpus_import.import_ner_supervision`. Tokens absent from the
    supervision keep label 'other'. One doc_id-keyed shuffle each side;
    the rebuilt array is ordered by the token's position in the original
    packed row, so feature/label alignment is exact by construction."""
    label_arr = "array(" + ",".join(f"'{x}'" for x in labels) + ")"
    per_tok = sup.selectExpr(
        "doc_id", "seq", "tok_idx",
        f"cast(array_position({label_arr}, label) - 1 as int) as g",
    )
    exploded = ts.selectExpr(
        "doc_id", "posexplode(arrays_zip(seq, tok_idx)) as (p, z)"
    ).selectExpr("doc_id", "p", "z.seq as seq", "z.tok_idx as tok_idx")
    rejoined = (
        exploded.join(per_tok, ["doc_id", "seq", "tok_idx"], "left")
        .selectExpr(
            "doc_id", "p",
            f"cast(coalesce(g, {labels.index('other')}) as int) as g",
        )
        .groupBy("doc_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(p, g))),"
                " s -> s.g) as gold2"
            )
        )
    )
    return ts.drop("gold").join(rejoined, "doc_id").withColumnRenamed(
        "gold2", "gold"
    )


# ---------------------------------------------------------------------------
# The per-shard pass (pure numpy over Arrow buffers — runs inside the
# mapInArrow epoch worker AND inside the serial twin, so distributed-vs-local
# parity tests the Spark plumbing, never the arithmetic).
# ---------------------------------------------------------------------------


def _flat_packed(rows: pa.Table | pa.RecordBatch):
    """Packed training rows → (feats, gold, tok_off, starts): every row's
    token masks and gold labels flattened, the per-row token offsets
    (len rows + 1) and every segment start as a global token position —
    Arrow list kernels over the buffers, no per-row Python objects."""
    tok_off = np.zeros(rows.num_rows + 1, dtype=np.int64)
    np.cumsum(
        pc.list_value_length(rows.column("feats")).to_numpy(),
        out=tok_off[1:],
    )
    starts_col = rows.column("starts")
    starts = (
        pc.list_flatten(starts_col).to_numpy().astype(np.int64)
        + tok_off[pc.list_parent_indices(starts_col).to_numpy()]
    )
    feats = pc.list_flatten(rows.column("feats")).to_numpy()
    gold = pc.list_flatten(rows.column("gold")).to_numpy().astype(np.int64)
    return feats, gold, tok_off, starts


def shard_pass(
    shard: pa.Table,
    W: np.ndarray,
    T: np.ndarray,
    step: int,
    batch_docs: int,
) -> tuple[np.ndarray, np.ndarray, int, int, int]:
    """One mini-batch structured-perceptron epoch over one shard's docs
    (sorted by doc_id — update order is part of the semantics). Returns
    (W_local, T_local, n_updates, n_tok, n_correct); n_correct counts
    decode-time token agreement (online accuracy, measured before each
    mini-batch's own update lands).

    Update rule per mismatched doc (canonical whole-sequence Φ difference):
    emissions gather ±step at mismatched positions only (equal positions
    cancel exactly); transitions gather ±step over ALL the doc's bigrams
    for gold vs predicted paths (equal bigrams cancel exactly) — computed
    as two bincounts on flattened (prev·L + cur) pair codes."""
    _blas_single_thread()
    W = W.copy()
    T = T.copy()
    n_updates = n_tok = n_correct = 0
    # Arrow's sort is stable and compares strings bytewise (= code point
    # order): the same doc order as a stable numpy argsort
    shard = shard.take(pc.sort_indices(shard, [("doc_id", "ascending")]))
    feats, gold, tok_off, starts = _flat_packed(shard)
    n_lab = T.shape[0]
    for lo in range(0, shard.num_rows, batch_docs):
        hi = min(lo + batch_docs, shard.num_rows)
        # the mini-batch is one contiguous token slice; each row's starts
        # ascend from 0 (build_training_set), so the global starts are
        # sorted and the batch's segments are one contiguous run of them
        a, b = tok_off[lo], tok_off[hi]
        s_lo, s_hi = np.searchsorted(starts, (a, b))
        seg = starts[s_lo:s_hi] - a
        g = gold[a:b]
        lens = np.diff(tok_off[lo : hi + 1])
        X = _unpack_u8(feats[a:b], W.shape[0])
        # (an astype-narrowing of an already-built int64 em was measured
        # and rejected — 6.4s vs 5.2s on the profile shard; _emissions
        # instead lands DIRECTLY in the narrowest provably-safe dtype out
        # of the sgemm, no extra pass)
        em = _emissions(X, W, int(np.abs(T).max(initial=0)), int(lens.max()))
        pred = viterbi_segments(em, seg, T)
        mism = pred != g
        n_tok += len(g)
        n_correct += int(len(g) - mism.sum())
        if not mism.any():
            continue
        # docs with at least one mismatched position get the full update
        doc_of_row = np.repeat(np.arange(hi - lo), lens)
        bad_docs = np.unique(doc_of_row[mism])
        n_updates += len(bad_docs)
        rows_mask = np.flatnonzero(mism)
        Xm = X[rows_mask]
        G = np.zeros((len(rows_mask), n_lab), dtype=np.int64)
        np.add.at(G, (np.arange(len(rows_mask)), g[rows_mask]), step)
        np.add.at(G, (np.arange(len(rows_mask)), pred[rows_mask]), -step)
        W += _matmul_exact(Xm.T, G)
        # transition counts over the bad docs' bigram positions
        in_bad = np.isin(doc_of_row, bad_docs)
        is_start = np.zeros(len(g), dtype=bool)
        is_start[seg] = True
        bigram = in_bad & ~is_start
        p = np.flatnonzero(bigram)
        if len(p):
            cg = np.bincount(
                g[p - 1] * n_lab + g[p], minlength=n_lab * n_lab
            )
            cp = np.bincount(
                pred[p - 1] * n_lab + pred[p], minlength=n_lab * n_lab
            )
            T += step * (cg - cp).reshape(n_lab, n_lab)
    return W, T, n_updates, n_tok, n_correct


_EPOCH_DDL = (
    "shard long, n_docs long, n_updates long, n_tok long, n_correct long, "
    "w_delta array<long>, t_delta array<long>"
)


def _epoch_fn(W: np.ndarray, T: np.ndarray, step: int, batch_docs: int):
    """mapInArrow epoch worker: each input PARTITION holds whole shards
    (train() repartitions by the shard column once and persists), so the
    worker groups by shard locally and emits one delta row per shard.
    Per-shard results never depend on which partition carried the shard —
    bit-equal to a per-shard groupBy epoch, minus the per-epoch shuffle."""
    wf = W.copy()
    tf = T.copy()

    def fn(batches):
        # Arrow hands the partition over as ≤maxRecordsPerBatch CHUNKS; a
        # shard spanning a chunk boundary must still run as ONE pass
        # (chunk-wise passes would silently reset the local weights
        # mid-shard — caught at sf0.1 where the trajectory shifted), so
        # collect the partition before grouping. Memory is one partition
        # of ~17-byte/token packed rows.
        chunks = [b for b in batches if b.num_rows]
        if not chunks:
            return
        whole = pa.Table.from_batches(chunks)
        shard_col = whole.column("shard")
        for shard in np.unique(shard_col.to_numpy()):
            part = whole.filter(pc.equal(shard_col, shard))
            w2, t2, n_up, n_tok, n_ok = shard_pass(
                part, wf, tf, step, batch_docs
            )
            yield pa.RecordBatch.from_pydict(
                {
                    "shard": [int(shard)],
                    "n_docs": [part.num_rows],
                    "n_updates": [n_up],
                    "n_tok": [n_tok],
                    "n_correct": [n_ok],
                    "w_delta": [(w2 - wf).ravel()],
                    "t_delta": [(t2 - tf).ravel()],
                }
            )

    return fn


def with_shard(ts: DataFrame, shards: int) -> DataFrame:
    """Deterministic value-based shard assignment (pmod of xxhash64 — no
    dependence on physical partitioning)."""
    return ts.withColumn(
        "shard", F.expr(f"pmod(xxhash64(doc_id), {shards})")
    )


def train(
    ts: DataFrame,
    epochs: int = 3,
    shards: int = 4,
    batch_docs: int = 32,
    spec: ModelSpec | None = None,
) -> tuple[np.ndarray, np.ndarray, list[dict]]:
    """Iterative parameter mixing over `shards` shards for `epochs` epochs.

    `ts` must be packed under `spec` (default: the NER spec, as in
    `build_training_set`), which fixes the weight shapes. Returns
    (W, T, metrics) with W (F, L) / T (L, L) int64 P-SCALED weights
    (P = number of non-empty shards; decode-equivalent to W/P) and one
    metrics dict per epoch: n_updates (docs that triggered an update),
    token_acc_milli (online decode accuracy ·1000, integer division).

    The input is shard-partitioned once and persisted; epochs then run
    shuffle-free (mapInArrow over co-located shards). Callers training
    at corpus scale should still materialize the packed table first
    (~17 bytes/token) so the featurization pass never re-runs; at
    petabyte scale, write it BUCKETED by `shard` and the one-time
    repartition vanishes too.

    Picking `shards`: more shards balance better across cores (hash
    collisions in the shard→partition map leave some cores idle at
    shards == cores) but mix more conservatively — measured at sf0.1
    (20k docs / 18.2M tokens, local[32]): 32 shards = 16.4s/epoch,
    epoch-2 online acc 972 milli; 128 shards = 10.8s/epoch, acc 694
    (more epochs needed to the same accuracy). 4×cores is a reasonable
    wall-clock default when epochs are cheap; cores (or fewer) when
    per-epoch convergence matters more than stragglers."""
    spec = spec or _ner_spec()
    n_feats, n_labels = spec.n_feats, spec.n_labels
    # shard-partitioned ONCE and persisted: every epoch then reads whole
    # shards co-located in their partitions (mapInArrow + local grouping)
    # instead of re-shuffling the packed table per epoch — the in-session
    # realization of the bucketed production layout the docstring names.
    sharded = with_shard(ts, shards).repartition(shards, "shard").persist()
    p_eff = sharded.select("shard").distinct().count()
    if p_eff == 0:
        sharded.unpersist()
        raise ValueError("empty training set")
    step = p_eff
    W = np.zeros((n_feats, n_labels), dtype=np.int64)
    T = np.zeros((n_labels, n_labels), dtype=np.int64)
    metrics: list[dict] = []
    import time as _time

    for epoch in range(epochs):
        _t0 = _time.time()
        rows = sharded.mapInArrow(
            _epoch_fn(W, T, step, batch_docs), schema=_EPOCH_DDL
        ).collect()
        dW = np.zeros(n_feats * n_labels, dtype=np.int64)
        dT = np.zeros(n_labels * n_labels, dtype=np.int64)
        n_up = n_tok = n_ok = 0
        for r in rows:
            dW += np.asarray(r["w_delta"], dtype=np.int64)
            dT += np.asarray(r["t_delta"], dtype=np.int64)
            n_up += r["n_updates"]
            n_tok += r["n_tok"]
            n_ok += r["n_correct"]
        # every local delta entry is a multiple of step=p_eff → exact
        assert not (dW % p_eff).any() and not (dT % p_eff).any()
        W += (dW // p_eff).reshape(n_feats, n_labels)
        T += (dT // p_eff).reshape(n_labels, n_labels)
        metrics.append(
            {
                "epoch": epoch,
                "n_updates": int(n_up),
                "token_acc_milli": int(1000 * n_ok // max(n_tok, 1)),
                # wall-clock, for bench/ladder instrumentation only — the
                # oracle-checked query projects it away (non-deterministic)
                "wall_sec": round(_time.time() - _t0, 3),
            }
        )
    sharded.unpersist()
    return W, T, metrics


def train_local(
    ts_pdf: pd.DataFrame,
    epochs: int = 3,
    batch_docs: int = 32,
    spec: ModelSpec | None = None,
) -> tuple[np.ndarray, np.ndarray, list[dict]]:
    """Serial twin of `train` over a collected training set WITH its shard
    column: same shard passes, same mixing arithmetic, no Spark. Exists so
    tests can pin distributed == local bit-equality (the Spark run adds
    only plumbing — grouping, delta transport — never arithmetic)."""
    spec = spec or _ner_spec()
    rows = pa.Table.from_pandas(ts_pdf, preserve_index=False)
    shards_present = sorted(ts_pdf["shard"].unique())
    p_eff = len(shards_present)
    step = p_eff
    W = np.zeros((spec.n_feats, spec.n_labels), dtype=np.int64)
    T = np.zeros((spec.n_labels, spec.n_labels), dtype=np.int64)
    metrics: list[dict] = []
    for epoch in range(epochs):
        dW = np.zeros_like(W)
        dT = np.zeros_like(T)
        n_up = n_tok = n_ok = 0
        for s in shards_present:
            part = rows.filter(pc.equal(rows.column("shard"), s))
            w2, t2, u, t_n, ok = shard_pass(part, W, T, step, batch_docs)
            dW += w2 - W
            dT += t2 - T
            n_up += u
            n_tok += t_n
            n_ok += ok
        assert not (dW % p_eff).any() and not (dT % p_eff).any()
        W += dW // p_eff
        T += dT // p_eff
        metrics.append(
            {
                "epoch": epoch,
                "n_updates": int(n_up),
                "token_acc_milli": int(1000 * n_ok // max(n_tok, 1)),
            }
        )
    return W, T, metrics


def train_split_eval(
    ts: DataFrame,
    split_milli: int = 800,
    epochs: int = 3,
    shards: int = 4,
    batch_docs: int = 32,
    spec: ModelSpec | None = None,
) -> tuple[DataFrame, list[dict], np.ndarray, np.ndarray]:
    """Reference trainer mode 2 — "split, train and evaluate"
    (`MedicalReportTrainerRunner.java:25,141`, the `-s` split ratio fed to
    the upstream `AbstractTrainer.runSplitTrainingEvaluation`): partition
    the packed corpus into train/holdout by a deterministic document hash
    (`pmod(xxhash64(doc_id), 1000) < split_milli` → train), fit on the
    train fraction, decode the HELD-OUT documents with the trained
    weights, and return their token-level P/R/F1 — generalization, not
    memorization (`train_ner_eval` scores on the training docs). The
    split is a filter on the already-featurized table (no second
    featurization pass, no shuffle) and is reproducible across cluster
    sizes — the same property the shard assignment relies on."""
    from .evaluate import token_prf

    if not 0 < split_milli < 1000:
        raise ValueError(f"split_milli must be in (0, 1000): {split_milli}")
    bucket = F.pmod(F.xxhash64("doc_id"), F.lit(1000))
    train_part = ts.where(bucket < split_milli)
    holdout = ts.where(bucket >= split_milli)
    W, T, metrics = train(
        train_part, epochs=epochs, shards=shards, batch_docs=batch_docs,
        spec=spec,
    )
    return token_prf(predict(holdout, W, T, spec)), metrics, W, T


def train_nfold_eval(
    ts: DataFrame,
    n_folds: int = 3,
    epochs: int = 3,
    shards: int = 4,
    batch_docs: int = 32,
    spec: ModelSpec | None = None,
) -> DataFrame:
    """Reference trainer mode 3 — n-fold cross-validation
    (`MedicalReportTrainerRunner.java:25,143`, the `-n` fold count fed to
    the upstream n-fold evaluation): assign each document to a fold by
    hash (`pmod(xxhash64(doc_id), n_folds)`), train a model on the other
    n−1 folds, decode the held-out fold with it, and return one micro
    P/R/F1 row per fold — every document is evaluated exactly once, by a
    model that never saw it. (`evaluate.nfold_micro` folds an EXISTING
    prediction column; this trains per fold, the reference's actual
    mode-3 loop.)

    The fold loop is driver-side (n_folds is a handful) but each
    iteration is a fully distributed train + decode; the per-fold eval
    plans are unioned, so the result stays a DataFrame."""
    from functools import reduce

    from .evaluate import token_prf

    if n_folds < 2:
        raise ValueError(f"n_folds must be >= 2: {n_folds}")
    fold = F.pmod(F.xxhash64("doc_id"), F.lit(n_folds))
    per_fold = []
    for k in range(n_folds):
        W, T, _ = train(
            ts.where(fold != k), epochs=epochs, shards=shards,
            batch_docs=batch_docs, spec=spec,
        )
        per_fold.append(
            token_prf(predict(ts.where(fold == k), W, T, spec))
            .where(F.col("label") == "__micro__")
            .select(F.lit(k).alias("fold"), "*")
            .drop("label")
        )
    return reduce(DataFrame.unionByName, per_fold)


def predict(
    ts: DataFrame, W: np.ndarray, T: np.ndarray,
    spec: ModelSpec | None = None,
) -> DataFrame:
    """Decode a training-set table packed under `spec` (default NER) with
    trained weights → per-token (doc_id, seq, tok_idx, gold, pred) label
    strings — the shape `evaluate.token_prf` consumes. Map-only (weights
    ship in the closure, ≈2k ints)."""
    wf = W.copy()
    tf = T.copy()
    labels = pa.array((spec or _ner_spec()).labels, type=pa.string())

    def fn(batches):
        _blas_single_thread()
        for b in batches:
            if not b.num_rows:
                continue
            feats, gold, _, starts = _flat_packed(b)
            pred = viterbi_segments(
                _trained_emissions(feats, starts, wf, tf), starts, tf
            )
            yield pa.RecordBatch.from_arrays(
                [
                    b.column("doc_id").take(
                        pc.list_parent_indices(b.column("feats"))
                    ),
                    pc.list_flatten(b.column("seq")),
                    pc.list_flatten(b.column("tok_idx")),
                    labels.take(gold),
                    labels.take(pred),
                ],
                names=["doc_id", "seq", "tok_idx", "gold", "pred"],
            )

    return ts.mapInArrow(
        fn, schema="doc_id string, seq int, tok_idx int, gold string, "
        "pred string"
    )


# ---------------------------------------------------------------------------
# Deploying the refit model: run the TRAINED decoder inside the extraction
# cascade (the step a refit user actually ships — learned weights replace
# the hand-built surrogate emissions in inference).
# ---------------------------------------------------------------------------


def run_trained_ner(
    df: DataFrame, W: np.ndarray, T: np.ndarray,
    spec: ModelSpec | None = None,
) -> DataFrame:
    """documents (doc_id, spans) → extracted entity spans, decoded with
    TRAINED weights — the same `pipeline._extract` batch loop and token
    mode as `pipeline.run_mode("ner")`, with the trained decode
    (`_trained_emissions`: X·W emissions, exactness-tiered BLAS) as its
    labeler instead of the hand-weighted surrogate. Weights ship in the closure
    (≈2k ints). This closes the loop the reference runs operationally:
    createTraining → train → the trained model serves extraction
    (`MedicalReportTrainerRunner.java` mode 0 feeding the engine's model
    directory)."""
    from .pipeline import EXTRACTED_DDL, _extract, _flat_token_mode

    spec = spec or _ner_spec()
    wf = W.copy()
    tf = T.copy()
    features = spec.features

    def labeler(toks: pd.DataFrame) -> pd.Series:
        starts = line_starts(toks)
        em = _trained_emissions(pack_features(toks, features), starts, wf, tf)
        return decode(em, starts, tf, spec.labels, toks.index)

    def mapper(batches):
        _blas_single_thread()
        yield from _extract(batches, _flat_token_mode(labeler))

    return df.mapInArrow(mapper, schema=EXTRACTED_DDL)

# ---------------------------------------------------------------------------
# Trainer CLI job (reference runner parity): MedicalReportTrainerRunner
# takes `{0-train | 1-evaluate | 2-split | 3-n-fold} {model} [-s ratio]
# [-n folds]` and leaves a trained model file in the model directory
# (`MedicalReportTrainerRunner.java:25,51,134-143`). run_training_job is
# that surface over a Spark corpus: weights persist as a .npz next to a
# metrics JSON (at cluster scale, point --output at shared storage — the
# model is ~2k integers, the artifact cost is nil).
# ---------------------------------------------------------------------------


def save_model(path: str, W: np.ndarray, T: np.ndarray, spec: ModelSpec):
    """Persist trained P-scaled weights; decode-equivalent under any
    positive scale, so the file is exact (int64, no float round-trip).
    The layout rides along as JSON strings (plain str arrays — the file
    loads with allow_pickle=False, so a tampered .npz can't execute)."""
    import json

    np.savez(
        path, W=W, T=T, spec=np.array(spec.name),
        labels=np.array(json.dumps(spec.labels)),
        features=np.array(json.dumps(list(spec.features))),
    )


def load_model(path: str) -> tuple[np.ndarray, np.ndarray, str]:
    """Load (W, T, spec_name) saved by save_model, checking the layout
    contract: a weights file trained under a different feature order or
    label vocabulary than the running SPECS is refused, not misapplied."""
    import json

    with np.load(path) as z:
        W, T, name = z["W"], z["T"], str(z["spec"])
        labels = json.loads(str(z["labels"]))
        feats = tuple(json.loads(str(z["features"])))
    if name not in SPECS:
        raise ValueError(f"unknown model spec in {path}: {name}")
    spec = SPECS[name]()
    if labels != spec.labels or feats != spec.features:
        raise ValueError(
            f"weights in {path} were trained under a different "
            f"{name} layout (labels/features mismatch) — retrain"
        )
    return W, T, name


def run_training_job(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    model: str = "fr-medical-ner",
    mode: int = 0,
    weights: str | None = None,
    split_milli: int = 800,
    n_folds: int = 3,
    epochs: int = 3,
    shards: int = 4,
    batch_docs: int = 32,
) -> dict:
    """One reference-runner invocation over a (doc_id, spans) corpus.

    mode 0 — train on the full corpus, save `<output>/<model>.npz`;
    mode 1 — evaluate EXISTING weights (`weights=` path) on the corpus
             (full report: token AND strict-field levels, the reference's
             two evaluation criteria);
    mode 2 — hash-split train/evaluate (split_milli ≈ reference -s·1000),
             save the split-trained weights;
    mode 3 — n-fold cross-validation (reference -n), eval-only.
    Modes 1-3 write the per-label / per-fold P/R/F1 table to
    `<output>/eval` (parquet) and return its micro row in the metrics."""
    import os

    from .evaluate import evaluate_labels
    from .io import read_documents

    if model not in SPECS:
        raise ValueError(f"unknown model {model!r}: {sorted(SPECS)}")
    spec = SPECS[model]()
    docs = read_documents(spark, input_path).select("doc_id", "spans")
    ts = build_training_set(docs, spec=spec).persist()
    os.makedirs(output_dir, exist_ok=True)
    out: dict = {"model": model, "train_mode": mode, "n_docs": ts.count()}
    kw = dict(epochs=epochs, shards=shards, batch_docs=batch_docs, spec=spec)
    prf = None
    try:
        if mode == 0:
            W, T, metrics = train(ts, **kw)
            path = os.path.join(output_dir, f"{model}.npz")
            save_model(path, W, T, spec)
            out.update(weights=path, epochs=metrics)
        elif mode == 1:
            if not weights:
                raise ValueError("mode 1 (evaluate) needs --weights")
            W, T, name = load_model(weights)
            if name != model:
                raise ValueError(f"--weights is a {name} model, not {model}")
            prf = evaluate_labels(predict(ts, W, T, spec))
        elif mode == 2:
            prf, metrics, W, T = train_split_eval(
                ts, split_milli=split_milli, **kw
            )
            path = os.path.join(output_dir, f"{model}.npz")
            save_model(path, W, T, spec)
            out.update(weights=path, epochs=metrics)
        elif mode == 3:
            prf = train_nfold_eval(ts, n_folds=n_folds, **kw)
        else:
            raise ValueError(f"train mode must be 0-3: {mode}")
        if prf is not None:
            eval_path = os.path.join(output_dir, "eval")
            prf.write.mode("overwrite").parquet(eval_path)
            micro = (
                spark.read.parquet(eval_path)
                .where((F.col("label") == "__micro__")
                       if mode != 3 else F.lit(True))
                .orderBy("fold" if mode == 3 else "level")
                .collect()
            )
            out["eval"] = [r.asDict() for r in micro]
            out["eval_path"] = eval_path
    finally:
        ts.unpersist()
    return out


# ---------------------------------------------------------------------------
# Registered queries: deterministic fixture-corpus training run. Literal
# VALUES oracles (fixture-family convention) — the values are pinned by the
# serial twin + the naive per-token reference in tests/test_trainer.py.
# ---------------------------------------------------------------------------

# Tuned on the local twin (train_local sweep, round 7): shards=2/B=4
# converges fastest of the distributed-flavored settings on the 28-doc
# corpus (online acc 264→892 milli over 12 epochs; final-weight token
# accuracy 946 milli). shards=1/B=4 reaches 995 but exercises no mixing.
_Q_EPOCHS = 12
_Q_SHARDS = 2
_Q_BATCH = 4


def _fixture_training_set(
    spark: SparkSession, spec: ModelSpec | None = None
) -> DataFrame:
    from . import datagen
    from .schema import DOCUMENTS_SCHEMA

    pdf = datagen.fixture_documents_pdf()
    docs = spark.createDataFrame(pdf, schema=DOCUMENTS_SCHEMA)
    return build_training_set(docs, spec=spec)


def _q_train_metrics(spark: SparkSession, spec: ModelSpec) -> DataFrame:
    """Per-epoch training metrics of one model's distilled refit on the
    full fixture corpus (28 docs): update count falls / online accuracy
    rises as the learned weights absorb the surrogate decoder. The trainer
    is generic over ModelSpec; train_medic and train_patient pin two more
    instantiations, each with its own label space and bit layout (medic:
    the synthesized 'has_at' email cue, trained-vs-surrogate micro-F1 899
    at these settings, persname 938 / rolename 920; patient: 14 labels,
    48 bits with five synthesized word-identity cues, micro-F1 898,
    persname 939 / address 920)."""
    ts = _fixture_training_set(spark, spec).cache()
    try:
        _, _, metrics = train(
            ts, epochs=_Q_EPOCHS, shards=_Q_SHARDS, batch_docs=_Q_BATCH,
            spec=spec,
        )
    finally:
        ts.unpersist()
    rows = [
        (m["epoch"], m["n_updates"], m["token_acc_milli"]) for m in metrics
    ]
    return spark.createDataFrame(
        rows, schema="epoch int, n_updates bigint, token_acc_milli bigint"
    ).orderBy("epoch")


def q_train_ner_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level P/R/F1 of the TRAINED model against the surrogate gold
    on the fixture corpus — the mode-0 → mode-1 composition
    (train, then evaluate, reference eval-after-train workflow)."""
    from .evaluate import token_prf

    ts = _fixture_training_set(spark).cache()
    W, T, _ = train(
        ts, epochs=_Q_EPOCHS, shards=_Q_SHARDS, batch_docs=_Q_BATCH
    )
    # ts stays cached until the returned plan is consumed (predict reads
    # it); Spark evicts it with the session — the fixture set is tiny.
    return token_prf(predict(ts, W, T)).orderBy("label")


def q_train_ner_deploy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEPLOY composition: train on the fixture corpus, then run the
    TRAINED decoder inside the extraction cascade (`run_trained_ner`) over
    the same documents — the end of the reference's operational loop
    (createTraining → mode-0 train → the model directory serves
    extraction). Pinned as a per-kind aggregate of the 198 extracted
    spans; span-level agreement with predict() is pinned in
    tests/test_trainer.py."""
    from .schema import DOCUMENTS_SCHEMA

    from . import datagen

    docs = spark.createDataFrame(
        datagen.fixture_documents_pdf(), schema=DOCUMENTS_SCHEMA
    )
    ts = build_training_set(docs).cache()
    W, T, _ = train(
        ts, epochs=_Q_EPOCHS, shards=_Q_SHARDS, batch_docs=_Q_BATCH
    )
    ts.unpersist()
    return (
        run_trained_ner(docs, W, T)
        .selectExpr("doc_id", "inline(spans)")
        .selectExpr("kind", "doc_id", "length(text) AS lt", "offset")
        .groupBy("kind")
        .agg(
            F.count("*").alias("n_spans"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.sum("lt").alias("chars"),
            F.sum("offset").alias("offset_sum"),
        )
        .orderBy("kind")
    )


def q_train_split_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference trainer mode 2 on the fixture corpus: an 800-milli
    document-hash split (24 train / 4 holdout docs), fit on the train
    fraction, token P/R/F1 on the HELD-OUT docs (micro 750 at these
    settings — generalization, vs train_ner_eval's 910 on seen docs)."""
    ts = _fixture_training_set(spark).cache()
    try:
        prf, _, _, _ = train_split_eval(
            ts, split_milli=800,
            epochs=_Q_EPOCHS, shards=_Q_SHARDS, batch_docs=_Q_BATCH,
        )
        # localCheckpoint materializes the eval result (eager) so the
        # cached fixture set can be released before returning — the former
        # lazy return leaked the cached blocks for the session lifetime
        # (ADVICE r7)
        return prf.orderBy("label").localCheckpoint()
    finally:
        ts.unpersist()


def q_train_nfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference trainer mode 3 on the fixture corpus: 3-fold
    cross-validation, one model trained per fold on the other two, micro
    P/R/F1 on each held-out fold (861/792/731 milli at these settings —
    every document scored exactly once by a model that never saw it)."""
    ts = _fixture_training_set(spark).cache()
    try:
        # localCheckpoint materializes the per-fold union (eager) so the
        # cached fixture set can be released before returning (ADVICE r7)
        return train_nfold_eval(
            ts, n_folds=3,
            epochs=_Q_EPOCHS, shards=_Q_SHARDS, batch_docs=_Q_BATCH,
        ).orderBy("fold").localCheckpoint()
    finally:
        ts.unpersist()


OPS = {
    "train_ner": lambda spark, sf_dir: _q_train_metrics(spark, _ner_spec()),
    "train_ner_eval": q_train_ner_eval,
    "train_medic": lambda spark, sf_dir: _q_train_metrics(
        spark, _medic_spec()
    ),
    "train_patient": lambda spark, sf_dir: _q_train_metrics(
        spark, _patient_spec()
    ),
    "train_ner_deploy": q_train_ner_deploy,
    "train_split_eval": q_train_split_eval,
    "train_nfold": q_train_nfold,
}

# Literal VALUES oracles (fixture-family convention): the expected rows of
# the DETERMINISTIC fixture-corpus training run — integer-exact end-to-end
# (P-scaled int64 weights, integer Viterbi, milli metrics by integer
# division), so the run is bit-reproducible on any machine. The values are
# independently pinned by tests/test_trainer.py: the serial twin
# (train_local) must produce the same trajectory, and shard_pass itself is
# differentially tested against a naive per-token reference implementation.
_ORACLE_TRAIN = """
SELECT * FROM (VALUES
 (0, CAST(27 AS BIGINT), CAST(264 AS BIGINT)),
 (1, 28, 531), (2, 27, 520), (3, 26, 618), (4, 25, 694), (5, 19, 836),
 (6, 18, 850), (7, 17, 866), (8, 20, 882), (9, 19, 880), (10, 22, 879),
 (11, 18, 892)
) AS t(epoch, n_updates, token_acc_milli)
ORDER BY epoch
"""

_ORACLE_TRAIN_EVAL = """
SELECT 'token' AS level, label,
  CAST(n_gold AS BIGINT) AS n_gold, CAST(n_pred AS BIGINT) AS n_pred,
  CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
  CAST(fn AS BIGINT) AS fn,
  CAST(p AS BIGINT) AS precision_milli, CAST(r AS BIGINT) AS recall_milli,
  CAST(f AS BIGINT) AS f1_milli
FROM (VALUES
 ('__micro__', 394, 386, 355, 31, 39, 919, 901, 910),
 ('age', 47, 30, 27, 3, 20, 900, 574, 701),
 ('anatomy', 2, 0, 0, 0, 2, 0, 0, 0),
 ('date', 24, 24, 24, 0, 0, 1000, 1000, 1000),
 ('dose', 2, 5, 1, 4, 1, 200, 500, 285),
 ('fax', 25, 26, 25, 1, 0, 961, 1000, 980),
 ('location', 17, 29, 15, 14, 2, 517, 882, 652),
 ('medicament', 15, 15, 15, 0, 0, 1000, 1000, 1000),
 ('other', 443, 451, 437, 14, 6, 968, 986, 977),
 ('pathology', 9, 6, 4, 2, 5, 666, 444, 533),
 ('persname', 200, 203, 196, 7, 4, 965, 980, 972),
 ('perstype', 5, 1, 1, 0, 4, 1000, 200, 333),
 ('phone', 10, 10, 10, 0, 0, 1000, 1000, 1000),
 ('procedure', 12, 12, 12, 0, 0, 1000, 1000, 1000),
 ('rolename', 22, 22, 22, 0, 0, 1000, 1000, 1000),
 ('substance', 1, 0, 0, 0, 1, 0, 0, 0),
 ('time', 3, 3, 3, 0, 0, 1000, 1000, 1000)
) AS t(label, n_gold, n_pred, tp, fp, fn, p, r, f)
ORDER BY label
"""

_ORACLE_TRAIN_MEDIC = """
SELECT * FROM (VALUES
 (0, CAST(23 AS BIGINT), CAST(442 AS BIGINT)),
 (1, 24, 589), (2, 24, 679), (3, 24, 645), (4, 23, 648), (5, 23, 689),
 (6, 23, 684), (7, 19, 814), (8, 19, 762), (9, 18, 831), (10, 20, 672),
 (11, 22, 721)
) AS t(epoch, n_updates, token_acc_milli)
ORDER BY epoch
"""

# Per-kind aggregate of the 198 spans the trained decoder extracts from
# the fixture corpus (q_train_ner_deploy). Deterministic because the
# trained weights are bit-reproducible (same integer-exact argument as
# above) and the decode is the cascade's own integer-exact Viterbi.
_ORACLE_TRAIN_DEPLOY = """
SELECT * FROM (VALUES
 ('age', CAST(18 AS BIGINT), CAST(8 AS BIGINT), CAST(90 AS BIGINT),
  CAST(3822 AS BIGINT)),
 ('date', 24, 15, 236, 1840),
 ('dose', 5, 4, 11, 983),
 ('fax', 6, 5, 79, 830),
 ('location', 21, 14, 139, 4421),
 ('medicament', 7, 2, 107, 620),
 ('pathology', 4, 3, 45, 983),
 ('persname', 76, 23, 1237, 8871),
 ('perstype', 1, 1, 8, 595),
 ('phone', 2, 2, 28, 215),
 ('procedure', 9, 3, 122, 3895),
 ('rolename', 22, 9, 171, 2566),
 ('time', 3, 3, 15, 120)
) AS t(kind, n_spans, n_docs, chars, offset_sum)
ORDER BY kind
"""

# Held-out token P/R/F1 of the mode-2 split run (q_train_split_eval):
# same determinism argument; the 4 holdout docs never touch the weights.
_ORACLE_TRAIN_SPLIT = """
SELECT 'token' AS level, label,
  CAST(n_gold AS BIGINT) AS n_gold, CAST(n_pred AS BIGINT) AS n_pred,
  CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
  CAST(fn AS BIGINT) AS fn,
  CAST(p AS BIGINT) AS precision_milli, CAST(r AS BIGINT) AS recall_milli,
  CAST(f AS BIGINT) AS f1_milli
FROM (VALUES
 ('__micro__', 65, 47, 42, 5, 23, 893, 646, 750),
 ('age', 5, 4, 3, 1, 2, 750, 600, 666),
 ('date', 5, 5, 5, 0, 0, 1000, 1000, 1000),
 ('fax', 0, 2, 0, 2, 0, 0, 0, 0),
 ('location', 0, 1, 0, 1, 0, 0, 0, 0),
 ('other', 34, 52, 34, 18, 0, 653, 1000, 790),
 ('persname', 48, 30, 30, 0, 18, 1000, 625, 769),
 ('procedure', 3, 1, 1, 0, 2, 1000, 333, 500),
 ('rolename', 3, 4, 3, 1, 0, 750, 1000, 857),
 ('time', 1, 0, 0, 0, 1, 0, 0, 0)
) AS t(label, n_gold, n_pred, tp, fp, fn, p, r, f)
ORDER BY label
"""

ORACLES: dict[str, str] = {
    "train_ner": _ORACLE_TRAIN,
    "train_ner_eval": _ORACLE_TRAIN_EVAL,
    "train_medic": _ORACLE_TRAIN_MEDIC,
    "train_patient": """
SELECT * FROM (VALUES
 (0, CAST(25 AS BIGINT), CAST(299 AS BIGINT)),
 (1, 27, 547), (2, 25, 670), (3, 26, 667), (4, 23, 706), (5, 24, 648),
 (6, 25, 670), (7, 25, 700), (8, 23, 749), (9, 23, 772), (10, 21, 804),
 (11, 21, 849)
) AS t(epoch, n_updates, token_acc_milli)
ORDER BY epoch
""",
    "train_ner_deploy": _ORACLE_TRAIN_DEPLOY,
    "train_split_eval": _ORACLE_TRAIN_SPLIT,
    "train_nfold": """
SELECT CAST(fold AS INT) AS fold, 'token' AS level,
  CAST(n_gold AS BIGINT) AS n_gold, CAST(n_pred AS BIGINT) AS n_pred,
  CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
  CAST(fn AS BIGINT) AS fn,
  CAST(p AS BIGINT) AS precision_milli, CAST(r AS BIGINT) AS recall_milli,
  CAST(f AS BIGINT) AS f1_milli
FROM (VALUES
 (0, 62, 61, 53, 8, 9, 868, 854, 861),
 (1, 142, 128, 107, 21, 35, 835, 753, 792),
 (2, 190, 138, 120, 18, 70, 869, 631, 731)
) AS t(fold, n_gold, n_pred, tp, fp, fn, p, r, f)
ORDER BY fold
""",
}
