"""Per-stage unit tests for the pure pandas/numpy kernels (SURVEY.md §5.2.2)."""

from __future__ import annotations

import itertools

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from grobid_clinical_report_spark.kernels import normalize
from grobid_clinical_report_spark.kernels.cluster import (
    dedup_notes,
    rle_cluster_ids,
)
from grobid_clinical_report_spark.kernels.tokenize import (
    assign_blocks_pages,
    contiguous_pieces,
    explode_tokens,
)
from grobid_clinical_report_spark.kernels.viterbi import viterbi_segments


# --- viterbi -----------------------------------------------------------------

def _brute(em, trans):
    T, L = em.shape
    best, bp = -1e18, None
    for path in itertools.product(range(L), repeat=T):
        s = em[0, path[0]] + sum(
            trans[path[i - 1], path[i]] + em[i, path[i]] for i in range(1, T)
        )
        if s > best:
            best, bp = s, path
    return np.array(bp)


def _ref_viterbi(em, trans):
    """Textbook per-sequence Viterbi: float64 scores, first-index argmax
    for both the best predecessor and the final label."""
    em = np.asarray(em, dtype=np.float64)
    trans = np.asarray(trans, dtype=np.float64)
    T, L = em.shape
    path = np.zeros(T, dtype=np.int64)
    if T == 0:
        return path
    score = em[0].copy()
    back = np.zeros((T, L), dtype=np.int64)
    for t in range(1, T):
        cand = score[:, None] + trans  # (prev, cur)
        back[t] = cand.argmax(axis=0)
        score = cand.max(axis=0) + em[t]
    path[-1] = score.argmax()
    for t in range(T - 1, 0, -1):
        path[t - 1] = back[t, path[t]]
    return path


def _decode_each(ems, trans):
    """Decode a list of (T_i, L) sequences with one viterbi_segments call
    and split the flat result back per sequence."""
    lens = [e.shape[0] for e in ems]
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]]).astype(np.int64)
    flat = viterbi_segments(np.concatenate(ems), starts, trans)
    return np.split(flat, np.cumsum(lens)[:-1])


def test_viterbi_matches_bruteforce():
    rng = np.random.default_rng(7)
    trans = rng.normal(size=(3, 3))
    ems = [rng.normal(size=(t, 3)) for t in [1, 2, 4, 6, 5, 3]]
    got = _decode_each(ems, trans)
    for e, g in zip(ems, got):
        assert np.array_equal(g, _brute(e, trans))
        assert np.array_equal(_ref_viterbi(e, trans), g)


def test_viterbi_empty_and_batching():
    trans = np.zeros((2, 2))
    out = _decode_each([np.zeros((0, 2)), np.ones((3, 2))], trans)
    assert len(out[0]) == 0 and len(out[1]) == 3
    none = viterbi_segments(np.zeros((0, 2)), np.zeros(1, int), trans)
    assert len(none) == 0


def _rand_transitions(rng, L, kind):
    """kind 0: scalar sticky, 1: column-structured (per-label entry cost,
    the body-model shape), 2: general (the segmenter shape)."""
    if kind == 0:
        tr = np.full((L, L), -1.0)
        np.fill_diagonal(tr, float(rng.integers(0, 3)))
    elif kind == 1:
        tr = np.tile(rng.integers(-3, 4, size=(1, L)).astype(float), (L, 1))
        np.fill_diagonal(tr, rng.integers(-3, 4, size=L))
    else:
        tr = rng.integers(-3, 4, size=(L, L)).astype(float)
    return tr


def _count_structured_steps(monkeypatch) -> list:
    """Wrap viterbi._step_structured; the returned list grows by one per
    structured DP step."""
    from grobid_clinical_report_spark.kernels import viterbi as V

    calls = []
    real_step = V._step_structured
    monkeypatch.setattr(
        V, "_step_structured", lambda *a: calls.append(1) or real_step(*a)
    )
    return calls


def test_viterbi_structured_shapes_optimal_and_consistent(monkeypatch):
    """All three transition structures, on blocks narrow and wide: a block
    of at most _GENERAL_MAX_CELLS B·L² cells takes the general scores
    step whatever its matrix, a wider one takes the scalar top-2 (sticky),
    vector-move top-2 (column-structured) or general step. Each must be
    score-optimal vs brute force, and the segments decoder (one-length
    blocks / padded factor-2 buckets, every emission dtype, whale-long
    segments with forced ties) must agree exactly with the textbook
    reference."""
    from grobid_clinical_report_spark.kernels import viterbi as V

    rng = np.random.default_rng(11)
    for trial in range(24):
        L = int(rng.integers(2, 5))
        T = int(rng.integers(1, 6))
        em = rng.integers(-4, 5, size=(T, L)).astype(float)
        tr = _rand_transitions(rng, L, trial % 3)
        got = viterbi_segments(em, np.zeros(1, np.int64), tr)
        ts = np.arange(T)
        gs = em[ts, got].sum() + sum(tr[got[t - 1], got[t]] for t in range(1, T))
        want = _brute(em, tr)
        ws = em[ts, want].sum() + sum(
            tr[want[t - 1], want[t]] for t in range(1, T)
        )
        assert gs == ws, (trial, got, want)
    for trial in range(12):
        L = int(rng.integers(2, 16))
        lens = rng.choice(
            [0, 1, 3, 7, 40, 63, 64, 65, 90, 150, 300],
            size=int(rng.integers(1, 30)),
        )
        # a repeated length in a bucket of its own: the one-length view
        # path above _DENSE_MAX_T
        lens = rng.permutation(np.append(lens, [700, 700]))
        n = int(lens.sum())
        em = rng.integers(-8, 9, size=(n, L)).astype(
            rng.choice([np.float32, np.float64, np.int16, np.int32])
        )
        tr = _rand_transitions(rng, L, trial % 3)
        starts = np.concatenate([[0], np.cumsum(lens)[:-1]]).astype(np.int64)
        got = viterbi_segments(em, starts, tr)
        want = np.concatenate(
            [_ref_viterbi(em[s : s + ln], tr) for s, ln in zip(starts, lens)]
        )
        assert np.array_equal(got, want), (trial, trial % 3, em.dtype)

    structured = _count_structured_steps(monkeypatch)
    for kind in range(3):
        # one-length bucket just wider than the crossover: the structured
        # step for the sticky and column-structured kinds
        L, T = (3, 12, 30)[kind], 9
        b = V._GENERAL_MAX_CELLS // (L * L) + 1
        tr = _rand_transitions(rng, L, kind)
        em = rng.integers(-3, 4, size=(b * T, L)).astype(
            (np.float32, np.float64, np.int16)[kind]
        )
        structured.clear()
        got = viterbi_segments(em, np.arange(0, b * T, T), tr).reshape(b, T)
        assert len(structured) == (T - 1 if kind < 2 else 0), kind
        for r in range(b):
            assert np.array_equal(got[r], _ref_viterbi(em[r * T:(r + 1) * T], tr))
    for kind in range(3):
        # whale-length segments: a lone 50k segment, and a padded B=2
        # block of unequal lengths (the whale bucket); emissions in {0, 1}
        # and transitions in {-1, 0, 1} tie at almost every step
        for lens in ([50_000], [20_000, 17_500]):
            L = 12
            tr = _rand_transitions(rng, L, kind).clip(-1, 1)
            n = sum(lens)
            em = rng.integers(0, 2, size=(n, L)).astype(np.float32)
            starts = np.array([0] + lens[:-1], dtype=np.int64).cumsum()
            got = viterbi_segments(em, starts, tr)
            want = np.concatenate(
                [_ref_viterbi(em[s : s + ln], tr) for s, ln in zip(starts, lens)]
            )
            assert np.array_equal(got, want), (kind, lens)


def test_viterbi_step_follows_block_shape(monkeypatch):
    """The DP step is picked by the block's B·L², not only by the matrix:
    a whale's B=2 padded block (~20k steps, call-bound) runs no structured
    step, while a sticky block wider than the crossover runs all its T−1
    steps through `_step_structured`. Labels match the reference either
    way."""
    from grobid_clinical_report_spark.kernels import viterbi as V
    from grobid_clinical_report_spark.kernels.body import body_transitions

    calls = _count_structured_steps(monkeypatch)
    tr = body_transitions()
    L = tr.shape[0]
    rng = np.random.default_rng(5)

    lens = [20_000, 18_700]  # one factor-2 bucket: padded, B=2
    em = rng.integers(-4, 5, size=(sum(lens), L)).astype(np.float32)
    starts = np.array([0, lens[0]], dtype=np.int64)
    got = V.viterbi_segments(em, starts, tr)
    assert len(calls) == 0
    assert np.array_equal(got[: lens[0]], _ref_viterbi(em[: lens[0]], tr))
    assert np.array_equal(got[lens[0]:], _ref_viterbi(em[lens[0]:], tr))

    b, T = 128, 30  # one-length block, B·L² = 18432 > the crossover
    assert b * L * L > V._GENERAL_MAX_CELLS
    em = rng.integers(-4, 5, size=(b * T, L)).astype(np.float32)
    got = V.viterbi_segments(em, np.arange(0, b * T, T), tr).reshape(b, T)
    assert len(calls) == T - 1
    for r in range(0, b, 17):
        assert np.array_equal(got[r], _ref_viterbi(em[r * T:(r + 1) * T], tr))


def test_viterbi_int16_long_segment_no_overflow():
    """ADVICE r6 (medium): int16 emissions must NOT accumulate the DP in
    int16 — dp grows ~9-16/token, wrapping past ~2-3k tokens on a single
    long line (nothing upstream caps tokens-per-line). The decoder now
    accumulates in int32; int16 and float64 decodes must agree at T=5000
    (they diverged at T=5000 while matching at T=300 before the fix)."""
    from grobid_clinical_report_spark.kernels.viterbi import viterbi_segments

    rng = np.random.default_rng(7)
    L = 12
    trans = np.full((L, L), -2, dtype=np.float64)
    np.fill_diagonal(trans, 4)  # sticky shape, like the NER kernel
    for T in (300, 3000, 5000):
        em_f = rng.integers(0, 17, size=(T, L)).astype(np.float64)
        starts = np.array([0], dtype=np.int64)
        lab_f = viterbi_segments(em_f, starts, trans)
        lab_i = viterbi_segments(
            em_f.astype(np.int16), starts, trans.astype(np.int16)
        )
        assert np.array_equal(lab_f, lab_i), T
    # mixed segment lengths cross the dense/padded split too
    em2 = rng.integers(-8, 17, size=(6000, L)).astype(np.float64)
    st2 = np.array([0, 40, 4040, 5000], dtype=np.int64)
    assert np.array_equal(
        viterbi_segments(em2, st2, trans),
        viterbi_segments(em2.astype(np.int16), st2, trans.astype(np.int16)),
    )


def test_viterbi_int64_emissions_not_narrowed():
    """_acc_dtype must PROMOTE, not flat-map to int32: int64 emissions with
    values past 2^31 would wrap if the DP were narrowed to int32 — the same
    silent-wrap bug as the int16 finding, one size up. No current caller
    ships int64, but the kernel API accepts it."""
    from grobid_clinical_report_spark.kernels.viterbi import (
        _acc_dtype, viterbi_segments,
    )

    assert _acc_dtype(np.dtype(np.int16)) == np.int32
    assert _acc_dtype(np.dtype(np.int64)) == np.int64
    rng = np.random.default_rng(11)
    L, T = 5, 300
    em = rng.integers(-(2**33), 2**33, size=(T, L)).astype(np.int64)
    trans = rng.integers(-(2**20), 2**20, size=(L, L)).astype(np.int64)
    starts = np.array([0, 120], dtype=np.int64)
    # float64 reference is exact here (values ≪ 2^53)
    assert np.array_equal(
        viterbi_segments(em, starts, trans),
        viterbi_segments(
            em.astype(np.float64), starts, trans.astype(np.float64)
        ),
    )


# --- normalization -----------------------------------------------------------

def test_iso_dates():
    """Numeric and textual dates normalize to ISO and a string with no
    date gives '', with no pandas FutureWarning: a batch whose dates all
    fail to parse ('hier') must not hit fillna's deprecated downcast."""
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("error", FutureWarning)
        for raw, want in (
            (["Le 29.04.2000", "01/01/1990", "le 3 mars 2018", "29-04-00",
              "rien"],
             ["2000-04-29", "1990-01-01", "2018-03-03", "2000-04-29", ""]),
            (["hier"], [""]),
            (["hier", "le 1er avril 98"], ["", "1998-04-01"]),
        ):
            assert normalize.to_iso_date(pd.Series(raw)).tolist() == want


def test_normalize_text_dehyphenize():
    s = pd.Series(["anti-\nbiothérapie  adaptée", "  a   b "])
    assert normalize.normalize_text(s).tolist() == [
        "antibiothérapie adaptée", "a b",
    ]


# --- RLE clustering ----------------------------------------------------------

def test_rle_cluster_ids_label_doc_and_iob_breaks():
    doc = pd.Series(["d1", "d1", "d1", "d2", "d2"])
    lab = pd.Series(["a", "a", "b", "b", "I-b"])
    assert rle_cluster_ids(doc, lab).tolist() == [0, 0, 1, 2, 3]


def test_dedup_notes_keeps_first_and_drops_short():
    """Repeated notes keep the first and short notes go. The repeat key is
    Python's: str.lower maps a final Σ to ς ('Service ΑΣ bloc' repeats
    'Service ας bloc') and \\s takes NBSP and \\v."""
    texts = ["Confidentiel - Hôpital", "Confidentiel - Hôpital", "ab", "x",
             "Service ΑΣ bloc", "Service ας bloc",
             "Confidentiel\xa0- Hôpital", "Confidentiel -\vHôpital"]
    spans = pd.DataFrame(
        {
            "doc_id": ["d"] * 8,
            "kind": ["footnote", "footnote", "footnote", "paragraph",
                     "headnote", "headnote", "footnote", "footnote"],
            "text": texts,
            "media_ref": [None] * 8,
            "offset": range(1, 9),
        }
    )
    out = dedup_notes(spans)
    assert out["kind"].tolist() == ["footnote", "paragraph", "headnote"]
    assert out["offset"].tolist() == [1, 4, 5]


def test_scalar_enrichment_spans_language_sample():
    """The language id counts its markers in the first 200 characters
    (code points, not bytes) of the body, with Python's Unicode \\b:
    'les' inside 'éles' is no French marker."""
    from grobid_clinical_report_spark.kernels.header import (
        scalar_enrichment_spans,
    )

    bodies = {
        0: "the and éles éles éles",
        # 'the and' sit inside the first 200 code points, 'le la les des'
        # after them; 200 bytes would stop inside the 'é' run
        1: "é" * 150 + " the and " + "z" * 40 + " le la les des",
        2: "le la de",
    }
    lines = pd.DataFrame(
        {
            "doc_id": list(bodies) + [2],
            "text": list(bodies.values()) + ["\f"],
            "offset": [10, 20, 30, 40],
            "zone": ["body"] * 4,
            "is_blank": [False] * 4,
            "is_page_break": [False, False, False, True],
            "is_media": [False] * 4,
        }
    )
    out = scalar_enrichment_spans(lines, pd.DataFrame({"doc_id": [0, 1, 2]}))
    assert out[["doc_id", "kind", "text", "offset"]].values.tolist() == [
        [0, "lang", "en", 11], [0, "page_count", "1", 12],
        [1, "lang", "en", 21], [1, "page_count", "1", 22],
        [2, "lang", "fr", 41], [2, "page_count", "2", 42],
    ]


def test_merge_header_fields_tied_offsets_keep_document_order():
    """Fields whose first lines share an offset (hostile input) come out in
    document order, not in alphabetical label order."""
    from grobid_clinical_report_spark.kernels.header import merge_header_fields

    lines = pd.DataFrame(
        {
            "doc_id": [0] * 4,
            "text": ["COMPTE RENDU OPÉRATOIRE", "Le 29.04.2000",
                     "Dr Jean MARTIN", "12 rue de la Paix 75002 Paris"],
            "label": ["doctype", "date", "medic", "address"],
            "offset": [0] * 4,
            "is_blank": [False] * 4,
            "is_page_break": [False] * 4,
            "is_media": [False] * 4,
        }
    )
    out = merge_header_fields(lines)
    assert out["kind"].tolist() == ["doctype", "date", "medic", "address"]
    assert out["text"].tolist()[1] == "2000-04-29"


def test_fill_fields_dedup_key_ignores_text_dtype():
    """The case/space-insensitive dedup key is the same whether the span
    text is object (the header path) or Arrow-backed (the POJO path):
    'Dr A', 'Dr\xa0A', 'DR a' and 'Dr\vA' are one value on both, since
    the key removes whatever Python's \\s matches, Unicode spaces
    included."""
    from grobid_clinical_report_spark.kernels.header import fill_fields

    texts = ["Dr A", "Dr\xa0A", "DR a", "Dr\vA", "Pr B"]
    spans = pd.DataFrame(
        {"doc_id": [0] * 5, "kind": ["medic"] * 5, "text": texts,
         "media_ref": None, "offset": range(5)}
    )
    arrow = spans.assign(text=spans["text"].astype(pd.ArrowDtype(pa.string())))
    rows = [
        fill_fields(d, " ; ").astype({"text": object}).to_dict("records")
        for d in (spans, arrow)
    ]
    assert rows[0] == rows[1]
    assert [r["text"] for r in rows[0]] == ["Dr A ; Pr B"]


def test_header_sub_spans_follow_their_parent_when_offsets_tie():
    """medic_* / patient_* sub-spans and dateline fills sit right after
    their parent field also when every line of a header shares one offset
    (hostile input): each header fixture with its offsets tied still gives
    its expected span list."""
    from grobid_clinical_report_spark import datagen
    from grobid_clinical_report_spark.pipeline import PANDAS_MODES

    fx = datagen.fixture_documents_pdf().set_index("doc_id")["spans"]
    expected = datagen.FIXTURE_EXPECTED["extract_header"]
    tied = pd.DataFrame(
        [
            {"doc_id": d, "spans": [dict(s, offset=0) for s in fx[d]]}
            for d in expected
        ]
    )
    out = PANDAS_MODES["extract_header"](tied)
    for doc_id, spans in zip(out["doc_id"], out["spans"]):
        got = [(s["kind"], s["text"], s["media_ref"]) for s in spans]
        assert got == [tuple(e) for e in expected[doc_id]], doc_id


def _trained_ner_labeler(monkeypatch):
    """run_trained_ner's labeler under fixed integer weights, caught where
    its mapper hands it to the token mode (no Spark session)."""
    from grobid_clinical_report_spark import pipeline, trainer

    spec = trainer.SPECS["fr-medical-ner"]()
    rng = np.random.default_rng(3)
    W = rng.integers(-4, 5, size=(spec.n_feats, spec.n_labels))
    T = rng.integers(-2, 3, size=(spec.n_labels, spec.n_labels))
    caught = []
    monkeypatch.setattr(pipeline, "_flat_token_mode", caught.append)

    class Df:
        def mapInArrow(self, fn, schema):
            return fn

    list(trainer.run_trained_ner(Df(), W, T, spec)(iter([])))
    return caught[0]


def _zone_labeler(zone, labeler):
    from grobid_clinical_report_spark.pipeline import _zone_lines

    return lambda zoned: labeler(_zone_lines(zoned, zone))


def _relabeled_body(zoned):
    from grobid_clinical_report_spark.kernels import body

    b = zoned[zoned["zone"].eq("body")].copy()
    b["label"] = body.label_body_lines(b)
    return body.relabel_caption_tails(b)


@pytest.mark.parametrize(
    "name",
    ["segment_lines", "label_body_lines", "relabel_caption_tails",
     "label_header_lines", "label_leftnote_lines", "ner", "parse_dateline",
     "parse_medic", "parse_patient", "parse_name", "parse_address",
     "parse_org", "run_trained_ner"],
)
def test_labelers_return_categorical_over_their_vocabulary(name, monkeypatch):
    """Every labeler returns a Categorical whose categories are its model's
    vocabulary, in vocabulary order, aligned with its input rows: its codes
    are the label indices that rle_cluster_ids and the trainer's gold read."""
    from grobid_clinical_report_spark import datagen
    from grobid_clinical_report_spark.kernels import body, header, leftnote
    from grobid_clinical_report_spark.kernels import labels as L
    from grobid_clinical_report_spark.kernels import ner as ner_k
    from grobid_clinical_report_spark.kernels import subparsers as sub_k
    from grobid_clinical_report_spark.pipeline import (
        _content_lines,
        _docs_batch,
        _prepared,
        _zoned,
    )

    line_labelers = {
        "segment_lines": (lambda zoned: zoned["zone"], L.SEG_LABELS),
        "label_body_lines": (
            _zone_labeler("body", body.label_body_lines), L.BODY_LABELS
        ),
        "relabel_caption_tails": (_relabeled_body, L.BODY_LABELS),
        "label_header_lines": (
            _zone_labeler("header", header.label_header_lines),
            L.HEADER_LABELS,
        ),
        "label_leftnote_lines": (
            _zone_labeler("leftnote", leftnote.label_leftnote_lines),
            L.LEFTNOTE_LABELS,
        ),
    }
    token_vocab = {
        "ner": L.NER_LABELS, "parse_dateline": L.DATELINE_LABELS,
        "parse_medic": L.MEDIC_LABELS, "parse_patient": L.PATIENT_LABELS,
        "parse_name": L.NAME_LABELS, "parse_address": L.ADDRESS_LABELS,
        "parse_org": L.ORG_LABELS, "run_trained_ner": L.NER_LABELS,
    }
    _, lines = next(_prepared([_docs_batch(datagen.fixture_documents_pdf())]))
    if name in line_labelers:
        labeler, vocab = line_labelers[name]
        got = labeler(_zoned(lines))
    else:
        labeler = (
            _trained_ner_labeler(monkeypatch) if name == "run_trained_ner"
            else {"ner": ner_k.label_ner_tokens, **sub_k.SUBPARSERS}[name]
        )
        vocab = token_vocab[name]
        toks = sub_k.tokens_of(_content_lines(lines))
        got = labeler(toks)
        assert got.index.equals(toks.index)
    assert len(got) > 0
    assert isinstance(got.dtype, pd.CategoricalDtype)
    assert list(got.cat.categories) == vocab
    assert (got.cat.codes >= 0).all()


@pytest.fixture(scope="module")
def prepared_batches():
    """Prepared lines of the fixtures and of a synthetic batch."""
    from grobid_clinical_report_spark import datagen
    from grobid_clinical_report_spark.pipeline import _docs_batch, _prepared

    pdfs = (datagen.fixture_documents_pdf(),
            datagen.synthetic_documents_pdf(120, seed=11))
    return [lines for pdf in pdfs for _, lines in _prepared([_docs_batch(pdf)])]


_LINE_MODELS = ["segment_lines", "label_body_lines", "label_header_lines",
                "label_leftnote_lines"]
_TOKEN_MODELS = ["label_ner_tokens", "parse_dateline", "parse_medic",
                 "parse_patient", "parse_name", "parse_address", "parse_org"]


@pytest.mark.parametrize(
    "name",
    _LINE_MODELS + _TOKEN_MODELS
    + ["pack_features:fr-medical-ner", "pack_features:medic",
       "pack_features:patient"],
)
def test_models_read_no_text(name, prepared_batches):
    """Every labeler, and the trainer's feature packing, reads feature
    columns only: dropping the text columns (`text` for the line models;
    `tok`, `gap` and any other string column for the token models) leaves
    its output unchanged. Text is read by the featurizers and the span
    builders alone."""
    from grobid_clinical_report_spark import trainer
    from grobid_clinical_report_spark.kernels import body, header, leftnote
    from grobid_clinical_report_spark.kernels import ner as ner_k
    from grobid_clinical_report_spark.kernels import subparsers as sub_k
    from grobid_clinical_report_spark.kernels.features import featurize_lines
    from grobid_clinical_report_spark.kernels.segmenter import segment_lines
    from grobid_clinical_report_spark.pipeline import (
        _content_lines, _zone_lines, _zoned,
    )

    line_models = {
        "segment_lines": (featurize_lines, segment_lines),
        "label_body_lines": (
            lambda ls: (z := _zoned(ls))[z["zone"].eq("body")],
            body.label_body_lines,
        ),
        "label_header_lines": (
            lambda ls: _zone_lines(_zoned(ls), "header"),
            header.label_header_lines,
        ),
        "label_leftnote_lines": (
            lambda ls: _zone_lines(_zoned(ls), "leftnote"),
            leftnote.label_leftnote_lines,
        ),
    }
    token_models = {"label_ner_tokens": ner_k.label_ner_tokens,
                    **sub_k.SUBPARSERS}
    for lines in prepared_batches:
        if name in line_models:
            frame, model = line_models[name]
            featured, text_cols = frame(lines), ["text"]
        else:
            featured = sub_k.tokens_of(_content_lines(lines))
            # tok, gap and any other column that holds strings
            text_cols = [c for c in featured
                         if pd.api.types.is_string_dtype(featured[c])]
            assert {"tok", "gap"} <= set(text_cols)
            if name in token_models:
                model = token_models[name]
            else:
                spec = trainer.SPECS[name.split(":")[1]]()
                model = lambda t: trainer.pack_features(t, spec.features)  # noqa: E731
        assert len(featured) > 0
        want = model(featured)
        got = model(featured.drop(columns=text_cols))
        if isinstance(want, pd.Series):
            pd.testing.assert_series_equal(got, want)
        else:
            np.testing.assert_array_equal(got, want)


# --- text at the emit boundary ----------------------------------------------

def _hostile_documents_pdf() -> pd.DataFrame:
    """Documents in the input schema that carry the characters where Arrow
    and Python text semantics part: NUL, NBSP, \\v, U+0130, Greek final
    sigma (a running head repeated as 'Service ΑΣ bloc' / 'Service ας
    bloc'), Arabic-Indic digits in a callout and a dateline, a table grid,
    and empty, media-only and blank-only documents."""
    from grobid_clinical_report_spark import datagen

    fx = datagen.fixture_documents_pdf().set_index("doc_id")["spans"]

    def doc(lines, media=()):
        spans, off = [], 0
        for i, t in enumerate(lines):
            ref = f"img/h/{i}.png" if i in media else None
            spans.append({"kind": "media" if ref else "text",
                          "text": "" if ref else t, "media_ref": ref,
                          "offset": off})
            off += len(t) + 2
        return spans

    def edit(spans, f):
        return [dict(s, text=f(s["text"])) for s in spans]

    pages = [
        "Service ΑΣ bloc", "COMPTE\xa0RENDU OPÉRATOIRE", "Le 29.04.2000",
        "Dr\vJean MARTIN ; Pr İlker ÖZ",
        "Madame Ana\x00 DUPONT, née le 01/01/1990",
        "", "DIAGNOSTIC :", "Fibrome utérin ςσ symptomatique.",
        "Voir la figure ٣ et la suite.", "", "(cf. figure\xa02) montre.", "",
        "(voir figure\xa03) puis Tableau 2.", "",
        "Tableau 2 : résultats", "A  B\tC", "1  2\t3", "Figure 1 : vue.",
        "Service ας bloc", "1", "\x0c",
        "Service ας bloc", "CONCLUSION :", "Texte\xa0insécable\vverticale İ.",
        "Fait à Paris, le ٢٩.٠٤.٢٠٠٠", "Service ΑΣ  bloc", "2",
    ]
    rows = [
        ("hx-greek", doc(pages, media={16})),
        ("hx-empty", []),
        ("hx-media", doc(["", ""], media={0, 1})),
        ("hx-blank", doc(["", "\x0c", ""])),
        ("hx-nbsp", edit(fx["fx-full-0001"], lambda t: t.replace(" ", "\xa0", 2))),
        ("hx-vt", edit(fx["fx-hdr-0002"], lambda t: t.replace(" ", "\v", 1))),
        ("hx-nul", edit(fx["fx-full-0001"], lambda t: t.replace("e", "\x00", 1))),
        ("hx-sigma", edit(fx["fx-hdr-0002"],
                          lambda t: t.upper().replace("S ", "Σ "))),
        ("hx-dotted", edit(fx["fx-full-0001"], lambda t: t.replace("I", "İ"))),
    ]
    return pd.DataFrame(rows, columns=["doc_id", "spans"])


def test_text_stays_arrow_to_emit(monkeypatch):
    """Every mode hands Arrow-backed span text to the emit boundary
    (`_batch_from_flat`): no mode turns the cascade's text into Python
    strings on its way out, on the fixtures, a synthetic batch or the
    hostile batch."""
    from grobid_clinical_report_spark import datagen, pipeline

    seen: dict[str, set] = {}
    emit = pipeline._batch_from_flat

    def spy(doc_ids, flat):
        if not flat.empty:
            seen.setdefault(mode, set()).add(str(flat["text"].dtype))
        return emit(doc_ids, flat)

    monkeypatch.setattr(pipeline, "_batch_from_flat", spy)
    pdfs = (datagen.fixture_documents_pdf(),
            datagen.synthetic_documents_pdf(120, seed=11),
            _hostile_documents_pdf())
    for mode, run in pipeline.PANDAS_MODES.items():
        for pdf in pdfs:
            run(pdf)
    arrow = str(pd.ArrowDtype(pa.string()))
    assert seen == {mode: {arrow} for mode in pipeline.PANDAS_MODES}


def test_python_semantics_sites_take_arrow_text():
    """The places whose result is Python's (the note repeat key, the
    callout referent, the language sample's marker counts) give the same
    answer on the Arrow-backed text the cascade hands them as on Python
    strings."""
    from grobid_clinical_report_spark.kernels.callouts import reconcile_markers
    from grobid_clinical_report_spark.kernels.header import (
        scalar_enrichment_spans,
    )

    def both(frame):
        arrow = pd.ArrowDtype(pa.string())
        return frame, frame.assign(text=frame["text"].astype(arrow))

    notes = pd.DataFrame(
        {"doc_id": 0, "kind": "headnote", "media_ref": None,
         "text": ["Service ΑΣ bloc", "Service ας bloc", "Service\xa0ΑΣ bloc",
                  "Service\vας bloc"], "offset": range(4)}
    )
    markers = pd.DataFrame(
        {"doc_id": 0, "media_ref": None,
         "kind": ["figure_marker", "table_marker", "table_marker",
                  "figure_marker"],
         "text": ["(cf. figure\xa02)", "(voir figure\xa03)", "figure ٣",
                  "figure x"], "offset": range(4)}
    )
    lines = pd.DataFrame(
        {"doc_id": 0, "text": ["the and éles éles éles"], "offset": [0],
         "zone": "body", "is_blank": False, "is_page_break": False,
         "is_media": False}
    )
    for frame in both(notes):
        assert dedup_notes(frame)["offset"].tolist() == [0]
    for frame in both(markers):
        assert reconcile_markers(frame)["kind"].tolist() == markers["kind"].tolist()
    for frame in both(lines):
        out = scalar_enrichment_spans(frame, pd.DataFrame({"doc_id": [0]}))
        assert out["text"].tolist() == ["en", "1"]


# --- tokenization ------------------------------------------------------------

def test_explode_tokens_exact_reconstruction():
    lines = pd.DataFrame(
        {
            "doc_id": ["d"],
            "seq": [0],
            "text": ["Pr. Abagael ZOSIMA, 14/03/2017 10h30"],
        }
    )
    t = explode_tokens(lines)
    assert t["tok"].tolist() == [
        "Pr", ".", "Abagael", "ZOSIMA", ",", "14/03/2017", "10h30",
    ]
    # gap+tok reconstruction reproduces the source text
    rebuilt = "".join(
        (g if i else "") + k
        for i, (g, k) in enumerate(zip(t["gap"], t["tok"]))
    )
    assert rebuilt == "Pr. Abagael ZOSIMA, 14/03/2017 10h30"


def test_explode_tokens_nul_in_text():
    """A NUL in dirty PDF text must not collide with the bracketing sentinel:
    adjacent tokens stay separate and following tokens survive (ADVICE r2 —
    'Dr\\x00MARTIN 12/05/2019' used to lose MARTIN and the date)."""
    lines = pd.DataFrame(
        {"doc_id": ["d"], "seq": [0], "text": ["Dr\x00MARTIN 12/05/2019"]}
    )
    t = explode_tokens(lines)
    assert t["tok"].tolist() == ["Dr", "MARTIN", "12/05/2019"]


def test_explode_tokens_offsets_count_junk():
    """tok_start/tok_end are offsets in the ORIGINAL line text: a dropped
    junk token (NUL, @PAGE) still contributes its length and preceding gap
    to the cumsum. The former kept-only cumsum drifted every offset after
    a junk token ('foo \\x00 bar baz' reported bar at 4 instead of 6),
    silently mislabeling corpus_import's offset-contained NER supervision
    on dirty documents."""
    lines = pd.DataFrame(
        {
            "doc_id": ["d", "d"],
            "seq": [0, 1],
            "text": ["foo \x00 bar baz", "a �� bb"],
        }
    )
    t = explode_tokens(lines)
    for _, r in t.iterrows():
        src = lines["text"][lines["seq"] == r["seq"]].iloc[0]
        # NULs are remapped to U+FFFD pre-split (same codepoint count)
        assert src.replace("\x00", "�")[r["tok_start"]:r["tok_end"]] == r["tok"]
    assert t["tok"].tolist() == ["foo", "bar", "baz", "a", "bb"]
    assert t["tok_start"].tolist() == [0, 6, 10, 0, 5]


def test_n_tokens_counts_separator_runs():
    """Column-aligned table lines (multi-space / tab separators) count one
    token per field, not one per space (ADVICE r2)."""
    from grobid_clinical_report_spark.kernels.features import featurize_lines
    from grobid_clinical_report_spark.kernels.tokenize import (
        assign_blocks_pages,
    )

    lines = pd.DataFrame(
        {
            "doc_id": ["d"] * 3,
            "seq": range(3),
            "kind": ["text"] * 3,
            "text": ["Na  140", "K\t4.1\tmmol", "one two"],
        }
    )
    out = featurize_lines(assign_blocks_pages(lines))
    assert out["n_tokens"].tolist() == [2, 3, 2]


def test_count_sep_runs_matches_regex_count():
    """The numpy byte-buffer run counter is byte-exact vs the RE2
    `[ \\t]+` count it replaced (r8 optimization), including multibyte
    UTF-8, NULs, slices, and null-bearing fallback inputs."""
    import random

    import pyarrow as pa
    import pyarrow.compute as pc

    from grobid_clinical_report_spark.kernels import arrowtext as at

    cases = [
        "", " ", "  ", "\t", " \t ", "a", "a b", "a  b", "a\tb",
        "a \t b", "  a", "a  ", "é è ü", "mot\tmot mot", "\n \n",
        " a b ", "αβ γ\tδ", "🎉 🎊", "a\x00b c", "x" * 300 + " y",
    ]
    rng = random.Random(7)
    alphabet = " \ta béà \n🎉:.-0123456789"
    cases += [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 40)))
        for _ in range(500)
    ]
    arr = pa.array(cases, type=pa.string())
    want = pc.count_substring_regex(arr, "[ \t]+").to_numpy(
        zero_copy_only=False
    )
    assert (at.count_sep_runs(arr) == want).all()
    sl = arr.slice(3, 200)  # non-zero offset view
    want_sl = pc.count_substring_regex(sl, "[ \t]+").to_numpy(
        zero_copy_only=False
    )
    assert (at.count_sep_runs(sl) == want_sl).all()
    withnull = pa.array(["a b", None, " \t"], type=pa.string())
    assert at.count_sep_runs(withnull).tolist() == [1, 0, 1]
    assert at.count_sep_runs(pa.array([], type=pa.string())).tolist() == []


def test_contiguous_pieces():
    off = np.array([0, 5, 11, 40, 46])
    assert contiguous_pieces(off, max_gap=10).tolist() == [0, 0, 0, 1, 1]


def test_blocks_pages():
    lines = pd.DataFrame(
        {
            "doc_id": ["d"] * 6,
            "seq": range(6),
            "kind": ["text"] * 6,
            "text": ["a", "", "b", "c", "\f", "e"],
            "media_ref": [None] * 6,
            "offset": range(6),
        }
    )
    out = assign_blocks_pages(lines)
    assert out["block_id"].tolist() == [0, 0, 1, 1, 1, 2]
    assert out["page_id"].tolist() == [0, 0, 0, 0, 0, 1]
    assert out["is_blank"].tolist() == [False, True, False, False, False, False]
    assert out["is_page_break"].tolist()[4]


# --- property tests (hypothesis) ----------------------------------------------

hyp = pytest.importorskip("hypothesis")
from hypothesis import given, settings, strategies as st  # noqa: E402


@given(
    st.lists(
        st.tuples(st.integers(1, 8), st.integers(2, 5)), min_size=1, max_size=6
    )
)
@settings(max_examples=25, deadline=None)
def test_viterbi_path_is_valid_shape(shapes):
    rng = np.random.default_rng(0)
    n_lab = shapes[0][1]
    ems = [rng.normal(size=(t, n_lab)) for t, _ in shapes]
    out = _decode_each(ems, np.zeros((n_lab, n_lab)))
    for e, g in zip(ems, out):
        assert g.shape == (e.shape[0],)
        assert ((g >= 0) & (g < n_lab)).all()
        # with zero transitions the decode is the pointwise argmax
        assert np.array_equal(g, e.argmax(axis=1))


def test_segmenter_new_zones(fixture_docs_pdf):
    """titlePage / rightnote / marginnote (MedicalLabels.java:15-25): the
    cover page of fx-cover-0011 is titlePage (header moves to page 2);
    recipient blocks and NB-annotations get their margin zones."""
    import pandas as pd

    from grobid_clinical_report_spark.pipeline import _docs_batch, _prepared, _zoned

    cover = fixture_docs_pdf[
        fixture_docs_pdf.doc_id == "fx-cover-0011"
    ].reset_index(drop=True)
    _, lines = next(_prepared([_docs_batch(cover)]))
    lines = _zoned(lines)
    by_text = dict(zip(lines["text"], lines["zone"]))
    assert by_text["COMPTE RENDU D'HOSPITALISATION"] == "titlePage"
    assert by_text["Hôpital de Créteil"] == "titlePage"
    assert by_text["N° 2021-000123"] == "header"
    assert by_text["Dr Luc MOREAU"] == "header"
    assert by_text["SYNTHÈSE MÉDICALE"] == "body"

    margins = pd.DataFrame(
        [
            {
                "doc_id": "m1",
                "spans": [
                    {"kind": "text", "text": t, "media_ref": None, "offset": i}
                    for i, t in enumerate(
                        [
                            "COMPTE RENDU OPÉRATOIRE",
                            "Le 29.04.2000",
                            "",
                            "Destinataire : Dr Jean KOVAC",
                            "Service de Radiologie",
                            "",
                            "OBSERVATIONS :",
                            "Les constantes du patient restent normales ce jour.",
                            "NB : résultat à confirmer au prochain contrôle.",
                        ]
                    )
                ],
            }
        ]
    )
    _, lines = next(_prepared([_docs_batch(margins)]))
    lines = _zoned(lines)
    by_text = dict(zip(lines["text"], lines["zone"]))
    assert by_text["Destinataire : Dr Jean KOVAC"] == "rightnote"
    assert by_text["Service de Radiologie"] == "rightnote"
    assert by_text["OBSERVATIONS :"] == "body"
    assert by_text["NB : résultat à confirmer au prochain contrôle."] == "marginnote"


def test_ner_keyword_window_stays_on_its_line():
    """Fax/Tel keyword windows are line-local: a keyword ending one line
    must not label digits at the start of the NEXT line, and the window
    expires past 8 tokens."""
    import pandas as pd

    from grobid_clinical_report_spark import pipeline as pl

    from grobid_clinical_report_spark import datagen

    lines = [
        ("text", "Envoyez le document par Fax", None),
        ("text", "01 45 17 80 01 est le code du dossier", None),
        ("text", "Fax du service : joindre un deuxieme exemplaire du "
                 "document avant 01 45 17 80 02", None),
    ]
    pdf = pd.DataFrame(
        [{"doc_id": "kw", "spans": datagen._with_offsets(lines)}]
    )
    out = pl.PANDAS_MODES["ner"](pdf)
    kinds = [(s["kind"], s["text"]) for s in out["spans"].iloc[0]]
    assert ("fax", "01 45 17 80 01") not in kinds  # next line: no window
    # >8 tokens after the keyword: window expired, digits unlabeled
    assert not any(k == "fax" for k, _ in kinds)


def test_coalesced_batches_merge_and_cap():
    """_coalesced merges small scan batches up to the doc target, caps on
    span volume (whale protection), drops empties, and passes a single
    batch through without copying — and the merged stream carries exactly
    the input rows in order."""
    import pyarrow as pa

    from grobid_clinical_report_spark import pipeline as pl

    span_t = pa.list_(
        pa.struct(
            [
                pa.field("kind", pa.string()),
                pa.field("text", pa.string()),
                pa.field("media_ref", pa.string()),
                pa.field("offset", pa.int32()),
            ]
        )
    )

    def mk(n_docs, spans_per_doc, tag):
        ids = [f"{tag}-{i:04d}" for i in range(n_docs)]
        spans = [
            [
                {"kind": "text", "text": f"l{j}", "media_ref": None,
                 "offset": j}
                for j in range(spans_per_doc)
            ]
            for _ in range(n_docs)
        ]
        return pa.RecordBatch.from_arrays(
            [pa.array(ids), pa.array(spans, type=span_t)],
            names=["doc_id", "spans"],
        )

    # 6 × 256-doc batches → one 1024-doc batch + one 512-doc tail
    batches = [mk(256, 3, f"b{k}") for k in range(6)]
    out = list(pl._coalesced(iter(batches)))
    assert [b.num_rows for b in out] == [1024, 512]
    got = [i for b in out for i in b.column("doc_id").to_pylist()]
    want = [i for b in batches for i in b.column("doc_id").to_pylist()]
    assert got == want  # order preserved exactly

    # span cap: a whale-heavy batch flushes early even far below the doc cap
    whale = mk(2, pl._COALESCE_SPANS, "w")  # 2 docs, cap-sized span volume
    out = list(pl._coalesced(iter([mk(10, 3, "a"), whale, mk(10, 3, "z")])))
    assert [b.num_rows for b in out] == [12, 10]

    # empties dropped; single batch passes through as the same object
    single = mk(7, 2, "s")
    out = list(pl._coalesced(iter([mk(0, 0, "e"), single])))
    assert len(out) == 1 and out[0] is single


def test_viterbi_general_tiling_exact(monkeypatch):
    """The general-transition row tiling (serving-scale trained matrices:
    the (B, L, L) scores buffer is kept cache-resident) must be
    bit-identical to the unsplit decode — rows are independent — across
    both one-length blocks and padded buckets, including argmax
    tie-breaks (low-entropy integer scores force ties), and int32/int64
    emissions must agree."""
    from grobid_clinical_report_spark.kernels import viterbi as V

    rng = np.random.default_rng(23)
    for trial in range(6):
        L = int(rng.integers(3, 9))
        # mixed lengths: ≤64 exercises one-length blocks, >64 padded buckets
        lens = rng.choice([1, 2, 5, 17, 17, 17, 70, 90], size=700)
        n = int(lens.sum())
        em64 = rng.integers(-3, 4, size=(n, L)).astype(np.int64)
        tr = rng.integers(-2, 3, size=(L, L)).astype(np.int64)
        # make sure the matrix is NOT column-structured (general branch)
        tr[0, 1] += 5
        tr[1, 1] -= 5
        assert V._col_move(tr)[0] is None
        starts = np.concatenate([[0], np.cumsum(lens)[:-1]]).astype(np.int64)
        whole = V.viterbi_segments(em64, starts, tr)
        monkeypatch.setattr(V, "_GENERAL_TILE_BYTES", 1)  # tile every row
        tiled64 = V.viterbi_segments(em64, starts, tr)
        tiled32 = V.viterbi_segments(em64.astype(np.int32), starts, tr)
        monkeypatch.undo()
        np.testing.assert_array_equal(tiled64, whole)
        np.testing.assert_array_equal(tiled32, whole)


def test_byte_kernels_match_re2():
    """The r8 numpy byte-buffer kernels are byte-exact vs the pc/RE2
    kernels they replace, over randomized inputs covering multibyte UTF-8
    (Latin-1 C3 pairs, Œ/œ at lead 0xC5, µ at 0xC2, ’ at 0xE2, emoji),
    NULs, empties, whitespace variants (incl. \\v, which RE2's \\s does
    NOT match), slices, and null-bearing fallback inputs."""
    import random

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from grobid_clinical_report_spark.kernels import arrowtext as at

    cases = [
        "", " ", "  \t\n x ", "\v", "a\vb", "A B", "àÉç", "Œuf", "cœur",
        "HÉMATO", "ß", "µmol", "N° 12-34", "a'b'c'd", "l’hôpital",
        "x" * 300, "1.2.34", "  multi   runs\t\t\nhere ", "\x00nul",
        "à ö ÷ ×", "ÿStart", "øk", "…", "№", "ＡＢ", "Ñoño",
    ]
    rng = random.Random(13)
    alphabet = " \t\n\v\f\rabzAZÉé'’àöø ÿŒœßµ0159#.:-\x00…x"
    cases += [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 60)))
        for _ in range(800)
    ]
    arr = pa.array(cases, type=pa.string())
    variants = [arr, arr.slice(5, 700)]
    for a in variants:
        assert pc.replace_substring_regex(a, r"[\s ]+", " ").equals(
            at.collapse_ws_runs(a)
        )
        np.testing.assert_array_equal(
            at.any_digit(a), at.contains(a, r"\d")
        )
        nl_want = pc.match_substring(a, "\n").to_numpy(zero_copy_only=False)
        np.testing.assert_array_equal(at.contains_byte(a, 0x0A), nl_want)
        np.testing.assert_array_equal(
            at.starts_upper_letter(a), at.match(a, r"[A-ZÀ-ÖØ]")
        )
        np.testing.assert_array_equal(
            at.starts_lower_letter(a), at.match(a, r"[a-zà-öø-ÿ]")
        )
        np.testing.assert_array_equal(
            at.no_lowercase(a),
            pc.equal(pc.utf8_upper(a), a).to_numpy(zero_copy_only=False),
        )
    # null-bearing inputs take the pc fallback and stay equivalent
    wn = pa.array(["A b", None, "12", "ŒUF"], type=pa.string())
    assert at.collapse_ws_runs(wn).to_pylist() == ["A b", None, "12", "ŒUF"]
    empty = pa.array([], type=pa.string())
    assert at.collapse_ws_runs(empty).to_pylist() == []
    assert at.any_digit(empty).tolist() == []


def test_mask_or_trailing_empty_strings():
    """A string followed only by empty strings keeps its last byte in its
    reduceat segment."""
    import numpy as np
    import pyarrow as pa

    from grobid_clinical_report_spark.kernels import arrowtext as at

    offs, data = at._np_view(pa.array(["XYZa", "", ""], type=pa.string()))
    mask = (data >= 0x61) & (data <= 0x7A)
    assert at._mask_or(offs, mask).tolist() == [True, False, False]


def test_np_parts_matches_re2():
    """The numpy TOKEN_RE tokenization kernel (digit-free fast path of
    explode_tokens) produces part lists identical to RE2
    bracket-then-split, over apostrophe-chain torture cases, multibyte
    codepoints (Latin-1, Œ/œ, NBSP, emoji), \\v (a token — RE2 \\s does
    not match it), and sliced arrays."""
    import random

    import pyarrow as pa
    import pyarrow.compute as pc

    from grobid_clinical_report_spark.kernels import tokenize as tk

    def re2_mark(a):
        return pc.replace_substring_regex(
            a, f"({tk.TOKEN_RE})", "\x00\\1\x00"
        )

    cases = [
        "", " ", "mot mot", "l'hôpital", "l’hôpital", "a'b'c'd", "'a'b",
        "fin'", "’seul", "cœur", "Œuf", "…", "a\vb", "mot-clé",
        "M. DUPONT", "eà'é’o", "'''", "’’’", "a'’b", "a’'b", "x" * 300,
        " •🎉 ", "d’emblée l’état",
    ]
    rng = random.Random(41)
    for alphabet in ("a'’b", " a'’ é🎉•øß… b", "ab AZé'’.:-()« "):
        cases += [
            "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 80)))
            for _ in range(1200)
        ]
    arr = pa.array(cases, type=pa.string())

    def re2_parts(a):
        return pc.split_pattern(re2_mark(a), "\x00")

    assert re2_parts(arr).equals(tk._np_parts(arr))
    sl = arr.slice(7, 2000)
    assert re2_parts(sl).equals(tk._np_parts(sl))
    allempty = pa.array(["", "", ""], type=pa.string())
    assert re2_parts(allempty).equals(tk._np_parts(allempty))
    # the hybrid split inside explode_tokens: mixed digit / digit-free
    # lines produce identical token frames vs the pure-RE2 bracketing
    import pandas as pd

    mixed = pd.DataFrame(
        {
            "doc_id": [0] * 6,
            "seq": range(6),
            "text": [
                "le 29.04.2000 à 10h30", "l'état stable", "",
                "dose 2,5 mg/j", "d’emblée…", "12/05/99 13:00",
            ],
        }
    )
    got = tk.explode_tokens(mixed)
    want_toks = [
        "le", "29.04.2000", "à", "10h30", "l'état", "stable",
        "dose", "2,5", "mg", "/", "j", "d’emblée", "…",
        "12/05/99", "13:00",
    ]
    assert got["tok"].tolist() == want_toks
