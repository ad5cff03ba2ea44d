"""Span-sequence equality gate (FIXTURES.md §5, BASELINE.md correctness gate):
for every fixture document, pipeline output must equal the expected ordered
(kind, text, media_ref) list exactly — first in-process (PANDAS_MODES), then
through the Spark mapInArrow path (the same batch loop, verified)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from grobid_clinical_report_spark import datagen
from grobid_clinical_report_spark.pipeline import PANDAS_MODES, run_mode
from grobid_clinical_report_spark.schema import DOCUMENTS_SCHEMA

CASES = [
    (mode, doc_id, exp)
    for mode, m in datagen.FIXTURE_EXPECTED.items()
    for doc_id, exp in m.items()
]


def _triples(spans) -> list[tuple]:
    return [(s["kind"], s["text"], s["media_ref"]) for s in spans]


@pytest.mark.parametrize("mode,doc_id,expected", CASES)
def test_fixture_pandas(fixture_docs_pdf, mode, doc_id, expected):
    pdf = fixture_docs_pdf[fixture_docs_pdf.doc_id == doc_id].reset_index(
        drop=True
    )
    out = PANDAS_MODES[mode](pdf)
    assert _triples(out.spans.iloc[0]) == [tuple(e) for e in expected]


def _doc(doc_id: str, *texts: str) -> dict:
    return {
        "doc_id": doc_id,
        "spans": datagen._with_offsets([("text", t, None) for t in texts]),
    }


@pytest.mark.parametrize("mode", sorted(PANDAS_MODES))
def test_token_mode_spans_ignore_batch_neighbours(
    fixture_docs_pdf, hostile_docs_pdf, mode
):
    """A document's spans do not depend on which documents share its batch,
    in every mode: the same alone, in one batch with the fixtures, a
    synthetic corpus and the hostile batch, and in that batch shuffled and
    cut into 37-doc batches. No cue reaches across a line or a document.
    The two pairs are the patient cues that once did — a doc ending in
    'née' turned the next doc's 'le' into a birthdate article, and a doc
    starting with 'ans' turned the previous doc's last number into an
    age."""
    pairs = pd.DataFrame(
        [
            _doc("ends-born", "Madame Jeanne DUPONT née"),
            _doc("born", "le 02/02/1962 à Lyon"),
            _doc("age", "Patient âgé de 50"),
            _doc("starts-ans", "ans plus tard, Madame Jeanne DUPONT"),
        ]
    )
    small = pd.concat([pairs, fixture_docs_pdf], ignore_index=True)
    batch = pd.concat(
        [small, datagen.synthetic_documents_pdf(150, seed=13),
         hostile_docs_pdf],
        ignore_index=True,
    )
    run = PANDAS_MODES[mode]
    together = run(batch).spans
    assert len(together) == len(batch)
    for i, doc_id in enumerate(small["doc_id"]):
        alone = run(batch.iloc[[i]].reset_index(drop=True))
        assert together.iloc[i] == alone.spans.iloc[0], doc_id
    order = np.random.default_rng(37).permutation(len(batch))
    for lo in range(0, len(order), 37):
        rows = order[lo:lo + 37]
        split = run(batch.iloc[rows].reset_index(drop=True)).spans
        for j, i in enumerate(rows):
            assert together.iloc[i] == split.iloc[j], batch["doc_id"][i]
    if mode == "parse_patient":
        born = {(s["kind"], s["text"]) for s in together.iloc[1]}
        assert ("birthdate", "02/02/1962") in born


@pytest.mark.parametrize("mode", sorted(datagen.FIXTURE_EXPECTED))
def test_fixture_spark(spark, fixture_docs_pdf, mode):
    df = spark.createDataFrame(fixture_docs_pdf, schema=DOCUMENTS_SCHEMA)
    rows = {r["doc_id"]: r["spans"] for r in run_mode(df, mode).collect()}
    for doc_id, expected in datagen.FIXTURE_EXPECTED[mode].items():
        got = [(s["kind"], s["text"], s["media_ref"]) for s in rows[doc_id]]
        assert got == [tuple(e) for e in expected], f"{mode}/{doc_id}"


def test_offsets_strictly_increasing(fixture_docs_pdf):
    """Property: output spans stay ordered by offset; media never reordered
    relative to neighbors (FIXTURES.md §5 / SURVEY.md §5.2.4)."""
    out = PANDAS_MODES["extract_full"](fixture_docs_pdf)
    for spans in out.spans:
        offs = [s["offset"] for s in spans]
        assert offs == sorted(offs)


def test_output_kinds_in_vocabulary(fixture_docs_pdf):
    from grobid_clinical_report_spark.kernels.labels import (
        BODY_LABELS,
        SEG_LABELS,
    )

    vocab = set(BODY_LABELS) | set(SEG_LABELS)
    out = PANDAS_MODES["extract_full"](fixture_docs_pdf)
    for spans in out.spans:
        assert {s["kind"] for s in spans} <= vocab


def test_determinism_same_input_twice(fixture_docs_pdf):
    a = PANDAS_MODES["extract_full"](fixture_docs_pdf)
    b = PANDAS_MODES["extract_full"](fixture_docs_pdf)
    assert a.equals(b)


def test_line_features_computed_only_where_read(fixture_docs_pdf, monkeypatch):
    """Line features are computed by the stages that read them: the line
    modes featurize every line once per batch, the header/left-note paths
    add the extras to their own zone's lines only, and the token modes and
    token-level training/serving mappers featurize no line at all."""
    import numpy as np

    from grobid_clinical_report_spark import pipeline, trainer
    from grobid_clinical_report_spark.kernels.features import featurize_lines
    from grobid_clinical_report_spark.kernels.segmenter import segment_lines

    calls = []
    for name in ("featurize_lines", "featurize_extras"):
        def record(lines, _real=getattr(pipeline, name), _name=name):
            calls.append((_name, lines))
            return _real(lines)

        monkeypatch.setattr(pipeline, name, record)

    class Docs:  # the one input batch a mapper sees, without Spark
        def mapInArrow(self, fn, schema):
            return list(fn(iter([pipeline._docs_batch(fixture_docs_pdf)])))

    def calls_of(run):
        calls.clear()
        assert len(run()) > 0
        return list(calls)

    def assert_zone_only(got, zone):
        assert [n for n, _ in got] == ["featurize_lines", "featurize_extras"]
        lines, extras_in = got[0][1], got[1][1]
        zones = np.asarray(segment_lines(featurize_lines(lines)))
        assert extras_in.index.equals(lines.index[zones == zone])
        assert len(extras_in) > 0

    for mode, fn in pipeline.PANDAS_MODES.items():
        got = calls_of(lambda: fn(fixture_docs_pdf))
        if mode == "extract_full":
            assert [n for n, _ in got] == ["featurize_lines"]
        elif mode in ("extract_header", "extract_leftnote"):
            assert_zone_only(got, mode.removeprefix("extract_"))
        else:
            assert got == [], mode

    got = calls_of(lambda: pipeline.run_training(Docs(), "segmenter"))
    assert [n for n, _ in got] == ["featurize_lines"]
    for model in ("header", "leftnote"):
        assert_zone_only(calls_of(lambda: pipeline.run_training(Docs(), model)), model)

    spec = trainer._ner_spec()
    W = np.ones((spec.n_feats, spec.n_labels), dtype=np.int64)
    T = np.zeros((spec.n_labels, spec.n_labels), dtype=np.int64)
    for run in (
        lambda: pipeline.run_training_ner(Docs()),
        lambda: trainer.build_training_set(Docs()),
        lambda: trainer.run_trained_ner(Docs(), W, T),
    ):
        assert calls_of(run) == []
