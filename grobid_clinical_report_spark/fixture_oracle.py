"""Driver-oracle visibility for the extraction cascade (VERDICT round 1 #1).

The cascade itself (CRF-style labeling, zone assembly) is not SQL-expressible,
but its *fixture contract* is: ``datagen.FIXTURE_EXPECTED`` pins, per mode and
per fixture document, the exact ordered (kind, text, media_ref) span sequence
the pipeline must emit (mirroring the reference's golden service fixtures,
resources/test/processFullMedicalText.xml span order, doc/API_service.md
cURL examples). So each extraction mode gets a driver query that

  1. builds the deterministic fixture documents restricted to the mode's
     expected set (spark.createDataFrame — no external data, FIXTURES.md §1),
  2. runs the real Spark path (run_mode → mapInArrow → kernels), and
  3. flattens to (doc_id, seq, kind, text, media_ref) where ``seq`` is the
     within-document emission rank (posexplode) — offsets are pipeline-
     internal char positions, the *order* is the contract;

and a DuckDB oracle that is a literal VALUES table generated from
``FIXTURE_EXPECTED`` at import time. Hash equality between the two IS
span-sequence equality, which is exactly the north-rule correctness
criterion — now enforced by the driver's hard gate, not only by pytest.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import datagen
from .pipeline import FLAT_MODES, run_mode
from .schema import DOCUMENTS_SCHEMA


def _sql_str(s: str | None) -> str:
    if s is None:
        return "CAST(NULL AS VARCHAR)"
    return "'" + s.replace("'", "''") + "'"


def values_sql(rows, columns: str) -> str:
    """Literal VALUES table named ``t(columns)``, one row per tuple: ints
    become INT literals, strings (and None) VARCHAR ones."""
    body = ",\n ".join(
        "("
        + ", ".join(
            f"CAST({v} AS INT)" if isinstance(v, int) else _sql_str(v)
            for v in row
        )
        + ")"
        for row in rows
    )
    return f"SELECT * FROM (VALUES\n {body}\n) AS t({columns})"


def _fixture_docs(spark: SparkSession, keep) -> DataFrame:
    """The fixture documents whose doc_id is in ``keep``, as a Spark
    DataFrame."""
    pdf = datagen.fixture_documents_pdf()
    pdf = pdf[pdf.doc_id.isin(sorted(keep))].reset_index(drop=True)
    return spark.createDataFrame(pdf, schema=DOCUMENTS_SCHEMA)


def fixture_docs_df(spark: SparkSession, mode: str) -> DataFrame:
    """The fixture documents a mode is graded on, as a Spark DataFrame."""
    return _fixture_docs(spark, datagen.FIXTURE_EXPECTED[mode])


def fixture_query(mode: str) -> Callable[[SparkSession, str], DataFrame]:
    """Oracle-checkable fixture-parity query for one extraction mode.

    ``sf_dir`` is unused by design: the input is the deterministic fixture
    corpus (north rule: synthesize deterministically at small scale), and the
    oracle is scale-invariant. Corpus-scale execution of the same code path
    is exercised by entry() / bench.py / runner tests.
    """

    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        out = run_mode(fixture_docs_df(spark, mode), mode)
        return out.selectExpr(
            "doc_id", "posexplode(spans) as (seq, span)"
        ).selectExpr(
            "doc_id",
            "cast(seq as int) as seq",
            "span.kind as kind",
            "span.text as text",
            "span.media_ref as media_ref",
        )

    return q


def fixture_oracle_sql(mode: str) -> str:
    """Literal VALUES oracle: the pinned expected span sequences."""
    return values_sql(
        (
            (doc_id, i, kind, text, media_ref)
            for doc_id, exp in sorted(datagen.FIXTURE_EXPECTED[mode].items())
            for i, (kind, text, media_ref) in enumerate(exp)
        ),
        "doc_id, seq, kind, text, media_ref",
    )


# mode → driver-query name (kept identical to round-1 names so the former
# `no_oracle` rows flip to green under the same keys)
QUERY_NAMES = {
    "extract_full": "extract_full",
    "extract_header": "extract_header",
    "extract_leftnote": "extract_leftnote",
    "ner": "ner_entities",
    "parse_dateline": "parse_dateline",
    "parse_medic": "parse_medic",
    "parse_patient": "parse_patient",
    "parse_name": "parse_name",
    "parse_address": "parse_address",
    "parse_org": "parse_org",
}

OPS: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    name: fixture_query(mode) for mode, name in QUERY_NAMES.items()
}
ORACLES: dict[str, str] = {
    name: fixture_oracle_sql(mode) for mode, name in QUERY_NAMES.items()
}

# sanity: every mode in the map must exist in the pipeline
assert set(QUERY_NAMES) <= set(FLAT_MODES), sorted(
    set(QUERY_NAMES) - set(FLAT_MODES)
)


# ---------------------------------------------------------------------------
# A2 training-data generator (createTraining* analog): per-line labeled
# table for segmenter refits, oracle = pinned zone sequences
# ---------------------------------------------------------------------------


def q_training_segmenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pipeline import run_training

    docs = _fixture_docs(spark, datagen.FX_SEG_TRAINING)
    return run_training(docs, model="segmenter").select(
        "doc_id", "seq", "label"
    )


def _pins_oracle_sql(pins: dict, columns: str) -> str:
    """VALUES oracle of per-document pins {doc_id: [(seq, ...), ...]}: one
    row (doc_id, seq, ...) per pin, documents in doc_id order."""
    return values_sql(
        ((doc_id, *pin) for doc_id, rows in sorted(pins.items()) for pin in rows),
        columns,
    )


OPS["training_segmenter"] = q_training_segmenter
ORACLES["training_segmenter"] = _pins_oracle_sql(
    datagen.FX_SEG_TRAINING, "doc_id, seq, label"
)


def q_training_header(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pipeline import run_training

    docs = _fixture_docs(spark, datagen.FX_HDR_TRAINING)
    return run_training(docs, model="header").select(
        "doc_id", "seq", "label"
    )


OPS["training_header"] = q_training_header
ORACLES["training_header"] = _pins_oracle_sql(
    datagen.FX_HDR_TRAINING, "doc_id, seq, label"
)


def q_training_ner(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pipeline import run_training_ner

    docs = _fixture_docs(spark, datagen.FX_NER_TRAINING)
    return run_training_ner(docs).select(
        "doc_id", "seq", "tok_idx", "text", "label"
    )


def _training_ner_oracle_sql() -> str:
    return _pins_oracle_sql(
        datagen.FX_NER_TRAINING, "doc_id, seq, tok_idx, text, label"
    )


OPS["training_ner"] = q_training_ner
ORACLES["training_ner"] = _training_ner_oracle_sql()


def q_training_anonym(spark: SparkSession, sf_dir: str) -> DataFrame:
    """createTrainingAnonym analog (AnonymizeData + createTraining*
    composition): the segmenter supervision table with the A1
    pseudonymization chain applied to the line text — the shareable
    version of the training corpus."""
    from . import anonymize as anon
    from .pipeline import run_training

    docs = _fixture_docs(spark, datagen.FX_SEG_TRAINING)
    t = run_training(docs, model="segmenter")
    return (
        t.selectExpr("doc_id", "seq", "label", f"{anon._spark_stage1()} as t2")
        .selectExpr("doc_id", "seq", "label", f"{anon._spark_stage2()} as t3")
        .selectExpr("doc_id", "seq", f"{anon._spark_stage3()} as text", "label")
    )


OPS["training_anonym"] = q_training_anonym
ORACLES["training_anonym"] = _pins_oracle_sql(
    datagen.FX_ANON_TRAINING, "doc_id, seq, text, label"
)


def q_training_leftnote(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pipeline import run_training

    docs = _fixture_docs(spark, datagen.FX_LEFTNOTE_TRAINING)
    return run_training(docs, model="leftnote").select(
        "doc_id", "seq", "label"
    )


OPS["training_leftnote"] = q_training_leftnote
ORACLES["training_leftnote"] = _pins_oracle_sql(
    datagen.FX_LEFTNOTE_TRAINING, "doc_id, seq, label"
)
