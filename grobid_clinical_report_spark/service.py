"""Endpoint-name-compatible facade (SURVEY.md §2.6 API surface).

The reference exposes its engine through REST paths
(GrobidMedicalReportPaths.java:12-84); a user switching to this engine can
dispatch by the SAME endpoint names. Each endpoint maps to a run_mode
DataFrame transform — the Spark-native equivalent of the service layer
(GrobidMedicalReportRestProcessFiles/String.java):

  processFullMedicalText              → extract_full
  processFullMedicalTextAssetDocument → extract_full (media_ref pass-through
                                        IS the asset flow in the span model)
  processHeaderDocument               → extract_header
  processLeftNoteDocument             → extract_leftnote
  processNER / processFrenchMedicalNER→ ner
  processDateline/Medic/Patient       → parse_* string modes
  isalive / version                   → health metadata

`annotatePDF` is intentionally absent — and verifiably vestigial in the
reference itself: GrobidMedicalReportPaths.java:84 declares the path
constant but NO resource method or process handler references it anywhere
under src/main/java/org/grobid/service (grep: the only 'annotat' hits are
metrics @Timed imports). There is no behavior to match; the span data
model additionally carries no page geometry (SURVEY.md §2.6 scope note).
The geometry-free annotation need (entity overlays) is served in process
by `kernels.ner.ner_entities` (doc_id, kind, text, start, end,
confidence_milli — char-offset standoff); the `ner` mode emits flat spans
without char offsets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from . import __version__
from .pipeline import run_mode

ENDPOINTS: dict[str, str] = {
    "processFullMedicalText": "extract_full",
    "processFullMedicalTextAssetDocument": "extract_full",
    "processHeaderDocument": "extract_header",
    "processLeftNoteDocument": "extract_leftnote",
    "processNER": "ner",
    "processFrenchMedicalNER": "ner",
    "processDateline": "parse_dateline",
    "processMedic": "parse_medic",
    "processPatient": "parse_patient",
}


def process(endpoint: str, docs: DataFrame) -> DataFrame:
    """Dispatch a documents DataFrame through the mode the reference
    endpoint of the same name would run."""
    try:
        mode = ENDPOINTS[endpoint]
    except KeyError:
        raise ValueError(
            f"unknown endpoint {endpoint!r}; known: {sorted(ENDPOINTS)}"
        ) from None
    return run_mode(docs, mode)


def is_alive() -> bool:
    return True


def version() -> str:
    return __version__
