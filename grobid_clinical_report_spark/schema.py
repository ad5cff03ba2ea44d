"""Spark schemas for the extraction engine.

Data model per BASELINE.json `input_hint` / FIXTURES.md:
one row per document, interleaved text+media spans ordered by `offset`.

Reference mapping (SURVEY.md §1.4): the reference's `Document` object graph
(pages → blocks → LayoutTokens, MedicalReportSegmenterParser.java:133-149)
becomes a single row whose `spans` array carries the physical lines (the
segmenter's labeling unit, MedicalReportSegmenterParser.java:236-241) and
interleaved media markers.
"""

from __future__ import annotations

import pyspark.sql.types as T

# ---------------------------------------------------------------------------
# Input table: documents(doc_id, spans)
# ---------------------------------------------------------------------------

SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), False),
    ]
)

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT, False), False),
    ]
)

# DDL forms for mapInArrow
SPAN_DDL = (
    "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)
DOCUMENTS_DDL = f"doc_id string, spans {SPAN_DDL}"
EXTRACTED_DDL = DOCUMENTS_DDL

# ---------------------------------------------------------------------------
# Manifest table (checkpoint/resume; SURVEY.md §2.1 S6, §7.2 step 6)
# ---------------------------------------------------------------------------

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("status", T.StringType(), False),  # 'done'
        T.StructField("n_docs", T.LongType(), False),
        T.StructField("n_spans", T.LongType(), False),
        T.StructField("n_quarantined", T.LongType(), False),
        T.StructField("wall_sec", T.DoubleType(), False),
        T.StructField("input_path", T.StringType(), False),
        T.StructField("code_version", T.StringType(), False),
        T.StructField("run_id", T.StringType(), False),
        # job shape — resume validates these so outputs of incompatible runs
        # can never silently mix under one output directory
        T.StructField("mode", T.StringType(), False),
        T.StructField("n_buckets", T.IntegerType(), False),
        T.StructField("max_spans", T.LongType(), False),
    ]
)
