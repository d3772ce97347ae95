"""Explicit schemas (no runtime inference -- SURVEY.md section 1.3).

Input: Common-Crawl-style pages table per BASELINE.json input_hint:
``(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)``.

Entity struct mirrors ``Entity`` (``detector.go:22-29``); offsets are
codepoint offsets (see kernel/entities.py).
"""

from __future__ import annotations

from pyspark.sql import types as T

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

ENTITY_TYPE = T.StructType(
    [
        T.StructField("type", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("start", T.IntegerType(), False),
        T.StructField("end", T.IntegerType(), False),
        T.StructField("confidence", T.DoubleType(), False),
        T.StructField("category", T.StringType(), False),
    ]
)

# Output of the fused quality+scrub kernel (engine/pipeline.py).
SCRUB_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("lang_pred", T.StringType(), False),
        T.StructField("lang_score", T.DoubleType(), False),
        T.StructField("ppl", T.DoubleType(), False),
        T.StructField("keep", T.BooleanType(), False),
        T.StructField("drop_reason", T.StringType(), True),
        T.StructField("n_words", T.IntegerType(), False),
        T.StructField("extracted_ok", T.BooleanType(), False),
        T.StructField("entities", T.ArrayType(ENTITY_TYPE), True),
        T.StructField("n_entities", T.IntegerType(), False),
        T.StructField("scrubbed_text", T.StringType(), True),
    ]
)

# training_feedback table (db.go:145-155 / FIXTURES.md section 3).
TRAINING_FEEDBACK_SCHEMA = T.StructType(
    [
        T.StructField("entity_text", T.StringType(), False),
        T.StructField("entity_type", T.StringType(), False),
        T.StructField("original_score", T.DoubleType(), True),
        T.StructField("user_decision", T.StringType(), False),
        T.StructField("user_confidence", T.DoubleType(), True),
        T.StructField("context", T.StringType(), True),
        T.StructField("timestamp", T.TimestampType(), False),
        T.StructField("session_id", T.StringType(), True),
    ]
)
