"""Explicit schemas — the table contract, never inferred.

Reference analogue: the ``Extraction`` record
(``fulltext/domain.py:12-74``) and the JSON Schema mirror
(``schema/resources/Extraction.json``); the span shape is mandated by
BASELINE.json's input_hint.
"""

from pyspark.sql import types as T

# Input: (doc_id, spans:array<struct<kind,text,media_ref,offset:int32>>)
INPUT_SPAN = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), False),
    ]
)

INPUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(INPUT_SPAN), False),
    ]
)

# Output span: the (kind, text, media_ref, order) invariant.
OUTPUT_SPAN = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("order", T.IntegerType(), False),
    ]
)

# The per-document extraction columns of the committed output (the
# keys of ``functions.extract.extract_document``). The UDF itself
# returns the thinner ``span_extract._TEXT_RESULT``; spans and span
# counts are rebuilt JVM-side.
EXTRACT_RESULT = T.StructType(
    [
        T.StructField("spans", T.ArrayType(OUTPUT_SPAN), False),
        T.StructField("plain_text", T.StringType(), True),
        T.StructField("psv_text", T.StringType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("failure_class", T.StringType(), True),
        T.StructField("via", T.StringType(), False),
        T.StructField("chars_extracted", T.LongType(), False),
        T.StructField("n_text_spans", T.IntegerType(), False),
        T.StructField("n_media_spans", T.IntegerType(), False),
    ]
)

# Bucket namespaces (reference ``fulltext/domain.py:87-94``: the
# ``arxiv`` vs ``submission`` buckets). An OPTIONAL input column —
# the input_hint mandates exactly (doc_id, spans), so inputs without
# it are stamped with the default at extraction time.
DEFAULT_BUCKET = "arxiv"

# Committed output table = doc_id + bucket + everything above +
# lineage columns.
OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("bucket", T.StringType(), False),
    ]
    + EXTRACT_RESULT.fields
    + [
        T.StructField("extractor_version", T.StringType(), False),
        T.StructField("started", T.TimestampType(), False),
        T.StructField("ended", T.TimestampType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
    ]
)

# Per-partition lineage/metrics table, one row per (commit, partition).
LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("snapshot_id", T.LongType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("n_docs", T.LongType(), False),
        T.StructField("n_succeeded", T.LongType(), False),
        T.StructField("n_failed", T.LongType(), False),
        T.StructField("chars_extracted", T.LongType(), False),
        T.StructField("n_text_spans", T.LongType(), False),
        T.StructField("n_media_spans", T.LongType(), False),
        T.StructField("extractor_version", T.StringType(), False),
    ]
)
