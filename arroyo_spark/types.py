"""Schemas and constants for the engine's data model.

The reference's message model (/root/reference/arroyo/types.py:10-196) is an
opaque-payload envelope ``BrokerValue(payload, partition, offset, timestamp)``.
Ours is a fixed explicit columnar schema (per BASELINE.json input_hint):
transcript turns, plus broker-style ``(partition, offset)`` lineage columns on
the streaming source so commit semantics ("committed offset = next offset to
read", /root/reference/arroyo/backends/abstract.py:22-51) survive translation.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# transcripts — the primary input table (input_hint schema)
# ---------------------------------------------------------------------------
TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

# broker-style lineage columns carried by the streaming source
# (mirrors BrokerValue: /root/reference/arroyo/types.py:158-196)
BROKER_COLUMNS = T.StructType(
    [
        T.StructField("partition", T.IntegerType(), False),
        T.StructField("offset", T.LongType(), False),
    ]
)

STREAM_SCHEMA = T.StructType(list(TRANSCRIPT_SCHEMA.fields) + list(BROKER_COLUMNS.fields))

TOOL_VOCAB = (
    "search",
    "browser",
    "python",
    "bash",
    "sql",
    "calculator",
    "retrieval",
    "code_exec",
    "image_gen",
    "translator",
    "summarizer",
    "planner",
)

# DLQ row (mirrors KafkaDlqProducer headers original_partition/original_offset,
# /root/reference/arroyo/dlq.py:228-253)
DLQ_SCHEMA = T.StructType(
    [
        T.StructField("original_partition", T.IntegerType(), False),
        T.StructField("original_offset", T.LongType(), False),
        T.StructField("reason", T.StringType(), True),
        T.StructField("payload", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)
