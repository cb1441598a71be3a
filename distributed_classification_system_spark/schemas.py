"""Explicit schemas for every table the engine reads or writes.

The reference declares fixed schemas via Go structs + Pydantic models
(reference: backend-service/models/models.go:6-95,
ml-service/schemas/requests.py:17-82); we do the same with StructType —
never ``inferSchema``.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Input stream: multi-turn agent transcripts (BASELINE.json input_hint).
# One row per turn — the analogue of one per-item SQS work message
# (reference: backend-service/models/models.go:40-49).
# ---------------------------------------------------------------------------
TRANSCRIPTS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

# ---------------------------------------------------------------------------
# Static dimension: model/label registry, joined stream-static on job_type
# (reference model dispatch: ml-service/controllers/
# classification_controller.py:77-80; label sets models/models.go:45).
# ---------------------------------------------------------------------------
LABEL_REGISTRY = T.StructType(
    [
        T.StructField("job_type", T.StringType(), False),
        T.StructField("model_name", T.StringType(), False),
        T.StructField("labels", T.ArrayType(T.StringType()), False),
        T.StructField("prompt_template", T.StringType(), True),
    ]
)

PREDICTION = T.StructType(
    [
        T.StructField("label", T.StringType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)

# ---------------------------------------------------------------------------
# Per-turn output, keyed (conv_id, turn_idx) — the exactly-once MERGE key
# (reference ImageResult: backend-service/models/models.go:66-74).
# ---------------------------------------------------------------------------
TURN_RESULTS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("top_prediction", T.StringType(), True),
        T.StructField("top_confidence", T.DoubleType(), True),
        T.StructField("all_predictions", T.ArrayType(PREDICTION), True),
        T.StructField("reason", T.StringType(), True),
        T.StructField("model_used", T.StringType(), True),
        T.StructField("processing_time_ms", T.DoubleType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("batch_id", T.LongType(), True),
        T.StructField("part_id", T.IntegerType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Per-conversation session summary (reference ClassificationResult /
# ClassificationSummary: models/models.go:52-63,83-87; fold at
# backend-service/handlers/handlers.go:231-304).
# ---------------------------------------------------------------------------
CONV_SUMMARIES = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("model_used", T.StringType(), True),
        T.StructField("total", T.IntegerType(), False),
        T.StructField("classified", T.IntegerType(), False),
        T.StructField("unknown", T.IntegerType(), False),
        T.StructField("grouped_by_label", T.MapType(T.StringType(), T.ArrayType(T.StringType())), True),
        T.StructField("processing_time_ms", T.DoubleType(), True),
        T.StructField("completed_at", T.TimestampType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Engine observability (reference CloudWatch series:
# load-tests/utils/metrics_collector.py:46-75).
# ---------------------------------------------------------------------------
METRICS = T.StructType(
    [
        T.StructField("batch_id", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("input_rows", T.LongType(), False),
        T.StructField("turns_per_sec", T.DoubleType(), True),
        T.StructField("state_rows", T.LongType(), True),
        T.StructField("watermark", T.StringType(), True),
        T.StructField("num_partitions", T.IntegerType(), True),
    ]
)

# Driver-provided TPC-H-ish tables (read-only, /root/testdata/sf*/).
DRIVER_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
