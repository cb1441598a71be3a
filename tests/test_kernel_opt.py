"""Focused tests for the kernel internals:

- the kernel factory's UDF (`make_registry_classify_udf`) must equal the
  scalar oracle on a real Spark plan whose Arrow batches mix job_types
  — rows of two label sets in one batch, null and empty text, and the
  wide-vocabulary argpartition path at 1000 labels.
- `conv_summaries`' single-pass grouping must emit an EMPTY map (not
  null) for a conversation whose every turn failed validation.
"""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F

from distributed_classification_system_spark.functions.kernel import (
    make_registry_classify_udf,
    score_text,
)
from distributed_classification_system_spark.operators.classify import DOC_LABELS_1K


def test_factory_udf_matches_scalar_oracle_on_spark(spark):
    labels_by_job = {"small": ["spark", "join", "filter"], "wide": DOC_LABELS_1K}
    texts = ["spark join spark", "class0007 class0007 filter", "", None, "the a of"]
    configs = [("small", 2, 0.3), ("wide", 3, 0.0)]
    # every text under both job_types, interleaved, in ONE partition: the
    # kernel must split each Arrow batch into its label-set groups
    rows = [
        (i, text, job, k, thr)
        for i, (text, (job, k, thr)) in enumerate(itertools.product(texts, configs))
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, job_type string, top_k int, threshold double"
    ).coalesce(1)
    kern = make_registry_classify_udf(labels_by_job)
    got = {
        r["doc_id"]: r["r"].asDict(recursive=True)
        for r in docs.select("doc_id", kern("text", "job_type", "top_k", "threshold").alias("r")).collect()
    }
    assert len(got) == len(rows) == 10
    for doc_id, text, job, k, thr in rows:
        assert got[doc_id] == score_text(text, labels_by_job[job], k, thr), (doc_id, job)


def test_conv_summaries_all_failed_conversation_has_empty_map(spark):
    from distributed_classification_system_spark.operators.sessionize import conv_summaries

    turns = spark.createDataFrame(
        [
            ("c1", 0, "2025-01-01 00:00:00", "m", "spark", 0.05, "empty_text"),
            ("c1", 1, "2025-01-01 00:00:01", "m", "spark", 0.05, "null_ts"),
            ("c2", 0, "2025-01-01 00:00:00", "m", "spark", 0.05, None),
        ],
        "conv_id string, turn_idx int, ts string, model_used string,"
        " top_prediction string, processing_time_ms double, error_reason string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    config = spark.createDataFrame([("c1", 2), ("c2", 1)], "conv_id string, n_turns int")
    rows = {r["conv_id"]: r for r in conv_summaries(turns, config).collect()}
    assert rows["c1"]["grouped_by_label"] == {}  # empty map, not null
    assert rows["c1"]["failed"] == 2 and rows["c1"]["status"] == "completed"
    assert rows["c2"]["grouped_by_label"] == {"spark": ["turn-00000"]}
