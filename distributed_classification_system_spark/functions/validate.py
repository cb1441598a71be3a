"""Input validation + failure side-output (SURVEY.md §2.10 T6).

The reference records per-item classification errors instead of dying:
the worker catches the failure and emits an error status message
(ml-service/sqs_worker.py:96-119), the backend increments a failed
counter, keeps the job going and completes it counting failures
(backend-service/handlers/handlers.go:306-336). This module is the
engine's dead-letter path: a single Catalyst CASE expression tags each
row with its first validation error (or NULL when valid); tagged rows

- still flow through the one streaming query (no second source scan),
- pass through the fold as ``row_type='error'`` rows carrying the reason,
- count toward session ``total``/completion as ``failed`` (never as
  classified/unknown, never into the label grouping),

so a malformed turn can neither poison the classifier output nor wedge a
session open forever. All checks are JVM-side predicates — the error path
costs one codegen'd CASE per row, nothing else.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EMPTY_TEXT = "empty_text"
NULL_TS = "null_ts"
BAD_TURN_IDX = "bad_turn_idx"


def error_reason_expr() -> Column:
    """First failing validation of ``text`` / ``ts`` / ``turn_idx``, NULL
    when the row is valid."""
    text, turn_idx = F.col("text"), F.col("turn_idx")
    return (
        F.when(text.isNull() | (F.length(text) == 0), F.lit(EMPTY_TEXT))
        .when(F.col("ts").isNull(), F.lit(NULL_TS))
        .when(turn_idx.isNull() | (turn_idx < 0), F.lit(BAD_TURN_IDX))
    )


def with_error_reason(df: DataFrame) -> DataFrame:
    return df.withColumn("error_reason", error_reason_expr())


def split_failed(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(valid, failed) halves for batch pipelines; the streaming engine
    instead routes tagged rows through the fold as row_type='error'."""
    tagged = with_error_reason(df)
    return (
        tagged.filter(F.col("error_reason").isNull()).drop("error_reason"),
        tagged.filter(F.col("error_reason").isNotNull()),
    )
