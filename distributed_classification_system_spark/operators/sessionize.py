"""Batch session fold: per-conversation aggregate over classified turns.

Re-expresses the reference's keyed incremental job fold (SURVEY.md §2.4
A1-A7; backend-service/handlers/handlers.go:231-304):

- A2 idempotency dedup — ``dropDuplicates(conv_id, turn_idx)`` replaces the
  O(n) linear scan per message (handlers.go:247-256)
- A3 label→turn grouping — ``collect_list`` per (conv, label), ordered by
  turn_idx (the reference appends in nondeterministic arrival order,
  handlers.go:259-264; we enforce stable turn ordering, the row invariant)
- A4 conditional counters (handlers.go:269-275)
- A5 completion detection ``n_seen >= n_expected`` (handlers.go:291-299)
- A6 processing-time sum (handlers.go:267)

The streaming engine runs the same fold incrementally in keyed state
(streaming/engine.py); this batch form is the golden oracle for
batch ≡ stream equivalence tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# stable per-turn identifier (ref: filename, P8/P9), shared with the
# streaming fold (streaming/state.py) so batch and stream name turns alike
TURN_NAME = "turn-%05d"

DOCS_MODEL = "det-count-v1-docs"
DOCS_BASE_TS = "2025-01-01 00:00:00"


def docs_as_transcripts(documents: DataFrame) -> DataFrame:
    """Transcript-shaped view of the driver's documents table: one
    conversation per source, turn order by doc_id. Exists so the session
    fold (A1-A6) has a DuckDB-checkable input — the flagship's generated
    transcripts use Spark xxhash64 and can't be regenerated in SQL."""
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy("doc_id")
    return documents.select(
        F.col("source").alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        "doc_id",
    ).withColumn(
        "ts",
        F.to_timestamp(F.lit(DOCS_BASE_TS)) + F.make_interval(secs=F.col("turn_idx").cast("double")),
    )


def corrupt_docs_transcripts(documents: DataFrame) -> DataFrame:
    """Deterministically damaged transcript view of documents — the T6
    fixture: nulled/empty text, null ts, negative turn_idx. Corrupted
    turn_idx stays distinct per conversation (-(idx+1), not a constant) so
    idempotency dedup keeps every row and the view stays oracle-exact."""
    tr = docs_as_transcripts(documents).join(documents.select("doc_id", "text"), "doc_id")
    return (
        tr.withColumn(
            "text",
            F.when(F.col("doc_id") % 13 == 0, F.lit(None).cast("string"))
            .when(F.col("doc_id") % 17 == 0, F.lit(""))
            .otherwise(F.col("text")),
        )
        .withColumn("ts", F.when(F.col("doc_id") % 19 == 0, F.lit(None).cast("timestamp")).otherwise(F.col("ts")))
        .withColumn(
            "turn_idx",
            F.when(F.col("doc_id") % 23 == 0, -(F.col("turn_idx") + 1)).otherwise(F.col("turn_idx")).cast("int"),
        )
    )


def conv_fold_docs(documents: DataFrame, with_failures: bool = False) -> DataFrame:
    """The A1 keyed session fold, driver-oracle form: classify the
    documents table with the Catalyst kernel, fold per source-conversation,
    emit the summary row with the label grouping serialized to stable JSON
    (map key order = sorted label, file order = turn_idx — identical to
    the streaming fold's emission, state.py:_summary_row).

    ``with_failures=True`` runs the T6 path over the corrupted view:
    failed rows count toward total/completion, never into the grouping."""
    from pyspark.sql import Window

    from distributed_classification_system_spark.functions.kernel import classify_expr
    from distributed_classification_system_spark.functions.validate import error_reason_expr
    from distributed_classification_system_spark.operators.classify import DOC_LABELS

    # Kernel BEFORE the window exchange (guide §2.4 ordering + the
    # streaming engine's own discipline): the text corruption and the
    # classification depend only on (doc_id, text), so they run on scan
    # partitions at full parallelism; only slim scored rows cross the
    # exchange, and the post-shuffle stage — which AQE legitimately
    # coalesces to very few tasks at this volume — does window + fold
    # arithmetic instead of re-running the kernel single-task.
    par = documents.sparkSession.sparkContext.defaultParallelism
    docs = documents.repartition(par).select(
        "doc_id", F.col("source").alias("conv_id"), "text"
    )
    if with_failures:
        docs = docs.withColumn(
            "text",
            F.when(F.col("doc_id") % 13 == 0, F.lit(None).cast("string"))
            .when(F.col("doc_id") % 17 == 0, F.lit(""))
            .otherwise(F.col("text")),
        )
    res = classify_expr(
        F.col("text"), F.array(*[F.lit(l) for l in sorted(DOC_LABELS)]), F.lit(3), F.lit(0.25)
    )
    scored = docs.select(
        "conv_id",
        "doc_id",
        "text",
        res["top_prediction"].alias("top_prediction"),
        res["processing_time_ms"].alias("processing_time_ms"),
    )
    w = Window.partitionBy("conv_id").orderBy("doc_id")
    idx0 = (F.row_number().over(w) - 1).cast("int")
    tr = scored.withColumn("idx0", idx0).withColumn(
        "ts",
        F.to_timestamp(F.lit(DOCS_BASE_TS)) + F.make_interval(secs=F.col("idx0").cast("double")),
    )
    if with_failures:
        tr = tr.withColumn(
            "ts", F.when(F.col("doc_id") % 19 == 0, F.lit(None).cast("timestamp")).otherwise(F.col("ts"))
        ).withColumn(
            "turn_idx",
            F.when(F.col("doc_id") % 23 == 0, -(F.col("idx0") + 1)).otherwise(F.col("idx0")).cast("int"),
        )
    else:
        tr = tr.withColumn("turn_idx", F.col("idx0"))
    turns = tr.select(
        "conv_id",
        "turn_idx",
        "ts",
        F.lit(DOCS_MODEL).alias("model_used"),
        "top_prediction",
        "processing_time_ms",
        error_reason_expr().alias("error_reason"),
    )
    config = documents.groupBy(F.col("source").alias("conv_id")).agg(
        F.count("*").cast("int").alias("n_turns")
    )
    out = conv_summaries(turns, config)
    return out.select(
        "conv_id", "status", "model_used", "total", "classified", "unknown", "failed",
        F.to_json("grouped_by_label").alias("grouped_json"),
        "processing_time_ms", "completed_at",
    )


def conv_summaries(turn_results: DataFrame, conv_config: DataFrame) -> DataFrame:
    """CONV_SUMMARIES rows from classified turns (batch form of A1).

    If the input carries a T6 ``error_reason`` column, failed rows count
    toward total/completion but never into classified/unknown or the
    label grouping — identical to the streaming folds."""
    tr = turn_results.dropDuplicates(["conv_id", "turn_idx"])
    if "error_reason" not in tr.columns:
        tr = tr.withColumn("error_reason", F.lit(None).cast("string"))
    err = F.col("error_reason").isNotNull()

    # ONE aggregation pass per conv_id: counters AND the label grouping in
    # the same groupBy (the previous two-branch shape ran the upstream
    # kernel/window subtree twice and paid 3 aggregation exchanges plus a
    # SortMergeJoin to stitch the branches back — guide §2.4). The map is
    # built from one sorted (label, turn_idx) entry list with higher-order
    # functions, bit-identical to the old two-level aggregate: array_sort
    # on the struct orders by label then turn_idx, array_distinct keeps
    # first-occurrence (= sorted label) order for the map keys, and the
    # per-label file lists inherit the turn_idx ordering.
    ent = F.when(
        ~err, F.struct(F.col("top_prediction").alias("label"), F.col("turn_idx").alias("turn_idx"))
    )
    agg = tr.groupBy("conv_id").agg(
        F.count("*").cast("int").alias("total"),
        F.sum(F.when(~err & (F.col("top_prediction") != "unknown"), 1).otherwise(0)).cast("int").alias("classified"),
        F.sum(F.when(~err & (F.col("top_prediction") == "unknown"), 1).otherwise(0)).cast("int").alias("unknown"),
        F.sum(F.when(err, 1).otherwise(0)).cast("int").alias("failed"),
        # exact integer cents → one IEEE division: order-independent total
        # (a raw double sum is shuffle-order-dependent and can't hash-match
        # the streaming fold or a SQL oracle). F.round is HALF_UP; the
        # streaming folds use half-to-even — identical only under the
        # no-exact-half-cent precondition documented in streaming/state.py
        (
            F.sum(F.round(F.col("processing_time_ms") * 100).cast("long")).cast("double") / 100.0
        ).alias("processing_time_ms"),
        F.max("ts").alias("completed_at"),
        F.first("model_used").alias("model_used"),
        F.array_sort(F.collect_list(ent)).alias("_ents"),  # nulls (errors) skipped
    )
    labs = F.array_distinct(F.transform("_ents", lambda s: s["label"]))
    grouped = F.map_from_entries(
        F.transform(
            labs,
            lambda l: F.struct(
                l.alias("label"),
                F.transform(
                    F.filter(F.col("_ents"), lambda s: s["label"] == l),
                    lambda s: F.format_string(TURN_NAME, s["turn_idx"]),
                ).alias("files"),
            ),
        )
    )

    return (
        agg.withColumn("grouped_by_label", grouped)
        .join(conv_config.select("conv_id", "n_turns"), "conv_id")
        .select(
            "conv_id",
            F.when(F.col("total") >= F.col("n_turns"), F.lit("completed"))
            .otherwise(F.lit("processing"))
            .alias("status"),
            "model_used",
            "total",
            "classified",
            "unknown",
            "failed",
            F.coalesce(
                "grouped_by_label",
                F.expr("cast(map() as map<string,array<string>>)"),
            ).alias("grouped_by_label"),
            "processing_time_ms",
            "completed_at",
        )
    )
