"""Batch/micro-batch classification stage.

Re-expresses the reference's fan-out → queue → worker → classify path
(SURVEY.md §3.1 steps 3-5; backend-service/handlers/handlers.go:95-126,
ml-service/sqs_worker.py:142-174, ml-service/controllers/
classification_controller.py:60-106) as one declarative plan:

    transcripts ⋈ conv_config (equi, co-partitioned on conv_id)
                → label registry as plan constants (classify_with_registry:
                  job_type IN filter + model_name literal map, K7/J3)
                → vectorized kernel (make_registry_classify_udf)

``classify_with_registry`` is the one registry dispatch: the batch
``classify_turns`` and the stream's ``classified_stream``
(streaming/engine.py) both call it.

Scale notes (100 TB):
- conv_config is keyed by conv_id like the downstream session fold, so
  Catalyst reuses the same hash partitioning across join → groupBy — one
  shuffle, not two.
- the registry is tiny (one row per job_type) → collected once per plan
  and compiled into it: no join, no shuffle, no per-row label column.
- a hot conv_id (10^5 turns in one conversation) lands in one partition
  of the batch conv_config join; the streaming engine instead classifies
  on scan partitions, before its only exchange (reference anti-pattern
  being fixed there: global mutex serializing ALL jobs,
  backend-service/handlers/handlers.go:28,219-221).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from distributed_classification_system_spark.functions.kernel import (
    classify_expr,
    make_registry_classify_udf,
)


DOC_LABELS = ["spark", "query", "join", "filter", "window"]

# K2 at the surveyed vocabulary scale (SURVEY §2.3; ref ImageNet-1000,
# ml-service/models/mobilenet_model.py:17-49): the 5 real document labels
# padded to exactly 1000 with deterministic synthetic classes. The kernel
# cost is O(labels) per row — `classify_docs_1k` grades correctness at
# this width and the bench line prices it.
DOC_LABELS_1K = sorted(set(DOC_LABELS) | {f"class{i:04d}" for i in range(995)})
assert len(DOC_LABELS_1K) == 1000

# classify_expr Column templates per (labels, top_k, threshold) — see
# classify_documents
_EXPR_CACHE: dict[tuple, "F.Column"] = {}
# the documents' one-entry registry key (the queries fix the config)
_DOCS_JOB = "documents"
TURN_COLS = ("conv_id", "turn_idx", "role", "text", "tool", "ts")


def classify_documents(
    documents: DataFrame,
    labels: list[str] | None = None,
    top_k: int = 3,
    threshold: float = 0.25,
    use_expr: bool = False,
) -> DataFrame:
    """The classification kernel applied to the driver's documents table
    with a fixed config — the oracle-checkable form of the kernel (same
    code path as the transcript pipeline, DuckDB-replicable semantics).

    Returns flat columns; all_predictions is flattened to a label CSV so
    the oracle hash never depends on nested-type encodings."""
    labels = labels or DOC_LABELS
    par = documents.sparkSession.sparkContext.defaultParallelism
    documents = documents.repartition(par)
    if use_expr:
        # memoized: the Catalyst expression tree is hundreds of py4j calls
        # to build; Column objects are immutable templates, safe to reuse
        key = (tuple(labels), top_k, threshold)
        res = _EXPR_CACHE.get(key)
        if res is None:
            lab_col = F.array(*[F.lit(l) for l in labels])
            res = classify_expr(F.col("text"), lab_col, F.lit(top_k), F.lit(threshold))
            _EXPR_CACHE[key] = res
    else:
        # the one kernel factory with a one-entry registry: the label set
        # rides the closure, never a per-row column (guide §4.1 — at 1000
        # labels a lit-array column was 1000 strings/row through Arrow)
        kern = make_registry_classify_udf({_DOCS_JOB: labels})
        res = kern(F.col("text"), F.lit(_DOCS_JOB), F.lit(top_k), F.lit(threshold))
    return documents.select("doc_id", "lang", res.alias("r")).select(
        "doc_id",
        "lang",
        "r.top_prediction",
        "r.top_confidence",
        F.concat_ws(",", F.transform("r.all_predictions", lambda p: p["label"])).alias("pred_labels"),
        "r.reason",
        "r.processing_time_ms",
    )


def _registry_constants(registry: DataFrame) -> tuple[dict[str, str], dict[str, list[str]]]:
    """Collect the label registry (a tiny static dim) to the driver as
    ``job_type → model_name`` and ``job_type → labels``. A job_type must
    name one model: a duplicate raises, where a join would have duplicated
    every turn row of that job_type. Null job_types are skipped — they
    never matched a join key either."""
    model_by_job: dict[str, str] = {}
    labels_by_job: dict[str, list[str]] = {}
    for job_type, model_name, labels in registry.select("job_type", "model_name", "labels").collect():
        if job_type is None:
            continue
        if job_type in model_by_job:
            raise ValueError(f"label registry has more than one row for job_type {job_type!r}")
        model_by_job[job_type] = model_name
        labels_by_job[job_type] = list(labels)
    return model_by_job, labels_by_job


def classify_with_registry(df: DataFrame, registry: DataFrame, *keep: str) -> DataFrame:
    """K7 dispatch (classification_controller.py:77-80): classify ``df``'s
    turns with the model and label set their job_type names.

    The registry is collected once per call and enters the plan as
    constants (see _registry_constants): an IN filter keeps an inner
    join's semantics (unregistered job_types drop), a literal map supplies
    ``model_used``, and the label arrays reach the kernel through its
    closure, so no registry column rides the row and no micro-batch
    launches a registry broadcast job.

    ``df`` carries text, job_type, top_k and confidence_threshold; the
    result has the ``keep`` columns, ``model_used`` and the kernel's
    CLASSIFY_RESULT struct ``r``."""
    model_by_job, labels_by_job = _registry_constants(registry)
    pairs = [F.lit(v) for kv in model_by_job.items() for v in kv]
    model_used = (
        F.create_map(*pairs)[F.col("job_type")] if pairs else F.lit(None).cast("string")
    )
    kern = make_registry_classify_udf(labels_by_job)
    res = kern(F.col("text"), F.col("job_type"), F.col("top_k"), F.col("confidence_threshold"))
    return df.filter(F.col("job_type").isin(list(model_by_job))).select(
        *keep, model_used.alias("model_used"), res.alias("r")
    )


def classify_turns(transcripts: DataFrame, conv_config: DataFrame, registry: DataFrame) -> DataFrame:
    """Classify every configured turn; returns the TURN_RESULTS columns
    minus lineage. The batch twin of streaming.engine.classified_stream:
    an inner conv_config join (unconfigured conversations drop; the stream
    left-joins with defaults), then the same registry dispatch."""
    df = transcripts.join(
        conv_config.select("conv_id", "job_type", "top_k", "confidence_threshold"), "conv_id"
    )
    return classify_with_registry(df, registry, *TURN_COLS).select(
        *TURN_COLS,
        "model_used",
        "r.top_prediction",
        "r.top_confidence",
        "r.all_predictions",
        "r.reason",
        "r.processing_time_ms",
    )
