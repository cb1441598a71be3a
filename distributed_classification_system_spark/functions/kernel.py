"""The per-turn classification kernel.

Reference semantics being reproduced (SURVEY.md §2.3 K1-K6, P6):

- plug-in model interface ``predict(item, **kw) -> [{label, score}]``
  (ml-service/models/base_model.py:6-34)
- per-label scoring + normalization (CLIP joint-encode + softmax,
  ml-service/models/clip_model.py:49-64)
- sort desc by score, truncate to ``top_k`` (clip_model.py:66-76)
- top-1 extraction (classification_controller.py:88-90)
- threshold relabel: ``top_confidence < threshold`` → ``"unknown"`` with a
  reason, original confidence preserved (classification_controller.py:87-96)
- per-item timing (classification_controller.py:70,82) — deterministic
  synthetic here so outputs are reproducible.

The model itself is a **deterministic count-normalized scorer** (the CLIP
weights are neither available nor reproducible in this environment):

    cnt_l   = number of whitespace tokens of lower(text) equal to label l
    weight_l = 1 + cnt_l                      (Laplace smoothing, integer)
    denom    = n_labels + sum_l cnt_l          (integer)
    score_l  = weight_l / denom                (ONE IEEE-754 division)

Because every score is a single division of two small integers, the same
value is produced bit-identically by numpy, Spark SQL, and DuckDB —
which makes the whole classification pipeline oracle-checkable, not just
rows-only. Ties are broken by label ascending (deterministic ordering).

Two kernels and one oracle, all same output:
- ``score_text``                 — scalar Python (the test oracle)
- ``make_registry_classify_udf`` — vectorized Arrow UDF (the mandated
                                   hot path; ``pa.Array`` in, one
                                   ``pa.StructArray`` out, no per-row
                                   Python), the label registry compiled
                                   into the closure
- ``classify_expr``              — pure-Catalyst expression variant
                                   (whole-stage codegen; used to cross-check
                                   and to benchmark JVM-vs-Arrow execution)
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from distributed_classification_system_spark.schemas import PREDICTION

UNKNOWN_LABEL = "unknown"
LOW_CONFIDENCE_REASON = "low_confidence"
MS_PER_TOKEN = 0.05  # deterministic synthetic stand-in for wall-clock (K6)

CLASSIFY_RESULT = T.StructType(
    [
        T.StructField("top_prediction", T.StringType(), True),
        T.StructField("top_confidence", T.DoubleType(), True),
        T.StructField("all_predictions", T.ArrayType(PREDICTION), True),
        T.StructField("reason", T.StringType(), True),
        T.StructField("processing_time_ms", T.DoubleType(), True),
    ]
)


def score_text(text: str, labels: list[str], top_k: int, threshold: float) -> dict:
    """Scalar reference implementation (test oracle)."""
    tokens = (text or "").lower().split(" ")
    label_list = sorted(labels)
    counts = Counter(t for t in tokens if t in set(label_list))
    denom = len(label_list) + sum(counts.values())
    scored = sorted(
        ((label, (1 + counts.get(label, 0)) / denom) for label in label_list),
        key=lambda p: (-p[1], p[0]),
    )
    top = scored[: max(1, top_k)]
    top_label, top_conf = top[0]
    relabel = top_conf < threshold
    return {
        "top_prediction": UNKNOWN_LABEL if relabel else top_label,
        "top_confidence": top_conf,
        "all_predictions": [{"label": l, "score": s} for l, s in top],
        "reason": LOW_CONFIDENCE_REASON if relabel else None,
        "processing_time_ms": len(tokens) * MS_PER_TOKEN,
    }


_UDF_CACHE: dict[tuple, object] = {}


def make_registry_classify_udf(labels_by_job: dict[str, list[str]]):
    """The kernel UDF ``(text, job_type, top_k, threshold) -> CLASSIFY_RESULT``.

    Replaces the reference's per-message asyncio worker loop
    (ml-service/sqs_worker.py:157-174 + classification_controller.py:60-106)
    with true batch execution, Arrow in and Arrow out: tokens are exploded
    once per Arrow batch and counted into a (rows × labels) matrix with
    numpy scatter-adds; scoring, ranking, thresholding and the top-k
    ``all_predictions`` lists are array ops, with no per-row Python.

    The label REGISTRY (a tiny static dim) is captured in the closure keyed
    by job_type, so no per-row ``labels`` array — 5-20 strings per row,
    1000 at the surveyed width, pure payload to the Python boundary —
    crosses Arrow (guide §4.1). All registered label sets, each sorted,
    share one vocabulary array at a per-job base offset, so every output
    label is one ``take`` from it. Each batch's rows are grouped by
    job_type and each group's label set is the "model", mirroring
    load-once model residency (classification_controller.py:23-35).
    Callers take model_name and the unregistered-job_type filter from the
    same collected registry (operators.classify.classify_with_registry); a
    null or unregistered job_type reaching the kernel raises ValueError.

    Ranking is by the integer key (count desc, label-index asc): score =
    (count+1)/denom is strictly monotone in count with a per-row-constant
    denom, and labels are pre-sorted ascending, so this ordering is
    IDENTICAL to the original (score desc, label asc) stable sort — but at
    wide vocabularies (K2's 1000 labels) it runs as an O(L) argpartition
    of the needed top-k instead of an O(L log L) full sort per row.

    The UDF object is memoized per registry content: building an
    arrow_udf (pickle + py4j registration) is driver-side work repeated
    plans need not re-pay, and a UDF is an immutable expression template,
    safe to reuse across DataFrames."""
    by_job = {j: sorted(ls) for j, ls in labels_by_job.items()}
    key = tuple(sorted((j, tuple(ls)) for j, ls in by_job.items()))
    cached = _UDF_CACHE.get(key)
    if cached is not None:
        return cached

    vocab, base = [], {}
    for j, ls in key:
        base[j] = len(vocab)
        vocab.extend(ls)
    result_type = to_arrow_type(CLASSIFY_RESULT)
    list_type = result_type.field("all_predictions").type

    @F.arrow_udf(returnType=CLASSIFY_RESULT)
    def _udf(text: pa.Array, job_type: pa.Array, top_k: pa.Array, threshold: pa.Array) -> pa.Array:
        n = len(text)
        enc = pc.dictionary_encode(job_type)
        uniq = enc.dictionary.to_pylist()
        # a row outside every group would leave its output slots unfilled
        bad = ([None] if enc.null_count else []) + sorted(j for j in uniq if j not in by_job)
        if bad:
            raise ValueError(
                f"no registered label set for job_type(s) {bad!r}; "
                "filter them out first, as classify_with_registry does"
            )
        codes = enc.indices.to_numpy()
        n_lab = np.array([len(by_job[j]) for j in uniq], dtype=np.int64)
        k_row = np.minimum(np.maximum(top_k.to_numpy(zero_copy_only=False), 1), n_lab[codes])
        kmax_all = int(k_row.max(initial=1))

        # tokenize in Arrow C kernels, not per-row Python (guide §4.2): lower +
        # single-space split + flatten; split(" ") of "" is [""] so n_tok ≥ 1,
        # matching (text or "").split(" ") in the scalar oracle bit-for-bit
        toks = pc.split_pattern(pc.utf8_lower(pc.fill_null(text, "")), " ")
        n_tok = pc.list_value_length(toks).to_numpy()
        flat = pc.list_flatten(toks)
        row_of_token = np.repeat(np.arange(n, dtype=np.int64), n_tok)

        labels = pa.array(vocab, type=pa.string())
        idx = np.zeros((n, kmax_all), dtype=np.int64)  # vocabulary index, padded
        scores = np.zeros((n, kmax_all), dtype=np.float64)
        for c, j in enumerate(uniq):
            rows = np.flatnonzero(codes == c)
            g, L, kmax = len(rows), int(n_lab[c]), int(k_row[rows].max())
            pos = np.full(n, -1, dtype=np.int64)
            pos[rows] = np.arange(g)

            # count label hits: one C-level index_in over the batch's tokens
            tok_lab = pc.fill_null(pc.index_in(flat, value_set=labels.slice(base[j], L)), -1)
            tok_lab = tok_lab.to_numpy().astype(np.int64)
            hit = (tok_lab >= 0) & (pos[row_of_token] >= 0)
            counts = np.zeros((g, L), dtype=np.int64)
            np.add.at(counts, (pos[row_of_token[hit]], tok_lab[hit]), 1)
            denom = L + counts.sum(axis=1)

            # rank key: count desc then label-index asc, as ONE injective int
            # (counts*L spreads counts; L-1-idx breaks ties by idx asc)
            rank = counts * np.int64(L) + (np.int64(L - 1) - np.arange(L, dtype=np.int64))
            if L > 64 and kmax < L:
                cand = np.argpartition(-rank, kmax - 1, axis=1)[:, :kmax]
                cand_rank = np.take_along_axis(rank, cand, axis=1)
                order = np.take_along_axis(cand, np.argsort(-cand_rank, axis=1), axis=1)
            else:
                order = np.argsort(-rank, axis=1)[:, :kmax]
            idx[rows, :kmax] = base[j] + order
            scores[rows, :kmax] = (np.take_along_axis(counts, order, axis=1) + 1) / denom[:, None]

        # row-major flatten of each row's first k_row slots = the list values
        keep = np.arange(kmax_all) < k_row[:, None]
        offsets = np.concatenate([[0], np.cumsum(k_row)]).astype(np.int32)
        preds = pa.StructArray.from_arrays(
            [labels.take(idx[keep]), pa.array(scores[keep])], fields=list(list_type.value_type)
        )
        conf = scores[:, 0]
        relabel = pa.array(conf < threshold.to_numpy(zero_copy_only=False))
        return pa.StructArray.from_arrays(
            [
                pc.if_else(relabel, UNKNOWN_LABEL, labels.take(idx[:, 0])),
                pa.array(conf),
                pa.ListArray.from_arrays(offsets, preds, type=list_type),
                pc.if_else(relabel, LOW_CONFIDENCE_REASON, pa.scalar(None, pa.string())),
                pa.array(n_tok.astype(np.float64) * MS_PER_TOKEN),
            ],
            fields=list(result_type),
        )

    _UDF_CACHE[key] = _udf
    return _udf


def classify_expr(text: Column, labels: Column, top_k: Column, threshold: Column) -> Column:
    """Pure-Catalyst variant of the kernel (same output as score_text).

    Stays entirely inside whole-stage codegen: tokens via ``split``, counts
    via ``filter``+``size``, ranking via ``array_sort`` with a comparator.
    Used for JVM-side benchmarking; the streaming path uses the Arrow UDF
    per the north-rule mandate.
    """
    tokens = F.split(F.lower(F.coalesce(text, F.lit(""))), " ")
    sorted_labels = F.array_sort(labels)
    counted = F.transform(
        sorted_labels,
        lambda lab: F.struct(
            lab.alias("label"),
            F.size(F.filter(tokens, lambda t: t == lab)).alias("cnt"),
        ),
    )
    denom = F.size(sorted_labels) + F.aggregate(
        counted, F.lit(0), lambda acc, s: acc + s["cnt"]
    )
    preds = F.transform(
        counted,
        lambda s: F.struct(
            s["label"].alias("label"),
            ((s["cnt"] + 1).cast("double") / denom.cast("double")).alias("score"),
        ),
    )
    ranked = F.array_sort(
        preds,
        lambda l, r: F.when(l["score"] > r["score"], F.lit(-1))
        .when(l["score"] < r["score"], F.lit(1))
        .when(l["label"] < r["label"], F.lit(-1))
        .when(l["label"] > r["label"], F.lit(1))
        .otherwise(F.lit(0)),
    )
    top = F.slice(ranked, 1, F.greatest(F.lit(1), top_k))
    top_label = F.element_at(top, 1)["label"]
    top_conf = F.element_at(top, 1)["score"]
    relabel = top_conf < threshold
    return F.struct(
        F.when(relabel, F.lit(UNKNOWN_LABEL)).otherwise(top_label).alias("top_prediction"),
        top_conf.alias("top_confidence"),
        top.alias("all_predictions"),
        F.when(relabel, F.lit(LOW_CONFIDENCE_REASON)).alias("reason"),
        (F.size(tokens) * F.lit(MS_PER_TOKEN)).alias("processing_time_ms"),
    )
