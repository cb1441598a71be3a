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
value is produced bit-identically by pandas/numpy, Spark SQL, and DuckDB —
which makes the whole classification pipeline oracle-checkable, not just
rows-only. Ties are broken by label ascending (deterministic ordering).

Two kernels and one oracle, all same output:
- ``score_text``                 — scalar Python (the test oracle)
- ``make_registry_classify_udf`` — vectorized Arrow/pandas UDF (the
                                   mandated hot path; batched, no per-row
                                   Python at the Spark row level), the
                                   label registry compiled into the closure
- ``classify_expr``              — pure-Catalyst expression variant
                                   (whole-stage codegen; used to cross-check
                                   and to benchmark JVM-vs-Arrow execution)
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

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


def _classify_batch(
    text: pd.Series,
    groups: "list[tuple[list[str], 'np.ndarray']]",
    thr: "np.ndarray",
    ks: "np.ndarray",
) -> pd.DataFrame:
    """Shared vectorized kernel body: score/rank/threshold one Arrow batch.

    ``groups`` = [(sorted_label_list, row_indices)] — rows grouped by their
    label set (the per-set index is the "model", built once per group).
    Ranking is by the integer key (count desc, label-index asc): score =
    (count+1)/denom is strictly monotone in count with a per-row-constant
    denom, and labels are pre-sorted ascending, so this ordering is
    IDENTICAL to the original (score desc, label asc) stable sort — but at
    wide vocabularies (K2's 1000 labels) it runs as an O(L) argpartition
    of the needed top-k instead of an O(L log L) full sort per row.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    n = len(text)
    out_pred = np.empty(n, dtype=object)
    out_conf = np.empty(n, dtype=np.float64)
    out_all = np.empty(n, dtype=object)
    out_reason = np.empty(n, dtype=object)

    # tokenize in Arrow C kernels, not per-row Python (guide §4.2): lower +
    # single-space split + flatten; split(" ") of "" is [""] so n_tok ≥ 1,
    # matching (text or "").split(" ") in the scalar oracle bit-for-bit
    # type pinned: an all-null batch would otherwise infer Arrow `null`
    # type and fill_null("") cannot cast into it
    low = pc.utf8_lower(pc.fill_null(pa.Array.from_pandas(text, type=pa.string()), ""))
    toks = pc.split_pattern(low, " ")
    n_tok_arr = pc.list_value_length(toks).to_numpy().astype(np.int64)
    out_ms = n_tok_arr.astype(np.float64) * MS_PER_TOKEN
    flat = pc.list_flatten(toks)
    row_of_token = np.repeat(np.arange(n, dtype=np.int64), n_tok_arr)

    for ordered, rows_arr in groups:
        n_lab = len(ordered)
        pos = np.full(n, -1, dtype=np.int64)
        pos[rows_arr] = np.arange(len(rows_arr))

        # count label hits: one C-level index_in over the batch's tokens
        counts = np.zeros((len(rows_arr), n_lab), dtype=np.int64)
        tok_lab = pc.fill_null(
            pc.index_in(flat, value_set=pa.array(ordered, type=pa.string())), -1
        ).to_numpy().astype(np.int64)
        hit = tok_lab >= 0
        hit &= pos[row_of_token] >= 0
        np.add.at(counts, (pos[row_of_token[hit]], tok_lab[hit]), 1)

        denom = n_lab + counts.sum(axis=1)
        g = len(rows_arr)
        kmax = int(min(int(ks[rows_arr].max()), n_lab))
        # rank key: count desc then label-index asc, as ONE injective int
        # (counts*L spreads counts; L-1-idx breaks ties by idx asc)
        key = counts * np.int64(n_lab) + (np.int64(n_lab - 1) - np.arange(n_lab, dtype=np.int64))
        if n_lab > 64 and kmax < n_lab:
            cand = np.argpartition(-key, kmax - 1, axis=1)[:, :kmax] if kmax > 1 else None
            if cand is None:
                order = np.argmax(key, axis=1)[:, None]
            else:
                cand_key = np.take_along_axis(key, cand, axis=1)
                order = np.take_along_axis(cand, np.argsort(-cand_key, axis=1), axis=1)
        else:
            order = np.argsort(-key, axis=1)[:, :kmax]
        top_i = order[:, 0]
        rows_ar = np.arange(g)
        conf = (counts[rows_ar, top_i] + 1) / denom
        out_conf[rows_arr] = conf
        relabel = conf < thr[rows_arr]
        lab_arr = np.asarray(ordered, dtype=object)
        preds = lab_arr[top_i]
        preds[relabel] = UNKNOWN_LABEL
        out_pred[rows_arr] = preds
        out_reason[rows_arr] = np.where(relabel, LOW_CONFIDENCE_REASON, None)
        top_scores = (np.take_along_axis(counts, order, axis=1) + 1) / denom[:, None]
        for r in range(g):
            k = min(ks[rows_arr[r]], n_lab)
            out_all[rows_arr[r]] = [
                {"label": lab_arr[j], "score": top_scores[r, c]}
                for c, j in enumerate(order[r, :k])
            ]

    return pd.DataFrame(
        {
            "top_prediction": out_pred,
            "top_confidence": out_conf,
            "all_predictions": out_all,
            "reason": out_reason,
            "processing_time_ms": out_ms,
        }
    )


_UDF_CACHE: dict[tuple, object] = {}


def make_registry_classify_udf(labels_by_job: dict[str, list[str]]):
    """The kernel UDF ``(text, job_type, top_k, threshold) -> CLASSIFY_RESULT``.

    Replaces the reference's per-message asyncio worker loop
    (ml-service/sqs_worker.py:157-174 + classification_controller.py:60-106)
    with true batch execution: tokens are exploded once per Arrow batch and
    counted into a (rows × labels) matrix with numpy scatter-adds; scoring,
    ranking and thresholding are matrix ops. The only remaining per-row
    Python is materializing the top-k struct lists.

    The label REGISTRY (a tiny static dim) is captured in the closure keyed
    by job_type, so no per-row ``labels`` array — 5-20 strings per row,
    1000 at the surveyed width, pure payload to the Python boundary —
    crosses Arrow (guide §4.1). Each batch's rows are grouped by job_type
    and each group's sorted label set is the "model", mirroring load-once
    model residency (classification_controller.py:23-35). Callers take
    model_name and the unregistered-job_type filter from the same
    collected registry (operators.classify.classify_with_registry); a
    null or unregistered job_type reaching the kernel raises ValueError.

    The UDF object is memoized per registry content: building a
    pandas_udf (pickle + py4j registration) is driver-side work repeated
    plans need not re-pay, and a UDF is an immutable expression template,
    safe to reuse across DataFrames."""
    import numpy as np

    by_job = {j: sorted(ls) for j, ls in labels_by_job.items()}
    key = tuple(sorted((j, tuple(ls)) for j, ls in by_job.items()))
    cached = _UDF_CACHE.get(key)
    if cached is not None:
        return cached

    @F.pandas_udf(returnType=CLASSIFY_RESULT)
    def _udf(
        text: pd.Series, job_type: pd.Series, top_k: pd.Series, threshold: pd.Series
    ) -> pd.DataFrame:
        thr = threshold.to_numpy(dtype=np.float64)
        ks = np.maximum(top_k.to_numpy(dtype=np.int64), 1)
        codes, uniq = pd.factorize(job_type.to_numpy(dtype=object))
        # a row outside every group would leave its output slots unfilled
        bad = ([None] if (codes < 0).any() else []) + sorted(j for j in uniq if j not in by_job)
        if bad:
            raise ValueError(
                f"no registered label set for job_type(s) {bad!r}; "
                "filter them out first, as classify_with_registry does"
            )
        groups = [
            (by_job[j], np.flatnonzero(codes == c).astype(np.int64))
            for c, j in enumerate(uniq)
        ]
        return _classify_batch(text, groups, thr, ks)

    _UDF_CACHE[key] = _udf
    return _udf


def classify_expr(text: Column, labels: Column, top_k: Column, threshold: Column) -> Column:
    """Pure-Catalyst variant of the kernel (same output as score_text).

    Stays entirely inside whole-stage codegen: tokens via ``split``, counts
    via ``filter``+``size``, ranking via ``array_sort`` with a comparator.
    Used for JVM-side benchmarking; the streaming path uses the pandas UDF
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
