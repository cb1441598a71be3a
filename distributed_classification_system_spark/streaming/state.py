"""Keyed session state kernel — the heart of the CEP engine.

Re-expresses the reference's per-job incremental fold
(backend-service/handlers/handlers.go:231-304) as ONE
``applyInPandasWithState`` function, ``bucket_fold``, grouped by
``bucket = pmod(xxhash64(conv_id), n_buckets)``. Each bucket's state row
holds a dict conv_id → session state, so python crossings per batch
scale with buckets, not conversations (on a 4-core box a stateful key
costs ~6 ms of serializer and state-store overhead per batch, even
when its fold only expires timers). The bucket count is pinned in the
saved state: conv_id → bucket routing depends on it. Per conversation:

- dedup by turn_idx against state (A2; ref scans DetailedResults O(n) per
  message, handlers.go:247-256 — we check only the conversations a batch
  touches, against the turn indexes their state already records: the
  label lists and the failed-turn retry keys)
- counters: classified/unknown/failed, processing-time sum (A4/A6); total
  is their sum, as every folded turn lands in exactly one of them
- label → turn-name grouping (A3, handlers.go:263-264) with stable
  turn_idx ordering (W10 — ref appends in arrival order; we sort the
  grouping lists at emission)
- completion when total >= n_expected (A5, handlers.go:291-299), **or**
  session-window timeout once the event-time watermark passes
  last_activity + gap — the late-data-safe improvement over the
  reference, which leaves a job 'processing' forever if one message is
  lost (T3).

Spark guarantees per-key serial execution partitioned across the cluster,
replacing the reference's global mutex (handlers.go:28,219-221) that
serialized ALL jobs through one lock.

Output is a union stream: per-turn pass-through rows
(row_type='turn'|'error') plus one summary row per session close
(row_type='summary', fields packed in ``summary_json`` and expanded
JVM-side when the summaries are read back).

Timeouts: each bucket re-arms its timer to watermark+1s every batch and
expires, on every invocation, the conversations whose
last_activity + gap fell behind the watermark — a per-bucket timer wheel
replacing 10^5 individual per-key timers. A completed session keeps a
slim tombstone state until the watermark passes, so at-least-once
redelivery after completion neither re-emits turns nor spawns a second
session.
"""

from __future__ import annotations

import json
import warnings
from collections.abc import Iterable
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import types as T

from distributed_classification_system_spark.operators.sessionize import TURN_NAME

# pyspark's own applyInPandasWithState serializer pads each output batch
# with all-NA rows through pd.concat (pyspark/sql/pandas/serializers.py:1696
# in pyspark 4.1.2), and pandas deprecates that with a FutureWarning. The
# frames are not ours and the warning is not ours to fix; this module is
# imported in every Python worker that runs the fold.
warnings.filterwarnings(
    "ignore", category=FutureWarning, module=r"pyspark\.sql\.pandas\.serializers"
)

# Rows entering the stateful fold (classified turns + conv config).
FOLD_INPUT = T.StructType(
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
        T.StructField("error_reason", T.StringType()),  # T6 dead-letter tag
        T.StructField("n_turns", T.IntegerType()),
    ]
)

# Union output: the input columns + row_type + packed summary + the T6
# attempt counter (error rows only: 0 on first failure, bumped on every
# cross-batch redelivery of a failed turn — ref models.go:20 RetryCount,
# sqs_worker.py:96-119; null on turn/summary rows).
FOLD_OUTPUT = T.StructType(
    FOLD_INPUT.fields
    + [
        T.StructField("row_type", T.StringType()),
        T.StructField("summary_json", T.StringType()),
        T.StructField("retry_count", T.IntegerType()),
    ]
)

SUMMARY_JSON_SCHEMA = (
    "struct<status:string, model_used:string, total:int, classified:int,"
    " unknown:int, failed:int, grouped_by_label:map<string,array<string>>,"
    " processing_time_ms:double, completed_at:timestamp>"
)

SESSION_GAP_MS = 10 * 60 * 1000  # close-by-timeout gap after last activity

_OUT_COLS = [f.name for f in FOLD_OUTPUT.fields]
_EMPTY = {c: None for c in _OUT_COLS}


def _total(st: dict[str, Any]) -> int:
    # every folded turn lands in exactly one of the three counters
    return st["classified"] + st["unknown"] + st["failed"]


def _summary_row(conv_id: str, status: str, st: dict[str, Any]) -> dict[str, Any]:
    # state stores turn indexes only; the stable name is derived here —
    # half the state-blob JSON and no per-turn formatting in the hot fold
    grouped = {
        lab: [TURN_NAME % i for i in sorted(idxs)] for lab, idxs in sorted(st["labels"].items())
    }
    payload = {
        "status": status,
        "model_used": st["model_used"],
        "total": _total(st),
        "classified": st["classified"],
        "unknown": st["unknown"],
        "failed": st["failed"],
        "grouped_by_label": grouped,
        # exact integer cents → one IEEE division: order-independent, so the
        # stream total hash-matches the batch fold / DuckDB decimal sum
        "processing_time_ms": st["sum_cents"] / 100.0,
        # emission time = max event time of the session (deterministic)
        "completed_at": pd.Timestamp(st["max_ts_us"], unit="us").isoformat(),
    }
    row = dict(_EMPTY)
    row["conv_id"] = conv_id
    row["row_type"] = "summary"
    row["summary_json"] = json.dumps(payload, sort_keys=True)
    return row


def _summary_frame(rows: list[dict[str, Any]]) -> pd.DataFrame:
    """ONE DataFrame for all of an invocation's summaries — single-row
    frame construction per conversation was the dominant fold cost at
    10^5+ conversations/batch."""
    return pd.DataFrame(rows, columns=_OUT_COLS)


# One state row per bucket: a JSON blob {"version": STATE_FORMAT_VERSION,
# "buckets": n_buckets, "convs": {conv_id: session state}}.
BUCKET_STATE_SCHEMA = T.StructType([T.StructField("states_json", T.StringType())])

# Bump on any change to the blob or per-conversation state layout. Version
# 1 was the unversioned bare {conv_id: state} dict; version 2 carried no
# bucket count; version 3 recorded every folded turn a second time in a
# per-conversation `seen` list.
STATE_FORMAT_VERSION = 4


def _new_conv_state() -> dict[str, Any]:
    # bucket-fold per-conversation state; labels kept as a plain dict —
    # the whole bucket blob is JSON-serialized once, so no inner round-trip.
    # A folded turn is recorded once: in labels if valid, in retries if not.
    return {
        "n_expected": -1,
        "classified": 0,
        "unknown": 0,
        "failed": 0,
        "sum_cents": 0,
        "max_ts_us": 0,
        "model_used": None,
        "labels": {},  # label -> turn_idx list, valid turns only
        "done": False,
        "retries": {},  # turn_idx (str) -> redelivery count, failed turns only
    }


def _expire_due(states: dict[str, dict], wm_ms: int) -> list[dict[str, Any]]:
    """Expire conversations whose session window closed behind the
    watermark; returns timeout summary ROWS for open sessions."""
    out = []
    for conv_id in list(states):
        st = states[conv_id]
        if st["max_ts_us"] // 1000 + SESSION_GAP_MS <= wm_ms:
            del states[conv_id]
            if not st["done"]:
                out.append(_summary_row(conv_id, "timeout", st))
    return out


def _group_starts(conv_arr: np.ndarray) -> np.ndarray:
    """Offsets where each run of equal conv_ids starts in a sorted array."""
    return np.flatnonzero(np.r_[True, conv_arr[1:] != conv_arr[:-1]])


def _fold_one_pdf(
    pdf: pd.DataFrame,
    states: dict[str, dict],
    summaries: list[dict[str, Any]],
) -> pd.DataFrame | None:
    """Fold ONE micro-batch slice into the bucket's per-conversation
    states. Only the conversations in the slice are checked, each against
    its own state: a tombstoned (done) one drops all its rows, an open one
    drops the turns its label lists or retry keys already hold. Mutates
    states/summaries; returns the per-turn pass-through frame (row_type
    turn|error) or None."""
    # the grouping column is not part of FOLD_OUTPUT
    pdf = (
        pdf.drop(columns=["bucket"], errors="ignore")
        .drop_duplicates(["conv_id", "turn_idx"])
        .sort_values(["conv_id", "turn_idx"])
    )
    if pdf.empty:
        return None
    conv_arr = pdf["conv_id"].to_numpy()
    idx_arr = pdf["turn_idx"].to_numpy()
    err_arr = pdf["error_reason"].notna().to_numpy()

    # cross-batch dedup: new marks first deliveries; retry holds an error
    # row's attempt counter (0 on its first delivery)
    new = np.ones(len(pdf), dtype=bool)
    retry = np.zeros(len(pdf), dtype="int32")
    starts = _group_starts(conv_arr)
    for s, e in zip(starts, np.append(starts[1:], len(pdf))):
        st = states.get(conv_arr[s])
        if st is None:
            continue
        if st["done"]:
            # redelivery after completion drops silently, failed turns too
            new[s:e] = False
            continue
        folded = {i for idxs in st["labels"].values() for i in idxs}
        folded.update(map(int, st["retries"]))
        for j in range(s, e):
            i = int(idx_arr[j])
            if i not in folded:
                continue
            new[j] = False
            if err_arr[j]:
                # redelivery of a FAILED turn: bump its attempt counter (ref
                # models.go:20 RetryCount) and log the attempt as another
                # error row; counters/completion already counted it
                k = str(i)
                retry[j] = st["retries"][k] = st["retries"].get(k, 0) + 1

    # per-turn pass-through: ONE vectorized assign for the whole bucket;
    # T6 rows surface as row_type='error' in the same sink pass (retry
    # counter null on turns — as a nullable Int32 array, never an object
    # column: np.where(mask, retry, None) would box one PyObject per
    # output row on the hot path)
    emit = new | (retry > 0)
    if not emit.any():
        return None
    out = pdf[emit].assign(
        row_type=np.where(err_arr[emit], "error", "turn"),
        summary_json=None,
        retry_count=pd.arrays.IntegerArray(retry[emit], mask=~err_arr[emit]),
    )
    if not new.any():
        return out
    if not new.all():
        pdf = pdf[new]
        conv_arr, idx_arr, err_arr = conv_arr[new], idx_arr[new], err_arr[new]

    # per-conversation increments via numpy group-boundary reductions —
    # no per-group pandas objects, no iterrows, no agg(list)
    pred_arr = pdf["top_prediction"].to_numpy()
    unk_arr = ((pred_arr == "unknown") & ~err_arr).astype("int64")
    fail_arr = err_arr.astype("int64")
    # ROUNDING PRECONDITION (holds for all cents conversions: np.rint
    # here, F.round/round() in the batch twin + DuckDB oracles): numpy
    # rounds half-to-even, Spark/DuckDB round half-away — they agree ONLY
    # because ms*100 never lands exactly on .5 (the kernel emits
    # n_tok * 0.05, so ms*100 ≈ n_tok*5 ± float epsilon, never a
    # half-cent). Any new time source must keep this property or switch
    # every site to one explicit rule (e.g. floor(x*100+0.5)).
    ms_arr = np.rint(pdf["processing_time_ms"].to_numpy() * 100).astype("int64")
    ts_arr = pdf["ts"].astype("datetime64[ns]").astype("int64").to_numpy() // 1000
    nexp_arr = pdf["n_turns"].to_numpy()
    model_arr = pdf["model_used"].to_numpy()

    starts = _group_starts(conv_arr)
    ends = np.append(starts[1:], len(conv_arr))
    unk_sums = np.add.reduceat(unk_arr, starts)
    fail_sums = np.add.reduceat(fail_arr, starts)
    ms_sums = np.add.reduceat(ms_arr, starts)
    ts_maxs = np.maximum.reduceat(ts_arr, starts)

    for gi, (s, e) in enumerate(zip(starts.tolist(), ends.tolist())):
        conv_id = conv_arr[s]
        st = states.get(conv_id)
        if st is None:
            st = states[conv_id] = _new_conv_state()
        nexp = nexp_arr[s]
        # null n_turns (unconfigured conversation) → close by timeout
        st["n_expected"] = int(nexp) if nexp == nexp and nexp is not None else -1
        st["model_used"] = model_arr[s]
        st["classified"] += (e - s) - int(unk_sums[gi]) - int(fail_sums[gi])
        st["unknown"] += int(unk_sums[gi])
        st["failed"] += int(fail_sums[gi])
        st["sum_cents"] += int(ms_sums[gi])
        st["max_ts_us"] = max(st["max_ts_us"], int(ts_maxs[gi]))
        labels = st["labels"]
        ok = ~err_arr[s:e]
        preds_slice = pred_arr[s:e][ok]
        idxs_slice = idx_arr[s:e][ok]
        for p in dict.fromkeys(preds_slice):  # distinct, order-stable
            labels.setdefault(p, []).extend(int(i) for i in idxs_slice[preds_slice == p])
        for i in idx_arr[s:e][~ok]:  # first attempt registers at 0 retries
            st["retries"].setdefault(str(int(i)), 0)
        if st["n_expected"] > 0 and _total(st) >= st["n_expected"]:
            st["done"] = True  # slim tombstone until watermark expiry
            summaries.append(_summary_row(conv_id, "completed", st))
            st["labels"] = {}
            st["retries"] = {}
    return out


_REPLAY = (
    "Delete the checkpoint dir and replay the input; the "
    "batch-id-overwrite sink makes replay idempotent."
)


def _load_states(state, n_buckets: int) -> dict[str, dict]:
    if not state.exists:
        return {}
    blob = json.loads(state.get[0])
    version = blob.get("version", 1)
    if version != STATE_FORMAT_VERSION:
        # a pre-release engine carries no cross-version checkpoint
        # migration; misreading the blob would corrupt every summary
        raise RuntimeError(
            f"bucket-fold state has format version {version}, engine "
            f"expects {STATE_FORMAT_VERSION}: this checkpoint was written by "
            f"an older/newer engine build. {_REPLAY}"
        )
    if blob.get("buckets") != n_buckets:
        # conv_id -> bucket routing depends on the count: resuming with
        # another one would split a conversation across two buckets and
        # emit duplicate turns and two summaries
        raise RuntimeError(
            f"bucket-fold state was written with {blob.get('buckets')} fold "
            f"buckets, this run uses {n_buckets}: the bucket count cannot "
            f"change on a checkpoint. {_REPLAY}"
        )
    return blob["convs"]


def bucket_fold(
    key: tuple[int],
    pdfs: Iterable[pd.DataFrame],
    state,
    n_buckets: int,
) -> Iterable[pd.DataFrame]:
    """The per-bucket session fold; ``state`` is a pyspark GroupState and
    ``n_buckets`` the bucket count the conv_id → bucket routing used (it is
    pinned in the saved state). Turn, error and retry rows pass through;
    session summaries follow them, all as FOLD_OUTPUT rows."""
    wm_ms = state.getCurrentWatermarkMs()
    states = _load_states(state, n_buckets)

    summaries: list[dict[str, Any]] = []
    if not state.hasTimedOut:
        for pdf in pdfs:
            out = _fold_one_pdf(pdf, states, summaries)
            if out is not None:
                yield out

    summaries.extend(_expire_due(states, wm_ms))
    if summaries:
        yield _summary_frame(summaries)

    if states:
        blob = {"version": STATE_FORMAT_VERSION, "buckets": n_buckets, "convs": states}
        state.update((json.dumps(blob, sort_keys=True),))
        state.setTimeoutTimestamp(wm_ms + 1000)
    elif state.exists:
        state.remove()
