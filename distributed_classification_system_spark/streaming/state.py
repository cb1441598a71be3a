"""Keyed session state kernel — the heart of the CEP engine.

Re-expresses the reference's per-job incremental fold
(backend-service/handlers/handlers.go:231-304) as ONE
``applyInPandasWithState`` function, ``bucket_fold``, grouped by
``bucket = pmod(xxhash64(conv_id), n_buckets)``. Each bucket's state row
holds a dict conv_id → session state, so python crossings per batch
scale with buckets, not conversations (applyInPandasWithState costs
~1-3 ms of serializer overhead per KEY per batch). Per conversation:

- dedup by turn_idx against state (A2; ref scans DetailedResults O(n) per
  message, handlers.go:247-256 — we keep a seen-set, vectorized isin)
- counters: total/classified/unknown, processing-time sum (A4/A6)
- label → turn-name grouping (A3, handlers.go:263-264) with stable
  turn_idx ordering (W10 — ref appends in arrival order; we sort the
  grouping lists at emission)
- completion when n_seen >= n_expected (A5, handlers.go:291-299), **or**
  session-window timeout once the event-time watermark passes
  last_activity + gap — the late-data-safe improvement over the
  reference, which leaves a job 'processing' forever if one message is
  lost (T3).

Spark guarantees per-key serial execution partitioned across the cluster,
replacing the reference's global mutex (handlers.go:28,219-221) that
serialized ALL jobs through one lock.

Output (unified mode) is a union stream: per-turn pass-through rows
(row_type='turn'|'error') plus one summary row per session close
(row_type='summary', fields packed in ``summary_json`` and expanded
JVM-side in the sink). The cascade mode runs the same fold with turn
pass-through off and emits ``(conv_id, summary_json)`` only.

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
from collections.abc import Iterable
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import types as T

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

TURN_NAME = "turn-%05d"
SESSION_GAP_MS = 10 * 60 * 1000  # close-by-timeout gap after last activity

_OUT_COLS = [f.name for f in FOLD_OUTPUT.fields]
_EMPTY = {c: None for c in _OUT_COLS}


def _summary_row(conv_id: str, status: str, st: dict[str, Any]) -> dict[str, Any]:
    # state stores turn indexes only; the stable name is derived here —
    # half the state-blob JSON and no per-turn formatting in the hot fold
    grouped = {
        lab: [TURN_NAME % i for i in sorted(idxs)] for lab, idxs in sorted(st["labels"].items())
    }
    payload = {
        "status": status,
        "model_used": st["model_used"],
        "total": len(st["seen"]),
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


def _null_unless(err_mask: "np.ndarray") -> "pd.arrays.IntegerArray":
    """Nullable Int32 column: 0 where err_mask, <NA> elsewhere — allocation
    is two flat numpy arrays, no per-row Python objects."""
    return pd.arrays.IntegerArray(
        np.zeros(len(err_mask), dtype="int32"), mask=~err_mask
    )


# One state row per bucket: a JSON blob {"version": STATE_FORMAT_VERSION,
# "convs": {conv_id: session state}}.
BUCKET_STATE_SCHEMA = T.StructType([T.StructField("states_json", T.StringType())])

# Bump on any change to the blob or per-conversation state layout. Version
# 1 was the unversioned bare {conv_id: state} dict.
STATE_FORMAT_VERSION = 2

SUMMARY_OUTPUT = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("summary_json", T.StringType()),
    ]
)


def _new_conv_state() -> dict[str, Any]:
    # bucket-fold per-conversation state; labels kept as a plain dict —
    # the whole bucket blob is JSON-serialized once, so no inner round-trip
    return {
        "n_expected": -1,
        "classified": 0,
        "unknown": 0,
        "failed": 0,
        "sum_cents": 0,
        "max_ts_us": 0,
        "model_used": None,
        "seen": [],
        "labels": {},
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
            if not st["done"] and st["seen"]:
                st["seen"] = list(st["seen"])
                out.append(_summary_row(conv_id, "timeout", st))
    return out


def _fold_one_pdf(
    pdf: pd.DataFrame,
    states: dict[str, dict],
    seen_keys: set[str],
    done_convs: set[str],
    summaries: list[dict[str, Any]],
    emit_turns: bool = True,
) -> pd.DataFrame | None:
    """Fold ONE micro-batch slice into the bucket's per-conversation
    states. Mutates states/seen_keys/done_convs/summaries; returns the
    per-turn pass-through frame (row_type turn|error) or None."""
    # the grouping column is not part of FOLD_OUTPUT
    pdf = pdf.drop(columns=["bucket"], errors="ignore").drop_duplicates(["conv_id", "turn_idx"])
    retry_out = None
    if seen_keys:
        keys = pdf["conv_id"] + "|" + pdf["turn_idx"].astype(str)
        dup = keys.isin(seen_keys).to_numpy()
        if dup.any():
            # cross-batch redelivery of a FAILED turn: bump its attempt
            # counter (ref models.go:20 RetryCount) and log the attempt as
            # another error row; counters/completion already counted it.
            # Redeliveries to tombstoned (done) conversations drop silently,
            # exactly like redelivered valid turns.
            re_err = pdf[dup & pdf["error_reason"].notna().to_numpy()]
            if not re_err.empty and emit_turns:
                bumps: list[int | None] = []
                for cid, i in zip(re_err["conv_id"], re_err["turn_idx"]):
                    st = states.get(cid)
                    if st is None or st["done"]:
                        bumps.append(None)
                    else:
                        r = st.setdefault("retries", {})
                        k = str(int(i))
                        r[k] = r.get(k, 0) + 1
                        bumps.append(r[k])
                re_err = re_err.assign(row_type="error", summary_json=None, retry_count=bumps)
                re_err = re_err[re_err["retry_count"].notna()]
                # match the hot path's nullable Int32 so the later concat
                # keeps a flat dtype instead of degrading to object
                re_err = re_err.assign(retry_count=re_err["retry_count"].astype("Int32"))
                if not re_err.empty:
                    retry_out = re_err
            pdf = pdf[~dup]
    if done_convs:
        pdf = pdf[~pdf["conv_id"].isin(done_convs)]
    if pdf.empty:
        return retry_out

    # per-turn pass-through: ONE vectorized assign for the whole bucket;
    # T6 rows surface as row_type='error' in the same sink pass (retry
    # counter: 0 on a first-attempt error, null on turns — as a nullable
    # Int32 array, never an object column: np.where(mask, 0, None) would
    # box one PyObject per output row on the hot path)
    err_mask = pdf["error_reason"].notna().to_numpy()
    out = (
        pdf.assign(
            row_type=np.where(err_mask, "error", "turn"),
            summary_json=None,
            retry_count=_null_unless(err_mask),
        )
        if emit_turns
        else None
    )
    if retry_out is not None:
        out = retry_out if out is None else pd.concat([out, retry_out])
    seen_keys.update(pdf["conv_id"] + "|" + pdf["turn_idx"].astype(str))

    # per-conversation increments via numpy group-boundary reductions —
    # no per-group pandas objects, no iterrows, no agg(list)
    pdf = pdf.sort_values(["conv_id", "turn_idx"])
    conv_arr = pdf["conv_id"].to_numpy()
    idx_arr = pdf["turn_idx"].to_numpy()
    pred_arr = pdf["top_prediction"].to_numpy()
    err_arr = pdf["error_reason"].notna().to_numpy()
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

    uconv, starts = np.unique(conv_arr, return_index=True)  # sorted input
    ends = np.append(starts[1:], len(conv_arr))
    unk_sums = np.add.reduceat(unk_arr, starts)
    fail_sums = np.add.reduceat(fail_arr, starts)
    ms_sums = np.add.reduceat(ms_arr, starts)
    ts_maxs = np.maximum.reduceat(ts_arr, starts)

    for gi, conv_id in enumerate(uconv):
        s, e = int(starts[gi]), int(ends[gi])
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
        st["seen"] = sorted(set(st["seen"]).union(int(i) for i in idx_arr[s:e]))
        labels = st["labels"]
        ok = ~err_arr[s:e]
        preds_slice = pred_arr[s:e][ok]
        idxs_slice = idx_arr[s:e][ok]
        for p in dict.fromkeys(preds_slice):  # distinct, order-stable
            labels.setdefault(p, []).extend(int(i) for i in idxs_slice[preds_slice == p])
        bad_idxs = idx_arr[s:e][~ok]
        if bad_idxs.size:
            r = st.setdefault("retries", {})
            for i in bad_idxs:  # first attempt registers at 0 retries
                r.setdefault(str(int(i)), 0)
        if st["n_expected"] > 0 and len(st["seen"]) >= st["n_expected"]:
            st["done"] = True  # slim tombstone until watermark expiry
            done_convs.add(conv_id)
            summaries.append(_summary_row(conv_id, "completed", st))
            st["seen"] = []
            st["labels"] = {}
            st["retries"] = {}
    return out


def _load_states(state) -> dict[str, dict]:
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
            "an older/newer engine build. Delete the checkpoint dir and "
            "replay the input; the batch-id-overwrite sink makes replay "
            "idempotent."
        )
    return blob["convs"]


def bucket_fold(
    key: tuple[int],
    pdfs: Iterable[pd.DataFrame],
    state,
    emit_turns: bool = True,
) -> Iterable[pd.DataFrame]:
    """The per-bucket session fold; ``state`` is a pyspark GroupState.

    ``emit_turns=True`` (unified): turn/error rows pass through and
    summaries come out as FOLD_OUTPUT rows. ``emit_turns=False`` (cascade
    Q2): the input is the slim per-turn record and only SUMMARY_OUTPUT
    ``(conv_id, summary_json)`` rows come out — the per-turn stream already
    landed via the stateless exactly-once path (Q1)."""
    wm_ms = state.getCurrentWatermarkMs()
    states = _load_states(state)

    summaries: list[dict[str, Any]] = []
    if not state.hasTimedOut:
        # cross-batch dedup set: "conv|idx" keys of everything already folded
        seen_keys = {f"{cid}|{i}" for cid, st in states.items() for i in st["seen"]}
        done_convs = {cid for cid, st in states.items() if st["done"]}
        for pdf in pdfs:
            out = _fold_one_pdf(pdf, states, seen_keys, done_convs, summaries, emit_turns)
            if out is not None:
                yield out

    summaries.extend(_expire_due(states, wm_ms))
    if summaries:
        frame = _summary_frame(summaries)
        yield frame if emit_turns else frame[SUMMARY_OUTPUT.fieldNames()]

    if states:
        state.update((json.dumps({"version": STATE_FORMAT_VERSION, "convs": states}, sort_keys=True),))
        state.setTimeoutTimestamp(wm_ms + 1000)
    elif state.exists:
        state.remove()
