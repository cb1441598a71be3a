"""Property-based tests (hypothesis) for the pure-Python fold core and
kernel — no JVM: these pin the exactly-once fold semantics under
arbitrary batch slicing, duplication and reordering, which the Spark
streaming tests can only sample.

Invariant: folding any shuffled, duplicated, arbitrarily re-batched
delivery of a turn set produces EXACTLY the same per-conversation states
and completion summaries as one clean in-order batch.
"""

from __future__ import annotations

import json
import random

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql.pandas.types import to_arrow_type

from distributed_classification_system_spark.functions.kernel import (
    CLASSIFY_RESULT,
    make_registry_classify_udf,
    score_text,
)
from distributed_classification_system_spark.streaming.state import (
    STATE_FORMAT_VERSION,
    _expire_due,
    _fold_one_pdf,
    _new_conv_state,
    bucket_fold,
)
from scripts.fold_microbench import FakeGroupState

LABELS = ["dog", "cat", "bird"]


def _turns_frame(rows: list[dict]) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "conv_id": [r["conv_id"] for r in rows],
            "turn_idx": np.array([r["turn_idx"] for r in rows], dtype="int32"),
            "top_prediction": [r["pred"] for r in rows],
            "error_reason": [r.get("err") for r in rows],
            "processing_time_ms": np.array([r["ms"] for r in rows], dtype="float64"),
            "ts": pd.to_datetime([r["ts"] for r in rows], unit="s"),
            "n_turns": np.array([r["n_turns"] for r in rows], dtype="int32"),
            "model_used": ["m1"] * len(rows),
        }
    )


def _run_fold(batches: list[list[dict]]):
    states: dict = {}
    summaries: list[dict] = []
    emitted = []  # (conv_id, turn_idx, row_type, retry_count)
    for b in batches:
        if not b:
            continue
        out = _fold_one_pdf(_turns_frame(b), states, summaries)
        if out is not None:
            emitted.extend(
                zip(
                    out["conv_id"],
                    out["turn_idx"].astype(int),
                    out["row_type"],
                    [None if pd.isna(r) else int(r) for r in out["retry_count"]],
                )
            )
    return states, summaries, emitted


@st.composite
def conv_deliveries(draw):
    n_convs = draw(st.integers(1, 4))
    rows = []
    for c in range(n_convs):
        n_turns = draw(st.integers(1, 8))
        for i in range(n_turns):
            rows.append(
                {
                    "conv_id": f"conv-{c}",
                    "turn_idx": i,
                    "pred": draw(st.sampled_from(LABELS + ["unknown"])),
                    "err": draw(st.sampled_from([None, None, None, "empty_text"])),
                    "ms": draw(st.integers(0, 400)) * 0.05,
                    "ts": 1_700_000_000 + c * 1000 + i * 7,
                    "n_turns": n_turns,
                }
            )
    seed = draw(st.integers(0, 2**31))
    n_batches = draw(st.integers(1, 5))
    dup_frac = draw(st.floats(0.0, 0.6))
    return rows, seed, n_batches, dup_frac


@given(conv_deliveries())
@settings(max_examples=60, deadline=None)
def test_fold_invariant_under_slicing_duplication_reordering(delivery):
    rows, seed, n_batches, dup_frac = delivery
    # golden: one clean, in-order batch
    g_states, g_summaries, g_emitted = _run_fold([rows])

    # adversarial: shuffled, duplicated, arbitrarily sliced delivery
    rng = random.Random(seed)
    dirty = rows + rng.sample(rows, int(len(rows) * dup_frac))
    rng.shuffle(dirty)
    cuts = sorted(rng.randrange(len(dirty) + 1) for _ in range(n_batches - 1))
    batches = [
        dirty[a:b] for a, b in zip([0] + cuts, cuts + [len(dirty)])
    ]
    d_states, d_summaries, d_emitted = _run_fold(batches)

    # retry counters are delivery-dependent BY DESIGN (they count
    # cross-batch redeliveries of failed turns); everything else is
    # delivery-invariant
    def _no_retries(states):
        return {
            c: {k: v for k, v in st.items() if k != "retries"}
            for c, st in states.items()
        }

    assert _no_retries(d_states) == _no_retries(g_states)
    assert {c: set(st.get("retries", {})) for c, st in d_states.items()} == {
        c: set(st.get("retries", {})) for c, st in g_states.items()
    }  # same failed-turn key sets, only the attempt counts may differ
    # summaries: same set, emitted exactly once per completed conversation
    key = lambda s: (s["conv_id"], s["summary_json"])  # noqa: E731
    assert sorted(map(key, d_summaries)) == sorted(map(key, g_summaries))
    assert len({s["conv_id"] for s in d_summaries}) == len(d_summaries)
    # the summary total is derived from the fold's counters: pin it against
    # the distinct turns delivered, not against those counters
    delivered = {}
    for r in rows:
        delivered.setdefault(r["conv_id"], set()).add(r["turn_idx"])
    for s in d_summaries:
        assert json.loads(s["summary_json"])["total"] == len(delivered[s["conv_id"]])
    # turn pass-through: exactly-once per (conv, turn) regardless of dup
    d_turns = [(c, i) for c, i, rt, _ in d_emitted if rt == "turn"]
    g_turns = [(c, i) for c, i, rt, _ in g_emitted if rt == "turn"]
    assert sorted(d_turns) == sorted(g_turns) == sorted(set(d_turns))
    # error rows: first attempt exactly once (retry_count=0), redelivery
    # attempts logged with consecutive counters 1..k per failed turn
    d_first = [(c, i) for c, i, rt, r in d_emitted if rt == "error" and r == 0]
    g_first = [(c, i) for c, i, rt, r in g_emitted if rt == "error" and r == 0]
    assert sorted(d_first) == sorted(g_first) == sorted(set(d_first))
    from collections import defaultdict

    attempts = defaultdict(list)
    for c, i, rt, r in d_emitted:
        if rt == "error" and r is not None and r > 0:
            attempts[(c, i)].append(r)
    for (c, i), rs in attempts.items():
        assert (c, i) in set(d_first)
        assert sorted(rs) == list(range(1, len(rs) + 1))


@given(conv_deliveries())
@settings(max_examples=30, deadline=None)
def test_expiry_emits_timeout_only_for_open_sessions(delivery):
    rows, *_ = delivery
    states, summaries, _ = _run_fold([rows])
    completed = {s["conv_id"] for s in summaries}
    expired = _expire_due(states, wm_ms=2**62)  # watermark beyond everything
    assert states == {}  # all state expired
    # timeout summaries only for conversations that had NOT completed
    assert {r["conv_id"] for r in expired}.isdisjoint(completed)


def _fold_bucket(rows: list[dict], state: FakeGroupState, n_buckets: int = 16):
    return list(bucket_fold((0,), iter([_turns_frame(rows)]), state, n_buckets))


def test_bucket_fold_state_format_version():
    """A checkpointed bucket blob from another state format or another
    bucket count fails loudly with the recovery recipe; a matching blob
    resumes exactly."""
    rows = [
        {"conv_id": "conv-0", "turn_idx": i, "pred": "dog", "ms": 0.5,
         "ts": 1_700_000_000 + i, "n_turns": 4}
        for i in range(4)
    ]
    convs = {"conv-0": _new_conv_state()}
    unversioned = json.dumps(convs)  # the version-1 blob
    v2 = json.dumps({"version": 2, "convs": convs})  # no bucket count
    # version 3 recorded every folded turn again in a per-conversation list
    v3 = json.dumps(
        {"version": 3, "buckets": 16, "convs": {"conv-0": {**_new_conv_state(), "seen": [0]}}}
    )
    future = json.dumps({"version": STATE_FORMAT_VERSION + 1, "buckets": 16, "convs": {}})
    for blob in (unversioned, v2, v3, future):
        with pytest.raises(RuntimeError, match="format version .* Delete the checkpoint dir and replay the input"):
            _fold_bucket(rows, FakeGroupState(blob))

    state = FakeGroupState()
    assert len(_fold_bucket(rows[:2], state)) == 1
    saved = json.loads(state.blob)
    assert (saved["version"], saved["buckets"]) == (STATE_FORMAT_VERSION, 16)
    assert "seen" not in saved["convs"]["conv-0"]
    # the same blob resumed under another bucket count would re-route
    # conversations: it must raise, not fold
    with pytest.raises(RuntimeError, match="16 fold buckets, this run uses 32.* Delete the checkpoint dir"):
        _fold_bucket(rows[1:], FakeGroupState(state.blob), n_buckets=32)
    # resume from the saved blob; turn 1 is a redelivery
    *turns, summaries = _fold_bucket(rows[1:], FakeGroupState(state.blob))
    summary = json.loads(summaries["summary_json"].iloc[0])
    assert (summary["status"], summary["total"], summary["classified"]) == ("completed", 4, 4)
    assert list(turns[0]["turn_idx"]) == [2, 3]


# two job_types, one wider than 64 labels: the kernel's argpartition path
KERNEL_REGISTRY = {"job": LABELS, "wide": [f"w{i:03d}" for i in range(80)]}
_KERNEL_ROW = st.tuples(
    st.one_of(
        st.none(),
        st.lists(
            st.sampled_from(LABELS + ["the", "a", "dog dog", "w000", "w001", "w042", "w079"]),
            max_size=30,
        ).map(" ".join),
    ),
    st.sampled_from(sorted(KERNEL_REGISTRY)),
    st.integers(1, 5),
    st.floats(0.05, 0.95),
)


@given(st.lists(_KERNEL_ROW, max_size=12))
@example(rows=[])  # a zero-row batch must still return a typed, empty struct array
@settings(max_examples=100, deadline=None)
def test_kernel_udf_matches_scalar_oracle(rows):
    """The vectorized kernel body equals the scalar reference row by row
    on multi-row batches (same scores bit-for-bit, same ordering and
    relabeling): rows of two job_types interleaved, null and empty text,
    so each group's top-k lists must land back in row order."""
    texts, jobs, ks, thrs = zip(*rows) if rows else ((), (), (), ())
    got = make_registry_classify_udf(KERNEL_REGISTRY).func(
        pa.array(texts, pa.string()),
        pa.array(jobs, pa.string()),
        pa.array(ks, pa.int32()),
        pa.array(thrs, pa.float64()),
    )
    assert got.type == to_arrow_type(CLASSIFY_RESULT)
    assert len(got) == len(rows)
    for got_row, (text, job, top_k, threshold) in zip(got.to_pylist(), rows):
        want = score_text(text, KERNEL_REGISTRY[job], top_k, threshold)
        assert got_row["top_prediction"] == want["top_prediction"]
        assert got_row["top_confidence"] == want["top_confidence"]
        assert got_row["reason"] == want["reason"]
        assert got_row["processing_time_ms"] == want["processing_time_ms"]
        assert [(p["label"], p["score"]) for p in got_row["all_predictions"]] == [
            (p["label"], p["score"]) for p in want["all_predictions"]
        ]
