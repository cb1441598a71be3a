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
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from distributed_classification_system_spark.functions.kernel import score_text
from distributed_classification_system_spark.streaming.state import (
    STATE_FORMAT_VERSION,
    _expire_due,
    _fold_one_pdf,
    _new_conv_state,
    bucket_fold,
)

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
    seen: set = set()
    done: set = set()
    summaries: list[dict] = []
    emitted = []  # (conv_id, turn_idx, row_type, retry_count)
    for b in batches:
        if not b:
            continue
        out = _fold_one_pdf(_turns_frame(b), states, seen, done, summaries)
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


class _FakeGroupState:
    """The slice of pyspark's GroupState that bucket_fold uses."""

    def __init__(self, blob: str | None = None):
        self.blob = blob
        self.hasTimedOut = False

    @property
    def exists(self) -> bool:
        return self.blob is not None

    @property
    def get(self) -> tuple:
        return (self.blob,)

    def update(self, row: tuple) -> None:
        (self.blob,) = row

    def remove(self) -> None:
        self.blob = None

    def getCurrentWatermarkMs(self) -> int:
        return 0

    def setTimeoutTimestamp(self, ts: int) -> None:
        pass


def _fold_bucket(
    rows: list[dict], state: _FakeGroupState, emit_turns: bool = True, n_buckets: int = 16
):
    return list(bucket_fold((0,), iter([_turns_frame(rows)]), state, n_buckets, emit_turns))


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
    future = json.dumps({"version": STATE_FORMAT_VERSION + 1, "buckets": 16, "convs": {}})
    for blob in (unversioned, v2, future):
        with pytest.raises(RuntimeError, match="format version .* Delete the checkpoint dir and replay the input"):
            _fold_bucket(rows, _FakeGroupState(blob))

    for emit_turns in (True, False):
        state = _FakeGroupState()
        assert len(_fold_bucket(rows[:2], state, emit_turns)) == int(emit_turns)
        saved = json.loads(state.blob)
        assert (saved["version"], saved["buckets"]) == (STATE_FORMAT_VERSION, 16)
        # the same blob resumed under another bucket count would re-route
        # conversations: it must raise, not fold
        with pytest.raises(RuntimeError, match="16 fold buckets, this run uses 32.* Delete the checkpoint dir"):
            _fold_bucket(rows[1:], _FakeGroupState(state.blob), emit_turns, n_buckets=32)
        # resume from the saved blob; turn 1 is a redelivery
        *turns, summaries = _fold_bucket(rows[1:], _FakeGroupState(state.blob), emit_turns)
        summary = json.loads(summaries["summary_json"].iloc[0])
        assert (summary["status"], summary["total"], summary["classified"]) == ("completed", 4, 4)
        if emit_turns:
            assert list(turns[0]["turn_idx"]) == [2, 3]
        else:
            assert turns == []
            assert list(summaries.columns) == ["conv_id", "summary_json"]


@given(
    st.lists(st.sampled_from(LABELS + ["the", "a", "dog dog"]), max_size=30),
    st.integers(1, 5),
    st.floats(0.05, 0.95),
)
@settings(max_examples=100, deadline=None)
def test_kernel_udf_matches_scalar_oracle(tokens, top_k, threshold):
    """The vectorized kernel body equals the scalar reference on arbitrary
    token sequences (same scores bit-for-bit, same ordering/relabeling)."""
    from distributed_classification_system_spark.functions.kernel import classify_udf

    text = " ".join(tokens)
    got = classify_udf.func(
        pd.Series([text]),
        pd.Series([LABELS]),
        pd.Series([top_k]),
        pd.Series([threshold]),
    ).iloc[0]
    want = score_text(text, LABELS, top_k, threshold)
    assert got["top_prediction"] == want["top_prediction"]
    assert got["top_confidence"] == want["top_confidence"]
    assert got["reason"] == want["reason"]
    assert got["processing_time_ms"] == want["processing_time_ms"]
    assert [(p["label"], p["score"]) for p in got["all_predictions"]] == [
        (p["label"], p["score"]) for p in want["all_predictions"]
    ]
