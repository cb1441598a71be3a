#!/usr/bin/env python
"""JVM-free micro-benchmark of the keyed session fold: the cost of one
``bucket_fold`` call that folds 30 rows, as the open state already held
in the bucket grows.

For each row of the table, the bucket's open state is built by folding
synthetic turns through ``bucket_fold`` itself, so the blob has exactly
the layout the imported engine writes. Every conversation expects 10^6
turns, so all of them stay open. The timed call then folds 30 new turns
of open conversations against that blob: JSON load, dedup, fold and JSON
dump. Prints the median ms per call over REPEATS calls and the bucket
blob size after the call, as a markdown table.

Run: python scripts/fold_microbench.py
The repo root is appended to sys.path, so PYTHONPATH=<another checkout>
times that checkout's fold instead.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

import numpy as np
import pandas as pd

sys.path.append(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from distributed_classification_system_spark.streaming.state import bucket_fold  # noqa: E402

N_BUCKETS = 16
SLICE_ROWS = 30
REPEATS = 7
LABELS = ["billing", "support", "sales", "unknown"]
CASES = [  # (label, open conversations, folded turns per conversation)
    ("10 conversations × 10 turns", 10, 10),
    ("1,000 × 10", 1_000, 10),
    ("10,000 × 10", 10_000, 10),
    ("1 hot conversation, 100k turns", 1, 100_000),
]


class FakeGroupState:
    """The slice of pyspark's GroupState that bucket_fold uses; the
    watermark stays at 0, so nothing expires."""

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


def turns(convs: np.ndarray, idxs: np.ndarray) -> pd.DataFrame:
    """FOLD_INPUT rows (plus the grouping column) for the given
    (conversation, turn) pairs; every tenth turn is a T6 error."""
    n = len(convs)
    err = idxs % 10 == 9
    return pd.DataFrame(
        {
            "bucket": np.zeros(n, dtype="int32"),
            "conv_id": [f"conv-{c:06d}" for c in convs],
            "turn_idx": idxs.astype("int32"),
            "role": "user",
            "text": "billing question about my invoice",
            "tool": None,
            "ts": pd.to_datetime(1_700_000_000 + convs * 100 + idxs, unit="s"),
            "model_used": "m1",
            "top_prediction": np.array(LABELS, dtype=object)[idxs % len(LABELS)],
            "top_confidence": 0.5,
            "all_predictions_json": "[]",
            "reason": "",
            "processing_time_ms": 0.05 * (idxs % 200 + 5),
            "error_reason": np.where(err, "empty_text", None),
            "n_turns": np.full(n, 1_000_000, dtype="int32"),
        }
    )


def fold(pdf: pd.DataFrame, state: FakeGroupState) -> list[pd.DataFrame]:
    return list(bucket_fold((0,), iter([pdf]), state, N_BUCKETS))


def measure(n_convs: int, n_turns: int) -> tuple[float, float]:
    """(median ms per 30-row call, blob KB after the call)."""
    state = FakeGroupState()
    fold(turns(np.repeat(np.arange(n_convs), n_turns), np.tile(np.arange(n_turns), n_convs)), state)
    opened = state.blob
    k = np.arange(SLICE_ROWS)
    pdf = turns(k % n_convs, n_turns + k // n_convs)
    times = []
    for _ in range(REPEATS):
        state = FakeGroupState(opened)
        t0 = time.perf_counter()
        out = fold(pdf, state)
        times.append(time.perf_counter() - t0)
        if sum(len(o) for o in out) != SLICE_ROWS:
            raise RuntimeError(f"the 30-row call emitted {sum(len(o) for o in out)} rows")
    return statistics.median(times) * 1000, len(state.blob) / 1e3


def main() -> None:
    print("| open state in the bucket | ms per call | blob KB |")
    print("|---|---|---|")
    for label, n_convs, n_turns in CASES:
        ms, kb = measure(n_convs, n_turns)
        print(f"| {label} | {ms:.1f} | {kb:,.1f} |", flush=True)


if __name__ == "__main__":
    main()
