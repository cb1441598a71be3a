import numpy as np
import pandas as pd
import pytest

from perfbench import traffic

SPAN = 30
HIST = 13


def clean_stream(n_convs=900, hot=("conv-00000000", "conv-00000001"), hot_turns=200):
    """Same shape as the engine's generator: one conversation starts per
    second, turns 7 s apart."""
    rng = np.random.default_rng(0)
    rows = []
    n_turns = {}
    base = pd.Timestamp("2025-01-01")
    for c in range(n_convs):
        cid = f"conv-{c:08d}"
        k = hot_turns if cid in hot else int(rng.integers(1, 21))
        n_turns[cid] = k
        for i in range(k):
            rows.append((cid, i, "user", f"dog cat {c} {i}", None, base + pd.Timedelta(seconds=c + 7 * i)))
    df = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    return df, n_turns, set(hot)


@pytest.fixture(scope="module")
def stream():
    return clean_stream()


def _inject(stream, seed):
    df, n_turns, hot = stream
    return traffic.inject(df, n_turns, hot, seed, SPAN, HIST)


def _digest(tr):
    return [int(pd.util.hash_pandas_object(f, index=False).sum()) for f in tr.history + tr.files]


def test_same_seed_same_files_other_seed_other_files(stream):
    a, b, c = _inject(stream, 7), _inject(stream, 7), _inject(stream, 8)
    assert _digest(a) == _digest(b)
    assert a.expected == b.expected and a.counts == b.counts
    assert _digest(a) != _digest(c)


def test_every_disturbance_is_present(stream):
    tr = _inject(stream, 1)
    c = tr.counts
    for k in ("invalid_rows", "late_rows", "out_of_order_rows", "redelivered_rows",
              "redelivered_invalid_rows", "unconfigured_convs"):
        assert c[k] > 0, k
    assert c["hot_convs"] == 2 and c["history_files"] == HIST
    assert c["invalid_rows"] == round(traffic.SHARES["invalid_rows"] * c["turns"])


def test_late_rows_are_behind_and_moved_rows_ahead_of_any_watermark(stream):
    tr = _inject(stream, 3)
    files = tr.history + tr.files[:-1]
    max_ts = [f["ts"].max() for f in files]
    late_bound = max_ts[HIST - 2] - pd.Timedelta(seconds=traffic.WATERMARK_S)
    n_late = 0
    for j in range(HIST, len(files)):
        f = files[j]
        natural_lo = max_ts[j - 1] - pd.Timedelta(seconds=traffic.WATERMARK_S)
        late = f["ts"] <= late_bound
        n_late += int(late.sum())
        # every other row is on time against the highest watermark file j can see
        assert (f.loc[~late, "ts"] > natural_lo).all()
    assert n_late == tr.expected["dropped_by_watermark"]


def test_reference_accounts_for_every_row(stream):
    tr = _inject(stream, 5)
    exp = tr.expected
    keys = exp["turn_keys"]
    assert len(keys) == len(set(keys))  # exactly once
    assert (traffic.SENTINEL, 0) in keys
    retries = [e for e in exp["errors"] if e[2] == 1]
    assert len(retries) == tr.counts["redelivered_invalid_rows"] > 0
    firsts = {(c, i) for c, i, r in exp["errors"] if r == 0}
    assert {(c, i) for c, i, _ in retries} <= firsts  # a retry follows a first attempt
    assert not firsts & set(keys)
    summ = exp["summaries"]
    assert all(summ[h][0] == "timeout" for h in stream[2])  # hot conversations never complete
    for conv in tr.configured - stream[2]:
        if conv in summ and summ[conv][0] == "timeout":
            assert summ[conv][1] < stream[1][conv]  # only a missing (late) turn stops completion
    sunk = sum(1 for c, _ in keys if c != traffic.SENTINEL)
    failed = len(firsts)
    assert sum(t for _, t, _ in summ.values()) == sunk + failed


def test_unconfigured_conversations_close_by_timeout(stream):
    tr = _inject(stream, 9)
    unconf = set(stream[1]) - tr.configured
    assert len(unconf) == tr.counts["unconfigured_convs"]
    assert all(tr.expected["summaries"][c][0] == "timeout" for c in unconf if c in tr.expected["summaries"])
