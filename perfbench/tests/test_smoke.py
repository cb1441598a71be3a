"""A tiny run of each workload in one Spark session, inputs shrunk."""

import math
import os

import pytest

from perfbench import leaves, metrics, run, streams
from perfbench.box import Box
from perfbench.trace import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def box(tmp_path_factory):
    b = Box(ROOT, str(tmp_path_factory.mktemp("perfbench-work")))
    b.session_s = b.start_spark()
    yield b
    b.shutdown()


def _check(result, traced):
    assert result["problems"] == []
    assert result["attempted"] >= 1 and result["failed"] == 0
    line = run._metric_line(result, traced, Tracer(enabled=traced), 1.0)
    want = metrics.PER_LAYER if traced else metrics.END_TO_END
    assert [n for n, _, _ in want] == list(line)[: len(want)]
    for name, m in line.items():
        assert math.isfinite(m["value"]) and m["value"] >= 0, name
    return line


@pytest.fixture()
def box_here(box, tmp_path, monkeypatch):
    """The shared session with a fresh work directory for this test."""
    monkeypatch.setattr(box, "work", str(tmp_path))
    return box


def test_bulk_clean_traced(box_here, monkeypatch):
    box = box_here
    monkeypatch.setattr(streams, "BULK_CONVS", 400)
    monkeypatch.setattr(streams, "BULK_FILES", 2)
    monkeypatch.setattr(streams, "BULK_MIN_DRAINS", 1)
    res = streams.bulk_clean(box, Tracer(enabled=True), seed=3, seconds=0, traced=True)
    line = _check(res, traced=True)
    assert line["sink.turn_rows"]["value"] == res["details"]["turns"]
    assert line["kernel.useful_frac"]["value"] == 1.0
    assert line["scaling.doubling_eff"]["value"] > 0
    assert res["e2e"]["turns_per_s"] > 0


def test_trickle_dirty_traced_with_leaves(box_here, monkeypatch):
    box = box_here
    monkeypatch.setattr(leaves, "LEAVES", ["pricing_summary", "classify_docs_expr", "simhash_full"])
    res = streams.trickle_dirty(box, Tracer(enabled=True), seed=4, seconds=2, traced=True)
    line = _check(res, traced=True)
    assert line["state.rows_dropped_by_watermark"]["value"] == res["details"]["traffic"]["late_rows"]
    assert line["sink.error_rows"]["value"] > 0
    assert res["e2e"]["result_latency_tail_s"] >= res["e2e"]["result_latency_p50_s"] > 0
    assert res["e2e"]["turns_per_s"] > 0
    traffic = res["details"]["traffic"]
    assert 0.15 < traffic["hot_rows"] / traffic["turns"] < 0.25  # FIXTURES.md section 6 "skewed": 20 %
    assert line["leaf.simhash_full_s"]["value"] > 0 and line["leaf.lang_id_s"]["value"] == 0
    assert line["leaves_s"]["value"] == (
        pytest.approx(line["leaves.plan_s"]["value"] + line["leaves.exec_s"]["value"]))
