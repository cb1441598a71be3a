import pytest

from perfbench.trace import Tracer


def test_self_time_subtracts_covered_child_intervals():
    t = Tracer(enabled=True)
    root = t.add("root", 0.0, 10.0, None)
    t.add("a", 1.0, 4.0, root)
    t.add("b", 3.0, 6.0, root)  # overlaps a: union covers 1..6
    t.add("c", 9.0, 12.0, root)  # sticks out: only 9..10 counts
    st = t.self_times()
    assert st["root"] == 10.0 - 5.0 - 1.0
    assert st["a"] == 3.0 and st["b"] == 3.0 and st["c"] == 3.0


def test_spans_nest_and_carry_run_id():
    t = Tracer(enabled=True, run_id="r1")
    with t.span("outer"):
        with t.span("inner", k=1):
            pass
    outer, inner = t.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert {s["run_id"] for s in t.spans} == {"r1"}
    assert inner["attrs"] == {"k": 1} and outer["end"] >= inner["end"]


def test_progress_phases_become_child_spans_in_order():
    t = Tracer(enabled=True)
    p = {"timestamp": "2026-01-01T00:00:00.000Z", "batchId": 3, "numInputRows": 10,
         "durationMs": {"latestOffset": 100, "addBatch": 500, "triggerExecution": 700}}
    t.add_progress([p], None)
    batch, first, second = t.spans
    assert batch["name"] == "engine.batch"
    assert batch["end"] - batch["start"] == pytest.approx(0.7, abs=1e-5)
    assert (first["name"], second["name"]) == ("engine.latestOffset", "engine.addBatch")
    assert first["parent"] == second["parent"] == batch["id"]
    assert second["start"] == first["end"]
    assert t.self_times()["engine.batch"] == pytest.approx(0.1, abs=1e-5)


def test_disabled_tracer_records_nothing():
    t = Tracer(enabled=False)
    with t.span("x"):
        pass
    assert t.add("y", 0, 1, None) is None
    assert t.spans == []
