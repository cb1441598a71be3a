"""Names and units of every metric the benchmark prints.

``BENCHMARK.json`` at the repository root lists the same names; a test
keeps the two in step.
"""

from __future__ import annotations

from perfbench.leaves import LEAVES

# (name, unit, better)
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("turns_per_s", "turns/s", "higher"),
    ("result_latency_p50_s", "s", "lower"),
    ("result_latency_tail_s", "s", "lower"),
]

_ENGINE_PHASES = ["queryPlanning", "latestOffset", "getBatch", "addBatch", "walCommit", "commitOffsets"]

PER_LAYER = (
    [
        ("peak_rss_mb", "MB", "lower"),
        ("session.start_s", "s", "lower"),
        ("gen.transcripts_s", "s", "lower"),
        ("gen.stage_s", "s", "lower"),
        ("prefix.scan_s", "s", "lower"),
        ("prefix.classify_s", "s", "lower"),
        ("kernel.only_s", "s", "lower"),
        ("kernel.useful_frac", "fraction", "higher"),
        ("prefix.exchange_s", "s", "lower"),
        ("prefix.sink_s", "s", "lower"),
        ("prefix.fold_and_machinery_s", "s", "lower"),
        ("sink.turn_rows", "count", "higher"),
        ("sink.error_rows", "count", "lower"),
        ("sink.summary_rows", "count", "higher"),
        ("sink.bytes", "bytes", "lower"),
        ("sink.files", "count", "lower"),
        ("read.verify_s", "s", "lower"),
        ("state.rows_total", "count", "lower"),
        ("state.rows_updated", "count", "lower"),
        ("state.rows_removed", "count", "lower"),
        ("state.rows_dropped_by_watermark", "count", "lower"),
        ("state.memory_bytes", "bytes", "lower"),
        ("state.commit_s", "s", "lower"),
        ("state.updates_s", "s", "lower"),
        ("state.removals_s", "s", "lower"),
        ("state.checkpoint_bytes", "bytes", "lower"),
        ("engine.start_s", "s", "lower"),
        ("engine.stop_s", "s", "lower"),
        ("engine.nodata_batch_s", "s", "lower"),
    ]
    + [(f"engine.{p}_s", "s", "lower") for p in _ENGINE_PHASES]
    + [
        ("engine.data_batches", "count", "lower"),
        ("engine.nodata_batches", "count", "lower"),
        ("engine.cycles", "count", "lower"),
        ("engine.cycle_s", "s", "lower"),
        ("engine.input_rows", "count", "higher"),
        ("loadgen.backlog_files_max", "count", "lower"),
        ("loadgen.lag_max_s", "s", "lower"),
        ("scaling.doubling_eff", "fraction", "higher"),
        ("trace.overhead_frac", "fraction", "lower"),
        ("error_rate", "fraction", "lower"),
        ("leaves_s", "s", "lower"),
        ("leaves.plan_s", "s", "lower"),
        ("leaves.exec_s", "s", "lower"),
    ]
    + [(f"leaf.{n}_s", "s", "lower") for n in LEAVES]
)

UNITS = {name: unit for name, unit, _ in END_TO_END + PER_LAYER}
