"""distributed_classification_system_spark — a from-scratch PySpark-native
streaming CEP / classification engine with the query and data-processing
capabilities of the reference system ``vaarunx/distributed-classification-system``.

This is NOT a port: the reference is a Go-backend + SQS + Python-ML-worker
pipeline (see SURVEY.md). We re-express *what it computes* — per-item
classification with top-k + confidence threshold, keyed incremental job
aggregation, completion detection, label-partitioned sinks, and the
load-test analytics — as an idiomatic Spark engine:

- input: table/stream of multi-turn agent transcripts
  ``(conv_id, turn_idx, role, text, tool, ts)``
- classification kernel: vectorized Arrow/pandas UDF (no per-row Python)
- session fold: ``applyInPandasWithState`` keyed by a hash bucket of
  ``conv_id`` (one state row per bucket)
- sink: idempotent MERGE keyed ``(conv_id, turn_idx)`` (exactly-once)
- analytics: Catalyst-native window/aggregate queries

Subpackages
-----------
- ``sources``   — synthetic deterministic generators, table loaders, sinks
- ``functions`` — scalar/vectorized kernels (classification, text, similarity)
- ``operators`` — relational operator compositions (classify, sessionize,
                  serve, rollup, dedup, ann, asof)
- ``plans``     — end-to-end pipelines (flagship batch plan)
- ``streaming`` — Structured Streaming engine (stateful fold, sink, metrics)
"""

__version__ = "0.1.0"
