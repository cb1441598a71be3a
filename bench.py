#!/usr/bin/env python
"""Benchmark harness: the headline query suite plus end-to-end throughput.

Runs the headline query suite on the tables in $SPARK_GRAFT_SF_DIR
(default: the sf0.1 test data) on local[$SPARK_GRAFT_CPUS] (default: the
cores this process may run on), prices the two dedup operators on the full documents
table, then streams a generated transcript input through the engine
(ingest → classify → stateful fold → exactly-once sink). The LAST stdout
line is a compact (<4 KB) headline JSON, so a caller can tail-capture
stdout and parse the last line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {...per-query sec...}, "sf": ...,
     "pipeline": {"turns": N, "sec": S, "turns_per_sec": X,
                  "best_batch_rate": B},
     "scaling": null}

``scaling`` is always null: scaling across core counts is measured by
``perfbench/`` (``scaling.doubling_eff``), the repo benchmark.

Full diagnostics (per-query times + loadavgs, per-batch durations) go to
BENCH/diagnostics.json.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import tempfile
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _sf_from_dir(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else 0.1


def prepare_input(spark, sf: float, data_dir: str) -> None:
    """Input prep (untimed): the transcript stream files and the job-config
    dimension table both exist before the engine starts in any real
    deployment (the reference reads job params from DynamoDB)."""
    from distributed_classification_system_spark.sources.gen import (
        gen_conv_config,
        gen_transcripts,
        n_convs_for_sf,
    )

    n = n_convs_for_sf(sf)
    inp = os.path.join(data_dir, "in")
    gen_transcripts(spark, n).repartitionByRange(32, "ts").write.parquet(inp)
    # ascending mtimes in ts-range order: the file source replays the
    # stream in event-time order (like a real queue/Iceberg feed) —
    # range partition i covers the i-th ts slice, and the source orders
    # ties by mtime
    import glob

    now = time.time()
    parts = sorted(glob.glob(os.path.join(inp, "part-*")))
    for i, p in enumerate(parts):
        ts = now - (len(parts) - i)
        os.utime(p, (ts, ts))
    gen_conv_config(spark, n).write.parquet(os.path.join(data_dir, "conv_config"))


def run_pipeline(spark, sf: float, tmp: str) -> dict:
    """End-to-end: transcript stream files → streaming engine
    (classify + session fold) → exactly-once sink. Returns rate stats,
    including per-batch sustained rates (rows / addBatch time) as
    ``batch_rates``. The caller warms the session's Python workers."""
    from distributed_classification_system_spark.sources.gen import gen_label_registry
    from distributed_classification_system_spark.streaming import engine as eng

    prepare_input(spark, sf, tmp)
    inp = os.path.join(tmp, "in")
    out = os.path.join(tmp, "out")
    n_turns = spark.read.parquet(inp).count()

    cfg = spark.read.parquet(os.path.join(tmp, "conv_config"))
    reg = gen_label_registry(spark)

    t0 = time.time()
    q = eng.run_stream(
        spark, inp, out, cfg, reg,
        checkpoint_dir=os.path.join(tmp, "ckpt"),
        await_termination=True,
    )
    elapsed = time.time() - t0
    sunk = eng.read_turn_results(spark, out).count()
    assert sunk == n_turns, f"sink rows {sunk} != input {n_turns}"
    batches = [
        {"batch": p["batchId"], "rows": p["numInputRows"], "durationMs": p["durationMs"]}
        for p in q.recentProgress
    ]
    batch_rates = [
        round(b["rows"] / (b["durationMs"]["addBatch"] / 1000.0), 1)
        for b in batches
        if b["rows"] > 0 and b["durationMs"].get("addBatch", 0) > 0
    ]
    return {"turns": n_turns, "sec": round(elapsed, 2),
            "turns_per_sec": round(n_turns / elapsed, 1),
            "batch_rates": batch_rates,
            "best_batch_rate": max(batch_rates) if batch_rates else 0.0,
            "batches": batches}


HEADLINE = [
    "classify_docs_udf",
    "classify_docs_expr",
    "classify_summary",
    "pricing_summary",
    "fact_dim_revenue",
    "dim_join_rollup",
    "tumbling_window",
    "exact_percentiles",
    "asof_join",
    "user_sessions",
    "exact_dedup",
    "minhash_lsh",
    "ngram_jaccard",
    "ann_bruteforce",
    "ann_ivf",
    "lang_id",
    "quality_scores",
    "topk_per_group",
    # round-2 additions
    "sliding_window",
    "conv_fold_docs",
    "simhash_near_dups",
    "chunk_shared_pairs",
    # round-3: the kernel at surveyed 1000-label width (O(labels)/row;
    # compare against classify_docs_udf's 5-label time for the slope)
    "classify_docs_1k",
    # round-5: the curation family at sf0.1 (5,000 docs — the graded rows
    # run on sf0.01 slices; these price the full table, giving the
    # applyInPandas greedy packer its first non-trivial-stratum number)
    "stratified_sample",
    "pack_sequences",
    "pack_greedy",
    "chunk_documents",
]


def _print_headline(out: dict) -> None:
    """Print the compact headline line, degrading instead of dying: a
    caller parses the LAST stdout line, so a line of 4 KB or more falls
    back to ``metric/value/unit/sf/pipeline`` with ``scaling: null``
    rather than being asserted on (an assert would leave a traceback as
    the last output instead of a parseable line)."""
    line = json.dumps(out)
    if len(line) >= 4096:
        line = json.dumps(
            {**{k: out[k] for k in ("metric", "value", "unit", "sf", "pipeline")},
             "scaling": None}
        )
    print(line, flush=True)


def _write_diagnostics(diag: dict) -> None:
    os.makedirs("BENCH", exist_ok=True)
    with open(os.path.join("BENCH", "diagnostics.json"), "w") as f:
        json.dump(diag, f, indent=1)


def main() -> None:
    from distributed_classification_system_spark.session import get_spark

    import __spark_entry__ as entrymod

    sf = _sf_from_dir(SF_DIR)
    # cores and shuffle partitions: session.DEFAULT_CPUS ($SPARK_GRAFT_CPUS,
    # else the cores this process may run on)
    spark = get_spark(app_name="bench")
    qmap = entrymod.queries()
    # untimed warmup: python-worker spawn + codegen JIT otherwise lands
    # entirely on whichever headline query happens to run first
    from pyspark.sql import functions as F

    from distributed_classification_system_spark.functions.kernel import make_registry_classify_udf

    spark.range(2000).select(
        make_registry_classify_udf({"warmup": ["dog", "cat"]})(
            F.concat(F.lit("dog cat x"), F.col("id").cast("string")),
            F.lit("warmup"),
            F.lit(3),
            F.lit(0.2),
        )
    ).count()
    # per-query pre-measure loadavg: a co-resident load wave inflates
    # wall-times 20-80% (seen r1→r2 on unchanged queries) — recording it
    # makes an inflated run self-diagnosing instead of mystery noise
    times: dict[str, float] = {}
    loads: dict[str, float] = {}
    for name in HEADLINE:
        loads[name] = round(os.getloadavg()[0], 2)
        t0 = time.time()
        # count() drives the full plan without collecting payloads
        qmap[name](spark, SF_DIR).count()
        times[name] = round(time.time() - t0, 3)

    # dedup at a SECOND scale (the graded dedup queries run on sliced
    # inputs sized for the sf0.01 correctness gate; these two lines price
    # the blocking caps' sub-quadratic claim on the FULL documents table,
    # ~10-16x the graded doc count at sf0.1)
    from distributed_classification_system_spark.operators import dedup as _dedup

    docs_full = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    n_docs_full = docs_full.count()
    for nm, fn in (
        ("minhash_lsh_full", _dedup.minhash_lsh_candidates),
        ("simhash_full", _dedup.simhash_near_dups),
    ):
        loads[nm] = round(os.getloadavg()[0], 2)
        t0 = time.time()
        fn(docs_full).count()
        times[nm] = round(time.time() - t0, 3)

    tmp = tempfile.mkdtemp(prefix="bench_e2e_")
    try:
        loads["e2e_pipeline"] = round(os.getloadavg()[0], 2)
        t0 = time.time()
        pipe = run_pipeline(spark, sf, tmp)
        times["e2e_pipeline"] = round(time.time() - t0, 3)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    pipe_compact = {k: pipe[k] for k in ("turns", "sec", "turns_per_sec", "best_batch_rate")}
    out = {
        "metric": "classified turns/sec end-to-end (ingest->classify->sink)",
        "value": round(sum(times.values()), 2),
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "pipeline": pipe_compact,
        "scaling": None,
    }
    diagnostics = {
        "times": times,
        "query_loadavg": loads,
        "pipeline": pipe,
        "dedup_scale": {
            "full_docs": n_docs_full,
            "graded_minhash_docs": "doc_id<300 slice",
            "graded_simhash_docs": "doc_id<500 slice + every-25th dup",
        },
    }
    _write_diagnostics(diagnostics)
    _print_headline(out)


if __name__ == "__main__":
    main()
