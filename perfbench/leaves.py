"""The 29 batch leaves of ``__spark_entry__.queries()`` in a warm
session, each run to a noop sink: the ``operators.*`` layers that neither
stream workload touches.

The leaves are the old bench's headline list plus ``minhash_lsh_full`` and
``simhash_full`` (the dedup operators over the whole documents table).
They run in the traced ``trickle_dirty`` run, after the stream, in the
same session. The first pass is the warm-up and the correctness pass: each
leaf's row count and order-independent hash must match the golden value in
``leaves_golden.json`` for its tables. The tables come from one of
``TABLE_SEEDS`` recorded seeds, chosen by the run's seed. The second pass
is timed.

Record goldens (after a change that is meant to alter leaf outputs) with

    python3 -m perfbench.leaves
"""

from __future__ import annotations

import json
import os
import time

from perfbench import tables
from perfbench.box import Box
from perfbench.trace import Tracer

HEADLINE = [
    "classify_docs_udf", "classify_docs_expr", "classify_summary", "pricing_summary",
    "fact_dim_revenue", "dim_join_rollup", "tumbling_window", "exact_percentiles",
    "asof_join", "user_sessions", "exact_dedup", "minhash_lsh", "ngram_jaccard",
    "ann_bruteforce", "ann_ivf", "lang_id", "quality_scores", "topk_per_group",
    "sliding_window", "conv_fold_docs", "simhash_near_dups", "chunk_shared_pairs",
    "classify_docs_1k", "stratified_sample", "pack_sequences", "pack_greedy",
    "chunk_documents",
]
FULL = ["minhash_lsh_full", "simhash_full"]
LEAVES = HEADLINE + FULL
GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "leaves_golden.json")
TABLE_SEEDS = 5  # goldens are recorded for table seeds 1..TABLE_SEEDS


def build_leaf(spark, sf_dir: str, name: str, qmap: dict):
    from distributed_classification_system_spark.operators import dedup

    if name in FULL:
        fn = dedup.minhash_lsh_candidates if name == "minhash_lsh_full" else dedup.simhash_near_dups
        return fn(spark.read.parquet(os.path.join(sf_dir, "documents.parquet")))
    return qmap[name](spark, sf_dir)


def fingerprint(df) -> tuple[int, int]:
    """(rows, order-independent hash): a sum of per-row hashes of every
    column rendered as a string, doubles rounded to 9 digits so the
    summation order of a float aggregate cannot change it."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    cols = [
        F.round(F.col(f"`{f.name}`"), 9).cast("string") if isinstance(f.dataType, (T.DoubleType, T.FloatType))
        else F.col(f"`{f.name}`").cast("string")
        for f in df.schema.fields
    ]
    row_hash = F.xxhash64(F.concat_ws("\u0001", *[F.coalesce(c, F.lit("\u0000")) for c in cols]))
    r = df.agg(F.count("*").alias("n"), F.sum(row_hash % 1_000_000_007).alias("h")).collect()[0]
    return int(r["n"]), int(r["h"] or 0)


def _timed_pass(spark, sf_dir: str, qmap: dict, tracer: Tracer) -> dict[str, tuple[float, float]]:
    """(plan build, execution) seconds of each leaf."""
    times = {}
    for name in LEAVES:
        with tracer.span("leaf", leaf=name):
            t0 = time.perf_counter()
            df = build_leaf(spark, sf_dir, name, qmap)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            times[name] = (t1 - t0, time.perf_counter() - t1)
    return times


def leaf_layers(spark, tracer: Tracer, seed: int, work: str) -> dict:
    """``{"layers", "problems", "bad"}``: per-leaf warm times
    (``leaf.<name>_s``, plan build plus execution), their sums
    (``leaves_s``, ``leaves.plan_s``, ``leaves.exec_s``), and the leaves
    whose output missed its golden value."""
    import __spark_entry__ as entry

    tseed = 1 + seed % TABLE_SEEDS
    sf_dir = os.path.join(work, "tables")
    with tracer.span("leaves.tables", table_seed=tseed):
        tables.write(tables.generate(tseed), sf_dir)
    qmap = entry.queries()
    golden = json.load(open(GOLDEN))[str(tseed)]
    with tracer.span("leaves.correctness_pass"):
        got = {name: fingerprint(build_leaf(spark, sf_dir, name, qmap)) for name in LEAVES}
    bad = [n for n in LEAVES if list(got[n]) != golden[n]]
    times = _timed_pass(spark, sf_dir, qmap, tracer)
    return {
        "layers": {
            "leaves_s": sum(a + b for a, b in times.values()),
            "leaves.plan_s": sum(a for a, _ in times.values()),
            "leaves.exec_s": sum(b for _, b in times.values()),
            **{f"leaf.{n}_s": a + b for n, (a, b) in times.items()},
        },
        "problems": [f"leaf {n}: {list(got[n])} != golden {golden[n]}" for n in bad],
        "bad": bad,
    }


def record() -> None:
    """Run the correctness pass on every table seed and store the
    fingerprints."""
    import tempfile

    import __spark_entry__ as entry

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    work = tempfile.mkdtemp(prefix="perfbench-golden-", dir=root)
    box = Box(root, work)
    box.start_spark()
    try:
        qmap = entry.queries()
        golden = {}
        for tseed in range(1, TABLE_SEEDS + 1):
            sf_dir = os.path.join(work, f"tables-{tseed}")
            tables.write(tables.generate(tseed), sf_dir)
            golden[str(tseed)] = {n: list(fingerprint(build_leaf(box.spark, sf_dir, n, qmap))) for n in LEAVES}
        with open(GOLDEN, "w") as f:
            json.dump(golden, f, indent=1, sort_keys=True)
    finally:
        box.shutdown()
        box.cleanup()


if __name__ == "__main__":
    record()
