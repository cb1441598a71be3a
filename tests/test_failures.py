"""T6 failure side-output + S10 label-partitioned sink tests.

Reference behavior reproduced: per-item errors are recorded (not fatal),
the job keeps going and completes counting failures
(ml-service/sqs_worker.py:96-119, handlers.go:306-336); results are laid
out one-folder-per-label (handlers.go:342-375).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from distributed_classification_system_spark.functions.validate import split_failed, with_error_reason
from distributed_classification_system_spark.operators.classify import classify_turns
from distributed_classification_system_spark.operators.sessionize import conv_summaries
from distributed_classification_system_spark.operators import sinks
from distributed_classification_system_spark.sources.gen import (
    gen_conv_config,
    gen_label_registry,
    gen_transcripts,
)
from distributed_classification_system_spark.streaming import engine as eng

N = 40

def _corrupted(spark, n=N):
    """Deterministic corruption: ~1/7 of turns get null text."""
    corrupt = F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(7)) == 0
    t = gen_transcripts(spark, n)
    return t.withColumn(
        "text", F.when(corrupt, F.lit(None).cast("string")).otherwise(F.col("text"))
    )


def test_stream_failure_side_output(spark, tmp_path):
    """Invalid rows exit as row_type='error' with a reason; the turn sink
    stays clean; sessions still complete, counting the failures."""
    t = _corrupted(spark)
    n_bad = t.filter(F.col("text").isNull()).count()
    assert n_bad > 0

    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    eng.write_stream_fixture(t, inp, n_files=4)
    eng.run_stream(
        spark, inp, out, gen_conv_config(spark, N), gen_label_registry(spark),
        max_files_per_trigger=1, await_termination=True,
    )

    failed = eng.read_failed_turns(spark, out)
    assert failed.count() == n_bad
    assert failed.filter(F.col("error_reason") != "empty_text").count() == 0

    turns = eng.read_turn_results(spark, out)
    assert turns.count() == t.count() - n_bad
    assert turns.filter(F.col("text").isNull()).count() == 0

    summ = eng.read_conv_summaries(spark, out)
    agg = summ.agg(
        F.sum("failed").alias("failed"),
        F.sum("total").alias("total"),
        F.sum(F.col("classified") + F.col("unknown") + F.col("failed")).alias("acct"),
    ).collect()[0]
    assert agg.failed == n_bad
    assert agg.acct == agg.total == t.count()
    # failures count toward completion: nothing should be left open
    assert summ.filter(F.col("status") != "completed").count() == 0


def test_stream_failures_match_batch_fold(spark, tmp_path):
    """batch ≡ stream under corruption: same counters, same grouping."""
    t = _corrupted(spark)
    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    eng.write_stream_fixture(t, inp, n_files=4)
    cfg = gen_conv_config(spark, N)
    reg = gen_label_registry(spark)
    eng.run_stream(
        spark, inp, out, cfg, reg, max_files_per_trigger=1, await_termination=True
    )
    cols = ["conv_id", "status", "total", "classified", "unknown", "failed", "g", "processing_time_ms"]
    s = (
        eng.read_conv_summaries(spark, out)
        .withColumn("g", F.to_json("grouped_by_label"))
        .select(cols)
    )
    b = (
        conv_summaries(with_error_reason(classify_turns(t, cfg, reg)), cfg)
        .withColumn("g", F.to_json("grouped_by_label"))
        .select(cols)
    )
    assert s.exceptAll(b).count() == 0 and b.exceptAll(s).count() == 0


def test_split_failed_batch(spark):
    t = _corrupted(spark)
    ok, bad = split_failed(t)
    assert ok.count() + bad.count() == t.count()
    assert bad.filter(F.col("error_reason").isNull()).count() == 0
    assert "error_reason" not in ok.columns


def test_label_partitioned_sink_layout_and_pruning(spark, tmp_path):
    """S10: the directory tree IS the label grouping, and reading one label
    prunes the other partitions at the scan."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "labels")
    got = sinks.label_partition_roundtrip(docs, out, label="spark")

    parts = sorted(p for p in os.listdir(out) if p.startswith("top_prediction="))
    assert "top_prediction=spark" in parts and len(parts) > 1

    from distributed_classification_system_spark.operators.classify import classify_documents

    expected = classify_documents(docs, use_expr=True).filter(
        F.col("top_prediction") == "spark"
    )
    assert got.count() == expected.count() > 0

    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "top_prediction" in plan.split("PartitionFilters")[1].split("\n")[0]


def test_read_failed_turns_empty_on_clean_stream(spark, tmp_path):
    """A stream with zero invalid rows has no error partitions on disk;
    the dead-letter read must return an empty table, not raise."""
    t = gen_transcripts(spark, 10)
    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    eng.write_stream_fixture(t, inp, n_files=2)
    eng.run_stream(
        spark, inp, out, gen_conv_config(spark, 10), gen_label_registry(spark),
        await_termination=True,
    )
    failed = eng.read_failed_turns(spark, out)
    assert failed.count() == 0
    assert "error_reason" in failed.columns


def test_kill_resume_redelivery_failures(spark, tmp_path):
    """T6/T8 across a restart: kill after a prefix, then resume from the
    same checkpoint with the rest of the stream. File 1 is redelivered
    once before the kill and once more right after the resume. The
    dead-letter dedup and the per-turn retry counters live in the
    checkpointed fold state, so a failed turn in a session still open at
    the second redelivery reads attempts 0, 1, 2 — the 2 only if its
    counter survived the restart — and every other redelivery drops:
    each failed turn's attempts read 0..k with no gap and no repeat, no
    turn is sunk twice, and the session counters count every failed turn
    once."""
    import glob
    import shutil

    t = _corrupted(spark, 20)
    n_bad = t.filter(F.col("text").isNull()).count()
    assert n_bad > 0

    full, inp = str(tmp_path / "full"), str(tmp_path / "in")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    eng.write_stream_fixture(t, full, n_files=4)
    files = sorted(glob.glob(os.path.join(full, "*.parquet")))
    os.makedirs(inp)
    cfg, reg = gen_conv_config(spark, 20), gen_label_registry(spark)

    def redeliver_file1(name: str, after_file2_s: float) -> None:
        # new file name = how an at-least-once queue re-presents a batch;
        # the mtime orders it after file 2 and before file 3 (2 s later)
        dup = os.path.join(inp, name)
        shutil.copy(files[0], dup)
        at = os.path.getmtime(files[1]) + after_file2_s
        os.utime(dup, (at, at))

    # phase 1: files 1-2 and a first redelivery; the query terminates (≈ kill)
    for f in files[:2]:
        shutil.copy2(f, os.path.join(inp, os.path.basename(f)))
    redeliver_file1("f9000.parquet", 0.5)
    eng.run_stream(spark, inp, out, cfg, reg, checkpoint_dir=ckpt,
                   max_files_per_trigger=1, await_termination=True)
    partial = eng.read_turn_results(spark, out).count()
    assert 0 < partial < t.count()

    # phase 2: resume with a second redelivery (the first batch after the
    # restart, while sessions are still open), then the rest
    for f in files[2:]:
        shutil.copy2(f, os.path.join(inp, os.path.basename(f)))
    redeliver_file1("f9001.parquet", 1.0)
    eng.run_stream(spark, inp, out, cfg, reg, checkpoint_dir=ckpt,
                   max_files_per_trigger=1, await_termination=True)

    by_turn: dict = {}
    for r in eng.read_failed_turns(spark, out).collect():
        by_turn.setdefault((r.conv_id, r.turn_idx), []).append(r.retry_count)
    assert len(by_turn) == n_bad
    assert all(sorted(v) == list(range(len(v))) for v in by_turn.values()), by_turn
    # the retry counters crossed the restart
    assert any(len(v) == 3 for v in by_turn.values()), by_turn

    turns = eng.read_turn_results(spark, out)
    assert turns.count() == t.count() - n_bad
    assert turns.groupBy("conv_id", "turn_idx").count().filter("count > 1").count() == 0

    summ = eng.read_conv_summaries(spark, out)
    agg = summ.agg(
        F.sum("failed").alias("failed"),
        F.sum("total").alias("total"),
        F.sum(F.col("classified") + F.col("unknown") + F.col("failed")).alias("acct"),
    ).collect()[0]
    assert agg.failed == n_bad
    assert agg.acct == agg.total == t.count()
    assert summ.filter(F.col("status") != "completed").count() == 0


def test_retry_count_on_redelivered_failures(spark, tmp_path):
    """A cross-batch redelivery of a FAILED turn in a still-open session
    bumps its attempt counter (ref models.go:20 RetryCount,
    sqs_worker.py:96-119): the dead-letter table logs one row per attempt
    with consecutive retry_count, while the session counters/completion
    count the turn exactly once. (Redelivery to a completed session drops
    silently, like the reference's completed-job item scan.)"""
    import glob
    import shutil
    import time as _time

    t = _corrupted(spark, 20)
    n_bad = t.filter(F.col("text").isNull()).count()
    assert n_bad > 0

    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    os.makedirs(inp)
    # file1: even turns (sessions stay OPEN) -> file2: redelivery of file1
    # -> file3: odd turns (sessions complete)
    for i, part in enumerate(
        [t.filter(F.col("turn_idx") % 2 == 0), None, t.filter(F.col("turn_idx") % 2 == 1)]
    ):
        dest = os.path.join(inp, f"f{i + 1:04d}.parquet")
        if part is None:
            shutil.copy(os.path.join(inp, "f0001.parquet"), dest)
        else:
            staging = str(tmp_path / f"stage{i}")
            part.coalesce(1).write.parquet(staging)
            shutil.move(glob.glob(os.path.join(staging, "*.parquet"))[0], dest)
        ts = _time.time() - (3 - i) * 2
        os.utime(dest, (ts, ts))
    eng.run_stream(
        spark, inp, out, gen_conv_config(spark, 20), gen_label_registry(spark),
        max_files_per_trigger=1, await_termination=True,
    )

    failed = eng.read_failed_turns(spark, out).collect()
    by_turn = {}
    for r in failed:
        by_turn.setdefault((r.conv_id, r.turn_idx), []).append(r.retry_count)
    # one first attempt per failed turn; even-turn failures in sessions
    # still open at redelivery time are logged again at retry_count 1
    assert len(by_turn) == n_bad
    retried = {k: sorted(v) for k, v in by_turn.items() if len(v) > 1}
    assert retried
    assert all(k[1] % 2 == 0 for k in retried)
    assert all(v == [0, 1] for v in retried.values())
    assert all(v == [0] for k, v in by_turn.items() if k not in retried)

    # redelivery never double-counts: same summary invariants as clean run
    summ = eng.read_conv_summaries(spark, out)
    agg = summ.agg(
        F.sum("failed").alias("failed"), F.sum("total").alias("total")
    ).collect()[0]
    assert agg.failed == n_bad and agg.total == t.count()
    # exactly-once turn pass-through despite the duplicated file
    turns = eng.read_turn_results(spark, out)
    assert turns.count() == turns.select("conv_id", "turn_idx").distinct().count()
