"""Streaming engine tests (SURVEY.md §2.10, BASELINE.md targets):

- batch ≡ stream golden equivalence (same input → same outputs)
- bounded disorder invariance (micro-batch slicing doesn't change results)
- at-least-once redelivery → exactly-once sink (zero duplicate keys)
- kill-and-resume from checkpoint with zero duplicates
- late data beyond watermark → session closes via timeout, not never
- a hot conversation completes in full and matches the batch twin
- unknown run modes are rejected
- the label registry enters the plan as constants (one broadcast left)
- the metrics table records the state operator's partition count
"""

from __future__ import annotations

import glob
import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from distributed_classification_system_spark.operators.classify import classify_turns
from distributed_classification_system_spark.operators.sessionize import conv_summaries
from distributed_classification_system_spark.sources.gen import (
    gen_conv_config,
    gen_label_registry,
    gen_transcripts,
)
from distributed_classification_system_spark.streaming import engine as eng

N = 50


def _append_file(pdf, inp: str, name: str) -> None:
    """Append a pandas frame as a late-arriving stream file (µs timestamps —
    Spark's reader rejects pandas' default nanos)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(inp, name)
    schema = pa.schema(
        [
            ("conv_id", pa.string()),
            ("turn_idx", pa.int32()),
            ("role", pa.string()),
            ("text", pa.string()),
            ("tool", pa.string()),
            ("ts", pa.timestamp("us")),
        ]
    )
    pq.write_table(pa.Table.from_pandas(pdf, schema=schema, preserve_index=False), path)
    now = time.time()
    os.utime(path, (now, now))


@pytest.fixture()
def tdir(tmp_path):
    return str(tmp_path)


def _run(spark, tdir, n_convs=N, n_files=6, gen_kw=None, run_kw=None, sub="run"):
    gen_kw = gen_kw or {}
    t = gen_transcripts(spark, n_convs, **gen_kw)
    inp = os.path.join(tdir, sub, "in")
    out = os.path.join(tdir, sub, "out")
    eng.write_stream_fixture(t, inp, n_files=n_files)
    cfg = gen_conv_config(spark, n_convs, **gen_kw)
    reg = gen_label_registry(spark)
    eng.run_stream(
        spark, inp, out, cfg, reg, max_files_per_trigger=1,
        await_termination=True, **(run_kw or {}),
    )
    return out


def _summary_key(rows):
    return {
        r.conv_id: (
            r.status,
            r.total,
            r.classified,
            r.unknown,
            r.model_used,
            {k: tuple(v) for k, v in r.grouped_by_label.items()},
            round(r.processing_time_ms, 6),
            r.completed_at,
        )
        for r in rows
    }


def test_batch_stream_equivalence(spark, tdir):
    """The golden invariant: streaming output == batch output on the same
    complete, in-order input — including per-turn text equality under
    stable (conv_id, turn_idx) ordering."""
    out = _run(spark, tdir)

    s_turns = eng.read_turn_results(spark, out).orderBy("conv_id", "turn_idx").collect()
    t = gen_transcripts(spark, N)
    cfg = gen_conv_config(spark, N)
    reg = gen_label_registry(spark)
    b_turns = classify_turns(t, cfg, reg).orderBy("conv_id", "turn_idx").collect()

    assert len(s_turns) == len(b_turns)
    for s, b in zip(s_turns, b_turns):
        assert (s.conv_id, s.turn_idx, s.text) == (b.conv_id, b.turn_idx, b.text)
        assert s.top_prediction == b.top_prediction
        assert s.top_confidence == b.top_confidence
        assert s.reason == b.reason

    s_summ = _summary_key(eng.read_conv_summaries(spark, out).collect())
    b_summ = _summary_key(
        conv_summaries(classify_turns(t, cfg, reg), cfg).collect()
    )
    assert s_summ == b_summ
    assert all(v[0] == "completed" for v in s_summ.values())


def test_micro_batch_slicing_invariance(spark, tdir):
    """1 file vs 8 files (different micro-batch boundaries) → identical
    final tables (T2: arrival slicing must not affect results)."""
    out1 = _run(spark, tdir, n_files=1, sub="one")
    out8 = _run(spark, tdir, n_files=8, sub="eight")
    t1 = {(r.conv_id, r.turn_idx): r.top_prediction
          for r in eng.read_turn_results(spark, out1).collect()}
    t8 = {(r.conv_id, r.turn_idx): r.top_prediction
          for r in eng.read_turn_results(spark, out8).collect()}
    assert t1 == t8
    s1 = _summary_key(eng.read_conv_summaries(spark, out1).collect())
    s8 = _summary_key(eng.read_conv_summaries(spark, out8).collect())
    assert s1 == s8


def test_duplicate_delivery_exactly_once(spark, tdir):
    """T1: at-least-once redelivery (later files re-contain earlier rows)
    must not produce duplicate sink keys or altered summaries."""
    t = gen_transcripts(spark, N)
    inp = os.path.join(tdir, "in")
    out = os.path.join(tdir, "out")
    eng.write_stream_fixture(t, inp, n_files=4)
    # redeliver: append a file that replays ~the first half of the input
    _append_file(t.orderBy("ts").limit(150).toPandas(), inp, "f9999.parquet")

    cfg = gen_conv_config(spark, N)
    reg = gen_label_registry(spark)
    eng.run_stream(spark, inp, out, cfg, reg, max_files_per_trigger=1, await_termination=True)

    turns = eng.read_turn_results(spark, out)
    assert turns.groupBy("conv_id", "turn_idx").count().filter("count > 1").count() == 0
    assert turns.count() == t.count()
    summ = eng.read_conv_summaries(spark, out)
    assert summ.count() == N
    assert summ.filter("status = 'completed'").count() == N


def test_kill_and_resume_zero_duplicates(spark, tdir):
    """T8: stop after a prefix of the stream, restart from the same
    checkpoint with the rest — zero duplicate keys, all sessions complete."""
    t = gen_transcripts(spark, N)
    inp_full = os.path.join(tdir, "full")
    inp = os.path.join(tdir, "in")
    out = os.path.join(tdir, "out")
    ckpt = os.path.join(tdir, "ckpt")
    eng.write_stream_fixture(t, inp_full, n_files=6)
    files = sorted(glob.glob(os.path.join(inp_full, "*.parquet")))
    os.makedirs(inp)
    cfg = gen_conv_config(spark, N)
    reg = gen_label_registry(spark)

    # phase 1: only half the stream exists; query terminates (≈ kill)
    for f in files[:3]:
        shutil.copy2(f, os.path.join(inp, os.path.basename(f)))
    eng.run_stream(spark, inp, out, cfg, reg, checkpoint_dir=ckpt,
                   max_files_per_trigger=1, await_termination=True)
    partial = eng.read_turn_results(spark, out).count()
    assert 0 < partial < t.count()

    # phase 2: resume from the same checkpoint with the rest of the stream
    for f in files[3:]:
        shutil.copy2(f, os.path.join(inp, os.path.basename(f)))
    eng.run_stream(spark, inp, out, cfg, reg, checkpoint_dir=ckpt,
                   max_files_per_trigger=1, await_termination=True)

    turns = eng.read_turn_results(spark, out)
    assert turns.count() == t.count()
    assert turns.groupBy("conv_id", "turn_idx").count().filter("count > 1").count() == 0
    summ = eng.read_conv_summaries(spark, out)
    assert summ.count() == N
    assert summ.filter("status = 'completed'").count() == N


def test_late_data_times_out_session(spark, tdir):
    """T3: drop one conversation's last turn entirely — the session must
    close via watermark timeout (status='timeout') instead of hanging
    forever like the reference (handlers.go:291-299)."""
    t = gen_transcripts(spark, N)
    victim = "conv-00000001"  # 15 turns
    t_missing = t.filter(
        ~((F.col("conv_id") == victim) & (F.col("turn_idx") == 14))
    )
    inp = os.path.join(tdir, "in")
    out = os.path.join(tdir, "out")
    eng.write_stream_fixture(t_missing, inp, n_files=4)
    # sentinel file far in the future pushes the watermark past every
    # session's last_activity+gap so open sessions time out
    sentinel = t.orderBy("ts").limit(1).toPandas()
    sentinel["conv_id"] = "conv-sentinel"
    sentinel["turn_idx"] = 0
    sentinel["ts"] = sentinel["ts"] + __import__("pandas").Timedelta(days=2)
    _append_file(sentinel, inp, "f9999.parquet")

    cfg = gen_conv_config(spark, N)
    reg = gen_label_registry(spark)
    eng.run_stream(spark, inp, out, cfg, reg, max_files_per_trigger=1, await_termination=True)

    summ = {r.conv_id: r for r in eng.read_conv_summaries(spark, out).collect()}
    assert summ[victim].status == "timeout"
    assert summ[victim].total == 14
    others = [v for k, v in summ.items() if k not in (victim, "conv-sentinel")]
    assert all(v.status == "completed" for v in others)


def test_streaming_hot_conversation(spark, tdir):
    """T10: a hot conversation (500 turns) completes in full, and the
    run's summaries equal the batch twin on the same input."""
    kw = {"n_hot": 1, "hot_turns": 500}
    out = _run(spark, tdir, gen_kw=kw, sub="hot")
    got = _summary_key(eng.read_conv_summaries(spark, out).collect())
    assert got["conv-00000000"][:2] == ("completed", 500)
    t = gen_transcripts(spark, N, **kw)
    cfg = gen_conv_config(spark, N, **kw)
    reg = gen_label_registry(spark)
    assert got == _summary_key(conv_summaries(classify_turns(t, cfg, reg), cfg).collect())


def test_run_stream_rejects_unknown_mode(spark, tdir):
    """A misspelt mode must fail, not silently run another pipeline; so
    must cascade without await_termination (it chains two queries)."""
    cfg = gen_conv_config(spark, 2)
    reg = gen_label_registry(spark)
    with pytest.raises(ValueError, match="unknown mode 'unifed'"):
        eng.run_stream(spark, tdir, tdir, cfg, reg, mode="unifed", await_termination=True)
    with pytest.raises(ValueError, match="await_termination"):
        eng.run_stream(spark, tdir, tdir, cfg, reg, mode="cascade")


def _rollup_expected(spark, out, window, slide=None):
    """Batch twin of the streaming rollup, restricted to windows the final
    watermark (delay 0 → max event time) has closed."""
    turns = eng.read_turn_results(spark, out)
    max_ts = turns.agg(F.max("ts")).collect()[0][0]
    return (
        turns.groupBy(F.window("ts", window, slide).alias("w"), "top_prediction")
        .agg(
            F.count("*").alias("n"),
            (
                F.sum(F.round(F.col("processing_time_ms") * 100).cast("long")).cast("double")
                / 100.0 / F.count("*")
            ).alias("avg_ms"),
        )
        .select(
            F.col("w.start").alias("win_start"), F.col("w.end").alias("win_end"),
            "top_prediction", "n", "avg_ms",
        )
        .filter(F.col("win_end") <= F.lit(max_ts))
    )


@pytest.mark.parametrize("window,slide", [("60 seconds", None), ("60 seconds", "30 seconds")])
def test_streaming_class_rollup_matches_batch(spark, tdir, window, slide):
    """T4 as a real streaming query: tumbling AND sliding event-time
    windows over the turn sink emit exactly the closed-window rows the
    batch aggregation produces — append mode, one emission per window."""
    out = _run(spark, tdir, sub=f"roll_{slide or 'tumble'}")
    rollup_dir = os.path.join(tdir, f"rollup_{slide or 'tumble'}")
    eng.run_class_rollup_stream(spark, out, rollup_dir, window=window, slide=slide)
    got = eng.read_class_rollups(spark, rollup_dir)
    want = _rollup_expected(spark, out, window, slide)
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_nonbroadcast_config_join_equals_broadcast(spark, tdir):
    """J3 at-scale seam (r4 VERDICT item 3): at 10^8 conversations the
    conv_config table exceeds any broadcast threshold, so the engine must
    produce identical output through a non-broadcast shuffled config join.
    Differential: broadcast vs shuffle_hash paths, identical tables."""
    out_b = _run(spark, tdir, sub="bcast")
    out_s = _run(spark, tdir, run_kw={"broadcast_config": False}, sub="shuffled")
    tb = {(r.conv_id, r.turn_idx): (r.text, r.top_prediction, r.top_confidence)
          for r in eng.read_turn_results(spark, out_b).collect()}
    ts = {(r.conv_id, r.turn_idx): (r.text, r.top_prediction, r.top_confidence)
          for r in eng.read_turn_results(spark, out_s).collect()}
    assert tb == ts
    assert _summary_key(eng.read_conv_summaries(spark, out_b).collect()) == _summary_key(
        eng.read_conv_summaries(spark, out_s).collect()
    )


def test_nonbroadcast_config_join_plan_has_no_broadcast(spark):
    """The non-broadcast path must stay non-broadcast even when the config
    table is tiny (Catalyst auto-broadcasts under the 10 MB threshold
    unless hinted) — otherwise the differential test would silently
    exercise the same plan twice."""
    t = gen_transcripts(spark, 20)
    cfg = gen_conv_config(spark, 20)
    plan_b = eng._config_join(t, cfg, broadcast_config=True)._jdf.queryExecution().executedPlan().toString()
    plan_s = eng._config_join(t, cfg, broadcast_config=False)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_b
    assert "BroadcastHashJoin" not in plan_s
    assert "ShuffledHashJoin" in plan_s or "SortMergeJoin" in plan_s


def test_nonbroadcast_config_join_cascade_mode(spark, tdir):
    """The cascade pipeline's Q2 summary fold also joins conv_config —
    its non-broadcast path must match the broadcast one too."""
    out_b = _run(spark, tdir, run_kw={"mode": "cascade"}, sub="cb")
    out_s = _run(
        spark, tdir, run_kw={"mode": "cascade", "broadcast_config": False}, sub="cs"
    )
    assert _summary_key(eng.read_conv_summaries(spark, out_b).collect()) == _summary_key(
        eng.read_conv_summaries(spark, out_s).collect()
    )


def test_classified_stream_registry_constants(spark):
    """The registry enters the plan as constants: a conversation whose
    job_type is not registered drops (the old inner join's semantics),
    model_used is the registry's model_name, and the only broadcast left
    is the conv_config one."""
    from distributed_classification_system_spark.schemas import TRANSCRIPTS

    # plain local relations, so the plan carries no generator joins
    t = spark.createDataFrame(gen_transcripts(spark, 20).collect(), TRANSCRIPTS)
    cfg = gen_conv_config(spark, 20)
    cfg = spark.createDataFrame(cfg.collect(), cfg.schema)
    orphan = "conv-00000003"
    cfg = cfg.withColumn(
        "job_type", F.when(F.col("conv_id") == orphan, "unregistered_job").otherwise(F.col("job_type"))
    )
    reg = gen_label_registry(spark)
    model_by_job = {r.job_type: r.model_name for r in reg.collect()}
    job_by_conv = {r.conv_id: r.job_type for r in cfg.collect()}
    want_models = {  # unconfigured conversations default to custom_classification
        c: model_by_job[job_by_conv.get(c, "custom_classification")]
        for c in {r.conv_id for r in t.select("conv_id").collect()} - {orphan}
    }

    got = eng.classified_stream(t, cfg, reg).select("conv_id", "model_used").distinct().collect()
    assert {r.conv_id: r.model_used for r in got} == want_models

    for broadcast_config, n_broadcasts in ((True, 1), (False, 0)):
        plan = (
            eng.classified_stream(t, cfg, reg, broadcast_config=broadcast_config)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert plan.count("BroadcastExchange") == n_broadcasts, plan


def test_registry_duplicate_job_type_raises(spark):
    """A job_type must name one model: with a join, a duplicate registry
    row duplicated every turn of that job_type."""
    from distributed_classification_system_spark.schemas import LABEL_REGISTRY

    reg = gen_label_registry(spark)
    dup = reg.union(
        spark.createDataFrame([("custom_classification", "other-model", ["a"], None)], LABEL_REGISTRY)
    )
    with pytest.raises(ValueError, match="more than one row for job_type 'custom_classification'"):
        eng.classified_stream(gen_transcripts(spark, 2), gen_conv_config(spark, 2), dup)


def test_run_stream_metrics_num_partitions(spark, tdir):
    """Every row of the run's metrics table records the state operator's
    shuffle-partition count, which here is the session's setting."""
    out = _run(spark, tdir, n_convs=10, n_files=2, sub="metrics")
    rows = spark.read.parquet(os.path.join(out, "metrics")).collect()
    assert rows
    want = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert [r.num_partitions for r in rows] == [want] * len(rows)


def test_metrics_write_parquet_matches_spark_schema(spark, tdir):
    """The driver-side metrics writer must produce files Spark reads back
    with the exact METRICS schema (including TimestampType, not NTZ) and
    the same values the Spark-job writer (to_df + write) produced."""
    from distributed_classification_system_spark.schemas import METRICS
    from distributed_classification_system_spark.streaming.metrics import MetricsListener

    li = MetricsListener()
    li.rows = [
        {
            "batch_id": 0,
            "ts": "2025-03-01T12:00:00.123Z",
            "input_rows": 600,
            "turns_per_sec": 1234.5,
            "state_rows": 256,
            "watermark": "2025-03-01T11:55:00.000Z",
            "num_partitions": None,
        },
        {
            "batch_id": 1,
            "ts": "2025-03-01T12:00:05.000Z",
            "input_rows": 0,
            "turns_per_sec": None,
            "state_rows": 12,
            "watermark": None,
            "num_partitions": None,
        },
    ]
    direct_dir = os.path.join(tdir, "metrics_direct")
    li.write_parquet(direct_dir)
    li.write_parquet(direct_dir)  # append semantics: second file, no clobber
    got = spark.read.parquet(direct_dir)
    want = li.to_df(spark)
    assert [(f.name, f.dataType) for f in got.schema.fields] == [
        (f.name, f.dataType) for f in METRICS.fields
    ]
    rows = sorted(got.collect(), key=lambda r: r["batch_id"])
    assert len(rows) == 4  # 2 rows x 2 appended files
    assert sorted(rows[::2]) == sorted(want.collect())

    # zero collected rows must still yield an empty-but-readable table
    # with the full schema, like the Spark writer produced
    empty_dir = os.path.join(tdir, "metrics_empty")
    MetricsListener().write_parquet(empty_dir)
    empty = spark.read.parquet(empty_dir)
    assert empty.count() == 0
    assert [(f.name, f.dataType) for f in empty.schema.fields] == [
        (f.name, f.dataType) for f in METRICS.fields
    ]


def test_cache_swap_survives_dead_previous_session(spark):
    """Re-invoking a swap-cached generator/operator after the previous
    cache's SparkSession died must not raise (the two-sessions-in-one-
    process pattern the determinism probe uses): the stale unpersist is
    best-effort, not load-bearing."""
    from distributed_classification_system_spark.operators import dedup
    from distributed_classification_system_spark.sources import gen

    class _DeadDF:
        def unpersist(self, blocking=False):
            raise RuntimeError("SparkContext stopped")

    gen._live_gen_cache.append(_DeadDF())
    out = gen.gen_transcripts(spark, 5)
    assert out.count() > 0

    dedup._live_caches["ngram_shingles"] = _DeadDF()
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")], "doc_id long, text string"
    )
    assert dedup.ngram_jaccard_pairs(docs).count() >= 0
