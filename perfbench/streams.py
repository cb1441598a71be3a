"""The two stream workloads and the per-layer probes around them.

Both drive the engine only through its public entry points
(``sources.gen``, ``streaming.engine.run_stream`` / ``classified_stream``
/ ``read_*``, ``functions.kernel.make_registry_classify_udf``) and measure
each layer from outside: by timing those calls and by reading Spark's own
``StreamingQueryProgress`` events of each query.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import time

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import leaves, stats, traffic
from perfbench.box import Box, rss_parts, tree_bytes, dir_bytes
from perfbench.loadgen import OpenLoopGenerator, backlog_at_drops, growing, schedule
from perfbench.trace import PHASES, Tracer, iso_seconds

# bulk_clean: one clean, time-ordered input drained again and again
BULK_CONVS = 7_000  # ≈ 37k turns after the seeded tenth is dropped
BULK_FILES = 8
BULK_MIN_DRAINS = 3
SETUP_REPS = 3  # fixture builds per run; setup_s takes their median

# trickle_dirty: open loop over a dirty stream
# offered files per second, in this order. A file holds ≈ 220 turns, so
# 1 file/s is about the reference's Locust load profile, DEFAULT_RPS = 200
# (BASELINE.md), counting a turn as a request; 3 files/s is chosen to stay
# well below bulk_clean's capacity.
TRICKLE_RATES = [1.0, 3.0]
FILE_SPAN_S = 30  # event-time seconds per stream file
HISTORY_FILES = 13  # fed before timing starts; spans more than the watermark delay
HISTORY_WARM_FILES = 2  # of them, fed in a first cycle that warms the stream plan
# Hot conversations together hold ≈ 20 % of the turns, FIXTURES.md section
# 6 "skewed". The generator spaces a conversation's turns 7 s apart, so one
# conversation carries ≈ 2 % of a file; ten carry ≈ 20 %.
N_HOT = 10
LATENCY_LIMIT_S = 20.0  # a file whose rows land later than this missed the limit

WARMUP_CONVS = 300


# ---------------------------------------------------------------------------
# progress events → engine / state metrics
# ---------------------------------------------------------------------------

def progress_of(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


class Cycle:
    """One ``run_stream`` call: wall-clock bounds and its progress events."""

    def __init__(self, t0: float, t1: float, progress: list[dict]):
        self.t0, self.t1, self.progress = t0, t1, progress

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


def engine_metrics(cycles: list[Cycle]) -> dict[str, float]:
    """Per-cycle medians of phase times; totals of counts over the run."""
    per_cycle: dict[str, list[float]] = {}

    def add(k: str, v: float) -> None:
        per_cycle.setdefault(k, []).append(v)

    data = nodata = rows = 0
    st_tot = {"rows_updated": 0, "rows_removed": 0, "rows_dropped_by_watermark": 0}
    rows_total = mem_max = 0
    for c in cycles:
        if not c.progress:
            continue
        first, last = c.progress[0], c.progress[-1]
        add("engine.start_s", iso_seconds(first["timestamp"]) - c.t0)
        last_end = iso_seconds(last["timestamp"]) + last["durationMs"].get("triggerExecution", 0) / 1000.0
        add("engine.stop_s", c.t1 - last_end)
        add("engine.cycle_s", c.wall)
        phase = dict.fromkeys(PHASES, 0.0)
        nodata_s = commit = upd = rem = 0.0
        for p in c.progress:
            d = p["durationMs"]
            for k in PHASES:
                phase[k] += d.get(k, 0) / 1000.0
            if p["numInputRows"]:
                data += 1
                rows += p["numInputRows"]
            else:
                nodata += 1
                nodata_s += d.get("triggerExecution", 0) / 1000.0
            for so in p.get("stateOperators", [])[:1]:
                st_tot["rows_updated"] += so.get("numRowsUpdated", 0)
                st_tot["rows_removed"] += so.get("numRowsRemoved", 0)
                st_tot["rows_dropped_by_watermark"] += so.get("numRowsDroppedByWatermark", 0)
                rows_total = so.get("numRowsTotal", 0)
                mem_max = max(mem_max, so.get("memoryUsedBytes", 0))
                commit += so.get("commitTimeMs", 0) / 1000.0
                upd += so.get("allUpdatesTimeMs", 0) / 1000.0
                rem += so.get("allRemovalsTimeMs", 0) / 1000.0
        for k in PHASES:
            add(f"engine.{k}_s", phase[k])
        add("engine.nodata_batch_s", nodata_s)
        add("state.commit_s", commit)
        add("state.updates_s", upd)
        add("state.removals_s", rem)
    out = {k: statistics.median(v) for k, v in per_cycle.items()}
    out.update({
        "engine.data_batches": data,
        "engine.nodata_batches": nodata,
        "engine.cycles": len(cycles),
        "engine.input_rows": rows,
        "state.rows_total": rows_total,
        "state.memory_bytes": mem_max,
        **{f"state.{k}": v for k, v in st_tot.items()},
    })
    return out


def trace_cycle(tracer: Tracer, cyc: Cycle, name: str, **attrs) -> None:
    sid = tracer.add(name, cyc.t0, cyc.t1, tracer.current(), **attrs)
    tracer.add_progress(cyc.progress, sid)


# ---------------------------------------------------------------------------
# shared pieces
# ---------------------------------------------------------------------------

def run_cycle(spark, inp: str, out: str, cfg, reg, ckpt: str, max_files: int | None) -> Cycle:
    from distributed_classification_system_spark.streaming import engine as eng

    t0 = time.time()
    q = eng.run_stream(
        spark, inp, out, cfg, reg, checkpoint_dir=ckpt,
        max_files_per_trigger=max_files, await_termination=True,
    )
    t1 = time.time()
    return Cycle(t0, t1, progress_of(q))


def warmup(spark, work: str) -> float:
    """One small drain of the same plan: spawns the Python workers and
    compiles the generated code before anything is timed."""
    from distributed_classification_system_spark.sources import gen
    from distributed_classification_system_spark.streaming import engine as eng

    t0 = time.perf_counter()
    d = os.path.join(work, "warmup")
    eng.write_stream_fixture(gen.gen_transcripts(spark, WARMUP_CONVS), os.path.join(d, "in"), n_files=2)
    run_cycle(spark, os.path.join(d, "in"), os.path.join(d, "out"),
              gen.gen_conv_config(spark, WARMUP_CONVS), gen.gen_label_registry(spark),
              os.path.join(d, "ckpt"), None)
    eng.read_turn_results(spark, os.path.join(d, "out")).count()
    shutil.rmtree(d, ignore_errors=True)
    return time.perf_counter() - t0


def sink_counts(spark, out: str) -> dict[str, float]:
    """Rows per row_type and bytes/files in the engine's sink layout
    (``results/batch_id=N/row_type=...``, see streaming/engine.py)."""
    from pyspark.sql import functions as F

    base = os.path.join(out, "results")
    rows = (
        spark.read.option("basePath", base).parquet(os.path.join(base, "batch_id=*"))
        .groupBy("row_type").agg(F.count("*").alias("n")).collect()
    )
    by = {r["row_type"]: r["n"] for r in rows}
    n_bytes, n_files = tree_bytes(base)
    return {
        "sink.turn_rows": by.get("turn", 0),
        "sink.error_rows": by.get("error", 0),
        "sink.summary_rows": by.get("summary", 0),
        "sink.bytes": n_bytes,
        "sink.files": n_files,
    }


def layer_prefix(spark, inp: str, cfg, reg, work: str, tracer: Tracer) -> dict[str, float]:
    """Batch-mode prefixes of the stream plan over the same input, each run
    to a noop sink (the sink prefix writes parquet like the engine's
    sink): scan, + joins/validate/kernel, + bucket exchange, + sink. The
    stream's remaining time is the stateful fold plus the streaming
    machinery."""
    from pyspark.sql import functions as F

    from distributed_classification_system_spark.functions.kernel import make_registry_classify_udf
    from distributed_classification_system_spark.streaming import engine as eng

    def timed(name: str, df, sink: str | None = None) -> float:
        with tracer.span(name):
            t0 = time.perf_counter()
            if sink:
                df.write.mode("overwrite").partitionBy("row_type").parquet(sink)
            else:
                df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

    scan = spark.read.parquet(inp)
    classified = eng.classified_stream(scan, cfg, reg)
    bucketed = classified.withColumn(
        "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(eng.DEFAULT_FOLD_BUCKETS))
    ).repartition("bucket")
    labels = {r["job_type"]: list(r["labels"]) for r in reg.select("job_type", "labels").collect()}
    kern = make_registry_classify_udf(labels)
    job = F.when(F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 0, F.lit("image_classification")).otherwise(
        F.lit("custom_classification"))
    kernel_only = scan.select(kern(F.col("text"), job, F.lit(5), F.lit(0.5)).alias("r"))
    sink_dir = os.path.join(work, "prefix_sink")
    out = {
        "prefix.scan_s": timed("prefix.scan", scan),
        "kernel.only_s": timed("kernel.only", kernel_only),
        "prefix.classify_s": timed("prefix.classify", classified),
        "prefix.exchange_s": timed("prefix.exchange", bucketed),
        "prefix.sink_s": timed(
            "prefix.sink",
            bucketed.withColumn(
                "row_type", F.when(F.col("error_reason").isNull(), "turn").otherwise("error")
            ),
            sink_dir,
        ),
    }
    shutil.rmtree(sink_dir, ignore_errors=True)
    return out


class RssSampler:
    """Peak RSS of the JVM and Python workers (every process below this
    one), sampled at operation boundaries."""

    def __init__(self):
        self.peak = 0.0
        self.parts: list[tuple[str, float]] = []

    def sample(self) -> float:
        parts = rss_parts(os.getpid())
        total = sum(mb for _, mb in parts)
        if total > self.peak:
            self.peak, self.parts = total, sorted(parts, key=lambda x: -x[1])
        return self.peak


# ---------------------------------------------------------------------------
# bulk_clean
# ---------------------------------------------------------------------------

def _bulk_fixture(spark, seed: int, inp: str | None):
    """Seeded clean input: the generator's first BULK_CONVS conversations
    minus a seed-chosen tenth, written as time-ordered files (skipped when
    ``inp`` is None)."""
    from pyspark.sql import functions as F

    from distributed_classification_system_spark.sources import gen
    from distributed_classification_system_spark.streaming import engine as eng

    t0 = time.perf_counter()
    t = gen.gen_transcripts(spark, BULK_CONVS).filter(
        F.pmod(F.xxhash64(F.col("conv_id"), F.lit(int(seed))), F.lit(10)) != 0
    )
    agg = t.agg(
        F.count("*").alias("n"),
        F.countDistinct("conv_id").alias("convs"),
        F.sum(F.xxhash64("conv_id", "turn_idx", "text") % 1_000_000_007).alias("h"),
    ).collect()[0]
    t1 = time.perf_counter()
    if inp is not None:
        eng.write_stream_fixture(t, inp, n_files=BULK_FILES)
    t2 = time.perf_counter()
    return {"turns": agg["n"], "convs": agg["convs"], "hash": agg["h"]}, t1 - t0, t2 - t1


def verify_bulk(spark, out: str, expect: dict) -> list[str]:
    """Sunk turns equal the input exactly once; one completed summary per
    conversation."""
    from pyspark.sql import functions as F

    from distributed_classification_system_spark.streaming import engine as eng

    bad = []
    turns = eng.read_turn_results(spark, out).agg(
        F.count("*").alias("n"),
        F.countDistinct("conv_id", "turn_idx").alias("keys"),
        F.sum(F.xxhash64("conv_id", "turn_idx", "text") % 1_000_000_007).alias("h"),
    ).collect()[0]
    if (turns["n"], turns["keys"], turns["h"]) != (expect["turns"], expect["turns"], expect["hash"]):
        bad.append(f"turn sink {tuple(turns)} != input {expect}")
    summ = eng.read_conv_summaries(spark, out).groupBy("status").count().collect()
    by = {r["status"]: r["count"] for r in summ}
    if by != {"completed": expect["convs"]}:
        bad.append(f"summaries {by} != {expect['convs']} completed")
    if eng.read_failed_turns(spark, out).count():
        bad.append("dead letters on a clean stream")
    return bad


def bulk_clean(box: Box, tracer: Tracer, seed: int, seconds: float, traced: bool) -> dict:
    from distributed_classification_system_spark.sources import gen

    spark = box.spark
    rss = RssSampler()
    w = box.work
    # the input is generated SETUP_REPS times (the median is setup_s's
    # generation share) and staged once: staging repeats no decision
    gens, builds = [], []
    inp = os.path.join(w, "in")
    for k in range(SETUP_REPS):
        with tracer.span("setup.fixture", rep=k):
            expect, g, s = _bulk_fixture(spark, seed, None if k else inp)
        gens.append(g)
        builds.append(expect)
        if not k:
            stage = s
    expect = builds[0]
    cfg, reg = gen.gen_conv_config(spark, BULK_CONVS), gen.gen_label_registry(spark)
    with tracer.span("setup.warmup"):
        warm = warmup(spark, w)  # the median over drains absorbs a first drain still warming
    rss.sample()

    drains, verify_s, n_failed = [], [], 0
    failures = [] if all(b == expect for b in builds) else [f"fixture builds differ: {builds}"]
    t_start = time.perf_counter()
    while len(drains) < BULK_MIN_DRAINS or time.perf_counter() - t_start < seconds:
        i = len(drains)
        out, ckpt = os.path.join(w, f"out{i}"), os.path.join(w, f"ckpt{i}")
        with tracer.span("bulk.drain", drain=i):
            cyc = run_cycle(spark, inp, out, cfg, reg, ckpt, None)
        trace_cycle(tracer, cyc, "engine.run_stream", drain=i)
        drains.append(cyc)
        t0 = time.perf_counter()
        with tracer.span("read.verify", drain=i):
            bad = verify_bulk(spark, out, expect)
        verify_s.append(time.perf_counter() - t0)
        failures.extend(bad)
        n_failed += bool(bad)
        rss.sample()
        last = (out, ckpt)
        if i:
            shutil.rmtree(os.path.join(w, f"out{i - 1}"), ignore_errors=True)
            shutil.rmtree(os.path.join(w, f"ckpt{i - 1}"), ignore_errors=True)

    walls = [c.wall for c in drains]
    rate = statistics.median(expect["turns"] / x for x in walls)
    setup = box.session_s + statistics.median(gens) + stage + warm
    tl = stats.tail(walls)
    result = {
        "attempted": len(drains),
        "failed": n_failed,
        "problems": failures,
        "e2e": {
            "setup_s": setup,
            "turns_per_s": rate,
            "result_latency_p50_s": statistics.median(walls),
            "result_latency_tail_s": tl["value"],
        },
        "details": {
            "turns": expect["turns"], "convs": expect["convs"], "drain_s": walls,
            "tail": tl, "setup_reps": {"gen_s": gens, "stage_s": stage, "warmup_s": warm},
            "rss_parts_mb": rss.parts,
        },
    }
    if not traced:
        return result

    out, ckpt = last
    layers = {
        "session.start_s": box.session_s,
        "gen.transcripts_s": statistics.median(gens),
        "gen.stage_s": stage,
        "read.verify_s": statistics.median(verify_s),
        **engine_metrics(drains),
        **sink_counts(spark, out),
        "state.checkpoint_bytes": dir_bytes(os.path.join(ckpt, "state")),
    }
    layers.update(layer_prefix(spark, inp, cfg, reg, w, tracer))
    layers["prefix.fold_and_machinery_s"] = statistics.median(walls) - layers["prefix.sink_s"]
    layers["kernel.useful_frac"] = layers["sink.turn_rows"] / max(1, layers["engine.input_rows"] / len(drains))
    layers["peak_rss_mb"] = rss.sample()
    layers["scaling.doubling_eff"] = _doubling_eff(box, tracer, inp, expect["turns"], rate)
    result["layers"] = layers
    return result


def _doubling_eff(box: Box, tracer: Tracer, inp: str, turns: int, rate_full: float) -> float:
    """bulk_clean at half the cores against all of them: rate(N) /
    (2 * rate(N/2)). 1.0 is perfect doubling."""
    from distributed_classification_system_spark.sources import gen

    half = max(1, box.cores // 2)
    with tracer.span("scaling.session", cores=half):
        box.start_spark(half)
    spark = box.spark
    warmup(spark, box.work)
    cfg, reg = gen.gen_conv_config(spark, BULK_CONVS), gen.gen_label_registry(spark)
    with tracer.span("scaling.drain", cores=half):
        cyc = run_cycle(spark, inp, os.path.join(box.work, "out_half"), cfg, reg,
                        os.path.join(box.work, "ckpt_half"), None)
    return rate_full / (2.0 * turns / cyc.wall)


# ---------------------------------------------------------------------------
# trickle_dirty
# ---------------------------------------------------------------------------

def _write_file(pdf, path: str) -> None:
    schema = pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
        ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us")),
    ])
    pq.write_table(pa.Table.from_pandas(pdf[schema.names], schema=schema, preserve_index=False), path)


def source_log_files(ckpt: str) -> set[str]:
    """File names the file source has committed to batches, read from its
    metadata log in the checkpoint (``sources/0/<batch>[.compact]``)."""
    names = set()
    for p in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if os.path.basename(p).startswith("."):
            continue
        with open(p) as f:
            for line in f:
                if line.startswith("{"):
                    names.add(os.path.basename(json.loads(line)["path"]))
    return names


def trickle_plan(seconds: float) -> tuple[list[int], int]:
    """Measured files per offered rate (equal time at each rate) and the
    number of conversations that fill them plus the history, at
    FILE_SPAN_S event-seconds per file: one conversation starts per
    event-second and the last ones run about 140 s."""
    per = [max(4, int(round(r * seconds / len(TRICKLE_RATES)))) for r in TRICKLE_RATES]
    n_convs = (HISTORY_FILES + sum(per)) * FILE_SPAN_S - 140
    return per, n_convs


def _trickle_inputs(spark, seed: int, seconds: float, stage_dir: str):
    from pyspark.sql import functions as F

    from distributed_classification_system_spark.sources import gen

    per, n_convs = trickle_plan(seconds)
    hot_turns = n_convs // 7 + 50  # longer than the stream: hot conversations never complete
    t0 = time.perf_counter()
    clean = gen.gen_transcripts(spark, n_convs, n_hot=N_HOT, hot_turns=hot_turns).toPandas()
    cfg_all = gen.gen_conv_config(spark, n_convs, n_hot=N_HOT, hot_turns=hot_turns)
    n_turns = {r["conv_id"]: r["n_turns"] for r in cfg_all.select("conv_id", "n_turns").collect()}
    hot = {f"conv-{i:08d}" for i in range(N_HOT)}
    tr = traffic.inject(clean, n_turns, hot, seed, FILE_SPAN_S, HISTORY_FILES)
    cfg = cfg_all.filter(F.col("conv_id").isin(sorted(tr.configured))).cache()
    cfg.count()
    t1 = time.perf_counter()
    os.makedirs(stage_dir, exist_ok=True)
    staged = []
    for i, pdf in enumerate(tr.history + tr.files):
        path = os.path.join(stage_dir, f"f{i:05d}.parquet")
        _write_file(pdf, path)
        staged.append(path)
    t2 = time.perf_counter()
    per[-1] = len(tr.files) - 1 - sum(per[:-1])  # the cut at the stream's end decides the last count
    return tr, cfg, staged, per, t1 - t0, t2 - t1


def _feed_history(spark, staged: list[str], inp, out, cfg, reg, ckpt, tr) -> list[Cycle]:
    """Three cycles over the history files: a warm-up over the first
    HISTORY_WARM_FILES, the closed-loop cycle over the rest but the last
    (``turns_per_s`` on this workload), then the last. State goes live and
    the watermark ends where the traffic's late-row bound assumes; checked
    against the progress events."""
    cycles = []
    h, k = len(tr.history), HISTORY_WARM_FILES
    for part, want in ((staged[:k], None),
                       (staged[k: h - 1], tr.expected["history_watermarks_s"][0]),
                       (staged[h - 1: h], tr.expected["history_watermarks_s"][1])):
        for path in part:
            mtime = time.time() - 600 + len(os.listdir(inp))
            os.utime(path, (mtime, mtime))
            os.rename(path, os.path.join(inp, os.path.basename(path)))
        cyc = run_cycle(spark, inp, out, cfg, reg, ckpt, None)
        wm = cyc.progress[-1]["eventTime"].get("watermark") if cyc.progress else None
        if want is not None and (wm is None or iso_seconds(wm) != want):
            raise RuntimeError(f"history ended at watermark {wm}, expected epoch second {want}")
        cycles.append(cyc)
    return cycles


def verify_trickle(spark, out: str, tr: traffic.Traffic, cycles: list[Cycle]) -> list[str]:
    from distributed_classification_system_spark.streaming import engine as eng

    exp = tr.expected
    bad = []
    turns = sorted((r[0], r[1]) for r in eng.read_turn_results(spark, out).select("conv_id", "turn_idx").collect())
    if turns != exp["turn_keys"]:
        n_dup = len(turns) - len(set(turns))
        bad.append(f"turn sink: {len(turns)} rows ({n_dup} duplicated) vs {len(exp['turn_keys'])} expected")
    errs = sorted(
        (r[0], r[1], r[2]) for r in
        eng.read_failed_turns(spark, out).select("conv_id", "turn_idx", "retry_count").collect()
    )
    if errs != exp["errors"]:
        bad.append(f"dead letters: {len(errs)} rows vs {len(exp['errors'])} expected")
    summ = {
        r[0]: (r[1], r[2], r[3]) for r in
        eng.read_conv_summaries(spark, out).select("conv_id", "status", "total", "failed").collect()
    }
    if summ != exp["summaries"]:
        diff = [c for c in set(summ) | set(exp["summaries"]) if summ.get(c) != exp["summaries"].get(c)]
        bad.append(f"summaries: {len(diff)} conversations differ, e.g. "
                   f"{[(c, summ.get(c), exp['summaries'].get(c)) for c in sorted(diff)[:3]]}")
    dropped = engine_metrics(cycles)["state.rows_dropped_by_watermark"]
    if dropped != exp["dropped_by_watermark"]:
        bad.append(f"late rows dropped {dropped} vs {exp['dropped_by_watermark']} expected")
    return bad


def trickle_dirty(box: Box, tracer: Tracer, seed: int, seconds: float, traced: bool) -> dict:
    from distributed_classification_system_spark.sources import gen

    spark = box.spark
    rss = RssSampler()
    w = box.work
    builds = []
    for k in range(SETUP_REPS):
        with tracer.span("setup.fixture", rep=k):
            builds.append(_trickle_inputs(spark, seed, seconds, os.path.join(w, f"stage{k}")))
        if k:
            shutil.rmtree(os.path.join(w, f"stage{k}"))
            builds[k][1].unpersist()
    tr, cfg, staged, per, _, _ = builds[0]
    gen_s = statistics.median(b[4] for b in builds)
    stage_s = statistics.median(b[5] for b in builds)
    digests = [[int(pd.util.hash_pandas_object(f, index=False).sum()) for f in b[0].history + b[0].files]
               for b in builds]
    setup_problems = [] if all(d == digests[0] for d in digests) else ["trickle inputs differ between builds"]
    reg = gen.gen_label_registry(spark)
    inp, out, ckpt = (os.path.join(w, d) for d in ("in", "out", "ckpt"))
    os.makedirs(inp)
    t0 = time.perf_counter()
    with tracer.span("setup.history"):
        history = _feed_history(spark, staged, inp, out, cfg, reg, ckpt, tr)
    warm = time.perf_counter() - t0
    rss.sample()

    staged = staged[len(tr.history):]
    n_data = len(staged) - 1  # the sentinel is control traffic, not a sample
    due, which = schedule(TRICKLE_RATES, per, time.time() + 0.5)
    last_rate = len(TRICKLE_RATES) - 1
    due.append(due[-1] + 1.0 / TRICKLE_RATES[last_rate])
    which.append(last_rate)
    idx = {os.path.basename(p): i for i, p in enumerate(staged)}
    gen_thread = OpenLoopGenerator(staged, inp, due)
    landed = [float("inf")] * len(staged)
    cycles: list[Cycle] = []
    processed: set[str] = set()
    fed = source_log_files(ckpt)  # the history
    deadline = due[-1] + 60.0
    gen_thread.start()
    try:
        while len(processed) < len(staged) and time.time() < deadline:
            if gen_thread.error is not None:
                raise gen_thread.error
            dropped = gen_thread.dropped()
            if dropped == len(processed):
                time.sleep(0.01)
                continue
            with tracer.span("trickle.cycle", cycle=len(cycles)):
                cyc = run_cycle(spark, inp, out, cfg, reg, ckpt, None)
            trace_cycle(tracer, cyc, "engine.run_stream", cycle=len(cycles))
            cycles.append(cyc)
            for name in source_log_files(ckpt) - processed - fed:
                landed[idx[name]] = cyc.t1
                processed.add(name)
    finally:
        gen_thread.stop()
        gen_thread.join(timeout=30)
    rss.sample()

    t0 = time.perf_counter()
    with tracer.span("read.verify"):
        problems = setup_problems + verify_trickle(spark, out, tr, history + cycles)
    verify_s = time.perf_counter() - t0
    latency = {i: landed[i] - due[i] for i in range(n_data) if landed[i] < float("inf")}
    failed_files = set(range(n_data)) - set(latency)  # never landed
    failed_files |= {i for i in range(n_data) if latency.get(i, 0) > LATENCY_LIMIT_S}
    dropped_at = gen_thread.dropped_at
    backlog = backlog_at_drops(dropped_at, landed)
    cycle_s = statistics.median(c.wall for c in cycles)
    rate_stats = {}
    for k, r in enumerate(TRICKLE_RATES):
        lat_k = [latency[i] for i in range(n_data) if which[i] == k and i in latency]
        mine = [i for i in range(len(dropped_at)) if which[i] == k]
        grew = growing([dropped_at[i] for i in mine], [backlog[i] for i in mine], due[which.index(k)], r, cycle_s)
        if grew:
            failed_files |= {i for i in range(n_data) if which[i] == k}
        rate_stats[k] = {"rate_files_per_s": r, "files": per[k], "backlog_grew": grew,
                         "p50_s": statistics.median(lat_k), **{f"tail_{a}": b for a, b in stats.tail(lat_k).items()}}
    if problems:
        failed_files = set(range(n_data))
    samples = [latency[i] for i in range(n_data) if i in latency]
    tl = stats.tail(samples)
    closed = history[1]
    closed_rows = sum(p["numInputRows"] for p in closed.progress)
    result = {
        "attempted": n_data,
        "failed": len(failed_files),
        "problems": problems,
        "e2e": {
            "setup_s": box.session_s + gen_s + stage_s + warm,
            "turns_per_s": closed_rows / closed.wall,
            "result_latency_p50_s": statistics.median(samples),
            "result_latency_tail_s": tl["value"],
        },
        "details": {
            "traffic": tr.counts, "shares": traffic.SHARES,
            "closed_cycle": {"rows": closed_rows, "wall_s": closed.wall}, "rates": rate_stats, "tail": tl,
            "latency_limit_s": LATENCY_LIMIT_S,
            "cycle_s": [round(c.wall, 3) for c in cycles],
            "cycle_batches": [len(c.progress) for c in cycles],
            "loadgen_lag_max_s": gen_thread.lag_max_s(), "backlog_max": max(backlog, default=0),
            "rss_parts_mb": rss.parts,
        },
    }
    if not traced:
        return result

    layers = {
        "session.start_s": box.session_s,
        "gen.transcripts_s": gen_s,
        "gen.stage_s": stage_s,
        "read.verify_s": verify_s,
        "loadgen.backlog_files_max": max(backlog, default=0),
        "loadgen.lag_max_s": gen_thread.lag_max_s(),
        **engine_metrics(cycles),
        **sink_counts(spark, out),
        "state.checkpoint_bytes": dir_bytes(os.path.join(ckpt, "state")),
    }
    layers.update(layer_prefix(spark, inp, cfg, reg, w, tracer))
    layers["prefix.fold_and_machinery_s"] = sum(c.wall for c in cycles) - layers["prefix.sink_s"]
    layers["kernel.useful_frac"] = tr.counts["measured_useful_rows"] / tr.counts["measured_rows"]
    layers["peak_rss_mb"] = rss.sample()
    # the batch leaves, last: they do not touch the stream's figures
    leaf = leaves.leaf_layers(spark, tracer, seed, w)
    layers.update(leaf["layers"])
    result["problems"] += leaf["problems"]
    result["attempted"] += len(leaves.LEAVES)
    result["failed"] += len(leaf["bad"])
    result["layers"] = layers
    return result
