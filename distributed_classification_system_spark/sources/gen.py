"""Deterministic, distributed synthetic-data generators.

Replaces the reference's workload generator (load-tests/utils/
image_manager.py:59-87, load-tests/locustfile.py:44-56, job-size mix at
load-tests/config.py:35-39) with a Spark-native generator: every value is
a pure function of ``(seed, conv_seq, turn_idx, field)`` via ``xxhash64``,
so the same (sf, seed) produces identical rows on any cluster size, any
partitioning — a requirement for golden tests and for generating the
10^12-turn table distributively without a driver bottleneck.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_classification_system_spark import schemas

SEED = 42
# Turns per conversation mix (reference load-tests/config.py:35-39):
# small 1-3 (40%), medium 4-10 (50%), large 11-20 (10%) -> mean 5.85.
MEAN_TURNS = 5.85

# Scoring vocabularies (reference: ImageNet-1000 for MobileNet, custom label
# sets for CLIP — ml-service/models/{mobilenet,clip}_model.py; the sample
# custom set is load-tests/locustfile.py:52-56).
CUSTOM_LABELS = ["dog", "cat", "bird", "car", "person"]
IMAGE_LABELS = [
    "akita", "beagle", "tabby", "siamese", "robin", "falcon", "sedan",
    "pickup", "bicycle", "laptop", "keyboard", "espresso", "pizza",
    "volcano", "castle", "canoe", "parachute", "snorkel", "banjo", "tractor",
]
ALL_MARKERS = sorted(set(CUSTOM_LABELS) | set(IMAGE_LABELS))

# K2 at the surveyed vocabulary scale (SURVEY §2.3; ref MobileNet's
# ImageNet-1000 class list, ml-service/models/mobilenet_model.py:17-49):
# the 20 marker labels that actually occur in generated text, padded to
# exactly 1000 with deterministic synthetic classes. The kernel is
# O(labels) per row — this registry row is what the 1000-label bench
# line and `classify_docs_1k` exercise.
IMAGE_LABELS_1K = sorted(
    set(IMAGE_LABELS) | {f"class{i:04d}" for i in range(1000 - len(IMAGE_LABELS))}
)
assert len(IMAGE_LABELS_1K) == 1000

FILLER = [
    "the", "a", "of", "to", "and", "in", "is", "it", "you", "that", "was",
    "for", "on", "are", "with", "as", "they", "be", "at", "one", "have",
    "this", "from", "or", "had", "by", "hot", "word", "but", "what", "some",
    "we", "can", "out", "other", "were", "all", "there", "when", "up", "use",
]
TOOLS = ["search", "browser", "python", "bash", "calculator", "sql", "editor", "fetch"]
JOB_TYPES = ["image_classification", "custom_classification"]
THRESHOLDS = [0.3, 0.4, 0.5, 0.6, 0.7, 0.8]

BASE_TS = "2025-01-01 00:00:00"


def _h(*cols: Column | str, tag: str) -> Column:
    """Deterministic 64-bit hash of the given columns + a field tag."""
    return F.xxhash64(F.lit(tag), F.lit(SEED), *cols)


def _u(*cols: Column | str, tag: str) -> Column:
    """Deterministic uniform double in [0, 1)."""
    return F.pmod(_h(*cols, tag=tag), F.lit(1_000_000)).cast("double") / 1_000_000.0


# SQL-string twins of _h/_u: the generators build their projections as
# single selectExpr strings — ONE py4j round trip + one JVM parse instead
# of hundreds of Column calls (~1.7 s of driver time per gen_transcripts
# build, paid inside the timed e2e region). The parsed trees are the same
# expressions, so output is bit-identical — pinned by the golden-hash
# tests in tests/test_gen.py. Double literals carry the D suffix: bare
# `0.4` parses as DECIMAL in Spark SQL, while F.lit(0.4) was DoubleType.
def _h_sql(tag: str, *cols: str) -> str:
    return f"xxhash64('{tag}', {SEED}, {', '.join(cols)})"


def _u_sql(tag: str, *cols: str) -> str:
    return f"(CAST(pmod({_h_sql(tag, *cols)}, 1000000) AS DOUBLE) / 1000000.0D)"


def gen_conversations(
    spark: SparkSession,
    n_convs: int,
    n_hot: int = 0,
    hot_turns: int = 2000,
) -> DataFrame:
    """One row per conversation with its sampled parameters.

    ``n_hot`` conversations get ``hot_turns`` turns each — the skew fixture
    (reference: one 30k-item job, scripts/submit_large_load.py:25-36).
    Both are interpolated into SQL, so they are coerced to int first.
    """
    n_hot = int(n_hot)
    hot_turns = int(hot_turns)
    df = spark.range(n_convs).withColumnRenamed("id", "conv_seq")
    u_band = _u_sql("band", "conv_seq")
    u_size = _u_sql("size", "conv_seq")
    jobs = ", ".join(f"'{j}'" for j in JOB_TYPES)
    thrs = ", ".join(f"{t}D" for t in THRESHOLDS)
    markers = ", ".join(f"'{m}'" for m in ALL_MARKERS)
    return df.selectExpr(
        "conv_seq",
        "format_string('conv-%08d', conv_seq) AS conv_id",
        f"CAST(CASE WHEN conv_seq < {n_hot} THEN {hot_turns}"
        f" WHEN {u_band} < 0.4D THEN 1 + floor({u_size} * 3)"
        f" WHEN {u_band} < 0.9D THEN 4 + floor({u_size} * 7)"
        f" ELSE 11 + floor({u_size} * 10) END AS INT) AS n_turns",
        f"element_at(array({jobs}),"
        f" CAST(pmod({_h_sql('job_type', 'conv_seq')}, 2) + 1 AS INT)) AS job_type",
        f"CAST(pmod({_h_sql('top_k', 'conv_seq')}, 10) + 1 AS INT) AS top_k",
        f"element_at(array({thrs}),"
        f" CAST(pmod({_h_sql('thr', 'conv_seq')}, {len(THRESHOLDS)}) + 1 AS INT))"
        " AS confidence_threshold",
        f"element_at(array({markers}),"
        f" CAST(pmod({_h_sql('bias', 'conv_seq')}, {len(ALL_MARKERS)}) + 1 AS INT))"
        " AS bias_label",
    )


def gen_conv_config(spark: SparkSession, n_convs: int, **kw) -> DataFrame:
    """Per-conversation job parameters (FIXTURES.md §3)."""
    return gen_conversations(spark, n_convs, **kw).select(
        "conv_id", "job_type", "top_k", "confidence_threshold", "n_turns"
    )


def _text_sql() -> str:
    """Seeded token sequence, 5-200 tokens, ~25% label-correlated markers.

    Pure Catalyst (`transform` over `sequence`), no Python in the
    generation path; built as one SQL string (see _h_sql note).
    """
    filler = ", ".join(f"'{w}'" for w in FILLER)
    n_tokens = f"CAST(pmod({_h_sql('ntok', 'conv_seq', 'turn_idx')}, 196) + 5 AS INT)"
    return (
        f"concat_ws(' ', transform(sequence(1, {n_tokens}), i ->"
        f" CASE WHEN pmod(xxhash64('pick', {SEED}, conv_seq, turn_idx, i), 4) = 0"
        " THEN bias_label"
        f" ELSE element_at(array({filler}),"
        f" CAST(pmod(xxhash64('tok', {SEED}, conv_seq, turn_idx, i), {len(FILLER)}) + 1 AS INT))"
        " END))"
    )


# One live cached transcript relation (same discipline as operators/
# dedup.py:_swap_cache): fixture writers evaluate the generated table
# TWICE — a first job takes the slice bounds (ts quantiles or a range
# sample), then the write evaluates it again — so the generator caches
# its output and each new invocation releases the previous cache.
_live_gen_cache: list[DataFrame] = []


def gen_transcripts(
    spark: SparkSession,
    n_convs: int,
    n_hot: int = 0,
    hot_turns: int = 2000,
) -> DataFrame:
    """The input table per BASELINE.json input_hint:
    (conv_id string, turn_idx int, role string, text string, tool string, ts timestamp).

    ts is monotone per conversation in turn_idx (ordered fixture); stream
    tests derive disordered/late/duplicated variants from this.
    """
    convs = gen_conversations(spark, n_convs, n_hot=n_hot, hot_turns=hot_turns)
    turns = convs.selectExpr(
        "conv_seq",
        "conv_id",
        "bias_label",
        # sequence(0, n_turns-1) is array<int> (both bounds INT), so the
        # exploded turn_idx is already IntegerType — no cast needed (a
        # generator cannot be nested inside CAST in a projection anyway)
        "explode(sequence(0, n_turns - 1)) AS turn_idx",
    )

    role = (
        f"CASE WHEN pmod(turn_idx + {_h_sql('rolerot', 'conv_seq')}, 5) = 4 THEN 'tool'"
        " WHEN pmod(turn_idx, 2) = 0 THEN 'user' ELSE 'assistant' END"
    )
    tools = ", ".join(f"'{t}'" for t in TOOLS)
    tool = (
        f"CASE WHEN {_u_sql('hastool', 'conv_seq', 'turn_idx')} >= 0.7D THEN"
        f" element_at(array({tools}),"
        f" CAST(pmod({_h_sql('tool', 'conv_seq', 'turn_idx')}, {len(TOOLS)}) + 1 AS INT)) END"
    )
    ts = (
        f"to_timestamp('{BASE_TS}') + make_interval(0, 0, 0, 0, 0, 0,"
        " CAST(pmod(conv_seq, 86400) + turn_idx * 7 AS DOUBLE))"
    )
    out = turns.selectExpr(
        "conv_id",
        "turn_idx",
        f"{role} AS role",
        f"{_text_sql()} AS text",
        f"{tool} AS tool",
        f"{ts} AS ts",
    ).cache()
    while _live_gen_cache:
        old = _live_gen_cache.pop()
        try:
            old.unpersist(blocking=False)
        except Exception:
            # the previous cache belonged to a since-stopped SparkSession
            # (e.g. two sessions in one process, as the determinism probe
            # does); its blocks died with that context — nothing to free
            pass
    _live_gen_cache.append(out)
    return out


def gen_label_registry(spark: SparkSession) -> DataFrame:
    """Static model/label dimension (FIXTURES.md §2) — compiled into the
    plan as constants by the batch and stream paths alike
    (operators.classify.classify_with_registry; reference dispatch:
    ml-service/controllers/classification_controller.py:77-80)."""
    rows = [
        ("image_classification", "det-count-v1-imagenet", IMAGE_LABELS, "a photo of %s"),
        ("custom_classification", "det-count-v1-custom", CUSTOM_LABELS, "a photo of %s"),
        # surveyed-scale vocabulary (K2): present in the registry like the
        # reference's MobileNet/ImageNet-1000 model; conversations opt in
        # via job_type, none of the standard fixtures do (so adding the
        # row changes no existing output)
        ("image_classification_1k", "det-count-v1-imagenet1k", IMAGE_LABELS_1K, "a photo of %s"),
    ]
    return spark.createDataFrame(rows, schemas.LABEL_REGISTRY)


def n_convs_for_sf(sf: float) -> int:
    """TESTDATA-compatible sizing: sf=0.001 ≈ 6k turns."""
    return max(1, int(sf * 6_000_000 / MEAN_TURNS))
