"""Generator tests: schema, determinism, size mix, skew fixture."""

from __future__ import annotations

import pytest

from distributed_classification_system_spark import schemas
from distributed_classification_system_spark.sources import gen
from distributed_classification_system_spark.sources.gen import (
    gen_conv_config,
    gen_label_registry,
    gen_transcripts,
    n_convs_for_sf,
)


def test_schema_matches_input_hint(spark):
    df = gen_transcripts(spark, 10)
    assert [(f.name, f.dataType.simpleString()) for f in df.schema.fields] == [
        ("conv_id", "string"),
        ("turn_idx", "int"),
        ("role", "string"),
        ("text", "string"),
        ("tool", "string"),
        ("ts", "timestamp"),
    ]


def test_deterministic_across_partitionings(spark):
    """Same (sf, seed) must produce identical rows regardless of
    parallelism — the property that lets the 10^12-turn table be generated
    distributively."""
    a = gen_transcripts(spark, 50).orderBy("conv_id", "turn_idx").collect()
    b = (
        gen_transcripts(spark, 50)
        .repartition(17)
        .orderBy("conv_id", "turn_idx")
        .collect()
    )
    assert a == b


def test_turn_count_mix(spark):
    cfg = gen_conv_config(spark, 2000).collect()
    small = sum(1 for r in cfg if 1 <= r.n_turns <= 3)
    medium = sum(1 for r in cfg if 4 <= r.n_turns <= 10)
    large = sum(1 for r in cfg if 11 <= r.n_turns <= 20)
    assert small + medium + large == 2000
    # reference mix 40/50/10 (load-tests/config.py:35-39), loose bounds
    assert 0.3 < small / 2000 < 0.5
    assert 0.4 < medium / 2000 < 0.6
    assert 0.05 < large / 2000 < 0.15


def test_transcripts_match_config_n_turns(spark):
    t = gen_transcripts(spark, 100).groupBy("conv_id").count().collect()
    cfg = {r.conv_id: r.n_turns for r in gen_conv_config(spark, 100).collect()}
    assert {r.conv_id: r["count"] for r in t} == cfg


def test_ts_monotone_per_conv(spark):
    rows = gen_transcripts(spark, 30).orderBy("conv_id", "turn_idx").collect()
    last = {}
    for r in rows:
        if r.conv_id in last:
            assert r.ts > last[r.conv_id]
        last[r.conv_id] = r.ts


def test_skew_fixture(spark):
    counts = {
        r.conv_id: r["count"]
        for r in gen_transcripts(spark, 20, n_hot=1, hot_turns=500)
        .groupBy("conv_id")
        .count()
        .collect()
    }
    assert counts["conv-00000000"] == 500
    assert all(v <= 20 for k, v in counts.items() if k != "conv-00000000")


def test_registry_schema(spark):
    reg = gen_label_registry(spark)
    assert reg.schema == schemas.LABEL_REGISTRY
    assert reg.count() == 3
    # K2 surveyed scale: the imagenet-1k stand-in carries exactly 1000
    # sorted labels including all 20 real marker labels
    row = reg.filter(reg.job_type == "image_classification_1k").collect()[0]
    assert len(row.labels) == 1000
    assert row.labels == sorted(row.labels)
    assert set(gen.IMAGE_LABELS) <= set(row.labels)


def test_sizing():
    assert abs(n_convs_for_sf(0.001) * 5.85 - 6000) < 60


def _canon_md5(df, order_cols):
    import hashlib

    h = hashlib.md5()
    for r in df.orderBy(*order_cols).collect():
        h.update(("|".join("∅" if v is None else str(v) for v in r)).encode())
    return h.hexdigest()


def test_golden_output_hashes(spark):
    """Pin the generator's exact output: the r6 selectExpr rewrite (one
    SQL parse instead of hundreds of py4j Column calls) must be — and any
    future rewrite must stay — bit-identical to the original Column-API
    generators. Hashes were captured from the pre-rewrite implementation."""
    assert (
        _canon_md5(gen_transcripts(spark, 2000), ["conv_id", "turn_idx"])
        == "9c1db0c8ee473dea1712d826151e8d75"
    )
    assert (
        _canon_md5(
            gen_transcripts(spark, 300, n_hot=2, hot_turns=50),
            ["conv_id", "turn_idx"],
        )
        == "0690cb4389e781237544d115509e8406"
    )
    assert (
        _canon_md5(gen.gen_conversations(spark, 2000), ["conv_seq"])
        == "b7d6512831f891a4a580bac8d53072e8"
    )


def test_sql_interpolated_params_coerced_to_int():
    # n_hot and hot_turns are spliced into SQL text; a non-integer value
    # fails before any Spark call (spark=None never gets touched)
    with pytest.raises(ValueError):
        gen.gen_conversations(None, 10, n_hot="1 OR 1=1")
