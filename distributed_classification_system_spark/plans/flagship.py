"""Flagship end-to-end batch plan.

The batch analogue of the reference's main pipeline (`POST /submit` →
classified per-job result, SURVEY.md §3.1): generate/load transcripts →
conv_config join → label registry as plan constants → vectorized
classification → per-conversation session summaries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from distributed_classification_system_spark.operators.classify import classify_turns
from distributed_classification_system_spark.operators.sessionize import conv_summaries
from distributed_classification_system_spark.sources.gen import (
    gen_conv_config,
    gen_label_registry,
    gen_transcripts,
    n_convs_for_sf,
)


def flagship_turns(spark: SparkSession, sf: float = 0.001, **gen_kw) -> DataFrame:
    """Classified per-turn results at the given scale factor."""
    n = n_convs_for_sf(sf)
    transcripts = gen_transcripts(spark, n, **gen_kw)
    config = gen_conv_config(spark, n, **gen_kw)
    registry = gen_label_registry(spark)
    return classify_turns(transcripts, config, registry)


def flagship(spark: SparkSession, sf: float = 0.001, **gen_kw) -> DataFrame:
    """Per-conversation summaries at the given scale factor."""
    n = n_convs_for_sf(sf)
    turns = flagship_turns(spark, sf, **gen_kw)
    return conv_summaries(turns, gen_conv_config(spark, n, **gen_kw)).orderBy("conv_id")
