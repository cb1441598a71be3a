"""Driver-style correctness gate: every queries() entry with an oracle is
run in Spark AND DuckDB and compared (row count + order-insensitive
canonical value multiset). This is a local replica of what the driver does
at sf0.01; we run sf0.001 in the default suite for speed (set
PARITY_SF_DIR to override)."""

from __future__ import annotations

import math
import os

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as E
from distributed_classification_system_spark.schemas import DRIVER_TABLES

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.001")

ORACLE = E.oracle_sql()
QUERIES = E.queries()
CHECKED = sorted(set(QUERIES) & set(ORACLE))
ROWS_ONLY = sorted(set(QUERIES) - set(ORACLE))


def _duck(sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    for t in DRIVER_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con.execute(sql).df()


def canon(df: pd.DataFrame) -> list[str]:
    cols = sorted(df.columns)
    out = []
    arr = df[cols].astype(object).values
    for row in arr:
        vals = []
        for v in row:
            if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NaT:
                vals.append("∅")
            elif isinstance(v, (np.floating, float)):
                f = float(v)
                vals.append(str(int(f)) if f.is_integer() else repr(f))
            elif isinstance(v, (np.integer, int)):
                vals.append(str(int(v)))
            elif isinstance(v, pd.Timestamp):
                vals.append(v.isoformat())
            else:
                vals.append(str(v))
        out.append("|".join(vals))
    return sorted(out)


@pytest.mark.parametrize("name", CHECKED)
def test_oracle_parity(spark, name):
    sdf = QUERIES[name](spark, SF_DIR).toPandas()
    ddf = _duck(ORACLE[name])
    assert sorted(sdf.columns) == sorted(ddf.columns), (
        f"{name}: column mismatch {sorted(sdf.columns)} vs {sorted(ddf.columns)}"
    )
    assert len(sdf) == len(ddf), f"{name}: rowcount {len(sdf)} vs {len(ddf)}"
    s, d = canon(sdf), canon(ddf)
    mismatches = [(a, b) for a, b in zip(s, d) if a != b]
    assert not mismatches, f"{name}: {len(mismatches)} value mismatches, first: {mismatches[0]}"


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    assert df.count() >= 0


class _FakeSession:
    """Stands in for a SparkSession: ``.read.parquet(path)`` returns a
    fresh object per call."""

    def __init__(self):
        self.read = self

    def parquet(self, path):
        return object()


def test_table_cache_evicts_other_sessions(monkeypatch):
    monkeypatch.setattr(E, "_T_CACHE", {})
    old, new = _FakeSession(), _FakeSession()
    E._t(old, "sf", "documents")
    E._t(old, "sf", "events")
    df = E._t(new, "sf", "documents")
    assert all(s is new for s, _ in E._T_CACHE.values())
    assert E._t(new, "sf", "documents") is df
