"""Engine observability (SURVEY.md §3.3, S13, FIXTURES.md §4c).

The reference scrapes CloudWatch for queue depth / throughput series
(load-tests/utils/metrics_collector.py:46-164); our engine emits its own
metrics table from StreamingQueryListener progress events: one row per
micro-batch with rows, rates, state size, watermark and partition count —
the input to the W1-W8 analysis windows in operators/rollup.py.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql.streaming import StreamingQueryListener


class MetricsListener(StreamingQueryListener):
    """Collects per-batch progress rows."""

    def __init__(self):
        self.rows: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        state = p.stateOperators[0] if p.stateOperators else None
        row = {
            "batch_id": p.batchId,
            "ts": p.timestamp,
            "input_rows": p.numInputRows,
            "turns_per_sec": p.processedRowsPerSecond,
            "state_rows": state.numRowsTotal if state is not None else None,
            "watermark": (p.eventTime or {}).get("watermark"),
            # the state operator's shuffle partitions: the count the
            # checkpoint pinned at its first run, not the session setting
            "num_partitions": state.numShufflePartitions if state is not None else None,
        }
        with self._lock:
            self.rows.append(row)

    def onQueryTerminated(self, event):
        pass

    def onQueryIdle(self, event):
        pass

    def to_df(self, spark):
        from distributed_classification_system_spark.schemas import METRICS

        import pandas as pd

        if not self.rows:
            return spark.createDataFrame([], METRICS)
        pdf = pd.DataFrame(self.rows)
        # progress timestamps are ISO-8601 with a Z suffix → tz-aware
        # pd.Timestamp; the non-Arrow ingest verifier accepts only naive
        # native datetimes, so normalize to UTC and hand over records
        ts = pd.to_datetime(pdf["ts"], format="ISO8601", utc=True).dt.tz_localize(None)
        data = pdf.astype(object).where(pdf.notna(), None)
        records = data.drop(columns=["ts"]).to_dict("records")
        for rec, t in zip(records, ts):  # patch post-records: a pandas
            rec["ts"] = None if t is pd.NaT else t.to_pydatetime()  # column would re-wrap as Timestamp
        return spark.createDataFrame(records, METRICS)

    def write_parquet(self, path: str) -> None:
        """Append the collected rows as one parquet file, driver-side.

        The metrics table is a handful of rows per run (one per
        micro-batch); routing it through a Spark write job costs a full
        job launch + commit protocol (~0.4 s measured) for kilobytes of
        data. A direct pyarrow write is ~10 ms and produces the same
        directory layout and logical types as the Spark writer, so
        ``spark.read.parquet(path)`` yields the METRICS schema unchanged
        (ts carries isAdjustedToUTC, matching Spark's TimestampType).
        Zero collected rows still produce an empty-but-readable table,
        like the Spark writer did. ``path`` must be a local filesystem
        path (every engine caller's out_dir is); a cluster deployment
        writing sinks to HDFS/S3 would route this table through its
        catalog instead."""
        import uuid

        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        with self._lock:  # the listener bus appends from another thread
            rows = list(self.rows)
        pdf = pd.DataFrame(
            rows,
            columns=[
                "batch_id", "ts", "input_rows", "turns_per_sec",
                "state_rows", "watermark", "num_partitions",
            ],
        )
        ts = pd.to_datetime(pdf["ts"], format="ISO8601", utc=True)
        table = pa.table(
            {
                "batch_id": pa.array(pdf["batch_id"], type=pa.int64()),
                "ts": pa.Array.from_pandas(ts, type=pa.timestamp("us", tz="UTC")),
                "input_rows": pa.array(pdf["input_rows"], type=pa.int64()),
                "turns_per_sec": pa.array(pdf["turns_per_sec"], type=pa.float64()),
                "state_rows": pa.array(pdf["state_rows"], type=pa.int64()),
                "watermark": pa.array(pdf["watermark"], type=pa.string()),
                "num_partitions": pa.array(pdf["num_partitions"], type=pa.int32()),
            }
        )
        os.makedirs(path, exist_ok=True)
        pq.write_table(table, os.path.join(path, f"part-{uuid.uuid4().hex}.parquet"))
