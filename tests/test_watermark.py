"""Watermark semantics: an event arriving behind the watermark is
DROPPED from the windowed aggregate — the late-data contract a 100 TB
streaming rollup depends on (bounded state, no unbounded re-open of
old windows).

Micro-batches are forced via maxFilesPerTrigger=1 with explicit file
mtimes (the file source orders batches by modification time). Spark
commits the watermark with one batch of lag — the max event time of
batch N becomes the filtering watermark of batch N+2 — so the late
event is staged two batches after the watermark-advancing one."""

from __future__ import annotations

import os
import time

import pytest

from pyspark.sql import functions as F

from codegraph_spark.streaming.incremental import hourly_counts, run_available_now


@pytest.fixture()
def staged_dir(spark, tmp_path):
    d = str(tmp_path)
    batches = {
        "b1": [  # advances max event time to 10:00 -> watermark 09:00
            ("2026-01-01 00:10:00", "click", 1.0),
            ("2026-01-01 10:00:00", "click", 2.0),
        ],
        "b2": [("2026-01-01 10:01:00", "click", 3.0)],  # spacer (wm commit lag)
        "b3": [
            ("2026-01-01 00:20:00", "click", 100.0),  # behind watermark -> dropped
            ("2026-01-01 10:05:00", "click", 4.0),    # on time
        ],
    }
    for sub, data in batches.items():
        df = spark.createDataFrame(
            data, "ts string, event_type string, value double"
        ).select(F.col("ts").cast("timestamp").alias("ts"), "event_type", "value")
        df.coalesce(1).write.parquet(os.path.join(d, sub))
    now = time.time()
    for sub, age in (("b1", 600), ("b2", 300), ("b3", 0)):
        p = os.path.join(d, sub)
        for f in os.listdir(p):
            os.utime(os.path.join(p, f), (now - age, now - age))
    return d


def test_late_event_is_dropped(spark, staged_dir):
    stream = (
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(staged_dir)
    )
    out = run_available_now(hourly_counts(stream, watermark="1 hour"), output_mode="append")
    rows = {r["hour"]: (r["n"], r["total_value"]) for r in out.collect()}
    # the 00:00 window closed with only the on-time event — the late
    # 100.0-value event must not have re-opened or re-entered it
    assert rows.get("2026-01-01 00:00:00") == (1, 1.0), rows
    # windows still open at end-of-stream never emit in append mode
    assert "2026-01-01 10:00:00" not in rows
