"""Stateful streaming: watermarked windowed counters match the batch
aggregation; in-watermark duplicate deliveries collapse to one row."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def event_rows():
    base = dt.datetime(2026, 8, 1, 12, 0, 0)
    rows = []
    for i in range(600):
        rows.append(
            (
                f"c{i:05d}",
                ["kept", "langid", "low_entropy"][i % 3],
                base + dt.timedelta(seconds=(i * 7) % 600),
            )
        )
    # duplicate deliveries of the first 50 clips, slightly later
    for i in range(50):
        rows.append((f"c{i:05d}", "kept", base + dt.timedelta(seconds=30 + i)))
    return rows


@pytest.fixture(scope="module")
def event_dir(spark, event_rows, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("events") / "in")
    df = spark.createDataFrame(
        event_rows, "clip_id string, status string, event_ts timestamp"
    )
    df.repartition(3).write.mode("overwrite").parquet(d)
    return d


def test_windowed_counts_match_batch(spark, event_dir, tmp_path):
    from kneaddata_spark.streaming.metrics_stream import windowed_status_counts

    agg = windowed_status_counts(spark, event_dir, window="1 minute", watermark="2 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck1"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["win_start"], r["status"]): r["n"]
        for r in spark.sql("select * from win_counts").collect()
    }
    batch = (
        spark.read.parquet(event_dir)
        .groupBy(F.window("event_ts", "1 minute").alias("win"), "status")
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").alias("win_start"), "status", "n")
    )
    want = {(r["win_start"], r["status"]): r["n"] for r in batch.collect()}
    assert got == want and len(got) > 10


def test_stream_dedup_within_watermark(spark, event_dir, tmp_path):
    from kneaddata_spark.streaming.metrics_stream import dedup_within_watermark

    out = dedup_within_watermark(spark, event_dir, watermark="30 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    res = spark.sql("select clip_id, count(*) as n from dedup_out group by clip_id")
    assert res.where("n > 1").count() == 0          # no clip_id twice
    assert res.count() == 600                        # every distinct clip survives
