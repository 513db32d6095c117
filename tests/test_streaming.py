"""Structured Streaming tests: file-source stream with availableNow,
watermarked windowed aggregation, batch/stream parity."""

import os
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F


def test_windowed_counts_stream_matches_batch(spark, tmp_path):
    from geospark.streaming.windows import windowed_counts

    src = str(tmp_path / "events_src")
    os.makedirs(src)
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    events.write.mode("overwrite").parquet(src)

    batch = windowed_counts(
        spark.read.parquet(src), ts_col="ts", key_col="event_type", value_col="value"
    ).toPandas()

    stream_df = spark.readStream.schema(events.schema).parquet(src)
    out = windowed_counts(stream_df, ts_col="ts", key_col="event_type", value_col="value")
    q = (
        out.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from win_counts").toPandas()

    key = ["window_start", "event_type"]
    b = batch.sort_values(key).reset_index(drop=True)
    g = got.sort_values(key).reset_index(drop=True)
    assert len(b) == len(g) and len(b) > 0
    assert (b["n_events"].to_numpy() == g["n_events"].to_numpy()).all()
    assert (b["cents_sum"].to_numpy() == g["cents_sum"].to_numpy()).all()


def test_stream_tile_counts(spark, tmp_path):
    from geospark.streaming.windows import stream_tile_counts

    src = str(tmp_path / "pts_src")
    pdf = pd.DataFrame(
        {
            "ts": pd.to_datetime([1700000000 + i * 60 for i in range(100)], unit="s"),
            "x": [float((i * 37) % 1000) for i in range(100)],
            "y": [float((i * 91) % 1000) for i in range(100)],
        }
    )
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    out = stream_tile_counts(stream, ts_col="ts", level=10)
    q = (
        out.writeStream.format("memory")
        .queryName("tile_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from tile_counts").toPandas()
    assert got["n"].sum() == 100
    assert (got["cell_id"] >= 0).all()


def test_watermark_drops_late_data(spark, tmp_path):
    """The watermark must actually DROP events later than the
    threshold across micro-batches: batch 1 advances the watermark to
    max(ts) - 10 min; batch 2 delivers an event 2 h older, whose
    window is already finalized — in append mode that window was
    emitted and the late row must not resurface or error."""
    from geospark.streaming.windows import windowed_counts

    src = str(tmp_path / "late_src")
    os.makedirs(src)
    base = pd.Timestamp("2026-01-01 12:00:00")
    b1 = pd.DataFrame(
        {
            "ts": [base, base + pd.Timedelta(minutes=5), base + pd.Timedelta(hours=3)],
            "event_type": ["a", "a", "a"],
        }
    )
    spark.createDataFrame(b1).repartition(1).write.mode("overwrite").parquet(src + "/f1")

    stream_df = (
        spark.readStream.schema("ts timestamp, event_type string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    out = windowed_counts(
        stream_df, ts_col="ts", key_col="event_type", window="10 minutes",
        watermark="10 minutes",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("late_win")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    first = spark.sql("select * from late_win").toPandas()
    # watermark is now 15:00 - 10min = 14:50 → the 12:00 window is final
    assert first[first.window_start == base]["n_events"].sum() == 2

    # f2 is a spacer batch; f3 carries the LATE event (12:01, behind
    # the watermark) plus a fresh event.  The late row must arrive TWO
    # batches after the watermark-advancing 15:00 event: the micro-
    # batch engine filters batch N with the watermark derived from
    # batch N-2's event-time stats (one-batch commit lag — verified
    # empirically; with the late row in batch N-1 it still lands).
    b2 = pd.DataFrame(
        {"ts": [base + pd.Timedelta(hours=3, minutes=30)], "event_type": ["a"]}
    )
    spark.createDataFrame(b2).repartition(1).write.mode("overwrite").parquet(src + "/f2")
    b3 = pd.DataFrame(
        {
            "ts": [base + pd.Timedelta(minutes=1), base + pd.Timedelta(hours=4)],
            "event_type": ["a", "a"],
        }
    )
    spark.createDataFrame(b3).repartition(1).write.mode("overwrite").parquet(src + "/f3")
    # ONE part file per directory (repartition(1) above) and pinned
    # mtimes: maxFilesPerTrigger=1 batches per PART FILE ordered by
    # modification time, so multi-part writes with near-identical
    # mtimes would make the batch order (and the watermark advance)
    # nondeterministic — the original flake
    now = time.time()
    for d, mt in (
        (src + "/f1", now - 120),
        (src + "/f2", now - 60),
        (src + "/f3", now),
    ):
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (mt, mt))
    q2 = (
        out.writeStream.format("memory")
        .queryName("late_win2")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    # run a FRESH query over both files with per-file triggers so the
    # watermark from f1 is active when f2 arrives (memory-sink tables
    # are per-query; the checkpoointed restart path is the same code)
    got = spark.sql("select * from late_win2").toPandas()
    noon = got[got.window_start == base]["n_events"]
    # the late 12:01 event must NOT bump the finalized 12:00 window
    assert noon.sum() == 2, got.to_string()


def test_dedup_stream_drops_exact_rearrivals(spark, tmp_path):
    """Streaming first-arrival dedup: duplicate texts across
    micro-batches within the watermark horizon are dropped; distinct
    texts pass through.  Batch twin produces the same text set."""
    import pandas as pd

    from geospark.streaming.dedup import dedup_stream

    src = str(tmp_path / "docs_src")
    rows1 = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["alpha beta", "gamma delta", "alpha beta"],
            "ts": pd.to_datetime(
                ["2026-01-01 10:00:00", "2026-01-01 10:00:10", "2026-01-01 10:00:20"]
            ),
        }
    )
    rows2 = pd.DataFrame(
        {
            "doc_id": [4, 5],
            "text": ["alpha beta", "epsilon zeta"],  # 4 is a re-arrival
            "ts": pd.to_datetime(["2026-01-01 10:01:00", "2026-01-01 10:01:10"]),
        }
    )
    spark.createDataFrame(rows1).coalesce(1).write.mode("overwrite").parquet(src)
    spark.createDataFrame(rows2).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(
        "doc_id bigint, text string, ts timestamp"
    ).parquet(src)
    q = (
        dedup_stream(stream, watermark="10 minutes")
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("dedup_out").toPandas()
    # one row per distinct text; first arrival kept
    assert sorted(got["text"]) == ["alpha beta", "epsilon zeta", "gamma delta"]
    # batch twin parity on the text set
    batch = dedup_stream(
        spark.read.parquet(src), watermark="10 minutes"
    ).toPandas()
    assert sorted(batch["text"]) == sorted(got["text"])


def test_session_time_zone_is_utc(spark):
    """build_session pins the session time zone: hourly windows
    formatted after their aggregate (events_hourly) must not depend on
    the host's zone or its DST changes."""
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    # 2023-10-29 01:30 UTC is inside Europe's DST fall-back hour
    t = spark.sql("SELECT date_format(timestamp_seconds(1698543000), 'yyyy-MM-dd HH:mm') AS t")
    assert t.collect()[0]["t"] == "2023-10-29 01:30"
