"""Structured Streaming surface tests (SURVEY.md §2.9)."""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import pytest

from canadiannewsdatapipeline_spark.streaming import streaming_file_ingest


def test_streaming_ingest_idempotent_dedup(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    t0 = datetime(2024, 1, 1, 0, 0, 0)
    batch1 = spark.createDataFrame(
        [(1, "a", t0), (2, "b", t0 + timedelta(minutes=5)),
         (2, "b", t0 + timedelta(minutes=5))],  # in-batch duplicate
        "id long, v string, ts timestamp",
    )
    batch1.write.mode("append").parquet(src)
    schema = batch1.schema
    streaming_file_ingest(spark, src, schema, ["id"], "ts", ckpt, out)
    assert spark.read.parquet(out).count() == 2  # dup dropped

    # second cron tick: new file arrives; old files NOT reprocessed
    spark.createDataFrame(
        [(3, "c", t0 + timedelta(hours=1))], schema
    ).write.mode("append").parquet(src)
    streaming_file_ingest(spark, src, schema, ["id"], "ts", ckpt, out)
    got = sorted(r.id for r in spark.read.parquet(out).collect())
    assert got == [1, 2, 3]


def test_streaming_session_window_matches_batch(spark, tmp_path):
    # native session_window must produce the same gap sessions whether
    # the engine runs it as one batch or incrementally with watermarked
    # state (AvailableNow drains the source then finalizes all windows)
    import uuid

    from pyspark.sql import functions as F

    from canadiannewsdatapipeline_spark.sources.registry import load_table
    from canadiannewsdatapipeline_spark.streaming.ingest import _state_partitions

    sf_dir = "/root/testdata/sf0.001"
    ev = load_table(spark, sf_dir, "events")

    def sessions(frame):
        return frame.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("sw")
        ).agg(F.count(F.lit(1)).alias("n_events"))

    batch = {
        (r.user_id, r.sw.start, r.sw.end, r.n_events)
        for r in sessions(ev).collect()
    }

    # append-mode windows only emit once the watermark passes their
    # close; the last session per user would stay buffered at
    # end-of-stream. A far-future sentinel row advances the global
    # watermark past every real session (excluded from the compare).
    src = str(tmp_path / "events_src")
    ev.write.mode("overwrite").parquet(src)
    sentinel_ts = ev.agg(F.max("ts")).collect()[0][0] + __import__(
        "datetime"
    ).timedelta(hours=2)
    spark.createDataFrame(
        [(-1, sentinel_ts, -1, "sentinel", 0.0, "{}")], ev.schema
    ).write.mode("append").parquet(src)

    from canadiannewsdatapipeline_spark.streaming.joins import _event_stream

    stream = _event_stream(spark, src).withWatermark("ts", "1 minute")
    sink = f"ssw_{uuid.uuid4().hex[:8]}"
    with _state_partitions(spark, 4):
        (
            sessions(stream)
            .select("user_id", "sw.start", "sw.end", "n_events")
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    streamed = {
        (r.user_id, r.start, r.end, r.n_events)
        for r in spark.table(sink).collect()
        if r.user_id != -1
    }
    assert streamed == batch and len(batch) > 0


# ---- resume: a repeat call over unchanged files runs no micro-batch


def _wh_with_events(tmp_path, sf_dir):
    import shutil

    wh = tmp_path / "wh"
    wh.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", wh / "events.parquet")
    return str(wh)


def _windowed(spark, wh, window="1 hour"):
    from canadiannewsdatapipeline_spark.sources.registry import load_table_raw
    from canadiannewsdatapipeline_spark.streaming.ingest import windowed_event_counts

    return windowed_event_counts(
        spark, load_table_raw(spark, wh, "events"), window=window, state_partitions=2
    )


def _batch_windowed(spark, wh, window="1 hour"):
    from pyspark.sql import functions as F

    from canadiannewsdatapipeline_spark.sources.registry import load_table

    return {
        (r.window_start, r.event_type, r.n, r.total_value)
        for r in load_table(spark, wh, "events")
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
        .collect()
    }


def _rows(df):
    return {tuple(r) for r in df.collect()}


def _sink_views(spark):
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def _checkpoint_dirs(spark):
    state = getattr(spark, "_cndp_stream_resume", None)
    return set(os.listdir(state.root)) if state else set()


@pytest.mark.parametrize(
    "name",
    ["stream_windowed_counts", "stream_static_join_counts", "stream_dedup_daily_active"],
)
def test_stream_repeat_call_runs_no_micro_batch(spark, sf_dir, stream_events, name):
    from canadiannewsdatapipeline_spark.queries import QUERIES

    fn = QUERIES[name].fn
    first = _rows(fn(spark, sf_dir))
    stream_events.flush()
    ran = len(stream_events.batches)
    again = fn(spark, sf_dir)
    stream_events.flush()
    assert stream_events.batches[ran:] == []
    assert _rows(again) == first and len(first) > 0


def test_stream_rewritten_source_starts_fresh(spark, sf_dir, tmp_path, stream_events):
    import duckdb

    wh = _wh_with_events(tmp_path, sf_dir)
    assert _rows(_windowed(spark, wh)) == _batch_windowed(spark, wh)
    dirs = _checkpoint_dirs(spark)

    # regenerate in place with fewer rows and a bumped mtime: the
    # checkpoint has seen this path, so resuming from it would keep the
    # old aggregate
    path = os.path.join(wh, "events.parquet")
    duckdb.sql(
        f"COPY (SELECT * FROM '{sf_dir}/events.parquet' WHERE event_id % 3 = 0) "
        f"TO '{path}.tmp' (FORMAT PARQUET)"
    )
    os.replace(f"{path}.tmp", path)
    os.utime(path)
    stream_events.flush()
    ran = len(stream_events.batches)
    got = _rows(_windowed(spark, wh))
    stream_events.flush()
    assert [b for b, _ in stream_events.batches[ran:]] == [0]  # a fresh query
    assert got == _batch_windowed(spark, wh) and len(got) > 0
    after = _checkpoint_dirs(spark)
    assert len(after - dirs) == 1 and len(dirs - after) == 1  # swapped, not added


def test_stream_calls_leave_one_sink_and_checkpoint(spark, sf_dir, tmp_path):
    wh = _wh_with_events(tmp_path, sf_dir)
    views, dirs = _sink_views(spark), _checkpoint_dirs(spark)
    frames = [_windowed(spark, wh) for _ in range(4)]
    assert len(_sink_views(spark) - views) == 1
    assert len(_checkpoint_dirs(spark) - dirs) == 1
    # frames returned earlier keep their rows
    assert all(_rows(f) == _rows(frames[-1]) for f in frames)


def test_stream_different_window_does_not_resume(spark, sf_dir, tmp_path, stream_events):
    wh = _wh_with_events(tmp_path, sf_dir)
    hourly = _rows(_windowed(spark, wh))
    stream_events.flush()
    ran = len(stream_events.batches)
    two_hourly = _rows(_windowed(spark, wh, "2 hours"))
    stream_events.flush()
    assert [b for b, _ in stream_events.batches[ran:]] == [0]
    assert two_hourly == _batch_windowed(spark, wh, "2 hours")
    assert two_hourly != hourly
