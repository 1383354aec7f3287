"""Structured Streaming surface (SURVEY.md §2.9).

The reference has no true streams — ingestion is a 3-hourly Airflow
cron (ingest_news.py:82) with overlap re-scrapes deduped downstream
and a temp-file retry branch (S12). Natively in Spark:

- ``streaming_file_ingest``: file-source readStream +
  ``Trigger.AvailableNow`` reproduces "process whatever arrived since
  last run, exactly once" (checkpoint = the reference's temp-file
  idempotency), with watermark + dropDuplicates replacing the
  downstream latest-row dedup.
- ``windowed_event_counts``: tumbling-window aggregation over the
  events stream — the streaming twin of the dashboard's daily
  resample (A7).
- ``stream_static_enrich``: stream-static broadcast join + tumbling
  aggregation.

The in-session twins (complete-mode aggregates into a memory sink)
share ``complete_to_memory``, which applies the same "since last run"
rule within a session: a repeat call over an unchanged source resumes
from the checkpoint of the previous call and runs no micro-batch.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import threading
import uuid
import weakref
from dataclasses import dataclass
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class _state_partitions:
    """Scope `spark.sql.shuffle.partitions` around a streaming start.

    A stateful streaming agg creates one state-store instance PER
    shuffle partition PER micro-batch; inheriting the batch-wide
    setting (sized for fact-table shuffles) multiplies fixed state
    overhead for aggregates whose key cardinality is tiny. Size this
    to the expected state volume — a few thousand window x key groups
    need single-digit partitions; high-cardinality keyed state scales
    it up. The partition count is baked into the checkpoint at first
    start, so pick it per stream, not per session (restoring the old
    value afterwards keeps batch plans untouched)."""

    def __init__(self, spark: SparkSession, n: int):
        self.spark, self.n = spark, n

    def __enter__(self):
        self.old = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.old)


# Per-session state of ``complete_to_memory``, stored on the session
# object for the same lifecycle reason as the registry's plan cache
# (queries/registry.py): a module-global map of DataFrames would
# strong-root their sessions.
_RESUME_ATTR = "_cndp_stream_resume"


def _files_stamp(frames: list[DataFrame]) -> tuple | None:
    """(path, size, mtime) of every file behind ``frames``; None when
    one is not a local file any more (or never was), which disables
    resume for the call."""
    stamp = []
    for f in sorted({f for df in frames for f in df.inputFiles()}):
        url = urlparse(f)
        if url.scheme not in ("", "file"):
            return None
        try:
            st = os.stat(unquote(url.path))
        except OSError:
            return None
        stamp.append((f, st.st_size, st.st_mtime_ns))
    return tuple(stamp)


def _comparable_plan(df: DataFrame):
    """The analyzed JVM plan of ``df`` with the random id Spark gives
    every ``withWatermark`` node replaced by one constant. Two builds of
    the same watermarked query then compare equal under ``sameResult``
    (the check behind ``DataFrame.sameSemantics``); with the ids they
    never would."""
    jvm = df.sparkSession._jvm
    pinned_id = jvm.java.util.UUID(0, 0)

    def pin(plan):
        kids = plan.children()
        old = [kids.apply(i) for i in range(kids.size())]
        new = [pin(k) for k in old]
        if plan.getClass().getSimpleName() == "EventTimeWatermark":
            return plan.copy(pinned_id, plan.eventTime(), plan.delay(), new[0])
        if all(n is o for n, o in zip(new, old)):
            return plan
        seq = jvm.java.util.ArrayList()
        for n in new:
            seq.add(n)
        return plan.withNewChildren(
            jvm.scala.jdk.javaapi.CollectionConverters.asScala(seq).toSeq()
        )

    return pin(df._jdf.queryExecution().analyzed())


@dataclass
class _Slot:
    plan: object  # _comparable_plan of the streaming aggregate
    stamp: tuple | None
    state_partitions: int
    checkpoint: str
    sink: str
    result: DataFrame


class _ResumeState:
    """One session's resume slots, one per distinct aggregate plan, and
    the directory their checkpoints live in. The directory is removed
    when the state is collected with its session or the process exits,
    so no checkpoint outlives the process."""

    def __init__(self):
        self.lock = threading.Lock()  # one checkpoint, one writer
        self.slots: list[_Slot] = []
        self.root = tempfile.mkdtemp(prefix="cndp-stream-")
        weakref.finalize(self, shutil.rmtree, self.root, True)


def complete_to_memory(
    spark: SparkSession,
    agg: DataFrame,
    sources: list[DataFrame],
    sink_prefix: str,
    state_partitions: int,
) -> DataFrame:
    """Run the streaming aggregate ``agg`` to completion (AvailableNow,
    complete mode, memory sink) and return the sink as a batch frame.

    ``sources`` are the batch frames whose files ``agg`` reads, streamed
    or static. Every call executes a streaming query. A call whose
    aggregate has the same analyzed plan (``_comparable_plan``) as an
    earlier call in this session, over the same files (path, size and
    mtime), restarts from that call's checkpoint: when no file is new
    the restart runs no micro-batch and the earlier result is returned;
    when one is, complete mode emits the full updated result. Any other
    call starts from a fresh checkpoint. The superseded sink view is
    dropped (frames already returned keep their rows) and a superseded
    checkpoint is deleted, so a plan holds one sink view and one
    checkpoint however often it is called."""
    state = getattr(spark, _RESUME_ATTR, None)
    if state is None:
        state = _ResumeState()
        setattr(spark, _RESUME_ATTR, state)
    stamp = _files_stamp(sources)
    plan = _comparable_plan(agg)
    with state.lock:
        slot = next((s for s in state.slots if s.plan.sameResult(plan)), None)
        resume = (
            slot is not None
            and stamp is not None
            and slot.stamp == stamp
            and slot.state_partitions == state_partitions
        )
        checkpoint = slot.checkpoint if resume else tempfile.mkdtemp(dir=state.root)
        sink = f"{sink_prefix}_{uuid.uuid4().hex[:12]}"
        with _state_partitions(spark, state_partitions):
            query = (
                agg.writeStream.format("memory")
                .queryName(sink)
                .outputMode("complete")
                .option("checkpointLocation", checkpoint)
                .trigger(availableNow=True)
                .start()
            )
            query.awaitTermination()
        if resume and not any("addBatch" in p["durationMs"] for p in query.recentProgress):
            spark.catalog.dropTempView(sink)
            return slot.result
        result = spark.table(sink)
        if slot is not None:
            state.slots.remove(slot)
            spark.catalog.dropTempView(slot.sink)
            if not resume:
                shutil.rmtree(slot.checkpoint, ignore_errors=True)
        state.slots.append(_Slot(plan, stamp, state_partitions, checkpoint, sink, result))
        return result


def _normalize_ts(stream: DataFrame, col: str = "ts") -> DataFrame:
    """Same event-time normalization as sources.registry.load_table:
    nanosecond longs -> micros timestamp; TIMESTAMP_NTZ -> session-TZ
    (UTC) timestamp so epoch functions work identically in-stream."""
    dt = dict(stream.dtypes).get(col)
    if dt == "bigint":
        stream = stream.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` DIV 1000")))
    elif dt == "timestamp_ntz":
        stream = stream.withColumn(col, F.col(col).cast("timestamp"))
    return stream


def _stream_from_batch_source(spark: SparkSession, df: DataFrame) -> DataFrame:
    """readStream over the files backing a batch DataFrame.

    FileStreamSource only accepts a directory, so a single-file source
    (the warehouse layout: ``<sf_dir>/events.parquet`` next to nine
    OTHER tables) must be streamed as parent dir + ``pathGlobFilter``
    on its base name — same rule as ``streaming.joins._event_stream``.
    Without the glob the stream lists the WHOLE warehouse: every other
    table is scanned through this schema (correct output only because
    the window operator's implicit ``isnotnull(ts)`` drops the
    foreign rows, but ~6x the bytes at sf0.1) and any non-parquet
    file in the directory fails the read (found by driver_sim on a
    ladder warehouse, whose LADDER_MODE marker crashed the stream).
    A multi-file dataset's input files share their own parent
    directory, so it streams unfiltered exactly as before."""
    files = df.inputFiles()
    d, base = files[0].rsplit("/", 1)
    reader = spark.readStream.schema(df.schema)
    if len(files) == 1:
        reader = reader.option("pathGlobFilter", base)
    return reader.parquet(d)


def streaming_file_ingest(
    spark: SparkSession,
    src_dir: str,
    schema,
    dedup_keys: list[str],
    ts_col: str,
    checkpoint_dir: str,
    out_dir: str,
    watermark: str = "3 hours",
) -> None:
    """Incremental exactly-once file ingest with in-stream dedup.

    Runs to completion (AvailableNow) — the reference's cron semantics;
    re-running with the same checkpoint skips already-ingested files.
    """
    stream = (
        spark.readStream.schema(schema)
        .parquet(src_dir)
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(dedup_keys)
    )
    (
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def windowed_event_counts(
    spark: SparkSession,
    events: DataFrame,
    window: str = "1 hour",
    state_partitions: int = 8,
) -> DataFrame:
    """Tumbling-window count + exact-decimal sum per event_type,
    executed by the streaming engine (AvailableNow over the same
    parquet, complete-mode memory sink, see ``complete_to_memory``) and
    returned as a batch frame. A repeat call over unchanged files
    resumes from the previous call's checkpoint and runs no micro-batch.

    The decimal sum keeps the aggregate engine-exact (same rule as the
    batch corpus). ``state_partitions`` sizes the state store to the
    aggregate's key cardinality (hours x event types), not the batch
    shuffle width — see ``_state_partitions``."""
    stream = _stream_from_batch_source(spark, events)
    # events.ts arrives as nanosecond longs (see sources.registry);
    # apply the same conversion inside the stream.
    stream = _normalize_ts(stream)
    agg = (
        stream.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )
    return complete_to_memory(spark, agg, [events], "wec", state_partitions)


def stream_static_enrich(
    spark: SparkSession,
    events: DataFrame,
    dim: DataFrame,
    join_expr,
    segment_col: str,
    window: str = "1 hour",
    state_partitions: int = 8,
) -> DataFrame:
    """Stream-static join + tumbling agg: each micro-batch joins the
    static dimension (broadcast — the dim is re-read per batch, so keep
    it dimension-sized), then windows into per-segment counts and an
    exact-decimal value sum.

    This is the streaming twin of the batch enrich-join (J1): at scale
    the stream side never shuffles for the join (broadcast), only for
    the windowed aggregation — one exchange per micro-batch. Resume as
    in ``complete_to_memory``: the files of both ``events`` and ``dim``
    are stamped, so a rewritten dimension starts a fresh checkpoint."""
    stream = _stream_from_batch_source(spark, events)
    stream = _normalize_ts(stream)
    agg = (
        stream.join(F.broadcast(dim), join_expr(stream, dim))
        .groupBy(F.window("ts", window).alias("w"), F.col(segment_col))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col(segment_col).alias("segment"),
            "n",
            "total_value",
        )
    )
    return complete_to_memory(spark, agg, [events, dim], "sse", state_partitions)


def streaming_upsert_sink(
    spark: SparkSession,
    src_dir: str,
    schema,
    keys: list[str],
    order_col: str,
    target_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> None:
    """CDC-apply: stream change records and MERGE each micro-batch into
    the target (foreachBatch + ``merge_upsert``) — the canonical
    streaming-upsert pattern when the sink isn't a transactional table
    format. With Delta/Iceberg, swap the body for ``MERGE INTO``; the
    batch-side dedup (latest change per key, ``order_col`` +
    deterministic tiebreak) stays identical.

    The parquet target is replaced via write-temp-then-swap so a crash
    mid-batch never leaves a half-written target; the checkpoint makes
    re-delivered batches idempotent (same batch -> same merge result).
    """
    import os
    import shutil

    from ..operators.dedup_window import latest_row_per_key
    from ..operators.merge import merge_upsert

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        batch = latest_row_per_key(
            batch_df, keys=keys, ts_col=order_col,
            tiebreakers=[c for c in batch_df.columns if c not in (*keys, order_col)],
        )
        if os.path.isdir(target_dir) and any(
            f.endswith(".parquet") for f in os.listdir(target_dir)
        ):
            merged = merge_upsert(sess.read.parquet(target_dir), batch, keys)
        else:
            merged = batch
        tmp = target_dir.rstrip("/") + ".tmp"
        merged.write.mode("overwrite").parquet(tmp)
        if os.path.isdir(target_dir):
            shutil.rmtree(target_dir)
        os.rename(tmp, target_dir)

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    (
        reader.parquet(src_dir)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
