from __future__ import annotations

import contextlib
import os
import sys
import uuid

import pytest
from pyspark.sql.streaming import StreamingQueryListener

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from canadiannewsdatapipeline_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("newsflow-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def job_ids(spark):
    """Context manager whose value, once its block exits, lists the ids
    of the Spark jobs the block ran (counted through a job group of its
    own; streaming queries run under their own groups)."""

    @contextlib.contextmanager
    def scope():
        sc = spark.sparkContext
        group = f"test-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        ids: list[int] = []
        try:
            yield ids
        finally:
            ids.extend(sc.statusTracker().getJobIdsForGroup(group))
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    return scope


class StreamEvents(StreamingQueryListener):
    """Streaming queries started and micro-batches run while attached.
    ``onQueryStarted`` runs before ``start()`` returns; progress events
    arrive on the listener bus, so read ``batches`` after ``flush()``."""

    def __init__(self, spark):
        self.spark = spark
        self.started = 0
        self.batches: list[tuple[int, int]] = []  # (batchId, numInputRows)

    def flush(self) -> None:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def onQueryStarted(self, event):
        self.started += 1

    def onQueryProgress(self, event):
        p = event.progress
        if "addBatch" in p.durationMs:
            self.batches.append((p.batchId, p.numInputRows))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


@pytest.fixture
def stream_events(spark):
    events = StreamEvents(spark)
    spark.streams.addListener(events)
    yield events
    events.flush()
    spark.streams.removeListener(events)
