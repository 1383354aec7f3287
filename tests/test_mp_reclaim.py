"""Deterministic inter-pass shuffle reclamation, and what an eager
chunked run leaves behind.

An eager loop that only nudged the JVM (System.gc()) and hoped
ContextCleaner's async queue drained before the next pass wrote its
files let bit-identical twin runs peak at 6.45 GB vs 3.67 GB under a
4 GiB budget (SCALE_LADDER_PILOT_TAX_r11.json). These tests pin the
replacement: blocking ContextCleaner.doCleanupShuffle on the pass's
shuffle ids, with the async nudge (plus a one-time soft-budget
warning) as the fallback — and the run's release of its signature
cache once every pass is checkpointed.
"""

from __future__ import annotations

import warnings as _warnings

import pytest
from pyspark.sql import functions as F

import canadiannewsdatapipeline_spark.operators.similarity as sim
from canadiannewsdatapipeline_spark.operators.similarity import (
    _live_shuffle_ids,
    _reclaim_shuffles,
    _ShuffleReclaimer,
    ann_lsh_multiprobe_pairs,
)
from canadiannewsdatapipeline_spark.sources.registry import load_table

SF_DIR = "/root/testdata/sf0.001"
THRESHOLD = 0.4


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings")


def test_live_ids_grow_and_blocking_reclaim_drains(spark):
    """A shuffle job registers ids with the MapOutputTrackerMaster;
    blocking reclamation removes exactly the diff and the census
    reflects it immediately (this is the determinism the disk budget
    now rests on)."""
    sc = spark.sparkContext
    before = _live_shuffle_ids(sc)
    assert before is not None  # internals reachable on this Spark
    out = (
        spark.range(0, 200_000)
        .withColumn("k", F.col("id") % 97)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    assert out.count() == 97
    after = _live_shuffle_ids(sc)
    new = after - before
    assert len(new) >= 1
    cleaned = _reclaim_shuffles(sc, before)
    assert cleaned == len(new)
    drained = _live_shuffle_ids(sc)
    assert drained & new == frozenset()
    # the checkpointed result is lineage-free: still readable
    assert out.count() == 97


def test_eager_chunked_run_reclaims_every_pass(spark, emb):
    """An eager chunked multiprobe run must reclaim deterministically
    after EVERY pass and say so in the sizing report."""
    sim.LAST_MP_SIZING_REPORT = None
    pairs = ann_lsh_multiprobe_pairs(
        emb, "vec_id", "embedding", THRESHOLD, n_tables=8,
        broadcast_corpus=False, tables_per_pass=3,
    )
    assert pairs.count() > 0
    rep = sim.LAST_MP_SIZING_REPORT
    assert rep is not None
    assert rep["reclaim"]["deterministic"] is True
    counts = rep["reclaim"]["cleaned_per_pass"]
    assert len(counts) == 3  # ceil(8/3) passes
    assert all(isinstance(c, int) and c >= 1 for c in counts)


def test_reclaim_fallback_warns_once_and_run_completes(
    spark, emb, monkeypatch
):
    """Internals unreachable -> the run degrades to the r11 async
    nudge, warns ONCE that the budget is soft, and still produces the
    same pairs."""
    monkeypatch.setattr(sim, "_live_shuffle_ids", lambda sc: None)
    sim.LAST_MP_SIZING_REPORT = None
    with _warnings.catch_warnings(record=True) as w:
        _warnings.simplefilter("always")
        pairs = ann_lsh_multiprobe_pairs(
            emb, "vec_id", "embedding", THRESHOLD, n_tables=8,
            broadcast_corpus=False, tables_per_pass=3,
        )
        n = pairs.count()
    assert n > 0
    soft = [x for x in w if "soft" in str(x.message)]
    assert len(soft) == 1  # once per run, not once per pass
    rep = sim.LAST_MP_SIZING_REPORT
    assert rep["reclaim"]["deterministic"] is False
    assert rep["reclaim"]["cleaned_per_pass"] == [None, None, None]


def test_reclaimer_skips_sweep_under_foreign_jobs(spark, monkeypatch):
    """Concurrency safety (found by the r10 concurrent-reports test):
    sweeping ids registered during a pass window can delete an
    in-flight sibling job's shuffle and exhaust its stage retries.
    With foreign jobs active the reclaimer must NOT sweep — async
    nudge, one concurrency warning, None recorded — and must
    re-snapshot so the foreign window's ids never enter a later
    diff."""
    sc = spark.sparkContext
    monkeypatch.setattr(sim, "_foreign_jobs_active", lambda sc, g: True)
    swept = []
    monkeypatch.setattr(
        sim, "_reclaim_shuffle_ids",
        lambda sc, ids: swept.append(ids) or 0,
    )
    r = _ShuffleReclaimer(sc, job_group="me")
    with _warnings.catch_warnings(record=True) as w:
        _warnings.simplefilter("always")
        assert r.after_pass() is None
        assert r.after_pass() is None
    assert swept == []  # never swept
    msgs = [x for x in w if "concurrent jobs" in str(x.message)]
    assert len(msgs) == 1
    assert r.cleaned_per_pass == [None, None]
    assert r._snapshot is not None  # re-snapshotted, not disarmed


def test_reclaimer_disarms_cleanly_on_transient_census_failure(
    spark, monkeypatch
):
    """r12 review finding #1: a transient _foreign_job_ids failure
    used to null the foreign census but re-arm the shuffle snapshot,
    so the NEXT pass crashed on `frozenset - None`. The tri-state
    form must disarm for the rest of the run instead — None recorded,
    no exception, generic unavailability warning once."""
    sc = spark.sparkContext
    r = _ShuffleReclaimer(sc, job_group="me")
    assert r._snapshot is not None
    monkeypatch.setattr(sim, "_foreign_job_ids", lambda sc, g: None)
    with _warnings.catch_warnings(record=True) as w:
        _warnings.simplefilter("always")
        assert r.after_pass() is None   # degrades, must not raise
        assert r.after_pass() is None   # stays disarmed, must not raise
    assert r._snapshot is None
    assert r.cleaned_per_pass == [None, None]
    assert len([x for x in w if "soft" in str(x.message)]) == 1


def test_reclaimer_never_sweeps_persisted_lineage(spark):
    """r12 review finding #4: a shuffle reachable from a live
    persisted RDD lineage must survive the sweep — cache eviction (or
    executor loss on a cluster) recomputes through it, and the
    ContextCleaner behavior the sweep replaces only ever deleted
    UNREFERENCED shuffles."""
    from canadiannewsdatapipeline_spark.operators.similarity import (
        _persisted_shuffle_ids,
        _reclaim_shuffle_ids,
    )

    sc = spark.sparkContext
    before = _live_shuffle_ids(sc)
    cached = (
        spark.range(0, 100_000)
        .withColumn("k", F.col("id") % 53)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .persist()
    )
    assert cached.count() == 53  # materialize: registers the shuffle
    after = _live_shuffle_ids(sc)
    new = after - before
    assert len(new) >= 1
    keep = _persisted_shuffle_ids(sc)
    assert keep is not None
    # the cache-BUILD shuffle is recognized as referenced; the count
    # job's own aggregation exchange (downstream of the cache) is
    # genuinely unreferenced and stays sweepable
    referenced = new & keep
    assert len(referenced) >= 1
    # a reclaimer-style sweep of (window - keep) must leave every
    # referenced shuffle registered
    swept = _reclaim_shuffle_ids(sc, new - keep)
    assert swept == len(new - keep)
    assert _live_shuffle_ids(sc) >= referenced  # still registered
    cached.unpersist(blocking=True)
    # once unreferenced, the same sweep may proceed
    assert _reclaim_shuffle_ids(sc, referenced) == len(referenced)


def test_reclaimer_unit_fallback_path(spark, monkeypatch):
    """_ShuffleReclaimer degrades per-pass: a mid-run internals
    failure flips to the nudge and records None for that pass."""
    sc = spark.sparkContext
    r = _ShuffleReclaimer(sc)
    assert r._snapshot is not None
    monkeypatch.setattr(sim, "_reclaim_shuffle_ids", lambda sc, ids: None)
    with _warnings.catch_warnings(record=True) as w:
        _warnings.simplefilter("always")
        assert r.after_pass() is None
        assert r.after_pass() is None
    assert len([x for x in w if "soft" in str(x.message)]) == 1
    assert r.cleaned_per_pass == [None, None]


def _cached_frames(spark) -> int:
    """Persisted RDDs other than checkpoint blocks (each eager pass's
    localCheckpoint is itself a persisted RDD — the result reads it)."""
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    n = 0
    while it.hasNext():
        n += not getattr(it.next(), "_2")().isCheckpointed()
    return n


def test_eager_chunked_run_releases_signature_cache(spark, emb):
    """Once every pass is checkpointed nothing reads the persisted
    signatures, so an eager chunked call must release them: after the
    call and its result are consumed, the only caches it added are the
    exact-dup cascade's two frames (groups, mapping), which the lazy
    result still reads. (A filter no other test uses keeps those two
    frames from matching a cache an earlier test left behind.)"""
    before = _cached_frames(spark)
    pairs = ann_lsh_multiprobe_pairs(
        emb.filter(F.col("vec_id") != -7919), "vec_id", "embedding",
        THRESHOLD, n_tables=8, broadcast_corpus=False, tables_per_pass=3,
    )
    assert pairs.count() > 0
    assert _cached_frames(spark) - before <= 2
