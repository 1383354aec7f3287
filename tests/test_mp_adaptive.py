"""The multiprobe's measured re-pack, its job-group-scoped readings
(``_stage_shuffle_write_bytes``: a concurrent job in the same session
never reaches a pass delta; stages that predate the group are
excluded), and the per-run report slots. A budget-sized chunked run
leads with a 1/8-size first pass; when that pass's measured bytes
per table project the next pass past the budget, the REMAINING tables
are packed with the sizer's K rule — finer only, never coarser.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import canadiannewsdatapipeline_spark.operators.similarity as sim
from canadiannewsdatapipeline_spark.operators.similarity import (
    _mp_k_from_estimate,
    _MpSizingFeedback,
    ann_lsh_multiprobe_pairs,
    mp_mode_report,
)
from canadiannewsdatapipeline_spark.sources.registry import load_table

SF_DIR = "/root/testdata/sf0.001"
THRESHOLD = 0.4
MB = 1024 * 1024


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings")


def _fake_group_tracker(monkeypatch, readings, group="g"):
    """Cumulative group readings, one per read; the arm-time snapshot
    (group=None) sees no stages."""
    it = iter(readings)

    def fake(sc, g=None):
        if g is None:
            return {}
        assert g == group
        return {0: next(it)}

    monkeypatch.setattr(sim, "_stage_shuffle_write_bytes", fake)


def _feedback(budget=None, n_tables=32, group="g", **kw):
    return _MpSizingFeedback(
        None, n_tables, group, disk_budget_bytes=budget, **kw
    )


# ---------------------------------------------------------------------------
# 1. repack() — Spark-free decision pins (faked pass readings)
# ---------------------------------------------------------------------------


def test_resize_triggers_on_measured_drift(monkeypatch):
    """A first-pass rate that projects the next pass past the budget
    packs the remaining tables with the SAME K rule the sizer used,
    fed the measurement."""
    budget = 256 * MB
    # first pass of 2 tables observed at 200 MB -> 100 MB/table; the
    # next 8-table pass projects to 800 MB >> 256 MB
    _fake_group_tracker(monkeypatch, [0, 200 * MB])
    fb = _feedback(budget)
    fb.after_pass(2)
    new_k = fb.repack(remaining_tables=30, current_k=8)
    # 30 * 100 MB = 3000 MB -> 12 passes -> K = 3
    assert new_k == _mp_k_from_estimate(30 * 100 * MB + 1, 30, budget) == 3
    fb.finish()
    rep = sim.LAST_MP_SIZING_REPORT
    assert rep["adaptive"] is True
    assert rep["disk_budget_bytes"] == budget
    assert rep["repack"] == {
        "measured_bytes_per_table": 100 * MB,
        "old_tables_per_pass": 8,
        "new_tables_per_pass": 3,
        "remaining_tables": 30,
    }


def test_resize_fit_reproduces_r11_pilot_tax_convergence(monkeypatch):
    """The r11 pilot-tax numbers: pilot 5 tables -> 882 MB (176 MB/t,
    floor-inflated), then full 23-table passes at 3369 MB. The re-pack
    reads the first pass only: 40 -> 23 once, and no later pass can
    push the run one step finer (the over-fine second re-chunk a flat
    rate re-read after every pass used to cause) — the run converges
    at K=23 inside the 4 GiB budget."""
    budget = 4 * 1024 * MB
    _fake_group_tracker(monkeypatch, [0, 882 * MB, (882 + 3369) * MB])
    fb = _feedback(budget, n_tables=160, pilot_tables=5)
    fb.after_pass(5)
    assert fb.repack(remaining_tables=155, current_k=40) == 23
    fb.after_pass(23)
    assert fb._passes[1]["observed_bytes"] <= budget
    assert fb.repack(remaining_tables=132, current_k=23) is None


def test_resize_never_coarsens(monkeypatch):
    """A LOW measured rate must not pack coarser: staying fine costs
    pass barriers, coarsening on a lucky pass meets the disk wall."""
    _fake_group_tracker(monkeypatch, [0, 70 * MB])
    fb = _feedback(256 * MB)
    fb.after_pass(4)  # 17.5 MB/table: the next 4-table pass fits
    assert fb.repack(remaining_tables=28, current_k=4) is None
    # even when the projection breaches, a K rule answer that is not
    # strictly finer than the current K is declined
    _fake_group_tracker(monkeypatch, [0, 300 * MB])
    fb = _feedback(256 * MB)
    fb.after_pass(1)
    assert fb.repack(remaining_tables=28, current_k=1) is None


def test_resize_ignores_floor_noise(monkeypatch):
    """A first pass below MP_SIZING_FEEDBACK_MIN_BYTES is dominated by
    fixed per-pass floors (~0.9 MB on sf0.001 passes) — its apparent
    per-table rate is not evidence and must not re-pack."""
    _fake_group_tracker(monkeypatch, [0, 2 * MB])
    fb = _feedback(1 * MB)
    fb.after_pass(1)
    # 2 MB/table vs a 1 MB budget LOOKS like it must re-pack
    assert fb.repack(remaining_tables=30, current_k=4) is None


def test_resize_inert_without_budget(monkeypatch):
    """No consulted budget (explicit tables_per_pass) -> the readings
    are recorded, the plan never changes."""
    _fake_group_tracker(monkeypatch, [0, 500 * MB])
    fb = _feedback(None)
    fb.after_pass(2)
    assert fb.repack(remaining_tables=30, current_k=8) is None
    fb.finish()
    assert sim.LAST_MP_SIZING_REPORT["adaptive"] is False
    assert sim.LAST_MP_SIZING_REPORT["repack"] is None


def test_resize_cannot_subdivide_single_table(monkeypatch):
    """remaining_tables=1 cannot be split: no re-pack even under
    measured drift (the K rule's n_tables=1 contract)."""
    _fake_group_tracker(monkeypatch, [0, 500 * MB])
    fb = _feedback(64 * MB)
    fb.after_pass(2)
    assert fb.repack(remaining_tables=1, current_k=2) is None


def test_k_rule_byte_drift_guard():
    """Single-pass only with MP_BYTE_DRIFT_GUARD headroom: estimates
    inside [budget/2, budget] pack a minimal 2-pass plan; comfortable
    fits stay single-pass; interior K is guard-independent."""
    budget = 2 * 1024**3
    assert sim.MP_BYTE_DRIFT_GUARD == 2.0
    # the measured NC=256 failure: exact 1.59 GB "fit" 2 GiB, a
    # single pass shuffled 2.26 GB (r10) -> minimal chunk
    assert _mp_k_from_estimate(1_593_224_080, 160, budget) == 80
    # the NC=1024 rung: exact 1.01 GB x 2.0 fits, single pass shuffled
    # 1.96 GB (observed/exact 1.93, r12) — inside the budget
    assert _mp_k_from_estimate(1_011_712_660, 160, budget) is None
    assert _mp_k_from_estimate(13 * 1024**3, 160, 32 * 1024**3) is None
    # interior pins: the measured r9 exact-count points
    assert _mp_k_from_estimate(13_391_046_060, 160, budget) == 23
    # n_tables=1 cannot chunk, even in the guard zone
    assert _mp_k_from_estimate(budget, 1, budget) is None


def test_measured_r10_boundaries_pin():
    """Spark-free replays of measured decisions: the clustered x2
    exact count (5.94 GB at 2 GiB) packs 3x54, and the x30 first
    pass's measured 1.46 GB/table packs the remaining 155 tables to
    exactly the K=23 the run executed (SCALE_LADDER_X30_AUTO_r10)."""
    assert _mp_k_from_estimate(5_943_649_180, 160, 2 * 1024**3) == 54
    assert _mp_k_from_estimate(
        1_456_943_750 * 155 + 1, 155, 32 * 1024**3
    ) == 23


# ---------------------------------------------------------------------------
# 2. job-group scoping — concurrency-safe readings
# ---------------------------------------------------------------------------


def test_group_scoped_hook_ignores_foreign_shuffle(monkeypatch):
    """The hook reads ONLY its own group's stages (the fake fails on
    any other group): a concurrent job's shuffle never reaches a pass
    delta, so it cannot force a re-pack."""
    _fake_group_tracker(monkeypatch, [0, 100 * MB, 200 * MB], group="run-1")
    fb = _feedback(110 * MB, n_tables=8, group="run-1")
    fb.after_pass(4)
    assert fb.repack(remaining_tables=4, current_k=4) is None
    fb.after_pass(4)
    fb.finish()
    rep = sim.LAST_MP_SIZING_REPORT
    assert rep["job_group"] == "run-1"
    assert rep["observed_total_bytes"] == 200 * MB


def test_group_shuffle_bytes_excludes_foreign_jobs(spark):
    """Real-Spark pin of the scoping claim: shuffle run under group G
    is counted; a foreign job's shuffle (no group) must not move G's
    total, while the app-wide view sees it."""
    sc = spark.sparkContext

    def total(group=None):
        stages = sim._stage_shuffle_write_bytes(sc, group)
        assert stages is not None
        return sum(stages.values())

    group = "test-scope-group-xyz"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        spark.range(200_000).withColumn(
            "k", F.col("id") % 7
        ).groupBy("k").count().collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    mine = total(group)
    assert mine > 0
    before = total()
    spark.range(300_000).withColumn(
        "k", F.col("id") % 5
    ).groupBy("k").count().collect()
    assert total(group) == mine
    assert total() > before


def test_group_reading_excludes_snapshotted_stages(spark):
    """A stage id listed by a group job but already present in the
    status store at arm time was (at least partly) written BEFORE the
    group existed — the hook subtracts the arm-time snapshot.
    Sequentially, Spark re-creates skipped stages under fresh ids with
    zero recorded bytes, so this pins the mechanism on real py4j
    objects: a pre-group snapshot never contains the group's own new
    stages, and excluding a group stage's id drops its bytes."""
    from operator import add

    sc = spark.sparkContext
    rdd = (
        sc.parallelize(range(200_000), 8)
        .map(lambda x: (x % 7, 1))
        .reduceByKey(add)
    )
    assert rdd.count() == 7  # pre-group: materializes the shuffle
    snapshot = frozenset(sim._stage_shuffle_write_bytes(sc) or ())
    assert snapshot, "status store must be reachable in this test"
    group = "skip-exclusion-test-group"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        assert rdd.count() == 7  # reuses the pre-group shuffle
        assert (
            sc.parallelize(range(100_000), 8)
            .map(lambda x: (x % 5, 1))
            .reduceByKey(add)
            .count()
            == 5
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    stages = sim._stage_shuffle_write_bytes(sc, group)
    raw = sum(stages.values())
    excl = sum(b for s, b in stages.items() if s not in snapshot)
    assert raw > 0
    assert excl == raw  # the snapshot holds no group stage
    assert not set(stages) & snapshot


def test_feedback_init_snapshots_and_threads_the_exclusion(monkeypatch):
    """The hook snapshots the store at arm time and drops those stage
    ids from every group read (Spark-free pin of the wiring)."""
    calls = []

    def fake(sc, g=None):
        calls.append(g)
        if g is None:
            return {3: 5 * MB, 7: 5 * MB}
        return {3: 5 * MB, 7: 5 * MB, 9: len(calls) * MB}

    monkeypatch.setattr(sim, "_stage_shuffle_write_bytes", fake)
    fb = _feedback(n_tables=4)
    fb.after_pass(2)
    fb.after_pass(2)
    assert calls == [None, "g", "g", "g"]
    assert [p["observed_bytes"] for p in fb._passes] == [MB, MB]


# ---------------------------------------------------------------------------
# 3. resolution + executor: pilot, explicit K, re-pack end to end
# ---------------------------------------------------------------------------


def test_resolution_pilot_on_data_sizing_too(emb, monkeypatch):
    """A budget-sized chunked plan leads with the 1/8 first pass (the
    r12 no-pilot control breached its first pass 5.43 GB vs 4 GiB),
    and the pass count includes it."""
    monkeypatch.setattr(
        sim, "_mp_exact_candidate_count", lambda *a, **kw: 10_000_000
    )
    rep = mp_mode_report(
        emb, "vec_id", "embedding", broadcast_corpus=False,
        disk_budget_bytes=16 * MB,
    )
    assert rep["regime"] == "chunked-shuffle"
    assert rep["adaptive"] is True
    k = rep["tables_per_pass"]
    assert rep["pilot_tables"] == max(1, k // sim.MP_PILOT_DIVISOR)
    assert rep["pilot_tables"] < k
    assert rep["n_passes"] == -(-(160 - rep["pilot_tables"]) // k) + 1


def test_resolution_not_adaptive_with_explicit_k(emb):
    """An explicit tables_per_pass never consulted the budget: no
    pilot, no re-pack against a budget the caller didn't give."""
    with pytest.warns(RuntimeWarning, match="not consulted"):
        rep = mp_mode_report(
            emb, "vec_id", "embedding", broadcast_corpus=False,
            tables_per_pass=3, disk_budget_bytes=8 * MB,
        )
    assert rep["adaptive"] is False
    assert rep["pilot_tables"] is None
    assert rep["n_passes"] == 54


def test_adaptive_run_rechunks_and_stays_exact(emb, monkeypatch):
    """Drive the REAL chunked executor through a pilot + re-pack with
    deterministic faked readings (10 MB/table against a 512 KB budget)
    and assert (a) the pass ledger shows pilot -> re-pack -> finer
    passes, (b) the output stays bit-identical to the broadcast
    reference."""
    args = dict(pool=252, n_bits=12, n_tables=8, probe_radius=1,
                hamming_max=112)
    want = {
        tuple(r)
        for r in ann_lsh_multiprobe_pairs(
            emb, "vec_id", "embedding", THRESHOLD, **args
        ).collect()
    }
    # a faked count of ~1.7 MB vs a 512 KB budget -> 4 passes -> K=2,
    # pilot=1
    budget = 512 * 1024
    monkeypatch.setattr(
        sim, "_mp_exact_candidate_count", lambda *a, **kw: 24_000
    )
    plan = mp_mode_report(
        emb, "vec_id", "embedding", broadcast_corpus=False,
        disk_budget_bytes=budget, n_tables=8,
    )
    assert plan["regime"] == "chunked-shuffle"
    assert plan["pilot_tables"] == 1
    assert plan["tables_per_pass"] == 2
    monkeypatch.setattr(sim, "MP_SIZING_FEEDBACK_MIN_BYTES", 1 * MB)
    state = {"tables": 0}

    def fake_read(sc, group=None):
        return {} if group is None else {0: state["tables"] * 10 * MB}

    monkeypatch.setattr(sim, "_stage_shuffle_write_bytes", fake_read)
    orig_after = sim._MpSizingFeedback.after_pass

    def counting_after(self, tables_in_pass):
        state["tables"] += tables_in_pass
        return orig_after(self, tables_in_pass)

    monkeypatch.setattr(sim._MpSizingFeedback, "after_pass", counting_after)
    sim.LAST_MP_SIZING_REPORT = None
    got = {
        tuple(r)
        for r in ann_lsh_multiprobe_pairs(
            emb, "vec_id", "embedding", THRESHOLD, **args,
            broadcast_corpus=False, disk_budget_bytes=budget,
        ).collect()
    }
    assert got == want and len(got) > 0
    rep = sim.LAST_MP_SIZING_REPORT
    assert rep["adaptive"] is True
    assert rep["pilot_tables"] == 1
    # pilot measured 10 MB/table -> next 2-table pass projects 20 MB
    # > 512 KB -> re-pack the remaining 7 tables to K=1
    assert rep["repack"]["old_tables_per_pass"] == 2
    assert rep["repack"]["new_tables_per_pass"] == 1
    assert [p["tables"] for p in rep["passes"]] == [1] * 8


# ---------------------------------------------------------------------------
# 4. per-run report slots
# ---------------------------------------------------------------------------


def test_concurrent_runs_keep_distinct_reports(spark, emb):
    """Two eager chunked runs racing in one SparkSession each keep
    their own report, keyed by the CALLER's job group;
    LAST_MP_SIZING_REPORT stays as the last-run alias."""
    import threading

    sc = spark.sparkContext
    sim.MP_SIZING_REPORTS.clear()
    errors = []

    def run(tag: str, n_tables: int):
        try:
            prev = sc.getLocalProperty("spark.jobGroup.id")
            sc.setLocalProperty("spark.jobGroup.id", tag)
            try:
                ann_lsh_multiprobe_pairs(
                    emb, "vec_id", "embedding", THRESHOLD,
                    n_tables=n_tables, broadcast_corpus=False,
                    tables_per_pass=3,
                ).count()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", prev)
        except Exception as exc:  # pragma: no cover - surfaced below
            errors.append((tag, exc))

    ta = threading.Thread(target=run, args=("rpt-run-a", 8))
    tb = threading.Thread(target=run, args=("rpt-run-b", 6))
    ta.start(); tb.start(); ta.join(); tb.join()
    assert not errors, errors
    rep_a = sim.MP_SIZING_REPORTS["rpt-run-a"]
    rep_b = sim.MP_SIZING_REPORTS["rpt-run-b"]
    assert rep_a["n_tables"] == 8 and rep_a["caller_group"] == "rpt-run-a"
    assert rep_b["n_tables"] == 6 and rep_b["caller_group"] == "rpt-run-b"
    assert [p["tables"] for p in rep_a["passes"]] == [3, 3, 2]
    assert [p["tables"] for p in rep_b["passes"]] == [3, 3]
    assert sim.LAST_MP_SIZING_REPORT in (rep_a, rep_b)


def _run_report(monkeypatch, tag):
    _fake_group_tracker(monkeypatch, [0, MB], group=f"jg-{tag}")
    fb = _feedback(n_tables=2, group=f"jg-{tag}", caller_group=tag)
    fb.after_pass(2)
    fb.finish()


def test_reports_dict_is_bounded(monkeypatch):
    sim.MP_SIZING_REPORTS.clear()
    for i in range(sim.MP_SIZING_REPORTS_MAX + 5):
        _run_report(monkeypatch, f"c{i}")
    assert len(sim.MP_SIZING_REPORTS) == sim.MP_SIZING_REPORTS_MAX
    assert "c0" not in sim.MP_SIZING_REPORTS  # oldest evicted
    assert f"c{sim.MP_SIZING_REPORTS_MAX + 4}" in sim.MP_SIZING_REPORTS


def test_reports_eviction_tracks_recency(monkeypatch):
    """Overwriting an existing caller-group key moves it to the fresh
    end — eviction drops the stalest report, not a just-updated one."""
    sim.MP_SIZING_REPORTS.clear()
    n = sim.MP_SIZING_REPORTS_MAX
    _run_report(monkeypatch, "etl")  # oldest slot
    for i in range(n - 1):  # fill to capacity
        _run_report(monkeypatch, f"g{i}")
    _run_report(monkeypatch, "etl")  # refresh: moves to the fresh end
    _run_report(monkeypatch, "new")  # evicts ONE entry — g0, not etl
    assert "etl" in sim.MP_SIZING_REPORTS
    assert "g0" not in sim.MP_SIZING_REPORTS
    assert len(sim.MP_SIZING_REPORTS) == n
