"""The multiprobe's sizing surface: the exact candidate count, the
auditable resolution (``mp_mode_report``, the same code path as the
operator), the per-pass readings of an eager chunked run, and the
signals for a budget that is given but never consulted.
"""

from __future__ import annotations

import warnings as _warnings

import pytest
from pyspark.sql import functions as F

import canadiannewsdatapipeline_spark.operators.similarity as sim
from canadiannewsdatapipeline_spark.operators.similarity import (
    PLAN_SIZE_UNKNOWN,
    PROD_NEAR_DUP_MP,
    _MP_CANDIDATE_ROW_BYTES,
    _as_double,
    _mp_exact_candidate_count,
    _mp_k_from_estimate,
    _MpSizingFeedback,
    ann_lsh_multiprobe_pairs,
    mp_mode_report,
)
from canadiannewsdatapipeline_spark.sources.registry import load_table

SF_DIR = "/root/testdata/sf0.001"
THRESHOLD = 0.4
MB = 1024 * 1024
ARGS = dict(pool=252, n_bits=12, n_tables=8, probe_radius=1, hamming_max=112)


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings")


def _rows(emb, **kw):
    return {
        tuple(r)
        for r in ann_lsh_multiprobe_pairs(
            emb, "vec_id", "embedding", THRESHOLD, **{**ARGS, **kw}
        ).collect()
    }


def _clean(emb):
    return emb.filter(
        F.col("embedding").isNotNull()
        & ~F.exists(F.col("embedding"), lambda x: x.isNull())
    ).select(F.col("vec_id").alias("id"), _as_double("embedding").alias("v"))


# ---------------------------------------------------------------------------
# 1. the pass readings
# ---------------------------------------------------------------------------


def _fake_tracker(monkeypatch, readings):
    it = iter(readings)
    monkeypatch.setattr(
        sim,
        "_stage_shuffle_write_bytes",
        lambda sc, group=None: {} if group is None else next(it),
    )


def test_feedback_disarms_on_eviction_rollback(monkeypatch):
    """A negative delta means the status store evicted stages
    (spark.ui.retainedStages) — a stale reading is worse than none,
    so the hook disarms instead of reporting garbage."""
    sim.LAST_MP_SIZING_REPORT = None
    _fake_tracker(monkeypatch, [{1: 1000 * MB}, {1: 500 * MB}, {1: 600 * MB}])
    fb = _MpSizingFeedback(None, 8, "g")
    fb.after_pass(4)  # rollback -> disarm
    fb.after_pass(4)  # must not even read the tracker again
    fb.finish()
    assert sim.LAST_MP_SIZING_REPORT is None


def test_feedback_disarms_when_tracker_unavailable(monkeypatch):
    sim.LAST_MP_SIZING_REPORT = None
    monkeypatch.setattr(
        sim, "_stage_shuffle_write_bytes", lambda sc, group=None: None
    )
    fb = _MpSizingFeedback(None, 8, "g")
    fb.after_pass(4)
    fb.finish()
    assert sim.LAST_MP_SIZING_REPORT is None


def test_feedback_records_on_real_eager_run(spark, emb):
    """A real eager chunked run records genuinely observed per-pass
    bytes (the status-store path, not a fake); explicit-K runs record
    too, and never re-pack."""
    sim.LAST_MP_SIZING_REPORT = None
    with _warnings.catch_warnings():
        _warnings.simplefilter("error", RuntimeWarning)
        n = ann_lsh_multiprobe_pairs(
            emb, "vec_id", "embedding", THRESHOLD,
            n_tables=8, broadcast_corpus=False, tables_per_pass=3,
        ).count()
    assert n > 0
    rep = sim.LAST_MP_SIZING_REPORT
    assert rep is not None
    assert [p["tables"] for p in rep["passes"]] == [3, 3, 2]
    assert all(p["observed_bytes"] > 0 for p in rep["passes"])
    assert rep["adaptive"] is False and rep["repack"] is None


# ---------------------------------------------------------------------------
# 2. mp_mode_report — the auditable resolution
# ---------------------------------------------------------------------------


def test_mode_report_broadcast_regime(emb):
    rep = mp_mode_report(emb, "vec_id", "embedding")
    assert rep["regime"] == "broadcast"
    assert rep["broadcast_corpus"] is True
    assert 0 < rep["input_bytes"] <= rep["broadcast_gate_bytes"]
    assert rep["tables_per_pass"] is None
    assert rep["n_passes"] == 1
    assert rep["est_pass_bytes"] is None
    assert rep["budget_consulted"] is False


def test_mode_report_single_pass_shuffle(emb):
    """Zero-knob shuffle tier at sf0.001: the exact count fits the
    32 GiB default budget with headroom -> single pass."""
    rep = mp_mode_report(emb, "vec_id", "embedding", broadcast_corpus=False)
    assert rep["regime"] == "single-pass-shuffle"
    assert rep["budget_consulted"] is True
    assert rep["disk_budget_bytes"] == sim.MP_DISK_BUDGET_BYTES
    assert 0 < rep["est_stream_bytes"] <= rep["disk_budget_bytes"]
    assert rep["est_pass_bytes"] == rep["est_stream_bytes"]
    assert rep["tables_per_pass"] is None and rep["pilot_tables"] is None


def test_mode_report_chunked_matches_the_sizer(emb):
    """A budget below the count flips the report to chunked passes
    with EXACTLY the K the packer computes, and the operator then
    runs that plan: its first pass is the reported one."""
    probe = mp_mode_report(
        emb, "vec_id", "embedding", broadcast_corpus=False, n_tables=8
    )
    est = probe["est_stream_bytes"]
    budget = est // 3
    rep = mp_mode_report(
        emb, "vec_id", "embedding", broadcast_corpus=False, n_tables=8,
        disk_budget_bytes=budget,
    )
    assert rep["regime"] == "chunked-shuffle"
    assert rep["est_stream_bytes"] == est
    k = _mp_k_from_estimate(est, 8, budget)
    assert rep["tables_per_pass"] == k > 1
    assert rep["pilot_tables"] == 1  # max(1, k // 8)
    assert rep["est_pass_bytes"] <= budget + est / 8 + 1
    plan = [1] + [min(k, 8 - lo) for lo in range(1, 8, k)]
    assert rep["n_passes"] == len(plan)
    sim.LAST_MP_SIZING_REPORT = None
    assert ann_lsh_multiprobe_pairs(
        emb, "vec_id", "embedding", THRESHOLD, **ARGS,
        broadcast_corpus=False, disk_budget_bytes=budget,
    ).count() > 0
    ran = sim.LAST_MP_SIZING_REPORT
    assert ran["est_stream_bytes"] == est
    # sub-floor readings never re-pack: the run is the reported plan
    assert [p["tables"] for p in ran["passes"]] == plan


def test_mode_report_accepts_preset_splat(emb):
    rep = mp_mode_report(emb, "vec_id", "embedding", **PROD_NEAR_DUP_MP)
    assert rep["regime"] == "broadcast"


def test_mode_report_validates_like_the_operator(emb):
    """A knob value the operator rejects raises the identical named
    error from the report — an operator can dry-run a config."""
    with pytest.raises(ValueError, match="tables_per_pass"):
        mp_mode_report(emb, "vec_id", "embedding", tables_per_pass=0)
    with pytest.raises(ValueError, match="disk_budget_bytes"):
        mp_mode_report(
            emb, "vec_id", "embedding", broadcast_corpus=False,
            disk_budget_bytes=0,
        )


# ---------------------------------------------------------------------------
# 3. the exact candidate count
# ---------------------------------------------------------------------------


def test_exact_candidate_count_matches_the_real_candidate_stream(
    spark, emb
):
    """The counting job must return EXACTLY the number of
    (pair, table, probe) rows the real pipeline's candidate join
    generates pre-screen (id_a < id_b population). Rebuild that
    stream independently from the operator's own signature stage and
    compare counts."""
    from canadiannewsdatapipeline_spark.operators.similarity import (
        _mp_signature_gen,
        _probe_masks,
    )

    cfg = dict(pool=252, n_bits=12, n_tables=8, probe_radius=1, dim=64)
    e = _clean(emb)
    got = _mp_exact_candidate_count(e, **cfg)

    n_words = cfg["pool"] // 63
    sig_schema = (
        "id long, "
        + ", ".join(f"w{m} long" for m in range(n_words))
        + ", bk array<long>"
    )
    sigs = e.mapInPandas(
        _mp_signature_gen(
            cfg["pool"], cfg["n_bits"], cfg["n_tables"], cfg["dim"]
        ),
        sig_schema,
    )
    homes = sigs.select("id", F.posexplode("bk").alias("tbl", "bucket"))
    masks = _probe_masks(cfg["n_bits"], cfg["probe_radius"])
    mask_arr = F.expr("array(" + ",".join(str(m) for m in masks) + ")")
    probes = homes.select(
        F.col("id").alias("id_a"),
        "tbl",
        F.explode(mask_arr).alias("mask"),
        "bucket",
    ).select(
        "id_a",
        "tbl",
        F.col("bucket").bitwiseXOR(F.col("mask")).alias("bucket"),
    )
    want = (
        probes.join(
            homes.select(F.col("id").alias("id_b"), "tbl", "bucket"),
            ["tbl", "bucket"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .count()
    )
    assert got == want
    assert got > 0


def test_data_sizing_resolves_from_the_exact_count(emb):
    """The shuffle tier sizes from the exact count: est_stream_bytes
    == count x 70 B, and a budget below it chunks."""
    cfg = dict(pool=252, n_bits=12, n_tables=8, probe_radius=1, dim=64)
    count = _mp_exact_candidate_count(_clean(emb), **cfg)
    rep = mp_mode_report(
        emb, "vec_id", "embedding", n_tables=8, broadcast_corpus=False,
    )
    assert rep["est_stream_bytes"] == count * _MP_CANDIDATE_ROW_BYTES
    tight = mp_mode_report(
        emb, "vec_id", "embedding", n_tables=8, broadcast_corpus=False,
        disk_budget_bytes=max(rep["est_stream_bytes"] // 3, 1),
    )
    assert tight["regime"] == "chunked-shuffle"


def test_data_sizing_output_identical(emb):
    """Budget-sized chunking is a slicing change only — pairs AND
    cosines match the broadcast default bit-for-bit."""
    base = _rows(emb, broadcast_corpus=True)
    assert base == _rows(emb, broadcast_corpus=False, disk_budget_bytes=1024)
    assert len(base) > 0


def test_auto_sentinel_runs_the_stats_free_count(emb, monkeypatch):
    """Catalyst stats unreachable: the gate fails toward shuffle, and
    the sizing still has everything it needs — the exact count reads
    no Catalyst stats."""
    monkeypatch.setattr(
        sim, "_plan_size_bytes", lambda df: PLAN_SIZE_UNKNOWN
    )
    fake_count = 10_000_000
    monkeypatch.setattr(
        sim, "_mp_exact_candidate_count", lambda *a, **kw: fake_count
    )
    rep = mp_mode_report(
        emb, "vec_id", "embedding", disk_budget_bytes=16 * MB,
    )
    assert rep["broadcast_corpus"] is False
    assert rep["input_bytes"] is None
    assert rep["est_stream_bytes"] == fake_count * _MP_CANDIDATE_ROW_BYTES
    assert rep["regime"] == "chunked-shuffle"


def test_auto_sentinel_end_to_end_output_equal(emb, monkeypatch):
    """The same through a REAL run: with Catalyst stats gone and a
    tiny budget, the default counts, chunks eagerly, executes, and
    produces pairs bit-identical to the broadcast default."""
    want = _rows(emb)
    monkeypatch.setattr(
        sim, "_plan_size_bytes", lambda df: PLAN_SIZE_UNKNOWN
    )
    got = _rows(emb, disk_budget_bytes=1024)
    assert got == want
    assert len(got) > 0


# ---------------------------------------------------------------------------
# 4. a budget given but not consulted is signaled
# ---------------------------------------------------------------------------


def test_unconsulted_budget_warns_under_explicit_k(emb):
    with pytest.warns(RuntimeWarning, match="not consulted"):
        mp_mode_report(
            emb, "vec_id", "embedding", broadcast_corpus=False,
            tables_per_pass=4, disk_budget_bytes=1,
        )


def test_unconsulted_budget_warns_in_broadcast_mode(emb):
    with pytest.warns(RuntimeWarning, match="broadcast mode"):
        mp_mode_report(emb, "vec_id", "embedding", disk_budget_bytes=1)


def test_unconsulted_knobs_silent_when_consulted(emb):
    with _warnings.catch_warnings():
        _warnings.simplefilter("error")
        mp_mode_report(
            emb, "vec_id", "embedding", broadcast_corpus=False,
            disk_budget_bytes=1024,
        )
