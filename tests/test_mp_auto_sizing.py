"""Spark-free tests for the multiprobe pass packer
(``_mp_k_from_estimate``): the K = ceil(n_tables / ceil(bytes /
budget)) rule that packs the table list into eager passes, fed the
exact candidate count at sizing time and the first pass's measured
bytes at re-pack time. The datapoints are measured exact counts
(SCALE_LADDER_SKEW_r09.json, SCALE_LADDER_AUTO_DEFAULT_r09.json,
SCALE_LADDER_PILOT_TAX_ONEPATH.json).
"""

from __future__ import annotations

from canadiannewsdatapipeline_spark.operators.similarity import (
    MP_BYTE_DRIFT_GUARD,
    MP_DISK_BUDGET_BYTES,
    _mp_k_from_estimate,
)

X10_EXACT = 9_401_076_370  # fresh-x10 exact count x 70 B
X30_EXACT = 84_462_939_820  # fresh-x30 exact count x 70 B
# the PROD preset (16 tables x 16 bits) at fresh-x100, 200k vectors
PROD_X100_EXACT = 10_019_662_380


def test_x10_fits_single_pass():
    # measured: x10 single-pass shuffle completed (55.0 s, r6)
    assert _mp_k_from_estimate(X10_EXACT, 160, MP_DISK_BUDGET_BYTES) is None


def test_x30_estimate_brackets_the_measured_wall():
    # x30 is past the default budget (its single pass died at >70 GB)
    # and chunks; x10 is not
    assert X10_EXACT <= MP_DISK_BUDGET_BYTES < X30_EXACT
    assert _mp_k_from_estimate(X30_EXACT, 160, MP_DISK_BUDGET_BYTES) == 54


def test_prod_preset_x100_stays_single_pass():
    # measured: prod fresh-x100 single-pass in the shuffle tier at
    # 33.4 s; its exact stream fits the default budget with headroom
    assert _mp_k_from_estimate(PROD_X100_EXACT, 16, MP_DISK_BUDGET_BYTES) is None


def test_monotone_in_input_bytes():
    # more candidate bytes can only chunk finer (smaller or equal K),
    # and the fit/chunk boundary is crossed exactly once
    last_k = None
    seen_chunking = False
    for b in [10**9, PROD_X100_EXACT, 2 * 10**10, X30_EXACT, 10**12, 10**14]:
        k = _mp_k_from_estimate(b, 160, MP_DISK_BUDGET_BYTES)
        if k is None:
            assert not seen_chunking, "fit after chunking started"
        else:
            seen_chunking = True
            if last_k is not None:
                assert k <= last_k
            last_k = k
    assert seen_chunking


def test_tiny_budget_forces_max_chunking():
    # a 1-byte budget cannot produce more passes than tables: K clamps
    # to 1 (one table per pass), never 0 / never an error
    assert _mp_k_from_estimate(X30_EXACT, 160, 1) == 1


def test_huge_budget_never_chunks():
    assert _mp_k_from_estimate(X30_EXACT, 160, 1 << 60) is None


def test_single_table_never_chunks():
    # n_tables=1 cannot be subdivided: even a stream far past the
    # budget resolves to single-pass
    assert _mp_k_from_estimate(X30_EXACT, 1, 1) is None


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(
        est=st.integers(min_value=0, max_value=1 << 50),
        n_tables=st.integers(min_value=1, max_value=4096),
        budget=st.integers(min_value=1, max_value=1 << 45),
    )
    def test_auto_k_honors_budget_within_one_table_slice(
        est, n_tables, budget
    ):
        """The safety property the packer exists for: when it picks
        K, the per-pass stream (est · K / n_tables) exceeds the budget
        by at most one table's slice — K = ceil(n_tables / n_passes)
        rounds at table granularity — and K is usable: 1 <= K <
        n_tables. Single-pass only with the headroom, or when the
        list cannot be subdivided."""
        k = _mp_k_from_estimate(est, n_tables, budget)
        if k is None:
            assert est * MP_BYTE_DRIFT_GUARD <= budget or n_tables == 1
        else:
            assert 1 <= k < n_tables
            assert est * k / n_tables <= budget + est / n_tables + 1

except ImportError:  # pragma: no cover - hypothesis is baked in
    pass


def test_clustered_exact_counts_reproduce_measured_k_r9():
    """r9 skew study (SCALE_LADDER_SKEW_r09.json): on the clustered
    warehouses the exact counts pack to the K values whose measured
    runs held the 2 GiB budget — x2 three 54-table passes (peak
    1.74 GB), x3 seven 23-table passes (peak 2.02 GB). The x1 count
    (1.48 GB) sits inside the single-pass headroom zone and packs a
    minimal 2-pass plan: the r10 NC sweep measured a nearly equal
    count (NC=256, 1.59 GB) whose single pass shuffled 2.26 GB."""
    budget = 2 * 1024**3
    assert _mp_k_from_estimate(1_480_267_670, 160, budget) == 80
    assert _mp_k_from_estimate(5_943_649_180, 160, budget) == 54
    assert _mp_k_from_estimate(13_391_046_060, 160, budget) == 23
