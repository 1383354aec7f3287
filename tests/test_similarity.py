"""Recall properties of the ANN scale paths vs the exact baseline.

The oracle corpus proves hash parity; these tests pin the *quality*
contract: LSH/IVF candidates verified with the exact cosine can only
return true pairs (precision 1.0), and multi-table amplification must
recall strictly more than a single conjunctive table.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from canadiannewsdatapipeline_spark.operators.similarity import (
    ann_ivf_pairs,
    ann_lsh_multitable_pairs,
    cosine_pairs,
)
from canadiannewsdatapipeline_spark.sources.registry import load_table

SF_DIR = "/root/testdata/sf0.001"
THRESHOLD = 0.4


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings")


@pytest.fixture(scope="module")
def truth(emb):
    rows = (
        cosine_pairs(emb, "vec_id", "embedding", THRESHOLD)
        .select("id_a", "id_b")
        .collect()
    )
    return {tuple(r) for r in rows}


def _pairs(df):
    return {tuple(r) for r in df.select("id_a", "id_b").collect()}


def test_lsh_multitable_perfect_precision_and_amplified_recall(emb, truth):
    single = _pairs(
        ann_lsh_multitable_pairs(
            emb, "vec_id", "embedding", THRESHOLD, n_tables=1, n_planes=8
        )
    )
    multi = _pairs(
        ann_lsh_multitable_pairs(
            emb, "vec_id", "embedding", THRESHOLD, n_tables=12, n_planes=5
        )
    )
    assert multi <= truth  # exact verify => no false positives
    assert single <= truth
    assert len(multi) > len(single)  # OR-of-ANDs amplification
    assert len(multi) >= len(truth) // 2  # the whole point of L tables


def test_cascade_equals_direct_pipeline_on_twinned_corpus(spark, emb):
    """ann_lsh_multitable_pairs collapses identical vectors to a
    representative before LSH and expands verified pairs back. On a
    corpus with exact twins (every vector duplicated under fresh ids —
    the shape replication/crawling produces) the output must equal the
    direct bucket-join-then-verify pipeline run over all ids."""
    from canadiannewsdatapipeline_spark.operators.similarity import (
        _as_double,
        _norm2,
        _with_cosine_prenormed,
        lsh_multitable_buckets,
    )

    base = emb.select("vec_id", "embedding")
    twin = base.unionByName(
        base.select((F.col("vec_id") + 10_000).alias("vec_id"), "embedding")
    )

    def direct(e_df, n_tables, n_planes):
        buckets = lsh_multitable_buckets(
            e_df, "vec_id", "embedding", n_tables, n_planes, 64
        )
        e = e_df.select(
            F.col("vec_id").alias("id"), _as_double("embedding").alias("v")
        ).withColumn("sn", F.sqrt(_norm2("v")))
        a = buckets.select(F.col("id").alias("id_a"), "tbl", "bucket")
        b = buckets.select(F.col("id").alias("id_b"), "tbl", "bucket")
        cand = (
            a.join(b, ["tbl", "bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"])
            .join(
                e.withColumnsRenamed(
                    {"id": "id_a", "v": "ea", "sn": "sqrt_na"}
                ),
                "id_a",
            )
            .join(
                e.withColumnsRenamed(
                    {"id": "id_b", "v": "eb", "sn": "sqrt_nb"}
                ),
                "id_b",
            )
        )
        return (
            _with_cosine_prenormed(cand, "ea", "eb")
            .filter(F.col("cos_sim") >= THRESHOLD)
            .select("id_a", "id_b", "cos_sim")
        )

    got = {
        tuple(r)
        for r in ann_lsh_multitable_pairs(
            twin, "vec_id", "embedding", THRESHOLD, n_tables=8, n_planes=4
        ).collect()
    }
    want = {tuple(r) for r in direct(twin, 8, 4).collect()}
    assert got == want
    # twins guarantee within-group pairs exist (cos 1.0 >= threshold)
    assert len(got) > 0


def test_multiprobe_perfect_precision_and_high_recall(emb, truth):
    """The round-5 bit-pool multi-probe path: exact verify means no
    false positives ever; the measured operating point (252-bit pool,
    160x12-bit tables, radius-1 probes, Hamming<=112 screen) recalls
    59/59 at sf0.01 and 97.5% at sf0.1 — at sf0.001 it must stay
    >= 90% of the exact tier."""
    from canadiannewsdatapipeline_spark.operators.similarity import (
        ann_lsh_multiprobe_pairs,
    )

    got = _pairs(ann_lsh_multiprobe_pairs(emb, "vec_id", "embedding", THRESHOLD))
    assert got <= truth
    assert len(got) >= (9 * len(truth)) // 10


def test_multiprobe_cascade_equals_flat_on_twinned_corpus(spark, emb):
    """The exact-dup cascade must be output-invisible for the
    multi-probe pipeline too: on a corpus where every vector has an
    exact twin, the cascaded operator equals the flat pipeline run
    over all ids (identical vectors share every pool bit, bucket,
    probe, and Hamming distance)."""
    from canadiannewsdatapipeline_spark.operators.similarity import (
        _ann_lsh_multiprobe_distinct,
        ann_lsh_multiprobe_pairs,
    )

    base = emb.select("vec_id", "embedding")
    twin = base.unionByName(
        base.select((F.col("vec_id") + 10_000).alias("vec_id"), "embedding")
    )
    args = dict(pool=252, n_bits=12, n_tables=40, probe_radius=1,
                hamming_max=112, dim=64)
    got = {
        tuple(r)
        for r in ann_lsh_multiprobe_pairs(
            twin, "vec_id", "embedding", THRESHOLD, **args
        ).collect()
    }
    want = {
        tuple(r)
        for r in _ann_lsh_multiprobe_distinct(
            twin, "vec_id", "embedding", THRESHOLD,
            args["pool"], args["n_bits"], args["n_tables"],
            args["probe_radius"], args["hamming_max"], args["dim"],
        ).collect()
    }
    assert got == want
    assert len(got) > 0  # twins guarantee within-group pairs


def test_multiprobe_shuffle_mode_output_equal(emb):
    """broadcast_corpus picks a PHYSICAL join shape only (broadcast
    below the size gate, pinned SHUFFLE_HASH above it); the logical
    result — pairs AND cosines — must be bit-identical. Run the same
    operating point in both modes and compare full rows."""
    from canadiannewsdatapipeline_spark.operators.similarity import (
        ann_lsh_multiprobe_pairs,
    )

    args = dict(pool=252, n_bits=12, n_tables=40, probe_radius=1,
                hamming_max=112)
    rows = lambda mode: {  # noqa: E731
        tuple(r)
        for r in ann_lsh_multiprobe_pairs(
            emb, "vec_id", "embedding", THRESHOLD,
            broadcast_corpus=mode, **args
        ).collect()
    }
    bc, sh = rows(True), rows(False)
    assert bc == sh
    assert len(bc) > 0


def test_multiprobe_chunked_passes_output_equal(emb):
    """Chunked pass mode (the above-gate shuffle tier's bounded-disk
    path) is a PHYSICAL reshaping only: slicing the table list into
    eager tables_per_pass passes partitions the candidate set by
    table, and the cross-pass pair-dedup commutes with the per-pass
    one — pairs AND cosines must be bit-identical to the single-pass
    broadcast default."""
    from canadiannewsdatapipeline_spark.operators.similarity import (
        ann_lsh_multiprobe_pairs,
    )

    args = dict(pool=252, n_bits=12, n_tables=8, probe_radius=1,
                hamming_max=112)
    rows = lambda **kw: {  # noqa: E731
        tuple(r)
        for r in ann_lsh_multiprobe_pairs(
            emb, "vec_id", "embedding", THRESHOLD, **args, **kw
        ).collect()
    }
    single = rows(broadcast_corpus=True)
    assert single == rows(broadcast_corpus=False, tables_per_pass=3)
    assert len(single) > 0


def test_multiprobe_eager_passes_truncate_lineage(spark, emb):
    """The eager chunked form's disk bound RELIES on lineage
    truncation: each pass is localCheckpoint'ed, so the returned
    frame's plan must read checkpointed RDD blocks (LogicalRDD scans),
    with no MapInPandas signature stage or SHUFFLE_HASH candidate
    joins left upstream — those belong to the per-pass lineage whose
    shuffle files are reclaimed between passes. If a future edit
    accidentally keeps chunked passes lazy, the full lineage
    reappears here and the peak-disk bound is gone."""
    from canadiannewsdatapipeline_spark.operators.similarity import (
        ann_lsh_multiprobe_pairs,
    )

    df = ann_lsh_multiprobe_pairs(
        emb, "vec_id", "embedding", THRESHOLD, n_tables=8,
        broadcast_corpus=False, tables_per_pass=4,
    )
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    # the cascade's expand joins remain lazy downstream; the pass
    # pipelines themselves must be gone, replaced by RDD scans
    assert "Scan ExistingRDD" in plan
    assert "MapInPandas" not in plan
    assert "ShuffledHashJoin" not in plan


def test_multiprobe_gate_knob_flips_mode(spark, emb):
    """The broadcast gate is cluster-configurable (r6 verdict #2):
    forcing a 0-byte gate — via the argument or via the
    spark.cndp.mp.broadcastMaxInputBytes conf — must flip the auto
    mode to the pinned SHUFFLE_HASH corpus joins; a huge gate must
    keep the broadcast shape. Plan-asserted on the same input."""
    from canadiannewsdatapipeline_spark.operators.similarity import (
        ann_lsh_multiprobe_pairs,
    )

    def plan(**kw):
        df = ann_lsh_multiprobe_pairs(
            emb, "vec_id", "embedding", THRESHOLD, n_tables=8, **kw
        )
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    # argument knob: tiny gate -> all four corpus joins shuffle
    assert plan(broadcast_max_input_bytes=0).count("ShuffledHashJoin") >= 5
    # argument knob: huge gate -> corpus joins broadcast
    assert "BroadcastHashJoin" in plan(broadcast_max_input_bytes=1 << 50)
    # conf knob (read only when neither boolean nor argument is given)
    spark.conf.set("spark.cndp.mp.broadcastMaxInputBytes", "0")
    try:
        assert plan().count("ShuffledHashJoin") >= 5
    finally:
        spark.conf.unset("spark.cndp.mp.broadcastMaxInputBytes")
    assert "BroadcastHashJoin" in plan()


def test_multiprobe_eager_passes_reliable_checkpoint(spark, emb, tmp_path):
    """With a reliable checkpoint dir configured, eager passes must
    checkpoint THERE (pass results survive executor loss on a
    cluster) instead of to executor-local blocks — and the output is
    unchanged. The dir is observable: checkpoint files appear."""
    import os

    from canadiannewsdatapipeline_spark.operators.similarity import (
        ann_lsh_multiprobe_pairs,
    )

    args = dict(pool=252, n_bits=12, n_tables=8, probe_radius=1,
                hamming_max=112)
    want = {
        tuple(r)
        for r in ann_lsh_multiprobe_pairs(
            emb, "vec_id", "embedding", THRESHOLD, **args
        ).collect()
    }
    ckdir = str(tmp_path / "ck")
    spark.sparkContext.setCheckpointDir(ckdir)
    try:
        got = {
            tuple(r)
            for r in ann_lsh_multiprobe_pairs(
                emb, "vec_id", "embedding", THRESHOLD, **args,
                broadcast_corpus=False, tables_per_pass=3,
            ).collect()
        }
    finally:
        # no public unset; point the context back at nothing by
        # clearing the JVM option so later tests see local mode
        # (Scala setter name contains '$' — reach it via getattr)
        getattr(spark.sparkContext._jsc.sc(), "checkpointDir_$eq")(
            spark.sparkContext._jvm.scala.Option.apply(None)
        )
    assert got == want and len(got) > 0
    found = any(files for _, _, files in os.walk(ckdir))
    assert found, "no checkpoint files written under the reliable dir"


def test_multiprobe_knob_validation(spark, emb):
    """Bad knob values fail fast with named errors, not deep in plan
    construction: tables_per_pass < 1 and a non-integer gate conf."""
    from canadiannewsdatapipeline_spark.operators.similarity import (
        ann_lsh_multiprobe_pairs,
    )

    with pytest.raises(ValueError, match="tables_per_pass"):
        ann_lsh_multiprobe_pairs(
            emb, "vec_id", "embedding", THRESHOLD, tables_per_pass=0
        )
    spark.conf.set("spark.cndp.mp.broadcastMaxInputBytes", "lots")
    try:
        with pytest.raises(ValueError, match="broadcastMaxInputBytes"):
            ann_lsh_multiprobe_pairs(emb, "vec_id", "embedding", THRESHOLD)
    finally:
        spark.conf.unset("spark.cndp.mp.broadcastMaxInputBytes")
    # non-integer disk budget conf (read only in the shuffle tier
    # with no explicit tables_per_pass)
    spark.conf.set("spark.cndp.mp.diskBudgetBytes", "lots")
    try:
        with pytest.raises(ValueError, match="diskBudgetBytes"):
            ann_lsh_multiprobe_pairs(
                emb, "vec_id", "embedding", THRESHOLD,
                broadcast_corpus=False,
            )
    finally:
        spark.conf.unset("spark.cndp.mp.diskBudgetBytes")
    with pytest.raises(ValueError, match="disk_budget_bytes"):
        ann_lsh_multiprobe_pairs(
            emb, "vec_id", "embedding", THRESHOLD,
            broadcast_corpus=False, disk_budget_bytes=0,
        )


def test_multiprobe_auto_chunked_output_equal(emb):
    """Auto-sized chunking (tiny disk budget -> eager 1-table passes)
    is a physical reshaping only: pairs and cosines bit-identical to
    the single-pass broadcast default."""
    from canadiannewsdatapipeline_spark.operators.similarity import (
        ann_lsh_multiprobe_pairs,
    )

    args = dict(pool=252, n_bits=12, n_tables=8, probe_radius=1,
                hamming_max=112)
    want = {
        tuple(r)
        for r in ann_lsh_multiprobe_pairs(
            emb, "vec_id", "embedding", THRESHOLD, **args
        ).collect()
    }
    got = {
        tuple(r)
        for r in ann_lsh_multiprobe_pairs(
            emb, "vec_id", "embedding", THRESHOLD, **args,
            broadcast_corpus=False, disk_budget_bytes=1,
        ).collect()
    }
    assert got == want
    assert len(got) > 0


def test_ann_pairs_compose_under_set_ops(emb):
    """Regression: the pair-dedup must be a plain aggregate — a
    Deduplicate(subset) node here broke downstream set-op rewrites
    (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND under exceptAll, Spark 4.1)."""
    q = ann_lsh_multitable_pairs(
        emb, "vec_id", "embedding", THRESHOLD, n_tables=8, n_planes=4
    )
    assert q.exceptAll(q.limit(0)).count() == q.count()


def test_ivf_multiprobe_perfect_precision(emb, truth):
    got = _pairs(
        ann_ivf_pairs(
            emb,
            "vec_id",
            "embedding",
            THRESHOLD,
            centroid_filter=F.col("vec_id") < 32,
            n_probe=4,
        )
    )
    assert got <= truth
    assert len(got) >= len(truth) // 2


def test_ann_topk_contract_and_recall(spark, sf_dir):
    """sim_topk_ann must (a) return exactly k ranked neighbors per
    query (the fallback guarantees it even on candidate shortfall),
    (b) rank candidates in the same exact-cosine order the brute-force
    tier uses, and (c) recall >= 0.85 of the exact top-k at the
    registered 16x4 operating point (measured: 0.91 @ sf0.001,
    0.96 @ sf0.01)."""
    from canadiannewsdatapipeline_spark.queries import QUERIES

    exact: dict = {}
    for r in QUERIES["sim_topk_cosine"].fn(spark, sf_dir).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    ann: dict = {}
    ranks: dict = {}
    for r in QUERIES["sim_topk_ann"].fn(spark, sf_dir).collect():
        ann.setdefault(r.query_id, set()).add(r.neighbor_id)
        ranks.setdefault(r.query_id, []).append((r.rnk, r.cos_sim))
    assert set(ann) == set(exact)
    for q, rs in ranks.items():
        rs.sort()
        assert [rnk for rnk, _ in rs] == [1, 2, 3, 4, 5]
        sims = [s for _, s in rs if s is not None]
        assert sims == sorted(sims, reverse=True)
    hits = sum(len(exact[q] & ann[q]) for q in exact)
    total = sum(len(v) for v in exact.values())
    assert hits / total >= 0.85


def test_prod_multiprobe_planted_recall_floor(spark):
    """Pin the production-threshold (0.85) multiprobe configuration's
    recall on PLANTED near-dups (the fresh ladder can only measure its
    cost: hash-fresh vectors have no true pairs at 0.85). Mirrors
    scripts/prod_recall.py at test scale: every base vector gets one
    twin at a known cosine in [0.85, 0.98]; ground truth is exact
    numpy float64 over ALL pairs. The k16/L16/r1/H70 point measured
    98.8% at 20k planted pairs (vs the 8x12 multitable's 79.3%,
    SCALE.md); assert a conservative floor and exactness here. The
    config under test is the LIBRARY'S named preset
    (PROD_NEAR_DUP_MP via prod_near_dup_pairs) — if the preset ever
    changes, this floor re-validates the new point automatically."""
    import numpy as np

    from pyspark.sql import types as T

    from canadiannewsdatapipeline_spark.operators.similarity import (
        PROD_NEAR_DUP_MP,
        prod_near_dup_pairs,
    )

    rng = np.random.default_rng(3)
    n = 400
    thr = PROD_NEAR_DUP_MP["threshold"]
    base = rng.normal(size=(n, 64))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    cos = rng.uniform(thr, 0.98, size=n)
    w = rng.normal(size=(n, 64))
    w -= (w * base).sum(1, keepdims=True) * base
    w /= np.linalg.norm(w, axis=1, keepdims=True)
    vecs = np.vstack(
        [base, cos[:, None] * base + np.sqrt(1 - cos**2)[:, None] * w]
    ).astype(np.float32)

    v64 = vecs.astype(np.float64)
    v64 /= np.linalg.norm(v64, axis=1, keepdims=True)
    sims = np.round(v64 @ v64.T, 4)
    ia, ib = np.nonzero(sims >= thr)
    exact = {(int(a), int(b)) for a, b in zip(ia, ib) if a < b}
    assert len(exact) >= n  # every planted pair + any incidental ones

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    df = spark.createDataFrame(
        [(i, [float(x) for x in r]) for i, r in enumerate(vecs)], schema
    )
    got = _pairs(prod_near_dup_pairs(df, "vec_id", "embedding"))
    assert not got - exact  # exact verify => zero false positives
    assert len(got & exact) / len(exact) >= 0.95


def test_multitable_kernel_buckets_bit_identical(spark, sf_dir):
    """r10 verdict #2: the Arrow-batched bucket kernel
    (lsh_multitable_buckets_kernel) must reproduce the literal-fold
    buckets EXACTLY at both registered operating points — including
    degenerate vectors (NULL, null elements, wrong length), which the
    fold maps to bucket 0 in every table via the NULL dot."""
    from canadiannewsdatapipeline_spark.operators.similarity import (
        lsh_multitable_buckets,
        lsh_multitable_buckets_kernel,
    )
    from canadiannewsdatapipeline_spark.sources.registry import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    degen = spark.createDataFrame(
        [
            (100001, None),
            (100002, [None] * 64),
            (100003, [1.0] * 63),  # short: zip_with pads -> NULL dot
            (100004, [1.0] * 65),  # long: plane side pads -> NULL dot
            (100005, [0.0] * 64),  # valid zero vector: dot 0 -> bit 1
            (100006, [1.0] * 32 + [None] + [1.0] * 31),
        ],
        "vec_id long, embedding array<double>",
    )
    for frame in (emb, degen):
        for n_tables, n_planes in ((12, 5), (16, 4)):
            fold = {
                (r.id, r.tbl, r.bucket)
                for r in lsh_multitable_buckets(
                    frame, "vec_id", "embedding", n_tables, n_planes, 64
                ).collect()
            }
            kern = {
                (r.id, r.tbl, r.bucket)
                for r in lsh_multitable_buckets_kernel(
                    frame, "vec_id", "embedding", n_tables, n_planes, 64
                ).collect()
            }
            assert kern == fold
    # and the degenerate rows really land on bucket 0 everywhere
    zeros = {
        r.id
        for r in lsh_multitable_buckets_kernel(
            degen, "vec_id", "embedding", 12, 5, 64
        )
        .filter(F.col("bucket") != 0)
        .collect()
    }
    assert zeros == {100005}  # only the valid all-zero vector hashes


def test_multitable_kernel_nan_parity_with_fold(spark):
    """r11 advice: a NaN vector element makes every plane dot NaN;
    Spark SQL's NaN-is-largest ordering means the fold form's
    `dot >= 0` sets EVERY bit (bucket 2^k - 1 in every table). The
    kernel must agree bit-for-bit instead of numpy's NaN >= 0 ->
    False -> bucket 0."""
    from canadiannewsdatapipeline_spark.operators.similarity import (
        lsh_multitable_buckets,
        lsh_multitable_buckets_kernel,
    )

    nan = float("nan")
    df = spark.createDataFrame(
        [
            (1, [nan] * 64),
            (2, [1.0] * 32 + [nan] + [1.0] * 31),
            (3, [1.0] * 64),  # control row: no NaN
        ],
        "vec_id long, embedding array<double>",
    )
    fold = {
        (r.id, r.tbl, r.bucket)
        for r in lsh_multitable_buckets(
            df, "vec_id", "embedding", 12, 5, 64
        ).collect()
    }
    kern = {
        (r.id, r.tbl, r.bucket)
        for r in lsh_multitable_buckets_kernel(
            df, "vec_id", "embedding", 12, 5, 64
        ).collect()
    }
    assert kern == fold
    # and the NaN rows really saturate: every table at bucket 2^5-1
    assert {
        (i, t): b for (i, t, b) in fold if i in (1, 2)
    } == {(i, t): 31 for i in (1, 2) for t in range(12)}


def test_multitable_kernel_preserves_id_type(spark):
    """Review r11: the kernel schema must carry the INPUT id type —
    the fold form never constrained it, and a hardcoded long crashed
    string/UUID ids at the Arrow boundary."""
    from canadiannewsdatapipeline_spark.operators.similarity import (
        lsh_multitable_buckets,
        lsh_multitable_buckets_kernel,
    )

    df = spark.createDataFrame(
        [(f"doc-{i}", [float((i * 7 + j) % 5 - 2) for j in range(64)])
         for i in range(8)],
        "sid string, v array<double>",
    )
    fold = {
        (r.id, r.tbl, r.bucket)
        for r in lsh_multitable_buckets(df, "sid", "v", 4, 3, 64).collect()
    }
    kern_df = lsh_multitable_buckets_kernel(df, "sid", "v", 4, 3, 64)
    assert dict(kern_df.dtypes)["id"] == "string"
    kern = {(r.id, r.tbl, r.bucket) for r in kern_df.collect()}
    assert kern == fold
