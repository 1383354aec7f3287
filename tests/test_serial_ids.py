"""Distributed serial-id assignment (r10 verdict #1): bit-identical
to the old unpartitioned row_number window, with no single-partition
exchange in the plan."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from canadiannewsdatapipeline_spark.operators.serial_ids import (
    assign_serial_ids,
)


def _global_rank_ids(df, sort_cols, id_col="id"):
    """The old single-partition form — the determinism oracle."""
    w = Window.orderBy(*sort_cols)
    return df.withColumn(id_col, F.row_number().over(w))


def _rows_to_keyed(rows, cols):
    # keyed dict, not a sort: Python can't order None vs str
    return {(r[cols[0]], r[cols[1]]): tuple(r[c] for c in cols[2:]) for r in rows}


def test_ids_match_global_row_number_multi_bucket(spark):
    # 500 unique keys over forced multi-bucket assignment, including
    # NULL sort-key values (struct ordering must bucket them
    # nulls-first, exactly like Window.orderBy's asc_nulls_first)
    df = spark.range(500).select(
        F.when(F.col("id") % 97 == 0, F.lit(None))
        .otherwise(F.concat(F.lit("s"), (F.col("id") % 7).cast("string")))
        .alias("a"),
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("b"),
        (F.col("id") * 3 % 11).alias("c"),
    )
    want = _global_rank_ids(df, ["a", "b"])
    cols = ["a", "b", "c", "id"]
    # 8 buckets (shallow CASE tree) and 64 (deep tree: more sampled
    # boundaries than distinct shard shapes) must both reproduce the
    # global rank exactly
    for n_buckets in (8, 64):
        got = assign_serial_ids(df, ["a", "b"], "id", n_buckets=n_buckets)
        assert _rows_to_keyed(got.collect(), cols) == _rows_to_keyed(
            want.collect(), cols
        )
        # dense 1..N
        ids = sorted(r["id"] for r in got.collect())
        assert ids == list(range(1, 501))


def test_ids_stable_across_recompute_and_schema(spark):
    df = spark.range(200).select(
        (F.col("id") % 13).cast("string").alias("a"),
        F.col("id").cast("string").alias("b"),
    )
    out = assign_serial_ids(df, ["a", "b"], "rid", n_buckets=5)
    # two separate actions on the SAME returned plan must agree —
    # bucketing is a pure function of the row (literal boundaries),
    # so recompute cannot reshuffle ids
    first = {(r["a"], r["b"]): r["rid"] for r in out.collect()}
    second = {(r["a"], r["b"]): r["rid"] for r in out.collect()}
    assert first == second
    # id column type matches the reference's SERIAL (int), appended last
    assert dict(out.dtypes)["rid"] == "int"
    assert out.columns == ["a", "b", "rid"]


def test_plan_has_no_single_partition_exchange(spark):
    df = spark.range(1000).select(
        F.col("id").cast("string").alias("a"),
        (F.col("id") % 3).cast("string").alias("b"),
    )
    out = assign_serial_ids(df, ["a", "b"], "id", n_buckets=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    assert "Window" in plan  # the rank still runs, partitioned


def test_load_raw_news_plan_is_partitioned(spark):
    """r10 verdict #1 done-criterion: no unpartitioned WindowExec in
    the ingest load path."""
    from canadiannewsdatapipeline_spark.plans.pipeline import load_raw_news

    # enough rows that the default bucket rule (one bucket per 1000
    # rows) engages multi-bucket assignment — the regime the plan
    # assert is about; a tiny batch folds to one constant bucket,
    # which is the right physical plan for 40 rows
    combined = spark.createDataFrame(
        [
            (
                "globe", "ca", "politics", f"First{i} Last{i}",
                f"f{i}@mail.ca", None, f"Title {i}", "desc",
                f"https://g.ca/a{i}", "2024-03-04 00:00:00",
                "Body text.", "centre", "english",
            )
            for i in range(2500)
        ],
        "source_name string, source_country string, category string, "
        "author string, author_email string, author_url string, "
        "title string, description string, url string, "
        "publishedat string, article_content string, bias string, "
        "language string",
    ).withColumn("publishedat", F.col("publishedat").cast("timestamp"))
    raw = load_raw_news(combined, "2024-03-05 00:00:00")
    plan = raw._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    # ids still dense + deterministic through the full load leg
    ids = sorted(r["id"] for r in raw.collect())
    assert ids == list(range(1, 2501))


def test_empty_and_single_bucket_edges(spark):
    df = spark.createDataFrame([], "a string, b string")
    assert assign_serial_ids(df, ["a", "b"]).count() == 0
    one = spark.createDataFrame([("x", "y")], "a string, b string")
    assert assign_serial_ids(one, ["a", "b"]).collect()[0]["id"] == 1
    with pytest.raises(ValueError):
        assign_serial_ids(one, [])


def test_id_type_long_matches_global_rank(spark):
    """r11 verdict #3: id_type='long' is the sanctioned path past the
    INT SERIAL ceiling — same ids, wider type, no 2^31 fail-fast."""
    df = spark.range(300).select(
        (F.col("id") % 13).cast("string").alias("a"),
        F.col("id").cast("string").alias("b"),
    )
    got = assign_serial_ids(df, ["a", "b"], "rid", n_buckets=5,
                            id_type="long")
    assert dict(got.dtypes)["rid"] == "bigint"
    want = _global_rank_ids(df, ["a", "b"], "rid")
    assert {(r["a"], r["b"]): r["rid"] for r in got.collect()} == {
        (r["a"], r["b"]): r["rid"] for r in want.collect()
    }
    with pytest.raises(ValueError, match="id_type"):
        assign_serial_ids(df, ["a", "b"], id_type="uuid")


def test_pin_auto_detection(spark, sf_dir):
    """r11 verdict #3 + advice: a recompute-stable input (parquet /
    range lineage) skips the snapshot — its scan survives into the
    returned plan (column pruning stays alive) — while an opaque
    mapInPandas seam pins to a localCheckpoint (ExistingRDD scan),
    with no CacheManager entry either way."""
    import pandas as pd

    from canadiannewsdatapipeline_spark.operators.serial_ids import (
        _plan_is_recompute_stable,
    )

    stable = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        "n_nationkey", "n_name"
    )
    assert _plan_is_recompute_stable(stable)
    out = assign_serial_ids(stable, ["n_name"], "rid", n_buckets=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the file scan survived into the returned plan (no snapshot
    # swallowed it — pruning/pushdown stay live); the only ExistingRDD
    # is the tiny broadcast offsets frame
    assert "parquet" in plan.lower()

    def ident(batches):
        for b in batches:
            yield pd.DataFrame({"a": b["a"], "b": b["b"]})

    seam = (
        spark.range(50)
        .select(
            (F.col("id") % 5).cast("string").alias("a"),
            F.col("id").cast("string").alias("b"),
        )
        .mapInPandas(ident, "a string, b string")
    )
    assert not _plan_is_recompute_stable(seam)
    pinned = assign_serial_ids(seam, ["a", "b"], "rid", n_buckets=3)
    pplan = pinned._jdf.queryExecution().executedPlan().toString()
    # the localCheckpoint snapshot truncated the seam's lineage: the
    # python stage is gone from the returned plan
    assert "MapInPandas" not in pplan
    ids = sorted(r["rid"] for r in pinned.collect())
    assert ids == list(range(1, 51))
    # the snapshot must NOT register a Dataset cache (the r11 leak +
    # stale-plan-match hazard): rebuilding the IDENTICAL seam lineage
    # must plan as a fresh pipeline, not an InMemoryTableScan hit on
    # the snapshot (other suite tests legitimately hold caches in the
    # shared session, so assert on THIS plan, not a global isEmpty)
    seam2 = (
        spark.range(50)
        .select(
            (F.col("id") % 5).cast("string").alias("a"),
            F.col("id").cast("string").alias("b"),
        )
        .mapInPandas(ident, "a string, b string")
    )
    plan2 = seam2._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in plan2

    # non-deterministic expressions also pin
    randy = spark.range(20).select(
        F.rand(1).cast("string").alias("a"),
        F.col("id").cast("string").alias("b"),
    )
    assert not _plan_is_recompute_stable(randy)


def test_pin_auto_detection_order_sensitive_shapes(spark):
    """r12 review: Spark-'deterministic' is per-row, not
    multiset-stable — first()-style aggregates, rank windows, and
    dropDuplicates can return different multisets under shuffle-fetch
    reordering, UDFs carry an uncheckable user assertion, and a
    cached frame's stability depends on block survival. All must
    pin."""
    from pyspark.sql import Window

    from canadiannewsdatapipeline_spark.operators.serial_ids import (
        _plan_is_recompute_stable,
    )

    base = spark.range(100).select(
        (F.col("id") % 7).alias("k"),
        F.col("id").cast("string").alias("x"),
    )
    # order-sensitive aggregate
    agg_first = base.groupBy("k").agg(F.first("x").alias("x"))
    assert not _plan_is_recompute_stable(agg_first)
    # rank window (ties order arbitrarily)
    win = base.withColumn(
        "r", F.row_number().over(Window.partitionBy("k").orderBy("k"))
    )
    assert not _plan_is_recompute_stable(win)
    # dropDuplicates on a subset keeps an arbitrary row per key
    assert not _plan_is_recompute_stable(base.dropDuplicates(["k"]))
    # python UDF: deterministic-FLAGGED but a user assertion
    upper = F.udf(lambda s: s.upper(), "string")
    assert not _plan_is_recompute_stable(
        base.select("k", upper(F.col("x")).alias("x"))
    )
    # cached frame: stability depends on cache blocks surviving
    cached = base.persist()
    try:
        cached.count()
        assert not _plan_is_recompute_stable(cached)
    finally:
        cached.unpersist()
    # un-sorted limit returns arbitrary rows
    assert not _plan_is_recompute_stable(base.limit(5))
    # ...while plain joins/sorts/unions of stable inputs stay stable
    joined = base.join(
        base.select(F.col("k"), F.col("x").alias("y")), "k"
    ).sort("k")
    assert _plan_is_recompute_stable(joined)


def test_pin_override_both_ways(spark):
    """Explicit pin=True/False override the auto-detection and both
    reproduce the global rank on a deterministic input."""
    df = spark.range(200).select(
        (F.col("id") % 7).cast("string").alias("a"),
        F.col("id").cast("string").alias("b"),
    )
    want = {
        (r["a"], r["b"]): r["id"]
        for r in _global_rank_ids(df, ["a", "b"]).collect()
    }
    for pin in (True, False):
        got = assign_serial_ids(df, ["a", "b"], "id", n_buckets=4, pin=pin)
        assert {
            (r["a"], r["b"]): r["id"] for r in got.collect()
        } == want


def test_mixed_type_sort_keys(spark):
    """Boundary literals must round-trip non-string key types (the
    lit_key cast path): int + string composite keys rank like the
    global window."""
    df = spark.range(300).select(
        (F.col("id") % 17).alias("k1"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("k2"),
    )
    got = assign_serial_ids(df, ["k1", "k2"], "id", n_buckets=6)
    want = _global_rank_ids(df, ["k1", "k2"])
    assert {(r["k1"], r["k2"]): r["id"] for r in got.collect()} == {
        (r["k1"], r["k2"]): r["id"] for r in want.collect()
    }


def test_one_bucket_batch_skips_the_bucket_counts_job(spark, job_ids):
    """Under _MIN_ROWS_PER_BUCKET rows there is one bucket, and its
    count is the total the operator already counted: construction runs
    the jobs of that count alone (two under AQE: map stage and result),
    not a per-bucket counts aggregate after it."""
    df = spark.createDataFrame(
        [("c", "z"), ("a", "y"), ("b", "x")], "a string, b string"
    )
    with job_ids() as count_jobs:
        df.count()
    with job_ids() as jobs:
        got = assign_serial_ids(df, ["a", "b"], pin=False)
    assert len(jobs) == len(count_jobs)
    want = _global_rank_ids(df, ["a", "b"])
    assert _rows_to_keyed(got.collect(), ["a", "b", "id"]) == _rows_to_keyed(
        want.collect(), ["a", "b", "id"]
    )
