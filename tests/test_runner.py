"""ModelRunner: topological order, materialization, write-audit-skip."""

from __future__ import annotations

from pyspark.sql import functions as F

from canadiannewsdatapipeline_spark.plans.runner import Model, ModelRunner


def test_runner_topo_order_and_materialization(spark, tmp_path):
    models = [
        Model("mart", lambda t: t.groupBy("k").count(), deps=["trans"],
              materialized="table"),
        Model("trans", lambda s: s.withColumn("k", F.col("x") % 2), deps=["stg"]),
        Model("stg", lambda raw: raw.select(F.col("v").alias("x")), deps=["raw"]),
    ]
    runner = ModelRunner(spark, models, warehouse_dir=str(tmp_path))
    assert runner.order() == ["stg", "trans", "mart"]

    raw = spark.createDataFrame([(i,) for i in range(10)], "v long")
    out = runner.run({"raw": raw})
    assert {r.k: r["count"] for r in out["mart"].collect()} == {0: 5, 1: 5}
    # mart was materialized to parquet
    assert (tmp_path / "mart").exists()

    # write-audit-publish: skip_existing reuses the materialized table
    out2 = runner.run({"raw": raw.limit(0)}, skip_existing=True)
    assert out2["mart"].count() == 2


def test_shared_view_is_computed_once_per_run(spark, tmp_path):
    # A view feeding two table marts (the shape of `transformed` feeding
    # the four marts) runs its Python stage over the input once per
    # run, not once per consumer, and the marts are unchanged by it.
    seen = spark.sparkContext.accumulator(0)

    def count_rows(batches):
        for pdf in batches:
            seen.add(len(pdf))
            yield pdf

    def shared(raw):
        return raw.mapInPandas(count_rows, raw.schema).withColumn("k", F.col("v") % 3)

    def by_k(t):
        return t.groupBy("k").agg(F.sum("v").alias("s"))

    def evens(t):
        return t.filter(F.col("v") % 2 == 0).select("v", "k")

    models = [
        Model("shared", shared, deps=["raw"]),
        Model("by_k", by_k, deps=["shared"], materialized="table"),
        Model("evens", evens, deps=["shared"], materialized="table"),
    ]
    runner = ModelRunner(spark, models, warehouse_dir=str(tmp_path))
    raw = spark.createDataFrame([(i,) for i in range(40)], "v long").repartition(4)
    out = runner.run({"raw": raw})
    got_by_k = sorted(out["by_k"].collect())
    got_evens = sorted(out["evens"].collect())
    assert seen.value == 40

    # the unshared form: each mart straight off its own lineage
    assert got_by_k == sorted(by_k(shared(raw)).collect())
    assert got_evens == sorted(evens(shared(raw)).collect())

    # a re-run whose consumers all exist never materializes the view
    before = seen.value
    out2 = runner.run({"raw": raw}, skip_existing=True)
    assert sorted(out2["by_k"].collect()) == got_by_k
    assert sorted(out2["evens"].collect()) == got_evens
    assert seen.value == before
