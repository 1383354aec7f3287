"""Dependency-ordered model runner — the engine's equivalent of the
reference's Airflow DbtTaskGroup (ingest_news.py:181-186), which
Jinja-compiles one task per dbt model and runs them in ref() order.

Here a model is a plain function DataFrame(s) -> DataFrame; the runner
topologically sorts, executes each once, and materializes according to
the model's config: ``view`` models stay lazy DataFrames (dbt
staging/ref views, dbt_project.yml:34-41), ``table`` models are written
to parquet and re-read (dbt marts, dbt_project.yml:43-45) — reading
back the parquet both truncates the lineage for downstream plans and is
the write-audit-publish point (S12 idempotency: a model whose output
dir already exists can be skipped with skip_existing=True).

A view that two or more models of the run build on (the reference's
``transformed``, which feeds all four marts) is computed once per run,
not once per consumer: the runner wraps it in
``localCheckpoint(eager=False)`` and every consumer reads those blocks.
Otherwise each mart write re-runs the whole upstream lineage (serial
ids, the translation pass through Python, ``transformed``'s shuffle and
windows). A checkpoint rather than ``persist()`` because it registers
no CacheManager entry — a later identical plan (the next run over the
same raw store) cannot silently match this run's snapshot — and its
blocks are reclaimed once the returned frames are dropped, with no
unpersist bookkeeping. Under AQE the checkpoint call itself already
runs the view's shuffle-map stages, so only consumers that will be
built count: a view whose consumers ``skip_existing`` all reuses is
never checkpointed and costs no job.
"""

from __future__ import annotations

import os
from collections import Counter
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field
from graphlib import TopologicalSorter

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Model:
    name: str
    fn: Callable[..., DataFrame]  # receives resolved dep DataFrames in order
    deps: Sequence[str] = field(default_factory=tuple)
    materialized: str = "view"  # "view" | "table"
    partition_by: Sequence[str] = field(default_factory=tuple)


class ModelRunner:
    def __init__(
        self,
        spark: SparkSession,
        models: Sequence[Model],
        warehouse_dir: str | None = None,
    ):
        self.spark = spark
        self.models = {m.name: m for m in models}
        self.warehouse_dir = warehouse_dir

    def order(self) -> list[str]:
        ts = TopologicalSorter({m.name: set(m.deps) for m in self.models.values()})
        known = set(self.models)
        order = []
        for name in ts.static_order():
            if name in known:
                order.append(name)
        return order

    def run(
        self, inputs: dict[str, DataFrame], skip_existing: bool = False
    ) -> dict[str, DataFrame]:
        """Execute all models; ``inputs`` seeds external sources by name."""
        resolved: dict[str, DataFrame] = dict(inputs)
        order = self.order()
        out_paths = {
            name: os.path.join(self.warehouse_dir, name) if self.warehouse_dir else None
            for name in order
        }
        reused = {
            name
            for name in order
            if skip_existing
            and self.models[name].materialized == "table"
            and out_paths[name]
            and os.path.isdir(out_paths[name])
        }
        consumers = Counter(
            d for name in order if name not in reused for d in self.models[name].deps
        )
        for name in order:
            model = self.models[name]
            missing = [d for d in model.deps if d not in resolved]
            if missing:
                raise ValueError(f"model {name}: unresolved deps {missing}")
            out_path = out_paths[name]
            if name in reused:
                resolved[name] = self.spark.read.parquet(out_path)
                continue
            df = model.fn(*[resolved[d] for d in model.deps])
            if model.materialized == "table" and out_path:
                writer = df.write.mode("overwrite")
                if model.partition_by:
                    writer = writer.partitionBy(*model.partition_by)
                writer.parquet(out_path)
                df = self.spark.read.parquet(out_path)
            elif model.materialized == "view" and consumers[name] > 1:
                df = df.localCheckpoint(eager=False)
            resolved[name] = df
        return resolved
