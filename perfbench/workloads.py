"""The benchmark's workloads: closed loops, one client, one process.

Each workload has a ``prepare`` step (generate or load cached inputs;
timed apart from set-up), a ``register`` step (the end of set-up), a
measured ``run``, and a ``check`` step that compares every output with
the expected one outside the timed region.

``news_ingest`` (writes). The News_Ingestion DAG (scrape -> validate ->
serial ids -> model DAG) and the Sentiment_Batch DAG (score ->
stg_sentiment -> sentiment mart) over seeded pages of nine sources,
into a fresh warehouse directory. Cold: the first pass in the process,
pages in until every mart is committed. Warm: the Sentiment_Batch DAG
re-run over the committed articles mart into fresh sentiment tables, as
its own schedule repeats it; repeated until the run's seconds are up.

``dashboard`` (reads). A fixed mix of registered dashboard queries on a
seeded K-fold warehouse, collected to the driver. Cold: the first round,
where every call builds its plan, runs its construction-time jobs and
executes. Warm: later rounds, served by the registry's plan cache,
repeated until the run's seconds are up. The mix carries two corpus
queries (``dedup_clusters``, ``sim_topk_ann``) so the connected-
components and similarity operators, and their construction-time jobs,
are measured too.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import ExitStack
from dataclasses import dataclass, field, replace
from unittest import mock

from . import datagen, newsgen, oracle, procs
from .spans import Timed
from .stats import median, percentile, tail_percentile

DASHBOARD_K = 1
NEWS_ARTICLES_PER_SOURCE = 200

# A subset of the dashboard read path sized to the benchmark's time
# budget: window dedup over a three-table join, the streaming twin, and
# two corpus queries, one whose plan runs construction-time jobs
# (connected components) and one with a heavy first execution (ANN top-k).
DASHBOARD_MIX = [
    "q2_enriched_join_dedup",
    "stream_windowed_counts",
    "dedup_clusters",
    "sim_topk_ann",
]
CORPUS_IN_MIX = ["dedup_clusters", "sim_topk_ann"]
MIN_WARM_ROUNDS = 5

NEWS_MODELS = [
    "stg_articles",
    "transformed",
    "articles",
    "authors",
    "sources",
    "article_author_join_table",
    "stg_sentiment",
    "sentiment",
]
NEWS_MARTS = ["articles", "authors", "sources", "article_author_join_table", "sentiment"]
MIN_WARM_SENTIMENT = 5


@dataclass
class Ctx:
    """One run: its session, tracer, settings and findings."""

    spark: object
    tracer: object
    seconds: float
    work: str
    jvm_pid: int
    failures: list[str] = field(default_factory=list)
    attempted: int = 0
    cold_s: float = 0.0
    cold_cpu_s: float = 0.0
    warm_s: list[float] = field(default_factory=list)
    warm_cpu_s: list[float] = field(default_factory=list)
    detail: dict = field(default_factory=dict)

    def clock(self) -> tuple[float, float]:
        return time.perf_counter(), procs.work_cpu_seconds(self.jvm_pid)

    def cold_done(self, since: tuple[float, float]) -> None:
        wall, cpu = self.clock()
        self.cold_s, self.cold_cpu_s = wall - since[0], cpu - since[1]

    def warm_done(self, since: tuple[float, float]) -> None:
        wall, cpu = self.clock()
        self.warm_s.append(wall - since[0])
        self.warm_cpu_s.append(cpu - since[1])

    def check(self, what: str, ok: bool, info: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(f"{what}: {info}" if info else what)


# ---------------------------------------------------------------- dashboard


class Dashboard:
    name = "dashboard"

    def prepare(self, cache: str, seed: int) -> None:
        from canadiannewsdatapipeline_spark.queries import QUERIES

        missing = [q for q in DASHBOARD_MIX if QUERIES[q].oracle is None]
        if missing:
            raise RuntimeError(f"queries without a DuckDB oracle: {missing}")
        self.queries = {q: QUERIES[q].fn for q in DASHBOARD_MIX}
        self.wh, self.oracle = datagen.cached_warehouse(
            cache, seed, DASHBOARD_K, {q: QUERIES[q].oracle for q in DASHBOARD_MIX}
        )

    def register(self, ctx: Ctx) -> None:
        from canadiannewsdatapipeline_spark.sources.registry import register_views

        with ctx.tracer.span("sources.load_table"):
            register_views(ctx.spark, self.wh)

    def _call(self, ctx: Ctx, q: str, label: str):
        with ctx.tracer.span(f"queries.{q}.{label}"):
            t0 = time.perf_counter()
            with ctx.tracer.span(f"queries.{q}.{label}.build"):
                df = self.queries[q](ctx.spark, self.wh)
            t1 = time.perf_counter()
            with ctx.tracer.span(f"queries.{q}.{label}.exec"):
                rows = df.collect()
            t2 = time.perf_counter()
        self.results.append((q, df.columns, rows))
        return t1 - t0, t2 - t1

    def run(self, ctx: Ctx) -> None:
        from canadiannewsdatapipeline_spark.queries.registry import is_plan_cached

        self.results: list[tuple] = []
        self.first: dict[str, tuple[float, float]] = {}
        self.warm: dict[str, list[float]] = {q: [] for q in DASHBOARD_MIX}
        self.hits = self.lookups = 0
        t0 = ctx.clock()
        for q in DASHBOARD_MIX:
            self.first[q] = self._call(ctx, q, "first")
        ctx.cold_done(t0)
        deadline = time.perf_counter() + ctx.seconds
        while len(ctx.warm_s) < MIN_WARM_ROUNDS or time.perf_counter() < deadline:
            t = ctx.clock()
            for q in DASHBOARD_MIX:
                self.lookups += 1
                self.hits += is_plan_cached(ctx.spark, q, self.wh)
                self.warm[q].append(sum(self._call(ctx, q, "warm")))
            ctx.warm_done(t)

    def check(self, ctx: Ctx) -> None:
        for q, cols, rows in self.results:
            want = self.oracle[q]
            got = oracle.digest(cols, rows)
            ctx.check(f"{q} matches its DuckDB oracle", got == want,
                      f"rows {got['rows']} vs {want['rows']}, "
                      f"columns {'equal' if got['columns'] == want['columns'] else 'differ'}")
        first = [b + e for b, e in self.first.values()]
        warm = [x for xs in self.warm.values() for x in xs]
        ctx.detail.update({"query_first_p50_s": median(first), "query_p50_s": median(warm),
                           "warm_samples": len(warm)})
        p = tail_percentile(len(warm))
        if p is not None and p > 50:
            ctx.detail[f"query_p{p:g}_s"] = percentile(warm, p)

    def call_time_spans(self, tr) -> list:
        """Plan builds of first calls: jobs in them ran at construction."""
        return [sp for sp in tr.spans if sp.name.endswith(".first.build")]

    def layers(self, ctx: Ctx) -> dict[str, float]:
        tr = ctx.tracer
        out: dict[str, float] = {}
        for q in DASHBOARD_MIX:
            out[f"queries.{q}.first_s"] = sum(self.first[q])
            out[f"queries.{q}.warm_s"] = median(self.warm[q])
        build_spans = self.call_time_spans(tr)
        out["queries.plan_build_s"] = sum(sp.seconds for sp in build_spans)
        out["queries.construction_jobs"] = len(tr.jobs(build_spans))
        jobs = tr.jobs()
        for op in ("cluster", "similarity"):
            mine = [j for j in jobs if j["site"] == f"{op}.py"]
            out[f"operators.{op}.jobs"] = len(mine)
            out[f"operators.{op}_s"] = sum(j["wall_s"] for j in mine)
        out["queries.plan_cache_hit_rate"] = self.hits / self.lookups
        for q in CORPUS_IN_MIX:
            out[f"operators.{q}.build_s"] = self.first[q][0]
            out[f"operators.{q}.exec_s"] = self.first[q][1]
        stream = [sp.seconds for sp in tr.spans
                  if sp.name.startswith("queries.stream_windowed_counts.")
                  and sp.name.endswith(".build")]
        out["streaming.windowed_counts_s"] = median(stream)
        return out


# ---------------------------------------------------------------- news_ingest


class NewsIngest:
    name = "news_ingest"

    def prepare(self, cache: str, seed: int) -> None:
        self.seed = seed
        self.expected = newsgen.expected_counts(seed, NEWS_ARTICLES_PER_SOURCE)
        self.pages_html = {
            s: (base, newsgen.link_page(seed, s, base, NEWS_ARTICLES_PER_SOURCE))
            for s, base in newsgen.SOURCES
        }

    def register(self, ctx: Ctx) -> None:
        # the nine sources' link pages in one frame: the extract chain
        # partitions its windows by source, so one chain serves them all
        with ctx.tracer.span("sources.load_table"):
            self.pages = {"link_pages": ctx.spark.createDataFrame(
                [(s, base, html) for s, (base, html) in self.pages_html.items()],
                "source string, base_url string, html string",
            )}

    def _sentiment(self, ctx: Ctx, articles, wh: str) -> None:
        from pyspark.sql import functions as F

        from canadiannewsdatapipeline_spark.enrich.batch import score_sentiment
        from canadiannewsdatapipeline_spark.plans.models import sentiment_mart, stg_sentiment
        from canadiannewsdatapipeline_spark.plans.runner import Model, ModelRunner

        with ctx.tracer.span("enrich.score_sentiment"):
            scored = score_sentiment(articles, "article_content")
            # the batch job's output file: text scores with 'N/A' for
            # unscored rows, keyed by article
            raw = scored.select(
                F.xxhash64("article_id").alias("id"),
                "article_id",
                *[F.coalesce(F.col(c).cast("string"), F.lit("N/A")).alias(c)
                  for c in ("sentiment_mark", "sentiment_poilievre")],
            )
            ModelRunner(ctx.spark, [
                Model("stg_sentiment", stg_sentiment, deps=["sentiment_raw"],
                      materialized="table"),
                Model("sentiment", sentiment_mart, deps=["stg_sentiment"],
                      materialized="table"),
            ], warehouse_dir=wh).run({"sentiment_raw": raw})

    def run(self, ctx: Ctx) -> None:
        from canadiannewsdatapipeline_spark.plans.pipeline import run_ingestion
        from canadiannewsdatapipeline_spark.sources.scrape import fixture_parser

        fetcher, parser = newsgen.SeededFetcher(self.seed), fixture_parser
        if ctx.tracer.enabled:
            self.scrape_acc = ctx.spark.sparkContext.accumulator(0.0)
            fetcher = Timed(fetcher, self.scrape_acc)
            parser = Timed(parser, self.scrape_acc)
        self.warehouses: list[tuple[str, list[str]]] = []
        with ExitStack() as stack:
            if ctx.tracer.enabled:
                _trace_news_calls(stack, ctx.tracer)
            wh = self._fresh(ctx, "cold", NEWS_MARTS)
            t0 = ctx.clock()
            with ctx.tracer.span("plans.run_ingestion"):
                out = run_ingestion(ctx.spark, self.pages, fetcher, parser, newsgen.RUN_TS,
                                    warehouse_dir=wh, n_articles=NEWS_ARTICLES_PER_SOURCE)
            self._sentiment(ctx, out["articles"], wh)
            ctx.cold_done(t0)
            self.cold_wh = wh
            articles = os.path.join(wh, "articles")
            deadline = time.perf_counter() + ctx.seconds
            while len(ctx.warm_s) < MIN_WARM_SENTIMENT or time.perf_counter() < deadline:
                wh = self._fresh(ctx, f"warm{len(ctx.warm_s)}", ["sentiment"])
                t = ctx.clock()
                self._sentiment(ctx, ctx.spark.read.parquet(articles), wh)
                ctx.warm_done(t)

    def _fresh(self, ctx: Ctx, label: str, marts: list[str]) -> str:
        wh = os.path.join(ctx.work, "news", label)
        shutil.rmtree(wh, ignore_errors=True)
        self.warehouses.append((wh, marts))
        return wh

    def check(self, ctx: Ctx) -> None:
        from canadiannewsdatapipeline_spark.operators.quality import (
            checks_summary,
            not_null_violations,
            relationship_violations,
            unique_violations,
        )

        articles = ctx.spark.read.parquet(os.path.join(self.cold_wh, "articles"))
        checks = []
        for wh, marts in self.warehouses:
            label = os.path.basename(wh)
            t = {m: ctx.spark.read.parquet(os.path.join(wh, m)) for m in marts}
            t.setdefault("articles", articles)
            checks += [(f"{label} {m} rows", t[m]) for m in marts]
            checks.append((f"{label} sentiment -> articles", relationship_violations(
                t["sentiment"], "article_id", t["articles"], "article_id")))
            if "authors" in marts:
                bridge = t["article_author_join_table"]
                checks += [(f"{label} {name}", df) for name, df in [
                    ("articles.article_id unique", unique_violations(t["articles"], ["article_id"])),
                    ("articles.article_id not null",
                     not_null_violations(t["articles"], "article_id")),
                    ("authors.author_id unique", unique_violations(t["authors"], ["author_id"])),
                    ("authors.author_id not null", not_null_violations(t["authors"], "author_id")),
                    ("sources.source_id unique", unique_violations(t["sources"], ["source_id"])),
                    ("bridge key unique", unique_violations(bridge, ["article_author_id"])),
                    ("bridge -> articles", relationship_violations(
                        bridge, "article_id", t["articles"], "article_id")),
                    ("bridge -> authors", relationship_violations(
                        bridge, "author_id", t["authors"], "author_id")),
                ]]
        # one job: every check is a count; "<warehouse> <mart> rows"
        # counts the mart, every other check counts violations
        for r in checks_summary(checks).collect():
            if r.check_name.endswith(" rows"):
                m = r.check_name.split(" ")[1]
                ctx.check(f"{r.check_name[:-5]} row count", r.n_violations == self.expected[m],
                          f"{r.n_violations} rows, expected {self.expected[m]}")
            else:
                ctx.check(r.check_name, r.n_violations == 0, f"{r.n_violations} violations")
        ctx.detail.update({"ingest_s": ctx.cold_s, "sentiment_rerun_s": median(ctx.warm_s),
                           "articles": self.expected["articles"]})

    def call_time_spans(self, tr) -> list:
        """The raw load, which runs the serial-id jobs when called."""
        return [sp for sp in tr.spans if sp.name == "plans.load_raw_news"][:1]

    def layers(self, ctx: Ctx) -> dict[str, float]:
        tr = ctx.tracer
        ingest = tr.named("plans.run_ingestion")[0]
        cold = [sp for sp in tr.spans if sp.start < ingest.end]
        cold += [tr.named("enrich.score_sentiment")[0]]
        cold += tr.descendants(cold[-1])
        out: dict[str, float] = {}
        load = [sp for sp in cold if sp.name == "plans.load_raw_news"]
        out["plans.load_raw_news_s"] = sum(sp.seconds for sp in load)
        out["plans.load_raw_news.jobs"] = len(tr.jobs(load))
        for m in NEWS_MODELS:
            out[f"plans.model.{m}_s"] = sum(
                sp.seconds for sp in cold
                if sp.name in (f"plans.model.{m}", f"plans.model.{m}.write"))
        writes = [sp for sp in cold if sp.name.endswith(".write")]
        out["sources.write_s"] = sum(sp.seconds for sp in writes)
        out["sources.write_bytes"] = tr.totals(tr.jobs(writes)).output_bytes
        out["sources.scrape.exec_s"] = self.scrape_acc.value
        out["enrich.score_sentiment_s"] = tr.named("enrich.score_sentiment")[0].seconds
        sids = [sp for sp in cold if sp.name == "operators.serial_ids"]
        out["operators.serial_ids_s"] = sum(sp.seconds for sp in sids)
        out["operators.serial_ids.jobs"] = len(tr.jobs(sids))
        return out


def _spanned(tracer, name, fn):
    def wrapped(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)
    return wrapped


def _trace_news_calls(stack: ExitStack, tracer) -> None:
    """Spans around the program's own calls into its public functions
    during an ingest, patched in for a traced run only: the raw load,
    serial-id assignment, each model's build and each parquet write."""
    from pyspark.sql.readwriter import DataFrameWriter

    from canadiannewsdatapipeline_spark.plans import pipeline
    from canadiannewsdatapipeline_spark.plans.runner import ModelRunner

    stack.enter_context(mock.patch.object(
        pipeline, "load_raw_news",
        _spanned(tracer, "plans.load_raw_news", pipeline.load_raw_news)))
    stack.enter_context(mock.patch.object(
        pipeline, "assign_serial_ids",
        _spanned(tracer, "operators.serial_ids", pipeline.assign_serial_ids)))
    run = ModelRunner.run

    def traced_run(self, inputs, skip_existing=False):
        self.models = {n: replace(m, fn=_spanned(tracer, f"plans.model.{n}", m.fn))
                       for n, m in self.models.items()}
        return run(self, inputs, skip_existing)

    stack.enter_context(mock.patch.object(ModelRunner, "run", traced_run))
    parquet = DataFrameWriter.parquet

    def traced_parquet(self, path, *args, **kwargs):
        with tracer.span(f"plans.model.{os.path.basename(path)}.write"):
            return parquet(self, path, *args, **kwargs)

    stack.enter_context(mock.patch.object(DataFrameWriter, "parquet", traced_parquet))


WORKLOADS = {w.name: w for w in (NewsIngest, Dashboard)}
