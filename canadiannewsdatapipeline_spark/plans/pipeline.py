"""The News_Ingestion DAG (SURVEY.md §3.1) as one Spark pipeline.

Reference flow (ingest_news.py:76-189): per-source extract tasks ->
XCom combine -> CSV -> COPY raw_news -> translate french -> dbt DAG.
Here: per-source DataFrames (each a links->fetch->parse->enrich chain)
-> unionByName (S9; missing sources skip gracefully like the
ALL_DONE trigger rule) -> validate -> id assignment -> translate
(conditional overwrite) -> raw store -> model DAG -> marts.

The serial id is the 1-based global rank under a deterministic
ordering — not monotonically_increasing_id() — so reruns and oracles
agree (SURVEY.md §7.4 item 3), assigned by the distributed two-phase
operator (operators/serial_ids.py) rather than an unpartitioned
row_number window: the old form funneled the whole validated batch
through ONE partition (r10 verdict #1 — fine at the reference's ~90
rows/run, a serializing bottleneck on a 100 TB backfill).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..enrich.batch import translate_language
from ..operators.serial_ids import assign_serial_ids
from ..operators.validate import news_record_rules, scrub_invalid_authors, validate
from ..sources.scrape import (
    ArticleParser,
    Fetcher,
    enrich_author_emails,
    explode_authors,
    extract_links,
    fetch_pages,
    finalize_records,
    parse_articles,
)
from .models import (
    articles_mart,
    authors_mart,
    bridge_mart,
    sources_mart,
    stg_articles,
    transformed,
)
from .runner import Model, ModelRunner


def extract_source(
    pages: DataFrame,
    fetcher: Fetcher,
    parser: ArticleParser,
    keyword: str | None = "politics",
    n_articles: int = 10,
) -> DataFrame:
    """One per-source extract task (ingest_news.py:115-150):
    link page -> top-n article links -> fetch -> parse -> author
    fan-out -> email enrichment -> 13-key records."""
    links = extract_links(pages, keyword=keyword, top_n=n_articles)
    fetched = fetch_pages(links, fetcher)
    parsed = parse_articles(fetched, fixture_or(parser))
    return finalize_records(enrich_author_emails(explode_authors(parsed)))


def fixture_or(parser: ArticleParser) -> ArticleParser:
    return parser


def combine_sources(extracts: list[DataFrame]) -> DataFrame:
    """S9/U1 (newsairflowtasks.py:27-52): union the successful
    per-source extracts; an empty list is an error, missing sources
    are simply absent (ALL_DONE semantics)."""
    if not extracts:
        raise ValueError("no successful source extracts")
    return reduce(lambda a, b: a.unionByName(b), extracts)


def load_raw_news(combined: DataFrame, run_ts: str) -> DataFrame:
    """Validate (UD4), scrub authors (F14), assign deterministic serial
    ids, translate french rows (UD1, conditional overwrite), stamp
    ingest_ts (F17) — the reference's Load_to_Postgres +
    Translate_French_Articles legs.

    NOT a lazy plan builder (r11 advice): ``assign_serial_ids`` runs
    its snapshot + count + boundary-sample + bucket-count jobs at CALL
    time, executing the full fetch->parse->validate lineage — build
    this only when the load will actually run, not speculatively for
    plan inspection or dry-run scheduling."""
    validated = scrub_invalid_authors(validate(combined, news_record_rules()))
    kept = validated.filter(F.col("valid")).drop("valid", "reject_reason")
    with_ids = assign_serial_ids(
        kept, ["source_name", "url", "title", "author"], "id"
    )
    translated = translate_language(
        with_ids, ["title", "article_content"], language_col="language"
    )
    return translated.withColumn("ingest_ts", F.lit(run_ts).cast("timestamp"))


def news_model_dag(spark, warehouse_dir: str | None = None) -> ModelRunner:
    """The dbt DAG as runner models (staging views, mart tables)."""
    return ModelRunner(
        spark,
        [
            Model("stg_articles", stg_articles, deps=["raw_news"]),
            Model("transformed", transformed, deps=["stg_articles"]),
            Model("articles", articles_mart, deps=["transformed"],
                  materialized="table"),
            Model("authors", authors_mart, deps=["transformed"],
                  materialized="table"),
            Model("sources", sources_mart, deps=["transformed"],
                  materialized="table"),
            Model("article_author_join_table", bridge_mart, deps=["transformed"],
                  materialized="table"),
        ],
        warehouse_dir=warehouse_dir,
    )


def run_ingestion(
    spark,
    source_pages: dict[str, DataFrame],
    fetcher: Fetcher,
    parser: ArticleParser,
    run_ts: str,
    warehouse_dir: str | None = None,
    n_articles: int = 10,
) -> dict[str, DataFrame]:
    """End-to-end News_Ingestion: extract each source, combine, load,
    run the model DAG; returns every materialized frame. Eager from
    the ``load_raw_news`` call on (see its docstring): the extract
    lineage executes inside this function, not at first action on the
    returned frames.

    ``transformed`` feeds all four marts, so the runner computes it
    once per run and the four mart writes read that one result; it
    checkpoints the view rather than persisting it so a later run over
    the same raw store can never read this run's cached snapshot (see
    plans/runner.py)."""
    extracts = []
    for _, pages in sorted(source_pages.items()):
        extracts.append(extract_source(pages, fetcher, parser, n_articles=n_articles))
    raw = load_raw_news(combine_sources(extracts), run_ts)
    runner = news_model_dag(spark, warehouse_dir)
    return runner.run({"raw_news": raw})
