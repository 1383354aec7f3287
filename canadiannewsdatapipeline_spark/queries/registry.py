"""Registry plumbing for the differential-oracle query corpus."""

from __future__ import annotations

import functools
import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None => driver does a rows-only check
    doc: str = ""


QUERIES: dict[str, QuerySpec] = {}

# Per-session logical-plan cache: (query name, sf_dir) -> (warehouse
# stamp, DataFrame). A registered query is a pure function of its
# warehouse, and a DataFrame is an immutable logical plan, so repeat
# invocations (bench warmup + timed trials, interactive reuse, the
# scale ladder) can return the same object instead of re-paying plan
# construction + analysis — which is real driver-side work for the
# wide-literal ANN plans (~1.6 s of analyzer time per build, see
# SCALE.md). The stamp (per-table file mtimes) invalidates when a
# warehouse is regenerated in place. Stored on the session object for
# the same lifecycle reason as sources/registry.py's table cache: a
# module-global map of DataFrames would strong-root their sessions
# forever; as an attribute the cache is a collectable cycle.
_PLAN_CACHE_ATTR = "_cndp_plan_cache"


def _warehouse_stamp(sf_dir: str) -> tuple:
    names = sorted(n for n in os.listdir(sf_dir) if n.endswith(".parquet"))
    return tuple(
        (n, os.path.getmtime(os.path.join(sf_dir, n))) for n in names
    )


def _plan_cached(
    name: str, fn: Callable[[SparkSession, str], DataFrame]
) -> Callable[[SparkSession, str], DataFrame]:
    if name.startswith("stream_"):
        # the streaming twins START a streaming query inside every call
        # (memory sink, AvailableNow) and return a view over the sink;
        # memoizing would silently skip the execution a repeat caller
        # asked for. A repeat call over unchanged files resumes from
        # the previous call's checkpoint instead
        # (streaming/ingest.complete_to_memory): the query still runs,
        # finds no new file, runs no micro-batch, and the previous
        # sink is returned.
        return fn

    @functools.wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        cache = getattr(spark, _PLAN_CACHE_ATTR, None)
        if cache is None:
            cache = {}
            setattr(spark, _PLAN_CACHE_ATTR, cache)
        stamp = _warehouse_stamp(sf_dir)
        key = (name, sf_dir)
        hit = cache.get(key)
        if hit is not None and hit[0] == stamp:
            return hit[1]
        df = fn(spark, sf_dir)
        cache[key] = (stamp, df)
        return df

    return wrapped


def is_plan_cached(spark: SparkSession, name: str, sf_dir: str) -> bool:
    """True iff a repeat ``QUERIES[name].fn(spark, sf_dir)`` call will
    be a plan-cache HIT — key present AND warehouse stamp current.
    Bare key membership is not enough: a warehouse regenerated in
    place keeps the key but fails the stamp check, and the wrapper
    re-plans (bench.py uses this to report that re-plan honestly)."""
    cache = getattr(spark, _PLAN_CACHE_ATTR, None)
    if not cache:
        return False
    hit = cache.get((name, sf_dir))
    return hit is not None and hit[0] == _warehouse_stamp(sf_dir)


def register(name: str, oracle: str | None, doc: str = ""):
    """Decorator: add a (spark, sf_dir) -> DataFrame callable to the corpus."""

    def wrap(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = QuerySpec(
            name=name,
            fn=_plan_cached(name, fn),
            oracle=oracle,
            doc=doc or fn.__doc__ or "",
        )
        return fn

    return wrap


def query_map() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in QUERIES.items()}


def oracle_sql_map() -> dict[str, str]:
    return {name: spec.oracle for name, spec in QUERIES.items() if spec.oracle is not None}
