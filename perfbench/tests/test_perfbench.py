"""The benchmark's own tests (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import datagen, newsgen, oracle, run, stats  # noqa: E402


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_result_line_names_every_metric_with_its_unit():
    names = [n for n, _ in run.E2E]
    metrics = {n: (1.5, u) for n, u in run.E2E}
    doc = json.loads(stats.result_line(True, 3, 0, metrics, names))
    assert set(doc) == {"correct", "attempted", "failed", "metrics"}
    assert doc["metrics"] == {n: {"value": 1.5, "unit": u} for n, u in run.E2E}
    with pytest.raises(KeyError):
        stats.result_line(True, 3, 0, dict(list(metrics.items())[1:]), names)


def test_declared_metrics_match_what_the_runner_prints():
    bench = _bench_json()
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == run.E2E
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == run.PER_LAYER
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


@pytest.mark.parametrize("n,p", [(9, None), (19, None), (20, 50.0), (39, 50.0),
                                 (40, 75.0), (99, 75.0), (100, 90.0), (199, 90.0),
                                 (200, 95.0), (1000, 99.0), (10_000, 99.9)])
def test_tail_percentile_has_ten_samples_beyond_it(n, p):
    assert stats.tail_percentile(n) == p
    xs = [float(i) for i in range(n)]
    beyond = lambda q: sum(x > stats.percentile(xs, q) for x in xs)  # noqa: E731
    if p is not None:
        assert beyond(p) >= 10
    assert all(beyond(q) < 10 for q in stats.PERCENTILES if p is None or q > p)


def test_percentile_is_nearest_rank():
    xs = [float(i) for i in range(1, 101)]
    assert stats.percentile(xs, 50) == 50.0
    assert stats.percentile(xs, 90) == 90.0
    assert stats.percentile([3.0], 75) == 3.0


def _file_hashes(d: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as fh:
            out[name] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _row_counts(d: str) -> dict[str, int]:
    return {t: pq.ParquetFile(os.path.join(d, f"{t}.parquet")).metadata.num_rows
            for t in datagen.TABLES}


def test_warehouse_is_a_pure_function_of_seed(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    for d, seed in ((a, 7), (b, 7), (c, 8)):
        os.makedirs(d)
        datagen.build_warehouse(d, seed, 2)
    assert _file_hashes(a) == _file_hashes(b)
    ha, hc = _file_hashes(a), _file_hashes(c)
    assert ha["documents.parquet"] != hc["documents.parquet"]
    assert ha["embeddings.parquet"] != hc["embeddings.parquet"]
    assert _row_counts(a) == _row_counts(c)
    assert _row_counts(a)["lineitem"] == 2 * datagen.N_LINEITEM


def test_replication_offsets_keep_foreign_keys(tmp_path):
    d = str(tmp_path)
    datagen.build_warehouse(d, 1, 3)
    import duckdb

    con = duckdb.connect()
    orphans = con.execute(
        f"SELECT count(*) FROM '{d}/lineitem.parquet' l "
        f"ANTI JOIN '{d}/orders.parquet' o ON l.l_orderkey = o.o_orderkey"
    ).fetchone()[0]
    keys = con.execute(
        f"SELECT count(DISTINCT o_custkey) > {datagen.N_CUSTOMER} FROM '{d}/orders.parquet'"
    ).fetchone()[0]
    assert orphans == 0 and keys


def test_cached_warehouse_needs_its_sentinel(tmp_path):
    cache = str(tmp_path)
    oracles = {"n": "SELECT count(*) AS n FROM lineitem"}
    wh, digests = datagen.cached_warehouse(cache, 3, 1, oracles)
    assert digests["n"]["rows"] == 1
    os.remove(os.path.join(wh, datagen.SENTINEL))
    stamp = os.path.getmtime(os.path.join(wh, "lineitem.parquet"))
    os.utime(os.path.join(wh, "lineitem.parquet"), (0, 0))
    datagen.cached_warehouse(cache, 3, 1, oracles)
    assert os.path.getmtime(os.path.join(wh, "lineitem.parquet")) >= stamp


def test_news_pages_are_a_pure_function_of_seed():
    s, base = newsgen.SOURCES[0]
    url = newsgen.article_urls(s, base, 5)[3]
    assert newsgen.SeededFetcher(5)(url) == newsgen.SeededFetcher(5)(url)
    assert newsgen.SeededFetcher(5)(url) != newsgen.SeededFetcher(6)(url)
    assert newsgen.link_page(5, s, base, 40) == newsgen.link_page(5, s, base, 40)
    assert newsgen.expected_counts(5, 40) == newsgen.expected_counts(5, 40)


def test_generated_email_is_the_one_an_extractor_finds():
    email_re = re.compile(r"[\w\.-]+@[\w\-]+\.[a-zA-Z]{2,6}", re.ASCII)
    for s, base in newsgen.SOURCES:
        for url in newsgen.article_urls(s, base, 60):
            a = newsgen.article(11, s, url)
            m = email_re.search(a.html())
            assert (m.group(0) if m else None) == a.email


def test_link_page_lists_every_article_once_after_dedup():
    s, base = newsgen.SOURCES[2]
    hrefs = re.findall(r'href="([^"]+)"', newsgen.link_page(4, s, base, 50))
    absolute = [h if h.startswith("http") else base + h for h in hrefs if "politics" in h]
    assert list(dict.fromkeys(absolute)) == newsgen.article_urls(s, base, 50)


def test_digest_is_order_insensitive_and_value_sensitive():
    rows = [(1, 2.5, "a"), (2, None, "b")]
    d1 = oracle.digest(["X", "y", "z"], rows)
    d2 = oracle.digest(["x", "y", "z"], list(reversed(rows)))
    assert d1 == d2
    assert oracle.digest(["y", "x", "z"], [(2.5, 1, "a"), (None, 2, "b")]) == d1
    assert oracle.digest(["x", "y", "z"], [(1, 2.5000001, "a"), (2, None, "b")]) != d1
