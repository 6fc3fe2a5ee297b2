"""Link-analysis prioritization: closed-form graphs.

PageRank closed forms used:
* k-cycle: uniform 1/k is the exact fixpoint (and the iteration is
  mass-preserving, so it holds at every step).
* star 1←{2,3,4} with no out-edges from 1: node 1 accumulates strictly
  more mass than the leaves; total mass stays 1 thanks to dangling
  redistribution.
"""

import pytest

from scrapy_rs_spark.operators.linkrank import (
    backlink_priority,
    link_graph,
    pagerank,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def test_backlink_priority_counts(spark):
    e = _edges(
        spark,
        [("a", "b"), ("c", "b"), ("d", "b"), ("b", "a"), ("d", "a")],
    )
    got = {r["url"]: r["backlinks"] for r in backlink_priority(e).collect()}
    assert got == {"b": 3, "a": 2}


def test_pagerank_cycle_is_uniform(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    ranks = {r["url"]: r["rank"] for r in pagerank(e, iterations=5).collect()}
    for v in ranks.values():
        assert v == pytest.approx(1 / 3, abs=1e-12)


def test_pagerank_star_with_dangling_hub(spark):
    e = _edges(spark, [("b", "a"), ("c", "a"), ("d", "a")])
    ranks = {r["url"]: r["rank"] for r in pagerank(e, iterations=20).collect()}
    assert sum(ranks.values()) == pytest.approx(1.0, abs=1e-9)
    assert ranks["a"] > ranks["b"]
    assert ranks["b"] == pytest.approx(ranks["c"], abs=1e-12)
    assert ranks["b"] == pytest.approx(ranks["d"], abs=1e-12)


def test_link_graph_from_mocksite(spark):
    """Edges off the mock web match the closed-form (i+k+1)%N graph;
    every page then has exactly `links` backlinks (the regular-graph
    degenerate case the docstring warns makes backlink ordering flat)."""
    from scrapy_rs_spark.sources.mocksite import mock_site_pages

    n, links = 12, 3
    pages = mock_site_pages(spark, page_count=n, links_per_page=links,
                            golden_text=False)
    e = link_graph(pages)
    assert e.count() == n * links
    got = {r["url"]: r["backlinks"] for r in backlink_priority(e).collect()}
    assert got == {
        f"http://mocksite.test/{i}": links for i in range(n)
    }


def test_link_graph_runs_one_python_node(spark):
    """link_graph resolves inside the parse UDF: its plan evaluates one
    Python UDF once and filters on no UDF output."""
    from scrapy_rs_spark.sources.mocksite import mock_site_pages
    from test_round_kernel import python_evals

    pages = mock_site_pages(spark, page_count=6, links_per_page=2,
                            golden_text=False)
    assert python_evals(link_graph(pages)) == {"parse_resolve_udf": 1}
