"""Link-analysis frontier prioritization (beyond-reference: the
reference orders its frontier only by explicit priority/depth/FIFO,
scheduler/src; large-scale crawls order by evidence of importance —
backlink counts and PageRank-family scores, the OPIC/BFS+backlink
orderings of the crawl-ordering literature).

Two operators over a link-edge table (src, dst) — built from crawled
pages with ``link_graph``, which runs the crawl engine's own parse UDF
(the single-pass extractor with the C2 urljoin kernel fused in, so
each page is parsed and its hrefs resolved in one Python call):

* ``backlink_priority`` — exact in-degree per target. One partial
  aggregation on dst; integer contract, driver-hash-gated
  (``backlink_priority`` query).
* ``pagerank`` — classic damped power iteration as iterative
  DataFrame rounds: contribution join (rank/out_degree along each
  edge) + sum-agg per round, dangling mass redistributed uniformly so
  total mass stays 1 (pinned closed-form in tests). Lineage stays
  flat via per-round localCheckpoint exactly like dedup_clusters'
  loop (operators/textdedup.py:204) — rounds shuffle-bounded, no
  driver materialization of the graph. Float scores are pinned by
  pytest closed forms (cycle = uniform; star mass ordering), NOT
  driver-hashed: double aggregation is reduction-order-dependent, so
  cross-engine hash equality would be a flaky gate.

Feed either straight into the frontier: join scores onto candidate
URLs and write ``priority`` (W1 rank consumes it) — highest-evidence
pages fetch first."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def link_graph(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """(src, dst) edges from crawled pages: the engine's parse UDF
    (parse_resolve_udf, strict UTF-8) extracts each page's hrefs and
    resolves them against the page URL in one Python pass, so the plan
    holds one Python node and no filter over a UDF. Unresolvable hrefs
    yield no edge. Distinct edges (a page linking twice votes once,
    the link-analysis convention)."""
    from scrapy_rs_spark.functions.text import parse_resolve_udf

    return pages.select(
        F.col(url_col).alias("src"),
        F.explode(
            parse_resolve_udf(
                F.col(html_col), F.lit(None).cast("string"), F.col(url_col)
            ).links
        ).alias("dst"),
    ).distinct()


def backlink_priority(edges: DataFrame) -> DataFrame:
    """(url, backlinks) — exact in-degree per link target. The cheap,
    exact importance signal (and the tie-breaker under PageRank):
    one map-side-combining aggregation, integer output."""
    return (
        edges.groupBy(F.col("dst").alias("url"))
        .agg(F.count("*").cast("long").alias("backlinks"))
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    id_col_a: str = "src",
    id_col_b: str = "dst",
) -> DataFrame:
    """(url, rank) over the node set of ``edges`` after ``iterations``
    damped power steps; ranks sum to 1 (dangling nodes' mass is
    redistributed uniformly each step).

    Per round: one broadcast-free equi-join src→rank, one sum-agg of
    contributions, one scalar collect for the dangling mass — the
    same per-round job shape as the crawl loop itself. Node count is
    collected ONCE (a scalar); the rank frame is localCheckpoint'd per
    round so the plan never accretes."""
    # cut the edge-derivation lineage ONCE: each iteration runs two
    # actions (dangling-mass agg + eager checkpoint of new ranks) and
    # both join e/out_deg — without this, link_graph's extraction UDFs
    # and distinct-shuffle would re-execute every round
    e = edges.select(
        F.col(id_col_a).alias("src"), F.col(id_col_b).alias("dst")
    ).localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("url"))
        .unionByName(e.select(F.col("dst").alias("url")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    out_deg = (
        e.groupBy("src")
        .agg(F.count("*").alias("__deg"))
        .localCheckpoint(eager=True)
    )
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    base = (1.0 - damping) / n
    for _ in range(int(iterations)):
        with_deg = ranks.join(
            out_deg, ranks["url"] == out_deg["src"], "left"
        )
        # dangling mass: ranks of nodes with no outgoing edges — a
        # one-row aggregate, the only driver-side value per round
        dangling = (
            with_deg.filter(F.col("__deg").isNull())
            .agg(F.sum("rank"))
            .collect()[0][0]
            or 0.0
        )
        contribs = (
            with_deg.filter(F.col("__deg").isNotNull())
            .select(
                F.col("src").alias("__s"),
                (F.col("rank") / F.col("__deg")).alias("__share"),
            )
            .join(e, F.col("__s") == e["src"])
            .groupBy(F.col("dst").alias("url"))
            .agg(F.sum("__share").alias("__in"))
        )
        ranks = (
            nodes.join(contribs, "url", "left")
            .select(
                "url",
                (
                    F.lit(base + damping * dangling / n)
                    + F.lit(damping) * F.coalesce(F.col("__in"), F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks
