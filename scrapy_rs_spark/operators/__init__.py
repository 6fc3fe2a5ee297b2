from scrapy_rs_spark.operators.scheduler import (
    FrontierScheduler,
    apply_enqueue_filters,
    effective_priority_col,
    frontier_order,
    per_host_topk,
    rank_per_host,
    take_batch,
)
from scrapy_rs_spark.operators.dedup import (
    dedup_in_batch,
    anti_join_seen,
)
from scrapy_rs_spark.operators.fetch import (
    fetch_join,
    split_fetched,
    strict_spacing,
)
from scrapy_rs_spark.operators.linkrank import (
    backlink_priority,
    link_graph,
    pagerank,
)
from scrapy_rs_spark.operators.recrawl import host_backoff, recrawl_schedule
from scrapy_rs_spark.operators.textdedup import (
    dedup_clusters,
    exact_dedup,
    lsh_candidate_pairs,
    lsh_star_edges,
    minhash_signatures,
    simhash,
)

__all__ = [
    "backlink_priority",
    "link_graph",
    "pagerank",
    "host_backoff",
    "recrawl_schedule",
    "dedup_clusters",
    "exact_dedup",
    "lsh_candidate_pairs",
    "lsh_star_edges",
    "minhash_signatures",
    "simhash",
    "FrontierScheduler",
    "apply_enqueue_filters",
    "effective_priority_col",
    "frontier_order",
    "per_host_topk",
    "rank_per_host",
    "take_batch",
    "dedup_in_batch",
    "anti_join_seen",
    "fetch_join",
    "split_fetched",
    "strict_spacing",
]
