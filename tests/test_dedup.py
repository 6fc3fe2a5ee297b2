"""Seen-set anti-join + in-batch winner semantics (F1/F2/J1 in
SURVEY.md §2): membership must match the reference scheduler exactly
(enqueue-marks-seen, first-wins — memory_scheduler.rs:37-56)."""

import pyspark.sql.functions as F

from scrapy_rs_spark.operators.dedup import anti_join_seen, dedup_in_batch

FRONTIER_DDL = (
    "url STRING, url_hash BIGINT, priority INT, depth INT,"
    " discovery_round INT, discovery_seq BIGINT, dont_filter BOOLEAN"
)


def _frontier(spark, rows):
    return spark.createDataFrame(rows, FRONTIER_DDL)


def test_in_batch_winner_deterministic(spark):
    # same identity enqueued twice → highest priority wins; ties break
    # by depth, then discovery order, then url (north-rule total order)
    df = _frontier(
        spark,
        [
            ("u", 1, 0, 2, 0, 5, False),
            ("u", 1, 3, 1, 0, 9, False),  # winner: higher priority
            ("v", 2, 1, 1, 0, 1, False),
            ("v", 2, 1, 1, 0, 0, False),  # winner: earlier arrival
        ],
    )
    out = {r.url_hash: r for r in dedup_in_batch(df).collect()}
    assert len(out) == 2
    assert out[1].priority == 3
    assert out[2].discovery_seq == 0


def test_anti_join_drops_seen(spark):
    cand = _frontier(spark, [("a", 1, 0, 0, 0, 0, False), ("b", 2, 0, 0, 0, 0, False)])
    seen = spark.createDataFrame([(1,)], "url_hash BIGINT")
    out = anti_join_seen(cand, seen).collect()
    assert [r.url for r in out] == ["b"]


def test_dont_filter_bypasses_seen(spark):
    # documented deviation SURVEY.md §7.0: dont_filter honored
    cand = _frontier(spark, [("a", 1, 0, 0, 0, 0, True), ("b", 2, 0, 0, 0, 0, False)])
    seen = spark.createDataFrame([(1,), (2,)], "url_hash BIGINT")
    out = anti_join_seen(cand, seen).collect()
    assert [r.url for r in out] == ["a"]


def test_dedup_clusters_connected_components(spark):
    """dedup_clusters: min-label propagation finds components — chain,
    triangle, and a 2-cluster graph; keeper = min id per component."""
    from scrapy_rs_spark.operators.textdedup import dedup_clusters

    # components: {1,2,3,4} (chain), {10,11,12} (triangle), {20,21}
    pairs = spark.createDataFrame(
        [
            (1, 2), (2, 3), (3, 4),
            (10, 11), (11, 12), (10, 12),
            (20, 21),
        ],
        "id_a BIGINT, id_b BIGINT",
    )
    out = {r.doc_id: r.cluster_id for r in dedup_clusters(pairs).collect()}
    assert out == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
    }


def test_dedup_clusters_deep_chain_converges_fast(spark):
    """Pointer jumping: a 60-node path (diameter 59) must converge well
    within max_iters=20 — O(log d) rounds, not O(d) (round-3 verdict
    ask: plain min-propagation needed 59 rounds here)."""
    from scrapy_rs_spark.operators.textdedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(59)], "id_a BIGINT, id_b BIGINT"
    )
    out = {r.doc_id: r.cluster_id for r in dedup_clusters(pairs).collect()}
    assert len(out) == 60
    assert set(out.values()) == {0}


def test_dedup_clusters_raises_on_nonconvergence(spark):
    """max_iters exhausting before the fixpoint must raise (not return
    silently-wrong labels), and 'warn' must warn (round-3 verdict)."""
    import warnings

    import pytest

    from scrapy_rs_spark.operators.textdedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(59)], "id_a BIGINT, id_b BIGINT"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(pairs, max_iters=2)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        labels = dedup_clusters(pairs, max_iters=2, on_nonconverged="warn")
        assert labels.count() == 60  # returned, but loudly flagged
    assert any("did not converge" in str(x.message) for x in w)


def test_lsh_star_edges_component_equivalent(spark):
    """Bucket→hub star contraction must yield the SAME connected
    components (and therefore the same dedup_clusters output) as the
    all-pairs candidate list, with at most O(Σk) edges."""
    from scrapy_rs_spark.operators.textdedup import (
        dedup_clusters,
        lsh_candidate_pairs,
        lsh_star_edges,
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "the quick brown fox jumps over the lazy cat"),
            (10, "completely different text about spark shuffles here"),
            (11, "completely different text about spark shuffles here"),
            (20, "a singleton document with no duplicate partner at all"),
        ],
        "doc_id BIGINT, text STRING",
    )
    sigs = minhash_signatures(docs, bands=4).localCheckpoint(eager=True)
    via_pairs = {
        r.doc_id: r.cluster_id
        for r in dedup_clusters(lsh_candidate_pairs(sigs)).collect()
    }
    stars = lsh_star_edges(sigs)
    via_stars = {
        r.doc_id: r.cluster_id for r in dedup_clusters(stars).collect()
    }
    assert via_pairs == via_stars
    # star edge count is bounded by the signature rows (Σk), while the
    # pair list is quadratic per bucket
    assert stars.count() <= sigs.count()
    # every star edge points at its bucket hub (id_b < id_a)
    assert stars.filter("id_b >= id_a").count() == 0
