"""A crawl round's fixed cost: the fused parse UDF, tiered seen
compaction and shuffle-free flat seen writes."""

import html as htmllib
import os

import pandas as pd
import pyspark.sql.functions as F
import pytest
from pyspark.sql.functions import pandas_udf

import scrapy_rs_spark.functions.text as text_mod
import scrapy_rs_spark.plans.engine as engine_mod
from scrapy_rs_spark.functions.text import (
    _PAGE_STRUCT,
    parse_page,
    parse_resolve_udf,
)
from scrapy_rs_spark.functions.url import resolve, urljoin_udf
from scrapy_rs_spark.plans.engine import CrawlEngine
from scrapy_rs_spark.settings import Settings
from scrapy_rs_spark.sources.mocksite import (
    mock_multihost_pages,
    mock_site_pages,
)
from scrapy_rs_spark.sources.store import CrawlStore

from test_url_kernel import JOIN_CORPUS


# ---- fused parse: same rows, same order as the unfused chain ----

@pandas_udf(_PAGE_STRUCT)
def _unfused_parse(html: pd.Series, encoding: pd.Series) -> pd.DataFrame:
    """The engine's previous parse UDF: text + raw hrefs, per-row
    decode override."""
    parsed = [
        parse_page(h, e if isinstance(e, str) and e else None)
        for h, e in zip(html, encoding)
    ]
    return pd.DataFrame(
        {"text": [t for t, _ in parsed], "links": [ls for _, ls in parsed]}
    )


def _unfused_links(pages):
    """parse → explode → urljoin_udf → drop unresolvable."""
    return (
        pages.select(
            F.col("url_canon").alias("base"),
            "depth",
            "cookies",
            F.explode(
                _unfused_parse(F.col("html"), F.col("encoding")).links
            ).alias("href"),
        )
        .withColumn("url", urljoin_udf(F.col("base"), F.col("href")))
        .filter(F.col("url").isNotNull())
        .select("url", "depth", "cookies")
    )


def _fused_links(pages):
    return pages.select(
        "depth",
        "cookies",
        F.explode(
            parse_resolve_udf(
                F.col("html"), F.col("encoding"), F.col("url_canon")
            ).links
        ).alias("url"),
    ).select("url", "depth", "cookies")


def _texts(pages, udf_col):
    return [r.t for r in pages.select(udf_col.text.alias("t")).collect()]


def _assert_same_parse(pages):
    pages = pages.coalesce(1)
    old = _unfused_links(pages).collect()
    new = _fused_links(pages).collect()
    assert len(new) > 0
    assert new == old
    assert _texts(
        pages,
        parse_resolve_udf(
            F.col("html"), F.col("encoding"), F.col("url_canon")
        ),
    ) == _texts(pages, _unfused_parse(F.col("html"), F.col("encoding")))


_MIXED_HREFS = [
    "javascript:void(0)",
    "/ok1",
    "mailto:a@b.test",
    "http://[broken/x",
    "ok2",
    "http:///nohost",
    "#frag",
]

_PAGE_DDL = (
    "url_canon STRING, depth INT, cookies MAP<STRING,STRING>,"
    " html BINARY, encoding STRING"
)


def _page(base, hrefs, depth=0, cookies=None, encoding=None, body=None):
    if body is None:
        anchors = "".join(
            f'<a href="{htmllib.escape(h, quote=True)}">x</a>' for h in hrefs
        )
        body = f"<html><body><p>{base}</p>{anchors}</body></html>"
        body = body.encode(encoding or "utf-8")
    return (base, depth, cookies, body, encoding)


@pytest.mark.parametrize("multihost", [False, True])
def test_fused_parse_matches_chain_on_mock_corpus(spark, multihost):
    if multihost:
        pages = mock_multihost_pages(spark, 40, 5, 4, golden_text=False)
    else:
        pages = mock_site_pages(spark, page_count=40, links_per_page=4)
    pages = pages.select(
        F.col("url").alias("url_canon"),
        (F.col("url").substr(-1, 1).cast("int")).alias("depth"),
        F.create_map(F.lit("sid"), F.col("url")).alias("cookies"),
        "html",
        F.lit(None).cast("string").alias("encoding"),
    )
    _assert_same_parse(pages)


def test_fused_parse_matches_chain_on_edge_corpus(spark):
    """The URL-kernel join corpus, an encoding override, invalid UTF-8
    and unresolvable hrefs, with NULL and non-NULL encodings mixed in
    one Arrow batch."""
    rows = [
        _page(base, [href], depth=i, cookies={"k": str(i)})
        for i, (base, href, _expected) in enumerate(JOIN_CORPUS)
    ]
    rows += [
        # shift-jis body decoded through the per-request override
        _page(
            "http://jp.test/a/",
            ["/日本", "b?q=値", "http://jp.test/c"],
            depth=3,
            encoding="shift_jis",
        ),
        # invalid UTF-8 with no override: NULL text, no links
        _page("http://bad.test/", [], body=b"\xff\xfe<a href='/x'>x</a>"),
        # unknown codec: same error channel
        _page(
            "http://bad.test/2",
            [],
            encoding="no-such-codec",
            body=b"<a href='/y'>y</a>",
        ),
        # unresolvable hrefs dropped, resolvable ones kept in order
        _page("http://u.test/p", _MIXED_HREFS, depth=1),
    ]
    pages = spark.createDataFrame(rows, _PAGE_DDL)
    _assert_same_parse(pages)
    by_url = {
        r.url_canon: r
        for r in pages.select(
            "url_canon",
            parse_resolve_udf(
                F.col("html"), F.col("encoding"), F.col("url_canon")
            ).alias("p"),
        ).collect()
    }
    jp = by_url["http://jp.test/a/"].p
    assert jp.text.startswith("http://jp.test/a/")
    assert jp.links[-1] == "http://jp.test/c"
    for bad in ("http://bad.test/", "http://bad.test/2"):
        assert by_url[bad].p.text is None
        assert by_url[bad].p.links == []
    resolved = [resolve("http://u.test/p", h) for h in _MIXED_HREFS]
    kept = [u for u in resolved if u is not None]
    assert 0 < len(kept) < len(resolved)
    assert by_url["http://u.test/p"].p.links == kept


def test_fused_parse_skips_resolution_for_null_base(monkeypatch):
    """A links hook owns the links column, so the engine passes the
    fused parse a NULL base: its rows get links [] without a call of
    resolve_series, and the per-request encoding still decodes the
    text. Calls the UDF's Python function on the driver."""
    calls = []
    real = text_mod.resolve_series

    def counting(base, href):
        calls.append(len(href))
        return real(base, href)

    monkeypatch.setattr(text_mod, "resolve_series", counting)
    rows = [
        _page("http://jp.test/a/", ["/日本", "b"], encoding="shift_jis"),
        _page("http://u.test/p", _MIXED_HREFS),
    ]
    html = pd.Series([r[3] for r in rows])
    encoding = pd.Series([r[4] for r in rows], dtype=object)
    run = parse_resolve_udf.func
    out = run(html, encoding, pd.Series([None, None], dtype=object))
    assert calls == []
    assert out["links"].tolist() == [[], []]
    assert out["text"].tolist()[0].startswith("http://jp.test/a/")
    # with a base, the batch's hrefs resolve in one call
    resolved = run(html, encoding, pd.Series([r[0] for r in rows]))
    assert len(calls) == 1
    assert resolved["text"].tolist() == out["text"].tolist()
    assert resolved["links"].tolist()[0][-1] == "http://jp.test/a/b"


def test_candidates_plan_has_no_python_eval(spark, tmp_path, monkeypatch):
    """Link resolution happens inside the parse UDF, whose output is
    checkpointed: the candidates plan that feeds the seen anti-join
    runs no Python at all."""
    plans = []
    real = engine_mod.anti_join_seen

    def spy(candidates, seen, **kw):
        plans.append(candidates._jdf.queryExecution().executedPlan().toString())
        return real(candidates, seen, **kw)

    monkeypatch.setattr(engine_mod, "anti_join_seen", spy)
    pages = mock_site_pages(spark, page_count=30, links_per_page=3)
    eng = CrawlEngine(
        spark,
        pages,
        Settings(scheduler_type="breadth_first", max_depth=2),
        store_path=str(tmp_path / "store"),
    )
    stats = eng.run(["http://mocksite.test/0"])
    assert stats.requests == 7  # closed form: {0}, {1,2,3}, {4,5,6}
    assert plans
    for plan in plans:
        assert "EvalPython" not in plan, plan


# ---- tiered seen compaction ----

def _commit(store, spark, rnd, lo, hi):
    delta = spark.range(lo, hi).select(F.col("id").alias("url_hash"))
    store.commit_round(rnd, None, delta, None, None, {"round": rnd})


def _delta_files(store, rnd):
    d = store._seen_delta_dir(rnd)
    out = {}
    for dirpath, _dirs, files in os.walk(d):
        for fn in files:
            fp = os.path.join(dirpath, fn)
            st = os.stat(fp)
            out[os.path.relpath(fp, d)] = (st.st_ino, st.st_mtime_ns)
    return out


def _seen_hashes(store):
    rows = [r.url_hash for r in store.load_seen().collect()]
    assert len(rows) == len(set(rows))  # no duplicate rows either
    return set(rows)


@pytest.mark.parametrize("base_round", [1, 4])
def test_compact_seen_leaves_dominant_base_untouched(
    spark, tmp_path, base_round
):
    """The deltas other than the largest hold fewer bytes than it: only
    they are folded, into the newest of them; the base delta's files
    are not rewritten (whether the base is the oldest or the newest
    delta)."""
    store = CrawlStore(spark, str(tmp_path / "s"))
    small = [r for r in range(1, 5) if r != base_round]
    _commit(store, spark, base_round, 0, 20_000)
    for r in small:
        _commit(store, spark, r, 100_000 + r * 10, 100_000 + r * 10 + 10)
    expect = _seen_hashes(store)
    base_files = _delta_files(store, base_round)
    store.compact_seen()
    assert _delta_files(store, base_round) == base_files
    assert store.seen_delta_rounds() == {base_round, small[-1]}
    assert _seen_hashes(store) == expect
    folded = {r.url_hash for r in store.load_seen_delta(small[-1]).collect()}
    assert folded == {h for h in expect if h >= 100_000}


def test_compact_seen_folds_everything_when_small_deltas_outgrow_base(
    spark, tmp_path
):
    store = CrawlStore(spark, str(tmp_path / "s"))
    _commit(store, spark, 1, 0, 3_000)
    for r in range(2, 6):
        _commit(store, spark, r, r * 10_000, r * 10_000 + 1_500)
    expect = _seen_hashes(store)
    store.compact_seen()
    assert store.seen_delta_rounds() == {5}
    assert _seen_hashes(store) == expect
    # a lone delta has nothing to fold: no rewrite
    files = _delta_files(store, 5)
    store.compact_seen()
    assert _delta_files(store, 5) == files


def test_compact_seen_drops_duplicates_in_folded_set(spark, tmp_path):
    """A crash window can leave the same url_hash in two deltas; the
    fold keeps one row per hash."""
    store = CrawlStore(spark, str(tmp_path / "s"))
    for rnd in (1, 2, 3):
        _commit(store, spark, rnd, (rnd - 1) * 50, (rnd - 1) * 50 + 100)
    store.compact_seen()
    assert store.seen_delta_rounds() == {3}
    rows = [r.url_hash for r in store.load_seen().collect()]
    assert sorted(rows) == list(range(200))


@pytest.mark.parametrize("fold_written", [True, False])
def test_plain_compaction_swap_crash_recovered_on_open(
    spark, tmp_path, fold_written
):
    """A crash between compact_seen's two renames leaves the target
    round without seen_delta; reopening the store restores it (from the
    written fold, else from the backup) so no hash drops out of the
    seen set."""
    root = str(tmp_path / "s")
    store = CrawlStore(spark, root)
    for rnd in (1, 2, 3):
        _commit(store, spark, rnd, rnd * 1_000, rnd * 1_000 + 500)
    expect = _seen_hashes(store)
    target = os.path.dirname(store._seen_delta_dir(3))
    if fold_written:
        union = store.load_seen_delta(1)
        for rnd in (2, 3):
            union = union.unionByName(store.load_seen_delta(rnd))
        store._write_seen(
            union.dropDuplicates(["url_hash"]),
            os.path.join(target, "seen_delta_compact"),
        )
    os.replace(
        store._seen_delta_dir(3), os.path.join(target, "seen_delta_old")
    )
    reopened = CrawlStore(spark, root)
    assert 3 in reopened.seen_delta_rounds()
    assert sorted(os.listdir(target)) == sorted(
        os.listdir(os.path.dirname(store._seen_delta_dir(2)))
    )
    rows = [r.url_hash for r in reopened.load_seen().collect()]
    assert set(rows) == expect
    reopened.compact_seen()
    assert _seen_hashes(reopened) == expect


def test_engine_seen_exact_across_tiered_compaction(spark, tmp_path):
    """A crawl resumed on a store with a large preloaded seen delta:
    the engine's own compaction leaves the base alone, and membership
    stays exact across the folds (the crawl fetches every page once
    and seen = preload + discovered)."""
    # 30 pages, 15 links: rounds 2-4 fetch 1, 15, 14 pages; the engine
    # compacts after rounds 2 and 4
    n_pages, preload = 30, 20_000
    pages = mock_site_pages(spark, page_count=n_pages, links_per_page=15)
    settings = Settings(scheduler_type="breadth_first", seen_compact_every=2)
    root = str(tmp_path / "store")
    eng = CrawlEngine(spark, pages, settings, store_path=root)
    eng.run(["http://mocksite.test/0"], max_rounds=0)
    far = spark.range(preload).select(
        F.xxhash64(
            F.concat(F.lit("http://far.test/"), F.col("id").cast("string"))
        ).alias("url_hash")
    )
    m0 = eng.store.load_metrics()[-1]
    eng.store.commit_round(
        1, eng.store.load_frontier(0), far, None, None,
        dict(m0, round=1, new_urls=preload,
             seen_size=m0["seen_size"] + preload),
    )
    base_files = _delta_files(eng.store, 1)
    eng = CrawlEngine(spark, pages, settings, store_path=root)
    stats = eng.resume()
    assert [m["requests"] for m in stats.per_round[2:]] == [1, 15, 14]
    assert _delta_files(eng.store, 1) == base_files
    items = [r.url for r in eng.items().collect()]
    assert len(items) == len(set(items)) == n_pages
    assert eng.seen().count() == preload + n_pages


# ---- flat seen writes ----

@pytest.mark.parametrize("parts", [2, 8])
def test_seen_writes_are_flat_and_shuffle_free(spark, tmp_path, parts):
    """write_seen_delta writes its input's partitions as they are: no
    bucket= directory, at most one parquet file per input partition,
    one Spark job of one stage. The compaction fold writes flat too."""
    store = CrawlStore(spark, str(tmp_path / "s"))
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def parquet_files(path):
        names = [n for n in os.listdir(path) if not n.startswith(("_", "."))]
        assert names and all(n.endswith(".parquet") for n in names), names
        return names

    for rnd in (1, 2, 3):
        store.begin_round(rnd)
        group = f"seen_write_{rnd}_{id(store)}"
        sc.setJobGroup(group, "write_seen_delta")
        try:
            store.write_seen_delta(
                rnd,
                spark.range(rnd * 5_000, rnd * 5_000 + 3_000,
                            numPartitions=parts)
                .select(F.col("id").alias("url_hash")),
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        store.commit_round(rnd, None, None, None, None, {"round": rnd},
                           clean=False)
        assert len(parquet_files(store._seen_delta_dir(rnd))) <= parts
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = tracker.getJobIdsForGroup(group)
        assert len(jobs) == 1
        assert len(tracker.getJobInfo(jobs[0]).stageIds) == 1
    store.compact_seen()  # three equal deltas: everything is folded
    assert store.seen_delta_rounds() == {3}
    parquet_files(store._seen_delta_dir(3))
    assert store.load_seen().count() == 9_000
