"""The round kernel (plans/round.py) shared by CrawlEngine rounds and
StreamingCrawl micro-batches: both crawls agree on a corpus with a
redirect and an undecodable page, neither probes partition counts, and
no plan the kernel builds evaluates a Python UDF twice."""

import re
from collections import Counter

import pandas as pd
import pyspark.sql.functions as F
import pytest
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType

import scrapy_rs_spark.plans.engine as engine_mod
from scrapy_rs_spark.functions.text import extract_links
from scrapy_rs_spark.plans.engine import CrawlEngine
from scrapy_rs_spark.schemas import FRONTIER_DDL
from scrapy_rs_spark.settings import Settings
from scrapy_rs_spark.sources.mocksite import BASE_URL, mock_site_pages
from scrapy_rs_spark.streaming.frontier_stream import StreamingCrawl


def _html(*links):
    body = "".join(f'<a href="{u}">l</a>' for u in links)
    return f"<html><body><p>page</p>{body}</body></html>".encode()


# two hosts; a.test/r answers 301 → /t, and a.test/2 is not valid UTF-8
_CORPUS = [
    ("http://a.test/0", 200,
     _html("http://b.test/1", "/2", "/r"), None),
    ("http://b.test/1", 200, _html("http://a.test/3"), None),
    ("http://a.test/2", 200, b"<html>\xff\xfe broken</html>", None),
    ("http://a.test/r", 301, b"", "/t"),
    ("http://a.test/t", 200, _html("http://b.test/4"), None),
    ("http://a.test/3", 200, _html("http://a.test/0"), None),
    ("http://b.test/4", 200, _html(), None),
]


def _pages(spark):
    return spark.createDataFrame(
        [
            (u, st, bytearray(b), {"location": loc} if loc else None)
            for u, st, b, loc in _CORPUS
        ],
        "url STRING, status INT, html BINARY, headers MAP<STRING,STRING>",
    ).localCheckpoint(eager=True)


def test_streaming_matches_engine_on_redirect_and_bad_utf8(spark, tmp_path):
    pages = _pages(spark)
    settings = Settings(scheduler_type="breadth_first")
    eng = CrawlEngine(
        spark, pages, settings, store_path=str(tmp_path / "engine")
    )
    stats = eng.run(["http://a.test/0"])
    batch_items = eng.items()
    sc = StreamingCrawl(spark, pages, str(tmp_path / "stream"), settings)
    stream_items = sc.run(["http://a.test/0"], timeout_s=240, idle_stop_s=12)

    want = {
        "http://a.test/0", "http://b.test/1", "http://a.test/3",
        "http://a.test/t", "http://b.test/4",
    }
    for items in (batch_items, stream_items):
        assert {r.url for r in items.select("url").collect()} == want
        assert items.filter(F.col("text").isNull()).count() == 0
    # the undecodable page is an error, not an item
    assert stats.errors == 1


def test_round_path_never_probes_partitions(spark, tmp_path, monkeypatch):
    pages = mock_site_pages(spark, page_count=30, links_per_page=3)
    real = ClassicDataFrame.rdd
    touched = []

    def spy(df):
        touched.append(df)
        return real.fget(df)

    monkeypatch.setattr(ClassicDataFrame, "rdd", property(spy))
    eng = CrawlEngine(
        spark,
        pages,
        Settings(scheduler_type="breadth_first", max_depth=2),
        store_path=str(tmp_path / "store"),
    )
    stats = eng.run([f"{BASE_URL}/0"])
    assert stats.rounds == 3  # {0}, {1,2,3}, {4,5,6}

    sc = StreamingCrawl(spark, pages, str(tmp_path / "stream"), Settings())
    sc.seed([f"{BASE_URL}/0"])
    sc._process_batch(
        spark.read.schema(FRONTIER_DDL).parquet(sc.frontier_dir), 0
    )
    assert sc.items().count() == 1
    assert touched == []


# ---- no Python UDF evaluated twice in one plan ----

_UDF_NAMES = (
    "parse_resolve_udf",
    "resolve_links_udf",
    "urljoin_udf",
    "links_hook",
    "text_hook",
)


def python_evals(df) -> Counter:
    """Python UDF name → number of ArrowEvalPython nodes evaluating it
    in df's executed plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    nodes = Counter()
    for line in plan.splitlines():
        if "ArrowEvalPython" in line:
            udfs = line.split("ArrowEvalPython", 1)[1].split("], [")[0]
            nodes.update(
                n for n in _UDF_NAMES if re.search(rf"\b{n}\(", udfs)
            )
    return nodes


@pandas_udf(ArrayType(StringType()))
def links_hook(html: pd.Series) -> pd.Series:
    return html.map(extract_links)


@pandas_udf(StringType())
def text_hook(html: pd.Series) -> pd.Series:
    return html.map(lambda b: bytes(b).decode("utf-8", "replace"))


@pytest.mark.parametrize(
    "hooks",
    [{}, {"parse_links_udf": links_hook},
     {"parse_links_udf": links_hook, "parse_text_udf": text_hook}],
    ids=["no_hooks", "links_hook", "text_and_links_hooks"],
)
def test_expand_round_evaluates_each_udf_once(
    spark, tmp_path, monkeypatch, hooks
):
    """Every plan expand_round builds on a crawl with a 301 row (its
    parse checkpoint and its candidates) runs each Python UDF in at
    most one ArrowEvalPython node; with both the text and the links
    hook set the default extractor does not run at all."""
    real_expand = engine_mod.expand_round
    real_ckpt = ClassicDataFrame.localCheckpoint
    evals = []

    def ckpt(df, *args, **kwargs):
        evals.append(python_evals(df))
        return real_ckpt(df, *args, **kwargs)

    def expand(*args, **kwargs):
        monkeypatch.setattr(ClassicDataFrame, "localCheckpoint", ckpt)
        try:
            items, items_raw, candidates = real_expand(*args, **kwargs)
        finally:
            monkeypatch.setattr(ClassicDataFrame, "localCheckpoint", real_ckpt)
        evals.append(python_evals(candidates))
        return items, items_raw, candidates

    monkeypatch.setattr(engine_mod, "expand_round", expand)
    eng = CrawlEngine(
        spark,
        _pages(spark),
        Settings(scheduler_type="breadth_first"),
        store_path=str(tmp_path / "store"),
        **hooks,
    )
    stats = eng.run(["http://a.test/0"])
    assert stats.requests == 7
    assert stats.items == (6 if "parse_text_udf" in hooks else 5)
    for nodes in evals:
        assert all(n <= 1 for n in nodes.values()), nodes
    total = sum(evals, Counter())
    assert total["resolve_links_udf"] > 0  # the redirect leg was planned
    assert (total["links_hook"] > 0) == ("parse_links_udf" in hooks)
    assert (total["text_hook"] > 0) == ("parse_text_udf" in hooks)
    assert (total["parse_resolve_udf"] == 0) == (len(hooks) == 2)
