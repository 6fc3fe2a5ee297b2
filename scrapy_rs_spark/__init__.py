"""scrapy_rs_spark — a PySpark-native web-crawl analytics engine.

A brand-new, Spark-first reimplementation of the capabilities of the
zeliu/scrapy-rs reference crawler (see /root/reference, SURVEY.md):

* distributed URL frontier over per-round committed tables (Iceberg in
  production, plain parquet in this sandbox — see
  ``sources.store``),
* URL canonicalization + 64-bit hashing feeding a partitioned seen-set
  probed by left-anti join,
* per-host politeness scheduling (robots.txt, crawl-delay, per-domain
  caps) expressed as salted per-host repartitioning + Window ranks,
* fetch→parse→extract as vectorized pandas/Arrow UDF batches,
* iterative DataFrame crawl rounds with checkpoint/resume + lineage.

Everything is declarative DataFrame/SQL so Catalyst/AQE handle pushdown,
join strategy, and skew; Python runs only inside Arrow-batched UDFs.
"""

from scrapy_rs_spark.session import build_session
from scrapy_rs_spark.settings import Settings


def __getattr__(name):
    # lazy: these pull in the engine stack / optional surfaces
    if name in ("Spider", "run_crawl"):
        from scrapy_rs_spark import api

        return getattr(api, name)
    if name == "CrawlEngine":
        from scrapy_rs_spark.plans.engine import CrawlEngine

        return CrawlEngine
    if name == "CrawlMonitor":
        from scrapy_rs_spark.monitoring import CrawlMonitor

        return CrawlMonitor
    if name in (
        "read_warc",
        "warc_to_pages",
        "pages_to_warc_records",
        "cdx_index",
        "fetch_cdx_record",
        "stream_warc",
    ):
        from scrapy_rs_spark.sources import warc

        return getattr(warc, name)
    if name in (
        "robots_sitemaps",
        "sitemap_entries",
        "sitemap_index_entries",
        "sitemap_seeds",
    ):
        from scrapy_rs_spark.sources import sitemap

        return getattr(sitemap, name)
    raise AttributeError(name)


# ---- module-level scaffold helpers (reference python wrapper parity:
# python/src/scrapy_rs/__init__.py:275-302 exposes startproject /
# genspider / list_spiders / version as plain functions delegating to
# the CLI; same here, in-process instead of a subprocess) ----

def startproject(name: str, directory: str | None = None) -> int:
    """Create a new project scaffold (CLI `startproject` analogue)."""
    from scrapy_rs_spark.__main__ import main

    args = ["startproject", name]
    if directory:
        args += ["--directory", directory]
    return main(args)


def genspider(name: str, domain: str, template: str | None = None) -> int:
    """Generate a spider in ./spiders (CLI `genspider` analogue)."""
    from scrapy_rs_spark.__main__ import main

    args = ["genspider", name, domain]
    if template:
        args += ["--template", template]
    return main(args)


def list_spiders() -> list[str]:
    """Spider names under ./spiders (reference returns stdout lines;
    here the actual names, [] outside a project dir)."""
    import os

    if not os.path.isdir("spiders"):
        return []
    return sorted(
        stem
        for fn in os.listdir("spiders")
        for stem, ext in (os.path.splitext(fn),)
        if ext == ".py" and stem != "__init__"
    )


def version() -> str:
    """Version string (reference `version()` analogue)."""
    return (
        f"scrapy_rs_spark version {__version__}\n"
        "A PySpark-native web-crawl and corpus-curation engine"
    )


__all__ = [
    "build_session",
    "Settings",
    "Spider",
    "run_crawl",
    "CrawlEngine",
    "CrawlMonitor",
    "startproject",
    "genspider",
    "list_spiders",
    "version",
    "read_warc",
    "warc_to_pages",
    "pages_to_warc_records",
    "cdx_index",
    "fetch_cdx_record",
    "stream_warc",
    "robots_sitemaps",
    "sitemap_entries",
    "sitemap_index_entries",
    "sitemap_seeds",
]
__version__ = "0.1.0"
