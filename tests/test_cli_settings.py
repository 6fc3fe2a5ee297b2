"""CLI entry point (reference main.rs parity) + settings-file loading
(reference flat UPPER_SNAKE keys, src/config_adapters.rs:33-66)."""

import json
import subprocess
import sys

from scrapy_rs_spark.settings import Settings


def test_settings_from_reference_keys(tmp_path):
    cfg = {
        "CONCURRENT_REQUESTS": 8,
        "MAX_DEPTH": 3,
        "SCHEDULER_TYPE": "breadth_first",
        "CRAWL_STRATEGY": "breadth_first",
        "DOMAIN_DELAY_MS": 250,
        "MAX_REQUESTS_PER_DOMAIN": 9,
        "USER_AGENT": "ua/1.0",
        "URL_DENY_PATTERN": "/admin/",
        "unknown_key_ignored": True,
    }
    p = tmp_path / "settings.json"
    p.write_text(json.dumps(cfg))
    s = Settings.from_file(str(p))
    assert s.concurrent_requests == 8
    assert s.max_depth == 3
    assert s.scheduler_type == "breadth_first"
    assert s.domain_delay_ms == 250
    assert s.max_requests_per_domain == 9
    assert s.user_agent == "ua/1.0"
    assert s.url_deny_pattern == "/admin/"


def test_settings_ignore_removed_keys():
    """A settings dict written for an older release still loads: a key
    that is no longer a field (the fetch broadcast gate, now the
    engine constant FETCH_BROADCAST_MAX_BATCH; the seen-set bucket
    count, gone with the bucketed seen layout) is ignored."""
    s = Settings.from_dict(
        {"fetch_broadcast_max_batch": 7, "seen_buckets": 32, "MAX_DEPTH": 2}
    )
    assert s.max_depth == 2
    assert not hasattr(s, "fetch_broadcast_max_batch")
    assert not hasattr(s, "seen_buckets")


def test_cli_crawl(spark, tmp_path):
    """Drive `python -m scrapy_rs_spark crawl` end-to-end in a
    subprocess (the real CLI surface, fresh interpreter)."""
    from scrapy_rs_spark.sources.mocksite import mock_site_pages

    pages_path = str(tmp_path / "pages")
    mock_site_pages(spark, 20, 5, partitions=2).write.parquet(pages_path)
    settings_path = tmp_path / "settings.json"
    settings_path.write_text(json.dumps({"MAX_DEPTH": 1, "SCHEDULER_TYPE": "breadth_first"}))
    out = subprocess.run(
        [
            sys.executable, "-m", "scrapy_rs_spark", "crawl",
            "--pages", pages_path,
            "--seeds", "http://mocksite.test/0",
            "--settings", str(settings_path),
            "--store", str(tmp_path / "store"),
            "--master", "local[4]",
            "--json",
        ],
        capture_output=True,
        text=True,
        cwd="/root/repo",
        timeout=420,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    stats = json.loads(out.stdout.strip().splitlines()[-1])
    # depth ≤ 1 from seed 0 over (i+k+1)%20, 5 links: {0} ∪ {1..5}
    assert stats["requests"] == 6
    assert stats["items"] == 6
    assert stats["errors"] == 0


def test_cli_no_seeds_errors():
    out = subprocess.run(
        [sys.executable, "-m", "scrapy_rs_spark", "crawl", "--pages", "/x"],
        capture_output=True,
        text=True,
        cwd="/root/repo",
        timeout=60,
    )
    assert out.returncode == 2
    assert "no seeds" in out.stderr


def test_cli_settings_py_start_urls_and_resume(spark, tmp_path):
    """Reference-shaped settings.py drives the spider (START_URLS /
    ALLOWED_DOMAINS, main.rs:567-605), and --resume continues a store
    that run() would otherwise refuse."""
    from scrapy_rs_spark.sources.mocksite import mock_site_pages

    pages_path = str(tmp_path / "pages")
    mock_site_pages(spark, 20, 5, partitions=2).write.parquet(pages_path)
    settings_path = tmp_path / "settings.py"
    settings_path.write_text(
        "# reference-style settings.py\n"
        "SCHEDULER_TYPE = 'breadth_first'\n"
        "MAX_DEPTH = 1\n"
        "START_URLS = ['http://mocksite.test/0']\n"
        "ALLOWED_DOMAINS = ['mocksite.test']\n"
    )
    store = str(tmp_path / "store")
    args = [
        sys.executable, "-m", "scrapy_rs_spark", "crawl",
        "--pages", pages_path,
        "--settings", str(settings_path),
        "--store", store,
        "--master", "local[4]",
        "--json",
    ]
    out = subprocess.run(
        args, capture_output=True, text=True, cwd="/root/repo", timeout=420
    )
    assert out.returncode == 0, out.stderr[-2000:]
    stats = json.loads(out.stdout.strip().splitlines()[-1])
    assert stats["requests"] == 6  # seeds came from START_URLS

    # --resume on the finished store is a no-op continuation, rc 0
    out2 = subprocess.run(
        args + ["--resume"],
        capture_output=True, text=True, cwd="/root/repo", timeout=420,
    )
    assert out2.returncode == 0, out2.stderr[-2000:]
    stats2 = json.loads(out2.stdout.strip().splitlines()[-1])
    assert stats2["requests"] == 6  # prior rounds' totals, nothing re-crawled


def test_cli_settings_dotted_module_path(spark, tmp_path):
    """`--settings mypkg.settings` loads a LIVE module via
    Settings.from_module (PySettings.from_module analogue,
    python/src/lib.rs:1065-1075) — computed values work, START_URLS
    builds the spider."""
    from scrapy_rs_spark.sources.mocksite import mock_site_pages

    pages_path = str(tmp_path / "pages")
    mock_site_pages(spark, 20, 5, partitions=2).write.parquet(pages_path)
    pkg = tmp_path / "clipkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "settings.py").write_text(
        "SCHEDULER_TYPE = 'breadth_first'\n"
        "MAX_DEPTH = 0 + 1  # a computed value the file parser skips\n"
        "START_URLS = ['http://mocksite.test/' + str(0)]\n"
        "ALLOWED_DOMAINS = ['mocksite.test']\n"
    )
    import os

    env = dict(os.environ)
    env["PYTHONPATH"] = f"{tmp_path}{os.pathsep}/root/repo" + (
        os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else ""
    )
    out = subprocess.run(
        [
            sys.executable, "-m", "scrapy_rs_spark", "crawl",
            "--pages", pages_path,
            "--settings", "clipkg.settings",  # dotted path, not a file
            "--store", str(tmp_path / "store"),
            "--master", "local[4]",
            "--json",
        ],
        capture_output=True, text=True, cwd="/root/repo", timeout=420,
        env=env,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    stats = json.loads(out.stdout.strip().splitlines()[-1])
    assert stats["requests"] == 6  # MAX_DEPTH=1 + START_URLS both honored
