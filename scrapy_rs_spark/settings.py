"""Engine settings.

Mirrors the reference's flat settings map and key names
(/root/reference/src/settings.rs:68-76, key inventory
/root/reference/src/config_adapters.rs:33-66) as a typed dataclass.
Defaults follow the reference defaults
(/root/reference/engine/src/config/mod.rs:100-130,
/root/reference/downloader/src/lib.rs:43-56).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field, fields


@dataclass
class Settings:
    # engine (engine/src/config/mod.rs:103-108)
    concurrent_requests: int = 16  # per-round fetch batch size analogue
    concurrent_items: int = 100
    download_delay_ms: int = 0
    max_depth: int | None = None
    page_limit: int | None = None
    respect_robots_txt: bool = True  # reference flag default true (config/mod.rs:108)
    # scheduler (src/config_adapters.rs:119-175)
    scheduler_type: str = "domain_group"  # memory|fifo|bfs|dfs|domain_group
    crawl_strategy: str = "priority"  # priority|breadth_first|depth_first
    domain_delay_ms: int = 0
    max_requests_per_domain: int | None = None
    domain_whitelist: list[str] = field(default_factory=list)
    domain_blacklist: list[str] = field(default_factory=list)
    # downloader (downloader/src/lib.rs:43-56)
    user_agent: str = "scrapy-rs-spark/0.1"
    request_timeout_ms: int = 30_000
    max_retries: int = 3
    retry_backoff_base_ms: int = 1_000
    retry_backoff_factor: float = 2.0
    follow_redirects: bool = True
    max_redirects: int = 10
    # url-filter middleware (middleware/src/lib.rs:213-299)
    url_allow_pattern: str | None = None
    url_deny_pattern: str | None = None
    # spark-side knobs (no reference analogue; scale levers)
    round_duration_ms: int = 10_000  # politeness budget discretization window
    seen_compact_every: int = 16  # fold seen deltas every N rounds
    # close-lifecycle bound (engine/src/lib.rs:1285-1420: the reference
    # wraps each spider/pipeline/middleware close hook in a 5 s timeout
    # so a hanging hook cannot hang crawl exit)
    close_timeout_ms: int = 5_000
    # resource control (engine/src/resource_control.rs, enable flag
    # engine/src/lib.rs:155-157): DRIVER-side limits sampled at round
    # boundaries; 0 = no limit (the reference default). Executor
    # memory/CPU stay delegated to the cluster manager + AQE (SURVEY
    # §2.9) — these bound the driver process and the frontier backlog,
    # the parts a Spark driver actually owns. See
    # plans/resource_control.py.
    enable_resource_monitoring: bool = False
    max_memory_bytes: int = 0  # driver RSS limit
    max_cpu_pct: float = 0.0  # driver CPU%% limit (100 = one core)
    max_pending_requests: int = 0  # committed frontier-size limit
    throttle_factor: float = 0.5  # boundary sleep = factor × interval
    monitor_interval_ms: int = 1000
    # strict per-request wall-clock spacing (T1 fidelity mode): when on,
    # the fetch batch is paced executor-locally so one host's requests
    # are released >= effective_delay apart WITHIN a round, matching the
    # reference slot's sleep-until-delay (engine/src/slot.rs:127-137).
    # Off by default — the per-round budget is the scale contract (same
    # served rate, no per-task 1/delay throughput cap); see
    # operators/fetch.py strict_spacing and SURVEY §7.0.
    strict_delay: bool = False

    # ---- reference-style flat-key loading (src/settings.rs:103-108) ----
    _KEYMAP = {
        "CONCURRENT_REQUESTS": "concurrent_requests",
        "CONCURRENT_ITEMS": "concurrent_items",
        "DOWNLOAD_DELAY_MS": "download_delay_ms",
        "MAX_DEPTH": "max_depth",
        "PAGE_LIMIT": "page_limit",
        "RESPECT_ROBOTS_TXT": "respect_robots_txt",
        "SCHEDULER_TYPE": "scheduler_type",
        "CRAWL_STRATEGY": "crawl_strategy",
        "DOMAIN_DELAY_MS": "domain_delay_ms",
        "MAX_REQUESTS_PER_DOMAIN": "max_requests_per_domain",
        "DOMAIN_WHITELIST": "domain_whitelist",
        "DOMAIN_BLACKLIST": "domain_blacklist",
        "USER_AGENT": "user_agent",
        "REQUEST_TIMEOUT": "request_timeout_ms",
        "MAX_RETRIES": "max_retries",
        "FOLLOW_REDIRECTS": "follow_redirects",
        "URL_ALLOW_PATTERN": "url_allow_pattern",
        "URL_DENY_PATTERN": "url_deny_pattern",
    }

    @classmethod
    def from_dict(cls, raw: dict) -> "Settings":
        """Accept both reference UPPER_SNAKE keys and native field names.

        Unit note: the reference's REQUEST_TIMEOUT is SECONDS (it feeds
        DownloaderConfig.timeout, config_adapters.rs:43/76, default 30 s)
        while the native field is request_timeout_ms — the reference key
        is converted; the native key (request_timeout_ms /
        REQUEST_TIMEOUT_MS) passes through untouched."""
        native = {f.name for f in fields(cls)}
        kwargs = {}
        for k, v in raw.items():
            key = cls._KEYMAP.get(k, k.lower() if k.lower() in native else None)
            if key:
                if k == "REQUEST_TIMEOUT" and v is not None:
                    v = int(v * 1000)
                kwargs[key] = v
        return cls(**kwargs)

    @classmethod
    def raw_from_file(cls, path: str) -> dict:
        """Parse a settings file to its raw key→value dict by extension,
        mirroring the reference's multi-format loader
        (src/settings.rs:103-108): .json, .toml (stdlib tomllib), .py
        (the same naive KEY = value subset the reference parses,
        settings.rs:154-245), .yaml/.yml (PyYAML when present, else a
        flat KEY: value fallback). Keys outside the Settings schema
        (START_URLS, ALLOWED_DOMAINS, ...) are preserved — the CLI
        builds the spider from them like the reference binary
        (main.rs:567-605)."""
        lower = path.lower()
        if lower.endswith(".toml"):
            import tomllib

            with open(path, "rb") as f:
                return tomllib.load(f)
        if lower.endswith(".py"):
            return _parse_py_settings(path)
        if lower.endswith((".yaml", ".yml")):
            return _parse_yaml_settings(path)
        with open(path) as f:
            return json.load(f)

    @classmethod
    def from_file(cls, path: str) -> "Settings":
        return cls.from_dict(cls.raw_from_file(path))

    @classmethod
    def raw_from_module(cls, module) -> dict:
        """Raw key→value dict from an imported module object or a
        dotted module path — the module analogue of raw_from_file.
        Mirrors PySettings.from_module
        (/root/reference/python/src/lib.rs:1065-1075): every UPPER_CASE
        attribute of the module is a settings key; everything else
        (imports, helpers, dunders) is ignored. Unlike the .py file
        parser this reads a LIVE module, so computed values work."""
        if isinstance(module, str):
            import importlib

            module = importlib.import_module(module)
        return {
            k: v
            for k, v in vars(module).items()
            if k.isupper() and not k.startswith("_")
        }

    @classmethod
    def from_module(cls, module) -> "Settings":
        """Settings from an imported module object or dotted path
        (``Settings.from_module(my_settings)`` or
        ``Settings.from_module("mypkg.settings")``)."""
        return cls.from_dict(cls.raw_from_module(module))


def _parse_py_settings(path: str) -> dict:
    """Naive line-oriented `KEY = value` parser — the same subset the
    reference's .py loader understands (src/settings.rs:154-245): no
    imports, no expressions; values are Python literals (str/int/float/
    bool/list). Never exec()s the file."""
    import ast
    import re

    def strip_comment(line: str) -> str:
        quote = None
        for i, ch in enumerate(line):
            if quote:
                if ch == quote:
                    quote = None
            elif ch in "'\"":
                quote = ch
            elif ch == "#":
                return line[:i]
        return line

    out: dict = {}
    line_re = re.compile(r"^\s*([A-Za-z_][A-Za-z0-9_]*)\s*=\s*(.+?)\s*$")
    with open(path) as f:
        src = f.read()
    # handle simple multi-line lists by joining until brackets balance
    buf = ""
    for raw in src.splitlines():
        line = strip_comment(raw)
        buf = (buf + "\n" + line) if buf else line
        if buf.count("[") > buf.count("]") or buf.count("{") > buf.count("}"):
            continue
        m = line_re.match(buf.replace("\n", " "))
        buf = ""
        if not m:
            continue
        key, rhs = m.group(1), m.group(2)
        try:
            out[key] = ast.literal_eval(rhs)
        except (ValueError, SyntaxError):
            continue  # non-literal RHS (expression/call) — skipped
    return out


def _parse_yaml_settings(path: str) -> dict:
    """PyYAML when available; else a flat `KEY: value` subset parser
    (scalars and [a, b] inline lists) — enough for reference-shaped
    settings files without adding a dependency."""
    try:
        import yaml  # type: ignore

        with open(path) as f:
            return yaml.safe_load(f) or {}
    except ImportError:
        pass
    import ast

    out: dict = {}
    with open(path) as f:
        for raw in f:
            line = raw.split("#", 1)[0].strip()
            if not line or ":" not in line:
                continue
            key, _, rhs = line.partition(":")
            key, rhs = key.strip(), rhs.strip()
            if not key or not rhs:
                continue
            if rhs.startswith("["):
                try:
                    out[key] = ast.literal_eval(rhs)
                except (ValueError, SyntaxError):
                    continue
            elif rhs in ("true", "True"):
                out[key] = True
            elif rhs in ("false", "False"):
                out[key] = False
            else:
                try:
                    out[key] = int(rhs)
                except ValueError:
                    try:
                        out[key] = float(rhs)
                    except ValueError:
                        out[key] = rhs.strip("'\"")
    return out
