"""Fixed Spark schemas for every record type in the engine.

Derivation from the reference's structs is documented per-schema
(SURVEY.md §1.1). The reference is record-at-a-time with in-memory
structs; we pin columnar StructTypes so scans prune columns and
exchanges hash on stable keys.
"""

from __future__ import annotations

from pyspark.sql import types as T

# frontier row ⇔ scrapy_rs Request (/root/reference/core/src/request.rs:24-91).
# Identity = (canonical url, method) per request.rs:240-253 → url_hash.
FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("url_canon", T.StringType(), True),
        T.StructField("url_hash", T.LongType(), True),
        T.StructField("host", T.StringType(), True),
        T.StructField("method", T.StringType(), False),
        T.StructField("priority", T.IntegerType(), False),
        T.StructField("depth", T.IntegerType(), False),
        # deterministic discrete time: (round, seq-within-round), never wall clock
        T.StructField("discovery_round", T.IntegerType(), False),
        T.StructField("discovery_seq", T.LongType(), False),
        T.StructField("retry_count", T.IntegerType(), False),
        T.StructField("dont_filter", T.BooleanType(), False),
        T.StructField("retry_not_before_round", T.IntegerType(), False),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
        # request payload + cookie jar (request.rs:24-91: body, cookies);
        # cookies are copied onto followed requests like Response::follow
        # (response.rs:186-203)
        T.StructField("body", T.BinaryType(), True),
        T.StructField(
            "cookies", T.MapType(T.StringType(), T.StringType()), True
        ),
        # request auxiliaries (request.rs:74-90): per-request fetch
        # timeout (NULL → settings.request_timeout_ms), response-body
        # decode override (NULL → strict UTF-8), opaque flag tags
        T.StructField("timeout_ms", T.LongType(), True),
        T.StructField("encoding", T.StringType(), True),
        T.StructField("flags", T.ArrayType(T.StringType()), True),
        # per-request proxy URL (request.rs:86, with_proxy :218-222) —
        # pass-through metadata in the no-network sandbox; NOT inherited
        # by followed links or redirects (the reference doesn't copy it
        # in Response::follow)
        T.StructField("proxy", T.StringType(), True),
    ]
)

FRONTIER_COLS = FRONTIER_SCHEMA.fieldNames()


def _ddl(schema: T.StructType) -> str:
    """DDL form for readers and empty frames (every column nullable, as
    file sources read them)."""
    return ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in schema.fields
    )


FRONTIER_DDL = _ddl(FRONTIER_SCHEMA)

# pages row ⇔ Response (/root/reference/core/src/response.rs:11-46) shaped to
# the Common-Crawl-style input_hint: (url, warc_ts, html, text, lang) + status.
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("status", T.IntegerType(), True),
        T.StructField(
            "headers", T.MapType(T.StringType(), T.StringType()), True
        ),
        # optional: observed fetch latency; when present, rows slower
        # than the request's timeout_ms classify as timeout errors
        # (retryable, reference error.rs:446-472)
        T.StructField("latency_ms", T.LongType(), True),
        # optional transport metadata (response.rs:35-45: certificate,
        # ip_address, protocol) — pass-through columns projected into the
        # fetched frame when present, visible to response middlewares and
        # item pipelines; absent columns cost nothing
        T.StructField("certificate", T.StringType(), True),
        T.StructField("ip_address", T.StringType(), True),
        T.StructField("protocol", T.StringType(), True),
    ]
)

# extracted item ⇔ DynamicItem (/root/reference/core/src/item.rs:28-36): the
# flagship extracted-text item keeps a first-class text column (for the
# byte-identical check), and arbitrary spider-extracted fields ride in a
# generic MAP — the columnar restatement of `fields: HashMap<String,Value>`.
ITEMS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("item_type", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField(
            "fields", T.MapType(T.StringType(), T.StringType()), True
        ),
        T.StructField("rnd", T.IntegerType(), True),
    ]
)

ITEMS_DDL = _ddl(ITEMS_SCHEMA)

# per-host policy ⇔ robots + per-domain config
# (/root/reference/benchmark/src/mock_server.rs:177-192 robots fixture;
#  /root/reference/engine/src/slot.rs per-domain delay).
ROBOTS_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField(
            "disallow_prefixes", T.ArrayType(T.StringType()), True
        ),
        T.StructField(
            "allow_prefixes", T.ArrayType(T.StringType()), True
        ),
        T.StructField("crawl_delay_ms", T.LongType(), True),
        T.StructField("max_concurrent", T.IntegerType(), True),
    ]
)

# crawl metrics row ⇔ EngineStats (/root/reference/engine/src/stats/mod.rs:8-28)
# + per-partition lineage required by the north rule.
METRICS_SCHEMA = T.StructType(
    [
        T.StructField("round", T.IntegerType(), False),
        T.StructField("requests", T.LongType(), False),
        T.StructField("responses", T.LongType(), False),
        T.StructField("items", T.LongType(), False),
        T.StructField("errors", T.LongType(), False),
        T.StructField("retries", T.LongType(), False),
        T.StructField("new_urls", T.LongType(), False),
        T.StructField("frontier_size", T.LongType(), False),
        T.StructField("seen_size", T.LongType(), False),
    ]
)
METRICS_COLS = METRICS_SCHEMA.fieldNames()
METRICS_DDL = _ddl(METRICS_SCHEMA)

# seen-set row: the identity hash alone
SEEN_SCHEMA = T.StructType([T.StructField("url_hash", T.LongType(), False)])
SEEN_DDL = _ddl(SEEN_SCHEMA)
