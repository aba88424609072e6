"""Fixed StructType schemas (the reference's data model is compile-time
fixed, SURVEY.md §1.1/§1.3 — no schema inference anywhere).

``podcasts`` mirrors ``/root/reference/src/schema.rs:77-106``; ``episodes``
mirrors ``src/schema.rs:23-52``; ``seeds`` mirrors ``podcast_rank``
(``src/schema.rs:54-75``); the in-flight ``stages`` lineage struct mirrors
``src/crawler_refactor/task.rs:33-41``.  The ``pages`` table is the
BASELINE.json input_hint shape.  The per-epoch metrics table is written
driver-side by pyarrow, so its one schema is an Arrow schema.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

S = StringType()


def _f(name, dtype, nullable=True):
    return StructField(name, dtype, nullable)


PODCAST_STRUCT = StructType(
    [
        _f("title", S, False),
        _f("description", S),
        _f("link", S),
        _f("last_build_date", TimestampType()),
        _f("language", S),
        _f("copyright", S),
        _f("image_url", S),
        _f("rss_feed_url", S),
        _f("category", ArrayType(S)),
        _f("author", S),
        _f("owner_name", S),
        _f("owner_email", S),
        _f("keywords", ArrayType(S)),
        _f("explicit", BooleanType()),
        _f("summary", S),
        _f("subtitle", S),
    ]
)

EPISODE_STRUCT = StructType(
    [
        _f("episode_image_url", S),
        _f("title", S, False),
        _f("description", S),
        _f("link", S),
        _f("pub_date", TimestampType()),
        _f("guid", S),
        _f("enclosure_url", S),
        _f("enclosure_type", S),
        _f("enclosure_length", LongType()),
        _f("explicit", BooleanType()),
        _f("subtitle", S),
        _f("author", S),
        _f("summary", S),
        _f("keywords", ArrayType(S)),
        _f("category", ArrayType(S)),
        _f("duration", S),
    ]
)

PAGES_SCHEMA = StructType(
    [
        _f("url", S, False),
        _f("warc_ts", TimestampType()),
        _f("html", BinaryType()),
        _f("text", S),
        _f("lang", S),
    ]
)

LINK_STRUCT = StructType([_f("name", S), _f("url", S)])

SEEDS_SCHEMA = StructType(
    [
        _f("id", S, False),
        _f("rank", IntegerType()),
        _f("name", S),
        _f("primary_genre_name", S),
        _f("links", ArrayType(LINK_STRUCT)),
    ]
)

ROBOTS_SCHEMA = StructType(
    [
        _f("host", S, False),
        _f("user_agent", S),
        _f("disallow_prefixes", ArrayType(S)),
        _f("crawl_delay_s", DoubleType()),
    ]
)

STAGE_STRUCT = StructType(
    [
        _f("name", S),
        _f("status", S),
        _f("start_ts", TimestampType()),
        _f("end_ts", TimestampType()),
        _f("error", S),
    ]
)

# the frontier table; its rows are built only by operators.frontier.frontier_rows
FRONTIER_SCHEMA = StructType(
    [
        _f("url", S, False),
        _f("canonical_url", S),
        _f("url_hash", LongType()),
        _f("host", S),
        _f("host_hash", LongType()),
        _f("priority", IntegerType()),
        _f("next_fetch_ts", TimestampType()),
        _f("retries", IntegerType()),
        _f("max_retries", IntegerType()),
        _f("state", S),
        _f("last_error", S),
        _f("error_kind", S),
        _f("stages", ArrayType(STAGE_STRUCT)),
    ]
)

# columns appended by the parse stage (mapInArrow output, SURVEY.md §2.11)
PARSE_RESULT_FIELDS = [
    _f("podcast", PODCAST_STRUCT),
    _f("episodes", ArrayType(EPISODE_STRUCT)),
    _f("extracted_text", S),
    _f("parse_error_kind", S),
    _f("parse_error_message", S),
]

# the metrics table: one row per epoch, committed driver-side by pyarrow
METRICS_ARROW_SCHEMA = pa.schema(
    [
        pa.field("epoch", pa.int32()),
        pa.field("epoch_ts", pa.timestamp("us")),
        pa.field("scheduled", pa.int64()),
        pa.field("fetched", pa.int64()),
        pa.field("parsed", pa.int64()),
        pa.field("fetch_failures", pa.int64()),
        pa.field("parse_failures", pa.int64()),
    ]
)
