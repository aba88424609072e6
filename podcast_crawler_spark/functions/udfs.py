"""Arrow-batched parse stage and scalar column equivalents.

The parse stage (SURVEY.md §2.11 UDF #1) wraps the pure-Python feedparse
core in ``mapInPandas``: one Arrow batch in → one batch out, preserving a
caller-chosen set of passthrough columns (the frontier bookkeeping), so no
re-join is needed after parsing.  This is the only Python in the pipeline's
hot path and it is batch-vectorized per the input_hint ("no per-row
Python" = no row-at-a-time ``udf()``; parsing is inherently per-document
but crosses the JVM↔Python boundary once per ~10k-row Arrow batch).

``parse_date`` / ``parse_bool`` column equivalents (P8/P9) are pure JVM
expressions for use outside the parse UDF.
"""

from __future__ import annotations

from operator import itemgetter
from typing import Iterator, Sequence

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..feedparse.rssparse import parse_feed_result
from .schemas import EPISODE_STRUCT, PARSE_RESULT_FIELDS, PODCAST_STRUCT

# parse-result dict -> struct tuple, in the schema's field order
_episode_row = itemgetter(*EPISODE_STRUCT.names)
_podcast_row = itemgetter(*PODCAST_STRUCT.names)


def parse_pages(df: DataFrame, passthrough: Sequence[str] = ("url",)) -> DataFrame:
    """Run the RSS parse over ``(url, html)`` batches.

    ``df`` must contain ``url`` and ``html``; *passthrough* columns are
    carried to the output unchanged (include frontier bookkeeping here to
    avoid a post-parse shuffle join).  Output = passthrough columns +
    ``podcast`` struct, ``episodes`` array<struct>, ``extracted_text``,
    ``parse_error_kind``, ``parse_error_message``.
    """
    passthrough = list(dict.fromkeys(passthrough))
    if "url" not in passthrough:
        passthrough = ["url"] + passthrough
    in_cols = passthrough + (["html"] if "html" not in passthrough else [])
    base = df.select(*in_cols)
    out_schema = StructType(
        [base.schema[c] for c in passthrough] + PARSE_RESULT_FIELDS
    )

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            results = [
                parse_feed_result(
                    bytes(html) if html is not None else None, url
                )
                for url, html in zip(pdf["url"], pdf["html"])
            ]
            out = {c: pdf[c] for c in passthrough}
            out["podcast"] = [
                _podcast_row(r["podcast"]) if r["podcast"] is not None else None
                for r in results
            ]
            out["episodes"] = [
                [_episode_row(e) for e in r["episodes"]]
                if r["episodes"] is not None
                else None
                for r in results
            ]
            out["extracted_text"] = [r["text"] for r in results]
            out["parse_error_kind"] = [r["error_kind"] for r in results]
            out["parse_error_message"] = [r["error_message"] for r in results]
            yield pd.DataFrame(out)

    return base.mapInPandas(_run, schema=out_schema)


def explode_episodes(parsed: DataFrame) -> DataFrame:
    """UDTF-equivalent: 1 feed row → N episode rows (SURVEY.md §2.11),
    carrying the parent feed ``url`` so J2's podcast_id assignment is a
    shuffle-free inherit (podcast_id = xxhash64(rss_feed_url))."""
    ok = parsed.filter(F.col("parse_error_kind").isNull())
    return (
        ok.select(
            "url",
            F.col("podcast.rss_feed_url").alias("rss_feed_url"),
            F.explode("episodes").alias("episode"),
        )
        .select(
            "url",
            "rss_feed_url",
            F.xxhash64("rss_feed_url").alias("podcast_id"),
            "episode.*",
        )
    )


# ---- P8/P9 as JVM column expressions (for non-UDF paths) ----

_TRUE_LITS = ("true", "yes", "1")
_FALSE_LITS = ("false", "no", "0")


def parse_bool_col(c: Column) -> Column:
    low = F.lower(c)
    return (
        F.when(low.isin(*_TRUE_LITS), F.lit(True))
        .when(low.isin(*_FALSE_LITS), F.lit(False))
        .otherwise(F.lit(None).cast("boolean"))
    )


def parse_date_col(c: Column) -> Column:
    """coalesce chain over the reference's accepted formats (P9).  Spark 3+
    bans week-based ``EEE`` in parse patterns, so the RFC2822 day-name
    prefix is stripped before matching."""
    no_dow = F.regexp_replace(c, r"^[A-Za-z]{3},\s*", "")
    return F.coalesce(
        F.try_to_timestamp(no_dow, F.lit("d MMM yyyy HH:mm:ss zzz")),
        F.try_to_timestamp(no_dow, F.lit("d MMM yyyy HH:mm:ss Z")),
        F.try_to_timestamp(c, F.lit("yyyy-MM-dd'T'HH:mm:ssXXX")),
        F.try_to_timestamp(c, F.lit("yyyy-MM-dd HH:mm:ss")),
        F.try_to_timestamp(c, F.lit("yyyy-MM-dd'T'HH:mm:ss")),
        F.try_to_timestamp(c, F.lit("yyyy-MM-dd")),
    )
