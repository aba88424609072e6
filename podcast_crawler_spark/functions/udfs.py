"""Arrow-batched parse stage.

The parse stage (SURVEY.md §2.11 UDF #1) wraps the pure-Python feedparse
core in ``mapInArrow``: one Arrow record batch in → one batch out,
preserving a caller-chosen set of passthrough columns (the frontier
bookkeeping), so no re-join is needed after parsing.  This is the only
Python in the pipeline's hot path and it is batch-vectorized per the
input_hint ("no per-row Python" = no row-at-a-time ``udf()``; parsing is
inherently per-document but crosses the JVM↔Python boundary once per
~10k-row Arrow batch).

The boundary has no pandas in it: the ``url`` and ``html`` columns are
read with ``to_pylist``, the passthrough columns go back out as the same
Arrow arrays (zero-copy), and the five result columns are built by
``pa.array`` straight from the kernel's dicts, typed by the Arrow form of
:data:`~.schemas.PARSE_RESULT_FIELDS`.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from ..feedparse.rssparse import parse_feed_result
from .schemas import PARSE_RESULT_FIELDS

# parse_feed_result key of each result column, in PARSE_RESULT_FIELDS order
_RESULT_KEYS = ("podcast", "episodes", "text", "error_kind", "error_message")


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
    arrow_schema = to_arrow_schema(out_schema)
    results = [
        (f.name, key, arrow_schema.field(f.name).type)
        for f, key in zip(PARSE_RESULT_FIELDS, _RESULT_KEYS)
    ]

    def _run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            parsed = [
                parse_feed_result(html, url)
                for url, html in zip(
                    batch.column("url").to_pylist(),
                    batch.column("html").to_pylist(),
                )
            ]
            names = list(passthrough)
            arrays = [batch.column(c) for c in passthrough]
            for name, key, dtype in results:
                names.append(name)
                arrays.append(pa.array([r[key] for r in parsed], type=dtype))
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return base.mapInArrow(_run, schema=out_schema)


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
