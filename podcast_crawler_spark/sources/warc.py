"""WARC source: Common-Crawl-style web archives → the pages table.

The engine's input contract is an Iceberg/parquet table of
``(url, warc_ts, html, ...)`` (BASELINE.json input_hint); the raw form
those pages arrive in from a Common-Crawl-style fetcher is WARC
(ISO 28500): concatenated records of

    WARC/1.0\\r\\n
    <Name>: <value>\\r\\n ...           (record headers)
    \\r\\n
    <Content-Length bytes of block>    (for response records: an HTTP
    \\r\\n\\r\\n                            message whose body is the page)

This reader turns ``*.warc`` / ``*.warc.gz`` files into page rows:

* ``spark.read.format("binaryFile")`` loads whole files (WARC is a
  stream format — records are not line-splittable, so the unit of
  parallelism is the file, exactly how Common Crawl shards its corpus
  into ~1 GB segment files: thousands of files ⇒ thousands of tasks).
* record parsing is bytes-level Python per file inside ``mapInPandas``
  — one Arrow batch per file, no shuffle; the html bytes are born in
  the task and flow map-side into parquet/Iceberg ingestion.
* gzip members are detected by magic bytes (Common Crawl gzips each
  record; whole-file gzip also works since members concatenate).

Only ``response`` records with a ``WARC-Target-URI`` yield rows;
malformed trailing bytes are tolerated (truncated final record is
dropped, matching how CC consumers skim damaged segments).
"""

from __future__ import annotations

import gzip
import io
from datetime import datetime, timezone
from typing import Any, Callable, Iterator, List, Optional, Tuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

WARC_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("warc_ts", TimestampType(), True),
    StructField("http_status", IntegerType(), True),
    StructField("html", BinaryType(), True),
])

_CRLF2 = b"\r\n\r\n"


def _parse_http_payload(block: bytes) -> Tuple[Optional[int], bytes]:
    """Split an HTTP response message into (status, body)."""
    head, sep, body = block.partition(_CRLF2)
    if not sep:
        return None, block
    first = head.split(b"\r\n", 1)[0]
    parts = first.split()
    status = None
    if len(parts) >= 2 and parts[0].startswith(b"HTTP/"):
        try:
            status = int(parts[1])
        except ValueError:
            status = None
    return status, body


def parse_warc_records(
    data: bytes,
    record_types: Tuple[bytes, ...] = (b"response",),
) -> List[Tuple[str, Optional[datetime], Optional[int], bytes, int, int]]:
    """Parse one WARC file's bytes → [(url, ts, http_status, body,
    offset, rec_length)].  Tolerates a truncated final record (dropped).

    ``offset``/``rec_length`` locate the record — headers through its
    trailing CRLF pair — in the UNCOMPRESSED stream (for per-member-gz
    archives à la Common Crawl, member boundaries coincide with record
    boundaries, so the same walk over member offsets yields the
    compressed variant).

    *record_types* selects which WARC-Type values yield rows:
    ``response`` records carry an HTTP message (status parsed, body =
    HTTP payload); ``conversion`` records (WET text extracts) carry
    the block verbatim (status None) — the read side of
    :func:`wet_export`."""
    if data[:2] == b"\x1f\x8b":  # gzip magic: member-per-record or whole-file
        data = gzip.GzipFile(fileobj=io.BytesIO(data)).read()
    out = []
    pos = 0
    n = len(data)
    while pos < n:
        rec_start = pos
        head_end = data.find(_CRLF2, pos)
        if head_end < 0:
            break
        header_blob = data[pos:head_end]
        if not header_blob.startswith(b"WARC/"):
            break
        headers = {}
        for line in header_blob.split(b"\r\n")[1:]:
            k, _, v = line.partition(b":")
            headers[k.strip().lower()] = v.strip()
        try:
            length = int(headers.get(b"content-length", b""))
        except ValueError:
            break
        block_start = head_end + len(_CRLF2)
        block_end = block_start + length
        if block_end > n:
            break  # truncated final record
        pos = block_end
        while pos < n and data[pos:pos + 2] == b"\r\n":
            pos += 2
        rtype = headers.get(b"warc-type")
        if rtype in record_types and b"warc-target-uri" in headers:
            url = headers[b"warc-target-uri"].decode("utf-8", "replace")
            ts = None
            if b"warc-date" in headers:
                try:
                    ts = datetime.strptime(
                        headers[b"warc-date"].decode(), "%Y-%m-%dT%H:%M:%SZ"
                    ).replace(tzinfo=timezone.utc)
                except ValueError:
                    ts = None
            if rtype == b"response":
                status, body = _parse_http_payload(
                    data[block_start:block_end]
                )
            else:
                status, body = None, data[block_start:block_end]
            out.append((url, ts, status, body, rec_start, pos - rec_start))
    return out


def parse_warc_bytes(data: bytes) -> List[Tuple[str, Optional[datetime], Optional[int], bytes]]:
    """Parse one WARC file's bytes → [(url, ts, http_status, body)].
    Tolerates a truncated final record (dropped)."""
    return [
        (url, ts, status, body)
        for url, ts, status, body, _off, _len in parse_warc_records(data)
    ]


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """WARC file(s) → DataFrame(WARC_SCHEMA).  One task per file."""
    files = spark.read.format("binaryFile").load(path)

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for content in pdf["content"]:
                for url, ts, status, body in parse_warc_bytes(bytes(content)):
                    rows.append(
                        (url, ts.replace(tzinfo=None) if ts else None, status, body)
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in WARC_SCHEMA.fields]
            )

    return files.select("content").mapInPandas(_run, schema=WARC_SCHEMA)


CDX_SCHEMA = StructType([
    StructField("filename", StringType(), False),
    StructField("offset", LongType(), False),
    StructField("rec_length", LongType(), False),
    StructField("url", StringType(), False),
    StructField("warc_ts", TimestampType(), True),
    StructField("http_status", IntegerType(), True),
    StructField("n_bytes", LongType(), False),
    StructField("body_md5", StringType(), False),
])


def read_warc_index(spark: SparkSession, path: str) -> DataFrame:
    """WARC file(s) → CDX-style capture index rows (CDX_SCHEMA): where
    every capture lives (file, offset, length) plus its identity
    (url, ts, status, body size + digest).  The serving artifact of a
    Common-Crawl-style archive — random access to any capture without
    scanning segments.

    Same parallelism contract as :func:`read_warc` (one task per file,
    records born in-task); the page BYTES never leave the task — only
    the fixed-width index row (digest, not body) is emitted, so the
    exchange feeding the index sort is O(captures), not O(corpus)."""
    import hashlib

    files = spark.read.format("binaryFile").load(path)

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for pth, content in zip(pdf["path"], pdf["content"]):
                fname = str(pth).rsplit("/", 1)[-1]
                for url, ts, status, body, off, rlen in parse_warc_records(
                    bytes(content)
                ):
                    rows.append((
                        fname,
                        off,
                        rlen,
                        url,
                        ts.replace(tzinfo=None) if ts else None,
                        status,
                        len(body),
                        hashlib.md5(body).hexdigest(),
                    ))
            yield pd.DataFrame(
                rows, columns=[f.name for f in CDX_SCHEMA.fields]
            )

    return files.select("path", "content").mapInPandas(_run, schema=CDX_SCHEMA)


def cdx_index(idx: DataFrame, num_partitions: Optional[int] = None) -> DataFrame:
    """Capture rows → the CDX serving layout: a ``surt`` key column
    (Common-Crawl/Wayback canonical ordering, ``functions/urlfns``)
    plus range-partitioning and within-partition sort by
    ``(surt, warc_ts)``.  Written as-is, the index is binary-searchable
    per file and a host/domain's captures are CONTIGUOUS (SURT reverses
    host labels), so domain lookups touch one partition range instead
    of all of them.  One range exchange of narrow index rows — the
    blobs stayed in their scan tasks."""
    from pyspark.sql import functions as F

    from ..functions.urlfns import surt_key

    out = idx.withColumn("surt", surt_key(F.col("url")))
    parts = (num_partitions,) if num_partitions else ()
    return out.repartitionByRange(*parts, "surt", "warc_ts").sortWithinPartitions(
        "surt", "warc_ts"
    )


def _format_record(
    url: str,
    ts: datetime,
    status: int,
    body: bytes,
    content_type: str = "application/xml",
) -> bytes:
    """One WARC response record's exact bytes — the single layout both
    :func:`write_warc_file` (fixture helper) and :func:`warc_export`
    (distributed sink) emit and :func:`parse_warc_records` reads back.

    The byte LENGTH of the record is a closed-form function of the
    field widths (``record_length_expr`` builds the same formula as a
    Spark column; ``warc_export_oracle_sql`` replays it in DuckDB), so
    offsets can be planned declaratively before any bytes exist."""
    http = (
        f"HTTP/1.1 {status} OK\r\nContent-Type: {content_type}\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode() + body
    head = (
        "WARC/1.0\r\n"
        "WARC-Type: response\r\n"
        f"WARC-Target-URI: {url}\r\n"
        f"WARC-Date: {ts.strftime('%Y-%m-%dT%H:%M:%SZ')}\r\n"
        f"Content-Length: {len(http)}\r\n\r\n"
    ).encode()
    return head + http + b"\r\n\r\n"


def write_warc_file(
    records: List[Tuple[str, datetime, int, bytes]],
    path: str,
    compress: bool = False,
) -> List[Tuple[int, int]]:
    """Write (url, ts, status, body) records as a WARC file — fixture and
    test helper (driver-side; production archives come from the fetcher).

    Returns per-record ``(offset, rec_length)`` in the uncompressed
    stream, computed from the WRITER's own byte layout — write-side
    truth the CDX oracle checks the parser against, never derived
    through the parser."""
    buf = io.BytesIO()
    locs = []
    for url, ts, status, body in records:
        rec = _format_record(url, ts, status, body)
        start = buf.tell()
        buf.write(rec)
        locs.append((start, len(rec)))
    data = buf.getvalue()
    if compress:
        data = gzip.compress(data, mtime=0)
    with open(path, "wb") as fh:
        fh.write(data)
    return locs


def record_length_expr(
    url_col: str,
    status_col: str,
    body_col: str,
    content_type: str = "application/xml",
):
    """Spark column: the exact byte length :func:`_format_record` will
    produce for a row — 103 fixed WARC-header bytes + url bytes + the
    digit width of the HTTP message length, plus the HTTP message
    (50 + content-type + status digits + body-digit width + body bytes)
    and the 4-byte record separator.  ``octet_length`` (bytes, not
    chars) everywhere; the writer asserts the formula against the real
    bytes on every record, so drift fails loudly instead of corrupting
    offsets."""
    from pyspark.sql import functions as F

    def digits(c):
        return F.length(c.cast("string")).cast("long")

    body_b = F.octet_length(F.col(body_col)).cast("long")
    http_len = (
        F.lit(50 + len(content_type)).cast("long")
        + digits(F.col(status_col))
        + digits(body_b)
        + body_b
    )
    head_len = (
        F.lit(103).cast("long")
        + F.octet_length(F.col(url_col)).cast("long")
        + digits(http_len)
    )
    return head_len + http_len + F.lit(4).cast("long")


EXPORT_MANIFEST_SCHEMA = StructType([
    StructField("id", LongType(), False),
    StructField("url", StringType(), False),
    StructField("shard_id", LongType(), False),
    StructField("file_name", StringType(), False),
    StructField("rec_offset", LongType(), False),
    StructField("rec_length", LongType(), False),
    StructField("record_md5", StringType(), False),
])


def _plan_shards(
    staged: DataFrame,
    lo,
    hi,
    shard_rows: int,
    num_partitions: Optional[int],
) -> DataFrame:
    """The layout planner of the archive sinks (:func:`warc_export`,
    :func:`wet_export`): *staged* rows ``(id, ..., rec_length)`` with
    non-null ids in ``[lo, hi]`` gain their global position ``pos`` in id
    order, ``shard_id = pos div shard_rows`` and ``rec_offset``, the
    record's byte offset within its shard — from one two-phase bucketed
    prefix-sum pass over id-range buckets that carries the row count and
    the byte length together, and an S-row shard-start aggregate
    broadcast back."""
    from pyspark.sql import functions as F

    from ..operators.curation import _bucketed_prefix_sum, _id_range_buckets

    bucketed = _id_range_buckets(
        staged.withColumn("one", F.lit(1).cast("long")), lo, hi, num_partitions
    )
    pr = _bucketed_prefix_sum(
        bucketed, "one", ["id"], extra_val_cols=("rec_length",)
    )
    rows = pr.select(
        *staged.columns,
        (F.col("bkt_offset") + F.col("local_cum") - 1).alias("pos"),
        (
            F.col("bkt_offset__rec_length")
            + F.col("local_cum__rec_length")
            - F.col("rec_length")
        ).alias("byte_excl"),
    ).withColumn("shard_id", F.expr(f"pos div {int(shard_rows)}"))
    starts = rows.groupBy("shard_id").agg(
        F.min("byte_excl").alias("shard_start")
    )
    return rows.join(F.broadcast(starts), "shard_id").withColumn(
        "rec_offset", F.col("byte_excl") - F.col("shard_start")
    )


def _write_shards(
    rows: DataFrame,
    out_dir: str,
    suffix: str,
    format_row: Callable[[Any], bytes],
) -> DataFrame:
    """The writer task of the archive sinks: one task per planned shard
    formats each record with *format_row*, CONFIRMS the plan (the actual
    offset and length must equal the planned ones, else ``ValueError``),
    writes ``part-{shard_id:05d}.{suffix}`` under *out_dir* and emits
    :data:`EXPORT_MANIFEST_SCHEMA` rows with the md5 of the written
    bytes."""
    import hashlib
    import os

    def _write(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("pos").reset_index(drop=True)
        sid = int(pdf["shard_id"].iloc[0])
        fname = f"part-{sid:05d}.{suffix}"
        buf = io.BytesIO()
        out = []
        for r in pdf.itertuples(index=False):
            if buf.tell() != int(r.rec_offset):
                raise ValueError(
                    f"planned offset {r.rec_offset} != actual {buf.tell()}"
                    f" for {r.url} in shard {sid}"
                )
            rec = format_row(r)
            if len(rec) != int(r.rec_length):
                raise ValueError(
                    f"planned length {r.rec_length} != actual {len(rec)}"
                    f" for {r.url} (record length expression drift)"
                )
            buf.write(rec)
            out.append((
                int(r.id), r.url, sid, fname, int(r.rec_offset),
                int(r.rec_length), hashlib.md5(rec).hexdigest(),
            ))
        os.makedirs(out_dir, exist_ok=True)  # concurrent-safe on local FS
        with open(os.path.join(out_dir, fname), "wb") as fh:
            fh.write(buf.getvalue())
        return pd.DataFrame(
            out, columns=[f.name for f in EXPORT_MANIFEST_SCHEMA.fields]
        )

    return rows.groupBy("shard_id").applyInPandas(
        _write, schema=EXPORT_MANIFEST_SCHEMA
    )


def warc_export(
    pages: DataFrame,
    out_dir: str,
    shard_rows: int = 1000,
    id_col: str = "page_id",
    url_col: str = "url",
    ts_col: str = "warc_ts",
    status_col: str = "http_status",
    html_col: str = "html",
    content_type: str = "application/xml",
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Distributed WARC sink: lay the pages table out as Common-Crawl
    style archive shards of exactly *shard_rows* records in ``id_col``
    order and WRITE them, returning the per-record manifest
    ``(id, url, shard_id, file_name, rec_offset, rec_length,
    record_md5)`` — the write-side twin of :func:`read_warc` /
    :func:`read_warc_index` (reference semantics anchor: the fetch loop
    persists raw responses before parse, ``crawler/rss_fetcher.rs`` —
    here the archive IS the persisted raw response stream).

    The whole byte layout is PLANNED declaratively before a single
    byte exists: record length is the closed-form
    :func:`record_length_expr`, the record's global position and byte
    prefix come from ONE two-phase bucketed prefix-sum pass
    (``curation._bucketed_prefix_sum`` with ``extra_val_cols`` — both
    running sums share one window frame, one corpus-size
    hashpartitioning(bkt) exchange), ``shard_id = pos div shard_rows``
    and ``rec_offset = byte_prefix − min(byte_prefix) over the shard``
    (an S-row aggregate broadcast back).  The writer task then only
    CONFIRMS the plan: it formats each record, asserts the actual
    offset and length equal the planned ones (fail-loud on layout
    drift), writes ``part-{shard:05d}.warc`` and emits manifest rows
    with the md5 of the real written bytes — which the DuckDB oracle
    recomputes from the field values, so the test gate checks the
    writer produced exactly the planned bytes.

    Scale shape: bodies ride two exchanges (the bkt window pass and the
    final groupBy(shard_id) writer grouping); the cached window frame
    spills via MEMORY_AND_DISK.  At archive-writing scale the write
    itself dominates; if body movement ever matters, run the prefix
    pass on a projected narrow frame and join the manifest back by id
    (one extra join, bodies still move twice — the floor is one move,
    achievable only by aligning shard boundaries to input splits, which
    trades exact shard sizes away).
    """
    from pyspark.sql import functions as F

    if shard_rows <= 0:
        raise ValueError(f"shard_rows must be positive, got {shard_rows}")
    staged = pages.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col).cast("long").alias("id"),
        F.col(url_col).alias("url"),
        F.col(ts_col).alias("ts"),
        F.col(status_col).cast("int").alias("status"),
        F.col(html_col).cast("binary").alias("body"),
    ).withColumn(
        "rec_length",
        record_length_expr("url", "status", "body", content_type),
    )
    lo, hi = staged.agg(F.min("id"), F.max("id")).first()
    return _write_shards(
        _plan_shards(staged, lo, hi, shard_rows, num_partitions),
        out_dir,
        "warc",
        lambda r: _format_record(
            r.url, r.ts, int(r.status), bytes(r.body), content_type
        ),
    )


def warc_export_oracle_sql(
    pages_sql: str,
    shard_rows: int = 1000,
    content_type: str = "application/xml",
) -> str:
    """DuckDB recomputation of the ENTIRE :func:`warc_export` layout —
    record lengths from field widths (``strlen`` = bytes), the global
    order as a naive window, shard assignment, per-shard byte offsets,
    and the record md5 rebuilt from the literal header strings — so the
    distributed two-phase prefix sums AND the writer's actual bytes are
    both checked against a single-node replay.  *pages_sql* must yield
    (id, url, ts TIMESTAMP, status, body VARCHAR-utf8)."""
    crlf = "chr(13) || chr(10)"
    return f"""
        WITH p AS (SELECT * FROM ({pages_sql})),
        r AS (
            SELECT id, url, ts, status, body,
                   50 + {len(content_type)}
                      + length(CAST(status AS VARCHAR))
                      + length(CAST(strlen(body) AS VARCHAR))
                      + strlen(body) AS http_len
            FROM p
        ),
        l AS (
            SELECT *,
                   103 + strlen(url)
                       + length(CAST(http_len AS VARCHAR))
                       + http_len + 4 AS rec_length,
                   ROW_NUMBER() OVER (ORDER BY id) - 1 AS pos
            FROM r
        ),
        s AS (
            SELECT *, pos // {int(shard_rows)} AS shard_id,
                   COALESCE(SUM(rec_length) OVER (
                       ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS byte_excl
            FROM l
        ),
        o AS (
            SELECT *,
                   (byte_excl - MIN(byte_excl) OVER (
                       PARTITION BY shard_id
                   ))::BIGINT AS rec_offset
            FROM s
        )
        SELECT id, url, shard_id,
               printf('part-%05d.warc', shard_id) AS file_name,
               rec_offset, rec_length,
               md5('WARC/1.0' || {crlf}
                   || 'WARC-Type: response' || {crlf}
                   || 'WARC-Target-URI: ' || url || {crlf}
                   || 'WARC-Date: '
                       || strftime(ts, '%Y-%m-%dT%H:%M:%SZ') || {crlf}
                   || 'Content-Length: '
                       || CAST(http_len AS VARCHAR) || {crlf} || {crlf}
                   || 'HTTP/1.1 ' || CAST(status AS VARCHAR) || ' OK'
                       || {crlf}
                   || 'Content-Type: {content_type}' || {crlf}
                   || 'Content-Length: '
                       || CAST(strlen(body) AS VARCHAR)
                       || {crlf} || {crlf}
                   || body || {crlf} || {crlf}
               ) AS record_md5
        FROM o
    """


def revisit_records(
    fetches: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    digest_col: str = "payload_digest",
    size_col: str = "n_bytes",
    fetch_id_col: str = "fetch_id",
) -> DataFrame:
    """WARC revisit-record planning: identical-payload-digest dedup of a
    refetch history (WARC 1.1 §6.7.2, profile
    ``identical-payload-digest`` — the rule Common Crawl and Heritrix
    apply so a page refetched unchanged is stored as a ~300-byte
    ``revisit`` record pointing at the original capture instead of a
    full ``response`` body).

    Per ``(url, digest)`` group the FIRST capture — ordered by
    ``(ts, fetch_id)``, so ties are deterministic — becomes the
    ``response``; every later capture with the same digest becomes a
    ``revisit`` whose ``refers_to_ts`` is the original capture's
    timestamp and whose ``bytes_saved`` is the body it did NOT store.
    A CHANGED payload (new digest) starts its own group, so an
    alternating page stores each distinct version once.

    Reference anchor: the reference refetches every feed uncon-
    ditionally and re-parses it (``crawler/rss_fetcher.rs``); at
    10^10-URL archive scale most refetches are unchanged, and this
    operator is the storage-side twin of the conditional-GET planner
    (``refetch.validator_stats``) — conditional GET saves the TRANSFER,
    revisit records save the ARCHIVE.

    Scale shape: one window over ``(url, digest)`` ordered by
    ``(ts, fetch_id)`` — the exchange carries only the digest (16
    bytes), timestamp and size per capture, never bodies; group
    cardinality is captures-per-page-version (small by construction).
    Downstream, ``warc_export`` writes the ``response`` rows' bodies
    and this manifest's ``revisit`` rows as headers-only records.

    Output: ``(url, fetch_id, ts, digest, rec_type, refers_to_ts,
    bytes_saved)``.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy(url_col, digest_col).orderBy(
        F.col(ts_col), F.col(fetch_id_col)
    )
    grp = Window.partitionBy(url_col, digest_col)
    rn = F.row_number().over(w)
    orig_ts = F.min(ts_col).over(grp)
    return fetches.select(
        F.col(url_col).alias("url"),
        F.col(fetch_id_col).alias("fetch_id"),
        F.col(ts_col).alias("ts"),
        F.col(digest_col).alias("digest"),
        rn.alias("_rn"),
        orig_ts.alias("_orig_ts"),
        F.col(size_col).cast("long").alias("_n_bytes"),
    ).select(
        "url",
        "fetch_id",
        "ts",
        "digest",
        F.when(F.col("_rn") == 1, F.lit("response"))
        .otherwise(F.lit("revisit"))
        .alias("rec_type"),
        F.when(
            F.col("_rn") == 1,
            F.lit(None).cast(fetches.schema[ts_col].dataType),
        )
        .otherwise(F.col("_orig_ts"))
        .alias("refers_to_ts"),
        F.when(F.col("_rn") == 1, F.lit(0))
        .otherwise(F.col("_n_bytes"))
        .cast("long")
        .alias("bytes_saved"),
    )


def _format_wet_record(url: str, ts: datetime, text_bytes: bytes) -> bytes:
    """One WET ``conversion`` record's exact bytes (ISO 28500 WARC-Type
    conversion — the Common Crawl WET text-extract sibling of
    :func:`_format_record`).  ``WARC-Refers-To`` is derived
    deterministically from (url, date) — the sandbox equivalent of
    pointing at the response record's ID, chosen so the DuckDB oracle
    can rebuild the byte-exact record from field values alone."""
    import hashlib

    date = ts.strftime("%Y-%m-%dT%H:%M:%SZ")
    refers = hashlib.md5(f"{url}|{date}".encode()).hexdigest()
    head = (
        "WARC/1.0\r\n"
        "WARC-Type: conversion\r\n"
        f"WARC-Target-URI: {url}\r\n"
        f"WARC-Date: {date}\r\n"
        f"WARC-Refers-To: <urn:md5:{refers}>\r\n"
        "Content-Type: text/plain\r\n"
        f"Content-Length: {len(text_bytes)}\r\n\r\n"
    ).encode()
    return head + text_bytes + b"\r\n\r\n"


# fixed byte overhead of a WET record: everything except the url bytes,
# the Content-Length digit width, and the payload itself (the date is
# always 20 bytes, the refers-md5 always 32) — derived from the
# formatter so the constant can never drift from the writer.
_WET_FIXED = len(
    _format_wet_record("", datetime(2000, 1, 1, 0, 0, 0), b"")
) - 1


def wet_record_length_expr(url_col: str, text_col: str):
    """Spark column: the exact byte length :func:`_format_wet_record`
    will produce — ``_WET_FIXED`` + url bytes + the digit width of the
    payload length + the payload bytes (``octet_length``: bytes, not
    chars, so multi-byte text plans correctly)."""
    from pyspark.sql import functions as F

    body_b = F.octet_length(F.col(text_col)).cast("long")
    return (
        F.lit(int(_WET_FIXED)).cast("long")
        + F.octet_length(F.col(url_col)).cast("long")
        + F.length(body_b.cast("string")).cast("long")
        + body_b
    )


def wet_export(
    docs: DataFrame,
    out_dir: str,
    shard_rows: int = 1000,
    id_col: str = "doc_id",
    url_col: str = "url",
    ts_col: str = "warc_ts",
    text_col: str = "text",
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Distributed WET sink — the text-extract archive layout Common
    Crawl publishes beside its WARCs (``*.warc.wet``: one
    ``conversion`` record per page, payload = extracted text).  The
    write-side completion of the archive family: :func:`read_warc`
    (WARC in) / :func:`warc_export` (WARC out) / :func:`cdx_index`
    (serving index) / this (the LLM-pipeline hand-off — WET is what
    text-corpus consumers actually download).

    Identical planning discipline to :func:`warc_export`: record
    lengths are the closed form :func:`wet_record_length_expr`, global
    position + byte prefix come from ONE two-phase bucketed prefix-sum
    pass, the writer only CONFIRMS the plan (fail-loud on drift) and
    emits manifest rows ``(id, url, shard_id, file_name, rec_offset,
    rec_length, record_md5)`` with the md5 of the real written bytes —
    which the oracle rebuilds from field values, checking writer and
    prefix-sum fold in one gate.  Scale notes as in
    :func:`warc_export` (text rides two exchanges; the write
    dominates at archive scale).  Raises ``ValueError`` on a null id
    or text.
    """
    from pyspark.sql import functions as F

    if shard_rows <= 0:
        raise ValueError(f"shard_rows must be positive, got {shard_rows}")
    staged = docs.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(url_col).alias("url"),
        F.col(ts_col).alias("ts"),
        F.col(text_col).cast("string").alias("body"),
    ).withColumn("rec_length", wet_record_length_expr("url", "body"))
    # Fail fast on a null id or body (in the id-range pass): a null body
    # reaching the writer would surface as an opaque planned-offset
    # mismatch deep in applyInPandas (the planned rec_length is NULL while
    # the writer would emit "None"); dropping it would lose a document.
    lo, hi, n_null = staged.agg(
        F.min("id"), F.max("id"),
        F.count(F.when(F.col("id").isNull() | F.col("body").isNull(), 1)),
    ).first()
    if n_null:
        raise ValueError(
            f"wet_export: {n_null} rows with a null {id_col} or {text_col}"
        )
    # body is null-checked + string-cast at staging; a non-str here is a
    # real bug and should fail loudly, not be masked by str() coercion.
    return _write_shards(
        _plan_shards(staged, lo, hi, shard_rows, num_partitions),
        out_dir,
        "warc.wet",
        lambda r: _format_wet_record(r.url, r.ts, r.body.encode()),
    )


def wet_export_oracle_sql(docs_sql: str, shard_rows: int = 1000) -> str:
    """DuckDB recomputation of the ENTIRE :func:`wet_export` layout —
    closed-form record lengths, naive-window global order, shard
    assignment, per-shard byte offsets, and each record's md5 rebuilt
    from the literal header strings (including the deterministic
    Refers-To digest).  *docs_sql* must yield
    (id, url, ts TIMESTAMP, body VARCHAR-utf8)."""
    crlf = "chr(13) || chr(10)"
    return f"""
        WITH p AS (SELECT * FROM ({docs_sql})),
        l AS (
            SELECT id, url, ts, body,
                   {int(_WET_FIXED)} + strlen(url)
                       + length(CAST(strlen(body) AS VARCHAR))
                       + strlen(body) AS rec_length,
                   ROW_NUMBER() OVER (ORDER BY id) - 1 AS pos
            FROM p
        ),
        s AS (
            SELECT *, pos // {int(shard_rows)} AS shard_id,
                   COALESCE(SUM(rec_length) OVER (
                       ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS byte_excl
            FROM l
        ),
        o AS (
            SELECT *,
                   (byte_excl - MIN(byte_excl) OVER (
                       PARTITION BY shard_id
                   ))::BIGINT AS rec_offset
            FROM s
        )
        SELECT id, url, shard_id,
               printf('part-%05d.warc.wet', shard_id) AS file_name,
               rec_offset, rec_length::BIGINT AS rec_length,
               md5('WARC/1.0' || {crlf}
                   || 'WARC-Type: conversion' || {crlf}
                   || 'WARC-Target-URI: ' || url || {crlf}
                   || 'WARC-Date: '
                       || strftime(ts, '%Y-%m-%dT%H:%M:%SZ') || {crlf}
                   || 'WARC-Refers-To: <urn:md5:'
                       || md5(url || '|'
                              || strftime(ts, '%Y-%m-%dT%H:%M:%SZ'))
                       || '>' || {crlf}
                   || 'Content-Type: text/plain' || {crlf}
                   || 'Content-Length: '
                       || CAST(strlen(body) AS VARCHAR)
                       || {crlf} || {crlf}
                   || body || {crlf} || {crlf}
               ) AS record_md5
        FROM o
    """
