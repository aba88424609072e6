"""WARC source: round-trip, gzip, truncation tolerance, status parsing."""

from __future__ import annotations

from datetime import datetime, timezone
from typing import Iterator

import pandas as pd
import pytest

from podcast_crawler_spark.sources.warc import (
    parse_warc_bytes,
    parse_warc_records,
    read_warc,
    wet_export,
    write_warc_file,
)

TS = datetime(2025, 3, 1, 12, 0, tzinfo=timezone.utc)

RECORDS = [
    ("https://a.example/feed.xml", TS, 200, b"<rss>alpha</rss>"),
    ("https://b.example/feed.xml", TS, 404, b"not found"),
    ("https://c.example/x", TS, 200, b"\x00binary\r\n\r\npayload\x7f"),
]


def test_warc_roundtrip_plain_and_gzip(tmp_path):
    for compress in (False, True):
        p = str(tmp_path / f"t{'gz' if compress else ''}.warc")
        write_warc_file(RECORDS, p, compress=compress)
        got = parse_warc_bytes(open(p, "rb").read())
        assert [(u, s, b) for u, _, s, b in got] == [
            (u, s, b) for u, _, s, b in RECORDS
        ]
        assert all(ts == TS for _, ts, _, _ in got)


def test_warc_truncated_final_record_dropped(tmp_path):
    p = str(tmp_path / "t.warc")
    write_warc_file(RECORDS, p)
    data = open(p, "rb").read()
    got = parse_warc_bytes(data[: len(data) - 20])  # cut into last record
    assert [u for u, *_ in got] == [u for u, *_ in RECORDS[:2]]


def test_read_warc_spark_matches_fixture_meta(spark):
    """The Spark reader over the committed fixture archive reproduces the
    independently derived (url, n_bytes) meta exactly."""
    import duckdb

    df = read_warc(spark, "/root/repo/fixtures/crawl/crawl_sample.warc.gz")
    got = {(r.url, len(bytes(r.html))) for r in df.collect()}
    want = set(
        map(
            tuple,
            duckdb.connect()
            .execute(
                "select url, n_bytes from"
                " '/root/repo/fixtures/crawl/crawl_warc_meta.parquet'"
            )
            .fetchall(),
        )
    )
    assert got == want and len(got) == 198


def test_record_offsets_match_writer_layout(tmp_path):
    from podcast_crawler_spark.sources.warc import parse_warc_records

    p = str(tmp_path / "o.warc")
    locs = write_warc_file(RECORDS, p, compress=False)
    data = open(p, "rb").read()
    got = parse_warc_records(data)
    assert [(off, ln) for *_, off, ln in got] == locs
    # each (offset, length) slice re-parses to exactly that one record
    for (url, _, status, body, off, ln) in got:
        sub = parse_warc_records(data[off : off + ln])
        assert len(sub) == 1
        assert (sub[0][0], sub[0][2], sub[0][3]) == (url, status, body)
    # offsets are into the UNCOMPRESSED stream for whole-file gzip too
    locs_gz = write_warc_file(RECORDS, p + ".gz", compress=True)
    assert locs_gz == locs
    got_gz = parse_warc_records(open(p + ".gz", "rb").read())
    assert [(off, ln) for *_, off, ln in got_gz] == locs


def test_read_warc_index_and_cdx_layout(spark, tmp_path):
    import hashlib

    from podcast_crawler_spark.sources.warc import cdx_index, read_warc_index

    p = str(tmp_path / "i.warc.gz")
    locs = write_warc_file(RECORDS, p, compress=True)
    idx = read_warc_index(spark, p)
    rows = {r.url: r for r in idx.collect()}
    assert len(rows) == 3
    for (url, _, status, body), (off, ln) in zip(RECORDS, locs):
        r = rows[url]
        assert (r.offset, r.rec_length) == (off, ln)
        assert r.n_bytes == len(body)
        assert r.body_md5 == hashlib.md5(body).hexdigest()
        assert r.filename == "i.warc.gz"
        assert r.http_status == status
    # serving layout: surt present, one range exchange, sorted within
    laid = cdx_index(idx, num_partitions=2)
    assert "surt" in laid.columns
    plan = laid._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower(), plan
    assert plan.count("Exchange") == 1, plan
    # surt groups a host's captures regardless of subdomain ordering
    surts = sorted(r.surt for r in laid.collect())
    assert surts[0].startswith("example,a)")


def test_warc_export_roundtrip_and_layout(spark, tmp_path):
    """Distributed sink → scanner round-trip: warc_export's shards are
    byte-valid WARC the reader recovers exactly, every manifest
    (offset, length) slices out exactly one parseable record, and the
    md5 is of the real bytes."""
    import hashlib

    from pyspark.sql import functions as F

    from podcast_crawler_spark.sources.warc import warc_export

    out = str(tmp_path / "shards")
    rows = [
        # multibyte body (é, 2 bytes utf-8) exercises byte-vs-char math
        (i, f"https://h{i}.example/p/{i}", 200 if i % 2 else 301,
         ("corps-é-" * (i + 1)) + str(i))
        for i in range(7)
    ]
    pages = spark.createDataFrame(
        rows, "page_id long, url string, http_status int, text string"
    ).select(
        "page_id", "url",
        F.expr(
            "timestamp '2024-01-01 00:00:00'"
            " + make_dt_interval(0, 0, 0, page_id)"
        ).alias("warc_ts"),
        "http_status",
        F.col("text").cast("binary").alias("html"),
    )
    man = warc_export(pages, out, shard_rows=3).toPandas()
    assert len(man) == 7
    assert sorted(man.shard_id.value_counts().to_dict().items()) == [
        (0, 3), (1, 3), (2, 1)
    ]
    # scanner recovers every record byte-identically
    from podcast_crawler_spark.sources.warc import parse_warc_bytes

    got = {}
    for fname in sorted(set(man.file_name)):
        data = open(f"{out}/{fname}", "rb").read()
        for url, ts, status, body in parse_warc_bytes(data):
            got[url] = (status, body)
    for i, url, status, text in rows:
        assert got[url] == (status, text.encode()), url
    # every manifest (offset, length) slices out exactly that record,
    # and record_md5 is the md5 of the slice
    for r in man.itertuples(index=False):
        data = open(f"{out}/{r.file_name}", "rb").read()
        rec = data[r.rec_offset:r.rec_offset + r.rec_length]
        assert hashlib.md5(rec).hexdigest() == r.record_md5
        (url, _ts, status, _body) = parse_warc_bytes(rec)[0]
        assert url == r.url


def test_warc_export_plan_single_corpus_window(spark, tmp_path):
    """Both prefix sums (position + bytes) share ONE window pass: the
    plan has exactly one Window node computing two running sums, so the
    extra_val_cols path adds no exchange."""
    from pyspark.sql import functions as F

    from podcast_crawler_spark.sources.warc import warc_export

    pages = spark.range(20).select(
        F.col("id").alias("page_id"),
        F.concat(F.lit("https://x/"), F.col("id")).alias("url"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.lit(200).alias("http_status"),
        F.lit("body").cast("binary").alias("html"),
    )
    df = warc_export(pages, str(tmp_path / "s"), shard_rows=5)
    df.collect()  # finalize the adaptive plan on THIS QueryExecution
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("Initial Plan")[0]
    # ONE corpus-size exchange (the bkt window pass); the byte prefix
    # rides the same pass — extra_val_cols added no exchange
    assert final.count("Exchange hashpartitioning(bkt") == 1, plan
    # both running sums live in one window spec over bkt
    assert "windowspecdefinition(bkt" in final, plan
    # offset fold + writer grouping are the only other exchanges
    assert final.count("Exchange SinglePartition") <= 1, plan
    assert final.count("Exchange hashpartitioning(shard_id") == 1, plan


def test_revisit_records_first_capture_rule(spark):
    from pyspark.sql import functions as F

    from podcast_crawler_spark.sources.warc import revisit_records

    rows = [
        # url A: digest d1 twice (ts tie broken by fetch_id), then d2,
        # then d1 again (still refers to the FIRST d1 capture)
        ("A", "2024-01-01", 2, "d1", 100),
        ("A", "2024-01-01", 1, "d1", 100),
        ("A", "2024-01-02", 3, "d2", 120),
        ("A", "2024-01-03", 4, "d1", 100),
        # url B: single capture
        ("B", "2024-01-05", 5, "d9", 50),
    ]
    df = spark.createDataFrame(
        rows, "url string, ts string, fetch_id long, digest string, nb long"
    ).select(
        "url", F.to_date("ts").alias("warc_ts"), "fetch_id",
        F.col("digest").alias("payload_digest"),
        F.col("nb").alias("n_bytes"),
    )
    out = {
        r["fetch_id"]: r
        for r in revisit_records(df).collect()
    }
    assert out[1]["rec_type"] == "response" and out[1]["bytes_saved"] == 0
    assert out[2]["rec_type"] == "revisit"
    assert str(out[2]["refers_to_ts"]) == "2024-01-01"
    assert out[2]["bytes_saved"] == 100
    assert out[3]["rec_type"] == "response"  # new digest -> new original
    assert out[4]["rec_type"] == "revisit"
    assert str(out[4]["refers_to_ts"]) == "2024-01-01"
    assert out[5]["rec_type"] == "response"
    assert out[1]["refers_to_ts"] is None


def test_wet_export_rejects_null_body(spark, tmp_path):
    """A null text row fails the export loudly instead of vanishing from
    the archive and its manifest."""
    docs = spark.createDataFrame(
        [(1, "https://h1.example/t/1", "body"), (2, "https://h2.example/t/2", None)],
        "doc_id long, url string, text string",
    ).selectExpr(
        "doc_id", "url", "timestamp '2024-01-01 00:00:00' AS warc_ts", "text"
    )
    with pytest.raises(ValueError, match="1 rows with a null doc_id or text"):
        wet_export(docs, str(tmp_path / "wet"), shard_rows=3)


def _read_wet(spark, path):
    """WET file(s) → DataFrame(url, warc_ts, text): the round-trip reader
    for ``wet_export`` (conversion records, payload decoded utf-8), one
    task per file like ``read_warc``."""
    files = spark.read.format("binaryFile").load(path)

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for content in pdf["content"]:
                for url, ts, _status, body, _o, _l in parse_warc_records(
                    bytes(content), record_types=(b"conversion",)
                ):
                    rows.append((
                        url,
                        ts.replace(tzinfo=None) if ts else None,
                        body.decode("utf-8", "replace"),
                    ))
            yield pd.DataFrame(rows, columns=["url", "warc_ts", "text"])

    return files.select("content").mapInPandas(
        _run, schema="url string, warc_ts timestamp, text string"
    )


def test_wet_export_roundtrip_layout_and_md5(spark, tmp_path):
    """WET sink → _read_wet round-trip: shards are byte-valid WARC
    conversion records, every manifest (offset, length) slices exactly
    one record whose md5 matches, and the reader recovers (url, ts,
    text) — including multibyte payloads — exactly."""
    import hashlib

    from pyspark.sql import functions as F

    out = str(tmp_path / "wet")
    rows = [
        # multibyte text (é) exercises octet-vs-char planning math
        (i, f"https://h{i}.example/t/{i}", ("texte-é-" * (i + 1)) + str(i))
        for i in range(7)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, url string, text string"
    ).select(
        "doc_id", "url",
        F.expr(
            "timestamp '2024-01-01 00:00:00'"
            " + make_dt_interval(0, 0, 0, doc_id)"
        ).alias("warc_ts"),
        "text",
    )
    man = wet_export(docs, out, shard_rows=3).toPandas()
    assert len(man) == 7
    assert sorted(man.shard_id.value_counts().to_dict().items()) == [
        (0, 3), (1, 3), (2, 1)
    ]
    # every manifest row slices out exactly one parseable conversion
    # record with the manifest's md5
    for fname in sorted(set(man.file_name)):
        data = open(f"{out}/{fname}", "rb").read()
        sub = man[man.file_name == fname]
        assert len(data) == int((sub.rec_offset + sub.rec_length).max())
        for r in sub.itertuples(index=False):
            rec = data[r.rec_offset:r.rec_offset + r.rec_length]
            assert hashlib.md5(rec).hexdigest() == r.record_md5
            parsed = parse_warc_records(rec, record_types=(b"conversion",))
            assert len(parsed) == 1
            url, ts, status, body, off, rlen = parsed[0]
            assert url == r.url and status is None
            assert off == 0 and rlen == len(rec)
    # reader round-trip: url/ts/text recovered exactly
    got = _read_wet(spark, out).orderBy("url").collect()
    want = {u: t for _i, u, t in rows}
    assert len(got) == 7
    for row in got:
        assert want[row.url] == row.text
        assert row.warc_ts is not None
    # response-record scanner ignores conversion records (and vice
    # versa): a WET shard yields zero pages
    from podcast_crawler_spark.sources.warc import parse_warc_bytes

    first = sorted(set(man.file_name))[0]
    assert parse_warc_bytes(open(f"{out}/{first}", "rb").read()) == []
