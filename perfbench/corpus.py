"""Seeded benchmark inputs and the model of their expected outcomes.

``--seed`` selects a window of feed ids.  Pages, seeds and robots rows for
that window come from the public row builders of
``podcast_crawler_spark.sources.pagesgen``; the engine receives only those
three tables.  The expected outcome of every url follows from its feed id
alone (pagesgen's residues mod 97: parse failures 13/29/43, fetch failure
61, robots-denied 71) plus the per-host budget, so ``Model`` can replay any
sequence of epochs in plain Python and say what the committed snapshots
must hold.  The expected error kinds are fixed per residue and the expected
episode guids and urls are read from the raw XML, so neither comes from the
parse kernel under test.
"""

from __future__ import annotations

import html as htmllib
import multiprocessing
import os
import re
from dataclasses import dataclass, field
from datetime import timedelta
from typing import Dict, List, Optional, Set

import pyarrow as pa
import pyarrow.parquet as pq

from podcast_crawler_spark.functions.schemas import ROBOTS_SCHEMA, SEEDS_SCHEMA
from podcast_crawler_spark.operators.frontier import USER_AGENT, CrawlConfig
from podcast_crawler_spark.sources.pagesgen import (
    EPOCH0,
    FAIL_BAD_ENCLOSURE,
    FAIL_BAD_ENTITY,
    FAIL_MISSING_TITLE,
    FAIL_NO_PAGE,
    ROBOTS_DENIED,
    feed_host,
    feed_url,
    page_row,
    seed_row,
)

# the kernel's error kind for each parse-failure residue
PARSE_FAIL = {
    FAIL_MISSING_TITLE: "missing_field",
    FAIL_BAD_ENTITY: "invalid_xml",
    FAIL_BAD_ENCLOSURE: "missing_field",
}
EPOCH_INTERVAL_S = 60  # run_crawl's default spacing of epoch timestamps
T0 = int(EPOCH0.timestamp())
HOT_HOSTS = frozenset(feed_host(i) for i in range(3))
PAGES_ARROW = (pa.string(), pa.timestamp("us", tz="UTC"), pa.binary(),
               pa.string(), pa.string())


def epoch_ts(i: int):
    """Timestamp of the *i*-th epoch of a state (0-based), as run_crawl."""
    return EPOCH0 + timedelta(seconds=i * EPOCH_INTERVAL_S)


def window(seed: int, n_feeds: int) -> range:
    lo = (seed % 100_000) * n_feeds
    return range(lo, lo + n_feeds)


_ITEM = re.compile(r"<item>(.*?)</item>", re.S)
_GUID = re.compile(r"<guid>(.*?)</guid>")
_ENCLOSURE = re.compile(r'<enclosure url="([^"]*)"')
_LINK = re.compile(r"<link>(.*?)</link>")


def raw_episodes(xml: str):
    """Episode guids and discoverable urls (enclosure, then link) read
    straight from the generated XML, without the parse kernel."""
    guids, urls = [], []
    for item in _ITEM.findall(xml):
        guids.append(_GUID.search(item).group(1))
        for rx in (_ENCLOSURE, _LINK):
            urls.append(htmllib.unescape(rx.search(item).group(1)))
    return guids, urls


@dataclass
class Feed:
    fid: int
    url: str
    host: str
    kind: str  # ok | parse_fail | fetch_fail | denied
    error_kind: Optional[str]
    guids: List[str]
    episode_urls: List[str]


@dataclass
class Inputs:
    pages: object  # DataFrame
    seeds: object
    robots: object
    feeds: Dict[str, Feed]  # by url
    generator_mismatches: int


def generate(seed: int, n_feeds: int, procs: int):
    """``(feed id, page row)`` for the seed's window, built in *procs*
    forked worker processes.  Call it before the Spark session starts."""
    ids = window(seed, n_feeds)
    with multiprocessing.get_context("fork").Pool(procs) as pool:
        pages = pool.map(page_row, ids, chunksize=64)
        pool.close()
        pool.join()
    return list(zip(ids, pages))


def load(spark, rows, work: str) -> Inputs:
    """Hand the generated rows to Spark: pages as parquet, seeds and robots
    as tables built in this process."""
    pages = [p for _, p in rows if p is not None]
    path = os.path.join(work, "input", "pages.parquet")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    cols = list(zip(*pages))
    pq.write_table(pa.table(
        [pa.array(c, type=t) for c, t in zip(cols, PAGES_ARROW)],
        names=["url", "warc_ts", "html", "text", "lang"],
    ), path)
    ids = [r[0] for r in rows]
    seeds = spark.createDataFrame([seed_row(f) for f in ids], schema=SEEDS_SCHEMA)
    hosts = sorted({feed_host(f) for f in ids})
    robots = spark.createDataFrame(
        [(h, USER_AGENT, ["/private/"], 2.0 if h in HOT_HOSTS else 0.5)
         for h in hosts],
        schema=ROBOTS_SCHEMA,
    )
    feeds, mismatches = {}, 0
    for fid, page in rows:
        kind = expected_kind(fid)
        text = page[3] if page else None
        got = "fetch_fail" if page is None else "parse_fail" if text is None else "ok"
        # the generator's residue rules and its golden text must agree on
        # every feed that gets fetched; robots-denied feeds are never fetched
        if kind != "denied" and got != kind:
            mismatches += 1
        guids, urls = raw_episodes(page[2].decode()) if kind == "ok" else ([], [])
        feeds[feed_url(fid)] = Feed(
            fid, feed_url(fid), feed_host(fid), kind,
            PARSE_FAIL.get(fid % 97), guids, urls,
        )
    return Inputs(
        pages=spark.read.parquet(path),
        seeds=seeds,
        robots=robots,
        feeds=feeds,
        generator_mismatches=mismatches,
    )


def expected_kind(fid: int) -> str:
    r = fid % 97
    if r == ROBOTS_DENIED:
        return "denied"
    if r == FAIL_NO_PAGE:
        return "fetch_fail"
    if r in PARSE_FAIL:
        return "parse_fail"
    return "ok"


@dataclass
class Row:
    state: str = "pending"
    retries: int = 0
    next_fetch: int = T0
    error_kind: Optional[str] = None


@dataclass
class Model:
    """Plain-Python replay of the frontier under ``CrawlConfig`` rules."""

    feeds: Dict[str, Feed]
    cfg: CrawlConfig
    rows: Dict[str, Row] = field(default_factory=dict)
    parsed: Set[str] = field(default_factory=set)  # feed urls ever parsed
    epochs: List[Dict[str, int]] = field(default_factory=list)

    def __post_init__(self):
        self.rows = {u: Row() for u in self.feeds}

    def run_epoch(self) -> Dict[str, int]:
        ts = T0 + len(self.epochs) * EPOCH_INTERVAL_S
        by_host: Dict[str, List[Feed]] = {}
        for url, row in self.rows.items():
            f = self.feeds[url]
            if row.state != "failed" and row.next_fetch <= ts and f.kind != "denied":
                by_host.setdefault(f.host, []).append(f)
        scheduled = []
        for host_feeds in by_host.values():
            host_feeds.sort(key=lambda f: (self.rows[f.url].next_fetch, f.fid))
            scheduled += host_feeds[: self.cfg.per_host_budget]
        counts = {"scheduled": len(scheduled), "fetched": 0, "parsed": 0}
        for f in scheduled:
            row = self.rows[f.url]
            if f.kind == "fetch_fail":
                row.retries += 1
                row.error_kind = "network"
                if row.retries <= self.cfg.max_retries:
                    row.next_fetch = ts + int(row.retries * self.cfg.backoff_s)
                else:
                    row.state = "failed"
                continue
            counts["fetched"] += 1
            if f.kind == "parse_fail":
                row.state, row.error_kind = "failed", f.error_kind
            else:
                row.state, row.retries = "parsed", 0
                row.next_fetch = ts + self.cfg.fetch_interval_s
                self.parsed.add(f.url)
                counts["parsed"] += 1
        self.epochs.append(counts)
        return counts

    def guids(self) -> Set[str]:
        return {g for u in self.parsed for g in self.feeds[u].guids}

    def discovered(self) -> Set[str]:
        return {x for u in self.parsed for x in self.feeds[u].episode_urls}
