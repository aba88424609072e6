"""S2 live-fetch swap-in point: per-host sequential politeness, transport
failure → retry path, and end-to-end equality with the pages-join mode."""

from __future__ import annotations

import time
import zlib
from datetime import datetime, timezone

import pytest

from pyspark.sql import functions as F

from podcast_crawler_spark.operators.fetcher import live_fetch
from podcast_crawler_spark.operators.frontier import (
    CrawlConfig,
    build_frontier,
    fetch_join,
    schedule_epoch,
)
from podcast_crawler_spark.sources.pagesgen import gen_pages, gen_robots, gen_seeds

EPOCH0 = datetime(2025, 1, 1, tzinfo=timezone.utc)
N = 120
CFG = CrawlConfig(per_host_budget=100, num_partitions=4)


@pytest.fixture(scope="module")
def corpus(spark):
    seeds = gen_seeds(spark, N, partitions=4)
    robots = gen_robots(spark, N)
    pages = gen_pages(spark, N, partitions=4)
    frontier = build_frontier(seeds, EPOCH0, CFG)
    scheduled = schedule_epoch(frontier, robots, EPOCH0, CFG).cache()
    page_map = {r.url: bytes(r.html) for r in pages.collect()}
    return scheduled, pages, page_map


def test_live_fetch_equals_pages_join(spark, corpus):
    """With a transport serving exactly the pages table, the live fetcher
    and the sandbox fetch_join produce identical (url, html, fetch_ok)."""
    scheduled, pages, page_map = corpus

    def transport(url, timeout_s, user_agent):
        assert user_agent == "PodcastCrawler/1.0"  # rss_fetcher.rs:20
        assert timeout_s == 5.0  # rss_fetcher.rs:88
        return page_map.get(url)

    live = live_fetch(scheduled, transport, EPOCH0)
    joined = fetch_join(scheduled, pages)
    got = {
        r.url: (bytes(r.html) if r.html is not None else None, r.fetch_ok)
        for r in live.collect()
    }
    want = {
        r.url: (bytes(r.html) if r.html is not None else None, r.fetch_ok)
        for r in joined.collect()
    }
    assert got == want
    assert any(not ok for _, ok in want.values())  # corpus has fetch misses


def test_live_fetch_per_host_sequential_order(spark, corpus):
    """Politeness: within a host, URLs are fetched one at a time in
    host_seq order (the reference's one-task-per-worker loop).  The fake
    transport stamps a monotonic counter into each body; each host group
    runs in ONE task, so the stamps must ascend with host_seq."""
    scheduled, _, _ = corpus

    def transport(url, timeout_s, user_agent):
        return str(time.monotonic_ns()).encode()

    rows = live_fetch(scheduled, transport, EPOCH0).select(
        "host", "host_seq", "html"
    ).collect()
    by_host = {}
    for r in rows:
        by_host.setdefault(r.host, []).append((r.host_seq, int(bytes(r.html))))
    multi = [v for v in by_host.values() if len(v) > 1]
    assert multi  # hot hosts exist by construction
    for seqs in multi:
        ordered = sorted(seqs)
        stamps = [s for _, s in ordered]
        assert stamps == sorted(stamps)


def test_live_fetch_errors_feed_retry_path(spark, corpus):
    """A transport exception is a fetch failure (html null, fetch_ok
    False) — the standard R1/R2 retry discipline takes over; the fetcher
    itself never retries (distributor.rs:99 refactor parity)."""
    scheduled, _, page_map = corpus

    def flaky(url, timeout_s, user_agent):
        # crc32, not hash(): str hashes differ per worker process
        if zlib.crc32(url.encode()) % 3 == 0:
            raise TimeoutError("simulated network timeout")
        return page_map.get(url)

    rows = live_fetch(scheduled, flaky, EPOCH0).collect()
    failed = [r for r in rows if not r.fetch_ok]
    timed_out = {r.url for r in rows if zlib.crc32(r.url.encode()) % 3 == 0}
    assert timed_out and timed_out <= {r.url for r in failed}
    assert all(r.html is None for r in failed)
    assert len(failed) < len(rows)


def test_epoch_with_live_fetcher_matches_join_mode(spark, tmp_path, corpus):
    """Full-epoch equality: run_epoch with the live fetcher bound to a
    transport serving the pages corpus produces byte-identical episodes
    to the pages-join mode."""
    from podcast_crawler_spark.plans.epoch import CrawlState, init_crawl, run_epoch

    _, pages, page_map = corpus
    seeds = gen_seeds(spark, N, partitions=4)
    robots = gen_robots(spark, N)

    def transport(url, timeout_s, user_agent):
        return page_map.get(url)

    results = {}
    for mode in ("join", "live"):
        state = init_crawl(spark, seeds, str(tmp_path / mode), EPOCH0, CFG)
        run_epoch(
            spark,
            state,
            pages,
            robots,
            EPOCH0,
            CFG,
            fetcher=(
                (lambda sched: live_fetch(sched, transport, EPOCH0))
                if mode == "live"
                else None
            ),
        )
        eps = state.episodes.read(spark)
        results[mode] = sorted(
            (r.guid, r.title, r.enclosure_url) for r in eps.collect()
        )
    assert results["live"] == results["join"]
    assert len(results["join"]) > 0


def test_live_fetch_real_socket_end_to_end(spark, tmp_path):
    """Soak the REAL urllib transport against a local fixture HTTP
    server: body round-trip, politeness UA on the wire, non-200 →
    fetch failure, socket timeout → fetch failure (bounded), scheme
    allowlist, and per-host sequential request order as observed by
    the server."""
    import json
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from podcast_crawler_spark.operators.fetcher import (
        live_fetch,
        urllib_transport,
    )

    log_path = str(tmp_path / "req_log.jsonl")
    log_lock = threading.Lock()

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):
            # executor python workers are separate processes — log to a
            # file so the test process can read the request record
            with log_lock, open(log_path, "a") as fh:
                fh.write(json.dumps({
                    "path": self.path,
                    "ua": self.headers.get("User-Agent"),
                }) + "\n")
            if self.path.startswith("/missing"):
                self.send_error(404)
                return
            if self.path.startswith("/slow"):
                time.sleep(2.0)  # > the 0.5 s timeout below
            body = f"<rss>{self.path}</rss>".encode()
            try:
                self.send_response(200)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
            except BrokenPipeError:
                pass  # timed-out client already hung up (the /slow case)

        def log_message(self, *a):  # silence stderr
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        base = f"http://127.0.0.1:{port}"
        rows = []
        host_hash = {"a": 0, "b": 1}  # fixed, not PYTHONHASHSEED-dependent
        for h in ("a", "b"):
            for i in range(3):
                rows.append((f"{base}/feed/{h}/{i}", h, host_hash[h], i))
        rows.append((f"{base}/missing/x", "c", 2, 0))
        rows.append((f"{base}/slow/y", "d", 3, 0))
        rows.append(("file:///etc/hostname", "e", 4, 0))  # scheme gate
        scheduled = spark.createDataFrame(
            rows, "url string, host string, host_hash long, host_seq long"
        )
        fetched = live_fetch(
            scheduled, urllib_transport, EPOCH0, timeout_s=0.5
        )
        t0 = time.time()
        got = {r.url: r for r in fetched.collect()}
        wall = time.time() - t0

        # body round-trip, exact bytes
        for h in ("a", "b"):
            for i in range(3):
                u = f"{base}/feed/{h}/{i}"
                assert got[u].fetch_ok
                assert bytes(got[u].html) == f"<rss>/feed/{h}/{i}</rss>".encode()
        # non-200 and timeout and non-http scheme are fetch failures
        assert not got[f"{base}/missing/x"].fetch_ok
        assert got[f"{base}/missing/x"].html is None
        assert not got[f"{base}/slow/y"].fetch_ok
        assert not got["file:///etc/hostname"].fetch_ok
        # the timeout actually bounded the slow request (hosts fetch in
        # parallel tasks; generous bound, just proves no hang)
        assert wall < 30

        reqs = [json.loads(l) for l in open(log_path)]
        # politeness UA on the wire for every request (file:// never hit)
        assert reqs and all(r["ua"] == "PodcastCrawler/1.0" for r in reqs)
        assert not any("hostname" in r["path"] for r in reqs)
        # per-host sequential order as the server saw it
        for h in ("a", "b"):
            seen = [r["path"] for r in reqs if r["path"].startswith(f"/feed/{h}/")]
            assert seen == [f"/feed/{h}/{i}" for i in range(3)]
    finally:
        srv.shutdown()
        srv.server_close()
