"""End-to-end epoch loop: outputs vs a straight-line pandas oracle, upsert
semantics, exact resume-from-checkpoint (SURVEY.md §5 t2/t3)."""

from __future__ import annotations

import hashlib

import pytest

from pyspark.sql import functions as F

from podcast_crawler_spark.feedparse.rssparse import parse_feed_result
from podcast_crawler_spark.operators.frontier import CrawlConfig
from podcast_crawler_spark.plans.epoch import CrawlState, discovered_urls, run_crawl
from podcast_crawler_spark.sources.pagesgen import (
    EPOCH0,
    FAIL_NO_PAGE,
    ROBOTS_DENIED,
    feed_url,
    feed_xml,
    gen_pages,
    gen_robots,
    gen_seeds,
)

N = 150
CFG = CrawlConfig(per_host_budget=1000, max_retries=1, num_partitions=8)


def pandas_oracle(n_feeds: int):
    """Straight-line oracle: what the podcasts/episodes tables must contain
    after enough epochs that every fetchable, robots-allowed feed was
    parsed."""
    podcasts, episodes = {}, {}
    for fid in range(n_feeds):
        mode = fid % 97
        if mode in (FAIL_NO_PAGE, ROBOTS_DENIED):
            continue
        url = feed_url(fid)
        res = parse_feed_result(feed_xml(fid).encode(), url)
        if res["error_kind"] is not None:
            continue
        podcasts[url] = res["podcast"]
        for ep in res["episodes"]:
            episodes[ep["guid"]] = (url, ep)
    return podcasts, episodes


@pytest.fixture(scope="module")
def crawl_state(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("crawl"))
    seeds = gen_seeds(spark, N, partitions=4)
    pages = gen_pages(spark, N, partitions=4)
    robots = gen_robots(spark, N)
    state = run_crawl(
        spark, root, seeds, pages, robots, epochs=2, epoch0=EPOCH0, cfg=CFG
    )
    return state


def test_epoch_outputs_match_oracle(spark, crawl_state):
    want_podcasts, want_episodes = pandas_oracle(N)
    got_podcasts = {
        r.rss_feed_url: r for r in crawl_state.podcasts.read(spark).collect()
    }
    assert set(got_podcasts) == set(want_podcasts)
    for url, want in want_podcasts.items():
        got = got_podcasts[url]
        assert got.title == want["title"]
        assert got.description == want["description"]
        assert got.author == want["author"]
        assert (got.category or None) == want["category"]
        assert got.explicit == want["explicit"]

    got_eps = {r.guid: r for r in crawl_state.episodes.read(spark).collect()}
    assert set(got_eps) == set(want_episodes)
    for guid, (feed, want) in want_episodes.items():
        got = got_eps[guid]
        assert got.title == want["title"]
        assert got.enclosure_url == want["enclosure_url"]
        assert got.enclosure_length == want["enclosure_length"]
        assert (
            got.pub_date.replace(tzinfo=None)
            == (want["pub_date"].replace(tzinfo=None) if want["pub_date"] else None)
        )


def test_frontier_states_after_crawl(spark, crawl_state):
    frontier = crawl_state.frontier.read(spark)
    states = {r.url: r for r in frontier.collect()}
    # robots-denied rows never scheduled → still pending with no retries
    denied = [states[feed_url(f)] for f in range(N) if f % 97 == ROBOTS_DENIED]
    assert denied and all(r.state == "pending" and r.retries == 0 for r in denied)
    # fetch-missing rows exhausted retries (max_retries=1, 2 epochs) → failed
    missing = [states[feed_url(f)] for f in range(N) if f % 97 == FAIL_NO_PAGE]
    assert missing and all(
        r.state == "failed" and r.error_kind == "network" for r in missing
    )
    # parsed rows rescheduled one fetch_interval out, with stage lineage
    parsed = [r for r in states.values() if r.state == "parsed"]
    assert parsed
    for r in parsed[:20]:
        assert [s.name for s in r.stages] == [
            "distribution",
            "fetching",
            "parsing",
            "inserting",
        ]
        assert all(s.status == "Completed" for s in r.stages)


def test_epoch_metrics_manifest(spark, crawl_state):
    man = crawl_state.frontier.manifest()
    m = man["metrics"]
    assert m["epoch"] == 2
    assert m["scheduled"] >= 0
    assert "partition_lineage" in m
    # epoch-1 manifest still time-travelable
    man1 = crawl_state.frontier.manifest(2)  # snapshot 2 = epoch 1
    assert man1["metrics"]["epoch"] == 1
    assert man1["metrics"]["parsed"] > 100
    mt = crawl_state.metrics.read(spark)
    assert mt.count() == 2


def test_shuffled_outcome_join_matches_broadcast(
    spark, crawl_state, tmp_path, monkeypatch
):
    """Above BROADCAST_OUTCOMES_MAX_ROWS the frontier update shuffles the
    outcomes and re-buckets the frontier by host_hash.  With the bound at
    0 every epoch takes that branch: the outcome join plans without a
    broadcast, and the crawl leaves the same frontier rows and manifest
    metrics as the default (broadcast) run."""
    from podcast_crawler_spark.plans import epoch as epoch_mod

    joins = []
    apply = epoch_mod.apply_epoch_results

    def spy(*args, **kwargs):
        out = apply(*args, **kwargs)
        plan = out._jdf.queryExecution().executedPlan().toString()
        joins.extend(
            ln for ln in plan.splitlines() if "Join" in ln and "o_hash" in ln
        )
        return out

    monkeypatch.setattr(epoch_mod, "BROADCAST_OUTCOMES_MAX_ROWS", 0)
    monkeypatch.setattr(epoch_mod, "apply_epoch_results", spy)
    shuffled = run_crawl(
        spark,
        str(tmp_path),
        gen_seeds(spark, N, partitions=4),
        gen_pages(spark, N, partitions=4),
        gen_robots(spark, N),
        epochs=2,
        epoch0=EPOCH0,
        cfg=CFG,
    )
    assert len(joins) == 2 and not any("Broadcast" in ln for ln in joins), joins

    def rows(state):
        return sorted(
            map(tuple, state.frontier.read(spark).collect()), key=lambda r: r[0]
        )

    assert rows(shuffled) == rows(crawl_state)
    for snap in crawl_state.frontier.snapshot_ids():
        want, got = (
            {
                k: v
                for k, v in s.frontier.manifest(snap)["metrics"].items()
                if k not in ("wall_s", "partition_lineage")
            }
            for s in (crawl_state, shuffled)
        )
        assert got == want, snap


def _table_digest(df, cols, key):
    rows = df.select(*cols).orderBy(key).collect()
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(tuple(r)).encode())
    return h.hexdigest()


def test_resume_byte_identical(spark, tmp_path):
    seeds = gen_seeds(spark, 80, partitions=4)
    pages = gen_pages(spark, 80, partitions=4)
    robots = gen_robots(spark, 80)
    cfg = CrawlConfig(per_host_budget=10, max_retries=1, num_partitions=8)

    full = run_crawl(
        spark, str(tmp_path / "full"), seeds, pages, robots, 3, EPOCH0, cfg=cfg
    )
    # interrupted run: 2 epochs, then resume to 3 in a fresh process-state
    part_dir = str(tmp_path / "part")
    run_crawl(spark, part_dir, seeds, pages, robots, 2, EPOCH0, cfg=cfg)
    resumed = run_crawl(spark, part_dir, seeds, pages, robots, 3, EPOCH0, cfg=cfg)

    assert resumed.completed_epochs() == full.completed_epochs() == 3
    pod_cols = ["rss_feed_url", "title", "description", "_epoch"]
    ep_cols = ["guid", "title", "enclosure_url", "enclosure_length", "_epoch"]
    fr_cols = ["url", "state", "retries", "next_fetch_ts", "error_kind"]
    for table, cols, key in [
        ("podcasts", pod_cols, "rss_feed_url"),
        ("episodes", ep_cols, "guid"),
        ("frontier", fr_cols, "url"),
    ]:
        a = _table_digest(getattr(full, table).read(spark), cols, key)
        b = _table_digest(getattr(resumed, table).read(spark), cols, key)
        assert a == b, f"{table} diverged after resume"


def test_discovered_urls(spark, crawl_state):
    d = discovered_urls(crawl_state, spark)
    rows = d.limit(5).collect()
    assert rows and all(r.url_hash is not None for r in rows)
    assert d.count() >= crawl_state.episodes.read(spark).count()


def test_crash_between_prepare_and_publish_is_invisible(spark, tmp_path):
    """Two-phase commit crash window: data files written (prepare) but no
    manifest (publish) must be invisible to readers, and the idempotent
    epoch retry (writing its own data dir beside the orphan) must
    converge to the same state as an uninterrupted run."""
    seeds = gen_seeds(spark, 60, partitions=4)
    pages = gen_pages(spark, 60, partitions=4)
    robots = gen_robots(spark, 60)
    cfg = CrawlConfig(per_host_budget=10, max_retries=1, num_partitions=8)

    clean = run_crawl(
        spark, str(tmp_path / "clean"), seeds, pages, robots, 2, EPOCH0, cfg=cfg
    )

    crash_dir = str(tmp_path / "crash")
    state = run_crawl(spark, crash_dir, seeds, pages, robots, 1, EPOCH0, cfg=cfg)
    # simulate the crash: epoch 2's frontier data written, manifest never
    # published — exactly what a kill between prepare() and publish() leaves
    snap_before = state.frontier.current_snapshot_id()
    staged = state.frontier.prepare(state.frontier.read(spark))
    assert state.frontier.current_snapshot_id() == snap_before  # invisible
    assert staged["snapshot_id"] == snap_before + 1

    # resume: the retry re-runs epoch 2 into a new data dir; the orphan
    # stays unread until expire collects it
    resumed = run_crawl(
        spark, crash_dir, seeds, pages, robots, 2, EPOCH0, cfg=cfg
    )
    assert resumed.completed_epochs() == 2
    fr_cols = ["url", "state", "retries", "next_fetch_ts", "error_kind"]
    a = _table_digest(clean.frontier.read(spark), fr_cols, "url")
    b = _table_digest(resumed.frontier.read(spark), fr_cols, "url")
    assert a == b


def test_bucketed_pages_epoch_identical(spark, tmp_path):
    """J3 production layout: a crawl run with ``cfg.pages_bucketed_table``
    (url-bucketed pages read in place, build-left SHJ — sources/bucketed)
    produces byte-identical frontier/podcasts/episodes tables to the
    plain shuffled fetch join."""
    from podcast_crawler_spark.sources.bucketed import write_bucketed_pages

    n = 90
    seeds = gen_seeds(spark, n, partitions=4)
    pages = gen_pages(spark, n, partitions=4)
    robots = gen_robots(spark, n)
    cfg = CrawlConfig(per_host_budget=50, max_retries=1, num_partitions=8)

    plain = run_crawl(
        spark, str(tmp_path / "plain"), seeds, pages, robots, 2, EPOCH0, cfg=cfg
    )

    write_bucketed_pages(
        pages, "pages_bucketed_epoch_t", buckets=8, one_file_per_bucket=True
    )
    try:
        bcfg = CrawlConfig(
            per_host_budget=50,
            max_retries=1,
            num_partitions=8,
            pages_bucketed_table="pages_bucketed_epoch_t",
        )
        bucketed = run_crawl(
            spark,
            str(tmp_path / "bucketed"),
            seeds,
            pages,  # ignored by the fetch join when the table is set
            robots,
            2,
            EPOCH0,
            cfg=bcfg,
        )
        fr_cols = ["url", "state", "retries", "next_fetch_ts", "error_kind"]
        assert _table_digest(
            plain.frontier.read(spark), fr_cols, "url"
        ) == _table_digest(bucketed.frontier.read(spark), fr_cols, "url")
        for table, cols, key in (
            ("podcasts", ["rss_feed_url", "title", "author"], "rss_feed_url"),
            ("episodes", ["guid", "title", "enclosure_url"], "guid"),
        ):
            a = _table_digest(getattr(plain, table).read(spark), cols, key)
            b = _table_digest(getattr(bucketed, table).read(spark), cols, key)
            assert a == b, table
    finally:
        spark.sql("drop table if exists pages_bucketed_epoch_t")
