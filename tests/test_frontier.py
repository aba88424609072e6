"""Frontier scheduling: politeness budget, robots, retries — and ordering
equality against a pandas simulator of the reference scheduler (seed-order
round-robin distributor, ``/root/reference/src/crawler_refactor/
distributor.rs:33-41``, under the north-rule per-host budget)."""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F

from podcast_crawler_spark.feedparse.scalars import validate_url
from podcast_crawler_spark.functions.schemas import (
    PAGES_SCHEMA,
    ROBOTS_SCHEMA,
    SEEDS_SCHEMA,
)
from podcast_crawler_spark.operators.frontier import (
    USER_AGENT,
    CrawlConfig,
    apply_epoch_results,
    build_frontier,
    fetch_join,
    frontier_rows,
    schedule_epoch,
    seed_scan,
)
from podcast_crawler_spark.operators.robots import agent_rules
from podcast_crawler_spark.plans.epoch import init_crawl, run_crawl, run_epoch
from podcast_crawler_spark.sources.pagesgen import (
    EPOCH0,
    ROBOTS_DENIED,
    feed_host,
    feed_url,
    gen_pages,
    gen_robots,
    gen_seeds,
    seed_row,
)

N = 200
CFG = CrawlConfig(per_host_budget=5, num_partitions=8)


def _canonical(url: str) -> str:
    # mirror urlfns.canonicalize_url for the http(s)-no-port corpus
    scheme, rest = url.split("://", 1)
    host, slash, tail = rest.partition("/")
    tail = tail.split("#")[0]
    return f"{scheme.lower()}://{host.lower()}{slash}{tail}"


def simulate_reference_schedule(n_feeds: int, budget: int):
    """The reference processes seeds in rank order (round-robin across
    workers preserves per-host relative order); with the north-rule per-host
    budget the scheduled set is the first *budget* valid URLs per host."""
    per_host = {}
    seen_canonical = set()
    out = []
    rows = sorted((seed_row(fid) for fid in range(n_feeds)), key=lambda r: r[1])
    for _id, rank, _name, _genre, links in rows:
        for name, url in links:
            if name != "rss" or not url or not validate_url(url):
                continue
            canon = _canonical(url)
            if canon in seen_canonical:
                continue
            seen_canonical.add(canon)
            host = url.split("://", 1)[1].split("/", 1)[0].lower()
            path = "/" + url.split("://", 1)[1].split("/", 1)[1]
            if path.startswith("/private/"):  # robots disallow
                continue
            c = per_host.get(host, 0)
            if c < budget:
                per_host[host] = c + 1
                out.append((url, host, c + 1))
    return out


def test_seed_scan_filters(spark):
    seeds = gen_seeds(spark, N, partitions=4)
    urls = seed_scan(seeds)
    rows = urls.collect()
    assert len(rows) == N  # one valid rss url per feed; negatives filtered
    assert all(r.url.startswith("https://") for r in rows)


def test_schedule_matches_reference_simulator(spark):
    seeds = gen_seeds(spark, N, partitions=4)
    robots = gen_robots(spark, N)
    frontier = build_frontier(seeds, EPOCH0)
    sched = schedule_epoch(frontier, robots, EPOCH0, CFG)
    got = {(r.url, r.host, r.host_seq) for r in sched.collect()}
    want = set(simulate_reference_schedule(N, CFG.per_host_budget))
    assert got == want


def test_robots_denied_excluded(spark):
    seeds = gen_seeds(spark, N, partitions=4)
    robots = gen_robots(spark, N)
    frontier = build_frontier(seeds, EPOCH0)
    sched = schedule_epoch(frontier, robots, EPOCH0, CFG)
    denied_urls = {feed_url(fid) for fid in range(N) if fid % 97 == ROBOTS_DENIED}
    assert denied_urls  # corpus contains denied feeds
    got = {r.url for r in sched.collect()}
    assert not (got & denied_urls)


# one host with an exact-UA rules row and a ``*`` row
TWO_ROW_HOST = "h.example"
TWO_ROW_URLS = [
    f"https://{TWO_ROW_HOST}/{p}"
    for p in ("a.xml", "b.xml", "c.xml", "private/x.xml")
]


def _two_row_robots(spark):
    return spark.createDataFrame(
        [
            (TWO_ROW_HOST, USER_AGENT, ["/private/"], 2.0),
            (TWO_ROW_HOST, "*", [], 9.0),
        ],
        ROBOTS_SCHEMA,
    )


def test_exact_agent_robots_row_overrides_star_row(spark):
    """A host with an exact-UA rules row and a ``*`` row is governed by
    the exact-UA row alone (RFC 9309 §2.2.1), once ``agent_rules`` has
    resolved the table: each due url is scheduled once, spaced by that
    row's delay, and its disallow still applies."""
    frontier = frontier_rows(
        spark.createDataFrame(
            [(u, i) for i, u in enumerate(TWO_ROW_URLS)],
            "url string, priority int",
        ),
        EPOCH0,
    )
    cfg = CrawlConfig(per_host_budget=10, num_partitions=4)
    rules = agent_rules(_two_row_robots(spark))
    rows = sorted(
        schedule_epoch(frontier, rules, EPOCH0, cfg).collect(),
        key=lambda r: r.host_seq,
    )
    assert [(r.url, r.host_seq) for r in rows] == [
        (u, i + 1) for i, u in enumerate(TWO_ROW_URLS[:3])
    ]
    assert [
        (r.planned_fetch_ts - rows[0].planned_fetch_ts).total_seconds()
        for r in rows
    ] == [0.0, 2.0, 4.0]


def test_agent_rules_one_row_per_host(spark):
    """``agent_rules`` keeps one row per host — exact UA over ``*`` —
    and drops rows for other agents."""
    robots = spark.createDataFrame(
        [
            ("a.example", "*", ["/s/"], 1.0),
            ("a.example", USER_AGENT, ["/e/"], 2.0),
            ("b.example", "*", ["/s/"], None),
            ("c.example", "OtherBot", ["/"], 3.0),
        ],
        ROBOTS_SCHEMA,
    )
    got = {
        r.host: (r.user_agent, list(r.disallow_prefixes), r.crawl_delay_s)
        for r in agent_rules(robots).collect()
    }
    assert got == {
        "a.example": (USER_AGENT, ["/e/"], 2.0),
        "b.example": ("*", ["/s/"], None),
    }


def test_agent_rules_rejects_two_rows_for_one_agent(spark):
    """Two exact-UA rows for one host leave no single group to apply:
    the resolver raises instead of picking one arbitrarily."""
    robots = spark.createDataFrame(
        [
            ("a.example", USER_AGENT, ["/x/"], 1.0),
            ("a.example", USER_AGENT, ["/y/"], 2.0),
            ("b.example", USER_AGENT, [], 1.0),
        ],
        ROBOTS_SCHEMA,
    )
    with pytest.raises(Exception, match="host a.example has two rows"):
        agent_rules(robots).collect()


def test_run_crawl_exact_agent_row_overrides_star_row(spark, tmp_path):
    """End to end: a ``*`` row that would deny every feed of a host
    changes nothing next to that host's exact-UA row — the crawl's
    frontier after one epoch equals the crawl without the ``*`` row."""
    seeds = gen_seeds(spark, N, partitions=4)
    pages = gen_pages(spark, N, partitions=4)
    robots = gen_robots(spark, N)
    star = spark.createDataFrame(
        [(feed_host(0), "*", ["/feeds/"], 9.0)], ROBOTS_SCHEMA
    )

    def frontier_after(name, rules):
        state = run_crawl(
            spark, str(tmp_path / name), seeds, pages, rules, 1, EPOCH0, cfg=CFG
        )
        return sorted(state.frontier.read(spark).collect(), key=lambda r: r.url)

    plain = frontier_after("plain", robots)
    with_star = frontier_after("star", robots.unionByName(star))
    assert with_star == plain
    # the host's feeds were crawled, which the * row alone would deny
    assert any(
        r.host == feed_host(0) and r.state == "parsed" for r in with_star
    )


def test_run_epoch_rejects_unresolved_two_row_host(
    spark, tmp_path, cache_manager
):
    """``run_epoch`` given an unresolved table (two rules rows for one
    host) would schedule that host's urls twice; the epoch raises before
    publishing, so the crawl state does not move, and the raise releases
    the epoch's parse scratch."""
    seeds = spark.createDataFrame(
        [
            (str(i), i, "show", "News", [("rss", u)])
            for i, u in enumerate(TWO_ROW_URLS)
        ],
        SEEDS_SCHEMA,
    )
    cfg = CrawlConfig(per_host_budget=10, num_partitions=4)
    state = init_crawl(spark, seeds, str(tmp_path), EPOCH0, cfg)
    snap = state.frontier.current_snapshot_id()
    pages = spark.createDataFrame([], PAGES_SCHEMA)
    with pytest.raises(RuntimeError, match="scheduled twice"):
        run_epoch(spark, state, pages, _two_row_robots(spark), EPOCH0, cfg)
    assert state.completed_epochs() == 0
    assert state.frontier.current_snapshot_id() == snap
    assert cache_manager.isEmpty()


def test_politeness_spacing(spark):
    seeds = gen_seeds(spark, N, partitions=4)
    robots = gen_robots(spark, N)
    frontier = build_frontier(seeds, EPOCH0)
    sched = schedule_epoch(frontier, robots, EPOCH0, CFG)
    hot = feed_host(0)  # network host, crawl_delay 2.0
    rows = sorted(
        (r for r in sched.collect() if r.host == hot), key=lambda r: r.host_seq
    )
    assert 1 < len(rows) <= CFG.per_host_budget
    for a, b in zip(rows, rows[1:]):
        assert (b.planned_fetch_ts - a.planned_fetch_ts).total_seconds() == 2.0


def test_retry_backoff_and_failure(spark):
    seeds = gen_seeds(spark, N, partitions=4)
    robots = gen_robots(spark, N)
    pages = gen_pages(spark, N, partitions=4)
    cfg = CrawlConfig(per_host_budget=100, max_retries=1, num_partitions=8)
    frontier = build_frontier(seeds, EPOCH0, cfg)
    sched = schedule_epoch(frontier, robots, EPOCH0, cfg)
    fetched = fetch_join(sched, pages)
    outcomes = fetched.select(
        "url_hash",
        "fetch_ok",
        F.lit(None).cast("string").alias("parse_error_kind"),
        F.lit(None).cast("string").alias("parse_error_message"),
    )
    updated = apply_epoch_results(frontier, outcomes, EPOCH0, cfg).cache()

    missing = {feed_url(fid) for fid in range(N) if fid % 97 == 61}
    retry_rows = updated.filter(F.col("url").isin(*missing)).collect()
    assert retry_rows
    for r in retry_rows:
        assert r.state == "pending" and r.retries == 1
        assert r.next_fetch_ts == EPOCH0.replace(tzinfo=None) + timedelta(seconds=1)

    # second epoch at +10s: the retry rows are due again; fail them for good
    epoch1 = EPOCH0 + timedelta(seconds=10)
    sched2 = schedule_epoch(updated, robots, epoch1, cfg)
    urls2 = {r.url for r in sched2.collect()}
    assert missing <= urls2
    outcomes2 = fetch_join(sched2, pages).select(
        "url_hash",
        "fetch_ok",
        F.lit(None).cast("string").alias("parse_error_kind"),
        F.lit(None).cast("string").alias("parse_error_message"),
    )
    updated2 = apply_epoch_results(updated, outcomes2, epoch1, cfg)
    final = updated2.filter(F.col("url").isin(*missing)).collect()
    for r in final:
        assert r.state == "failed" and r.error_kind == "network"


def test_retries_reset_on_success(spark):
    """A transient fetch failure followed by a successful parse resets the
    retry counter — each fetch cycle gets a fresh budget (the reference's
    try_with_retry counts attempts per call, error/macros.rs:253-277), so
    lifetime transients can never exhaust max_retries."""
    seeds = gen_seeds(spark, 20, partitions=2)
    cfg = CrawlConfig(per_host_budget=100, max_retries=3, num_partitions=4)
    frontier = build_frontier(seeds, EPOCH0, cfg)
    target = frontier.select("url", "url_hash").first()

    def outcome(ok):
        return spark.createDataFrame(
            [(target.url_hash, ok, None, None)],
            "url_hash long, fetch_ok boolean, parse_error_kind string,"
            " parse_error_message string",
        )

    after_fail = apply_epoch_results(frontier, outcome(False), EPOCH0, cfg)
    r = after_fail.filter(F.col("url") == target.url).first()
    assert r.state == "pending" and r.retries == 1

    epoch1 = EPOCH0 + timedelta(seconds=10)
    after_ok = apply_epoch_results(after_fail, outcome(True), epoch1, cfg)
    r = after_ok.filter(F.col("url") == target.url).first()
    assert r.state == "parsed" and r.retries == 0


def test_skew_safe_two_phase_schedule_identical(spark):
    """The two-phase (salted pre-rank) politeness selection returns exactly
    the single-window result — same scheduled set, same host_seq — on a
    frontier with one hot host dominating the row count."""
    from datetime import datetime, timezone

    import podcast_crawler_spark.operators.frontier as fr

    rows = [
        # hot host: 500 urls; cold hosts: 3 urls each
        (f"https://hot.example/f{i}", i % 7, "hot.example") for i in range(500)
    ] + [
        (f"https://cold{j}.example/f{i}", i, f"cold{j}.example")
        for j in range(20)
        for i in range(3)
    ]
    seeds_like = spark.createDataFrame(rows, "url string, priority int, host string")
    frontier = seeds_like.select(
        "url",
        F.col("url").alias("canonical_url"),
        F.xxhash64("url").alias("url_hash"),
        "host",
        F.xxhash64("host").alias("host_hash"),
        "priority",
        F.lit(EPOCH0).cast("timestamp").alias("next_fetch_ts"),
        F.lit(0).alias("retries"),
        F.lit(3).alias("max_retries"),
        F.lit("pending").alias("state"),
        F.lit(None).cast("string").alias("last_error"),
        F.lit(None).cast("string").alias("error_kind"),
    )
    robots = spark.createDataFrame(
        [], "host string, user_agent string, disallow_prefixes array<string>,"
        " crawl_delay_s double"
    )
    budget = 5
    # budget 10^9 ranks in the single window; budget 5 in two phases
    single = CrawlConfig(per_host_budget=10**9, num_partitions=8)
    two = CrawlConfig(per_host_budget=budget, num_partitions=8)
    assert single.per_host_budget * fr.SALT_BUCKETS > fr.SKEW_SAFE_MAX_BUDGET
    assert two.per_host_budget * fr.SALT_BUCKETS <= fr.SKEW_SAFE_MAX_BUDGET
    key = lambda df: {
        (r.url, r.host_seq) for r in df.select("url", "host_seq").collect()
    }
    got_single = key(
        fr.schedule_epoch(frontier, robots, EPOCH0, single).filter(
            F.col("host_seq") <= budget
        )
    )
    got_two = key(fr.schedule_epoch(frontier, robots, EPOCH0, two))
    assert got_single == got_two
    assert len({u for u, _ in got_two if "hot" in u}) == budget


def test_canonicalize_idempotent_and_hash_stable(spark):
    """Seen-set invariant: canonicalize(canonicalize(u)) == canonicalize(u)
    (otherwise a re-admitted canonical URL would hash differently and
    duplicate frontier rows), over adversarial URL shapes."""
    from podcast_crawler_spark.functions.urlfns import (
        canonicalize_url,
        url_hash,
    )

    urls = [
        "HTTP://Example.COM:80/Feed.xml",
        "https://example.com:443/feed.xml?",
        "https://example.com/feed.xml?a=1&b=2",
        "https://EXAMPLE.com/CaseSensitive/Path?Q=UPPER",
        "http://example.com:8080/feed",
        "https://example.com/feed#fragment-part",
        "https://example.com/percent%20encoded?x=%2F",
        "http://user@example.com/feed",
        "https://example.com/",
        "https://example.com/a//b///c",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    once = df.select(
        "url", canonicalize_url(F.col("url")).alias("c1")
    )
    twice = once.select(
        "url", "c1", canonicalize_url(F.col("c1")).alias("c2"),
        url_hash(F.col("c1")).alias("h1"),
    ).withColumn("h2", F.xxhash64("c2"))
    rows = twice.collect()
    for r in rows:
        assert r.c1 == r.c2, f"not idempotent: {r.url} -> {r.c1} -> {r.c2}"
        assert r.h1 == r.h2
    got = {r.url: r.c1 for r in rows}
    # policy spot checks (module docstring): ports dropped, host lowered,
    # fragment stripped, empty query stripped, path/query bytes preserved
    assert got["HTTP://Example.COM:80/Feed.xml"] == "http://example.com/Feed.xml"
    assert got["https://example.com:443/feed.xml?"] == "https://example.com/feed.xml"
    assert got["https://example.com/feed#fragment-part"] == "https://example.com/feed"
    assert got["https://example.com/feed.xml?a=1&b=2"].endswith("?a=1&b=2")
    assert got["http://example.com:8080/feed"] == "http://example.com:8080/feed"


def test_parse_robots_unit_grammar():
    """Grammar unit cases: precedence, comments, empty Disallow, bad
    delay, no applicable group."""
    from podcast_crawler_spark.operators.robots import parse_robots_text

    body = (
        "# hello\n"
        "User-agent: *\nDisallow: /tmp/\nCrawl-delay: 9\n\n"
        "User-agent: PodcastCrawler/1.0\n"
        "Disallow: /a/  # comment\nDisallow:\nDisallow: /b/\n"
        "Crawl-delay: oops\nCrawl-delay: 1.5\n"
    )
    r = parse_robots_text(body)
    assert r == {
        "user_agent": "PodcastCrawler/1.0",
        "disallow_prefixes": ["/a/", "/b/"],
        "crawl_delay_s": 1.5,
    }
    star = parse_robots_text("User-agent: *\nDisallow: /x/\n")
    assert star["user_agent"] == "*" and star["disallow_prefixes"] == ["/x/"]
    assert parse_robots_text("User-agent: GoogleBot\nDisallow: /\n") is None
    assert parse_robots_text("") is None


def test_parse_robots_closes_loop_with_gen_robots(spark):
    """Parsing the raw deterministic robots.txt bodies must reproduce the
    rules table gen_robots emits directly — raw bytes → scheduler input
    round-trips (delay + prefixes identical for every host).  Both tables
    hold one row per host: ``parse_robots_text`` resolves agent
    precedence within each file, as ``agent_rules`` does across a
    table's rows (the UA may be '*' for a star-only host)."""
    from podcast_crawler_spark.operators.robots import parse_robots
    from podcast_crawler_spark.sources.pagesgen import robots_txt

    hosts = sorted({feed_host(i) for i in range(N)})
    bodies = spark.createDataFrame(
        [(h, robots_txt(h)) for h in hosts], "host string, body string"
    )
    parsed = {
        r.host: (list(r.disallow_prefixes), r.crawl_delay_s)
        for r in parse_robots(bodies).collect()
    }
    direct = {
        r.host: (list(r.disallow_prefixes), r.crawl_delay_s)
        for r in gen_robots(spark, N).collect()
    }
    assert parsed == direct


def test_robots_sitemap_directives(spark):
    from podcast_crawler_spark.operators.robots import sitemap_directives

    body = (
        "User-agent: *\nDisallow: /x\n"
        "Sitemap: https://a.example/s1.xml\n"
        "  sitemap:https://a.example/s2.xml   \n"
        "SITEMAP:\thttps://a.example/s3.xml\n"
        "NotASitemap: https://a.example/nope.xml\n"
    )
    df = spark.createDataFrame([("a.example", body)], "host string, body string")
    rows = sorted(sitemap_directives(df).collect(), key=lambda r: r.pos)
    assert [(r.pos, r.sitemap_url) for r in rows] == [
        (0, "https://a.example/s1.xml"),
        (1, "https://a.example/s2.xml"),
        (2, "https://a.example/s3.xml"),
    ]
    plan = sitemap_directives(df)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Exchange" not in plan, plan


def test_rfc9309_matching_semantics(spark):
    from podcast_crawler_spark.operators.robots import match_rfc9309

    rules = [
        ("a.io", "disallow", "/private/"),
        ("a.io", "allow", "/private/ok/"),
        ("a.io", "disallow", "/*.pdf$"),
        ("a.io", "disallow", "/tmp*"),
        ("a.io", "allow", "/tmp/keep$"),
        ("c.io", "allow", "/x/"),
        ("c.io", "disallow", "/x/"),
    ]
    paths = [
        ("a.io", "/private/page"),
        ("a.io", "/private/ok/page"),
        ("a.io", "/doc/x.pdf"),
        ("a.io", "/doc/x.pdf.html"),
        ("a.io", "/tmp/keep"),
        ("c.io", "/x/z"),
        ("d.io", "/anything"),
    ]
    got = {
        (r["host"], r["path"]): (r["matched_pattern"], r["allowed"])
        for r in match_rfc9309(
            spark.createDataFrame(paths, "host string, path string"),
            spark.createDataFrame(
                rules, "host string, rule string, pattern string"
            ),
        ).collect()
    }
    assert got[("a.io", "/private/page")] == ("/private/", False)
    # longest match wins
    assert got[("a.io", "/private/ok/page")] == ("/private/ok/", True)
    # $ anchor matches the exact suffix only
    assert got[("a.io", "/doc/x.pdf")] == ("/*.pdf$", False)
    assert got[("a.io", "/doc/x.pdf.html")] == (None, True)
    # anchored allow outranks the shorter wildcard disallow
    assert got[("a.io", "/tmp/keep")] == ("/tmp/keep$", True)
    # equal length: allow wins the tie
    assert got[("c.io", "/x/z")] == ("/x/", True)
    # rule-less host: allowed, null match
    assert got[("d.io", "/anything")] == (None, True)


def test_rfc9309_like_metachar_escaping(spark):
    # robots patterns containing % or _ must match literally
    from podcast_crawler_spark.operators.robots import match_rfc9309

    rules = [("a.io", "disallow", "/100%_off/")]
    paths = [("a.io", "/100%_off/deal"), ("a.io", "/100X_off/deal"),
             ("a.io", "/100%Yoff/deal")]
    got = {
        r["path"]: r["allowed"]
        for r in match_rfc9309(
            spark.createDataFrame(paths, "host string, path string"),
            spark.createDataFrame(
                rules, "host string, rule string, pattern string"
            ),
        ).collect()
    }
    assert got["/100%_off/deal"] is False
    assert got["/100X_off/deal"] is True   # _ is literal, not any-char
    assert got["/100%Yoff/deal"] is True   # % is literal, not any-run


def test_ip_politeness_shared_budget_and_fallback(spark):
    """Hosts on one IP share one queue (sum selected <= budget);
    unresolved hosts get private fallback queues; the two-phase salted
    rank equals the single-window plan exactly."""
    from pyspark.sql import functions as F

    from podcast_crawler_spark.operators.frontier import ip_politeness

    urls = spark.createDataFrame(
        [(f"h{i % 4}", f"https://h{i % 4}.ex/p{i}") for i in range(40)],
        "host string, url string",
    )
    # h0+h1 share an ip; h2 resolved alone; h3 unresolved
    hostmap = spark.createDataFrame(
        [("h0", "10.0.0.1"), ("h1", "10.0.0.1"), ("h2", "10.0.0.2")],
        "host string, ip string",
    )
    out = ip_politeness(urls, hostmap, per_queue_budget=5)
    rows = {(r.host): r for r in out.collect()}
    assert rows["h0"].queue_key == rows["h1"].queue_key == "10.0.0.1"
    assert rows["h0"].n_hosts_on_queue == 2
    # the shared-server guarantee: the two vhosts TOGETHER get 5 slots
    assert rows["h0"].n_selected_host + rows["h1"].n_selected_host == 5
    assert rows["h2"].n_selected_host == 5
    assert rows["h3"].queue_key == "host:h3"
    assert rows["h3"].n_selected_host == 5
    assert all(r.n_urls_host == 10 for r in rows.values())
    # two-phase (salted pre-rank) == a plain per-queue window
    from pyspark.sql import Window

    queue = F.coalesce(F.col("ip"), F.concat(F.lit("host:"), F.col("host")))
    ranked = (
        urls.join(hostmap, "host", "left")
        .withColumn("queue_key", queue)
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("queue_key").orderBy("url")),
        )
    )
    single = ranked.groupBy("host").agg(
        F.sum((F.col("rn") <= 5).cast("long")).alias("n")
    )
    assert {r.host: r.n_selected_host for r in out.collect()} == {
        r.host: r.n for r in single.collect()
    }


def test_robots_availability_policy(spark):
    """RFC 9309 access results: 404 allows all, 5xx/network-error
    disallows all until the grace window lapses, 2xx/3xx defer to
    parsed rules."""
    from podcast_crawler_spark.operators.robots import (
        robots_availability,
    )

    day = 86400
    now = 1_700_000_000
    rows = [
        ("ok", 200, now - day),
        ("redir", 302, now - day),
        ("gone", 404, now - day),
        ("err-new", 500, now - day),
        ("err-old", 503, now - 31 * day),
        ("dead-new", None, now - day),
        ("dead-old", None, now - 40 * day),
    ]
    df = spark.createDataFrame(
        rows, "host string, http_status int, fetched_unix long"
    )
    out = {r.host: r for r in robots_availability(df, now_unix=now).collect()}
    assert out["ok"].policy == "apply_rules"
    assert out["redir"].policy == "apply_rules"
    assert out["gone"].policy == "allow_all"
    assert out["err-new"].policy == "disallow_all"
    assert out["err-old"].policy == "allow_all" and out["err-old"].stale
    assert out["dead-new"].policy == "disallow_all"
    assert out["dead-old"].policy == "allow_all" and out["dead-old"].stale


def test_aged_priority_starvation_guard(spark):
    """Boost grows one per step up to the cap; a starved low-priority
    URL eventually outranks a fresh high-priority one."""
    from podcast_crawler_spark.operators.frontier import aged_priority

    now = 10_000_000
    rows = [
        ("old-low", 1, now - 50 * 86400),
        ("fresh-high", 40, now - 3600),
        ("capped", 0, now - 500 * 86400),
        ("future", 5, now + 999),  # clock skew: never negative
    ]
    df = spark.createDataFrame(
        rows, "url string, priority long, enqueued_unix long"
    )
    out = {
        r.url: r
        for r in aged_priority(df, now_unix=now, max_boost=100).collect()
    }
    assert out["old-low"].boost == 50
    assert out["old-low"].aged_priority == 51
    assert out["fresh-high"].aged_priority == 40  # boost 0
    assert out["old-low"].aged_priority > out["fresh-high"].aged_priority
    assert out["capped"].boost == 100  # cap, not 500
    assert out["future"].wait_s == 0 and out["future"].boost == 0


def test_byte_budget_first_fit_in_priority_order(spark):
    """Cumulative bytes gate selection in priority order; an oversized
    head blocks nothing behind it only via the budget, never by
    special-casing; hosts are independent."""
    from podcast_crawler_spark.operators.frontier import (
        byte_budget_schedule,
    )

    rows = [
        ("a", "u1", 0, 40),
        ("a", "u2", 1, 50),
        ("a", "u3", 2, 20),   # 110 > 100 -> out
        ("a", "u4", 3, 5),    # 115 -> out (no skip-ahead refill)
        ("b", "big", 0, 999), # oversize head
        ("b", "u5", 1, 10),
    ]
    df = spark.createDataFrame(
        rows, "host string, url string, priority long, est_bytes long"
    )
    out = {
        r.url: r.selected
        for r in byte_budget_schedule(df, per_host_bytes=100).collect()
    }
    assert out == {
        "u1": True, "u2": True, "u3": False, "u4": False,
        "big": False, "u5": False,
    }


def _waterfill_ref(demands: dict[str, int], cap: int) -> dict[str, int]:
    # progressive-filling reference (Bertsekas & Gallager): satisfy
    # ascending demands while everyone remaining can still be afforded
    # that much; split what's left as level + one extra unit to the
    # first `rem` unsatisfied hosts in (demand, host) order
    items = sorted(demands.items(), key=lambda kv: (kv[1], kv[0]))
    n = len(items)
    alloc: dict[str, int] = {}
    remaining = cap
    for i, (h, d) in enumerate(items):
        if d * (n - i) <= remaining:
            alloc[h] = d
            remaining -= d
        else:
            level, rem = divmod(remaining, n - i)
            for j, (h2, _) in enumerate(items[i:]):
                alloc[h2] = level + (1 if j < rem else 0)
            remaining = 0
            break
    return alloc


def test_fair_share_matches_progressive_filling(spark):
    """fair_share's closed form (distinct-demand prefix structure +
    decomposed remainder ranks) equals the classic progressive-filling
    algorithm host-for-host, and Σalloc = capacity exactly when demand
    exceeds it."""
    from podcast_crawler_spark.operators.frontier import fair_share

    demands = {f"h{i:03d}": (i * 37) % 90 + 1 for i in range(120)}
    cap = 3000
    assert sum(demands.values()) > cap
    df = spark.createDataFrame(
        list(demands.items()), "host string, demand long"
    ).repartition(7)
    out = {r.host: r.alloc for r in fair_share(df, cap).collect()}
    assert out == _waterfill_ref(demands, cap)
    assert sum(out.values()) == cap


def test_fair_share_maxmin_and_surplus(spark):
    """Max-min shape: alloc <= demand everywhere; unsatisfied hosts all
    sit at level or level+1 (no one can gain without taking from a
    poorer host).  With surplus capacity every host gets its demand."""
    from podcast_crawler_spark.operators.frontier import fair_share

    demands = {"a": 5, "b": 100, "c": 100, "d": 7, "e": 41}
    df = spark.createDataFrame(
        list(demands.items()), "host string, demand long"
    )
    rows = fair_share(df, 60).collect()
    alloc = {r.host: r.alloc for r in rows}
    assert all(alloc[h] <= demands[h] for h in demands)
    unsat = [r.alloc for r in rows if not r.sat]
    assert unsat and max(unsat) - min(unsat) <= 1
    assert sum(alloc.values()) == 60
    # surplus: capacity >= total demand -> everyone satisfied in full
    full = {r.host: r.alloc for r in fair_share(df, 10_000).collect()}
    assert full == demands


def test_fair_share_oracle_replays(spark):
    """The DuckDB oracle reproduces every allocation column-for-column."""
    import duckdb

    from podcast_crawler_spark.operators.frontier import (
        fair_share,
        fair_share_oracle_sql,
    )

    demands = [(f"h{i:02d}", (i * 13) % 40 + 1) for i in range(50)]
    df = spark.createDataFrame(demands, "host string, demand long")
    got = sorted(
        tuple(r) for r in fair_share(df, 400).collect()
    )
    con = duckdb.connect()
    con.execute(
        "create table dem(host varchar, demand bigint)"
    )
    con.executemany("insert into dem values (?, ?)", demands)
    want = sorted(
        tuple(r)
        for r in con.sql(
            fair_share_oracle_sql("select * from dem", 400)
        ).fetchall()
    )
    assert got == want


def test_drain_feasibility_cases(spark):
    """Closed-form drain math over handcrafted hosts covering every
    branch: budget-bound, politeness-bound, zero-slot (delay > epoch),
    growing queue (net <= 0), and exact-multiple backlogs."""
    from podcast_crawler_spark.operators.frontier import drain_feasibility

    rows = [
        # host, backlog, delay_ms, arrivals
        ("budget", 1000, 100, 10),    # slots 600 > budget 150 -> eff 150
        ("polite", 1000, 1000, 10),   # slots 60 -> eff 60
        ("frozen", 50, 120_000, 0),   # delay > epoch -> slots 0, NULLs
        ("growing", 500, 1000, 60),   # net = 0 -> never drains
        ("exact", 300, 1000, 0),      # 300 / 60 = exactly 5 epochs
    ]
    df = spark.createDataFrame(
        rows, "host string, backlog long, delay_ms long, arrivals long"
    )
    got = {
        r["host"]: r.asDict()
        for r in drain_feasibility(
            df, epoch_ms=60_000, per_host_budget=150
        ).collect()
    }
    assert got["budget"]["slots"] == 600
    assert got["budget"]["effective"] == 150
    assert got["budget"]["epochs_to_drain"] == 7      # ceil(1000/150)
    assert got["budget"]["epochs_to_drain_net"] == 8  # ceil(1000/140)
    assert got["polite"]["effective"] == 60
    assert got["polite"]["epochs_to_drain"] == 17     # ceil(1000/60)
    assert got["frozen"]["slots"] == 0
    assert got["frozen"]["epochs_to_drain"] is None
    assert got["frozen"]["drains"] is False
    assert got["growing"]["net"] == 0
    assert got["growing"]["drains"] is False
    assert got["growing"]["epochs_to_drain_net"] is None
    assert got["exact"]["epochs_to_drain"] == 5
    assert got["exact"]["drains"] is True


def test_robots_policy_diff_transitions(spark):
    """All four transitions over a hand-built two-epoch policy,
    including longest-match precedence flips and the no-rule default."""
    from podcast_crawler_spark.operators.robots import robots_policy_diff

    paths = spark.createDataFrame(
        [
            ("h", "/keep/x"),      # never matched: unchanged_allowed
            ("h", "/old/x"),       # banned both eras: unchanged_disallowed
            ("h", "/gone/x"),      # banned old, ban lifted: opened
            ("h", "/fresh/x"),     # unmatched old, banned new: revoked
            ("h", "/ok/sub/x"),    # allow outranks disallow in new era
        ],
        "host string, path string",
    )
    old = spark.createDataFrame(
        [("h", "disallow", "/old/"), ("h", "disallow", "/gone/")],
        "host string, rule string, pattern string",
    )
    new = spark.createDataFrame(
        [
            ("h", "disallow", "/old/"),
            ("h", "disallow", "/fresh/"),
            ("h", "disallow", "/ok/"),
            ("h", "allow", "/ok/sub/"),
        ],
        "host string, rule string, pattern string",
    )
    got = {
        r["path"]: (r["old_allowed"], r["new_allowed"], r["transition"])
        for r in robots_policy_diff(paths, old, new).collect()
    }
    assert got["/keep/x"] == (True, True, "unchanged_allowed")
    assert got["/old/x"] == (False, False, "unchanged_disallowed")
    assert got["/gone/x"] == (False, True, "opened")
    assert got["/fresh/x"] == (True, False, "revoked")
    # /ok/sub/ (allow, len 8) outranks /ok/ (disallow, len 4)
    assert got["/ok/sub/x"] == (True, True, "unchanged_allowed")


def test_robots_policy_diff_single_pass_plan(spark):
    """The one-pass claim, pinned: the URL set is scanned and shuffled
    ONCE (a single hash exchange for the (host, path) argmax groupBy);
    the era-tagged rules ride a broadcast — there is no second join or
    exchange for the second era."""
    from podcast_crawler_spark.operators.robots import robots_policy_diff

    paths = spark.createDataFrame(
        [("h", f"/p/{i}") for i in range(50)], "host string, path string"
    )
    old = spark.createDataFrame(
        [("h", "disallow", "/p/1")], "host string, rule string, pattern string"
    )
    new = spark.createDataFrame(
        [("h", "disallow", "/p/2")], "host string, rule string, pattern string"
    )
    plan = (
        robots_policy_diff(paths, old, new)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastExchange" in plan
    n_shuffles = plan.count("Exchange hashpartitioning")
    assert n_shuffles <= 2, plan  # distinct + argmax groupBy, nothing per-era


def test_drain_feasibility_no_exchange_plan(spark):
    """Pure projection past the rollup: zero exchanges inside the
    operator itself."""
    from podcast_crawler_spark.operators.frontier import drain_feasibility

    q = spark.createDataFrame(
        [("h", 10, 100, 1)],
        "host string, backlog long, delay_ms long, arrivals long",
    )
    plan = (
        drain_feasibility(q, 60_000, 10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan


def test_blocklist_gate_inheritance_and_precedence(spark):
    """Subdomain inheritance (example.com blocks a.b.example.com), the
    longest-match rule (a deeper entry beats a TLD-wide one), the
    allow-punches-hole override, and the unmatched default."""
    from podcast_crawler_spark.operators.frontier import blocklist_gate

    hosts = [
        "a.b.example.com",     # inherits example.com block
        "example.com",         # exact block
        "notexample.com",      # NOT a suffix on label boundary → clean
        "x.bad.net",           # tld-wide net block
        "good.bad.net",        # allow punches the net + bad.net blocks
        "clean.org",           # no entry
    ]
    urls = spark.createDataFrame(
        [(f"https://{h}/", h) for h in hosts], "url string, host string"
    )
    bl = spark.createDataFrame(
        [
            ("example.com", "block", "spam"),
            ("net", "block", "tldwide"),
            ("bad.net", "block", "malware"),
            ("good.bad.net", "allow", "exception"),
        ],
        "pattern string, action string, category string",
    )
    out = {r.host: r for r in blocklist_gate(urls, bl).collect()}
    assert out["a.b.example.com"].verdict == "blocked"
    assert out["a.b.example.com"].matched_pattern == "example.com"
    assert out["example.com"].verdict == "blocked"
    # label boundary: 'notexample.com' must not match 'example.com'
    assert out["notexample.com"].verdict == "allowed"
    assert out["notexample.com"].matched_pattern is None
    assert out["x.bad.net"].verdict == "blocked"
    assert out["x.bad.net"].matched_pattern == "bad.net"  # longest wins
    assert out["good.bad.net"].verdict == "allowed"
    assert out["good.bad.net"].matched_pattern == "good.bad.net"
    assert out["clean.org"].verdict == "allowed"
    assert out["clean.org"].category is None


def test_blocklist_gate_verdict_keys_on_host(spark):
    """The verdict depends only on the host: a NULL url on a blocked host
    comes back blocked, and one url listed under two hosts gets each
    host's own verdict."""
    from podcast_crawler_spark.operators.frontier import blocklist_gate

    urls = spark.createDataFrame(
        [
            (None, "ads.example.com"),
            ("https://x/", "ads.example.com"),
            ("https://x/", "clean.org"),
        ],
        "url string, host string",
    )
    bl = spark.createDataFrame(
        [("example.com", "block", "spam")],
        "pattern string, action string, category string",
    )
    got = sorted(
        (r.url or "", r.host, r.verdict, r.matched_pattern)
        for r in blocklist_gate(urls, bl).collect()
    )
    assert got == [
        ("", "ads.example.com", "blocked", "example.com"),
        ("https://x/", "ads.example.com", "blocked", "example.com"),
        ("https://x/", "clean.org", "allowed", None),
    ]
