"""URL frontier: seed scan, due-selection, per-host politeness priority
queue, robots filtering, retry/backoff, salting.

This is the Spark re-expression of the reference's scheduling machinery
(SURVEY.md §2.6 W4/W5, §2.8, §2.9):

* The tokio ``BinaryHeap<Task>`` retry queue ordered by ``backoff_timer``
  (``/root/reference/src/crawler_refactor/task.rs:197-215``,
  ``timer_queue.rs:11-117``) becomes a **partitioned priority queue**: a
  window ``row_number() OVER (PARTITION BY host_hash ORDER BY
  next_fetch_ts, priority, url_hash)`` — due rows ranked per host, budget
  ``rank <= per_host_budget`` (the north rule's politeness budget; the
  reference only had a *global* 2 req/s governor,
  ``src/crawler/rate_limiter.rs:34-41``).
* Round-robin worker placement (``distributor.rs:33-41``) becomes hash
  partitioning by ``host_hash`` — politeness locality for free, no
  broadcast-bus filtering (X5).
* Retry semantics (R1/R2): failed fetches with ``retries < max_retries``
  are rescheduled at ``epoch_ts + backoff``; exhausted rows become
  ``failed`` with the error taxonomy.  Defaults mirror the reference:
  ``max_retries=3`` with linear ``backoff_s*(retries+1)`` (legacy macro,
  ``error/macros.rs:253-277``); pass ``max_retries=0`` for refactor parity
  (``distributor.rs:99``).

Scale notes (10^10 frontier): the frontier lives partitioned by
``pmod(host_hash, P)`` — all per-host windowing shuffles once on that key
and AQE handles residual skew.  Under a bounded budget a hot host's due
rows are split across ``SALT_BUCKETS`` tasks by a
``pmod(xxhash64(url), SALT_BUCKETS)`` pre-rank before the per-host
politeness rank (X6: ``_top_k_per_key``, the one per-key top-k, which
:func:`schedule_epoch` runs per host and :func:`ip_politeness` per
address queue).  The fetch join needs no host locality and spreads
rows by url hash, so the parse stage inherits a uniform distribution.
Nothing here ever collects URLs to the driver.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timedelta, timezone
from typing import Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType

from ..functions.schemas import STAGE_STRUCT
from ..functions.urlfns import (
    canonicalize_url,
    host_hash,
    is_valid_url,
    url_hash,
    url_host,
)

PENDING, SCHEDULED, PARSED, FAILED = "pending", "scheduled", "parsed", "failed"
USER_AGENT = "PodcastCrawler/1.0"  # rss_fetcher.rs:20


@dataclass
class CrawlConfig:
    """Crawl policy (budget, cadence, retries) and deployment
    values (partitions, seen-index sizing, pages table).  The engine's
    tuning thresholds are module constants beside the function that reads
    each one: ``SALT_BUCKETS`` / ``SKEW_SAFE_MAX_BUDGET`` /
    ``DEFAULT_CRAWL_DELAY_S`` here,
    ``plans.epoch.BROADCAST_OUTCOMES_MAX_ROWS`` and
    ``seen.VERIFY_BROADCAST_MAX_ROWS``."""

    per_host_budget: int = 5  # max_concurrent_tasks default (config/crawler.rs:55-63)
    fetch_interval_s: int = 3600  # re-crawl cadence (config/crawler.rs:55-63)
    max_retries: int = 3  # legacy retry macro (error/macros.rs:253-277)
    backoff_s: float = 1.0  # refactor TimerQueue backoff (worker.rs:151-155)
    num_partitions: int = 32
    # merge-on-read output tables: compact (full rewrite of the resolved
    # view) once a table accumulates this many delta segments — bounds
    # read amplification while keeping steady-state epochs O(delta)
    compact_segments: int = 8
    # persisted seen-shard index (D3): bloom bits are sized ONCE at
    # bootstrap for the crawl's target key count — set this to the
    # expected final corpus (e.g. 10^10); None = 8× the bootstrap-time
    # frontier as growth headroom (sandbox default)
    seen_expected_keys: Optional[int] = None
    # name of a url-bucketed pages table in the session catalog
    # (sources/bucketed.py): when set, the fetch join reads html IN PLACE
    # from the bucket files (build-left SHJ; only the narrow scheduled
    # side shuffles) — the production layout at 10^10 pages, where the
    # html column must never cross the network.  None = plain shuffled
    # join against the `pages` DataFrame argument (same local wall time —
    # `git show bf15243:tools/parse_stage_experiment.py` measured 45.5 vs
    # 45.1 s at 1.2M feeds/local[32], tmpfs shuffle being nearly free — but
    # the shuffle becomes the bottleneck once an exchange means real
    # network).
    pages_bucketed_table: Optional[str] = None


def engine_conf(cpus: int) -> dict[str, str]:
    """Spark confs that change the engine's plans or output, for *cpus*
    cores.  Every session (run.py, bench.py, the tests, the tools) starts
    from this map and adds only master, app name, memory, dirs and UI."""
    return {
        "spark.sql.shuffle.partitions": str(2 * cpus),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.session.timeZone": "UTC",  # parquet timestamps are NTZ
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # fetch join: shuffled-hash beats sort-merge (no sort of the pages
        # side); runtime bloom filter prunes the pages scan down to the
        # scheduled slice — the at-scale lever when the frontier slice is
        # tiny next to a 10^10-row pages table
        "spark.sql.join.preferSortMergeJoin": "false",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.ui.showConsoleProgress": "false",  # run.py's stdout is JSON
        # ParallelGC: an interleaved A/B against G1 measured it NEUTRAL
        # (par 7.50/8.46 vs g1 8.12/7.45 s at local[32]); kept as the
        # conventional batch-throughput collector.  Applies only where the
        # session launches its own driver JVM.
        "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
    }


def seed_scan(seeds: DataFrame) -> DataFrame:
    """S1: explode ``links``, keep ``name == 'rss'`` with non-empty url
    (``podcast_rank_repository.rs:77-93``), then F1 URL validity.

    Column-pruned: only ``rank`` + ``links`` are read (Catalyst pushes the
    projection into the scan, matching the reference's SELECT links)."""
    return (
        seeds.select("rank", F.explode("links").alias("link"))
        .filter(
            (F.col("link.name") == "rss") & (F.length(F.col("link.url")) > 0)
        )
        .select(F.col("link.url").alias("url"), F.col("rank").alias("priority"))
        .filter(is_valid_url(F.col("url")))
    )


def frontier_rows(
    urls: DataFrame, next_fetch_ts: datetime, cfg: CrawlConfig = CrawlConfig()
) -> DataFrame:
    """The one builder of frontier rows (``schemas.FRONTIER_SCHEMA``,
    FIXTURES.md §4): ``(url, priority)`` rows → pending rows due at
    *next_fetch_ts*.  Invalid urls are dropped, and duplicates collapse to
    the best ``(priority, url)`` row — the frontier is keyed by
    canonical_url."""
    w = Window.partitionBy("canonical_url").orderBy("priority", "url")
    host = url_host(F.col("url"))
    return (
        urls.filter(is_valid_url(F.col("url")))
        .withColumn("canonical_url", canonicalize_url(F.col("url")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "url",
            "canonical_url",
            url_hash(F.col("canonical_url")).alias("url_hash"),
            host.alias("host"),
            host_hash(host).alias("host_hash"),
            F.col("priority").cast("int"),
            F.lit(next_fetch_ts).cast("timestamp").alias("next_fetch_ts"),
            F.lit(0).cast("int").alias("retries"),
            F.lit(cfg.max_retries).cast("int").alias("max_retries"),
            F.lit(PENDING).alias("state"),
            F.lit(None).cast("string").alias("last_error"),
            F.lit(None).cast("string").alias("error_kind"),
            F.lit(None).cast(ArrayType(STAGE_STRUCT)).alias("stages"),
        )
    )


def build_frontier(
    seeds: DataFrame, epoch0: datetime, cfg: CrawlConfig = CrawlConfig()
) -> DataFrame:
    """Frontier rows from the seed list, each seed's rank as its priority."""
    return frontier_rows(seed_scan(seeds), epoch0, cfg)


def robots_filter(frontier: DataFrame, robots: DataFrame) -> DataFrame:
    """J4: left-join robots rules on host; deny rows whose URL path starts
    with a disallowed prefix.  *robots* holds at most one row per host,
    the group that applies to ``USER_AGENT`` (``robots.agent_rules``).
    The rules table is tiny relative to the frontier → broadcast join, no
    shuffle of the frontier."""
    rules = robots.select(
        F.col("host").alias("r_host"), "disallow_prefixes", "crawl_delay_s"
    )
    path = F.regexp_extract(
        F.col("url"), r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1
    )
    joined = frontier.join(
        F.broadcast(rules), frontier["host"] == rules["r_host"], "left"
    )
    denied = F.coalesce(
        F.exists(
            F.col("disallow_prefixes"), lambda p: path.startswith(p)
        ),
        F.lit(False),
    )
    return joined.withColumn("robots_denied", denied).drop(
        "r_host", "disallow_prefixes"
    )


# Per-key top-k under hot-key skew (X6).  A window partitioned by key puts
# the whole key in one task, and AQE cannot split a window partition: one
# podcast network with 10^7 due urls (or one CDN address fronting 10^6
# hosts) would stall the stage.  While k·SALT_BUCKETS is at most
# SKEW_SAFE_MAX_BUDGET, a pre-rank per (key, pmod(xxhash64(url), SALT_BUCKETS))
# first keeps at most k rows per salt bucket, so the hot key splits into
# SALT_BUCKETS tasks; the union of per-bucket top-k contains the global
# top-k, so the result equals the single window (equality-tested).  Above
# the bound phase 1 prunes too little to pay for its extra shuffle, and the
# single window runs (the bench's drain workload, budget 10^9).
SALT_BUCKETS = 8
SKEW_SAFE_MAX_BUDGET = 100_000


def _top_k_per_key(
    df: DataFrame,
    key: str,
    order_cols: list,
    k: int,
    rank_col: str,
    url_col: str = "url",
) -> DataFrame:
    """Rows of *df* whose 1-based rank per *key* in *order_cols* order
    (emitted as *rank_col*) is at most *k*.  *url_col* salts the
    pre-rank; *order_cols* must order each key's rows totally."""
    if k * SALT_BUCKETS <= SKEW_SAFE_MAX_BUDGET:
        salt = F.pmod(F.xxhash64(url_col), F.lit(SALT_BUCKETS))
        w1 = Window.partitionBy(key, salt).orderBy(*order_cols)
        df = df.withColumn("_pre", F.row_number().over(w1)).filter(
            F.col("_pre") <= k
        ).drop("_pre")
    w = Window.partitionBy(key).orderBy(*order_cols)
    return df.withColumn(rank_col, F.row_number().over(w)).filter(
        F.col(rank_col) <= k
    )


# a host without a robots crawl delay: the reference's 2 req/s governor
# (rate_limiter.rs:34-41)
DEFAULT_CRAWL_DELAY_S = 0.5


def schedule_epoch(
    frontier: DataFrame,
    robots: DataFrame,
    epoch_ts: datetime,
    cfg: CrawlConfig = CrawlConfig(),
) -> DataFrame:
    """W4+W5: select due pending rows, apply robots, rank them per host by
    ``(next_fetch_ts, priority, url_hash)`` and keep the per-host budget.
    *robots*: at most one row per host, as ``robots_filter`` takes it.
    Emits ``host_seq`` (1-based per-host order) and ``planned_fetch_ts``
    spaced by the host's crawl delay — the deterministic crawl ordering the
    north rule asks to match (SURVEY.md §7.2).

    **Hot-host skew (X6)**: the per-host rank is ``_top_k_per_key``.
    A bounded budget (``per_host_budget * SALT_BUCKETS`` at most
    ``SKEW_SAFE_MAX_BUDGET``; the default 5, the bench's polite_steady)
    ranks in two exact phases: a per-(host, salt) pre-rank splits a hot
    host into ``SALT_BUCKETS`` tasks, then the final per-host rank runs
    over at most budget·SALT_BUCKETS survivors per host.  An unbounded
    budget (the bench's drain, 10^9) prunes nothing in phase 1, so it runs
    the single window.  Both plans select the same rows (equality-tested)."""
    # due = any non-failed row whose fetch slot has arrived: pending rows
    # (fresh or backing off) AND parsed rows rescheduled by the re-crawl
    # cadence (apply_epoch_results sets next_fetch_ts += fetch_interval on
    # success — the reference's CRAWLER_FETCH_INTERVAL loop,
    # config/crawler.rs:55-63).  Failed rows are terminal.
    due = frontier.filter(
        (F.col("state") != FAILED)
        & (F.col("next_fetch_ts") <= F.lit(epoch_ts).cast("timestamp"))
    )
    allowed = robots_filter(due, robots).filter(~F.col("robots_denied"))

    delay = F.coalesce(F.col("crawl_delay_s"), F.lit(DEFAULT_CRAWL_DELAY_S))
    return (
        _top_k_per_key(
            allowed,
            "host_hash",
            ["next_fetch_ts", "priority", "url_hash"],
            cfg.per_host_budget,
            "host_seq",
        )
        .withColumn(
            "planned_fetch_ts",
            F.lit(epoch_ts).cast("timestamp")
            + F.make_dt_interval(secs=(F.col("host_seq") - 1) * delay),
        )
        .drop("robots_denied")
    )


def fetch_join(scheduled: DataFrame, pages: DataFrame) -> DataFrame:
    """J3/S2: "fetch" = left equi-join of the scheduled frontier against the
    pages table on url; a missing page (null html) is a fetch failure that
    feeds the retry path.

    Against a plain pages DataFrame this is the one big shuffle of the
    epoch (AQE's skew-join handles hot-host residuals).  At 10^10-page
    scale the pages table is bucketed by url so the html side is read in
    place and only the scheduled side shuffles
    (``sources/bucketed.fetch_join_bucketed``, which reuses this body)."""
    pg = pages.select("url", "html", "warc_ts")
    joined = scheduled.join(pg, "url", "left")
    return joined.withColumn("fetch_ok", F.col("html").isNotNull())


def apply_epoch_results(
    frontier: DataFrame,
    outcomes: DataFrame,
    epoch_ts: datetime,
    cfg: CrawlConfig = CrawlConfig(),
) -> DataFrame:
    """R1-R3 + reschedule: merge per-URL epoch outcomes back into the
    frontier.  *outcomes* must carry ``url_hash, fetch_ok, parse_error_kind,
    parse_error_message``.

    - parsed ok        → state=parsed,  next_fetch_ts += fetch_interval,
                         retries reset to 0 (each fetch cycle gets a fresh
                         retry budget, like the reference's try_with_retry
                         per-call attempt counter — error/macros.rs:253-277;
                         without the reset a long-lived URL with transient
                         failures between successes would accumulate
                         lifetime retries and be wrongly failed)
    - parse failure    → state=failed   (deterministic; retry won't help)
    - fetch failure    → retries+1; if ≤ max_retries stay pending with
                         linear backoff (error/macros.rs:253-277) else failed
    """
    o = outcomes.select(
        F.col("url_hash").alias("o_hash"),
        "fetch_ok",
        "parse_error_kind",
        "parse_error_message",
    )
    epoch_lit = F.lit(epoch_ts).cast("timestamp")
    merged = frontier.join(o, frontier["url_hash"] == o["o_hash"], "left")

    attempted = F.col("o_hash").isNotNull()
    parsed_ok = attempted & F.col("fetch_ok") & F.col("parse_error_kind").isNull()
    parse_failed = attempted & F.col("fetch_ok") & F.col("parse_error_kind").isNotNull()
    fetch_failed = attempted & ~F.col("fetch_ok")
    can_retry = fetch_failed & (F.col("retries") + 1 <= F.col("max_retries"))

    new_retries = (
        F.when(parsed_ok, F.lit(0))
        .when(fetch_failed, F.col("retries") + 1)
        .otherwise(F.col("retries"))
    )
    backoff = F.make_dt_interval(secs=new_retries * F.lit(cfg.backoff_s))
    interval = F.make_dt_interval(secs=F.lit(float(cfg.fetch_interval_s)))

    return (
        merged.withColumn(
            "state",
            F.when(parsed_ok, PARSED)
            .when(parse_failed, FAILED)
            .when(can_retry, PENDING)
            .when(fetch_failed, FAILED)
            .otherwise(F.col("state")),
        )
        .withColumn(
            "next_fetch_ts",
            F.when(parsed_ok, epoch_lit + interval)
            .when(can_retry, epoch_lit + backoff)
            .otherwise(F.col("next_fetch_ts")),
        )
        .withColumn("retries", new_retries)
        .withColumn(
            "error_kind",
            F.when(parse_failed, F.col("parse_error_kind"))
            .when(fetch_failed, F.lit("network"))
            .otherwise(F.col("error_kind")),
        )
        .withColumn(
            "last_error",
            F.when(parse_failed, F.col("parse_error_message"))
            .when(fetch_failed, F.lit("fetch returned no content"))
            .otherwise(F.col("last_error")),
        )
        .drop("o_hash", "fetch_ok", "parse_error_kind", "parse_error_message")
    )


def ip_politeness(
    urls: DataFrame,
    host_ip: DataFrame,
    per_queue_budget: int = 8,
    host_col: str = "host",
    url_col: str = "url",
) -> DataFrame:
    """Queue-by-IP politeness (Heritrix's IpAddressQueueAssignmentPolicy;
    the host-keyed scheduler in :func:`schedule_epoch` is queue-by-host):
    hosts that resolve to the SAME address share one politeness queue —
    100 vhosts on one server must share that server's budget, or the
    crawler hammers the box 100× while believing it is polite.

    *host_ip* is the resolver table ``(host, ip)`` — a dim of distinct
    hosts, broadcast; hosts it does not cover (unresolved) fall back to
    a private ``host:<host>`` queue, so missing DNS never merges
    strangers.  Per queue, the top *per_queue_budget* URLs in
    deterministic ``url_col`` order are selected; the output is the
    per-(queue, host) accounting ``(host, queue_key, n_hosts_on_queue,
    n_urls_host, n_urls_queue, n_selected_host)`` — Σ n_selected over a
    queue ≤ budget by construction, which IS the shared-server
    politeness guarantee.

    Scale shape: one broadcast join (resolver dim), the per-queue
    top-k that :func:`schedule_epoch` uses per host (``_top_k_per_key``:
    a CDN address fronting 10^6 hosts is the skew case, and the salted
    pre-rank splits it across ``SALT_BUCKETS`` tasks),
    then map-side-combined aggregates per (queue, host) on both the
    full frame and the ≤budget-per-queue survivors, joined
    aggregate-to-aggregate — no corpus row crosses more than the
    window exchange.  URLs must be unique rows (the frontier invariant
    the seen-set maintains) — the per-queue rank treats each row as
    one fetch slot.
    """
    q = urls.join(
        F.broadcast(host_ip.select(host_col, "ip").distinct()),
        host_col,
        "left",
    ).withColumn(
        "queue_key",
        F.coalesce(F.col("ip"), F.concat(F.lit("host:"), F.col(host_col))),
    )
    sel = (
        _top_k_per_key(q, "queue_key", [url_col], per_queue_budget, "rn", url_col)
        .groupBy("queue_key", host_col)
        .agg(F.count(F.lit(1)).alias("n_selected_host"))
    )
    per_host = (
        q.groupBy("queue_key", host_col)
        .agg(F.count(F.lit(1)).alias("n_urls_host"))
        .join(sel, ["queue_key", host_col], "left")
        .withColumn(
            "n_selected_host",
            F.coalesce(F.col("n_selected_host"), F.lit(0).cast("long")),
        )
    )
    per_queue = per_host.groupBy("queue_key").agg(
        F.count(F.lit(1)).alias("n_hosts_on_queue"),
        F.sum("n_urls_host").alias("n_urls_queue"),
    )
    return per_host.join(per_queue, "queue_key").select(
        host_col,
        "queue_key",
        "n_hosts_on_queue",
        "n_urls_host",
        "n_urls_queue",
        "n_selected_host",
    )


def ip_politeness_oracle_sql(
    urls_sql: str,
    hostmap_sql: str,
    per_queue_budget: int = 8,
) -> str:
    """DuckDB recomputation of :func:`ip_politeness` — queue mapping
    with the unresolved fallback, naive per-queue rank, budget cut, and
    both aggregation levels."""
    return f"""
        WITH u AS (SELECT * FROM ({urls_sql})),
        m AS (SELECT DISTINCT host, ip FROM ({hostmap_sql})),
        q AS (
            SELECT u.host, u.url,
                   COALESCE(m.ip, 'host:' || u.host) AS queue_key
            FROM u LEFT JOIN m ON u.host = m.host
        ),
        r AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY queue_key ORDER BY url
            ) <= {int(per_queue_budget)} AS sel
            FROM q
        ),
        h AS (
            SELECT queue_key, host,
                   COUNT(*) AS n_urls_host,
                   SUM(CASE WHEN sel THEN 1 ELSE 0 END)::BIGINT
                       AS n_selected_host
            FROM r GROUP BY queue_key, host
        ),
        t AS (
            SELECT queue_key, COUNT(*) AS n_hosts_on_queue,
                   SUM(n_urls_host)::BIGINT AS n_urls_queue
            FROM h GROUP BY queue_key
        )
        SELECT h.host, h.queue_key, t.n_hosts_on_queue,
               h.n_urls_host, t.n_urls_queue, h.n_selected_host
        FROM h JOIN t USING (queue_key)
    """


def aged_priority(
    urls: DataFrame,
    now_unix: int,
    aging_step_s: int = 86400,
    max_boost: int = 100,
    priority_col: str = "priority",
    enqueued_col: str = "enqueued_unix",
) -> DataFrame:
    """Starvation guard: boost a queued URL's priority by one per
    *aging_step_s* it has waited, capped at *max_boost* (Heritrix's
    wait-cost precedence; without aging, a bounded per-host budget can
    defer a low-priority URL forever behind a steady stream of
    higher-priority arrivals).  ``aged = priority + min(max_boost,
    wait div step)`` — monotone in wait, so ANY queued URL eventually
    outranks any fixed finite priority gap ≤ max_boost·1.

    Output: input columns + ``(wait_s, boost, aged_priority)``.  Pure
    map-side integer arithmetic (rides the frontier scan, composes
    before :func:`schedule_epoch`'s per-host rank); exact SQL oracle.
    """
    wait = F.greatest(
        F.lit(0).cast("long"),
        F.lit(int(now_unix)) - F.col(enqueued_col),
    )
    boost = F.least(
        F.lit(int(max_boost)).cast("long"),
        F.expr(
            f"(greatest(0, {int(now_unix)} - {enqueued_col}))"
            f" div {int(aging_step_s)}"
        ),
    )
    return (
        urls.withColumn("wait_s", wait)
        .withColumn("boost", boost)
        .withColumn(
            "aged_priority", F.col(priority_col) + F.col("boost")
        )
    )


def aged_priority_oracle_sql(
    urls_sql: str,
    now_unix: int,
    aging_step_s: int = 86400,
    max_boost: int = 100,
) -> str:
    """DuckDB replay of :func:`aged_priority` over any subquery with
    (priority, enqueued_unix) — pass original columns through."""
    return f"""
        SELECT *,
               GREATEST(0, {int(now_unix)} - enqueued_unix) AS wait_s,
               LEAST({int(max_boost)},
                     GREATEST(0, {int(now_unix)} - enqueued_unix)
                         // {int(aging_step_s)}) AS boost,
               priority + LEAST({int(max_boost)},
                     GREATEST(0, {int(now_unix)} - enqueued_unix)
                         // {int(aging_step_s)}) AS aged_priority
        FROM ({urls_sql})
    """


def byte_budget_schedule(
    urls: DataFrame,
    per_host_bytes: int,
    host_col: str = "host",
    url_col: str = "url",
    size_col: str = "est_bytes",
    priority_col: str = "priority",
) -> DataFrame:
    """Bandwidth-budgeted per-host selection: take each host's queue in
    priority order and keep URLs while the RUNNING byte total stays
    within *per_host_bytes* (Common-Crawl-style crawling budgets BYTES
    per host per epoch, not URL counts — ten 50 MB media pages are not
    the same courtesy as ten 10 KB pages).  ``est_bytes`` is the
    expected transfer size (last observed Content-Length, or a prior).

    Selection rule: a URL is kept iff the cumulative size THROUGH it
    (inclusive prefix sum in ``(priority, url)`` order) is ≤ budget —
    first-fit in priority order, deterministic, no bin-packing
    reshuffle (skipping an oversized head to fit a smaller tail would
    invert priorities).  A single URL larger than the whole budget is
    never selected — emit it to an oversize report upstream rather
    than special-casing it here.

    Output: input columns + ``(cum_bytes, selected)``.  ONE exchange —
    the per-host window (same key as the politeness queue, so when
    composed with :func:`schedule_epoch` the partitioning is reused);
    exact integer oracle.
    """
    w = (
        Window.partitionBy(host_col)
        .orderBy(priority_col, url_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return urls.withColumn(
        "cum_bytes", F.sum(F.col(size_col).cast("long")).over(w)
    ).withColumn(
        "selected", F.col("cum_bytes") <= F.lit(int(per_host_bytes))
    )


def byte_budget_oracle_sql(
    urls_sql: str,
    per_host_bytes: int,
) -> str:
    """DuckDB replay of :func:`byte_budget_schedule` over any subquery
    with (host, url, priority, est_bytes)."""
    return f"""
        SELECT *,
               SUM(est_bytes) OVER (
                   PARTITION BY host ORDER BY priority, url
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               )::BIGINT AS cum_bytes,
               SUM(est_bytes) OVER (
                   PARTITION BY host ORDER BY priority, url
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) <= {int(per_host_bytes)} AS selected
        FROM ({urls_sql})
    """


def fair_share(
    demands: DataFrame,
    capacity: int,
    host_col: str = "host",
    demand_col: str = "demand",
) -> DataFrame:
    """Max-min fair (water-filling) allocation of a global fetch budget
    across hosts — the allocation the reference's single token bucket
    (``rate_limiter.rs:34-41``, one global 2 req/s governor) degenerates
    to when every worker competes for one clock: each host receives
    ``min(demand, level)`` where the water level is the largest value
    whose total cost fits ``capacity``; no host can gain except by
    taking from a host that already has less (the max-min property —
    Bertsekas & Gallager's classic progressive-filling result, here in
    closed form).

    Exact integer construction, no global window over hosts:

    1. group by DISTINCT demand value — the sorted-prefix structure
       (exclusive host counts / demand sums in demand order) lives on a
       table of distinct integer demands, orders of magnitude smaller
       than the host table (a bounded ~|distinct demands|-row window,
       like the sketch registers elsewhere in this package);
    2. a demand value ``v`` is fully satisfiable iff
       ``prefix_sum(v) + v * (n - prefix_cnt(v)) <= capacity``
       (affording everyone from ``v`` up at least ``v``) — satisfied
       hosts get their demand;
    3. the unsatisfied share ``capacity - S`` splits as
       ``level = (capacity - S) div m`` with the ``rem`` leftover units
       going one each to the ``rem`` first unsatisfied hosts in
       (demand, host) order.  That global rank is computed WITHOUT a
       global sort: rank = (unsatisfied hosts with smaller demand — a
       broadcast from the distinct-demand table) + row_number within my
       demand value (one hash exchange on the demand key; ties within
       one value are the only skew and the rule's only window).

    Output: ``(host, demand, sat, alloc)`` with Σalloc = min(capacity,
    Σdemand) exactly.  Allocations are reproducible at any partitioning
    and replayed column-for-column by :func:`fair_share_oracle_sql`.
    """
    d = demands.select(
        F.col(host_col).alias("host"),
        F.col(demand_col).cast("long").alias("demand"),
    )
    cap = F.lit(int(capacity))

    g = d.groupBy("demand").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("demand").alias("dsum"),
    )
    # tiny window: one row per DISTINCT demand value
    wv = Window.orderBy("demand").rowsBetween(Window.unboundedPreceding, -1)
    g = (
        g.withColumn("pcnt", F.coalesce(F.sum("cnt").over(wv), F.lit(0)))
        .withColumn("psum", F.coalesce(F.sum("dsum").over(wv), F.lit(0)))
        .withColumn("n_total", F.sum("cnt").over(Window.partitionBy()))
        .withColumn(
            "sat",
            F.col("psum")
            + F.col("demand") * (F.col("n_total") - F.col("pcnt"))
            <= cap,
        )
    )
    # exclusive count of UNSATISFIED hosts with strictly smaller demand:
    # global unsat rank = this offset + within-value row_number
    wu = Window.orderBy("demand").rowsBetween(Window.unboundedPreceding, -1)
    g = g.withColumn(
        "unsat_before",
        F.coalesce(
            F.sum(F.when(~F.col("sat"), F.col("cnt"))).over(wu), F.lit(0)
        ),
    )
    levels = g.agg(
        F.coalesce(F.sum(F.when(F.col("sat"), F.col("dsum"))), F.lit(0)).alias(
            "s_sat"
        ),
        F.coalesce(F.sum(F.when(~F.col("sat"), F.col("cnt"))), F.lit(0)).alias(
            "m_unsat"
        ),
    ).select(
        "m_unsat",
        F.when(F.col("m_unsat") > 0, (cap - F.col("s_sat")))
        .otherwise(F.lit(0))
        .alias("pool"),
    )

    wd = Window.partitionBy("demand").orderBy("host")
    out = (
        d.join(F.broadcast(g.select("demand", "sat", "unsat_before")), "demand")
        .crossJoin(F.broadcast(levels))
        .withColumn("rn", F.row_number().over(wd))
        .select(
            "host",
            "demand",
            "sat",
            F.when(F.col("sat"), F.col("demand"))
            .otherwise(
                (F.col("pool") / F.col("m_unsat")).cast("long")
                + (
                    F.col("unsat_before") + F.col("rn")
                    <= F.pmod(F.col("pool"), F.col("m_unsat"))
                ).cast("long")
            )
            .alias("alloc"),
        )
    )
    return out


def fair_share_oracle_sql(demands_sql: str, capacity: int) -> str:
    """DuckDB recomputation of :func:`fair_share` over any subquery with
    ``(host, demand)`` — the same distinct-demand prefix structure,
    water level, and deterministic remainder ranks."""
    c = int(capacity)
    return f"""
        WITH d AS (SELECT host, demand::BIGINT AS demand
                   FROM ({demands_sql}) t),
        g AS (SELECT demand, COUNT(*)::BIGINT cnt, SUM(demand)::BIGINT dsum
              FROM d GROUP BY demand),
        p AS (SELECT *,
                     COALESCE(SUM(cnt) OVER (ORDER BY demand
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0)::BIGINT pcnt,
                     COALESCE(SUM(dsum) OVER (ORDER BY demand
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0)::BIGINT psum,
                     SUM(cnt) OVER ()::BIGINT n_total
              FROM g),
        s AS (SELECT *,
                     psum + demand * (n_total - pcnt) <= {c} AS sat
              FROM p),
        u AS (SELECT *,
                     COALESCE(SUM(CASE WHEN NOT sat THEN cnt END)
                       OVER (ORDER BY demand
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0)::BIGINT unsat_before
              FROM s),
        lv AS (SELECT COALESCE(SUM(CASE WHEN NOT sat THEN cnt END), 0)::BIGINT
                        m_unsat,
                      CASE WHEN COALESCE(SUM(CASE WHEN NOT sat THEN cnt END),
                                         0) > 0
                           THEN {c} - COALESCE(
                               SUM(CASE WHEN sat THEN dsum END), 0)
                           ELSE 0 END::BIGINT pool
               FROM u)
        SELECT d.host, d.demand, u.sat,
               CASE WHEN u.sat THEN d.demand
                    ELSE (lv.pool // lv.m_unsat)::BIGINT
                         + (u.unsat_before + ROW_NUMBER() OVER (
                              PARTITION BY d.demand ORDER BY d.host)
                            <= lv.pool % lv.m_unsat)::BIGINT
               END::BIGINT AS alloc
        FROM d JOIN u USING (demand) CROSS JOIN lv
    """


def drain_feasibility(
    queue: DataFrame,
    epoch_ms: int,
    per_host_budget: int,
    host_col: str = "host",
    backlog_col: str = "backlog",
    delay_col: str = "delay_ms",
    arrivals_col: str = "arrivals",
) -> DataFrame:
    """Per-host queue-drain capacity planning: will this host's frontier
    backlog EVER drain under its politeness delay, and in how many
    epochs?  The reference schedules blindly — its token bucket
    (``rate_limiter.rs:34-41``) paces requests but nothing reports
    which hosts are falling behind; at 10^10-frontier scale a handful
    of deep hosts (large podcast networks behind a long crawl-delay)
    accumulate unbounded backlog unless the planner sees it.

    Closed-form integer math per host — no iteration, no windows:

    - ``slots = epoch_ms div delay_ms`` — fetches one politeness lane
      can issue per epoch (0 when the delay exceeds the epoch);
    - ``effective = least(slots, per_host_budget)`` — the binding
      constraint, politeness vs budget;
    - ``epochs_to_drain = ceil(backlog / effective)`` ignoring new
      arrivals (NULL when ``effective = 0``: the host can never be
      fetched under this epoch length);
    - ``net = effective - arrivals`` and
      ``epochs_to_drain_net = ceil(backlog / net)`` when ``net > 0``,
      NULL otherwise — NULL + ``drains = false`` is the actionable
      alarm: the queue grows without bound and the host needs a larger
      budget, a shorter delay negotiation, or admission throttling.

    Scale shape: input is the per-host rollup (one row per host, built
    by the caller with a map-side-combined groupBy); every output
    column is a pure projection — zero exchanges in this operator, so
    it composes with any upstream partitioning.  All arithmetic is
    BIGINT (``div``, ceil via ``(a + b - 1) div b``) and replayed
    column-for-column by :func:`drain_oracle_sql`.
    """
    q = queue.select(
        F.col(host_col).alias("host"),
        F.col(backlog_col).cast("long").alias("backlog"),
        F.col(delay_col).cast("long").alias("delay_ms"),
        F.col(arrivals_col).cast("long").alias("arrivals"),
    )
    slots = F.expr(f"{int(epoch_ms)}L div delay_ms")
    eff = F.least(slots, F.lit(int(per_host_budget)).cast("long"))
    c = q.select(
        "host",
        "backlog",
        "delay_ms",
        "arrivals",
        slots.alias("slots"),
        eff.alias("effective"),
    )
    return c.select(
        "*",
        F.when(
            F.col("effective") > 0,
            F.expr("(backlog + effective - 1) div effective"),
        )
        .cast("long")
        .alias("epochs_to_drain"),
        (F.col("effective") - F.col("arrivals")).alias("net"),
        (F.col("effective") - F.col("arrivals") > 0).alias("drains"),
        F.when(
            F.col("effective") - F.col("arrivals") > 0,
            F.expr(
                "(backlog + effective - arrivals - 1)"
                " div (effective - arrivals)"
            ),
        )
        .cast("long")
        .alias("epochs_to_drain_net"),
    )


def drain_oracle_sql(
    queue_sql: str, epoch_ms: int, per_host_budget: int
) -> str:
    """DuckDB recomputation of :func:`drain_feasibility` over any
    subquery yielding ``(host, backlog, delay_ms, arrivals)``."""
    e, b = int(epoch_ms), int(per_host_budget)
    return f"""
        WITH q AS (SELECT host, backlog::BIGINT backlog,
                          delay_ms::BIGINT delay_ms,
                          arrivals::BIGINT arrivals
                   FROM ({queue_sql}) t),
        c AS (SELECT *,
                     ({e} // delay_ms)::BIGINT slots,
                     LEAST({e} // delay_ms, {b})::BIGINT effective
              FROM q)
        SELECT host, backlog, delay_ms, arrivals, slots, effective,
               CASE WHEN effective > 0
                    THEN (backlog + effective - 1) // effective END::BIGINT
                 AS epochs_to_drain,
               (effective - arrivals)::BIGINT AS net,
               effective - arrivals > 0 AS drains,
               CASE WHEN effective - arrivals > 0
                    THEN (backlog + effective - arrivals - 1)
                         // (effective - arrivals) END::BIGINT
                 AS epochs_to_drain_net
        FROM c
    """


def blocklist_gate(
    urls: DataFrame,
    blocklist: DataFrame,
    host_col: str = "host",
    max_labels: int = 8,
) -> DataFrame:
    """UT1/squidGuard-style domain blocklist gate with subdomain
    inheritance — the category deny-list every production crawl runs at
    admission (porn/malware/ads domain lists): an entry ``example.com``
    blocks every host UNDER it (``a.b.example.com``), and a LONGER
    entry punches holes (``good.example.com`` with action ``allow``
    overrides the shorter block) — longest-suffix-match precedence,
    the domain-label analogue of robots' longest-path rule
    (:mod:`operators.robots`).  Distinct from the trap/circuit deny
    list of the ``frontier_gating`` driver query: this is policy
    (externally curated categories), not observed behavior.

    *blocklist* columns: ``(pattern, action, category)`` — pattern is
    a domain suffix on label boundaries, action ``block`` | ``allow``.
    Output: one row per input row with ``verdict`` (``blocked`` /
    ``allowed``), ``matched_pattern`` / ``category`` (NULL when no
    entry matched; unmatched hosts default to ``allowed``).  The verdict
    depends only on the row's host, so any other column (a NULL or
    repeated url included) is passed through untouched.

    Scale shape: each host explodes into its ≤ *max_labels* ancestor
    label-suffixes (built with ``transform`` over ``split(host,'.')``
    — pure codegen, narrow), inner-joined against the BROADCAST
    blocklist (a curated list is thousands of rows), so only matching
    suffix rows survive the join; the per-host longest-match argmax is
    a ``max_by`` over struct (pattern length wins; suffixes of one
    host have distinct lengths, so the order is total) whose exchange
    carries only MATCHED rows.  Verdicts join back to the corpus on
    host; that side is one row per matched host, bounded by the
    blocklist hit rate and broadcast under AQE at real-world rates.
    A clean URL never crosses an exchange.
    """
    parts = F.split(F.col(host_col), r"\.")
    n = F.size(parts)
    k = F.least(n, F.lit(int(max_labels)))
    suffixes = F.transform(
        F.sequence(F.lit(1), k),
        lambda i: F.array_join(F.slice(parts, n - i + 1, i), "."),
    )
    exploded = urls.select(
        F.col(host_col).alias("__h"), F.explode(suffixes).alias("suffix")
    )
    matched = exploded.join(
        F.broadcast(blocklist),
        exploded["suffix"] == blocklist["pattern"],
        "inner",
    )
    best = matched.groupBy("__h").agg(
        F.max_by(
            F.struct("pattern", "action", "category"),
            # suffixes of one host have distinct lengths; the pattern
            # tie-break only guards duplicate blocklist rows
            F.struct(F.length("pattern").alias("l"),
                     F.col("pattern").alias("p")),
        ).alias("m")
    )
    out = urls.join(best, urls[host_col] == best["__h"], "left")
    return out.select(
        *[urls[c] for c in urls.columns],
        F.when(F.col("m.action") == "block", F.lit("blocked"))
        .otherwise(F.lit("allowed"))
        .alias("verdict"),
        F.col("m.pattern").alias("matched_pattern"),
        F.col("m.category").alias("category"),
    )


def blocklist_oracle_sql(urls_sql: str, blocklist_sql: str) -> str:
    """DuckDB replay of :func:`blocklist_gate`: ancestor suffixes of each
    distinct host via a list comprehension over the label split, the
    longest-match argmax as a plain ``row_number`` window, allow-punches-
    hole precedence included, joined back on host.  *urls_sql* yields
    rows with a ``host`` column; *blocklist_sql* yields (pattern, action,
    category)."""
    return f"""
        WITH u AS ({urls_sql}),
        bl AS ({blocklist_sql}),
        sfx AS (
          SELECT h.host, unnest(
            [array_to_string(p[len(p)-i+1:len(p)], '.')
             for i in range(1, least(len(p), 8) + 1)]
          ) AS suffix
          FROM (SELECT DISTINCT host, string_split(host, '.') p FROM u) h
        ),
        m AS (
          SELECT sfx.host, bl.pattern, bl.action, bl.category,
                 row_number() OVER (
                     PARTITION BY sfx.host
                     ORDER BY length(bl.pattern) DESC, bl.pattern DESC
                 ) rn
          FROM sfx JOIN bl ON sfx.suffix = bl.pattern
        ),
        best AS (SELECT * FROM m WHERE rn = 1)
        SELECT u.*,
               CASE WHEN b.action = 'block' THEN 'blocked'
                    ELSE 'allowed' END AS verdict,
               b.pattern AS matched_pattern,
               b.category AS category
        FROM u LEFT JOIN best b ON u.host = b.host
    """
