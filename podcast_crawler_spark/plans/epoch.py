"""The crawl epoch — one deterministic micro-batch of the crawl loop.

Spark mapping of the reference's production lifecycle (SURVEY.md §3.1):

    select-due → politeness window → fetch join → parse UDF → explode
    episodes → validate → upsert podcasts/episodes → update frontier
    (retries, reschedule) → commit snapshots + per-partition lineage +
    metrics

Driver = distributor; executors = workers; the hash shuffle replaces the
broadcast task bus; the snapshot commit replaces the Postgres transaction.
The reference's continuous tokio loop has no event-time semantics
(SURVEY.md §2.10), so discrete epochs with deterministic timestamps give
exact resume + reproducible ordering; the same ``run_epoch`` body plugs
into Structured Streaming ``foreachBatch`` unchanged
(``podcast_crawler_spark.streaming``).

Upsert semantics (D1/D2): podcast identity = ``rss_feed_url``, episode
identity = ``guid`` — the batch-path conflict keys of
``/root/reference/src/infrastructure/persistence/repositories/
podcast_repository.rs:178-183,212-218``; ``DO UPDATE`` = last-write-wins,
implemented as merge-on-read delta commits resolved per key by
``checkpoint.resolve_lww`` (the newest ``_epoch`` wins).
In production these two become Iceberg ``MERGE INTO``; the snapshot-table
rewrite here has identical semantics at sandbox scale.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from datetime import datetime, timedelta
from typing import Dict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.schemas import METRICS_ARROW_SCHEMA
from ..functions.udfs import explode_episodes, parse_pages
from ..functions.urlfns import canonicalize_url, url_hash
from ..operators.frontier import (
    PARSED,
    CrawlConfig,
    apply_epoch_results,
    build_frontier,
    fetch_join,
    frontier_rows,
    schedule_epoch,
)
from ..operators.seen import (
    build_bloom_shards,
    filter_unseen,
    update_bloom_shards,
)
from ..operators.robots import agent_rules
from ..operators.stats import ERROR_TYPES, categorize_error
from .checkpoint import SnapshotTable, resolve_lww

# frontier bookkeeping carried through the parse unchanged: exactly what
# the three post-parse consumers read besides the parse results
PASSTHROUGH = ["url", "url_hash", "fetch_ok"]

# Scoped AQE override for the epoch's commit writes: the delta/frontier
# writers are shuffle-final jobs over O(delta) bytes, and AQE's default
# parallelism-first coalescing leaves them as dozens of sub-MB files whose
# task+file overhead IS the commit phase's fixed constant (measured 46
# files for a 35 MB episodes delta at local[32]; overlap wall 3.4 s cold /
# 1.7 s warm → 1.5 s with the override, 12 right-sized files).  Size-based
# coalescing (parallelismFirst=false + this advisory size) makes file
# count track delta BYTES, so the same setting yields full write
# parallelism on a 100 GB cluster delta and a handful of files on a small
# one.
COMMIT_ADVISORY_BYTES = "8m"
_COMMIT_CONFS = {
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": COMMIT_ADVISORY_BYTES,
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
}

# Largest epoch (outcome rows) whose frontier update broadcasts the
# outcomes: 4 narrow columns, 2M rows ≈ 60 MB serialized.
BROADCAST_OUTCOMES_MAX_ROWS = 2_000_000


@dataclass
class CrawlState:
    root: str
    frontier: SnapshotTable
    podcasts: SnapshotTable
    episodes: SnapshotTable
    metrics: SnapshotTable
    # persisted D3 seen index: one bloom-bits row per key shard
    # (pmod(url_hash, S)), bootstrapped once from the frontier and folded
    # incrementally on every admission (``update_bloom_shards``) — the
    # cross-epoch seen set the reference keeps implicitly in Postgres
    # unique indexes (podcast_repository.rs:178-183,212-218).  Its layout
    # (``num_shards`` S, ``expected_keys``) is fixed at bootstrap and
    # recorded in every seen_shards manifest; admission reads it there,
    # never from ``cfg``.  INVARIANT:
    # frontier membership only ever grows through ``init_crawl`` (seeds,
    # pre-bootstrap) and, once initialized, through ``admit_urls`` alone
    # (which folds what it admits) — ``PodcastQueryAPI.add_task`` and the
    # stream's seed batches both call it.  The shard bits therefore cover
    # every frontier key, so a Bloom false negative (the one failure the
    # exact-verify join can't catch) cannot occur.  tests/test_doclint.py
    # fails if any module but this one commits the frontier.
    seen_shards: SnapshotTable

    @classmethod
    def open(cls, root: str) -> "CrawlState":
        return cls(
            root=root,
            frontier=SnapshotTable(root, "frontier"),
            podcasts=SnapshotTable(root, "podcasts"),
            episodes=SnapshotTable(root, "episodes"),
            metrics=SnapshotTable(root, "metrics"),
            seen_shards=SnapshotTable(root, "seen_shards"),
        )

    def completed_epochs(self) -> int:
        """Epochs committed so far — read from the frontier manifest's
        ``epoch`` metric (snapshot ids can't be used directly: each
        ``admit_urls`` call commits an extra frontier snapshot)."""
        man = self.frontier.manifest()
        return man["metrics"]["epoch"] if man else 0


def init_crawl(
    spark: SparkSession,
    seeds: DataFrame,
    state_dir: str,
    epoch0: datetime,
    cfg: CrawlConfig = CrawlConfig(),
) -> CrawlState:
    """Build the initial frontier snapshot from the seed list (idempotent:
    an existing initialized state dir is reopened, not rebuilt)."""
    state = CrawlState.open(state_dir)
    if state.frontier.current_snapshot_id() is None:
        frontier = build_frontier(seeds, epoch0, cfg).repartition(
            cfg.num_partitions, "host_hash"
        )
        state.frontier.commit(frontier, metrics={"epoch": 0})
    return state


def run_epoch(
    spark: SparkSession,
    state: CrawlState,
    pages: DataFrame,
    robots: DataFrame,
    epoch_ts: datetime,
    cfg: CrawlConfig = CrawlConfig(),
    fetcher=None,
) -> Dict:
    """Run one epoch; commits frontier/podcasts/episodes/metrics snapshots
    atomically (frontier last — its snapshot id is the epoch counter, so a
    crash before it re-runs the whole epoch idempotently: upserts are
    keyed, re-insertion converges to the same state).

    *robots*: at most one row per host, the group that applies to
    ``USER_AGENT`` (``robots.agent_rules``).  A url scheduled twice (a
    second rules row for a host, a ``url_hash`` collision) changes the
    frontier's row count, which no epoch does: it raises before publish.

    *fetcher*: optional production fetch swap-in (S2) — a callable
    ``scheduled -> DataFrame`` with ``fetch_join``'s output schema, e.g.
    ``operators.fetcher.live_fetch`` bound to a transport.  When given,
    the pages-table join is bypassed and everything downstream (parse,
    upserts, frontier update, metrics) runs unchanged."""
    t0 = time.time()
    epoch_no = state.completed_epochs() + 1
    frontier_rows_read = state.frontier.manifest()["row_count"]
    frontier = state.frontier.read(spark)

    # 1-2. due selection + politeness priority queue (W4/W5) + robots (J4).
    # Prune the frontier to the scheduling columns first: the politeness
    # window shuffles its input, and dragging the stages lineage array /
    # error text through that exchange doubles its bytes for nothing (the
    # frontier update below works off the full snapshot scan + outcome
    # keys, not off the scheduled slice).
    frontier_sched = frontier.select(
        "url", "url_hash", "host", "host_hash", "priority",
        "next_fetch_ts", "state",
    )
    scheduled = schedule_epoch(frontier_sched, robots, epoch_ts, cfg)

    # 3. "fetch" = join against pages (J3).  No salt exchange here: the
    # join's own hash(url) distribution already spreads hot-host URLs
    # uniformly (url hashes are uniform even when hosts are not), so a
    # salted repartition after the join would re-shuffle the multi-KB html
    # payloads purely to reproduce a distribution the join just gave us —
    # measured ~60s/1.5M rows of pure waste.  With a url-bucketed pages
    # table (the production layout) html is read in place and never
    # shuffles at all.
    if fetcher is not None:
        fetched = fetcher(scheduled)
    elif cfg.pages_bucketed_table:
        from ..sources.bucketed import fetch_join_bucketed

        fetched = fetch_join_bucketed(scheduled, spark, cfg.pages_bucketed_table)
    else:
        fetched = fetch_join(scheduled, pages)

    # 4. parse stage (P1-P12) — ``mapInArrow`` over Arrow record batches:
    # the frontier bookkeeping passes through as the same Arrow arrays
    # (zero-copy, no pandas) so no re-join afterwards, and the kernel's
    # dicts become the five typed result columns in one ``pa.array`` each
    # (``functions/udfs.parse_pages``).  All scalar epoch metrics (A3/A4/A7)
    # ride along as an Observation and are collected while the parse output
    # is materialized — costing ZERO extra Spark jobs (the reference's
    # Prometheus counters similarly piggyback on the task flow,
    # src/metrics.rs:47-116).
    #
    # The parse output materializes ONCE — it has three downstream
    # consumers (podcast upsert, episode explode, frontier update) and must
    # never be parsed twice.  The scratch is Spark's columnar cache at
    # DISK_ONLY, over a column subset pruned to exactly what the three
    # consumers read.  DISK_ONLY (not MEMORY_AND_DISK) is a measured
    # choice: building the in-memory cache contends on the unified
    # storage pool under 32 concurrent tasks (+3.7 s over the bare parse
    # at local[32], +0 at local[8] —
    # `git show bf15243:tools/persist_experiment.py`), i.e. the memory
    # tier ANTI-SCALES with parallelism, while DISK_ONLY writes straight
    # to spark.local.dir with zero pool accounting and measured ZERO
    # overhead over the uncached parse.  On a real cluster local dirs are
    # node-local SSD/tmpfs and the same reasoning holds per-executor.  The
    # pruned select drops extracted_text + politeness bookkeeping (heavy,
    # never read after the parse) so the scratch bytes are output-sized,
    # not parse-sized; pruning below the cache is impossible for a
    # mapInArrow stage (Python emits the full schema), so the select
    # above it is what keeps those bytes out of the scratch.
    from pyspark import StorageLevel
    from pyspark.sql import Observation

    obs = Observation(f"epoch-{epoch_no}")
    err_type = categorize_error(F.col("parse_error_message"))
    parse_ok_c = F.col("fetch_ok") & F.col("parse_error_kind").isNull()
    observed = parse_pages(fetched, passthrough=PASSTHROUGH).observe(
        obs,
        F.count(F.lit(1)).alias("total"),
        F.coalesce(F.sum(F.col("fetch_ok").cast("long")), F.lit(0)).alias(
            "n_fetch_ok"
        ),
        F.coalesce(F.sum(parse_ok_c.cast("long")), F.lit(0)).alias(
            "n_parse_ok"
        ),
        *[
            F.coalesce(F.sum((err_type == t).cast("long")), F.lit(0)).alias(
                f"err_{t}"
            )
            for t in ERROR_TYPES
        ],
    )
    # exactly the columns the three consumers below read — extracted_text
    # is parse working state that must not hit the scratch
    scratch_cols = PASSTHROUGH + [
        "podcast", "episodes", "parse_error_kind", "parse_error_message"
    ]
    parsed = observed.select(*scratch_cols).persist(StorageLevel.DISK_ONLY)
    # released on every exit: a raise below (a url scheduled twice, a
    # failed commit) must not leave the scratch pinned in the session
    try:
        # materialize now so the Observation is complete and every consumer
        # below hits the cache instead of re-running the parse
        parsed.write.format("noop").mode("overwrite").save()
        # the scratch write (the epoch's first action) has completed, so the
        # observed metrics are already available
        m = obs.get

        ok = parsed.filter(F.col("parse_error_kind").isNull())

        # 5. outputs: podcasts (J2 key = xxhash64(rss_feed_url)) + episodes.
        # Within-epoch LWW dedup only — the cross-epoch merge (D1/D2, ON
        # CONFLICT DO UPDATE parity) is carried by merge-on-read delta
        # commits: each epoch writes O(delta) rows and readers resolve
        # ``max_by(_epoch)`` per key across segments.  Rewriting the whole
        # episodes table per epoch (copy-on-write) would make every
        # steady-state epoch O(corpus) — measured 14s to apply an EMPTY delta
        # to 4.7M rows at sandbox scale, and fatal at 10^10.
        epoch_lit = F.lit(epoch_no)
        podcasts_new = resolve_lww(
            ok.select(
                F.xxhash64("podcast.rss_feed_url").alias("podcast_id"),
                F.col("podcast.*"),
                epoch_lit.alias("_epoch"),
            ),
            "rss_feed_url",
            "_epoch",
        )
        episodes_new = resolve_lww(
            explode_episodes(parsed).withColumn("_epoch", epoch_lit),
            "guid",
            "_epoch",
        )

        # 6. frontier update (R1-R3) + per-row stage lineage for this epoch.
        # The outcome set is O(epoch), tiny next to a 10^10-row frontier.  Up
        # to BROADCAST_OUTCOMES_MAX_ROWS it is broadcast: the whole update is
        # then narrow over the snapshot scan, so the stored host_hash file
        # layout carries over and re-bucketing would be a full-frontier
        # shuffle for nothing (the politeness window runs its own host_hash
        # exchange regardless).  Above it both sides shuffle (the hint keeps
        # Spark from broadcasting a small cached side on its own), so the
        # rewrite re-buckets the frontier by host_hash.
        outcomes = parsed.select(
            "url_hash", "fetch_ok", "parse_error_kind", "parse_error_message"
        )
        if m["total"] <= BROADCAST_OUTCOMES_MAX_ROWS:
            new_frontier = apply_epoch_results(
                frontier, F.broadcast(outcomes), epoch_ts, cfg
            )
        else:
            new_frontier = apply_epoch_results(
                frontier, outcomes.hint("shuffle_hash"), epoch_ts, cfg
            ).repartition(cfg.num_partitions, "host_hash")
        new_frontier = _stamp_stages(new_frontier, epoch_ts)

        # 7. commit podcasts/episodes + PREPARE the frontier, all overlapped.
        # Row counts and per-partition lineage come from the committed parquet
        # footers — metrics cost no extra Spark jobs.  The three writers are
        # independent jobs reading the same scratch, so they run concurrently
        # from separate driver threads across the same executors.  The
        # epoch-boundary protocol only requires the outputs to be DURABLE
        # before the frontier manifest PUBLISHES — and the commit point of a
        # snapshot is the manifest rename, not the data write, so the
        # frontier's (large) parquet write overlaps the output commits and
        # only its manifest waits (two-phase prepare/publish,
        # plans/checkpoint.py).  An epoch with nothing parsed has an empty
        # delta — skip both output commits (the parent snapshots remain
        # current; retry-only epochs cost zero output writes).
        from concurrent.futures import ThreadPoolExecutor

        def _commit_out(table, updates, key):
            # the first commit_delta (no base snapshot) writes a one-segment
            # snapshot that reads like a plain commit
            table.commit_delta(updates, key, "_epoch", metrics={"epoch": epoch_no})
            # periodic rewrite: resolve cost is amortized, read
            # amplification stays bounded by cfg.compact_segments
            if table.num_segments() >= cfg.compact_segments:
                table.compact(spark, metrics={"epoch": epoch_no})

        # Scoped AQE override (see COMMIT_ADVISORY_BYTES).  Everything
        # submitted inside the scope plans under these values: the
        # podcasts/episodes commits (and any compaction they trigger) AND the
        # frontier prepare.  The values are restored before the metrics
        # commit runs.  spark.conf is session-global, so any other query
        # planned concurrently in this session during the commit window sees
        # the override too.
        _scoped = {k: spark.conf.get(k, None) for k in _COMMIT_CONFS}
        for k, v in _COMMIT_CONFS.items():
            spark.conf.set(k, v)
        try:
            with ThreadPoolExecutor(max_workers=3) as pool:
                f_front = pool.submit(state.frontier.prepare, new_frontier)
                if m["n_parse_ok"] > 0:
                    f_pod = pool.submit(
                        _commit_out, state.podcasts, podcasts_new, "rss_feed_url"
                    )
                    f_ep = pool.submit(
                        _commit_out, state.episodes, episodes_new, "guid"
                    )
                    f_pod.result()
                    f_ep.result()
                frontier_staged = f_front.result()
        finally:
            for k, old in _scoped.items():
                if old is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, old)
        if frontier_staged["row_count"] != frontier_rows_read:
            raise RuntimeError(
                f"epoch {epoch_no}: frontier of {frontier_rows_read} rows staged"
                f" as {frontier_staged['row_count']}: a url was scheduled twice"
            )
        pod_man = state.podcasts.manifest() or {}
        ep_man = state.episodes.manifest() or {}
        # manifest row_count is the RAW segment total (delta segments include
        # superseded rows until compaction), i.e. an upper bound on the
        # resolved table — the metric keys say so explicitly so A1-style
        # dashboards don't read it as the live row count
        pod_rows = pod_man.get("row_count", 0)
        ep_rows = ep_man.get("row_count", 0)

        total, n_fetch_ok, n_parse_ok = m["total"], m["n_fetch_ok"], m["n_parse_ok"]
        err_hist = {
            t: m[f"err_{t}"] for t in ERROR_TYPES if m[f"err_{t}"]
        }

        metrics = {
            "epoch": epoch_no,
            "epoch_ts": epoch_ts.isoformat(),
            "scheduled": total,
            "fetched": n_fetch_ok,
            "parsed": n_parse_ok,
            "fetch_failures": total - n_fetch_ok,
            "parse_failures": n_fetch_ok - n_parse_ok,
            "error_histogram": err_hist,
            "podcast_rows_raw": pod_rows,
            "episode_rows_raw": ep_rows,
            "partition_lineage": ep_man.get("files", []),
            "wall_s": None,  # filled below
        }

        # metrics table: one row per epoch — committed driver-side via pyarrow
        # (a Spark job per epoch for one row is pure scheduling overhead)
        state.metrics.commit_local(
            [{**metrics, "epoch_ts": epoch_ts.replace(tzinfo=None)}],
            METRICS_ARROW_SCHEMA,
            metrics={"epoch": epoch_no},
        )
        metrics["wall_s"] = round(time.time() - t0, 3)
        # The epoch boundary = this manifest publish (outputs are durable).
        state.frontier.publish(frontier_staged, metrics=metrics)
    finally:
        parsed.unpersist()
    return metrics


def _stamp_stages(frontier: DataFrame, epoch_ts: datetime) -> DataFrame:
    """Per-row lineage for rows touched this epoch, mirroring the Task
    stages vec (``task.rs:33-41``; names ``src/metrics.rs:105``).  Bounded:
    the row keeps only its latest epoch's stages; cross-epoch lineage lives
    in the snapshot manifests."""
    ts = F.lit(epoch_ts).cast("timestamp")
    touched = F.col("state").isin(PARSED, "failed") | (
        (F.col("retries") > 0) & (F.col("state") == "pending")
    )
    fetch_status = F.when(
        F.col("error_kind") == "network", F.lit("Failed")
    ).otherwise(F.lit("Completed"))
    parse_status = (
        F.when(F.col("error_kind") == "network", F.lit("Pending"))
        .when(F.col("error_kind").isNotNull(), F.lit("Failed"))
        .otherwise(F.lit("Completed"))
    )
    insert_status = F.when(F.col("state") == PARSED, F.lit("Completed")).otherwise(
        F.lit("Pending")
    )

    def stage(name, status):
        return F.struct(
            F.lit(name).alias("name"),
            status.alias("status"),
            ts.alias("start_ts"),
            ts.alias("end_ts"),
            F.col("last_error").alias("error"),
        )

    stages = F.array(
        stage("distribution", F.lit("Completed")),
        stage("fetching", fetch_status),
        stage("parsing", parse_status),
        stage("inserting", insert_status),
    )
    return frontier.withColumn(
        "stages", F.when(touched, stages).otherwise(F.col("stages"))
    )


def run_crawl(
    spark: SparkSession,
    state_dir: str,
    seeds: DataFrame,
    pages: DataFrame,
    robots: DataFrame,
    epochs: int,
    epoch0: datetime,
    epoch_interval_s: int = 60,
    cfg: CrawlConfig = CrawlConfig(),
) -> CrawlState:
    """Run (or **resume**) the crawl until *epochs* epochs are committed.
    Epoch timestamps are deterministic (epoch0 + i·interval), so resuming a
    killed run reproduces byte-identical outputs (tested).  *robots* is
    resolved (``robots.agent_rules``) and materialized once per crawl."""
    state = init_crawl(spark, seeds, state_dir, epoch0, cfg)
    robots = agent_rules(robots).localCheckpoint()
    while state.completed_epochs() < epochs:
        i = state.completed_epochs()
        epoch_ts = epoch0 + timedelta(seconds=i * epoch_interval_s)
        run_epoch(spark, state, pages, robots, epoch_ts, cfg)
    return state


def seen_shards_current(
    spark: SparkSession, state: CrawlState, cfg: CrawlConfig = CrawlConfig()
) -> DataFrame:
    """The persisted seen-shard table (one bloom-bits row per
    ``pmod(url_hash, S)`` shard), bootstrapping it from the current
    frontier on first use.

    Bootstrap sizing: bloom bits never resize, so the filters are sized
    for the crawl's TARGET key count (``cfg.seen_expected_keys``), not
    today's frontier — default 8× the current frontier as growth
    headroom.  Undersizing only degrades the pre-filter's pruning rate
    (more maybes reach the exact verify); it never drops a URL.
    """
    existing = state.seen_shards.read(spark)
    if existing is not None:
        return existing
    man = state.frontier.manifest() or {}
    expected = cfg.seen_expected_keys or max(
        (man.get("row_count") or 0) * 8, 100_000
    )
    shards = build_bloom_shards(
        state.frontier.read(spark).select("url_hash"),
        "url_hash",
        cfg.num_partitions,
        expected_keys=expected,
    )
    state.seen_shards.commit(
        shards,
        metrics={
            "op": "seen_bootstrap",
            "epoch": state.completed_epochs(),
            "expected_keys": expected,
            # the shard count is PART OF THE INDEX LAYOUT: probes and
            # folds must use the bootstrap-time count forever — reopening
            # the crawl with a different cfg.num_partitions would
            # mis-shard the cogroup and turn bloom false negatives into
            # duplicate admissions (the invariant is "never a false
            # negative").  admit_urls reads it back from the latest
            # seen_shards manifest.
            "num_shards": cfg.num_partitions,
        },
    )
    return state.seen_shards.read(spark)


# Priority of admitted urls whose batch has no ``priority`` column: low,
# so discovered urls are crawled after all seeds at equal due-time.
ADMIT_PRIORITY = 1_000_000


def admit_urls(
    spark: SparkSession,
    state: CrawlState,
    urls: DataFrame,
    epoch_ts: datetime,
    cfg: CrawlConfig = CrawlConfig(),
) -> int:
    """Frontier growth: admit URLs that are NOT already in the frontier —
    discovered episode links (``discovered_urls``), ``add_task`` urls and
    stream seed batches.  This is the only path that grows an initialized
    frontier (see ``CrawlState``).

    The seen check is the D3 discipline over the PERSISTED shard index
    (``state.seen_shards`` — bootstrapped once, folded incrementally).
    The shard table is read once per admission, and its layout (shard
    count, expected keys) once from its manifest; the probe and the fold
    both use them:

    * **probe** — candidates cogroup against the S persisted shard rows
      (``seen.bloom_probe_partitioned``); cost O(candidates + S), the
      frontier is not touched.  Definite-negatives (the vast majority of
      genuinely-new URLs) are admitted with NO frontier access at all.
    * **exact verify** — bloom "maybe" rows are verified against the
      frontier key column without shuffling it: the frontier scan
      semi-joins a *broadcast* of the maybe keys (a narrow, column-pruned
      pass over the snapshot — the only O(frontier) cost, IO not
      shuffle), and the resulting hit set (≤ maybes, tiny) broadcasts
      back into an anti-join.  False positives therefore only cost join
      rows, never a wrongly-dropped URL.  Above
      ``seen.VERIFY_BROADCAST_MAX_ROWS`` maybes the verify falls back to
      a plain anti-join (shuffle both sides) — the safe path when an
      admission batch is almost entirely duplicates at 10^9+ scale.
      Probe and verify are ``seen.filter_unseen``.
    * **fold** — before the frontier commit the candidate keys are OR-ed
      into the shard table (``seen.update_bloom_shards``: one cogroup of
      O(new keys + S rows)) and committed as the next ``seen_shards``
      snapshot, with the same layout.  Never a rebuild over the full
      frontier, which would cost O(frontier) per admission.

    *urls* needs a ``url`` column; returns the new frontier snapshot id.
    Rows are built by ``frontier.frontier_rows``, due at *epoch_ts*.  A
    ``priority`` column in *urls* gives each url its own priority (stream
    seed batches carry the seed rank); otherwise every url gets
    ``ADMIT_PRIORITY``.
    """
    frontier = state.frontier.read(spark)
    if "priority" not in urls.columns:
        urls = urls.withColumn("priority", F.lit(ADMIT_PRIORITY))
    cand = frontier_rows(urls.select("url", "priority"), epoch_ts, cfg)
    # read once: the probe and the fold use this frame
    shards = seen_shards_current(spark, state, cfg)
    man = state.seen_shards.manifest()
    layout = {k: man["metrics"][k] for k in ("expected_keys", "num_shards")}
    fresh, probed = filter_unseen(
        cand, shards, frontier, "url_hash", layout["num_shards"]
    )
    try:
        # Fold the admission's keys into the persisted shard index so the
        # next admission probes a complete seen set.  Folding ALL
        # candidate keys (not just the admitted subset) is equivalent and
        # cheaper: a candidate either was admitted (must fold) or was
        # already in the frontier (its bits are already set — OR is
        # idempotent), and it avoids re-running the probe+verify lineage
        # just to isolate the admitted keys.
        #
        # ORDER MATTERS: the fold commits BEFORE the frontier commit.  A
        # crash between the two then leaves bloom bits set for keys that
        # never landed in the frontier — harmless false positives that
        # the exact verify resolves.  The reverse order (frontier first)
        # would leave frontier keys ABSENT from the bloom after a crash:
        # false negatives that skip the exact verify and re-admit
        # duplicates.
        state.seen_shards.commit(
            update_bloom_shards(
                shards,
                cand.select("url_hash"),
                "url_hash",
                layout["num_shards"],
                expected_keys_per_shard=max(
                    1, layout["expected_keys"] // layout["num_shards"]
                ),
            ),
            metrics={
                "op": "seen_fold",
                "epoch": state.completed_epochs(),
                **layout,
            },
        )
        return state.frontier.commit(
            frontier.unionByName(fresh.select(*frontier.columns)).repartition(
                cfg.num_partitions, "host_hash"
            ),
            metrics={"epoch": state.completed_epochs(), "op": "admit"},
        )
    finally:
        probed.unpersist()


def discovered_urls(state: CrawlState, spark: SparkSession) -> DataFrame:
    """Frontier growth: episode enclosure/link URLs discovered by parsing,
    canonicalized + hashed — candidates for seen-set filtering before
    admission (north-star: seen set over feed **and** episode URLs)."""
    eps = state.episodes.read(spark)
    if eps is None:
        raise ValueError("no episodes snapshot yet")
    urls = (
        eps.select(F.col("enclosure_url").alias("url"))
        .unionByName(eps.select(F.col("link").alias("url")))
        .filter(F.col("url").isNotNull())
    )
    return urls.select(
        "url",
        canonicalize_url(F.col("url")).alias("canonical_url"),
    ).select("url", "canonical_url", url_hash(F.col("canonical_url")).alias("url_hash"))
