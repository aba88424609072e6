"""Layer-isolation probe: each layer's public function, timed on its own.

Every step reads an input persisted by the step before it and is
materialized with a ``noop`` write (the parse: once, into a cache of its
outcome columns), so its time is that layer's work alone:
``schedule_epoch`` -> ``fetch_join_bucketed`` -> ``parse_pages`` ->
``apply_epoch_results`` over the frontier snapshot an epoch started from,
then ``bloom_probe_partitioned`` and ``update_bloom_shards`` over the
crawl's discovered urls.  The ``feedparse`` kernel runs in this process on
the fetched documents.
"""

from __future__ import annotations

import time
from typing import Dict

from pyspark import StorageLevel
from pyspark.sql import functions as F

from podcast_crawler_spark.feedparse.rssparse import parse_feed_result
from podcast_crawler_spark.feedparse.xmlscan import scan
from podcast_crawler_spark.functions.udfs import parse_pages
from podcast_crawler_spark.operators.frontier import apply_epoch_results, schedule_epoch
from podcast_crawler_spark.operators.seen import bloom_probe_partitioned, update_bloom_shards
from podcast_crawler_spark.plans.epoch import PASSTHROUGH, discovered_urls
from podcast_crawler_spark.sources.bucketed import fetch_join_bucketed

SCHEDULE_COLS = ["url", "url_hash", "host", "host_hash", "priority", "next_fetch_ts", "state"]
KERNEL_SAMPLE = 200  # documents the in-process kernel parses, best of 3 passes


def _noop_s(df) -> float:
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def _keep(df):
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    return df


def probe(spark, state, snapshot_id: int, ts, robots, cfg, cores: int,
          admitted) -> Dict[str, float]:
    """Layer times over the frontier snapshot *snapshot_id* of *state* (the
    input of an epoch at *ts*); the seen-set steps probe *admitted*, a state
    whose discovered urls were all admitted already."""
    out: Dict[str, float] = {}
    held = []

    def keep(df):
        held.append(_keep(df))
        return held[-1]

    frontier = keep(state.frontier.read(spark, snapshot_id))
    due = frontier.filter(
        (F.col("state") != "failed")
        & (F.col("next_fetch_ts") <= F.lit(ts).cast("timestamp"))
    )
    out["frontier.max_host_due"] = due.groupBy("host").count().agg(F.max("count")).first()[0] or 0

    sched_in = frontier.select(*SCHEDULE_COLS)
    out["frontier.schedule_s"] = _noop_s(schedule_epoch(sched_in, robots, ts, cfg))
    scheduled = keep(schedule_epoch(sched_in, robots, ts, cfg))
    out["frontier.scheduled_rows"] = scheduled.count()

    table = cfg.pages_bucketed_table
    out["fetch.join_s"] = _noop_s(fetch_join_bucketed(scheduled, spark, table))
    fetched = keep(fetch_join_bucketed(scheduled, spark, table))
    out["fetch.miss_rows"] = fetched.filter(~F.col("fetch_ok")).count()

    # the parse runs once: keeping only the four outcome columns the apply
    # step reads costs next to nothing beside the parse itself
    t = time.perf_counter()
    outcomes = keep(parse_pages(fetched, passthrough=PASSTHROUGH).select(
        "url_hash", "fetch_ok", "parse_error_kind", "parse_error_message"
    ))
    out["udfs.parse_stage_s"] = time.perf_counter() - t
    out["frontier.apply_s"] = _noop_s(
        apply_epoch_results(frontier, F.broadcast(outcomes), ts, cfg)
    )
    out["probe.layer_sum_s"] = (
        out["frontier.schedule_s"] + out["fetch.join_s"]
        + out["udfs.parse_stage_s"] + out["frontier.apply_s"]
    )

    docs = [
        (r.url, bytes(r.html))
        for r in fetched.filter("fetch_ok").select("url", "html").limit(KERNEL_SAMPLE).collect()
    ]
    out.update(kernel(docs))
    ok_rows = out["frontier.scheduled_rows"] - out["fetch.miss_rows"]
    out["udfs.parse_stage_feeds_per_s"] = ok_rows / out["udfs.parse_stage_s"]
    ideal_s = ok_rows / (out["feedparse.kernel_feeds_per_s"] * cores)
    out["udfs.boundary_share"] = 1.0 - ideal_s / out["udfs.parse_stage_s"]

    out.update(seen(spark, admitted, keep))
    for df in held:
        df.unpersist()
    return out


def _best_s(fn, passes: int = 3) -> float:
    best = float("inf")
    for _ in range(passes):
        t = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t)
    return best


def kernel(docs) -> Dict[str, float]:
    """Single-core feeds/s of the full parse and of the XML scanner alone."""
    texts = [html.decode("utf-8", errors="replace") for _, html in docs]

    def parse_all():
        for url, html in docs:
            parse_feed_result(html, url)

    def scan_all():
        for doc in texts:
            for _ in scan(doc):
                pass

    parse_s, scan_s = _best_s(parse_all), _best_s(scan_all)
    return {
        "feedparse.kernel_feeds_per_s": len(docs) / parse_s,
        "feedparse.scan_feeds_per_s": len(docs) / scan_s,
    }


def seen(spark, state, keep) -> Dict[str, float]:
    """Bloom probe and fold of the state's discovered urls against its
    persisted seen index."""
    cands = keep(discovered_urls(state, spark).dropDuplicates(["canonical_url"]))
    meta = state.seen_shards.manifest()["metrics"]
    n_shards, expected = meta["num_shards"], meta["expected_keys"]
    shards = keep(state.seen_shards.read(spark))
    out = {"seen.probe_s": _noop_s(bloom_probe_partitioned(cands, shards, "url_hash", n_shards))}
    probed = keep(bloom_probe_partitioned(cands, shards, "url_hash", n_shards))
    n = probed.count()
    out["seen.maybe_share"] = probed.filter("maybe_seen").count() / n if n else 0.0
    out["seen.fold_s"] = _noop_s(update_bloom_shards(
        shards, cands.select("url_hash"), "url_hash", n_shards,
        expected_keys_per_shard=max(1, expected // n_shards),
    ))
    return out
