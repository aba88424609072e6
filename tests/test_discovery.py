"""Frontier growth: episode-URL discovery + Bloom-gated admission —
the seen set spans feed AND episode URLs (north star)."""

import pytest

from pyspark.sql import functions as F

from podcast_crawler_spark.operators.frontier import CrawlConfig, frontier_rows
from podcast_crawler_spark.plans.epoch import (
    ADMIT_PRIORITY,
    admit_urls,
    discovered_urls,
    run_crawl,
)
from podcast_crawler_spark.sources.pagesgen import (
    EPOCH0,
    gen_pages,
    gen_robots,
    gen_seeds,
)

N = 80
CFG = CrawlConfig(per_host_budget=1000, max_retries=1, num_partitions=4)


@pytest.fixture(scope="module")
def crawled(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("disc"))
    state = run_crawl(
        spark,
        root,
        gen_seeds(spark, N, partitions=2),
        gen_pages(spark, N, partitions=2),
        gen_robots(spark, N, partitions=2),
        epochs=1,
        epoch0=EPOCH0,
        cfg=CFG,
    )
    return state


def test_discovered_urls_canonical(spark, crawled):
    d = discovered_urls(crawled, spark)
    rows = d.collect()
    assert len(rows) > 0
    for r in rows[:20]:
        assert r.canonical_url.startswith("https://")
        assert isinstance(r.url_hash, int)


def test_admit_discovered_bloom_vs_exact(spark, crawled):
    """Bloom-accelerated admission must admit exactly the same URL set as
    the plain anti-join (FPs verified away), and be idempotent."""
    d = discovered_urls(crawled, spark).cache()
    before = crawled.frontier.read(spark)
    n_before = before.count()

    # exact expected set: distinct canonical urls not already in frontier
    expected_new = (
        d.select("canonical_url")
        .distinct()
        .join(before.select("canonical_url"), "canonical_url", "left_anti")
        .count()
    )

    admit_urls(spark, crawled, d, EPOCH0, CFG)
    after = crawled.frontier.read(spark)
    assert after.count() == n_before + expected_new
    # frontier still keyed by canonical_url
    assert after.count() == after.select("canonical_url").distinct().count()
    # epoch counter untouched by admission
    assert crawled.completed_epochs() == 1

    # idempotent: second admit adds nothing
    admit_urls(spark, crawled, d, EPOCH0, CFG)
    assert crawled.frontier.read(spark).count() == n_before + expected_new


def _url_batch(spark, lo, hi, extra=()):
    urls = [f"https://h{i % 7}.pods.example/ep/{i}.mp3" for i in range(lo, hi)]
    urls.extend(extra)
    return spark.createDataFrame([(u,) for u in urls], "url string")


def test_admission_incremental_shards_equals_rebuild(spark, tmp_path_factory):
    """Three admission rounds through the PERSISTED shard index (bootstrap
    once, then incremental ``update_bloom_shards`` folds) admit exactly
    the frontier rows the plain anti-join on ``url_hash`` admits —
    including rounds whose batches overlap earlier admissions
    (true-positive maybes) — and each round after the first is a FOLD
    commit, never a rebuild."""
    state = run_crawl(
        spark,
        str(tmp_path_factory.mktemp("inc")),
        gen_seeds(spark, 40, partitions=2),
        gen_pages(spark, 40, partitions=2),
        gen_robots(spark, 40, partitions=2),
        epochs=1,
        epoch0=EPOCH0,
        cfg=CFG,
    )
    expected = state.frontier.read(spark)
    # round 2 re-offers round 1's URLs (maybes that ARE seen); round 3
    # mixes new URLs with round-1 stragglers
    batches = [
        _url_batch(spark, 0, 50),
        _url_batch(spark, 0, 80),
        _url_batch(spark, 70, 120, extra=["https://h1.pods.example/ep/3.mp3"]),
    ]
    for b in batches:
        admit_urls(spark, state, b, EPOCH0, CFG)
        # the reference: the batch's frontier rows anti-joined against
        # the previous expected frontier
        cand = frontier_rows(
            b.withColumn("priority", F.lit(ADMIT_PRIORITY)), EPOCH0, CFG
        )
        expected = expected.unionByName(
            cand.join(expected.select("url_hash"), "url_hash", "left_anti")
        )
        got, want = (
            sorted(f.collect(), key=lambda r: r.canonical_url)
            for f in (state.frontier.read(spark), expected)
        )
        assert got == want
    # shard-table lineage: 1 bootstrap + one fold per admission round
    metas = [
        state.seen_shards.manifest(s)["metrics"]
        for s in state.seen_shards.snapshot_ids()
    ]
    assert [m["op"] for m in metas] == [
        "seen_bootstrap", "seen_fold", "seen_fold", "seen_fold"
    ]
    # every fold records the bootstrap's layout
    layout = [(m["num_shards"], m["expected_keys"]) for m in metas]
    assert layout == [layout[0]] * 4
    assert layout[0][0] == CFG.num_partitions


def test_admission_shuffled_verify_matches_broadcast_verify(
    spark, tmp_path_factory, monkeypatch
):
    """Above VERIFY_BROADCAST_MAX_ROWS bloom maybes the exact verify is a
    shuffled anti-join.  With the bound at 0 every non-empty maybe set
    takes that branch; two admission rounds (new urls, then the same urls
    again, all maybes) leave the same frontier as the broadcast verify."""
    from podcast_crawler_spark.operators import seen
    from podcast_crawler_spark.plans.epoch import init_crawl

    seeds = gen_seeds(spark, 40, partitions=2)
    batch = _url_batch(spark, 0, 60)
    frontiers = []
    for bound in (seen.VERIFY_BROADCAST_MAX_ROWS, 0):
        monkeypatch.setattr(seen, "VERIFY_BROADCAST_MAX_ROWS", bound)
        root = str(tmp_path_factory.mktemp(f"verify{bound}"))
        state = init_crawl(spark, seeds, root, EPOCH0, CFG)
        for _ in range(2):
            admit_urls(spark, state, batch, EPOCH0, CFG)
        f = state.frontier.read(spark).drop("stages")
        frontiers.append(sorted(map(tuple, f.collect()), key=lambda r: r[0]))
    assert frontiers[1] == frontiers[0]
    assert len({r[1] for r in frontiers[0]}) == len(frontiers[0]) > 60


def test_admission_definite_new_never_scans_frontier(spark, tmp_path_factory):
    """O(new keys + S) admission: when the shard probe says definitely-new
    for every candidate, the admitted-set lineage contains NO scan of the
    frontier snapshot — the only frontier access is the final union for
    the commit.  (Bloom false positives add a narrow column-pruned verify
    pass; they never shuffle the frontier.)"""
    from podcast_crawler_spark.operators.seen import filter_unseen
    from podcast_crawler_spark.plans.epoch import seen_shards_current
    from podcast_crawler_spark.functions.urlfns import (
        canonicalize_url,
        url_hash,
    )

    root = str(tmp_path_factory.mktemp("plan"))
    state = run_crawl(
        spark,
        root,
        gen_seeds(spark, 30, partitions=2),
        gen_pages(spark, 30, partitions=2),
        gen_robots(spark, 30, partitions=2),
        epochs=1,
        epoch0=EPOCH0,
        cfg=CFG,
    )
    shards = seen_shards_current(spark, state, CFG)
    cand = (
        _url_batch(spark, 500, 540)
        .withColumn("canonical_url", canonicalize_url(F.col("url")))
        .withColumn("url_hash", url_hash(F.col("canonical_url")))
    )
    frontier = state.frontier.read(spark)
    fresh, probed = filter_unseen(
        cand, shards, frontier.select("url_hash"), "url_hash", CFG.num_partitions
    )
    try:
        plan = fresh._jdf.queryExecution().executedPlan().toString()
        # the frontier parquet lives under <root>/frontier/data/
        assert "frontier/data" not in plan
        assert fresh.count() == 40
    finally:
        probed.unpersist()


def test_admission_shard_count_pinned_across_reopen(spark, tmp_path_factory):
    """The seen index's shard count is part of its LAYOUT: reopening the
    crawl with a different cfg.num_partitions must keep probing/folding
    with the BOOTSTRAP-time count (persisted in the manifest), or the
    mis-sharded cogroup turns bloom false negatives into duplicate
    admissions.  Regression for the r3 advice item."""
    root = str(tmp_path_factory.mktemp("pin"))
    state = run_crawl(
        spark,
        root,
        gen_seeds(spark, 40, partitions=2),
        gen_pages(spark, 40, partitions=2),
        gen_robots(spark, 40, partitions=2),
        epochs=1,
        epoch0=EPOCH0,
        cfg=CFG,  # num_partitions=4 at bootstrap
    )
    # bootstrap the shard index + one fold under the original config
    admit_urls(spark, state, _url_batch(spark, 0, 60), EPOCH0, CFG)
    n_after_first = state.frontier.read(spark).count()
    boot_meta = state.seen_shards.manifest()["metrics"]
    assert boot_meta["num_shards"] == 4

    # "reopen" with a different partitioning: re-offer the SAME batch —
    # a correct probe admits nothing; a mis-sharded probe misses bits
    # and re-admits duplicates
    wide = CrawlConfig(per_host_budget=1000, max_retries=1, num_partitions=9)
    assert state.seen_shards.manifest()["metrics"]["num_shards"] == 4
    admit_urls(spark, state, _url_batch(spark, 0, 60), EPOCH0, wide)
    assert state.frontier.read(spark).count() == n_after_first
    # and the fold under the new cfg still records the pinned count
    assert state.seen_shards.manifest()["metrics"]["num_shards"] == 4
    # new keys still admitted normally under the reopened config
    admit_urls(spark, state, _url_batch(spark, 200, 230), EPOCH0, wide)
    f = state.frontier.read(spark)
    assert f.count() > n_after_first
    assert f.count() == f.select("canonical_url").distinct().count()


def test_fold_commits_before_frontier_commit(spark, tmp_path_factory):
    """Crash-safety order: the seen-shard fold must be committed BEFORE
    the frontier admission commit (bloom-extra bits are harmless false
    positives; missing bits are duplicate-admitting false negatives).
    Simulated by failing the frontier commit and checking the fold
    already landed."""
    root = str(tmp_path_factory.mktemp("order"))
    state = run_crawl(
        spark,
        root,
        gen_seeds(spark, 30, partitions=2),
        gen_pages(spark, 30, partitions=2),
        gen_robots(spark, 30, partitions=2),
        epochs=1,
        epoch0=EPOCH0,
        cfg=CFG,
    )
    admit_urls(spark, state, _url_batch(spark, 0, 20), EPOCH0, CFG)
    n_folds = sum(
        1
        for s in state.seen_shards.snapshot_ids()
        if (state.seen_shards.manifest(s).get("metrics") or {}).get("op")
        == "seen_fold"
    )
    frontier_snap = state.frontier.current_snapshot_id()

    orig = state.frontier.commit

    def exploding_commit(*a, **k):
        raise RuntimeError("injected crash before frontier commit")

    state.frontier.commit = exploding_commit
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            admit_urls(spark, state, _url_batch(spark, 300, 320), EPOCH0, CFG)
    finally:
        state.frontier.commit = orig
    # the fold landed even though the frontier commit did not …
    new_folds = sum(
        1
        for s in state.seen_shards.snapshot_ids()
        if (state.seen_shards.manifest(s).get("metrics") or {}).get("op")
        == "seen_fold"
    )
    assert new_folds == n_folds + 1
    assert state.frontier.current_snapshot_id() == frontier_snap
    # … and the retry admits the batch exactly once (extra bloom bits are
    # resolved by the exact verify, no duplicates, nothing lost)
    before = state.frontier.read(spark).count()
    admit_urls(spark, state, _url_batch(spark, 300, 320), EPOCH0, CFG)
    f = state.frontier.read(spark)
    assert f.count() == before + 20
    assert f.count() == f.select("canonical_url").distinct().count()


def test_admitted_urls_schedule_after_seeds(spark, crawled):
    """Discovered URLs carry low priority: within a host, seeds rank
    before discovered rows in the politeness queue."""
    from podcast_crawler_spark.operators.frontier import schedule_epoch

    robots = gen_robots(spark, N, partitions=2)
    frontier = crawled.frontier.read(spark)
    # force everything due now
    due = frontier.withColumn("next_fetch_ts", F.lit(EPOCH0).cast("timestamp")).withColumn(
        "state", F.lit("pending")
    )
    sched = schedule_epoch(due, robots, EPOCH0, CFG)
    joined = sched.select("url", "host", "host_seq", "priority")
    per_host = joined.groupBy("host").agg(
        F.min(F.when(F.col("priority") >= 1_000_000, F.col("host_seq"))).alias(
            "first_disc"
        ),
        F.max(F.when(F.col("priority") < 1_000_000, F.col("host_seq"))).alias(
            "last_seed"
        ),
    )
    bad = per_host.filter(
        F.col("first_disc").isNotNull()
        & F.col("last_seed").isNotNull()
        & (F.col("first_disc") < F.col("last_seed"))
    )
    assert bad.count() == 0
