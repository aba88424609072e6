"""Physical-plan quality gates: the optimizations we rely on at 100 TB
must actually appear in the executed plans — predicate pushdown into the
parquet scan, column pruning, broadcast joins for small dims, and the
broadcast of epoch outcomes into the frontier-update join.

These tests read the executed plan string; they fail if a future change
silently regresses the plan (e.g. a UDF blocks pushdown, or a join side
stops broadcasting)."""

import os
import re

import pytest

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") <= "2000-09-02").groupBy("l_returnflag").count()
    p = plan_of(q)
    assert "PushedFilters" in p
    assert "l_shipdate" in p.split("PushedFilters")[1][:200], p


def test_column_pruning_reaches_scan(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.select("l_returnflag", "l_quantity").groupBy("l_returnflag").agg(
        F.sum("l_quantity")
    )
    p = plan_of(q)
    # the scan's ReadSchema must not include unrelated wide columns
    read_schema = p.split("ReadSchema")[1][:300]
    assert "l_extendedprice" not in read_schema
    assert "l_returnflag" in read_schema and "l_quantity" in read_schema


def test_small_dim_join_broadcasts(spark):
    c = spark.read.parquet(f"{SF}/customer.parquet")
    n = spark.read.parquet(f"{SF}/nation.parquet")
    q = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).groupBy("n_name").count()
    assert "BroadcastHashJoin" in plan_of(q)


def test_anti_join_strategy(spark):
    c = spark.read.parquet(f"{SF}/customer.parquet")
    o = spark.read.parquet(f"{SF}/orders.parquet")
    q = c.join(o.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti")
    assert "LeftAnti" in plan_of(q)


def test_seed_scan_prunes_columns(spark):
    """S1 reads only rank + links from the seeds table (the reference
    selects only the links column, podcast_rank_repository.rs:82)."""
    from podcast_crawler_spark.operators.frontier import seed_scan
    from podcast_crawler_spark.sources.pagesgen import gen_seeds
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        gen_seeds(spark, 50, partitions=2).write.parquet(f"{d}/seeds")
        seeds = spark.read.parquet(f"{d}/seeds")
        p = plan_of(seed_scan(seeds))
        read_schema = p.split("ReadSchema")[1][:300]
        assert "links" in read_schema and "rank" in read_schema
        assert "name" not in read_schema.replace("name:string", "")  # struct field ok
        assert "primary_genre_name" not in read_schema


def test_politeness_window_single_shuffle(spark):
    """The politeness priority queue costs exactly one exchange (hash by
    host_hash) — no extra sort/shuffle beyond the window's own, and none
    for the robots join."""
    from podcast_crawler_spark.operators.frontier import (
        CrawlConfig,
        build_frontier,
        schedule_epoch,
    )
    from podcast_crawler_spark.operators.robots import agent_rules
    from podcast_crawler_spark.sources.pagesgen import (
        EPOCH0,
        gen_robots,
        gen_seeds,
    )

    cfg = CrawlConfig(num_partitions=4, per_host_budget=10**9)
    seeds = gen_seeds(spark, 50, partitions=2)
    frontier = build_frontier(seeds, EPOCH0, cfg)
    robots = gen_robots(spark, 50, partitions=2)
    sched = schedule_epoch(frontier, robots, EPOCH0, cfg)
    p = plan_of(sched)
    # robots join must broadcast (never shuffles the frontier)
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    # single-phase: exactly one hashpartitioning exchange for the window
    assert p.count("Exchange hashpartitioning(host_hash") == 1, p

    # two-phase skew-safe selection (default budget): exactly two bounded
    # exchanges — the salted pre-rank plus the final per-host rank
    p2 = plan_of(
        schedule_epoch(frontier, robots, EPOCH0, CrawlConfig(num_partitions=4))
    )
    assert p2.count("Exchange hashpartitioning(host_hash") == 2, p2
    assert "pmod(xxhash64(url" in p2, p2

    # with materialized inputs (the frontier is a snapshot scan, and
    # run_crawl resolves and materializes the robots table once per crawl)
    # the window's exchanges are the plan's only shuffles: the robots
    # join adds none
    frontier_m = frontier.localCheckpoint()
    robots_m = agent_rules(robots).localCheckpoint()
    for c in (cfg, CrawlConfig(num_partitions=4)):
        pm = plan_of(schedule_epoch(frontier_m, robots_m, EPOCH0, c))
        shuffles = re.findall(r"(?<!Broadcast)Exchange (\w+\(\w+)", pm)
        assert set(shuffles) == {"hashpartitioning(host_hash"}, pm


def test_frontier_update_broadcasts_outcomes(spark, tmp_path):
    """run_epoch's frontier-update join must broadcast the (small) epoch
    outcome set rather than shuffling the frontier."""
    from podcast_crawler_spark.operators.frontier import CrawlConfig
    from podcast_crawler_spark.plans.epoch import run_crawl
    from podcast_crawler_spark.sources.pagesgen import (
        EPOCH0,
        gen_pages,
        gen_robots,
        gen_seeds,
    )

    cfg = CrawlConfig(per_host_budget=1000, num_partitions=4)
    state = run_crawl(
        spark,
        str(tmp_path / "state"),
        gen_seeds(spark, 40, partitions=2),
        gen_pages(spark, 40, partitions=2),
        gen_robots(spark, 40, partitions=2),
        epochs=1,
        epoch0=EPOCH0,
        cfg=cfg,
    )
    # witnessed indirectly: epoch completed with the broadcast path (total
    # well under the threshold) — and the frontier table is intact
    f = state.frontier.read(spark)
    assert f.count() == f.select("url_hash").distinct().count()


def _assert_manifest_files(table, man, rows_key="row_count"):
    """Per-file lineage agrees with the manifest and the disk: file rows
    sum to *rows_key*, every listed file exists with its recorded bytes,
    and the tmp+rename left no ``.tmp`` behind in ``_snapshots/``."""
    assert sum(f["rows"] for f in man["files"]) == man[rows_key]
    for f in man["files"]:
        p = os.path.join(man["data_dir"], f["file"])
        assert os.path.getsize(p) == f["bytes"], p
    assert not [n for n in os.listdir(table.snap_dir) if n.endswith(".tmp")]


def test_commit_local_driver_side_snapshots(spark, tmp_path):
    """SnapshotTable.commit_local: pyarrow-only commits (no Spark job) with
    append-carry semantics, readable by Spark, time-travelable."""
    import pyarrow as pa

    from podcast_crawler_spark.plans.checkpoint import SnapshotTable

    t = SnapshotTable(str(tmp_path / "wh"), "metrics")
    schema = pa.schema([pa.field("epoch", pa.int32()), pa.field("n", pa.int64())])
    s1 = t.commit_local([{"epoch": 1, "n": 10}], schema, metrics={"epoch": 1})
    s2 = t.commit_local([{"n": 20, "epoch": 2}], schema, metrics={"epoch": 2})
    assert (s1, s2) == (1, 2)
    # snapshot 2 carries snapshot 1's rows (append-only table semantics)
    assert {(r.epoch, r.n) for r in t.read(spark).collect()} == {(1, 10), (2, 20)}
    # time travel to snapshot 1
    assert [(r.epoch, r.n) for r in t.read(spark, snapshot_id=1).collect()] == [
        (1, 10)
    ]
    assert t.manifest()["parent_id"] == 1
    for sid in (s1, s2):
        _assert_manifest_files(t, t.manifest(sid))
    assert t.manifest(s2)["row_count"] == 2


@pytest.mark.parametrize("writer", ["commit", "commit_delta", "commit_local"])
def test_racing_writer_refused_at_publish(spark, tmp_path, monkeypatch, writer):
    """Single writer per table: when another writer's snapshot lands while
    a commit is writing its data, the commit raises at publish instead of
    renaming its manifest over that snapshot, and its data write leaves
    the published snapshot's files alone."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.readwriter import DataFrameWriter

    from podcast_crawler_spark.plans.checkpoint import SnapshotTable

    root = str(tmp_path / "wh")
    schema = pa.schema([pa.field("k", pa.int64()), pa.field("ts", pa.int64())])

    def commit(table, k, marker):
        m = {"writer": marker}
        if writer == "commit_local":
            return table.commit_local([{"k": k, "ts": k}], schema, metrics=m)
        df = spark.createDataFrame([(k, k)], "k long, ts long")
        if writer == "commit_delta":
            return table.commit_delta(df, "k", "ts", metrics=m)
        return table.commit(df, metrics=m)

    t = SnapshotTable(root, "t")
    commit(t, 1, "base")
    if writer == "commit_local":
        patched = (pq, "write_table")
    else:
        patched = (DataFrameWriter, "parquet")
    write = getattr(*patched)
    raced = []

    def racing_write(*a, **kw):
        # unpatch, then the other writer commits before this write runs
        monkeypatch.setattr(*patched, write)
        raced.append(commit(SnapshotTable(root, "t"), 2, "other"))
        return write(*a, **kw)

    monkeypatch.setattr(*patched, racing_write)
    with pytest.raises(RuntimeError, match="committed since prepare"):
        commit(t, 3, "loser")
    assert raced == [2]
    assert t.snapshot_ids() == [1, 2]
    assert t.manifest()["metrics"] == {"writer": "other"}
    assert not [n for n in os.listdir(t.snap_dir) if n.endswith(".tmp")]
    # the loser wrote only its own data dir: snapshot 2's files are all
    # there and read back the winner's row, not the loser's
    rows_key = "delta_rows" if writer == "commit_delta" else "row_count"
    _assert_manifest_files(t, t.manifest(2), rows_key)
    keys = {r.k for r in t.read(spark).collect()}
    assert 2 in keys and 3 not in keys


def test_delta_commit_merge_on_read(spark, tmp_path):
    """commit_delta: read resolves LWW across segments, equal to the
    copy-on-write upsert result; compaction materializes the same rows;
    time travel still sees the pre-delta state."""
    from podcast_crawler_spark.plans.checkpoint import SnapshotTable

    t = SnapshotTable(str(tmp_path / "wh"), "eps")
    base = spark.createDataFrame(
        [("g1", "old1", 1), ("g2", "old2", 1), ("g3", "old3", 1)],
        "guid string, title string, _epoch int",
    )
    s1 = t.commit(base)
    _assert_manifest_files(t, t.manifest(s1))
    assert t.manifest(s1)["row_count"] == 3
    delta = spark.createDataFrame(
        [("g2", "new2", 2), ("g4", "new4", 2)],
        "guid string, title string, _epoch int",
    )
    s2 = t.commit_delta(delta, "guid", "_epoch")
    want = {("g1", "old1"), ("g2", "new2"), ("g3", "old3"), ("g4", "new4")}
    got = {(r.guid, r.title) for r in t.read(spark).collect()}
    assert got == want
    # delta snapshot wrote only the delta rows; row_count stays the raw
    # total across segments
    assert t.manifest(s2)["delta_rows"] == 2
    assert t.manifest(s2)["row_count"] == 5
    _assert_manifest_files(t, t.manifest(s2), rows_key="delta_rows")
    assert t.num_segments() == 2
    # time travel to the base snapshot
    assert {(r.guid, r.title) for r in t.read(spark, snapshot_id=1).collect()} == {
        ("g1", "old1"), ("g2", "old2"), ("g3", "old3")
    }
    # compaction: single segment, same resolved rows
    s3 = t.compact(spark)
    assert t.num_segments() == 1
    assert {(r.guid, r.title) for r in t.read(spark).collect()} == want
    _assert_manifest_files(t, t.manifest(s3))
    assert t.manifest(s3)["row_count"] == 4


def test_epoch_delta_commits_and_empty_skip(spark, tmp_path):
    """Steady state: a second epoch with nothing newly parsed commits NO
    podcast/episode snapshots (empty-delta skip), and a re-crawl epoch
    commits only a delta segment."""
    from podcast_crawler_spark.operators.frontier import CrawlConfig
    from podcast_crawler_spark.plans.epoch import run_crawl
    from podcast_crawler_spark.sources.pagesgen import (
        EPOCH0,
        gen_pages,
        gen_robots,
        gen_seeds,
    )

    n = 80
    cfg = CrawlConfig(per_host_budget=1000, max_retries=0, num_partitions=4)
    seeds = gen_seeds(spark, n, partitions=2)
    pages = gen_pages(spark, n, partitions=2)
    robots = gen_robots(spark, n, partitions=2)
    state = run_crawl(
        spark, str(tmp_path / "st"), seeds, pages, robots, 2, EPOCH0, cfg=cfg
    )
    # epoch 2 schedules nothing new (interval not elapsed, retries
    # exhausted at max_retries=0) → no new output snapshots
    assert state.podcasts.current_snapshot_id() == 1
    assert state.episodes.current_snapshot_id() == 1
    # epoch 3 at +interval re-crawls everything → ONE delta segment each
    run_crawl(
        spark, str(tmp_path / "st"), seeds, pages, robots, 3, EPOCH0,
        epoch_interval_s=cfg.fetch_interval_s, cfg=cfg,
    )
    assert state.podcasts.num_segments() == 2
    man = state.episodes.manifest()
    assert man["resolve"] == {"key": "guid", "order_col": "_epoch"}
    # resolved view keeps one row per guid (LWW with the epoch-3 rows)
    eps = state.episodes.read(spark)
    assert eps.count() == eps.select("guid").distinct().count()
    assert eps.filter(F.col("_epoch") == 3).count() == eps.count()


def test_auto_compaction_bounds_segments(spark, tmp_path):
    """A long crawl with re-crawl every epoch accumulates delta segments;
    auto-compaction at cfg.compact_segments keeps the count bounded and
    the resolved view correct."""
    from podcast_crawler_spark.operators.frontier import CrawlConfig
    from podcast_crawler_spark.plans.epoch import run_crawl
    from podcast_crawler_spark.sources.pagesgen import (
        EPOCH0,
        gen_pages,
        gen_robots,
        gen_seeds,
    )

    n = 40
    cfg = CrawlConfig(
        per_host_budget=1000, max_retries=0, num_partitions=4,
        compact_segments=3,
    )
    seeds = gen_seeds(spark, n, partitions=2)
    pages = gen_pages(spark, n, partitions=2)
    robots = gen_robots(spark, n, partitions=2)
    # epoch interval == fetch interval → every epoch re-crawls everything
    state = run_crawl(
        spark, str(tmp_path / "st"), seeds, pages, robots, 7, EPOCH0,
        epoch_interval_s=cfg.fetch_interval_s, cfg=cfg,
    )
    assert state.episodes.num_segments() <= cfg.compact_segments
    eps = state.episodes.read(spark)
    assert eps.count() == eps.select("guid").distinct().count()
    # every surviving row carries the newest epoch's stamp
    assert eps.filter(F.col("_epoch") == 7).count() == eps.count()
    # compaction events are recorded in the manifest history
    ops = [
        (state.episodes.manifest(i) or {}).get("metrics", {}).get("op")
        for i in state.episodes.snapshot_ids()
    ]
    assert "compact" in ops


def test_page_slice_no_global_window_over_scan(spark):
    """W1 pagination must not funnel the whole table through one task: the
    plan's sort is a TakeOrderedAndProject (per-partition top-k + bounded
    merge), and the single-partition row_number window runs only over the
    already-limited page*per_page rows."""
    from podcast_crawler_spark.api.queries import page_slice

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    q = page_slice(orders, [F.col("o_orderkey")], page=3, per_page=20)
    p = plan_of(q)
    assert "TakeOrderedAndProject" in p
    # the window's child must be the limited slice, not the raw scan:
    # TakeOrderedAndProject appears below the Window node in the tree
    assert p.index("Window") < p.index("TakeOrderedAndProject")
    # correctness: identical to the global-window formulation
    from pyspark.sql import Window

    w = Window.orderBy("o_orderkey")
    ref = (
        orders.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") > 40) & (F.col("_rn") <= 60))
        .drop("_rn")
    )
    assert sorted(r.o_orderkey for r in q.collect()) == sorted(
        r.o_orderkey for r in ref.collect()
    )
    # deep offsets refuse rather than silently instantiating a global sort
    with pytest.raises(ValueError):
        page_slice(orders, [F.col("o_orderkey")], page=10**7, per_page=100)


def test_bucketed_fetch_join_no_pages_exchange(spark, tmp_path):
    """Production J3 contract: with the pages table bucketed by url, the
    fetch join reads html in place — the plan has NO Exchange above the
    bucketed pages scan (only the narrow scheduled side shuffles), and
    the result equals the plain shuffled join.  The same files
    re-attached through ``register_bucketed_pages`` (as a new session
    does) read as ``PAGES_SCHEMA`` with the same bucket spec."""
    from podcast_crawler_spark.functions.schemas import PAGES_SCHEMA
    from podcast_crawler_spark.operators.frontier import (
        CrawlConfig,
        build_frontier,
        fetch_join,
        schedule_epoch,
    )
    from podcast_crawler_spark.sources.bucketed import (
        fetch_join_bucketed,
        register_bucketed_pages,
        write_bucketed_pages,
    )
    from podcast_crawler_spark.sources.pagesgen import (
        EPOCH0,
        gen_pages,
        gen_robots,
        gen_seeds,
    )

    n = 120
    cfg = CrawlConfig(per_host_budget=100, num_partitions=4)
    pages = gen_pages(spark, n, partitions=4)
    sched = schedule_epoch(
        build_frontier(gen_seeds(spark, n, partitions=4), EPOCH0, cfg),
        gen_robots(spark, n),
        EPOCH0,
        cfg,
    ).cache()
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the sort-merge path: with a broadcastable probe side the
        # planner broadcasts instead (also zero pages exchange, but then
        # the bucketed layout isn't what's being exercised)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        write_bucketed_pages(pages, "pages_bucketed_t", buckets=8)
        joined = fetch_join_bucketed(sched, spark, "pages_bucketed_t")
        plan = plan_of(joined)
        # the bucketed scan appears with its bucket spec and no shuffle:
        # Exchange nodes in the plan must all be on the scheduled side,
        # i.e. below the join's left leg — assert none mention the pages
        # table's output partitioning being re-established
        assert "SelectedBucketsCount: 8 out of 8" in plan
        # the pages leg reads bucketed files in place: the scan's direct
        # ancestors (the lines printed immediately above it in the tree)
        # are Sort/Filter only — NO Exchange between join and pages scan
        lines = plan.splitlines()
        scan_idx = next(
            i for i, l in enumerate(lines) if "pages_bucketed_t" in l
        )
        ancestry = "\n".join(lines[max(0, scan_idx - 3):scan_idx])
        assert "Exchange" not in ancestry, ancestry
        cols = ["url", "url_hash", "fetch_ok"]
        got = {tuple(r) for r in joined.select(*cols).collect()}
        want = {
            tuple(r) for r in fetch_join(sched, pages).select(*cols).collect()
        }
        assert got == want
        wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        register_bucketed_pages(
            spark, os.path.join(wh, "pages_bucketed_t"), "pages_bucketed_r", 8
        )
        schema = spark.table("pages_bucketed_r").schema
        assert [(f.name, f.dataType) for f in schema] == [
            (f.name, f.dataType) for f in PAGES_SCHEMA
        ]
        reattached = fetch_join_bucketed(sched, spark, "pages_bucketed_r")
        assert "SelectedBucketsCount: 8 out of 8" in plan_of(reattached)
        assert {tuple(r) for r in reattached.select(*cols).collect()} == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        # the re-attached table is external: dropping it keeps the files
        spark.sql("drop table if exists pages_bucketed_r")
        spark.sql("drop table if exists pages_bucketed_t")


def test_delta_schema_evolution_merges(spark, tmp_path):
    """Merge-on-read schema evolution: a delta segment adding a column
    reads merged (older rows null in the new column) and LWW still
    resolves per key — Iceberg add-column semantics."""
    from podcast_crawler_spark.plans.checkpoint import SnapshotTable

    t = SnapshotTable(str(tmp_path), "evo")
    v1 = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1)], "k long, v string, _epoch int"
    )
    t.commit(v1)
    v2 = spark.createDataFrame(
        [(2, "b2", "extra", 2), (3, "c", "x", 2)],
        "k long, v string, newcol string, _epoch int",
    )
    t.commit_delta(v2, "k", "_epoch")
    got = {
        (r.k, r.v, r.newcol)
        for r in t.read(spark).select("k", "v", "newcol").collect()
    }
    assert got == {(1, "a", None), (2, "b2", "extra"), (3, "c", "x")}


def test_z_order_key_bit_interleave(spark):
    """Morton key matches the python bit-interleave spec, including the
    locality property that makes it a layout key."""
    from podcast_crawler_spark.sources.bucketed import z_order_key

    def py_z(a, b, bits=16):
        z = 0
        for i in range(bits):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    rows = [(a, b) for a in (0, 1, 2, 3, 255, 65535)
            for b in (0, 1, 2, 3, 255, 65535)]
    df = spark.createDataFrame(rows, "a long, b long")
    got = df.select(
        "a", "b", z_order_key("a", "b").alias("z")
    ).collect()
    for r in got:
        assert r.z == py_z(r.a, r.b), (r.a, r.b)
    # locality: the max interleave is the all-ones 32-bit word
    assert py_z(65535, 65535) == (1 << 32) - 1


def test_z_order_key_codegen_no_udf(spark):
    from podcast_crawler_spark.sources.bucketed import z_order_key

    df = spark.createDataFrame([(1, 2)], "a long, b long")
    plan = (
        df.select(z_order_key("a", "b").alias("z"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Python" not in plan and "Exchange" not in plan, plan


def test_compaction_plan_packing_invariants(spark):
    """Bin-packing rule: within a partition the exclusive prefix sum
    drives the assignment, so every output file except the partition's
    last holds >= target bytes, outputs are contiguous in file order,
    and the mapping is reproducible from the listing alone."""
    from podcast_crawler_spark.plans.checkpoint import compaction_plan

    target = 10_000
    rows = [
        (p, f, sz)
        for p in range(3)
        for f, sz in enumerate([3000, 4000, 5000, 2000, 9000, 600, 7000])
    ]
    files = spark.createDataFrame(rows, "part long, file_id long, bytes long")
    out = compaction_plan(files, target_bytes=target).collect()

    by_part = {}
    for r in out:
        by_part.setdefault(r.part, []).append(r)
    for p, rs in by_part.items():
        rs.sort(key=lambda r: r.file_id)
        # prefix-sum correctness
        run = 0
        for r in rs:
            assert r.start_offset == run
            assert r.target_file == run // target
            run += r.bytes
        # every output except the last is >= target (a file straddles
        # the boundary into the next output, never leaves a short one)
        sizes = {}
        for r in rs:
            sizes[r.target_file] = sizes.get(r.target_file, 0) + r.bytes
        last = max(sizes)
        for tf, sz in sizes.items():
            if tf != last:
                assert sz >= target, (p, tf, sz)
        # contiguity: target_file is non-decreasing in file order
        tfs = [r.target_file for r in rs]
        assert tfs == sorted(tfs)


def test_compaction_plan_one_exchange(spark):
    """ONE hash exchange keyed by the table partition; no global sort,
    no Python in the plan."""
    from podcast_crawler_spark.plans.checkpoint import compaction_plan

    files = spark.createDataFrame(
        [(0, 1, 100)], "part long, file_id long, bytes long"
    )
    p = (
        compaction_plan(files)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert p.count("Exchange") == 1, p
    assert "hashpartitioning(part" in p, p
    assert "Python" not in p, p


def test_snapshot_expire_reachability(spark, tmp_path):
    """expire() drops old manifests but deletes ONLY segments no kept
    snapshot references: merge-on-read lineage keeps every live delta
    segment; after compact() the old segments become orphans and go."""
    import os

    from podcast_crawler_spark.plans.checkpoint import SnapshotTable

    t = SnapshotTable(str(tmp_path), "t")
    base = spark.createDataFrame([(1, "a", 1)], "k long, v string, ts long")
    t.commit_delta(base, key="k", order_col="ts")
    for i in range(2, 5):
        t.commit_delta(
            spark.createDataFrame([(i, "v", i)], "k long, v string, ts long"),
            key="k",
            order_col="ts",
        )
    assert t.snapshot_ids() == [1, 2, 3, 4]
    dirs = {sid: t.manifest(sid)["data_dir"] for sid in t.snapshot_ids()}
    res = t.expire(retain_last=2)
    assert res["expired"] == [1, 2]
    # MOR: snapshot 3/4 still read segments 1..4 -> nothing deleted
    assert res["deleted_dirs"] == []
    assert t.snapshot_ids() == [3, 4]
    for sid in (1, 2, 3, 4):
        assert os.path.isdir(dirs[sid])
    # time travel to an expired id fails loudly
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        t.manifest(1)
    # full read still resolves all four keys through the kept lineage
    assert t.read(spark).count() == 4
    # compact rewrites to one segment; a second expire collects the orphans
    t.compact(spark)
    res2 = t.expire(retain_last=1)
    deleted = set(res2["deleted_dirs"])
    assert deleted == {dirs[1], dirs[2], dirs[3], dirs[4]}
    assert t.read(spark).count() == 4
    # a refused attempt's dir is collected once a snapshot at or above its
    # id is published; before that it may be a write in flight
    staged = t.prepare(base)
    assert t.expire(retain_last=1)["deleted_dirs"] == []
    t.commit_delta(
        spark.createDataFrame([(6, "v", 6)], "k long, v string, ts long"),
        key="k",
        order_col="ts",
    )
    with _pytest.raises(RuntimeError, match="committed since prepare"):
        t.publish(staged)
    assert t.expire(retain_last=1)["deleted_dirs"] == [staged["data_dir"]]
    assert t.read(spark).count() == 5


def test_snapshot_expiry_plan_matches_driver_action(spark, tmp_path):
    """the DataFrame planner and the driver-side expire() agree on
    segment deletability for the same log."""
    from podcast_crawler_spark.plans.checkpoint import (
        SnapshotTable,
        snapshot_expiry_plan,
    )

    t = SnapshotTable(str(tmp_path), "t")
    for i in range(1, 6):
        t.commit_delta(
            spark.createDataFrame([(i, i)], "k long, ts long"),
            key="k",
            order_col="ts",
        )
    t.compact(spark)  # snapshot 6 references only its own segment
    snaps = spark.createDataFrame(
        [(sid, t.manifest(sid)["committed_at_unix"]) for sid in t.snapshot_ids()],
        "snapshot_id long, committed_ts double",
    )
    def _segs(sid):
        man = t.manifest(sid)
        return man.get("segments") or [man["data_dir"]]

    refs = spark.createDataFrame(
        [(sid, seg) for sid in t.snapshot_ids() for seg in _segs(sid)],
        "snapshot_id long, segment string",
    )
    plan = {
        r.segment: r.deletable
        for r in snapshot_expiry_plan(
            snaps, refs, retain_last=1, max_age_s=0, now_ts=int(2**62)
        ).collect()
    }
    res = t.expire(retain_last=1)
    for seg, deletable in plan.items():
        assert (seg in res["deleted_dirs"]) == deletable, seg


def test_winnow_and_cdc_zero_exchange(spark):
    """Winnowing fingerprints and CDC chunking are pure map-side array
    pipelines: no Exchange anywhere — the text never leaves the
    partition that scanned it."""
    from podcast_crawler_spark.operators.dedup import cdc_chunks
    from podcast_crawler_spark.operators.textstats import (
        winnow_fingerprints,
    )

    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j k l")], "doc_id long, text string"
    )
    for out in (winnow_fingerprints(df), cdc_chunks(df)):
        p = plan_of(out)
        assert "Exchange" not in p, p


def test_winnow_gram_array_materialized_once(spark):
    """The gram md5 array must appear ONCE in the optimized plan (its
    own projection), not inlined into every window lambda — inlining is
    the O(n²·w) re-evaluation blowup (measured minutes at sf0.01)."""
    from podcast_crawler_spark.operators.textstats import (
        winnow_fingerprints,
    )

    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j k l")], "doc_id long, text string"
    )
    p = optimized_of(winnow_fingerprints(df))
    assert p.count("lambdafunction(md5") == 1, p


def test_consistent_assign_broadcast_only(spark):
    """Ring placement joins the tiny bucket table broadcast — the keys
    themselves are never shuffled."""
    from podcast_crawler_spark.operators.placement import consistent_assign

    df = spark.createDataFrame([(f"h{i}",) for i in range(50)], "host string")
    p = plan_of(consistent_assign(df, ["a", "b", "c"], vnodes=8))
    assert "BroadcastHashJoin" in p, p
    assert "Exchange hashpartitioning" not in p, p


def test_mirror_hosts_payload_pruned_at_scan(spark, tmp_path):
    """Column pruning reaches the scan: the mirror join reads only
    (host, digest) from storage — payload columns never enter the plan,
    so nothing heavier than a 16-byte digest can cross its shuffles."""
    from podcast_crawler_spark.operators.traps import mirror_hosts

    path = str(tmp_path / "hd")
    spark.createDataFrame(
        [("h1", "d1", "PAYLOAD" * 100)],
        "host string, digest string, blob string",
    ).write.parquet(path)
    p = plan_of(mirror_hosts(spark.read.parquet(path)))
    assert "blob" not in p, p


def test_chunk_documents_zero_exchange(spark):
    """Chunking is pure map-side: tokenize → window starts → explode —
    no exchange anywhere; digests are computed before any shuffle
    could exist."""
    from podcast_crawler_spark.operators.curation import chunk_documents

    df = spark.createDataFrame(
        [(1, "a b c d e f")], "id long, text string"
    )
    p = plan_of(chunk_documents(df, chunk_tokens=4, overlap=2,
                                id_col="id"))
    assert "Exchange" not in p, p


def test_byte_budget_single_host_exchange(spark):
    """The cumulative-bytes window is the only exchange, keyed by host
    — the same key as the politeness queue, so composition reuses the
    partitioning."""
    from podcast_crawler_spark.operators.frontier import (
        byte_budget_schedule,
    )

    df = spark.createDataFrame(
        [("h", "u", 0, 10)],
        "host string, url string, priority long, est_bytes long",
    )
    p = plan_of(byte_budget_schedule(df, per_host_bytes=100))
    assert p.count("Exchange") == 1, p
    assert "hashpartitioning(host" in p, p


def test_ip_politeness_broadcast_dim_and_no_corpus_join(spark):
    """The resolver dim reaches the urls via broadcast (the corpus
    never shuffles to learn its queue), and accounting joins are
    aggregate-to-aggregate."""
    from pyspark.sql import functions as F

    from podcast_crawler_spark.operators.frontier import ip_politeness

    urls = spark.range(200).select(
        F.concat(F.lit("h"), (F.col("id") % 10).cast("string")).alias(
            "host"
        ),
        F.concat(F.lit("https://x/"), F.col("id")).alias("url"),
    )
    hostmap = spark.createDataFrame(
        [("h1", "10.0.0.1")], "host string, ip string"
    )
    out = ip_politeness(urls, hostmap, per_queue_budget=3)
    out.collect()
    p = plan_of(out).split("Initial Plan")[0]
    assert "BroadcastHashJoin" in p, p


def test_jl_project_map_side_codegen(spark):
    """The projection is one WholeStageCodegen select over the scan —
    no exchange, no Python."""
    from podcast_crawler_spark.operators.similarity import jl_project

    emb = spark.createDataFrame(
        [(1, [float(i) for i in range(8)])],
        "vec_id long, embedding array<float>",
    )
    p = plan_of(jl_project(emb, in_dim=8, out_dim=4))
    assert "Exchange" not in p, p
    assert "Python" not in p, p


def test_rewrite_bins_invariants(spark):
    """Table-wide rewrite planner: big files pass through unbinned;
    small files cut largest-first at running-volume boundaries; per-bin
    rollups match a python replay of the same rule."""
    from podcast_crawler_spark.sources.bucketed import rewrite_bins

    target = 10_000
    sizes = [12_000, 9_500, 9_000, 4_000, 3_500, 3_000, 800, 700, 50,
             10_000, 6_000]
    files = [(f"f{i:02d}", s) for i, s in enumerate(sizes)]
    df = spark.createDataFrame(files, "file_id string, bytes long")
    rows = {r.file_id: r for r in rewrite_bins(df, target).collect()}

    # python replay: exclusive cumsum over (bytes desc, file_id) div target
    small = sorted(
        (f for f in files if f[1] < target), key=lambda t: (-t[1], t[0])
    )
    run, want_bin = 0, {}
    for fid, sz in small:
        want_bin[fid] = run // target
        run += sz
    for fid, sz in files:
        r = rows[fid]
        assert r.bytes == sz
        if sz >= target:
            assert r.bin is None and r.bin_files is None
        else:
            assert r.bin == want_bin[fid], fid
    # rollups: bin_bytes/bin_files consistent within each bin
    agg = {}
    for fid, b in want_bin.items():
        n, s = agg.get(b, (0, 0))
        agg[b] = (n + 1, s + dict(files)[fid])
    for fid, b in want_bin.items():
        assert (rows[fid].bin_files, rows[fid].bin_bytes) == agg[b]
    # every bin except the last holds >= target - max_small_file bytes
    last = max(agg)
    for b, (_, s) in agg.items():
        if b != last:
            assert s >= target - max(sz for _, sz in small)


def test_rewrite_bins_oracle_replays(spark):
    import duckdb

    from podcast_crawler_spark.sources.bucketed import (
        rewrite_bins,
        rewrite_bins_oracle_sql,
    )

    files = [(f"f{i:02d}", (i * 797) % 3000 + 100) for i in range(40)]
    df = spark.createDataFrame(files, "file_id string, bytes long")
    got = sorted(tuple(r) for r in rewrite_bins(df, 2_000).collect())
    con = duckdb.connect()
    con.execute("create table fl(file_id varchar, bytes bigint)")
    con.executemany("insert into fl values (?, ?)", files)
    want = sorted(
        tuple(r)
        for r in con.sql(
            rewrite_bins_oracle_sql("select * from fl", 2_000)
        ).fetchall()
    )
    assert got == want
