"""Structured Streaming tests: foreachBatch epoch loop, watermarked
windowed metrics, and the applyInPandasWithState politeness rate limiter
(checked against a straight-line token-bucket oracle across batches)."""

import os
import shutil

import pytest

from pyspark.sql import functions as F

from podcast_crawler_spark.functions.schemas import FRONTIER_SCHEMA
from podcast_crawler_spark.operators.frontier import CrawlConfig
from podcast_crawler_spark.plans.epoch import (
    CrawlState,
    admit_urls,
    seen_shards_current,
)
from podcast_crawler_spark.sources.pagesgen import (
    EPOCH0,
    gen_pages,
    gen_robots,
    gen_seeds,
)
from podcast_crawler_spark.streaming import (
    politeness_rate_limiter,
    run_crawl_stream,
    stage_metrics_stream,
)

N = 60
CFG = CrawlConfig(per_host_budget=1000, max_retries=1, num_partitions=4)


def drop_batch(df, tmp_path, stream_dir, name):
    """File-stream sources list plain files, not nested dataset dirs —
    stage the write, then copy the part files in flat."""
    stage = str(tmp_path / f"_stage_{name}")
    df.repartition(1).write.mode("overwrite").parquet(stage)
    os.makedirs(stream_dir, exist_ok=True)
    i = 0
    for f in sorted(os.listdir(stage)):
        if f.endswith(".parquet"):
            shutil.copy(
                os.path.join(stage, f),
                os.path.join(stream_dir, f"{name}-{i}.parquet"),
            )
            i += 1


def test_crawl_stream_foreachbatch(spark, tmp_path):
    """Two seed-batch files → two micro-batches → frontier admission +
    one epoch each; final tables match a plain batch run's semantics."""
    stream_dir = str(tmp_path / "seeds_stream")
    os.makedirs(stream_dir)
    state_dir = str(tmp_path / "state")
    seeds = gen_seeds(spark, N, partitions=2).cache()
    pages = gen_pages(spark, N, partitions=2)
    robots = gen_robots(spark, N, partitions=4)

    # batch 1: first half of the seed list; batch 2: full list (overlap
    # exercises admit_urls' idempotence: already-admitted urls are skipped)
    drop_batch(seeds.filter(F.col("rank") <= N // 2), tmp_path, stream_dir, "b1")
    q = run_crawl_stream(
        spark, state_dir, stream_dir, pages, robots, EPOCH0, cfg=CFG
    )
    q.awaitTermination(120)
    drop_batch(seeds, tmp_path, stream_dir, "b2")
    q2 = run_crawl_stream(
        spark, state_dir, stream_dir, pages, robots, EPOCH0, cfg=CFG
    )
    q2.awaitTermination(120)

    state = CrawlState.open(state_dir)
    assert state.completed_epochs() >= 2
    pods = state.podcasts.read(spark)
    # all parseable, robots-allowed, fetchable feeds crawled exactly once
    assert pods.count() == pods.select("rss_feed_url").distinct().count()
    assert pods.count() > N * 0.8
    frontier = state.frontier.read(spark)
    assert frontier.count() == frontier.select("canonical_url").distinct().count()


def test_stream_batch_folds_into_seen_index(spark, tmp_path):
    """A seed batch admitted after the seen index exists goes through
    ``admit_urls``: its keys are folded into ``seen_shards``, so offering
    the same urls again admits nothing (no duplicate crawl)."""
    n = 30
    stream_dir = str(tmp_path / "seeds_stream")
    os.makedirs(stream_dir)
    state_dir = str(tmp_path / "state")
    seeds = gen_seeds(spark, n, partitions=2).cache()
    pages = gen_pages(spark, n, partitions=2)
    robots = gen_robots(spark, n, partitions=2)

    def run_stream():
        q = run_crawl_stream(
            spark, state_dir, stream_dir, pages, robots, EPOCH0, cfg=CFG
        )
        q.awaitTermination(120)

    def admissions(state):
        return [
            s
            for s in state.frontier.snapshot_ids()
            if (state.frontier.manifest(s).get("metrics") or {}).get("op")
        ]

    drop_batch(seeds.filter(F.col("rank") <= n // 2), tmp_path, stream_dir, "b1")
    run_stream()
    state = CrawlState.open(state_dir)
    seen_shards_current(spark, state, CFG)
    seen_before = state.seen_shards.current_snapshot_id()
    n_admissions = len(admissions(state))

    late = seeds.filter(F.col("rank") > n // 2)
    drop_batch(late, tmp_path, stream_dir, "b2")
    run_stream()
    assert state.seen_shards.current_snapshot_id() > seen_before
    admitted = admissions(state)
    assert len(admitted) == n_admissions + 1
    got = state.frontier.read(spark, admitted[-1]).schema
    assert [(f.name, f.dataType) for f in got] == [
        (f.name, f.dataType) for f in FRONTIER_SCHEMA
    ]

    rows = state.frontier.read(spark).count()
    late_urls = (
        late.select(F.explode("links").alias("l"))
        .filter(F.col("l.name") == "rss")
        .select(F.col("l.url").alias("url"))
    )
    admit_urls(spark, state, late_urls, EPOCH0, CFG)
    f = state.frontier.read(spark)
    assert f.count() == rows
    assert f.count() == f.select("canonical_url").distinct().count()


def test_stage_metrics_stream_windowed(spark, tmp_path):
    """Watermarked tumbling-window counts over a file stream of stage
    events; late rows beyond the watermark are dropped."""
    src = str(tmp_path / "events_src")
    os.makedirs(src)
    rows = [
        ("2025-01-01 00:00:10", "fetching", "Completed"),
        ("2025-01-01 00:00:20", "fetching", "Completed"),
        ("2025-01-01 00:00:30", "parsing", "Failed"),
        ("2025-01-01 00:01:10", "fetching", "Completed"),
    ]
    drop_batch(
        spark.createDataFrame(rows, "ts_s string, stage string, status string"),
        tmp_path,
        src,
        "a",
    )
    stream = (
        spark.readStream.schema("ts_s string, stage string, status string")
        .parquet(src)
        .select(F.col("ts_s").cast("timestamp").alias("ts"), "stage", "status")
    )
    out = stage_metrics_stream(stream, window="1 minute", watermark="2 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("stage_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (str(r.window_start), r.stage, r.status): r.n
        for r in spark.sql("select * from stage_counts").collect()
    }
    assert got[("2025-01-01 00:00:00", "fetching", "Completed")] == 2
    assert got[("2025-01-01 00:00:00", "parsing", "Failed")] == 1
    assert got[("2025-01-01 00:01:00", "fetching", "Completed")] == 1


def rate_limiter_oracle(batches, delay=0.5):
    """Straight-line token bucket: per host, slots monotone, spaced ≥delay,
    never before the request's event time."""
    state = {}
    out = []
    for batch in batches:
        per_host = {}
        for host, url, prio, ev in batch:
            per_host.setdefault(host, []).append((prio, url, ev))
        for host, items in per_host.items():
            nf = state.get(host)
            for prio, url, ev in sorted(items):
                t = ev if nf is None else max(ev, nf + delay)
                out.append((host, url, t))
                nf = t
            state[host] = nf
    return {(h, u): t for h, u, t in out}


def test_politeness_rate_limiter_stateful(spark, tmp_path):
    src = str(tmp_path / "urls_src")
    os.makedirs(src)
    out_dir = str(tmp_path / "slots_out")
    chk = str(tmp_path / "chk")
    schema = "host string, url string, priority int, event_unix double"
    b1 = [
        ("hot.example", f"https://hot.example/f{i}", i, 100.0) for i in range(5)
    ] + [("cold.example", "https://cold.example/f0", 0, 100.0)]
    b2 = [
        ("hot.example", f"https://hot.example/g{i}", i, 100.4) for i in range(3)
    ]

    def run_query():
        # file sink (not memory): supports restart from the checkpoint, so
        # the second invocation recovers per-host state from the state store
        q = (
            politeness_rate_limiter(
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src),
                default_delay_s=0.5,
            )
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", chk)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drop_batch(spark.createDataFrame(b1, schema), tmp_path, src, "b1")
    run_query()
    # second batch arrives later → state (next free slot) must carry over
    drop_batch(spark.createDataFrame(b2, schema), tmp_path, src, "b2")
    run_query()

    got = {
        (r.host, r.url): r.planned_unix
        for r in spark.read.parquet(out_dir).collect()
    }
    want = rate_limiter_oracle([b1, b2])
    assert got == pytest.approx(want)
    # per-host spacing invariant
    hot = sorted(t for (h, _), t in got.items() if h == "hot.example")
    assert all(b - a >= 0.5 - 1e-9 for a, b in zip(hot, hot[1:]))


def test_streaming_dedup_across_batches(spark, tmp_path):
    """Keys re-arriving in a later micro-batch (within the watermark
    horizon) are suppressed: each digest is emitted exactly once."""
    import datetime as dt

    from podcast_crawler_spark.streaming import streaming_dedup

    stream_dir = str(tmp_path / "docs_stream")
    os.makedirs(stream_dir)
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def mk(rows):
        return spark.createDataFrame(
            rows, "doc_id long, text_md5 string, ts timestamp"
        )

    drop_batch(
        mk([(1, "aaa", t0), (2, "bbb", t0)]), tmp_path, stream_dir, "b1"
    )
    src = (
        spark.readStream.schema("doc_id long, text_md5 string, ts timestamp")
        .parquet(stream_dir)
    )
    q = (
        streaming_dedup(src, key_cols=("text_md5",), watermark="1 hour")
        .writeStream.format("memory")
        .queryName("dedup_sink")
        .outputMode("append")
        .option(
            "checkpointLocation", str(tmp_path / "dedup_ckpt")
        )
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: bbb re-arrives (suppress), ccc is new
        drop_batch(
            mk(
                [
                    (3, "bbb", t0 + dt.timedelta(minutes=5)),
                    (4, "ccc", t0 + dt.timedelta(minutes=5)),
                ]
            ),
            tmp_path,
            stream_dir,
            "b2",
        )
        q.processAllAvailable()
        rows = spark.sql("select * from dedup_sink").collect()
    finally:
        q.stop()
    by_key = {}
    for r in rows:
        by_key.setdefault(r.text_md5, []).append(r.doc_id)
    assert sorted(by_key) == ["aaa", "bbb", "ccc"]
    assert all(len(v) == 1 for v in by_key.values())
    assert by_key["bbb"] == [2]  # the FIRST arrival won


def test_streaming_sessions_stateful(spark, tmp_path):
    """Sessions spanning micro-batches merge through GroupState and are
    emitted exactly once when a later gap closes them; the final open
    tail stays in state (append-mode contract)."""
    from podcast_crawler_spark.streaming import streaming_sessions

    src = str(tmp_path / "sess_src")
    os.makedirs(src)
    out_dir = str(tmp_path / "sess_out")
    chk = str(tmp_path / "sess_chk")
    schema = "user_id long, event_unix double"
    # user 1: batch1 has events at 0,10; batch2 continues at 20 (same
    # session) then jumps to 10000 (closes it) and 20000 (closes again)
    # user 2: one event per batch, far apart -> first closed by second
    b1 = [(1, 0.0), (1, 10.0), (2, 500.0)]
    b2 = [(1, 20.0), (1, 10000.0), (1, 20000.0), (2, 99999.0)]

    def run_query():
        q = (
            streaming_sessions(
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src),
                gap_s=60.0,
            )
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", chk)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drop_batch(spark.createDataFrame(b1, schema), tmp_path, src, "s1")
    run_query()
    drop_batch(spark.createDataFrame(b2, schema), tmp_path, src, "s2")
    run_query()

    got = sorted(
        (r.user_id, r.session_start_unix, r.session_end_unix, r.n_events)
        for r in spark.read.parquet(out_dir).collect()
    )
    # closed sessions only: user1 (0..20, 3 events) then (10000, 1);
    # user2 (500, 1).  Open tails (20000,), (99999,) stay in state.
    assert got == [
        (1, 0.0, 20.0, 3),
        (1, 10000.0, 10000.0, 1),
        (2, 500.0, 500.0, 1),
    ]


def test_windowed_event_counts_batch_kernel(spark):
    """The tumbling-window kernel: epoch-floor alignment, exact counts,
    distinct users per window."""
    from datetime import datetime, timezone

    from podcast_crawler_spark.streaming import windowed_event_counts

    def ts(s):
        return datetime.fromtimestamp(1_700_000_000 + s, tz=timezone.utc)

    # 1_700_000_000 % 300 == 200 -> first bucket starts at ...999_800
    rows = [
        (1, "click", ts(0)), (2, "click", ts(99)),   # bucket 0 (ends +100)
        (1, "click", ts(100)), (1, "click", ts(399)),  # bucket 1
        (3, "view", ts(0)),                            # bucket 0, other key
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    got = {
        (r["event_type"], r["window_start_unix"]): r.asDict()
        for r in windowed_event_counts(df, window_s=300).collect()
    }
    b0 = 1_700_000_000 - 200
    assert got[("click", b0)]["n_events"] == 2
    assert got[("click", b0)]["n_users"] == 2
    assert got[("click", b0)]["window_end_unix"] == b0 + 300
    assert got[("click", b0 + 300)]["n_events"] == 2
    assert got[("click", b0 + 300)]["n_users"] == 1
    assert got[("view", b0)]["n_events"] == 1


def test_windowed_event_counts_runs_on_stream(spark, tmp_path):
    """Same kernel under a watermark on a real stream: finalized windows
    emit once in append mode."""
    import os

    from podcast_crawler_spark.streaming import windowed_event_counts

    stream_dir = str(tmp_path / "ev_stream")
    os.makedirs(stream_dir)
    base = 1_700_000_000
    b1 = spark.createDataFrame(
        [(1, "click", float(base + 10)), (2, "click", float(base + 20))],
        "user_id long, event_type string, unix double",
    ).select("user_id", "event_type", F.col("unix").cast("timestamp").alias("ts"))
    drop_batch(b1, tmp_path, stream_dir, "b1")
    # batch 2 advances event time far past the watermark -> closes bucket 1
    b2 = spark.createDataFrame(
        [(3, "click", float(base + 4000))],
        "user_id long, event_type string, unix double",
    ).select("user_id", "event_type", F.col("unix").cast("timestamp").alias("ts"))

    src = (
        spark.readStream.schema(b1.schema).parquet(stream_dir)
        .withWatermark("ts", "5 minutes")
    )
    out = windowed_event_counts(src, window_s=300)
    sink = str(tmp_path / "win_sink")
    ckpt = str(tmp_path / "win_ckpt")
    q = (
        out.writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    drop_batch(b2, tmp_path, stream_dir, "b2")
    q2 = (
        windowed_event_counts(
            spark.readStream.schema(b1.schema).parquet(stream_dir)
            .withWatermark("ts", "5 minutes"),
            window_s=300,
        )
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q2.awaitTermination(120)
    got = spark.read.parquet(sink).collect()
    bstart = base - base % 300
    closed = [r for r in got if r["window_start_unix"] == bstart]
    assert len(closed) == 1  # emitted exactly once, after watermark passed
    assert closed[0]["n_events"] == 2 and closed[0]["n_users"] == 2


def test_fetch_outcome_join_stream_timeout(spark, tmp_path):
    """stream-stream interval join: matched outcomes emit with latency;
    a scheduled fetch with no outcome emits ONE null (timeout) row only
    after the watermark passes its join horizon."""
    import datetime as dt

    from podcast_crawler_spark.streaming.crawl_stream import fetch_outcome_join

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    sdir = str(tmp_path / "sched")
    odir = str(tmp_path / "outc")
    os.makedirs(sdir)
    os.makedirs(odir)

    def mk(rows, schema):
        return spark.createDataFrame(rows, schema)

    drop_batch(
        mk([("u1", t0), ("u2", t0)], "url string, sched_ts timestamp"),
        tmp_path, sdir, "s1",
    )
    drop_batch(
        mk(
            [("u1", t0 + dt.timedelta(minutes=2), 200)],
            "url string, done_ts timestamp, status int",
        ),
        tmp_path, odir, "o1",
    )
    sched = spark.readStream.schema("url string, sched_ts timestamp").parquet(sdir)
    outc = spark.readStream.schema(
        "url string, done_ts timestamp, status int"
    ).parquet(odir)
    q = (
        fetch_outcome_join(sched, outc, max_latency="10 minutes",
                           watermark="10 minutes")
        .writeStream.format("memory")
        .queryName("fetch_join_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "fj_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows1 = {r.url: r for r in spark.sql("select * from fetch_join_sink").collect()}
        # u1 matched; u2 NOT yet emitted (its timeout window is open)
        assert "u1" in rows1 and rows1["u1"].latency_s == 120
        assert "u2" not in rows1
        # advance both watermarks far past u2's horizon
        late = t0 + dt.timedelta(hours=2)
        drop_batch(
            mk([("u9", late)], "url string, sched_ts timestamp"),
            tmp_path, sdir, "s2",
        )
        drop_batch(
            mk([("u9", late, 200)], "url string, done_ts timestamp, status int"),
            tmp_path, odir, "o2",
        )
        q.processAllAvailable()
        q.processAllAvailable()
        rows2 = {r.url: r for r in spark.sql("select * from fetch_join_sink").collect()}
    finally:
        q.stop()
    assert "u2" in rows2, sorted(rows2)
    assert rows2["u2"].done_ts is None and rows2["u2"].latency_s is None


def test_streaming_circuit_matches_batch_kernel(spark, tmp_path):
    """Breaker state folded across micro-batches equals the batch
    operator over the full history (in-order epochs), and the final
    emitted row per host reflects the open/closed decision."""
    from podcast_crawler_spark.operators.refetch import circuit_state
    from podcast_crawler_spark.streaming.crawl_stream import (
        streaming_circuit,
    )

    obs = [
        ("dead", 0, 0), ("dead", 1, 2), ("dead", 2, 1), ("dead", 3, 5),
        ("flaky", 0, 1), ("flaky", 1, 0),
        ("never", 0, 1), ("never", 1, 1), ("never", 2, 1),
    ]
    schema = "host string, epoch long, failures long"

    stream_dir = str(tmp_path / "obs_stream")
    os.makedirs(stream_dir)
    # batch 1: epochs 0-1; batch 2: the rest
    b1 = [o for o in obs if o[1] <= 1]
    b2 = [o for o in obs if o[1] > 1]
    drop_batch(spark.createDataFrame(b1, schema), tmp_path, stream_dir, "c1")
    src = spark.readStream.schema(schema).parquet(stream_dir)
    q = (
        streaming_circuit(src, k_open=3, max_backoff=64)
        .writeStream.format("memory")
        .queryName("circuit_sink")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "circ_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        drop_batch(
            spark.createDataFrame(b2, schema), tmp_path, stream_dir, "c2"
        )
        q.processAllAvailable()
        # last update per host = live state after all batches
        rows = spark.sql("select * from circuit_sink").collect()
        live = {}
        for r in rows:  # memory sink appends updates in batch order
            live[r["host"]] = (
                r["last_ok"], r["consec_fail"], r["state"], r["retry_epoch"]
            )
    finally:
        q.stop()
    batch = {
        r["host"]: (
            r["last_ok"], r["consec_fail"], r["state"], r["retry_epoch"]
        )
        for r in circuit_state(
            spark.createDataFrame(obs, schema), k_open=3, max_backoff=64
        ).collect()
    }
    assert live == batch
    assert live["dead"][2] == "open" and live["flaky"][2] == "closed"


def test_streaming_circuit_reset_on_clean_epoch(spark, tmp_path):
    """A clean epoch arriving in a later micro-batch closes an open
    breaker (consec run resets through GroupState)."""
    from podcast_crawler_spark.streaming.crawl_stream import (
        streaming_circuit,
    )

    schema = "host string, epoch long, failures long"
    stream_dir = str(tmp_path / "obs2")
    os.makedirs(stream_dir)
    drop_batch(
        spark.createDataFrame(
            [("h", 0, 1), ("h", 1, 1), ("h", 2, 1)], schema
        ),
        tmp_path, stream_dir, "d1",
    )
    src = spark.readStream.schema(schema).parquet(stream_dir)
    q = (
        streaming_circuit(src, k_open=2)
        .writeStream.format("memory")
        .queryName("circuit_sink2")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "circ_ckpt2"))
        .start()
    )
    try:
        q.processAllAvailable()
        first = spark.sql(
            "select state from circuit_sink2"
        ).collect()[-1]["state"]
        drop_batch(
            spark.createDataFrame([("h", 3, 0)], schema),
            tmp_path, stream_dir, "d2",
        )
        q.processAllAvailable()
        rows = spark.sql("select * from circuit_sink2").collect()
    finally:
        q.stop()
    assert first == "open"
    last = rows[-1]
    assert (last["state"], last["consec_fail"], last["last_ok"]) == (
        "closed", 0, 3
    )
