"""Structured Streaming surface of the crawl engine (SURVEY.md §2.10).

The reference's "streaming" is a continuous tokio loop with no event-time
semantics, so the core engine runs as deterministic batch epochs
(``plans/epoch.py``).  This module is the Structured Streaming packaging of
the same machinery:

1. ``run_crawl_stream`` — the epoch loop as ``foreachBatch``: a file
   stream of seed batches (the streaming analog of ``POST /add_task``,
   SURVEY.md §3.2) drives frontier admission (``admit_urls``, the same
   path as ``add_task``) + one crawl epoch per micro-batch.  The epoch
   body is ``run_epoch`` **unchanged** — the checkpointed snapshot tables
   make each batch idempotent, which is exactly the contract
   ``foreachBatch`` requires for exactly-once.
2. ``stage_metrics_stream`` — A7's Prometheus counters as a watermarked
   event-time windowed aggregation over stage events (late data dropped
   past the watermark, matching counter-scrape semantics).
3. ``politeness_rate_limiter`` — the reference's governor token bucket
   (``/root/reference/src/crawler/rate_limiter.rs:16-46``) as a custom
   stateful operator via ``applyInPandasWithState``: per-host state
   carries the next free fetch slot across micro-batches; URL batches are
   assigned monotone fetch slots spaced by the host's crawl delay.
   Vectorized inside each group (numpy recurrence, no per-row Python
   loop).

Scale notes: state is per-host (10^7-10^8 hosts at web scale → a few GB
of state across the cluster, hash-partitioned by the group key — the same
host_hash partitioning the batch frontier uses); stream shuffles are
keyed identically so state locality survives.
"""

from __future__ import annotations

from datetime import datetime, timedelta
from typing import Iterator, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.frontier import CrawlConfig, seed_scan
from ..operators.robots import agent_rules
from ..plans.epoch import CrawlState, admit_urls, init_crawl, run_epoch


def run_crawl_stream(
    spark: SparkSession,
    state_dir: str,
    seeds_stream_dir: str,
    pages: DataFrame,
    robots: DataFrame,
    epoch0: datetime,
    epoch_interval_s: int = 60,
    cfg: CrawlConfig = CrawlConfig(),
    available_now: bool = True,
):
    """Run the crawl as a Structured Streaming query over a parquet stream
    of seed batches (schema = seeds table).  The first micro-batch seeds
    the frontier (``init_crawl``); each later one admits the batch's new
    URLs through ``admit_urls`` (seed rank as priority, due at *epoch0*;
    already-present canonical URLs are skipped and the seen index is
    folded).  Every micro-batch then runs one deterministic epoch;
    *robots* is resolved and materialized once, as in ``run_crawl``.

    Returns the StreamingQuery (caller awaits termination; with
    ``available_now`` the query drains pending files and stops).
    """
    from ..functions.schemas import SEEDS_SCHEMA

    robots = agent_rules(robots).localCheckpoint()
    seeds_stream = (
        spark.readStream.schema(SEEDS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(seeds_stream_dir)
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        state = CrawlState.open(state_dir)
        if state.frontier.current_snapshot_id() is None:
            init_crawl(spark, batch_df, state_dir, epoch0, cfg)
        else:
            admit_urls(spark, state, seed_scan(batch_df), epoch0, cfg)
        epoch_no = state.completed_epochs()
        epoch_ts = epoch0 + timedelta(seconds=epoch_no * epoch_interval_s)
        run_epoch(spark, state, pages, robots, epoch_ts, cfg)

    writer = (
        seeds_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", f"{state_dir}/_stream_chk")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stage_metrics_stream(
    stage_events: DataFrame,
    window: str = "1 minute",
    watermark: str = "2 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """A7 as event-time streaming: per-(window, stage, status) counts with
    a watermark for late events.  *stage_events* is a streaming DataFrame
    with (ts timestamp, stage string, status string)."""
    return (
        stage_events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), "stage", "status")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "stage",
            "status",
            "n",
        )
    )


RATE_LIMITER_OUTPUT = (
    "host string, url string, host_seq int, planned_unix double"
)
RATE_LIMITER_STATE = "next_free_unix double, seq_carry long"


def politeness_slots(
    ev: np.ndarray, delay: float, carry: float = float("-inf")
) -> Tuple[np.ndarray, float]:
    """The governor recurrence, vectorized: slot_i = max(event_i,
    slot_{i-1} + delay), closed-form ``t_i = delay·i +
    max(cummax_j≤i(ev_j − delay·j), carry + delay)``.  Shared by the
    stateful streaming operator (carry = previous batch's last slot) and
    the batch operator below (carry = −inf).  Returns (slots, new_carry).
    """
    if not len(ev):
        return ev.astype(np.float64), carry
    i = np.arange(len(ev), dtype=np.float64)
    base = np.maximum.accumulate(ev - delay * i)
    if carry != float("-inf"):
        base = np.maximum(base, carry + delay)
    t = delay * i + base
    return t, float(t[-1])


def politeness_slots_batch(
    df: DataFrame,
    host_col: str,
    ev_col: str,
    order_cols,
    delay_s: float,
) -> DataFrame:
    """X4 as a batch operator: per-host monotone fetch slots spaced ≥
    delay over already-arrived events — the same numpy kernel the
    streaming operator carries across micro-batches, applied per group
    with no carry.  One shuffle on the host key; output adds
    ``host_seq`` (1-based) and ``planned_unix``.

    The closed form is SQL-expressible (a cumulative max window), which
    is how the driver oracle pins this kernel exactly."""
    cols = df.columns
    schema = ", ".join(f"{c} {df.schema[c].dataType.simpleString()}" for c in cols)
    schema += ", host_seq int, planned_unix double"

    def _fn(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_cols, kind="mergesort")
        slots, _ = politeness_slots(
            pdf[ev_col].to_numpy(dtype=np.float64), float(delay_s)
        )
        out = pdf.copy()
        out["host_seq"] = np.arange(1, len(pdf) + 1, dtype=np.int32)
        out["planned_unix"] = slots
        return out

    return df.groupBy(host_col).applyInPandas(_fn, schema=schema)


def politeness_rate_limiter(
    url_stream: DataFrame,
    default_delay_s: float = 0.5,
    output_mode: str = "append",
):
    """X4/W4 as a custom stateful streaming operator.

    Input (streaming): ``(host string, url string, priority int,
    event_unix double)``.  Per host, across micro-batches, assigns each
    URL a fetch slot ``planned_unix`` such that slots are monotone and
    spaced ≥ delay: ``t_i = max(event_i, t_{i-1} + delay)`` — the
    governor token-bucket recurrence, carried in GroupState.

    The recurrence is vectorized per group:
    ``t_i = delay·i + max(cummax(event_j − delay·j), carry + delay)``.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    delay = float(default_delay_s)

    def fn(
        key: Tuple[str],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        host = key[0]
        carry = state.get[0] if state.exists else float("-inf")
        prev_seq = int(state.get[1]) if state.exists else 0
        out = []
        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf.sort_values(["priority", "url"], kind="mergesort")
            ev = pdf["event_unix"].to_numpy(dtype=np.float64)
            t, carry = politeness_slots(ev, delay, carry)
            seqs = prev_seq + np.arange(1, len(ev) + 1)
            prev_seq = int(seqs[-1])
            out.append(
                pd.DataFrame(
                    {
                        "host": host,
                        "url": pdf["url"].to_numpy(),
                        "host_seq": seqs.astype(np.int32),
                        "planned_unix": t,
                    }
                )
            )
        state.update((carry, prev_seq))
        if out:
            yield pd.concat(out, ignore_index=True)

    return url_stream.groupBy("host").applyInPandasWithState(
        fn,
        RATE_LIMITER_OUTPUT,
        RATE_LIMITER_STATE,
        output_mode,
        GroupStateTimeout.NoTimeout,
    )


def streaming_dedup(
    stream_df: DataFrame,
    key_cols=("text_md5",),
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: emit each key's FIRST arrival, suppress
    re-arrivals across micro-batches — the stream form of
    ``dedup.incremental_exact`` for an ingest pipeline that must not
    emit a document (or URL) twice.

    Uses the engine-native ``dropDuplicatesWithinWatermark``: dedup
    state lives in the state store (RocksDB-backed at scale,
    hash-partitioned by key exactly like a batch groupBy), and the
    watermark BOUNDS it — a key older than the watermark horizon is
    evicted, so state is O(keys per horizon), not O(stream lifetime).
    Unbounded exact dedup (crawl seen-set semantics) is the batch
    bloom-shard path (``operators/seen.py``); this operator is the
    within-horizon guard a streaming stage puts in front of it.
    """
    return stream_df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def fetch_outcome_join(
    scheduled: DataFrame,
    outcomes: DataFrame,
    max_latency: str = "10 minutes",
    watermark: str = "15 minutes",
) -> DataFrame:
    """Stream-stream INTERVAL join: every scheduled fetch ``(url,
    sched_ts)`` left-joined to the outcome ``(url, done_ts, status)``
    that arrives within *max_latency* — the live fetch-health view of
    the crawl loop (reference semantics: the tokio fetch task reporting
    back to the scheduler, `task_management_system.rs` result handling;
    here the two sides are independent streams that meet in the
    engine).

    Emits ``(url, sched_ts, done_ts, status, latency_s)``.  A scheduled
    row with NO outcome inside the bound emits once with nulls when the
    watermark passes — TIMEOUT DETECTION comes free from the leftOuter
    stream-stream contract instead of a custom timer operator.

    Scale/state: both sides carry watermarks and the join condition
    bounds event-time distance, so the state store holds only rows
    inside the watermark horizon per side (hash-partitioned by url,
    exactly a batch shuffle join's layout).  The SAME kernel runs in
    batch (a plain interval join) — which is how the driver oracle
    pins the join semantics while the streaming test pins the
    watermark/timeout behavior.
    """
    s = scheduled.withWatermark("sched_ts", watermark).alias("s")
    o = outcomes.withWatermark("done_ts", watermark).alias("o")
    joined = s.join(
        o,
        F.expr(
            "s.url = o.url AND o.done_ts >= s.sched_ts "
            f"AND o.done_ts <= s.sched_ts + interval {max_latency}"
        ),
        "leftOuter",
    )
    return joined.select(
        F.col("s.url").alias("url"),
        F.col("s.sched_ts").alias("sched_ts"),
        F.col("o.done_ts").alias("done_ts"),
        F.col("o.status").alias("status"),
        (
            F.unix_timestamp("o.done_ts") - F.unix_timestamp("s.sched_ts")
        ).alias("latency_s"),
    )


SESSIONIZER_OUTPUT = (
    "user_id long, session_start_unix double, session_end_unix double,"
    " n_events long, duration_s double"
)
SESSIONIZER_STATE = "start_unix double, end_unix double, n long"


def streaming_sessions(
    event_stream: DataFrame,
    gap_s: float = 1800.0,
    output_mode: str = "append",
):
    """Gap-based sessionization as a custom stateful streaming operator
    (`applyInPandasWithState`) — the streaming twin of the batch
    ``temporal.sessionize``: per user, events closer than *gap_s*
    chain into one session; a longer silence closes it.

    Input (streaming): ``(user_id long, event_unix double)``.  Emits a
    row per CLOSED session; the open session rides in GroupState across
    micro-batches, so a session spanning batch boundaries is emitted
    once, merged.  (The open tail stays in state until a later event
    closes it — the standard append-mode contract; a production query
    adds a state timeout to flush idle tails.)

    Vectorized per group: sort, ``diff > gap`` breakpoints, cumsum
    group ids, min/max/count per group — no per-event python loop.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap = float(gap_s)

    def fn(
        key: Tuple[int],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        user = key[0]
        parts = [pdf for pdf in pdfs if len(pdf)]
        if not parts:
            return
        ev = np.sort(
            np.concatenate(
                [p["event_unix"].to_numpy(dtype=np.float64) for p in parts]
            )
        )
        # batch-local groups: a new group starts where the gap is exceeded
        brk = np.empty(len(ev), dtype=bool)
        brk[0] = True
        brk[1:] = np.diff(ev) > gap
        starts = np.flatnonzero(brk)
        ends = np.append(starts[1:], len(ev)) - 1
        sessions = []  # (start, end, n), oldest first
        if state.exists and int(state.get[2]) > 0:
            sessions.append(
                (float(state.get[0]), float(state.get[1]), int(state.get[2]))
            )
        for si, ei in zip(starts, ends):
            gs, ge, gn = float(ev[si]), float(ev[ei]), int(ei - si + 1)
            if sessions and gs - sessions[-1][1] <= gap:
                ps, pe, pn = sessions[-1]
                # min() keeps late data (an event older than the open
                # session's start, still within the gap) from losing
                # the true session start
                sessions[-1] = (min(ps, gs), max(pe, ge), pn + gn)
            else:
                sessions.append((gs, ge, gn))
        closed, open_tail = sessions[:-1], sessions[-1]
        state.update(open_tail)
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": user,
                    "session_start_unix": [c[0] for c in closed],
                    "session_end_unix": [c[1] for c in closed],
                    "n_events": [c[2] for c in closed],
                    "duration_s": [c[1] - c[0] for c in closed],
                }
            )

    return event_stream.groupBy("user_id").applyInPandasWithState(
        fn,
        SESSIONIZER_OUTPUT,
        SESSIONIZER_STATE,
        output_mode,
        GroupStateTimeout.NoTimeout,
    )


def windowed_event_counts(
    df: DataFrame,
    ts_col: str = "ts",
    key_cols=("event_type",),
    window_s: int = 300,
) -> DataFrame:
    """Tumbling-window event counts — the batch form of the window
    kernel ``stage_metrics_stream`` runs under a watermark (same
    ``F.window`` bucketing: epoch-aligned ``floor(ts / window_s)``).
    Works on batch AND streaming inputs (add ``withWatermark`` upstream
    for streams).  Window bounds emit as epoch-second BIGINTs so the
    bucketing rule itself is engine-checkable (the driver oracle
    recomputes ``epoch // window_s * window_s`` — no timestamp-zone
    ambiguity crosses the comparison).

    Scale shape: ONE keyed exchange with map-side combine for the
    counts; the distinct-user count rides the same groupBy via a
    two-phase exact distinct (Spark plans partial distinct below the
    exchange).  At 10^10 events the HLL sketch (`sketches.hll_distinct`)
    is the bounded-state alternative.
    """
    w = F.window(F.col(ts_col), f"{window_s} seconds")
    return (
        df.groupBy(w.alias("w"), *key_cols)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # exact distinct on batch; streams must use the HLL-based
            # approx (Spark disallows distinct aggs on streaming plans)
            (
                F.approx_count_distinct("user_id")
                if df.isStreaming
                else F.countDistinct("user_id")
            ).alias("n_users"),
        )
        .select(
            *key_cols,
            F.col("w.start").cast("timestamp").cast("long").alias("window_start_unix"),
            F.col("w.end").cast("timestamp").cast("long").alias("window_end_unix"),
            "n_events",
            "n_users",
        )
    )


CIRCUIT_OUTPUT = (
    "host string, last_ok long, consec_fail long, state string,"
    " retry_epoch long"
)
CIRCUIT_STATE = "last_ok long, consec_fail long, last_epoch long"


def streaming_circuit(
    obs_stream: DataFrame,
    k_open: int = 3,
    max_backoff: int = 64,
    output_mode: str = "update",
):
    """The per-host circuit breaker (``refetch.circuit_state``) as a
    stateful streaming operator: fold each micro-batch's (host, epoch,
    failures) rows into GroupState and emit the post-batch breaker row
    per host — the live view a long-running fetch loop gates on,
    sharing the batch operator's exact rule (clean epoch resets the
    run and sets ``last_ok``; failing epoch extends it; ``open`` at
    ``consec_fail ≥ k_open`` with ``retry_epoch = last_epoch +
    min(2^consec_fail, max_backoff)``).

    Equivalence contract (pinned in ``test_streaming.py``): for
    in-order epochs, ANY micro-batch slicing folds to the same final
    rows as the batch operator over the full history — the same
    batch≡stream kernel discipline as ``rate_limit_slots`` /
    ``windowed_counts``.  Rows within a batch fold in epoch order;
    late (out-of-order ACROSS batches) epochs fold as they arrive —
    the deviation a watermark would bound, documented not hidden.

    State is 3 longs per host — O(hosts) total, the smallest possible
    live-breaker state.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(
        key: Tuple[str],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        host = key[0]
        if state.exists:
            last_ok, consec, last_epoch = state.get
        else:
            last_ok, consec, last_epoch = None, 0, None
        touched = False
        for pdf in pdfs:
            if not len(pdf):
                continue
            touched = True
            pdf = pdf.sort_values("epoch", kind="mergesort")
            for epoch, failures in zip(
                pdf["epoch"].to_numpy(), pdf["failures"].to_numpy()
            ):
                e = int(epoch)
                if int(failures) == 0:
                    last_ok, consec = e, 0
                else:
                    consec += 1
                last_epoch = e if last_epoch is None else max(last_epoch, e)
        state.update((last_ok, consec, last_epoch))
        if touched:
            is_open = consec >= k_open
            retry = (
                last_epoch + min(1 << min(consec, 32), max_backoff)
                if is_open
                else None
            )
            yield pd.DataFrame(
                {
                    "host": [host],
                    "last_ok": [last_ok],
                    "consec_fail": [consec],
                    "state": ["open" if is_open else "closed"],
                    "retry_epoch": [retry],
                }
            )

    return obs_stream.groupBy("host").applyInPandasWithState(
        fn,
        CIRCUIT_OUTPUT,
        CIRCUIT_STATE,
        output_mode,
        GroupStateTimeout.NoTimeout,
    )
