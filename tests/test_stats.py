"""Unit tests for the stats operators (SURVEY.md §2.5 A3/A4/A6/A7)
against straight-line pandas/python oracles."""

import math

import pytest

from pyspark.sql import functions as F

from podcast_crawler_spark.operators.stats import (
    ERROR_TYPES,
    batch_stats,
    categorize_error,
    error_histogram,
)

OUTCOMES = [
    # (success, duration_s, last_error)
    (True, 0.2, None),
    (True, 1.4, None),
    (False, 5.0, "request timed out after 5s"),
    (False, 0.1, "Connection refused by peer"),
    (False, 0.3, "DNS resolution failure"),
    (False, 0.8, "parse error: missing field title"),
    (False, 2.0, "weird thing happened"),
    (True, 0.5, None),
]


@pytest.fixture()
def outcomes(spark):
    return spark.createDataFrame(
        OUTCOMES, "success boolean, duration_s double, last_error string"
    )


def test_batch_stats_matches_python_oracle(outcomes):
    row = batch_stats(outcomes).collect()[0]
    durs = sorted(d for _, d, _ in OUTCOMES)
    succ = sum(1 for s, _, _ in OUTCOMES if s)
    assert row.total_count == len(OUTCOMES)
    assert row.success_count == succ
    assert row.failure_count == len(OUTCOMES) - succ
    assert row.success_rate == pytest.approx(succ / len(OUTCOMES))
    assert row.total_duration_s == pytest.approx(sum(durs))
    assert row.avg_duration_s == pytest.approx(sum(durs) / len(durs))
    assert row.max_duration_s == pytest.approx(max(durs))
    assert row.min_duration_s == pytest.approx(min(durs))
    # percentile_approx at 0.5 returns an actual data point around the median
    assert durs[0] <= row.median_duration_s <= durs[-1]
    assert row.median_duration_s in durs


def test_error_categorization_reference_taxonomy(outcomes):
    # A4 taxonomy: stats.rs:144-156 substring rules, lowercase match
    got = dict(
        outcomes.filter(F.col("last_error").isNotNull())
        .select("last_error", categorize_error(F.col("last_error")).alias("t"))
        .collect()
    )
    assert got["request timed out after 5s"] == "Timeout"
    assert got["Connection refused by peer"] == "Connection Refused"
    assert got["DNS resolution failure"] == "DNS Error"
    assert got["parse error: missing field title"] == "Parse Error"
    assert got["weird thing happened"] == "Other Error"
    hist = {r.error_type: r.n for r in error_histogram(outcomes).collect()}
    assert hist == {t: 1 for t in ERROR_TYPES}


def test_running_avg_matches_pandas_oracle(spark):
    """A5 incremental mean (cumulative window) vs a pandas expanding mean."""
    import pandas as pd

    rows = [(1, "u1", 10.0, 1), (2, "u1", 20.0, 2), (3, "u1", 0.0, 3),
            (4, "u2", 5.0, 1), (5, "u2", 7.0, 2)]
    df = spark.createDataFrame(rows, "event_id int, user_id string, value double, ts int")
    from pyspark.sql import Window

    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    got = {r.event_id: r.ra for r in df.select(
        "event_id", F.avg("value").over(w).alias("ra")).collect()}
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "value", "ts"])
    pdf = pdf.sort_values(["user_id", "ts", "event_id"])
    pdf["ra"] = pdf.groupby("user_id")["value"].expanding().mean().values
    for _, r in pdf.iterrows():
        assert got[r.event_id] == pytest.approx(r.ra)


def test_hash_partition_placement_balanced(spark):
    """X1/X2: pmod(xxhash64(url), P) placement spreads uniform keys evenly
    (round-robin-equivalent without RNG, SURVEY.md §2.8)."""
    P = 8
    df = spark.range(8000).select(
        F.concat(F.lit("https://h"), F.col("id"), F.lit(".example/f")).alias("url")
    )
    counts = [
        r.n
        for r in df.groupBy(F.pmod(F.xxhash64("url"), F.lit(P)).alias("p"))
        .agg(F.count("*").alias("n"))
        .collect()
    ]
    assert len(counts) == P
    assert max(counts) < 1.2 * (8000 / P)  # within 20% of perfectly even


def test_host_concentration_shares(spark):
    """Exact top-share ppm on a pinned skew: one host with half the
    rows; topk covers the full set when hosts <= k."""
    from podcast_crawler_spark.operators.stats import host_concentration

    rows = [("big",)] * 10 + [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 2
    df = spark.createDataFrame(rows, "host string")
    r = host_concentration(df, top_k=2).collect()[0]
    assert (r.n_urls, r.n_hosts, r.max_host_urls) == (20, 4, 10)
    assert r.top1_ppm == 500_000
    assert r.topk_ppm == 750_000  # big(10) + a(5)


def test_quality_drift_cusum_identity_and_alarm(spark):
    """The prefix-min windowed CUSUM equals the textbook max(0, s+d)
    recurrence; a real downward shift alarms after enough evidence, a
    sub-slack dip never does, and recovery resets the statistic."""
    from podcast_crawler_spark.operators.stats import quality_drift

    # source 'bad': mean 100 for epochs 0-2 (baseline), drops to 40
    # for epochs 3-5, recovers to 100 at 6-7
    # source 'ok': constant 100; source 'dip': 100 then 97 (sub-slack)
    rows = []
    for ep in range(8):
        for i in range(5):
            bad = 100 if ep < 3 or ep >= 6 else 40
            rows.append(("bad", ep, bad))
            rows.append(("ok", ep, 100))
            rows.append(("dip", ep, 100 if ep < 3 else 97))
    df = spark.createDataFrame(rows, "source string, epoch int, quality int")
    out = quality_drift(
        df, baseline_epochs=3, slack_k=5_000_000, threshold_h=80_000_000
    ).toPandas()

    # python replay of the recurrence s = max(0, s + (target-k) - x)
    import collections
    series = collections.defaultdict(dict)
    for s, ep, q in rows:
        series[s][ep] = q * 1_000_000  # constant per epoch here
    for src, per in series.items():
        target = sum(per[e] for e in range(3)) // 3
        s = 0
        for ep in sorted(per):
            s = max(0, s + (target - 5_000_000) - per[ep])
            row = out[(out.source == src) & (out.epoch == ep)].iloc[0]
            assert int(row.cusum) == s, (src, ep, int(row.cusum), s)
            assert bool(row.alarm) == (s > 80_000_000)
    # shape: 'bad' alarms within the shifted window; after recovery the
    # statistic DRAINS at only k per epoch (CUSUM memory: 165M − 5M/ep),
    # so it is still alarming at epoch 7 — the deliberate held-alarm
    # property that keeps a briefly-recovered source under scrutiny
    bad = out[out.source == "bad"].set_index("epoch")
    assert bool(bad.loc[4].alarm) and bool(bad.loc[5].alarm)
    assert int(bad.loc[7].cusum) == 165_000_000 - 2 * 5_000_000
    assert not out[out.source == "ok"].alarm.any()
    assert not out[out.source == "dip"].alarm.any()  # sub-slack


def test_quality_drift_late_source_gets_observed_baseline(spark):
    """A source first appearing at epoch >= baseline_epochs is NOT
    dropped: its baseline is its first N OBSERVED epochs (per-group
    rank), so a mid-crawl new source that later degrades still alarms."""
    from podcast_crawler_spark.operators.stats import quality_drift

    rows = []
    for ep in range(10):
        rows.append(("early", ep, 100))
        if ep >= 5:  # 'late' appears mid-crawl at epoch 5
            rows.append(("late", ep, 100 if ep < 8 else 40))
    df = spark.createDataFrame(rows, "source string, epoch int, quality int")
    out = quality_drift(
        df, baseline_epochs=3, slack_k=5_000_000, threshold_h=80_000_000
    ).toPandas()
    late = out[out.source == "late"].set_index("epoch")
    # present in output at every observed epoch (not silently dropped)
    assert sorted(late.index) == list(range(5, 10))
    # baseline = mean of epochs 5..7 (its first 3 observed) = 100
    assert (late.target_micro == 100_000_000).all()
    # the epoch-8 drop accumulates 55M/epoch; alarms at epoch 9
    assert int(late.loc[8].cusum) == 55_000_000
    assert bool(late.loc[9].alarm)
