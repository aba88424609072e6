"""Epoch metrics — the Spark re-expression of the reference's stats and
Prometheus surface (SURVEY.md §2.5 A3-A7, §2.1 K4).

* A3 batch stats (``/root/reference/src/crawler/batch_processor/
  stats.rs:31-142``): total/success/failure counts, success rate, total+avg
  duration.
* A4 error categorization (``stats.rs:144-156``): substring match →
  {Timeout, Connection Refused, DNS Error, Parse Error, Other Error}.
* A6 log analysis (``scripts/task_analysis.sh:5-135``): per-task duration
  max/min/avg/median.
* A7 Prometheus counters/histogram (``src/metrics.rs:47-116``) are not
  here: the epoch's Observation metrics, ``stage_metrics_stream`` and the
  ``duration_histogram`` query of ``__spark_entry__`` cover them.

All pure ``groupBy``/``agg`` column expressions — metrics are tables, not a
scrape endpoint (§7.3 non-goals).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# A4 error taxonomy (stats.rs:144-156)
ERROR_TYPES = [
    "Timeout",
    "Connection Refused",
    "DNS Error",
    "Parse Error",
    "Other Error",
]


def categorize_error(err: Column) -> Column:
    """A4: the reference matches lowercase substrings of the error text."""
    low = F.lower(err)
    return (
        F.when(err.isNull(), F.lit(None).cast("string"))
        .when(low.contains("timeout") | low.contains("timed out"), "Timeout")
        .when(low.contains("connection refused"), "Connection Refused")
        .when(low.contains("dns"), "DNS Error")
        .when(low.contains("parse") | low.contains("missing"), "Parse Error")
        .otherwise("Other Error")
    )


def batch_stats(outcomes: DataFrame, duration_col: str = "duration_s") -> DataFrame:
    """A3: one summary row per epoch.  *outcomes* needs ``success: bool``
    and a duration column."""
    return outcomes.agg(
        F.count("*").alias("total_count"),
        F.sum(F.col("success").cast("long")).alias("success_count"),
        F.sum((~F.col("success")).cast("long")).alias("failure_count"),
        (F.sum(F.col("success").cast("double")) / F.count("*")).alias(
            "success_rate"
        ),
        F.sum(duration_col).alias("total_duration_s"),
        F.avg(duration_col).alias("avg_duration_s"),
        F.max(duration_col).alias("max_duration_s"),
        F.min(duration_col).alias("min_duration_s"),
        F.percentile_approx(duration_col, 0.5).alias("median_duration_s"),
    )


def error_histogram(outcomes: DataFrame, error_col: str = "last_error") -> DataFrame:
    """A4: error-category histogram over failure rows."""
    return (
        outcomes.filter(F.col(error_col).isNotNull())
        .groupBy(categorize_error(F.col(error_col)).alias("error_type"))
        .count()
        .withColumnRenamed("count", "n")
    )


def host_concentration(
    urls: DataFrame, host_col: str = "host", top_k: int = 10
) -> DataFrame:
    """Frontier-health concentration metric: how much of the queue
    belongs to its biggest hosts.  A frontier at top1 = 40% means the
    politeness budget serializes on one host and the crawl's effective
    parallelism collapses — the alarm that triggers budget caps /
    discovery rebalancing (the operational reading of the X6 hot-host
    salting threat model).

    ONE summary row: ``(n_urls, n_hosts, max_host_urls, top1_ppm,
    topk_ppm)``.  Shares are exact integer ppm and overflow-safe at any
    scale (``10^6 · count ≤ 10^16`` at a 10^10 frontier — unlike an
    HHI's Σcount², which overflows int64 at exactly the concentrated
    frontiers it is meant to flag; top-share is the same signal,
    bounded).

    Scale shape: one map-side-combined groupBy(host); the global
    aggregate and the ``TakeOrderedAndProject`` top-k both reduce the
    per-host counts (O(hosts) rows), then two 1-row frames cross-join.
    """
    counts = urls.groupBy(host_col).agg(F.count(F.lit(1)).alias("n"))
    g = counts.agg(
        F.sum("n").alias("n_urls"),
        F.count(F.lit(1)).alias("n_hosts"),
        F.max("n").alias("max_host_urls"),
    )
    topk = (
        counts.orderBy(F.col("n").desc(), F.col(host_col))
        .limit(int(top_k))
        .agg(F.sum("n").alias("_topk"))
    )
    return g.crossJoin(topk).select(
        "n_urls",
        "n_hosts",
        "max_host_urls",
        F.expr("(1000000 * max_host_urls) div n_urls").alias("top1_ppm"),
        F.expr("(1000000 * _topk) div n_urls").alias("topk_ppm"),
    )


def concentration_oracle_sql(
    urls_sql: str, top_k: int = 10
) -> str:
    """DuckDB replay of :func:`host_concentration`."""
    return f"""
        WITH c AS (
            SELECT host, COUNT(*) AS n FROM ({urls_sql}) u GROUP BY host
        ),
        g AS (
            SELECT SUM(n)::BIGINT AS n_urls, COUNT(*) AS n_hosts,
                   MAX(n)::BIGINT AS max_host_urls
            FROM c
        ),
        t AS (
            SELECT SUM(n)::BIGINT AS topk FROM (
                SELECT n FROM c ORDER BY n DESC, host LIMIT {int(top_k)}
            ) x
        )
        SELECT n_urls, n_hosts, max_host_urls,
               ((1000000 * max_host_urls) // n_urls)::BIGINT AS top1_ppm,
               ((1000000 * topk) // n_urls)::BIGINT AS topk_ppm
        FROM g, t
    """


def quality_drift(
    docs: DataFrame,
    group_col: str = "source",
    epoch_col: str = "epoch",
    value_col: str = "quality",
    baseline_epochs: int = 3,
    slack_k: int = 20_000,
    threshold_h: int = 100_000,
) -> DataFrame:
    """Per-source quality-drift alarm — integer one-sided CUSUM (Page
    1954) over each source's per-epoch mean quality, detecting the
    DOWNWARD shift that says a feed/site/dump started serving junk
    mid-crawl (template swap, spam takeover, extractor regression on a
    redesign).  The pipeline-governance twin of `change_rates`: that
    one watches page bytes churn, this one watches the quality of what
    the corpus is absorbing.

    Everything is integer micro-units so both engines replay the
    decision: per (group, epoch) mean = ``1e6·Σvalue div n``; the
    baseline target is the mean of each group's first
    *baseline_epochs* OBSERVED epoch means (per-group rank, not an
    absolute epoch cutoff — a source that first appears mid-crawl
    still gets a baseline and drift monitoring instead of being
    silently dropped by the join); the CUSUM increment is
    ``d_t = (target − k) − x_t`` and the
    statistic uses the prefix identity ``s_t = P_t − min(0, min_{j≤t}
    P_j)`` (P = running sum of d) — the max(0, s+d) recurrence in
    closed windowed form, so NO recursion/UDF: two window functions.
    Alarm when ``s_t > h``.

    Scale shape: one map-side-combined aggregate to (group, epoch)
    rows — the only corpus-size exchange; the CUSUM windows partition
    by group over per-epoch rows (a group has at most `epochs` rows —
    hundreds — so a per-group window task is O(epochs), never
    corpus-sized).  Baseline join is an O(groups) broadcast.

    Output per (group, epoch): ``(group, epoch, x_micro, target_micro,
    cusum, alarm)``.
    """
    from pyspark.sql import Window

    g, ep = F.col(group_col), F.col(epoch_col)
    per_epoch = docs.groupBy(
        g.alias("grp"), ep.cast("long").alias("epoch")
    ).agg(
        F.expr(f"1000000 * sum(cast({value_col} as bigint))"
               f" div count(*)").alias("x_micro")
    )
    w_rank = Window.partitionBy("grp").orderBy("epoch")
    base = (
        per_epoch.withColumn("rk", F.row_number().over(w_rank))
        .filter(F.col("rk") <= int(baseline_epochs))
        .groupBy("grp")
        .agg(
            F.expr("sum(x_micro) div count(*)").alias("target_micro")
        )
    )
    w_ord = Window.partitionBy("grp").orderBy("epoch")
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d = F.col("target_micro") - F.lit(int(slack_k)) - F.col("x_micro")
    scored = (
        per_epoch.join(F.broadcast(base), "grp")
        .withColumn("p", F.sum(d).over(w_run))
        .withColumn(
            "cusum",
            F.col("p") - F.least(F.lit(0).cast("long"),
                                 F.min("p").over(w_run)),
        )
    )
    return scored.select(
        F.col("grp").alias(group_col),
        "epoch",
        "x_micro",
        "target_micro",
        "cusum",
        (F.col("cusum") > F.lit(int(threshold_h))).alias("alarm"),
    )


def drift_oracle_sql(
    docs_sql: str,
    baseline_epochs: int = 3,
    slack_k: int = 20_000,
    threshold_h: int = 100_000,
) -> str:
    """DuckDB replay of :func:`quality_drift` — identical windows and
    the same prefix-min CUSUM identity.  *docs_sql* must yield
    (source, epoch, quality)."""
    return f"""
        WITH d AS ({docs_sql}),
        pe AS (
          SELECT source AS grp, epoch::BIGINT epoch,
                 (1000000 * sum(quality::BIGINT) // count(*))::BIGINT
                     x_micro
          FROM d GROUP BY 1, 2
        ),
        b AS (
          SELECT grp,
                 (sum(x_micro) // count(*))::BIGINT target_micro
          FROM (
            SELECT *, row_number() OVER (
                PARTITION BY grp ORDER BY epoch
            ) rk FROM pe
          ) WHERE rk <= {int(baseline_epochs)} GROUP BY grp
        ),
        p AS (
          SELECT pe.*, b.target_micro,
                 sum(b.target_micro - {int(slack_k)} - pe.x_micro) OVER (
                     PARTITION BY pe.grp ORDER BY pe.epoch
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 )::BIGINT pref
          FROM pe JOIN b USING (grp)
        )
        SELECT grp AS source, epoch, x_micro, target_micro,
               (pref - least(0, min(pref) OVER (
                    PARTITION BY grp ORDER BY epoch
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               )))::BIGINT AS cusum,
               (pref - least(0, min(pref) OVER (
                    PARTITION BY grp ORDER BY epoch
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ))) > {int(threshold_h)} AS alarm
        FROM p
    """
