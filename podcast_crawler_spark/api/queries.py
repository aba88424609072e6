"""Read-side query API — the reference's seven actix routes re-expressed
as DataFrame operations over the engine's output tables (SURVEY.md §2.12).

Route → method mapping (handlers at ``/root/reference/src/metrics.rs:30-43,
138-230``, routes ``metrics.rs:232-257``, ``docs/API.md:1-80``):

| Route                                         | Method                          |
|-----------------------------------------------|---------------------------------|
| GET /metrics                                  | ``metrics()``                   |
| POST /add_task {rss_url}                      | ``add_task()`` → ``admit_urls`` |
| GET /podcasts/search?q=                       | ``search()``                    |
| GET /podcasts?include_episodes=               | ``podcasts()``                  |
| GET /podcasts/page/{page}/{per_page}          | ``podcasts_page()``             |
| GET /podcasts/by-title/{title}                | ``podcast_by_title()``          |
| GET /podcasts/{id}/episodes/{page}/{per_page} | ``episodes_page()``             |

The one write route, ``add_task``, admits through ``plans.epoch.admit_urls``
(the frontier's only growth path), so its url also enters the seen index.

Pagination is LIMIT/OFFSET parity (``podcast_repository.rs:59-65,
300-307``) via ``row_number`` (W1/W2) — on a cluster the window is
per-partition-pruned when an ordering column is also the sort key of the
table layout.  All joins broadcast the podcast side (small dim vs the
episode fact table).
"""

from __future__ import annotations

from datetime import datetime, timezone
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.frontier import CrawlConfig
from ..plans.epoch import CrawlState, admit_urls


def page_slice(
    df: DataFrame,
    order_cols,
    page: int,
    per_page: int,
    max_take: int = 1_000_000,
) -> DataFrame:
    """W1: ``ORDER BY ... LIMIT per_page OFFSET (page-1)*per_page``.

    Scale-safe plan: ``orderBy(...).limit(page·per_page)`` compiles to
    ``TakeOrderedAndProject`` — each partition keeps its own top
    ``page·per_page`` rows and only those merge, so the full table never
    funnels through one task (a bare global ``row_number`` window would —
    the classic single-partition window scale-killer).  The offset is then
    applied by a ``row_number`` over the already-limited slice, which is at
    most ``page·per_page`` rows by construction.  The reference pushes
    LIMIT/OFFSET to Postgres (``podcast_repository.rs:59-65``); this is
    the distributed equivalent.

    Pages beyond ``max_take`` rows deep are refused rather than silently
    instantiating a global sort — deep OFFSET is O(offset) in any engine;
    key-set pagination (range-filter on the sort key, which the frontier
    tables support via their key layout) is the production answer there.
    """
    lo = (page - 1) * per_page
    hi = lo + per_page
    if hi > max_take:
        raise ValueError(
            f"page depth {hi} exceeds max_take={max_take}; use key-set "
            "pagination (range filter on the sort key) for deep offsets"
        )
    top = df.orderBy(*order_cols).limit(hi)
    w = Window.orderBy(*order_cols)
    return (
        top.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") > lo)
        .drop("_rn")
    )


def keyset_page(
    df: DataFrame,
    key_col: str,
    after,
    per_page: int,
    tiebreak_col: str = None,
    after_tie=None,
) -> DataFrame:
    """Key-set (cursor) pagination — the production answer
    :func:`page_slice` points at for deep pages: ``WHERE key > after
    ORDER BY key LIMIT per_page``.  O(per_page) regardless of depth
    (the predicate PUSHES INTO THE SCAN — parquet row groups whose max
    key ≤ after never load; ``page_slice`` at page N reads and ranks
    N·per_page rows), and the cursor is stable under concurrent
    appends, where OFFSET pages shift.

    ``after=None`` opens the first page.  A non-unique key needs
    *tiebreak_col* (+ the previous page's last tie value) so rows equal
    on the key aren't skipped: the resume predicate is the row-value
    comparison ``(key, tie) > (after, after_tie)``.

    Plan: Filter → TakeOrderedAndProject — per-partition top-k + a
    bounded merge; no window, no global sort, no single-task stage.
    """
    order = [F.col(key_col)]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col))
    out = df
    if after is not None:
        if tiebreak_col is None:
            out = out.filter(F.col(key_col) > F.lit(after))
        else:
            out = out.filter(
                (F.col(key_col) > F.lit(after))
                | (
                    (F.col(key_col) == F.lit(after))
                    & (F.col(tiebreak_col) > F.lit(after_tie))
                )
            )
    return out.orderBy(*order).limit(per_page)



class PodcastQueryAPI:
    def __init__(self, spark: SparkSession, state: CrawlState):
        self.spark = spark
        self.state = state

    # -- tables ----------------------------------------------------------
    def _podcasts(self) -> DataFrame:
        df = self.state.podcasts.read(self.spark)
        if df is None:
            raise ValueError("no podcasts snapshot yet")
        return df

    def _episodes(self) -> DataFrame:
        df = self.state.episodes.read(self.spark)
        if df is None:
            raise ValueError("no episodes snapshot yet")
        return df

    # -- routes ----------------------------------------------------------
    def metrics(self) -> DataFrame:
        """GET /metrics — the per-epoch crawl metrics table (A7)."""
        df = self.state.metrics.read(self.spark)
        if df is None:
            raise ValueError("no metrics snapshot yet")
        return df.orderBy("epoch")

    def add_task(self, rss_url: str, priority: int = 0,
                 epoch_ts: Optional[datetime] = None,
                 cfg: CrawlConfig = CrawlConfig()) -> int:
        """POST /add_task — admit one url to the frontier (SURVEY.md §3.2)
        through ``admit_urls``, which also folds it into the seen index;
        the next epoch due at or after *epoch_ts* picks it up.  No-op if
        the canonical URL is already present, and invalid urls are dropped.
        Returns the new frontier snapshot id."""
        ts = epoch_ts or datetime(1970, 1, 1, tzinfo=timezone.utc)
        row = self.spark.createDataFrame(
            [(rss_url, int(priority))], "url string, priority int"
        )
        return admit_urls(self.spark, self.state, row, ts, cfg)

    def search(self, q: str) -> DataFrame:
        """GET /podcasts/search?q= — F6 ``title ILIKE '%q%'``
        (``podcast_repository.rs:44-51``)."""
        return self._podcasts().filter(F.col("title").ilike(f"%{q}%"))

    def podcasts(self, include_episodes: bool = False) -> DataFrame:
        """GET /podcasts — list all; with episodes nested when asked
        (J1 + collect_list, broadcast-joined)."""
        pods = self._podcasts()
        if not include_episodes:
            return pods
        eps = (
            self._episodes()
            .groupBy("podcast_id")
            .agg(F.collect_list(F.struct("guid", "title", "pub_date")).alias("episodes"))
        )
        return pods.join(eps, "podcast_id", "left")

    def podcasts_page(self, page: int, per_page: int) -> DataFrame:
        """GET /podcasts/page/{page}/{per_page} — W1 pagination ordered by
        podcast_id (the reference pages in PK order,
        ``podcast_repository.rs:59-65``)."""
        return page_slice(self._podcasts(), [F.col("podcast_id")], page, per_page)

    def podcast_by_title(self, title: str) -> DataFrame:
        """GET /podcasts/by-title/{title} — F5 exact-match point lookup."""
        return self._podcasts().filter(F.col("title") == title)

    def episodes_page(self, podcast_id: int, page: int, per_page: int) -> DataFrame:
        """GET /podcasts/{id}/episodes/{page}/{per_page} — W2: episodes of
        one podcast, newest first, paginated
        (``podcast_repository.rs:300-307``)."""
        eps = self._episodes().filter(F.col("podcast_id") == podcast_id)
        return page_slice(
            eps, [F.col("pub_date").desc_nulls_last(), F.col("guid")], page, per_page
        )

    def episode_count(self, podcast_id: int) -> int:
        """A2 — count episodes of one podcast
        (``podcast_repository.rs:294-298``)."""
        return self._episodes().filter(F.col("podcast_id") == podcast_id).count()

    def podcast_count(self) -> int:
        """A1 — total podcasts (``podcast_repository.rs:57``)."""
        return self._podcasts().count()
