"""One frontier admission path.  Once the seen index exists, every route
that grows the frontier (``admit_urls``, ``PodcastQueryAPI.add_task``, a
stream seed batch) must fold the keys it adds into ``seen_shards``:
otherwise the bloom pre-filter answers "definitely new" for a url that
is already in the frontier, and a later admission crawls it twice.  The
stream route is checked in ``test_streaming.py``.

Each route also writes frontier rows in ``schemas.FRONTIER_SCHEMA``."""

from pyspark.sql import functions as F

from podcast_crawler_spark.api.queries import PodcastQueryAPI
from podcast_crawler_spark.functions.schemas import FRONTIER_SCHEMA
from podcast_crawler_spark.operators.frontier import CrawlConfig, build_frontier
from podcast_crawler_spark.plans.epoch import admit_urls, discovered_urls, run_crawl
from podcast_crawler_spark.sources.pagesgen import (
    EPOCH0,
    gen_pages,
    gen_robots,
    gen_seeds,
)

N = 30
CFG = CrawlConfig(per_host_budget=1000, max_retries=1, num_partitions=4)
NEW_URL = "https://fresh-host.example/feeds/only-once.xml"


def _names_and_types(df):
    return [(f.name, f.dataType) for f in df.schema]


FRONTIER_TYPES = [(f.name, f.dataType) for f in FRONTIER_SCHEMA]


def _rows_for(spark, state, url):
    return state.frontier.read(spark).filter(F.col("url") == url).count()


def test_build_frontier_matches_frontier_schema(spark):
    frontier = build_frontier(gen_seeds(spark, 10, partitions=2), EPOCH0, CFG)
    assert _names_and_types(frontier) == FRONTIER_TYPES


def test_add_task_folds_into_seen_index(spark, tmp_path):
    state = run_crawl(
        spark,
        str(tmp_path / "state"),
        gen_seeds(spark, N, partitions=2),
        gen_pages(spark, N, partitions=2),
        gen_robots(spark, N, partitions=2),
        epochs=1,
        epoch0=EPOCH0,
        cfg=CFG,
    )
    # build the seen index with one ordinary admission
    admit_urls(spark, state, discovered_urls(state, spark), EPOCH0, CFG)
    assert _names_and_types(state.frontier.read(spark)) == FRONTIER_TYPES
    seen_before = state.seen_shards.current_snapshot_id()
    assert seen_before is not None

    PodcastQueryAPI(spark, state).add_task(NEW_URL, priority=1, cfg=CFG)
    assert state.seen_shards.current_snapshot_id() > seen_before
    assert _rows_for(spark, state, NEW_URL) == 1
    assert _names_and_types(state.frontier.read(spark)) == FRONTIER_TYPES

    admit_urls(spark, state, spark.createDataFrame([(NEW_URL,)], "url string"),
               EPOCH0, CFG)
    assert _rows_for(spark, state, NEW_URL) == 1
    f = state.frontier.read(spark)
    assert f.count() == f.select("canonical_url").distinct().count()
