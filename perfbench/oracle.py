"""Correctness checks of committed snapshots against ``corpus.Model``.

Every check is one operation: a url's frontier row, a podcast or episode
key, an epoch's manifest counts, a parsed url's extracted text, an admitted
url.  ``Tally`` counts operations and the ones whose outcome disagrees with
the model; the run's ``failed_share`` is their ratio.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Dict, Iterable, List, Set

from pyspark.sql import functions as F

from podcast_crawler_spark.functions.udfs import parse_pages

ADMIT_PRIORITY = 1_000_000  # admit_urls' default priority for discovered urls


@dataclass
class Tally:
    attempted: int = 0
    failed: int = 0
    examples: List[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.examples) < 10:
                self.examples.append(what)

    def same_sets(self, got: Set, want: Set, what: str) -> None:
        for k in want:
            self.check(k in got, f"{what}: missing {k}")
        for k in got - want:
            self.check(False, f"{what}: unexpected {k}")


def check_epochs(t: Tally, manifests: Iterable[Dict], model_epochs: List[Dict]) -> None:
    """Per-epoch scheduled/fetched/parsed counts from the frontier manifests;
    the engine must have published one manifest per model epoch."""
    manifests = list(manifests)
    t.check(len(manifests) == len(model_epochs),
            f"{len(manifests)} epoch manifests != {len(model_epochs)} epochs")
    for m, want in zip(manifests, model_epochs):
        got = {k: m["metrics"].get(k) for k in want}
        t.check(got == want, f"epoch {m['metrics'].get('epoch')}: {got} != {want}")


def check_frontier(t: Tally, spark, state, model) -> Dict[str, str]:
    """Each seed url's frontier row must match the model; returns url->state."""
    rows = state.frontier.read(spark).filter(
        F.col("priority") != ADMIT_PRIORITY
    ).select(
        "url", "state", "retries",
        F.col("next_fetch_ts").cast("long").alias("next_fetch"),
        "error_kind",
    ).collect()
    got = {r.url: r for r in rows}
    for url, want in model.rows.items():
        r = got.get(url)
        ok = r is not None and (
            r.state, r.retries, r.next_fetch, r.error_kind
        ) == (want.state, want.retries, want.next_fetch, want.error_kind)
        t.check(ok, f"frontier {url}: {r} != {want}")
    for url in set(got) - set(model.rows):
        t.check(False, f"frontier: unexpected {url}")
    return {u: r.state for u, r in got.items()}


def check_outputs(t: Tally, spark, state, model) -> None:
    """Resolved podcasts/episodes hold exactly the parsed feeds' keys."""
    pods = state.podcasts.read(spark)
    eps = state.episodes.read(spark)
    got_pods = {r[0] for r in pods.select("rss_feed_url").collect()} if pods else set()
    got_eps = [r[0] for r in eps.select("guid").collect()] if eps else []
    t.same_sets(got_pods, set(model.parsed), "podcasts")
    t.check(len(got_eps) == len(set(got_eps)), "episodes: duplicate guid rows")
    t.same_sets(set(got_eps), model.guids(), "episodes")


def check_text(t: Tally, spark, table: str, parsed_urls: Set[str]) -> None:
    """The engine's parse stage must reproduce ``pages.text`` byte for byte
    for every url the crawl parsed.  pagesgen computes ``pages.text`` with
    the same kernel in-process, so this compares the kernel with itself
    across the Arrow boundary of ``parse_pages``; it catches a boundary
    fault, not a kernel change."""
    if not parsed_urls:
        return
    urls = spark.createDataFrame([(u,) for u in sorted(parsed_urls)], "url string")
    pages = spark.table(table).join(urls, "url", "left_semi")
    # Spark compares strings by their UTF-8 bytes
    same = F.coalesce(F.col("extracted_text") == F.col("text"), F.lit(False))
    got = dict(parse_pages(pages, passthrough=["url", "text"]).select(
        "url", same.alias("same")
    ).collect())
    for u in parsed_urls:
        t.check(got.get(u, False), f"extracted_text {u}")


def check_admitted(t: Tally, spark, state, want: Set[str], frontier_rows: int) -> None:
    """After admission the frontier holds the seed rows plus exactly one row
    per discovered url."""
    fr = state.frontier.read(spark)
    got = [r.url for r in fr.filter(F.col("priority") == ADMIT_PRIORITY)
           .select("url").collect()]
    t.check(len(got) == len(set(got)), "admitted: duplicate rows")
    t.same_sets(set(got), want, "admitted")
    t.check(fr.count() == frontier_rows, "frontier row count after admission")
