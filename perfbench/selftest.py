"""Tiny-size self-test of the benchmark.

    python3 perfbench/selftest.py

Runs both workloads traced on a 300-feed window in one Spark session and
checks that every metric BENCHMARK.json declares is measured and that the
correctness check passes.  Then, as a negative control, it corrupts a copy
of a committed frontier snapshot (one parsed url flipped back to pending)
and requires the check to count exactly that one mismatch.  Exits 0 when all of that holds.
"""

from __future__ import annotations

import dataclasses
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_FEEDS = 300


def corrupt_frontier(spark, state, url: str) -> None:
    """Commit a copy of the current frontier with *url* flipped to pending."""
    from pyspark.sql import functions as F

    df = state.frontier.read(spark)
    state.frontier.commit(df.withColumn(
        "state", F.when(F.col("url") == url, "pending").otherwise(F.col("state"))
    ).localCheckpoint())


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench import session

    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    session.isolate_env(work, ROOT)
    try:
        return _run(work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(work: str) -> int:
    from perfbench import corpus, oracle, run, session, workloads
    from podcast_crawler_spark.plans.epoch import CrawlState

    cores = session.cores()
    problems = []
    rows = {n: corpus.generate(1, N_FEEDS, cores) for n in workloads.SPECS}
    t = time.perf_counter()
    spark = session.start(work, cores)
    session_s = time.perf_counter() - t
    try:
        for name, spec in workloads.SPECS.items():
            spec = dataclasses.replace(spec, n_feeds=N_FEEDS)
            bench = workloads.Bench(spark, name, rows[name], os.path.join(work, name),
                                    cores, True, spec)
            bench.prepare()
            bench.measure(0)
            bench.check()
            values = dict(bench.per_layer())
            values.update(bench.end_to_end(session_s, 1.0))
            for section in ("end_to_end", "per_layer"):
                missing = set(run.declared(section)) - set(values)
                if missing:
                    problems.append(f"{name}: {section} not measured: {sorted(missing)}")
            if bench.tally.failed:
                problems.append(f"{name}: check failed: {bench.tally.examples}")
            print(f"{name}: {len(values)} metrics, {bench.tally.attempted} checks")

            # negative control: the check must catch a corrupted snapshot
            copy = os.path.join(work, name, "corrupted")
            shutil.copytree(bench.drained[-1].root, copy)
            state = CrawlState.open(copy)
            model = corpus.Model(bench.inputs.feeds, bench.cfg)
            for _ in range(len(bench.ops) + 1 if name == "polite_steady" else 1):
                model.run_epoch()
            url = min(model.parsed)
            corrupt_frontier(spark, state, url)
            tally = oracle.Tally()
            oracle.check_frontier(tally, spark, state, model)
            if tally.failed != 1:
                problems.append(f"{name}: corrupted {url}, check counted "
                                f"{tally.failed} mismatches instead of 1")
    finally:
        session.stop(spark)
    for p in problems:
        print("FAIL", p)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
