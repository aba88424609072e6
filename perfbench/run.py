"""Crawl-engine benchmark: one run of one workload.

    python3 perfbench/run.py --workload drain --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The run generates its inputs from
``--seed``, sets up a fresh crawl state under ``.perfbench_work/``, runs
the workload's timed operations for at least ``--seconds`` seconds,
checks every committed snapshot against the expected outcomes, and prints
as its last stdout line one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics, with
``--trace 1`` the per-layer metrics (``perfbench/METRICS.md``).  The line
before it carries run details: cores, load, CPU steal, pyspark version,
every op wall and ``failed_share``.  The exit code is 0 only when every
check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("drain", "polite_steady")


def declared(section: str):
    """Names and units of the metrics BENCHMARK.json declares in *section*."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "podcast_crawler_spark")):
        print(f"no podcast_crawler_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    sys.path.insert(0, ROOT)
    from perfbench import session

    session.isolate_env(work, ROOT)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    import pyspark

    from perfbench import corpus, session, trace, workloads

    cores = session.cores()
    load_start, steal_start = os.getloadavg()[0], session.steal_s()
    spec = workloads.SPECS[args.workload]
    t = time.perf_counter()
    rows = corpus.generate(args.seed, spec.n_feeds, cores)
    phases = {"generate_s": time.perf_counter() - t}
    rss = trace.RssSampler(os.getpid()).start()
    t = time.perf_counter()
    spark = session.start(work, cores)
    session_s = time.perf_counter() - t
    try:
        bench = workloads.Bench(spark, args.workload, rows, work, cores,
                                bool(args.trace), spec)
        for name, fn in (("prepare", bench.prepare),
                         ("measure", lambda: bench.measure(args.seconds)),
                         ("check", bench.check)):
            t = time.perf_counter()
            fn()
            phases[name + "_s"] = time.perf_counter() - t
        t = time.perf_counter()
        layer = bench.per_layer() if args.trace else None
        phases["layers_s"] = time.perf_counter() - t
    finally:
        peak = rss.stop()
        t = time.perf_counter()
        session.stop(spark)
        phases["stop_s"] = time.perf_counter() - t
    tally = bench.tally
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "n_feeds": bench.spec.n_feeds, "nproc": cores,
        "load1m": [load_start, os.getloadavg()[0]],
        "steal_s": session.steal_s() - steal_start,
        "pyspark": pyspark.__version__,
        "session_s": session_s, "setup": bench.setup, "phases": phases,
        "ops": [{"wall_s": o.wall, "urls": o.urls, "traced": o.traced}
                for o in bench.ops],
        "failed_share": tally.failed / tally.attempted,
        "mismatches": tally.examples,
    }
    values = layer if args.trace else bench.end_to_end(session_s, peak)
    units = declared("per_layer" if args.trace else "end_to_end")
    missing = sorted(set(units) - set(values))
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    print(json.dumps(detail))
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0 if tally.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
