"""Parse-kernel throughput: one core (scan only and full kernel) and K
forked workers.

One core: ``feedparse.xmlscan.scan`` alone and the full
``parse_feed_result`` kernel, best of three passes over the sample, in
this process -- the kernel A/B between two checkouts is this command run
in each.

K workers: the hardware-scaling curve of the kernel.  The earlier probe
(`git show bf15243:tools/parse_scaling_probe.py`) spawned fresh processes
that each paid interpreter start + imports before parsing a few hundred
feeds -- at that sample size the measured "throughput" is
import-dominated and its N->4N ratio reflects process-spawn scaling, not
parse scaling.  This probe removes every such artifact:

  * corpus htmls in memory: a sample read from a pages parquet dir or,
    with no dir given, the deterministic pagesgen feeds (the pages rows
    of the synthetic corpus)
  * workers are forked AFTER imports and after the sample is loaded
    (copy-on-write: zero import/IO cost inside the timed region)
  * each worker parses its slice repeatedly until a time floor, so the
    per-proc sample is seconds of pure kernel work
  * a barrier start so all K workers run concurrently

Prints one JSON line: {"scan_fps": ..., "kernel_fps": ...,
"total_fps": {K: feeds_per_sec_total}, "per_proc_fps": {...}, ...}

Usage: python tools/parse_kernel_probe.py [corpus_pages_dir] [Ks...]
(Ks default to 1 and the usable core count)
"""

import json
import multiprocessing as mp
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow.dataset as ds

from podcast_crawler_spark.feedparse.rssparse import parse_feed_result
from podcast_crawler_spark.feedparse.xmlscan import scan
from podcast_crawler_spark.sources.pagesgen import FAIL_NO_PAGE, feed_url, feed_xml

SAMPLE = 6000
MIN_SECONDS = 6.0


def load_sample(path):
    if path is None:
        ids = [i for i in range(SAMPLE) if i % 97 != FAIL_NO_PAGE]
        return [feed_url(i) for i in ids], [feed_xml(i).encode() for i in ids]
    d = ds.dataset(path, format="parquet")
    tbl = d.head(SAMPLE, columns=["url", "html"])
    urls = tbl.column("url").to_pylist()
    htmls = [bytes(h) for h in tbl.column("html").to_pylist()]
    return urls, htmls


def single_core(urls, htmls):
    """Feeds/s of the scanner alone and of the full kernel, best of 3."""
    texts = [h.decode("utf-8", errors="replace") for h in htmls]

    def scan_all():
        for doc in texts:
            for _ in scan(doc):
                pass

    def parse_all():
        for url, html in zip(urls, htmls):
            parse_feed_result(html, url)

    out = {}
    for name, fn in (("scan_fps", scan_all), ("kernel_fps", parse_all)):
        best = float("inf")
        for _ in range(3):
            t = time.perf_counter()
            fn()
            best = min(best, time.perf_counter() - t)
        out[name] = round(len(urls) / best, 1)
    return out


def worker(urls, htmls, start_evt, out_q):
    start_evt.wait()
    n = len(urls)
    t0 = time.time()
    done = 0
    while time.time() - t0 < MIN_SECONDS:
        for i in range(n):
            parse_feed_result(htmls[i], urls[i])
        done += n
    out_q.put((done, time.time() - t0))


def run_k(k, urls, htmls):
    """K concurrent workers, parent affinity pinned to cores 0..k-1 before
    the fork (inherited) so the K-proc leg sees exactly K cores — the
    same discipline as the taskset-pinned bench legs."""
    prev = os.sched_getaffinity(0)
    try:
        os.sched_setaffinity(0, set(range(k)))
    except OSError:
        prev = None
    ctx = mp.get_context("fork")
    start = ctx.Event()
    q = ctx.Queue()
    procs = [
        ctx.Process(target=worker, args=(urls, htmls, start, q))
        for _ in range(k)
    ]
    for p in procs:
        p.start()
    time.sleep(0.5)  # let every fork reach the barrier
    start.set()
    res = [q.get() for _ in procs]
    for p in procs:
        p.join()
    if prev is not None:
        os.sched_setaffinity(0, prev)
    return round(sum(d / t for d, t in res), 1)


def main():
    args = sys.argv[1:]
    corpus = args.pop(0) if args and not args[0].isdigit() else None
    ks = [int(x) for x in args] or sorted({1, len(os.sched_getaffinity(0))})
    urls, htmls = load_sample(corpus)
    # warm the kernel once in the parent (JIT-free python, but warms
    # any lazy module state) before forking
    for i in range(min(200, len(urls))):
        parse_feed_result(htmls[i], urls[i])
    single = single_core(urls, htmls)
    # two alternating passes per K, keep the max: a ceiling wants the
    # best the hardware showed, and alternation means a transient noisy
    # minute cannot depress one K's both samples while inflating the
    # other's (the failure mode of a single end-of-window probe)
    out = {}
    for _ in range(2):
        for k in ks:
            v = run_k(k, urls, htmls)
            if v > out.get(str(k), 0):
                out[str(k)] = v
    per_proc = {k: round(v / int(k), 1) for k, v in out.items()}
    print(
        json.dumps(
            {
                **single,
                "total_fps": out,
                "per_proc_fps": per_proc,
                "sample": len(urls),
                "min_seconds": MIN_SECONDS,
                "corpus": corpus or "pagesgen",
            }
        )
    )


if __name__ == "__main__":
    main()
