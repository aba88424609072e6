"""The workloads: set-up, the timed loop and the correctness check.

Both workloads time ``run_epoch`` through the engine's public entry points:

* ``drain``: one epoch over a fresh frontier with an unbounded per-host
  budget, so every due url is scheduled, fetched from the bucketed layout
  and parsed in one epoch.  Each op gets its own fresh frontier.
* ``polite_steady``: consecutive epochs at the reference budget of 5 per
  host after an untimed first epoch, so each epoch schedules the hot
  hosts' top 5 plus retry backoffs while scanning and rewriting the whole
  frontier.  Ops run in whole merge-on-read compaction cycles.

A traced run also times one admission round on a copy of the crawled
state: ``admit_urls(discovered_urls(...))`` twice, first with new urls
(bloom probe, fold, frontier append), then with the same urls, now all
duplicates (bloom "maybe", exact verify).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Dict, List, Optional

from podcast_crawler_spark.operators.frontier import CrawlConfig
from podcast_crawler_spark.plans.epoch import (
    CrawlState,
    admit_urls,
    discovered_urls,
    init_crawl,
    run_epoch,
    seen_shards_current,
)
from podcast_crawler_spark.sources.bucketed import write_bucketed_pages

from . import corpus, layers, oracle, session, trace

# merge-on-read output tables compact once they hold this many segments;
# 3 makes a cycle of 2 epochs (one delta, one delta plus compaction), so a
# short run spans whole cycles
POLITE_COMPACT_SEGMENTS = 3
WRITES = ("prepare", "publish", "commit", "commit_local", "commit_delta", "compact")


@dataclass
class Spec:
    n_feeds: int
    budget: int
    min_ops: int
    multiple: int = 1  # ops run in groups of this many
    compact_segments: int = CrawlConfig.compact_segments


SPECS = {
    "drain": Spec(n_feeds=10_000, budget=10**9, min_ops=2),
    "polite_steady": Spec(n_feeds=1000, budget=5, min_ops=2, multiple=2,
                          compact_segments=POLITE_COMPACT_SEGMENTS),
}


@dataclass
class Op:
    wall: float
    urls: int
    traced: bool
    span: Optional[trace.Span] = None
    spark: Dict[str, float] = field(default_factory=dict)
    cpu: Dict[str, float] = field(default_factory=dict)


class Bench:
    def __init__(self, spark, workload: str, rows, work: str, cores: int,
                 traced: bool, spec: Spec):
        self.spark, self.workload, self.work = spark, workload, work
        self.cores, self.traced = cores, traced
        self.spec, self.rows = spec, rows
        self.tracer = trace.Tracer()
        self.counters = trace.SparkCounters(spark)
        self.jvm = session.jvm_pid(spark)
        self.ops: List[Op] = []
        self.setup: Dict[str, float] = {}
        self.tally = oracle.Tally()
        self.admitted: Optional[CrawlState] = None  # set by admission()

    # -- set-up --------------------------------------------------------------

    def prepare(self) -> None:
        """Bucketed ingest of the generated rows, ``init_crawl`` and the
        workload's warm-up."""
        spark, spec = self.spark, self.spec
        t = time.perf_counter()
        # the Python workers start (and import the engine) while the JVM
        # ingests; the warm-up epoch is their first real use
        pool = ThreadPoolExecutor(max_workers=1)
        workers = pool.submit(
            spark.range(0, 2 * self.cores, 1, 2 * self.cores)
            .mapInPandas(_import_engine, "id long")
            .write.format("noop").mode("overwrite").save
        )
        self.inputs = corpus.load(spark, self.rows, self.work)
        self.tally.check(self.inputs.generator_mismatches == 0,
                         f"{self.inputs.generator_mismatches} feeds disagree "
                         "with the generator's residue rules")
        parts = 2 * self.cores
        self.cfg = CrawlConfig(
            per_host_budget=spec.budget, num_partitions=parts,
            pages_bucketed_table="pages_bucketed",
            compact_segments=spec.compact_segments,
        )
        write_bucketed_pages(self.inputs.pages, self.cfg.pages_bucketed_table,
                             buckets=parts, one_file_per_bucket=True)
        ingest_s = time.perf_counter() - t
        t = time.perf_counter()
        self.state = self._init("state-0")
        init_s = time.perf_counter() - t
        t = time.perf_counter()
        workers.result()
        pool.shutdown()
        self._warm_up()
        self.setup = {
            "ingest_s": ingest_s,
            "init_s": init_s,
            "warmup_s": time.perf_counter() - t,
        }

    def _init(self, name: str) -> CrawlState:
        return init_crawl(self.spark, self.inputs.seeds,
                          os.path.join(self.work, name), corpus.EPOCH0, self.cfg)

    def _epoch(self, state: CrawlState, i: int) -> Dict:
        self.last_input = (state, state.frontier.current_snapshot_id(), corpus.epoch_ts(i))
        return run_epoch(self.spark, state, self.inputs.pages, self.inputs.robots,
                         corpus.epoch_ts(i), self.cfg)

    def _warm_up(self) -> None:
        """One untimed epoch.  On polite_steady it is the workload's first
        epoch; on drain it runs every stage once at full size, so that the
        timed epochs run warm code."""
        self._epoch(self.state, 0)
        self.drained = [self.state]

    # -- timed loop ----------------------------------------------------------

    def measure(self, seconds: float) -> None:
        """Run ops until *seconds* have passed and at least the spec's
        minimum has run, in whole groups of ``spec.multiple``.  A traced run
        traces those ops and brackets them with one untraced op on each
        side, so a drift along the run weighs on both sides alike; then it
        runs the admission round."""
        t0 = time.perf_counter()
        if self.traced:
            self.ops.append(self._run_op(0, False))
        while True:
            self.ops.append(self._run_op(len(self.ops), self.traced))
            n = sum(o.traced == self.traced for o in self.ops)
            if (time.perf_counter() - t0 >= seconds and n >= self.spec.min_ops
                    and n % self.spec.multiple == 0):
                break
        if self.traced:
            self.ops.append(self._run_op(len(self.ops), False))
            self.admission()

    def _run_op(self, i: int, traced: bool) -> Op:
        if self.workload == "drain":
            # a fresh frontier, made outside the op's time
            state, epoch_no = self._init(f"state-{i + 1}"), 0
            self.drained.append(state)
        else:
            state, epoch_no = self.state, i + 1
        with self._traced(traced) as op:
            op.urls = self._epoch(state, epoch_no)["scheduled"]
        return op

    @contextmanager
    def _traced(self, traced: bool):
        """Time one op; when *traced*, also record its spans, Spark counters
        and process CPU."""
        op = Op(0.0, 0, traced)
        if not traced:
            t0 = time.perf_counter()
            yield op
            op.wall = time.perf_counter() - t0
            return
        restore = self.tracer.wrap_checkpoint()
        try:
            job0 = self.counters.last_job()
            cpu0 = session.cpu_split(self.jvm)
            with self.tracer.span("op") as op.span:
                yield op
            op.wall = op.span.dur
            cpu1 = session.cpu_split(self.jvm)
            op.spark = self.counters.since(job0)
            op.cpu = {k: cpu1[k] - cpu0[k] for k in cpu1}
        finally:
            restore()

    def admission(self) -> None:
        """One admission round on a copy of the crawled state (the copy
        keeps the workload's own state untouched); traced runs only."""
        fork = os.path.join(self.work, "admission")
        shutil.copytree(self.drained[-1].root, fork)
        state = CrawlState.open(fork)
        seen_shards_current(self.spark, state, self.cfg)  # bootstrap, untimed
        with self._traced(True) as op:
            for kind in ("new", "dup"):
                cands = discovered_urls(state, self.spark)
                with self.tracer.span(f"admit_urls.{kind}"):
                    admit_urls(self.spark, state, cands, corpus.epoch_ts(1), self.cfg)
                if kind == "new":
                    self.after_new = state.frontier.manifest()["row_count"]
        self.admit_op, self.admitted = op, state

    # -- correctness ---------------------------------------------------------

    def check(self) -> None:
        spark, t = self.spark, self.tally
        model = corpus.Model(self.inputs.feeds, self.cfg)
        if self.workload == "drain":
            model.run_epoch()
            mans = [s.frontier.manifest() for s in self.drained]
            oracle.check_epochs(t, mans, model.epochs * (len(self.ops) + 1))
        else:
            for _ in range(len(self.ops) + 1):
                model.run_epoch()
            oracle.check_epochs(t, _epoch_manifests(self.state), model.epochs)
        state = self.drained[-1]
        oracle.check_frontier(t, spark, state, model)
        oracle.check_outputs(t, spark, state, model)
        oracle.check_text(t, spark, self.cfg.pages_bucketed_table, model.parsed)
        if self.admitted is not None:
            want = model.discovered()
            rows = len(model.rows) + len(want)
            t.check(self.after_new == rows, f"frontier rows after new batch "
                    f"{self.after_new} != {rows}")
            oracle.check_admitted(t, spark, self.admitted, want, rows)

    # -- metrics ---------------------------------------------------------------

    def end_to_end(self, session_s: float, peak_rss_mb: float) -> Dict[str, float]:
        walls = [o.wall for o in self.ops]
        return {
            "epoch_s": statistics.median(walls),
            "urls_per_s": sum(o.urls for o in self.ops) / sum(walls),
            "setup_s": session_s + sum(self.setup.values()),
            "peak_rss_mb": peak_rss_mb,
        }

    def per_layer(self) -> Dict[str, float]:
        """Per-epoch values of the traced epochs, the admission round, the
        layer-isolation probe and the trace overhead."""
        self.tracer.link()
        # means over the traced epochs, which on polite_steady are one whole
        # compaction cycle: each value is then a per-epoch amortized cost
        per_op = [self._epoch_layers(o) for o in self.ops if o.traced]
        out = {k: statistics.mean(d[k] for d in per_op) for k in per_op[0]}
        out.update(self._admission_layers(self.admit_op))
        plain = [o.wall for o in self.ops if not o.traced]
        out["trace.overhead_share"] = out["probe.epoch_s"] / statistics.mean(plain) - 1.0
        out["setup.ingest_s"] = self.setup["ingest_s"]
        state, snap, ts = self.last_input
        out.update(layers.probe(self.spark, state, snap, ts, self.inputs.robots,
                                self.cfg, self.cores, self.admitted))
        return out

    def _epoch_layers(self, op: Op) -> Dict[str, float]:
        tr, e = self.tracer, op.span  # the op is one run_epoch call
        kids = tr.descendants(e)
        first = min(s.start for s in kids if s.name[len("checkpoint."):] in WRITES)
        local = min(s.start for s in kids if s.name == "checkpoint.commit_local")
        out = {
            "probe.epoch_s": e.dur,
            "epoch.parse_phase_s": first - e.start,
            "epoch.commit_phase_s": local - first,
            "epoch.tail_s": e.end - local,
            "epoch.self_s": e.dur - trace.covered(tr.children(e), e.start, e.end),
        }
        for m in WRITES:
            out[f"checkpoint.{m}_s"] = sum(s.dur for s in kids if s.name == f"checkpoint.{m}")
        sized = [s for s in kids if "files" in s.info]
        out["checkpoint.files_written"] = sum(s.info["files"] for s in sized)
        out["checkpoint.bytes_written"] = sum(s.info["bytes"] for s in sized)
        out["checkpoint.segments_read"] = sum(s.info.get("segments", 0) for s in kids)
        sp = op.spark
        for k in ("jobs", "stages", "tasks", "executor_run_s", "gc_s",
                  "shuffle_write_bytes", "spill_bytes"):
            out["spark." + k] = sp[k]
        out["spark.busy_share"] = sp["executor_run_s"] / (op.wall * self.cores)
        out["proc.jvm_cpu_s"] = op.cpu["jvm"]
        out["proc.python_cpu_s"] = op.cpu["python"]
        return out

    def _admission_layers(self, op: Op) -> Dict[str, float]:
        tr = self.tracer
        calls = {c.name.split(".")[1]: c for c in tr.children(op.span)}
        kids = [s for c in calls.values() for s in tr.descendants(c)]
        return {
            "epoch.admit_new_s": calls["new"].dur,
            "epoch.admit_dup_s": calls["dup"].dur,
            "epoch.admit_self_s": sum(
                c.dur - trace.covered(tr.children(c), c.start, c.end)
                for c in calls.values()
            ),
            "checkpoint.admit_commit_s": sum(
                s.dur for s in kids if s.name == "checkpoint.commit"
            ),
            "spark.admit_jobs": op.spark["jobs"],
        }


def _import_engine(batches):
    import podcast_crawler_spark.functions.udfs  # noqa: F401

    yield from batches


def _epoch_manifests(state: CrawlState) -> List[Dict]:
    """Frontier manifests written by ``run_epoch`` (they carry 'scheduled')."""
    mans = [state.frontier.manifest(i) for i in state.frontier.snapshot_ids()]
    return [m for m in mans if "scheduled" in m["metrics"]]
