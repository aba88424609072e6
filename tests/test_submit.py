"""North-rule deployment contract: the engine runs via
``spark-submit --py-files dist/podcast_crawler_spark.zip`` with the
package imported ONLY from the zip (no repo on sys.path), and ``run.py``
under spark-submit keeps its stdout and ``--conf`` contract."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

JOB = """
from pyspark.sql import SparkSession
spark = SparkSession.builder.getOrCreate()
from podcast_crawler_spark.operators.frontier import (
    CrawlConfig, build_frontier, schedule_epoch)
from podcast_crawler_spark.sources.pagesgen import EPOCH0, gen_robots, gen_seeds
import podcast_crawler_spark
assert ".zip" in podcast_crawler_spark.__file__, podcast_crawler_spark.__file__
cfg = CrawlConfig(per_host_budget=5, num_partitions=4)
n = schedule_epoch(
    build_frontier(gen_seeds(spark, 100, partitions=4), EPOCH0, cfg),
    gen_robots(spark, 100), EPOCH0, cfg,
).count()
print(f"SUBMIT_OK scheduled={n}")
"""


def _submit(tmp_path, *args: str) -> subprocess.CompletedProcess:
    """spark-submit *args* with the package zip on --py-files and the repo
    off PYTHONPATH, from *tmp_path*."""
    zip_path = str(tmp_path / "podcast_crawler_spark.zip")
    subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "package.py"), zip_path],
        check=True,
        capture_output=True,
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [
            os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "bin", "spark-submit"),
            "--master",
            "local[4]",
            "--conf",
            "spark.ui.enabled=false",
            "--py-files",
            zip_path,
            *args,
        ],
        # repo NOT on sys.path (unless the script lives there): imports
        # come from the zip
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=240,
    )


def test_spark_submit_py_files(tmp_path):
    job = tmp_path / "job.py"
    job.write_text(JOB)
    out = _submit(tmp_path, str(job))
    assert "SUBMIT_OK scheduled=85" in out.stdout, out.stdout[-2000:] + out.stderr[-2000:]


def test_run_py_prints_one_line_per_epoch_and_honours_conf(tmp_path):
    """run.py under spark-submit: a --conf engine key wins over
    engine_conf, and stdout is exactly one JSON line per committed epoch,
    equal to the metrics that epoch published in its frontier manifest."""
    from podcast_crawler_spark.plans.checkpoint import SnapshotTable

    state = str(tmp_path / "state")
    out = _submit(
        tmp_path,
        "--conf", "spark.sql.shuffle.partitions=3",
        os.path.join(REPO, "run.py"),
        "--n-feeds", "100", "--epochs", "2", "--state", state,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [json.loads(line) for line in out.stdout.splitlines()]
    frontier = SnapshotTable(state, "frontier")
    # snapshot 1 is the seed frontier; epoch n publishes snapshot n + 1
    assert lines == [frontier.manifest(n + 1)["metrics"] for n in (1, 2)]
    assert [m["epoch"] for m in lines] == [1, 2]
    # CrawlConfig.num_partitions followed the override: the seed frontier
    # is one file per host_hash partition (engine_conf's 2 x cores is even)
    assert len(frontier.manifest(1)["files"]) == 3


def test_run_py_rejects_non_local_state():
    """Snapshot bookkeeping is POSIX-only, so a URI state dir fails at
    argument parsing, before any Spark work."""
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "run.py"), "--n-feeds", "10",
         "--state", "s3://bucket/crawl-state"],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 2, out.stderr[-2000:]
    assert "--state must be a local path" in out.stderr
