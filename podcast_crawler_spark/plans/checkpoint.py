"""Snapshot-manifest table format — Iceberg-shaped checkpointing.

No Iceberg runtime jar / pyiceberg exists in this sandbox (SURVEY.md §7.0),
so this is a thin warehouse layer with Iceberg's *semantics*: immutable
parquet data files + JSON snapshot manifests giving *atomic commits*,
*time travel* and *exact resume*.  In production the same call sites swap to
a real Iceberg catalog (``df.writeTo(...)`` + ``MERGE INTO``).

Layout per table::

    <root>/<name>/data/snap-<n>-<attempt>/part-*.parquet  (immutable)
    <root>/<name>/_snapshots/<n>.json          (manifest, atomic rename)

Every write is two steps.  ``_stage`` picks the next snapshot id after the
current one, writes its data dir (a Spark parquet write, or pyarrow for a
driver-side table) and reads per-file lineage (file, rows, bytes) from the
parquet footers.  ``_publish`` is the commit point: it refuses if another
snapshot committed since the stage (single writer per table), then renames
the manifest into ``_snapshots/`` with the caller's metrics and any extra
fields (a merge-on-read delta adds its segment list and resolve key).  The
public writers are compositions of the two: ``prepare``/``publish`` split
them so the epoch can overlap the frontier's data write with the output
commits; ``commit``, ``commit_delta``, ``commit_local`` and ``compact`` run
both.  Each attempt stages into a data dir of its own (a random attempt
tag in its name), so no other attempt at the same id can overwrite it.
Readers resolve the highest committed id, so a killed or refused writer
leaves no torn state: its orphan data dir is never read, and ``expire``
collects it.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from typing import Callable, Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def resolve_lww(df: DataFrame, key: str, order_col: str) -> DataFrame:
    """Last-write-wins resolution on *key*: argmax per key over *order_col*
    as a ``max_by(struct(*), order)`` hash aggregation — one exchange with
    map-side partial aggregation collapsing duplicate keys before the
    shuffle, no sort (a window ``row_number`` would shuffle everything
    and then sort every partition; at 10^10-row tables the sort is the
    dominant cost)."""
    row = F.struct(*[F.col(c) for c in df.columns])
    return (
        df.groupBy(key)
        .agg(F.max_by(row, F.col(order_col)).alias("_row"))
        .select("_row.*")
    )


class SnapshotTable:
    def __init__(self, root: str, name: str):
        self.dir = os.path.join(root, name)
        self.snap_dir = os.path.join(self.dir, "_snapshots")
        os.makedirs(self.snap_dir, exist_ok=True)

    # -- manifest bookkeeping ------------------------------------------------

    def snapshot_ids(self) -> List[int]:
        ids = []
        for f in os.listdir(self.snap_dir):
            if f.endswith(".json"):
                try:
                    ids.append(int(f[:-5]))
                except ValueError:
                    continue
        return sorted(ids)

    def current_snapshot_id(self) -> Optional[int]:
        ids = self.snapshot_ids()
        return ids[-1] if ids else None

    def manifest(self, snapshot_id: Optional[int] = None) -> Optional[Dict]:
        if snapshot_id is None:
            snapshot_id = self.current_snapshot_id()
        if snapshot_id is None:
            return None
        with open(os.path.join(self.snap_dir, f"{snapshot_id}.json")) as fh:
            return json.load(fh)

    # -- commit / read -------------------------------------------------------

    @staticmethod
    def _segments(man: Dict) -> List[str]:
        """The data dirs a snapshot reads: every live delta segment of a
        merge-on-read snapshot, else its one data dir."""
        return man.get("segments") or [man["data_dir"]]

    def _stage(self, write: Callable[[str], None]) -> Dict:
        """Write the next snapshot's data dir with *write* (given the dir
        path) and return its staged manifest fields.  Per-partition
        lineage comes from the parquet footers — no extra Spark job; row
        counts come from file metadata (cheap local reads)."""
        import pyarrow.parquet as pq

        parent = self.current_snapshot_id()
        snap_id = (parent or 0) + 1
        data_dir = os.path.join(
            self.dir, "data", f"snap-{snap_id}-{uuid.uuid4().hex}"
        )
        write(data_dir)
        files = []
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                p = os.path.join(data_dir, f)
                files.append(
                    {
                        "file": f,
                        "bytes": os.path.getsize(p),
                        "rows": pq.ParquetFile(p).metadata.num_rows,
                    }
                )
        return {
            "snapshot_id": snap_id,
            "parent_id": parent,
            "data_dir": data_dir,
            "row_count": sum(f["rows"] for f in files),
            "files": files,
        }

    def _publish(
        self, staged: Dict, metrics: Optional[Dict] = None, **fields
    ) -> int:
        """The commit point: refuse if another snapshot committed since
        *staged* was written (single-writer-per-table protocol), then
        write-tmp + atomic rename of the manifest into ``_snapshots/``.
        *fields* add to or override the staged fields."""
        snap_id = staged["snapshot_id"]
        current = self.current_snapshot_id()
        if current is not None and current >= snap_id:
            raise RuntimeError(
                f"snapshot {current} committed since prepare of {snap_id}"
            )
        man = {
            **staged,
            "committed_at_unix": time.time(),
            "metrics": metrics or {},
            **fields,
        }
        tmp = os.path.join(self.snap_dir, f".{snap_id}.json.tmp")
        with open(tmp, "w") as fh:
            json.dump(man, fh, indent=1)
        os.rename(tmp, os.path.join(self.snap_dir, f"{snap_id}.json"))
        return snap_id

    def prepare(self, df: DataFrame) -> Dict:
        """Phase 1 of a two-phase commit: write the data files and gather
        per-partition lineage, WITHOUT publishing a manifest.  Readers see
        nothing until ``publish`` renames the manifest in — so a prepare
        can safely overlap other tables' commits even when the commit
        *protocol* orders this table's publication after theirs (the epoch
        loop overlaps the frontier's big parquet write with the output
        commits and publishes its manifest last).  A crash between prepare
        and publish leaves only an orphan data dir, which ``expire``
        collects."""
        return self._stage(df.write.mode("overwrite").parquet)

    def publish(self, staged: Dict, metrics: Optional[Dict] = None) -> int:
        """Phase 2: atomically publish a prepared snapshot; raises
        ``RuntimeError`` if another snapshot committed since prepare."""
        return self._publish(staged, metrics)

    def commit(self, df: DataFrame, metrics: Optional[Dict] = None) -> int:
        """Write *df* as the next snapshot; returns the new snapshot id.
        The manifest lands via write-tmp + atomic rename **after** the data
        files are fully written — a crash mid-write is invisible to
        readers (exact-resume property, tested by
        ``tests/test_epoch.py::test_resume_byte_identical`` and
        ``test_crash_between_prepare_and_publish_is_invisible``)."""
        return self.publish(self.prepare(df), metrics=metrics)

    def commit_local(
        self,
        rows: List[Dict],
        arrow_schema,
        metrics: Optional[Dict] = None,
    ) -> int:
        """Commit a small snapshot entirely driver-side via pyarrow — no
        Spark job.  Used for tiny control tables (per-epoch metrics): at
        one row per epoch a Spark write costs a full job-scheduling round
        trip per epoch for kilobytes of data.  *rows* are dicts keyed by
        *arrow_schema*'s field names.  Each snapshot rewrites the previous
        snapshot's rows and the new ones into one file (append-only table
        semantics)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        def write(data_dir: str) -> None:
            # the current snapshot is the staged parent, or a newer one
            # that makes the publish below refuse
            prev = self.manifest()
            tables = [
                pq.read_table(os.path.join(prev["data_dir"], f["file"]))
                for f in (prev["files"] if prev else [])
            ]
            tables.append(pa.Table.from_pylist(rows, schema=arrow_schema))
            os.makedirs(data_dir, exist_ok=True)
            pq.write_table(
                pa.concat_tables(tables),
                os.path.join(data_dir, "part-00000.parquet"),
            )

        return self._publish(self._stage(write), metrics)

    def commit_delta(
        self,
        updates: DataFrame,
        key: str,
        order_col: str,
        metrics: Optional[Dict] = None,
    ) -> int:
        """Merge-on-read commit: write ONLY the delta (this epoch's upsert
        rows) as a new segment; reads resolve last-write-wins on *key*
        across all segments.  This is how an upsert table stays O(delta)
        per epoch instead of O(table) — the copy-on-write rewrite of a
        10^10-row episodes table to apply a 10^5-row epoch would be the
        bottleneck of the whole crawl (Iceberg calls the same idea MOR
        delete/equality files; ``compact`` below is the rewrite).

        If no base snapshot exists this degrades to a one-segment
        snapshot (with resolve metadata recorded so later deltas know the
        key).  Calls the private steps, not the public
        ``prepare``/``publish``, so instrumentation wrapping those two
        sees a delta commit as one commit, not a nested prepare +
        publish."""
        staged = self._stage(updates.write.mode("overwrite").parquet)
        parent = staged["parent_id"]
        base = self.manifest(parent) if parent is not None else None
        delta_rows = staged["row_count"]
        return self._publish(
            staged,
            metrics,
            segments=(self._segments(base) if base else []) + [staged["data_dir"]],
            resolve={"key": key, "order_col": order_col},
            # raw (pre-resolve) rows across segments — an upper bound on
            # the resolved count, like Iceberg's file-level stats
            row_count=delta_rows + (base["row_count"] if base else 0),
            delta_rows=delta_rows,
        )

    def expire(self, retain_last: int = 2) -> Dict:
        """Expire old snapshots (Iceberg ``expire_snapshots``): drop the
        manifests of all but the newest *retain_last* ids, then delete
        every data dir no KEPT snapshot references — merge-on-read
        lineage means an old delta segment stays alive as long as any
        kept snapshot's ``segments`` list includes it, so reachability
        (not age) decides file deletion.  The same rule collects the
        orphan dirs of crashed or refused attempts.  A dir above the
        current snapshot id may be a write in flight and is never
        touched.  Time travel to an expired id fails loudly afterwards.

        Driver-side by design: the manifest set is O(commits), the same
        scale at which Iceberg's own expire action plans (the
        DataFrame-shaped planner for fleet-wide listings is
        :func:`snapshot_expiry_plan`).  Returns
        ``{"expired": [...], "deleted_dirs": [...]}``."""
        import shutil

        ids = self.snapshot_ids()
        if not ids:
            return {"expired": [], "deleted_dirs": []}
        kept = ids[-max(retain_last, 1):]
        reachable = {
            os.path.basename(seg)
            for sid in kept
            for seg in self._segments(self.manifest(sid))
        }
        expired = ids[: len(ids) - len(kept)]
        # manifests first: a crash before the dirs go leaves orphan data
        # dirs (collected by the next expire), never a manifest pointing
        # at deleted data
        for sid in expired:
            os.remove(os.path.join(self.snap_dir, f"{sid}.json"))
        data = os.path.join(self.dir, "data")
        deleted = []
        for name in sorted(os.listdir(data)):
            # snap-<id>-<attempt>
            if name not in reachable and int(name.split("-")[1]) <= ids[-1]:
                deleted.append(os.path.join(data, name))
                shutil.rmtree(deleted[-1])
        return {"expired": expired, "deleted_dirs": deleted}

    def num_segments(self) -> int:
        man = self.manifest()
        if man is None:
            return 0
        return len(self._segments(man))

    def compact(self, spark: SparkSession, metrics: Optional[Dict] = None) -> int:
        """Materialize the resolved view as a single-segment snapshot —
        merge-on-read's periodic rewrite, amortizing resolve cost across
        epochs instead of paying a full-table write every epoch."""
        resolved = self.read(spark)
        m = dict(metrics or {})
        m.setdefault("op", "compact")
        return self.commit(resolved, metrics=m)

    def read(
        self, spark: SparkSession, snapshot_id: Optional[int] = None
    ) -> Optional[DataFrame]:
        """Read the current snapshot, or time-travel to *snapshot_id*.
        Delta snapshots resolve LWW across their segments at read time."""
        man = self.manifest(snapshot_id)
        if man is None:
            return None
        segments = self._segments(man)
        reader = spark.read
        if len(segments) > 1:
            # delta segments may carry evolved schemas (a later ingest
            # version adding a column); merge them so older segments read
            # with nulls in the new column — Iceberg's add-column
            # semantics.  Single-segment reads skip the footer merge cost.
            reader = reader.option("mergeSchema", "true")
        df = reader.parquet(*segments)
        res = man.get("resolve")
        if res and len(segments) > 1:
            df = resolve_lww(df, res["key"], res["order_col"])
        return df


def snapshot_expiry_plan(
    snapshots: DataFrame,
    refs: DataFrame,
    retain_last: int,
    max_age_s: int,
    now_ts: int,
) -> DataFrame:
    """Fleet-wide snapshot-expiry planning as DataFrames — which data
    segments are DELETABLE given a retention rule, across a listing of
    many tables' snapshot logs (``SnapshotTable.expire`` is the
    single-table driver-side action; this is the audit/planning query a
    warehouse janitor runs over thousands of tables at once).

    Inputs: *snapshots* ``(snapshot_id, committed_ts)`` and *refs*
    ``(snapshot_id, segment)`` (one row per segment a snapshot can
    read — merge-on-read snapshots reference every live delta).  Rule:
    keep the newest *retain_last* ids plus everything with
    ``committed_ts ≥ now_ts − max_age_s``; a segment is deletable iff
    NO kept snapshot references it (reachability, not age).

    Output: ``(segment, n_refs, n_kept_refs, deletable)``.  The rank
    window is unpartitioned by design — its input is O(snapshots)
    (bounded by commit count, the manifest scale), while the
    reachability rollup on *refs* is a normal keyed aggregation that
    distributes over the segment space.
    """
    w = Window.orderBy(F.desc("snapshot_id"))
    kept = snapshots.select(
        "snapshot_id",
        (
            (F.row_number().over(w) <= retain_last)
            | (F.col("committed_ts") >= F.lit(now_ts - max_age_s))
        ).alias("keep"),
    )
    return (
        refs.join(kept, "snapshot_id", "left")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_refs"),
            F.sum(F.coalesce(F.col("keep").cast("long"), F.lit(0))).alias(
                "n_kept_refs"
            ),
        )
        .withColumn("deletable", F.col("n_kept_refs") == 0)
    )


def compaction_plan(
    files: DataFrame,
    part_col: str = "part",
    file_col: str = "file_id",
    size_col: str = "bytes",
    target_bytes: int = 128 * 1024 * 1024,
) -> DataFrame:
    """Small-file compaction planner: assign each data file to an
    output file so outputs pack to ~*target_bytes*, never crossing a
    table partition (the Iceberg ``rewrite_data_files`` bin-packing
    contract — a merge-on-read table accumulates per-epoch delta files
    that this plan folds back into full-size files).

    Rule (exact integers, deterministic): within a partition, files in
    *file_col* order get an exclusive prefix sum of sizes
    (``start_offset``); ``target_file = start_offset div
    target_bytes``.  Concat-packing — the same rule as
    ``curation.pack_shards`` — so every output except a partition's
    last is ≥ target (an output crosses the boundary only by the file
    that straddles it), and the assignment is reproducible from the
    listing alone.

    Scale shape: ONE window exchange keyed by the table partition.
    Unlike ``pack_shards`` (corpus-wide packing → unbounded group →
    bucketed prefix-sum core), a partition's file list is bounded by
    the manifest (thousands of files), so the plain per-partition
    running sum is the right plan — no salting, no second pass.
    Output: ``(part, file_id, bytes, start_offset, target_file)``.
    """
    w = (
        Window.partitionBy(part_col)
        .orderBy(file_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum(size_col).over(w), F.lit(0)).cast("long")
    return files.select(
        F.col(part_col),
        F.col(file_col),
        F.col(size_col).cast("long").alias(size_col),
        start.alias("start_offset"),
    ).withColumn(
        "target_file",
        F.expr(f"start_offset div {int(target_bytes)}").cast("long"),
    )
