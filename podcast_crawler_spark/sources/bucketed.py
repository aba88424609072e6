"""Bucketed pages layout: the production fetch-join contract.

``fetch_join`` (J3) left-joins the scheduled frontier slice against the
pages table on ``url``.  At 10^10-page scale the pages side carries
multi-KB html blobs — the one column that must NEVER cross an exchange.
The production answer (noted in ``operators/frontier.fetch_join``) is a
pages table **bucketed by url**: Spark's bucketing pre-hashes the rows
into B files per partition at WRITE time, so every later equi-join on
``url`` reads each bucket co-located and only the (narrow) probe side
shuffles — the html blobs move zero times.

This module materializes that contract with ``DataFrameWriter.bucketBy``
(Hive-style bucketed table in the session catalog — on a cluster this is
the Iceberg/Hive table the ingest job maintains) and provides the join
that exploits it.  ``tests/test_plans.py`` asserts the physical plan:
no Exchange above the bucketed pages scan, shuffle only on the
scheduled side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.schemas import PAGES_SCHEMA
from ..operators.frontier import fetch_join


def write_bucketed_pages(
    pages: DataFrame,
    table: str = "pages_bucketed",
    buckets: int = 32,
    one_file_per_bucket: bool = False,
) -> None:
    """Persist the pages table bucketed by url (sorted within buckets so
    the join side is merge-ready).  One-time ingest cost: the ONLY time
    the html column ever crosses an exchange.

    *one_file_per_bucket*: pre-shuffle the rows into the bucket layout
    (``repartition(buckets, url)`` uses the same Murmur3 ``pmod`` as the
    bucket assignment, so each write task holds exactly one bucket) —
    each bucket lands in ONE sorted file, which is the condition under
    which Spark trusts the persisted ``sortBy`` and plans the merge join
    with NO sort on the pages leg.  Multi-file buckets (the default
    many-tasks write) are re-sorted at read time."""
    w = pages
    if one_file_per_bucket:
        w = pages.repartition(buckets, "url")
    (
        w.write.mode("overwrite")
        .bucketBy(buckets, "url")
        .sortBy("url")
        .format("parquet")
        .saveAsTable(table)
    )


def register_bucketed_pages(
    spark: SparkSession,
    location: str,
    table: str = "pages_bucketed",
    buckets: int = 32,
) -> None:
    """Re-attach an existing bucketed parquet layout to a fresh session.

    ``bucketBy`` metadata lives in the session catalog; with the default
    in-memory catalog a new JVM forgets it even though the files (whose
    names encode the bucket id) are intact.  This DDL re-declares the
    bucket spec over the existing LOCATION — no data moves — so separate
    bench legs / resumed jobs reuse one ingest.  On a production cluster
    the Iceberg/Hive metastore carries this spec durably; this is the
    local stand-in for that durability.  The columns are
    ``schemas.PAGES_SCHEMA``."""
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in PAGES_SCHEMA
    )
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(
        f"CREATE TABLE {table} ({schema}) USING parquet "
        f"CLUSTERED BY (url) SORTED BY (url) INTO {buckets} BUCKETS "
        f"LOCATION '{location}'"
    )


def fetch_join_bucketed(
    scheduled: DataFrame, spark: SparkSession, table: str = "pages_bucketed"
) -> DataFrame:
    """J3 against the bucketed pages table: the scheduled (narrow) side
    shuffles into the pages bucketing; the html side is read in place.

    The ``SHUFFLE_HASH`` hint on the *scheduled* side pins the hash-map
    build there (build-left left-outer SHJ): without it the planner
    builds on the right leg, i.e. copies every html blob into a hash
    map before probing — measured 59 s vs 45 s for the whole
    join+parse prefix at 1.2M feeds/local[32]
    (`git show bf15243:tools/parse_stage_experiment.py`).  With
    build-left the html side STREAMS from the bucket files straight into
    the parse."""
    return fetch_join(scheduled.hint("shuffle_hash"), spark.table(table))


def z_order_key(a, b, bits: int = 16):
    """Morton (Z-order) interleave of the low *bits* of two non-negative
    integer columns — the multi-dimensional layout key behind
    Delta/Iceberg ``OPTIMIZE ZORDER BY (a, b)``: sorting a table by
    ``z_order_key(host_hash, ts_bucket)`` before write gives min/max
    file statistics that prune on BOTH columns, where a plain sort
    prunes only the leading one.

    Pure unrolled integer bit arithmetic (``2*bits`` masked shifts
    folded into whole-stage codegen — no UDF, and exactly reproducible
    in ANSI SQL), so it composes with ``repartitionByRange`` /
    ``sortWithinPartitions`` at any scale."""
    a = (F.col(a) if isinstance(a, str) else a).cast("long")
    b = (F.col(b) if isinstance(b, str) else b).cast("long")
    out = F.lit(0).cast("long")
    for i in range(bits):
        out = out + F.shiftleft(F.shiftright(a, i) % 2, 2 * i)
        out = out + F.shiftleft(F.shiftright(b, i) % 2, 2 * i + 1)
    return out


def z_order_key_sql(a: str, b: str, bits: int = 16) -> str:
    """The identical Morton key as an ANSI-SQL expression (DuckDB `>>`
    / `<<` / `%` on BIGINT) — used by the driver oracle."""
    terms = []
    for i in range(bits):
        terms.append(
            f"((({a}::BIGINT >> {i}) % 2) << {2 * i})"
        )
        terms.append(
            f"((({b}::BIGINT >> {i}) % 2) << {2 * i + 1})"
        )
    return "(" + " + ".join(terms) + ")"


def rewrite_bins(
    files: DataFrame,
    target_bytes: int,
    file_col: str = "file_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Table-wide small-file rewrite planner — the Iceberg
    ``rewrite_data_files`` bin-packing decision re-expressed
    declaratively: given the snapshot's file manifest, group under-sized
    files into rewrite bins of ~``target_bytes`` each.  Merge-on-read
    delta commits (``plans/checkpoint.py``) accumulate O(epochs) small
    segments; this planner is what a maintenance job runs to decide WHAT
    to rewrite, without scanning a byte of data.  The partition-local
    sibling is ``plans/checkpoint.compaction_plan`` (packs within a
    table partition in file order, one hash exchange); this pass is the
    table-wide variant that also leaves already-full files alone.

    Deterministic sorted next-fit: files under ``target_bytes`` are laid
    out largest-first (first-fit-decreasing flavor — large items first
    minimizes bin overshoot) in ``(bytes DESC, file_id)`` order and cut
    into bins at running-volume boundaries: ``bin = exclusive_cumsum div
    target``.  Every bin lands in ``(target - max_file, target +
    max_file)`` bytes except the last.  Files already at or above target
    are emitted with ``bin = NULL`` (left alone, like Iceberg's
    ``min-input-files`` guard).  Single-bin outputs (n_files = 1) are
    kept in the plan: a lone small file still wants rewriting once more
    epochs add siblings, and the caller's ``min_files_per_bin`` policy
    belongs above this operator.

    Scale note: the input is FILE METADATA, not data — a 100 TB table at
    the 512 MB target is ~2×10^5 manifest rows, so the global order
    window here is bounded by construction (the same O(files) driver
    budget the snapshot manifests themselves already cost); the plan is
    O(files) narrow rows end to end.

    Output: ``(file_id, bytes, bin, bin_files, bin_bytes)`` — bin id (or
    NULL), and per-bin rollups for the maintenance scheduler.
    """
    t = int(target_bytes)
    f = files.select(
        F.col(file_col).alias("file_id"),
        F.col(bytes_col).cast("long").alias("bytes"),
    )
    w = Window.orderBy(F.desc("bytes"), F.asc("file_id")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    small = (
        f.filter(F.col("bytes") < t)
        .withColumn("prior", F.coalesce(F.sum("bytes").over(w), F.lit(0)))
        .withColumn("bin", (F.col("prior") / t).cast("long"))
        .drop("prior")
    )
    wb = Window.partitionBy("bin")
    small = small.withColumn(
        "bin_files", F.count(F.lit(1)).over(wb)
    ).withColumn("bin_bytes", F.sum("bytes").over(wb))
    big = f.filter(F.col("bytes") >= t).select(
        "file_id",
        "bytes",
        F.lit(None).cast("long").alias("bin"),
        F.lit(None).cast("long").alias("bin_files"),
        F.lit(None).cast("long").alias("bin_bytes"),
    )
    return small.unionByName(big)


def rewrite_bins_oracle_sql(files_sql: str, target_bytes: int) -> str:
    """DuckDB recomputation of :func:`rewrite_bins` over any subquery
    with ``(file_id, bytes)`` — same order, cut points, and rollups."""
    t = int(target_bytes)
    return f"""
        WITH f AS (SELECT file_id, bytes::BIGINT AS bytes
                   FROM ({files_sql}) x),
        small AS (
            SELECT *,
                   COALESCE(SUM(bytes) OVER (
                       ORDER BY bytes DESC, file_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS prior
            FROM f WHERE bytes < {t}
        ),
        binned AS (
            SELECT file_id, bytes, (prior // {t})::BIGINT AS bin
            FROM small
        ),
        rolled AS (
            SELECT *,
                   COUNT(*) OVER (PARTITION BY bin)::BIGINT AS bin_files,
                   SUM(bytes) OVER (PARTITION BY bin)::BIGINT AS bin_bytes
            FROM binned
        )
        SELECT * FROM rolled
        UNION ALL
        SELECT file_id, bytes, NULL::BIGINT, NULL::BIGINT, NULL::BIGINT
        FROM f WHERE bytes >= {t}
    """
