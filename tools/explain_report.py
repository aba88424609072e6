"""Generate PLANS.md: formatted physical plans for the headline operators,
with commentary on the plan properties each one is expected to exhibit
(pushdown, pruning, broadcast, bounded exchanges, codegen).

Usage: python tools/explain_report.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    from pyspark.sql import SparkSession

    from podcast_crawler_spark.operators.frontier import engine_conf

    spark = (
        SparkSession.builder.master("local[4]")
        .config(map=engine_conf(4))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry

    qs = entry.queries()

    MAX_LINES = 300

    def fmt(df) -> str:
        s = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        lines = s.splitlines()
        if len(lines) > MAX_LINES:
            # wide expression trees (e.g. the language-marker count chains)
            # repeat per column in "formatted" output — the plan SHAPE is in
            # the first section, so cap the dump
            lines = lines[:MAX_LINES] + [
                f"… [{len(lines) - MAX_LINES} more lines truncated — "
                "run tools/explain_report.py for the full dump]"
            ]
        return "\n".join(lines)

    sections = []

    def add(title: str, df, notes: str) -> None:
        sections.append((title, notes, fmt(df)))

    add(
        "flagship_priority_queue (W4/W5 politeness queue)",
        qs["flagship_priority_queue"](spark, SF),
        "Expected: broadcast robots join (no frontier shuffle), bounded\n"
        "host_hash exchanges for the ranking window, scan-level column\n"
        "pruning on the seeds/frontier side.",
    )
    add(
        "q1_pricing_summary (aggregation pipeline)",
        qs["q1_pricing_summary"](spark, SF),
        "Expected: filter pushed to the parquet scan (PushedFilters),\n"
        "ReadSchema limited to the aggregated columns, partial (map-side)\n"
        "HashAggregate before the exchange, WholeStageCodegen spans\n"
        "covering scan→partial-agg and final-agg.",
    )
    add(
        "dedup_minhash_lsh (MinHash+LSH + exact verify)",
        qs["dedup_minhash_lsh"](spark, SF),
        "Expected: zero Python UDFs (all JVM expressions: xxhash64 ×64\n"
        "perms as partial-aggregated mins), hash joins for band-bucket\n"
        "candidate generation and the exact-verification joins.",
    )
    add(
        "embed_cosine_topk (brute-force ANN baseline)",
        qs["embed_cosine_topk"](spark, SF),
        "Expected: broadcast of the query-vector side, JVM higher-order\n"
        "functions for the dot product (no Python), per-partition TopK\n"
        "(window/rank or takeOrdered shape) rather than a global sort.",
    )
    add(
        "running_avg (cumulative window)",
        qs["running_avg"](spark, SF),
        "Expected: a single hashpartitioning(user_id) exchange feeding the\n"
        "running-frame Window; scan pruned to the involved columns.",
    )
    add(
        "paginate_orders (W1 pagination, scale-safe)",
        qs["paginate_orders"](spark, SF),
        "Expected: TakeOrderedAndProject (per-partition top page*per_page +\n"
        "bounded merge) BELOW the offset row_number Window — the full table\n"
        "never funnels through a single-partition global sort; the window\n"
        "runs over at most page*per_page rows.",
    )
    from podcast_crawler_spark.operators import seen, similarity
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    add(
        "embedding_neardup_pairs (bucketed near-dup, id-only exchanges)",
        similarity.embedding_neardup_pairs(emb, threshold=0.35, planes=4, tables=16),
        "Expected: LSH bucket assignment as one Arrow mapInPandas, the\n"
        "candidate self-join and distinct carrying ONLY (id_a, id_b) —\n"
        "embedding vectors re-joined after dedup, so no vector crosses the\n"
        "candidate-generation exchanges.",
    )
    add(
        "curation_pipeline (composite training-data chain)",
        qs["curation_pipeline"](spark, SF),
        "Expected: the whole chain stays declarative — quality scoring in\n"
        "codegen column expressions over one documents scan, exact-dedup\n"
        "keep as a 16-byte-digest hash aggregation, LSH candidate joins\n"
        "carrying only id pairs, anti-join pruning, and the hash-sample\n"
        "threshold folded into a scan-level filter.",
    )
    add(
        "asof_join_events (AS OF join, union-tag window)",
        qs["asof_join_events"](spark, SF),
        "Expected: ONE hashpartitioning(_k) exchange feeding a running\n"
        "last-non-null Window — NO join node of any kind (a naive range\n"
        "theta-join would plan BroadcastNestedLoopJoin); union of the two\n"
        "tagged sides below the exchange.",
    )
    add(
        "range_join_sessions (interval containment via time grid)",
        qs["range_join_sessions"](spark, SF),
        "Expected: intervals exploded once per covered grain, then an\n"
        "EQUI-join on (key, grain) + residual range filter — no\n"
        "BroadcastNestedLoopJoin / CartesianProduct anywhere.",
    )
    add(
        "paragraph_dedup (sub-document dedup + reassembly)",
        qs["paragraph_dedup"](spark, SF),
        "Expected: posexplode (narrow) → digest-grouped count with partial\n"
        "(map-side) aggregation → digest-keyed hash join → groupBy(doc)\n"
        "reassembly: exactly the two text exchanges the docstring budgets,\n"
        "with the count exchange carrying only 16-byte digests.",
    )
    add(
        "lm_surprisal (corpus-trained LM scoring)",
        qs["lm_surprisal"](spark, SF),
        "Expected: vocab aggregation with map-side combine capped by\n"
        "TakeOrderedAndProject; scoring side broadcast-joins the vocab\n"
        "(BroadcastHashJoin) after a narrow explode; final per-doc rollup\n"
        "partial-aggregates 3 longs per doc.",
    )
    add(
        "span_dedup (exact substring-span dedup)",
        qs["span_dedup"](spark, SF),
        "Expected: map-side gram generation (transform+explode, narrow),\n"
        "ONE corpus-wide exchange carrying (id, pos, 16-byte digest) into\n"
        "a partial-aggregated count, a digest-keyed semi join, and the\n"
        "token drop/reassembly as map-side array lambdas.",
    )
    from podcast_crawler_spark.operators import graph as graph_ops

    ev = spark.read.parquet(f"{SF}/events.parquet")
    pr_edges = (
        ev.select(
            (F.col("user_id") % 97).alias("src"),
            ((F.col("user_id") * 31 + F.col("event_id")) % 97).alias("dst"),
        )
        .filter("src <> dst")
        .distinct()
    )
    add(
        "host_pagerank (integer fixed-point PageRank, ONE iteration "
        "uncheckpointed)",
        graph_ops.pagerank(pr_edges, iters=1, checkpoint=False),
        "The production path localCheckpoints each iteration (Pregel\n"
        "lineage truncation), which would show only a checkpoint scan —\n"
        "this dump disables it to expose one iteration's true shape.\n"
        "Expected: rank⋈outdeg and rank⋈edges hash joins, the inflow sum\n"
        "with partial (map-side) aggregation, and the 1-row dangling\n"
        "aggregate re-entering via BroadcastExchange / BroadcastNested-\n"
        "LoopJoin(cross, 1 row) — no driver round-trip, no global sort.",
    )
    add(
        "cm_heavy_hitters (count-min sketch probe)",
        qs["cm_heavy_hitters"](spark, SF),
        "Expected: counter cells built with map-side combine (<= depth*\n"
        "width partial rows per task), exact top-k via\n"
        "TakeOrderedAndProject, candidates probed against a BROADCAST of\n"
        "the tiny counter table — nothing corpus-sized crosses a join.",
    )
    add(
        "tfidf_pairs (sparse pairwise cosine, inverted-index join)",
        qs["tfidf_pairs"](spark, SF),
        "Expected: postings built with map-side combine, the df-capped\n"
        "term self-join carrying only (term, doc, integer weight), pair\n"
        "dot products as partial-aggregated BIGINT sums, top-k via\n"
        "TakeOrderedAndProject — no float crosses an exchange.",
    )
    add(
        "table_diff (CDC snapshot diff)",
        qs["table_diff"](spark, SF),
        "Expected: each snapshot collapsed map-side to (key, md5) before\n"
        "ONE full-outer join keyed on the id — no payload column in any\n"
        "exchange; unchanged keys filtered immediately above the join.",
    )
    add(
        "winnow_fps (winnowing fingerprints, map-side only)",
        qs["winnow_fps"](spark, SF),
        "Expected: ZERO exchanges — gram md5 array materialized as its own\n"
        "projection (computed once; inlined it re-evaluates per window\n"
        "lambda, an O(n²·w) blowup), window selection as array lambdas,\n"
        "one Generate(explode) for the fingerprint rows.",
    )
    add(
        "containment_pairs (asymmetric near-dup over winnow fps)",
        qs["containment_pairs"](spark, SF),
        "Expected: the inverted-index discipline — fingerprint generation\n"
        "map-side, hot-fp cap via a grouped count + semi join, the pair\n"
        "self-join and all aggregations carrying only (id, 32-char fp) or\n"
        "smaller; integer containment arithmetic.",
    )
    add(
        "hop_distance (delta-frontier BFS, ONE level uncheckpointed)",
        graph_ops.hop_distance(
            pr_edges,
            pr_edges.select(F.col("src").alias("node")).distinct().limit(5),
            max_hops=1,
            checkpoint=False,
        ),
        "Production localCheckpoints per level; this dump disables it to\n"
        "expose one level's true shape.  Expected: frontier⋈edges hash\n"
        "join + distinct + left_anti against visited — the join input is\n"
        "the LAST level's frontier only, never the visited set.",
    )
    add(
        "triangle_counts (degree-oriented wedge join)",
        qs["triangle_counts"](spark, SF),
        "Expected: symmetrize+distinct, degree join, oriented edge list\n"
        "self-joined on the middle vertex (wedges), closed by an equi-join\n"
        "probe on (x, z) — all hash joins on node ids; per-node out-degree\n"
        "bounded O(√m) by the orientation, so no hub task blowup.",
    )
    add(
        "consistent_placement (ring successor via bucket broadcast)",
        qs["consistent_placement"](spark, SF),
        "Expected: ONE BroadcastHashJoin on the key's ring bucket (the\n"
        "4096-row bucket table broadcast) + array probes — no\n"
        "hashpartitioning exchange anywhere; keys are never shuffled.",
    )
    add(
        "cdc_chunks (content-defined chunking)",
        qs["cdc_chunks"](spark, SF),
        "Expected: ZERO exchanges — window hashes materialized once\n"
        "(the winnow_fps discipline), boundary selection and chunk\n"
        "assembly as array lambdas, one Generate(posexplode).",
    )
    add(
        "circuit_state (per-host breaker, single exchange)",
        qs["circuit_state"](spark, SF),
        "Expected: the last_ok window and the per-host aggregate share\n"
        "the host hashpartitioning — exactly ONE exchange above the\n"
        "outcome synthesis; breaker rule is pure projection arithmetic.",
    )
    keys = spark.range(0, 2000, 1, 4).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash"), "id"
    )
    cand = spark.range(1000, 3000, 1, 4).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash"), "id"
    )
    shards = seen.build_bloom_shards(keys, num_shards=8, expected_keys=2000)
    add(
        "partitioned bloom probe (D3 at the 10^10 design point)",
        seen.bloom_probe_partitioned(cand, shards, num_shards=8),
        "Expected: FlatMapCoGroupsInPandas over two pmod(url_hash, S)\n"
        "exchanges — shard filter bits flow executor→executor through one\n"
        "S-row shuffle; no Broadcast anywhere, no driver materialization\n"
        "of any filter.",
    )

    add(
        "warc_export (distributed WARC sink: planned byte layout)",
        qs["warc_export"](spark, SF),
        "Expected: ONE hashpartitioning(bkt) exchange feeding a Window\n"
        "that computes BOTH running sums (record count + bytes) in one\n"
        "frame (extra_val_cols); a SinglePartition exchange carrying only\n"
        "the B bucket totals; a broadcast join for shard byte-starts; and\n"
        "one hashpartitioning(shard_id) exchange into the\n"
        "FlatMapGroupsInPandas writer.  Bodies cross exactly those two\n"
        "corpus exchanges — the manifest math never re-scans.",
    )
    add(
        "ip_politeness (queue-by-IP budget sharing)",
        qs["ip_politeness"](spark, SF),
        "Expected: broadcast of the resolver dim (hosts never shuffle to\n"
        "map onto queues), the salted two-phase rank bounding any one\n"
        "CDN-address queue, and aggregate-to-aggregate joins for the\n"
        "accounting — the corpus crosses only the window exchange.",
    )
    add(
        "byte_budget (bandwidth-budgeted politeness)",
        qs["byte_budget"](spark, SF),
        "Expected: a single hashpartitioning(host) exchange under the\n"
        "cumulative-bytes Window — the same key as the politeness queue,\n"
        "so composition with schedule_epoch reuses the partitioning; all\n"
        "selection arithmetic map-side above it.",
    )

    md = [
        "# PLANS — physical-plan report for headline operators",
        "",
        f"Generated by `tools/explain_report.py` against `{SF}`",
        "(local mode; the plan SHAPES — pushdown, pruning, join strategies,",
        "exchange count — are what carry to a 1000-executor cluster; only",
        "partition counts change).  The assertions behind these properties",
        "are enforced in `tests/test_plans.py`; this file is the human-",
        "readable evidence.",
        "",
    ]
    for title, notes, plan in sections:
        md += [f"## {title}", "", notes, "", "```", plan.rstrip(), "```", ""]

    with open(os.path.join(REPO, "PLANS.md"), "w") as fh:
        fh.write("\n".join(md))
    print(f"wrote PLANS.md ({len(sections)} plans)")


if __name__ == "__main__":
    main()
