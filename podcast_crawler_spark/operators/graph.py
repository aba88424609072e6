"""Host-graph PageRank for frontier prioritization.

A crawl scheduler at 10^10 URLs needs a host-importance signal to rank
the frontier beyond per-host politeness (the reference hardcodes
priority by insertion order, `task_management_system.rs`; hyperlink-
derived host rank is the standard upgrade — Page et al. 1999, and the
Common Crawl host-level ranking it inspired).  This operator computes
PageRank over a (src_host, dst_host) edge table.

**Exact integer fixed-point, by design.**  Floating-point PageRank sums
contributions in partition order — irreproducible across runs, cluster
layouts, and engines.  Here every rank is a BIGINT in units of
``1/scale`` (default 1e-12), per-edge contributions are floor
divisions, and the damping factor is the rational 85/100 applied in
integer arithmetic: sums of integers are associative, so the whole
fixed-iteration run is a deterministic function of the graph and is
recomputed bit-for-bit by a DuckDB CTE chain (same discipline as
``clustering.kmeans_fit``'s rounded hand-offs, but exact rather than
rounded).

Per-iteration spec, mirrored exactly by the oracle::

    q(v)      = r(v) div outdeg(v)              -- per-source quotient
    inflow(u) = sum over edges (v,u) of q(v)    -- exact BIGINT sum
    dang      = sum of r(v) over v with outdeg 0
    r'(u)     = (15 * (scale div n)) div 100
                + (85 * (inflow(u) + dang div n)) div 100

Scale design (10^8 hosts, 10^10 edges, 1000 executors):

- ranks and outdeg are keyed by host — the per-iteration work is one
  O(edges) shuffle for the inflow groupBy (map-side combine: partial
  sums per task) plus an O(nodes) join; the rank vector itself is tiny
  relative to the corpus (hosts, not URLs).
- the dangling mass is a 1-row aggregate cross-joined back (broadcast),
  never a driver round-trip inside the plan.
- each iteration ends in ``localCheckpoint`` — the Pregel pattern:
  truncate lineage so iteration i+1's plan doesn't replay iterations
  0..i, while ranks stay distributed (nothing is collected).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import _capped_overlap_pairs

PR_SCALE = 10 ** 12
DAMP_NUM = 85
DAMP_DEN = 100


def _link_graph(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    checkpoint: bool,
    outdeg: bool = False,
    seeds: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame | None]:
    """The prologue of the link-graph loops: ``(e, nodes, outdeg)`` —
    the ``(src, dst)`` edges, the distinct endpoint ``node`` rows and,
    only when *outdeg* is set, the per-source out-degree ``(src, d)``
    (None otherwise).  *seeds* (a ``node`` column) adds the broadcast
    ``is_seed`` flag to the nodes.  With *checkpoint* each frame is
    ``localCheckpoint``-ed eagerly, so no iteration replays the prologue."""
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    if seeds is not None:
        flag = seeds.distinct().withColumn("is_seed", F.lit(True))
        nodes = nodes.join(F.broadcast(flag), "node", "left").select(
            "node", F.coalesce("is_seed", F.lit(False)).alias("is_seed")
        )
    od = e.groupBy("src").agg(F.count(F.lit(1)).alias("d")) if outdeg else None
    if checkpoint:
        e = e.localCheckpoint(eager=True)
        nodes = nodes.localCheckpoint(eager=True)
        if od is not None:
            od = od.localCheckpoint(eager=True)
    return e, nodes, od


def _rank_flow(
    nodes: DataFrame, ranks: DataFrame, e: DataFrame, outdeg: DataFrame
) -> DataFrame:
    """One rank-flow step of :func:`pagerank` and :func:`trustrank`:
    every node with its exact ``inflow`` (null if nothing flows in) —
    the sum over in-edges of the source quotient ``r div outdeg`` — and
    the dangling mass ``ds``, the summed rank of out-degree-0 nodes,
    a 1-row aggregate cross-joined back as a broadcast."""
    quot = ranks.join(
        outdeg, ranks["node"] == outdeg["src"], "inner"
    ).select(F.col("node").alias("qsrc"), F.expr("r div d").alias("q"))
    inflow = (
        quot.join(e, quot["qsrc"] == e["src"])
        .groupBy("dst")
        .agg(F.sum("q").alias("inflow"))
    )
    dangling = ranks.join(
        outdeg, ranks["node"] == outdeg["src"], "left_anti"
    ).agg(F.coalesce(F.sum("r"), F.lit(0)).cast("long").alias("ds"))
    return nodes.crossJoin(F.broadcast(dangling)).join(
        inflow, nodes["node"] == inflow["dst"], "left"
    )


def _rank_loop(
    nodes: DataFrame,
    ranks: DataFrame,
    e: DataFrame,
    outdeg: DataFrame,
    rank: Column,
    iters: int,
    checkpoint: bool,
    scale: int,
    name: str,
) -> DataFrame:
    """The iteration of :func:`pagerank` and :func:`trustrank`: *iters*
    :func:`_rank_flow` steps, each setting every node's ``r`` to *rank*
    (an expression over the nodes' columns, ``inflow`` and ``ds``),
    checkpointed eagerly per step with *checkpoint*.  Returns ``(node,
    <name>_scaled, <name>)``: the exact BIGINT state and its float
    rendering rounded to 9 dp."""
    for _ in range(iters):
        ranks = _rank_flow(nodes, ranks, e, outdeg).select(
            *nodes.columns, rank.cast("long").alias("r")
        )
        if checkpoint:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select(
        "node",
        F.col("r").alias(f"{name}_scaled"),
        F.round(F.col("r") / F.lit(float(scale)), 9).alias(name),
    )


def pagerank(
    edges: DataFrame,
    iters: int = 5,
    scale: int = PR_SCALE,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint: bool = True,
) -> DataFrame:
    """Fixed-iteration integer PageRank.  Returns ``(node, rank_scaled,
    rank)`` — ``rank_scaled`` is the exact BIGINT state, ``rank`` its
    float rendering rounded to 9 dp.

    ``edges`` should be distinct (src, dst) pairs; self-loops are legal
    (a self-loop feeds its own inflow).  Node ids are any equi-joinable
    type (host strings, hashed longs) — the rank arithmetic never
    touches them.  ``checkpoint=False`` keeps the full lineage (useful
    for plan tests on tiny graphs).
    """
    e, nodes, outdeg = _link_graph(
        edges, src_col, dst_col, checkpoint, outdeg=True
    )
    n = nodes.count()
    if n == 0:
        raise ValueError("pagerank: empty graph")
    init = scale // n
    base = (15 * init) // 100  # (1-d)/n in scaled integer units
    ranks = nodes.select("node", F.lit(init).cast("long").alias("r"))
    rank = F.lit(base).cast("long") + F.expr(
        f"({DAMP_NUM} * (coalesce(inflow, 0L) + ds div {n})) div {DAMP_DEN}"
    )
    return _rank_loop(
        nodes, ranks, e, outdeg, rank, iters, checkpoint, scale, "rank"
    )


def pagerank_oracle_sql(
    edges_sql: str, iters: int = 5, scale: int = PR_SCALE
) -> str:
    """The DuckDB CTE chain recomputing :func:`pagerank` exactly —
    iterations unrolled (fixed count), integer ``//`` floor division
    everywhere, so every intermediate BIGINT matches the Spark state.
    ``edges_sql`` must select distinct-safe (src, dst) pairs."""
    parts = [
        f"with edges as ({edges_sql})",
        "nodes as (select src as node from edges"
        " union select dst from edges)",
        "outdeg as (select src, count(*)::BIGINT d from edges"
        " group by 1)",
        "params as (select count(*)::BIGINT n from nodes)",
        f"pr0 as (select node, ({scale} // p.n)::BIGINT r"
        " from nodes cross join params p)",
    ]
    for i in range(iters):
        parts.append(
            f"x{i} as (select e.dst, (c.r // o.d)::BIGINT q"
            f" from pr{i} c join outdeg o on c.node = o.src"
            " join edges e on c.node = e.src)"
        )
        parts.append(
            f"dg{i} as (select coalesce(sum(c.r), 0)::BIGINT ds"
            f" from pr{i} c left join outdeg o on c.node = o.src"
            " where o.src is null)"
        )
        parts.append(
            f"pr{i + 1} as (select nd.node,"
            f" ((15 * ({scale} // p.n)) // 100"
            f" + (85 * (coalesce(x.inflow, 0) + d.ds // p.n)) // 100"
            ")::BIGINT r"
            " from nodes nd cross join params p"
            f" cross join dg{i} d"
            f" left join (select dst, sum(q)::BIGINT inflow from x{i}"
            " group by 1) x on nd.node = x.dst)"
        )
    parts_sql = ",\n".join(parts)
    return (
        f"{parts_sql}\n"
        f"select node, r as rank_scaled,"
        f" round(r / {float(scale)!r}, 9) as rank from pr{iters}"
    )


def apportion_budget(
    ranks: DataFrame,
    total_budget: int,
    node_col: str = "node",
    weight_col: str = "rank_scaled",
) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of a global epoch
    fetch budget across hosts, proportional to an integer weight —
    the bridge from :func:`pagerank` to the politeness scheduler's
    per-host budget (the reference fixes ``max_concurrent_tasks`` per
    host uniformly, ``config/crawler.rs:55-63``; rank-proportional
    budgets are the discovery-at-scale upgrade).

    Exact integer math end to end: ``base = (B·w) div W``, remainder
    ``(B·w) mod W``; the ``B - Σbase`` leftover units (< n_hosts) go to
    the largest remainders (ties to the smaller node id).  Σbudget = B
    exactly — the invariant a float-rounding allocator can't give.

    Scale shape: base/remainder are map-side; the leftover set is a
    bounded ``orderBy(...).limit(leftover)`` (TakeOrderedAndProject —
    per-partition heap, never a global sort) broadcast back.  Two tiny
    driver scalars (W, leftover) are collected — same footprint as the
    k-means centroid hand-off.

    Overflow note: requires ``total_budget · max(w) < 2^63`` — with
    pagerank's 1e-12 scale (w ≤ 10^12) that allows budgets to ~9e6;
    rescale weights (``w div 10^6``) for larger budgets.
    """
    w_sum = ranks.agg(F.sum(weight_col).alias("w")).collect()[0]["w"]
    if not w_sum or w_sum <= 0:
        raise ValueError("apportion_budget: non-positive weight sum")
    scaled = ranks.select(
        F.col(node_col).alias("node"),
        F.expr(f"({total_budget} * {weight_col}) div {w_sum}").alias(
            "base"
        ),
        F.expr(f"({total_budget} * {weight_col}) % {w_sum}").alias("rem"),
    )
    leftover = int(
        total_budget - scaled.agg(F.sum("base")).collect()[0][0]
    )
    extra = (
        scaled.orderBy(F.desc("rem"), F.asc("node"))
        .limit(leftover)
        .select("node", F.lit(1).cast("long").alias("extra"))
    )
    return (
        scaled.join(F.broadcast(extra), "node", "left")
        .select(
            "node",
            "base",
            "rem",
            (F.col("base") + F.coalesce(F.col("extra"), F.lit(0))).cast(
                "long"
            ).alias("budget"),
        )
    )


def apportion_oracle_sql(weights_sql: str, total_budget: int) -> str:
    """DuckDB recomputation of :func:`apportion_budget` over any
    ``(node, rank_scaled)``-shaped *weights_sql* (which may itself be a
    full WITH query — it is nested as a subquery)."""
    return f"""
        with w as (select * from ({weights_sql}) t),
        tot as (select sum(rank_scaled)::BIGINT ws from w),
        s as (select node,
                     (({total_budget} * rank_scaled) // ws)::BIGINT base,
                     (({total_budget} * rank_scaled) % ws)::BIGINT rem
              from w, tot),
        lo as (select ({total_budget} - sum(base))::BIGINT l from s),
        rk as (select node, rem,
                      row_number() over (order by rem desc, node) rn
               from s),
        ex as (select rk.node from rk, lo where rk.rn <= lo.l)
        select s.node, s.base, s.rem,
               (s.base + (s.node in (select node from ex))::int)::BIGINT
                 budget
        from s
    """


HITS_SCALE = 10 ** 9


def hits(
    edges: DataFrame,
    iters: int = 3,
    scale: int = HITS_SCALE,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint: bool = True,
) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg 1999) in exact integer
    arithmetic — the hubs/authorities complement of :func:`pagerank`
    for the crawl link graph (a high-authority CDN vs a high-hub feed
    aggregator are different scheduling signals).

    Per iteration, mirrored exactly by the oracle::

        a(u)  = Σ over edges (v,u) of h(v)          -- exact BIGINT
        a'(u) = a(u) div ceil(max_u a(u) / scale)   -- max-normalized
        h(v)  = Σ over edges (v,u) of a'(u)
        h'(v) = h(v) div ceil(max_v h(v) / scale)

    Max-normalization (instead of the textbook L2) keeps every state
    integer, and dividing by ``ceil(max/scale)`` instead of the naive
    ``(x·scale) div max`` avoids the 64-bit overflow the multiply form
    hits as soon as Σdeg·scale exceeds 2^63; states stay ≤ ~scale, so
    the next half-step's sums are bounded by in-degree·scale.  The max
    is a 1-row aggregate broadcast back, never a driver round-trip
    inside the plan.

    Same shuffle budget as pagerank: one O(edges) exchange per
    half-step with map-side combine; nodes with no in(out) edges hold
    score 0.  ``localCheckpoint`` per iteration (Pregel lineage
    truncation).  Output: ``(node, auth_scaled, hub_scaled)``.
    """
    e, nodes, _ = _link_graph(edges, src_col, dst_col, checkpoint)
    if nodes.count() == 0:
        raise ValueError("hits: empty graph")
    hub = nodes.select("node", F.lit(scale).cast("long").alias("h"))
    auth = None
    for _ in range(iters):
        raw_a = (
            hub.join(e, hub["node"] == e["src"])
            .groupBy("dst")
            .agg(F.sum("h").alias("ra"))
        )
        max_a = raw_a.agg(F.max("ra").alias("m"))
        auth = (
            nodes.join(raw_a, nodes["node"] == raw_a["dst"], "left")
            .crossJoin(F.broadcast(max_a))
            .select(
                "node",
                F.expr(
                    f"coalesce(ra, 0L)"
                    f" div ((m + {scale} - 1) div {scale}L)"
                ).cast("long").alias("a"),
            )
        )
        raw_h = (
            auth.join(e, auth["node"] == e["dst"])
            .groupBy("src")
            .agg(F.sum("a").alias("rh"))
        )
        max_h = raw_h.agg(F.max("rh").alias("m"))
        hub = (
            nodes.join(raw_h, nodes["node"] == raw_h["src"], "left")
            .crossJoin(F.broadcast(max_h))
            .select(
                "node",
                F.expr(
                    f"coalesce(rh, 0L)"
                    f" div ((m + {scale} - 1) div {scale}L)"
                ).cast("long").alias("h"),
            )
        )
        if checkpoint:
            auth = auth.localCheckpoint(eager=True)
            hub = hub.localCheckpoint(eager=True)
    return auth.join(hub, "node").select(
        "node",
        F.col("a").alias("auth_scaled"),
        F.col("h").alias("hub_scaled"),
    )


def hits_oracle_sql(
    edges_sql: str, iters: int = 3, scale: int = HITS_SCALE
) -> str:
    """Unrolled DuckDB CTE chain recomputing :func:`hits` exactly."""
    parts = [
        f"with edges as ({edges_sql})",
        "nodes as (select src as node from edges"
        " union select dst from edges)",
        f"h0 as (select node, {scale}::BIGINT h from nodes)",
    ]
    for i in range(iters):
        parts.append(
            f"ra{i} as (select e.dst, sum(c.h)::BIGINT ra"
            f" from h{i} c join edges e on c.node = e.src group by 1)"
        )
        parts.append(
            f"a{i + 1} as (select nd.node,"
            f" (coalesce(x.ra, 0)"
            f" // (((select max(ra) from ra{i}) + {scale} - 1)"
            f" // {scale}))::BIGINT a"
            f" from nodes nd left join ra{i} x on nd.node = x.dst)"
        )
        parts.append(
            f"rh{i} as (select e.src, sum(c.a)::BIGINT rh"
            f" from a{i + 1} c join edges e on c.node = e.dst group by 1)"
        )
        parts.append(
            f"h{i + 1} as (select nd.node,"
            f" (coalesce(x.rh, 0)"
            f" // (((select max(rh) from rh{i}) + {scale} - 1)"
            f" // {scale}))::BIGINT h"
            f" from nodes nd left join rh{i} x on nd.node = x.src)"
        )
    parts_sql = ",\n".join(parts)
    return (
        f"{parts_sql}\n"
        f"select a.node, a.a as auth_scaled, h.h as hub_scaled"
        f" from a{iters} a join h{iters} h using (node)"
    )


def anchor_stats(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    anchor_col: str = "anchor",
    max_anchor_len: int = 256,
) -> DataFrame:
    """Per-target anchor-text aggregation over a link graph.

    Anchor text — the words other pages use to link to a target — is
    the classic off-page relevance signal (Brin & Page 1998 §2.2 use it
    to index uncrawled targets) and, in an LLM-data pipeline, the
    cheapest quality/topic label for pages not yet fetched.  The
    reference never aggregates link context (its link structs carry a
    ``name`` it only filters on, ``rss_fetcher.rs``); this is the
    ranking-side upgrade.

    Returns one row per target: ``(dst, n_links, n_sources, n_anchors,
    top_anchor, top_anchor_cnt)`` where top_anchor is the most frequent
    anchor string (ties break lexicographically smallest — the
    window-free ``min(struct(-cnt, anchor))`` argmax, same idiom as
    ``traps.trap_stats``).

    Scale shape: anchors are truncated map-side to *max_anchor_len*
    bytes before any exchange; the heavy groupBy key is ``(dst,
    anchor)`` so duplicate anchors collapse map-side and a hot target's
    rows still spread across reducers; both per-target rollups (anchor
    stats, distinct sources) aggregate already-collapsed tables and
    meet in one join of per-target rows.  Counts are integers end to
    end — exact SQL oracle.
    """
    e = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        F.substring(F.col(anchor_col).cast("string"), 1, max_anchor_len)
        .alias("anchor"),
    ).filter(F.col("anchor").isNotNull() & (F.col("anchor") != ""))
    per_anchor = e.groupBy("dst", "anchor").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    anchor_roll = per_anchor.groupBy("dst").agg(
        F.sum("cnt").alias("n_links"),
        F.count(F.lit(1)).alias("n_anchors"),
        F.min(F.struct((-F.col("cnt")).alias("neg"), F.col("anchor"))).alias(
            "top"
        ),
    )
    src_roll = (
        e.select("dst", "src")
        .distinct()
        .groupBy("dst")
        .agg(F.count(F.lit(1)).alias("n_sources"))
    )
    return (
        anchor_roll.join(src_roll, "dst")
        .select(
            "dst",
            "n_links",
            "n_sources",
            "n_anchors",
            F.col("top.anchor").alias("top_anchor"),
            (-F.col("top.neg")).alias("top_anchor_cnt"),
        )
    )


def anchor_oracle_sql(
    edges_sql: str,
    max_anchor_len: int = 256,
) -> str:
    """DuckDB SQL replaying :func:`anchor_stats` exactly over
    ``edges_sql`` (a relation with src, dst, anchor)."""
    return f"""
        WITH e AS (
            SELECT src, dst, substring(anchor, 1, {max_anchor_len}) AS anchor
            FROM ({edges_sql})
            WHERE anchor IS NOT NULL AND anchor <> ''
        ),
        pa AS (
            SELECT dst, anchor, COUNT(*) AS cnt
            FROM e GROUP BY dst, anchor
        ),
        ar AS (
            SELECT dst, SUM(cnt)::BIGINT AS n_links,
                   COUNT(*) AS n_anchors,
                   MIN((-cnt, anchor)) AS top
            FROM pa GROUP BY dst
        ),
        sr AS (
            SELECT dst, COUNT(*) AS n_sources
            FROM (SELECT DISTINCT dst, src FROM e) GROUP BY dst
        )
        SELECT ar.dst, n_links, n_sources, n_anchors,
               top[2] AS top_anchor, (-top[1])::BIGINT AS top_anchor_cnt
        FROM ar JOIN sr ON ar.dst = sr.dst
    """


def resolve_redirects(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = 20,
) -> DataFrame:
    """Redirect-chain resolution: follow each URL's redirect pointer to
    its terminal target — ``(url, final_url, hops, cyclic)``, one row
    per redirecting URL.  A crawler must store content under the
    canonical (terminal) URL and count a chain's hops against its
    politeness budget; the reference follows redirects inside reqwest
    one fetch at a time (`src/crawler/http_client.rs` policy), which at
    10^10 URLs becomes a *graph* problem over observed redirect edges.

    Algorithm: **pointer doubling** (Wyllie's shortcutting — the
    classic PRAM list-ranking step).  Maintain ``f(u) = (ptr, hops,
    done)``; each round substitutes ``f(u) <- f(f(u))``, composing hop
    counts, so chain coverage SQUARES per round: a length-L chain
    resolves in ceil(log2 L) self-joins instead of L naive walk steps —
    at web scale (chains bounded ~30 by fetch policy) that's 5 rounds,
    each ONE equi-join on the pointer key + localCheckpoint (Pregel
    lineage truncation).  URLs still unresolved after ``max_rounds``
    (2^20-length coverage) are loops: flagged ``cyclic`` with null
    final_url — a redirect cycle is a crawl trap, not an error.

    Input must be a function: one outgoing edge per src (duplicate
    srcs raise — an ambiguous redirect map means upstream LWW wasn't
    applied).  Terminals are dst nodes that never appear as src.
    """
    e = edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("ptr"))
    dup = e.groupBy("u").count().filter(F.col("count") > 1).limit(1).collect()
    if dup:
        raise ValueError(
            f"resolve_redirects: src {dup[0]['u']!r} has multiple outgoing "
            "redirect edges — resolve LWW upstream first"
        )
    # terminal targets close the function: f(t) = t with 0 hops, done
    terminals = (
        e.select(F.col("ptr").alias("u"))
        .join(e.select("u"), "u", "left_anti")
        .distinct()
        .select("u", F.col("u").alias("ptr"), F.lit(0).cast("long").alias("hops"),
                F.lit(True).alias("done"))
    )
    srcs = e.select("u").localCheckpoint(eager=True)  # rows we must emit
    f = (
        e.select("u", "ptr", F.lit(1).cast("long").alias("hops"))
        .join(terminals.select(F.col("u").alias("ptr"),
                               F.lit(True).alias("done")), "ptr", "left")
        .select("u", "ptr", "hops", F.coalesce("done", F.lit(False)).alias("done"))
        .unionByName(terminals)
        .localCheckpoint(eager=True)
    )
    for _ in range(max_rounds):
        pending = f.filter(~F.col("done")).count()
        if pending == 0:
            break
        g = f.select(
            F.col("u").alias("g_u"), F.col("ptr").alias("g_ptr"),
            F.col("hops").alias("g_hops"), F.col("done").alias("g_done"),
        )
        f = (
            f.join(g, f["ptr"] == g["g_u"], "left")
            .select(
                "u",
                F.when(F.col("done"), F.col("ptr"))
                .otherwise(F.coalesce("g_ptr", "ptr")).alias("ptr"),
                F.when(F.col("done"), F.col("hops"))
                .otherwise(F.col("hops") + F.coalesce("g_hops", F.lit(0)))
                .alias("hops"),
                (F.col("done") | F.coalesce("g_done", F.lit(False))).alias("done"),
            )
            .localCheckpoint(eager=True)
        )
    return srcs.join(f, "u").select(
        F.col("u").alias("url"),
        F.when(F.col("done"), F.col("ptr")).alias("final_url"),
        F.when(F.col("done"), F.col("hops")).cast("long").alias("hops"),
        (~F.col("done")).alias("cyclic"),
    )


def hop_distance(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
    checkpoint: bool = True,
) -> DataFrame:
    """Crawl-depth tracking: BFS hop distance from the seed set over a
    link graph, bounded at ``max_hops`` — the "how far from a seed did
    this URL enter the frontier" signal every breadth-limited crawler
    keys its budget and trap heuristics on (the reference's frontier
    carries no depth at all; tasks are scheduled by insertion order,
    ``task_management_system.rs:272-296``).  Returns ``(node, hops)``
    for every node reachable within ``max_hops`` (seeds at 0);
    unreachable nodes are absent, so a left join of the frontier
    against the result gives the "beyond horizon" set.

    Delta BFS, the Pregel shape: per round the join input is ONLY the
    frontier discovered last round (not the visited set), so round i
    costs one O(frontier_i ⋈ edges) equi-join shuffle plus one
    O(candidates) anti-join against visited — never O(nodes · rounds).
    ``localCheckpoint`` per round truncates lineage (same discipline as
    :func:`pagerank`).  At 10^8 hosts / 10^10 edges the per-round
    frontier is the scale unit, and a hot hub expanding to millions of
    dsts is an ordinary skewed equi-join (AQE splits it); nothing is
    ever collected to the driver.

    BFS min-distance is deterministic for any execution order, so the
    unrolled DuckDB chain in :func:`hop_distance_oracle_sql` recomputes
    the exact (node, hops) set — a full-value oracle, no tripwires.
    """
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    if checkpoint:
        e = e.localCheckpoint(eager=True)
    frontier = (
        seeds.select(F.col(seed_col).alias("node"))
        .distinct()
        .select("node", F.lit(0).cast("int").alias("hops"))
    )
    if checkpoint:
        frontier = frontier.localCheckpoint(eager=True)
    visited = frontier
    for i in range(max_hops):
        nxt = (
            frontier.join(e, frontier["node"] == e["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .select("node", F.lit(i + 1).cast("int").alias("hops"))
        )
        if checkpoint:
            nxt = nxt.localCheckpoint(eager=True)
        visited = visited.unionByName(nxt)
        if checkpoint:
            visited = visited.localCheckpoint(eager=True)
        frontier = nxt
    return visited


def hop_distance_oracle_sql(
    edges_sql: str, seeds_sql: str, max_hops: int = 4
) -> str:
    """DuckDB recomputation of :func:`hop_distance`: the same unrolled
    frontier chain (distinct dsts of the previous frontier, minus the
    union of all earlier levels).  ``seeds_sql`` selects a ``node``
    column; ``edges_sql`` selects (src, dst)."""
    parts = [
        f"with edges as ({edges_sql})",
        f"v0 as (select distinct node, 0::int hops from ({seeds_sql}) s)",
        "a0 as (select node from v0)",
    ]
    for i in range(max_hops):
        parts.append(
            f"v{i + 1} as (select distinct e.dst as node,"
            f" {i + 1}::int hops"
            f" from v{i} f join edges e on f.node = e.src"
            f" where e.dst not in (select node from a{i}))"
        )
        parts.append(
            f"a{i + 1} as (select node from a{i}"
            f" union select node from v{i + 1})"
        )
    levels = " union all ".join(
        f"select * from v{i}" for i in range(max_hops + 1)
    )
    joined = ",\n".join(parts)
    return f"{joined}\n{levels}"


def triangle_counts(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node triangle counts over an undirected graph given as a
    directed edge table (each {u,v} link in either or both directions;
    self-loops ignored) — the local-clustering signal link-spam and
    mutual-citation farms light up on (a crawl-scheduler downrank
    input; Suri & Vassilvitskii, WWW'11 give the MapReduce shape used
    here).  Returns ``(node, triangles)`` for nodes in ≥1 triangle.

    Degree orientation is the scale move: symmetrize + dedup, then
    orient every undirected edge from the (degree, id)-smaller toward
    the larger endpoint.  The oriented out-degree is O(√m) even for a
    10^7-degree hub, so the wedge self-join — the quadratic step —
    is bounded per node by √m, not by the hub degree: total wedges
    ≤ m^1.5 (the theoretical floor), reached with TWO shuffles of the
    oriented edge list and one (a,c) hash-join probe.  No windows, no
    driver state; counts come back per corner via a final union-
    groupBy with map-side combine.
    """
    raw = edges.select(
        F.col(src_col).alias("u"), F.col(dst_col).alias("v")
    ).filter(F.col("u") != F.col("v"))
    und = (
        raw.select("u", "v")
        .union(raw.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
    )
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    du = deg.select(F.col("u").alias("a"), F.col("d").alias("da"))
    dv = deg.select(F.col("u").alias("b"), F.col("d").alias("db"))
    oriented = (
        und.join(du, und["u"] == du["a"])
        .join(dv, und["v"] == dv["b"])
        .filter(
            (F.col("da") < F.col("db"))
            | ((F.col("da") == F.col("db")) & (F.col("u") < F.col("v")))
        )
        .select("u", "v")
    )
    e1 = oriented.select(F.col("u").alias("x"), F.col("v").alias("y"))
    e2 = oriented.select(F.col("u").alias("y2"), F.col("v").alias("z"))
    wedges = e1.join(e2, e1["y"] == e2["y2"]).select("x", "y", "z")
    tri = wedges.join(
        oriented,
        (wedges["x"] == oriented["u"]) & (wedges["z"] == oriented["v"]),
    ).select("x", "y", "z")
    corners = (
        tri.select(F.col("x").alias("node"))
        .union(tri.select(F.col("y").alias("node")))
        .union(tri.select(F.col("z").alias("node")))
    )
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("triangles")
    )


def triangle_oracle_sql(edges_sql: str) -> str:
    """DuckDB recomputation of :func:`triangle_counts` — same
    symmetrize / degree-orient / wedge-close chain."""
    return f"""
        with raw as (select * from ({edges_sql}) t where src <> dst),
        und as (select src u, dst v from raw
                union select dst, src from raw),
        deg as (select u, count(*)::BIGINT d from und group by 1),
        o as (select und.u, und.v from und
              join deg a on und.u = a.u join deg b on und.v = b.u
              where a.d < b.d or (a.d = b.d and und.u < und.v)),
        tri as (select w.x, w.y, w.z
                from (select e1.u x, e1.v y, e2.v z
                      from o e1 join o e2 on e1.v = e2.u) w
                join o on w.x = o.u and w.z = o.v),
        corners as (select x node from tri
                    union all select y from tri
                    union all select z from tri)
        select node, count(*)::BIGINT triangles from corners group by 1
    """


def label_propagation(
    edges: DataFrame,
    iters: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint: bool = True,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007), deterministic variant: every node starts labeled with
    itself; each iteration every node adopts the most frequent label
    among its neighbors, ties broken toward the SMALLER label (the same
    determinism move as ``dedup_clusters``' min-label propagation —
    classic LPA's random tie-break is irreproducible across runs, which
    is useless for an oracle-gated engine).  Isolated behavior: the
    graph is symmetrized; a node with no neighbors keeps its own label.
    Returns ``(node, label)`` after ``iters`` rounds.

    Crawl use: host communities = podcast networks / CDN clusters /
    link farms — the grouping unit for shared politeness budgets
    (mirror candidates from ``traps.mirror_hosts`` feed in as edges)
    and for frontier diversity quotas.

    Scale shape: per iteration one O(edges) join (labels onto edge
    sources), one (dst, label) groupBy with map-side combine, and one
    window-free argmax via ``min(struct(-cnt, label))`` — the
    ``traps.trap_stats`` discipline; `localCheckpoint` truncates
    lineage per round.  Fixed iteration count + deterministic ties ⇒
    the whole trajectory is replayed by an unrolled DuckDB CTE chain.
    """
    raw = edges.select(
        F.col(src_col).alias("u"), F.col(dst_col).alias("v")
    ).filter(F.col("u") != F.col("v"))
    und = (
        raw.union(
            raw.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        .distinct()
    )
    if checkpoint:
        und = und.localCheckpoint(eager=True)
    nodes = und.select(F.col("u").alias("node")).distinct()
    if checkpoint:
        nodes = nodes.localCheckpoint(eager=True)
    labels = nodes.select("node", F.col("node").alias("label"))
    for _ in range(iters):
        lab_src = labels.select(
            F.col("node").alias("l_node"), "label"
        )
        votes = (
            und.join(lab_src, und["u"] == lab_src["l_node"])
            .groupBy(F.col("v").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        best = votes.groupBy("node").agg(
            F.min(F.struct((-F.col("cnt")).alias("nc"), F.col("label")))
            .alias("b")
        ).select("node", F.col("b.label").alias("new_label"))
        labels = (
            nodes.join(labels, "node")
            .join(best, "node", "left")
            .select(
                "node",
                F.coalesce("new_label", "label").alias("label"),
            )
        )
        if checkpoint:
            labels = labels.localCheckpoint(eager=True)
    return labels


def label_propagation_oracle_sql(edges_sql: str, iters: int = 4) -> str:
    """DuckDB recomputation of :func:`label_propagation` — the same
    symmetrize / vote / min-tie argmax chain, iterations unrolled."""
    parts = [
        f"with raw as (select * from ({edges_sql}) t where src <> dst)",
        "und as (select src u, dst v from raw"
        " union select dst, src from raw)",
        "nodes as (select distinct u as node from und)",
        "l0 as (select node, node as label from nodes)",
    ]
    for i in range(iters):
        parts.append(
            f"v{i} as (select e.v as node, c.label,"
            " count(*)::BIGINT cnt"
            f" from und e join l{i} c on e.u = c.node"
            " group by 1, 2)"
        )
        parts.append(
            f"b{i} as (select node, label as new_label from ("
            "  select node, label, row_number() over ("
            "    partition by node order by cnt desc, label asc) rn"
            f"  from v{i}) x where rn = 1)"
        )
        parts.append(
            f"l{i + 1} as (select n.node,"
            " coalesce(b.new_label, c.label) as label"
            f" from nodes n join l{i} c on n.node = c.node"
            f" left join b{i} b on n.node = b.node)"
        )
    joined = ",\n".join(parts)
    return f"{joined}\nselect node, label from l{iters}"


def hierarchical_budget(
    ranks: DataFrame,
    total_budget: int,
    domain_col: str = "domain",
    node_col: str = "node",
    weight_col: str = "rank_scaled",
) -> DataFrame:
    """Two-level fetch-budget apportionment: registrable domain first,
    then hosts within each domain — the politeness-correct split (a
    podcast network with 500 subdomain hosts should compete for budget
    as ONE domain, then divide internally; flat host-level apportionment
    lets a subdomain farm multiply its share — the same abuse vector
    DUST/mirror detection closes for dedup).

    Level 1 reuses :func:`apportion_budget` across domain weight sums
    (bounded driver scalars, documented there).  Level 2 — the level
    with real fan-out (10^2..10^6 hosts per domain) — is a FULLY
    DISTRIBUTED largest-remainder: per-domain weight sums, floor
    quotas, remainder ranks and the ``rank <= leftover_d`` top-up are
    all windows over the domain key, so one exchange partitions the
    work and every domain resolves in parallel; no driver scalar per
    domain (that would be a 10^7-round-trip loop).

    Output: ``(domain, node, w, domain_budget, base, budget)`` with
    Σbudget per domain = that domain's level-1 budget EXACTLY, hence
    Σbudget = total_budget exactly.
    """
    from pyspark.sql import Window

    r = ranks.select(
        F.col(domain_col).alias("domain"),
        F.col(node_col).alias("node"),
        F.col(weight_col).cast("long").alias("w"),
    )
    dom_w = r.groupBy("domain").agg(F.sum("w").alias("dw"))
    dom_budget = apportion_budget(
        dom_w, total_budget, node_col="domain", weight_col="dw"
    ).select("node", "budget").withColumnRenamed("node", "domain").withColumnRenamed(
        "budget", "domain_budget"
    )
    j = r.join(dom_budget, "domain")
    wd = Window.partitionBy("domain")
    j = j.withColumn("dw", F.sum("w").over(wd))
    j = j.withColumn(
        "base", F.expr("(domain_budget * w) div dw")
    ).withColumn("rem", F.expr("(domain_budget * w) % dw"))
    j = j.withColumn(
        "leftover", F.col("domain_budget") - F.sum("base").over(wd)
    )
    wrk = Window.partitionBy("domain").orderBy(
        F.desc("rem"), F.asc("node")
    )
    j = j.withColumn("rn", F.row_number().over(wrk))
    return j.select(
        "domain",
        "node",
        "w",
        "domain_budget",
        "base",
        (
            F.col("base")
            + (F.col("rn") <= F.col("leftover")).cast("long")
        ).alias("budget"),
    )


def hierarchical_oracle_sql(
    ranks_sql: str, total_budget: int
) -> str:
    """DuckDB recomputation of :func:`hierarchical_budget` over any
    ``(domain, node, rank_scaled)`` subquery — nests the level-1
    apportionment oracle, then replays the per-domain windows."""
    dom_sql = (
        f"select domain as node, sum(rank_scaled)::BIGINT as"
        f" rank_scaled from ({ranks_sql}) rr group by 1"
    )
    l1 = apportion_oracle_sql(dom_sql, total_budget)
    return f"""
        with r as (select domain, node, rank_scaled::BIGINT w
                   from ({ranks_sql}) t),
        l1 as (select node as domain, budget as domain_budget
               from ({l1}) x),
        j as (select r.*, l1.domain_budget,
                     sum(w) over (partition by r.domain) dw
              from r join l1 using (domain)),
        q as (select *,
                     ((domain_budget * w) // dw)::BIGINT as base,
                     (domain_budget * w) % dw as rem
              from j),
        l as (select *,
                     domain_budget - sum(base) over (partition by domain)
                       leftover,
                     row_number() over (partition by domain
                                        order by rem desc, node) rn
              from q)
        select domain, node, w, domain_budget, base,
               (base + (rn <= leftover)::int)::BIGINT budget
        from l
    """


def focused_budget(
    docs: DataFrame,
    base_budget: int = 8,
    tau: float = 0.5,
    host_col: str = "host",
    quality_col: str = "quality",
) -> DataFrame:
    """Focused-crawl budget feedback (Chakrabarti et al. '99 by way of
    the modern corpus-quality loop): a host's next-epoch fetch budget
    scales with how much of what it served was WORTH keeping.  Input is
    one row per parsed document carrying its host and a quality score
    (``textstats.quality_scores``); per host:

      - ``good_ppm = 10^6 · n_good div n_docs`` (quality ≥ *tau*,
        exact integer fraction)
      - ``budget = base_budget × mult`` with mult 4 / 2 / 1 / 0 at
        good_ppm ≥ 80% / 50% / 20% / below — the drop-to-zero tier is
        the spam/boilerplate-farm cutoff (these hosts still re-enter
        via the aging guard if their robots/quality change — budget 0
        is an epoch decision, not a permanent ban).

    The thresholds compare an exact integer (good_ppm) so the tiering
    is engine-stable; the per-row ``quality ≥ tau`` boolean rides on
    quality_scores' deterministic per-row arithmetic.  ONE aggregate,
    map-side combine; composes with ``budget_apportion`` /
    ``hierarchical_budget`` downstream.
    """
    good = (F.col(quality_col) >= F.lit(tau)).cast("long")
    agg = docs.groupBy(host_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(good).alias("n_good"),
    )
    ppm = F.expr("(1000000 * n_good) div n_docs")
    mult = (
        F.when(F.col("good_ppm") >= 800_000, F.lit(4))
        .when(F.col("good_ppm") >= 500_000, F.lit(2))
        .when(F.col("good_ppm") >= 200_000, F.lit(1))
        .otherwise(F.lit(0))
    ).cast("long")
    return (
        agg.withColumn("good_ppm", ppm)
        .withColumn("budget", F.lit(int(base_budget)) * mult)
        .select(host_col, "n_docs", "n_good", "good_ppm", "budget")
    )


OPIC_SCALE = 10 ** 12


def opic(
    edges: DataFrame,
    iters: int = 5,
    scale: int = OPIC_SCALE,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint: bool = True,
) -> DataFrame:
    """Batch-synchronous OPIC — On-line Page Importance Computation
    (Abiteboul, Preda & Cobéna, WWW '03): the crawl-ordering algorithm
    that estimates page importance DURING the crawl, without waiting
    for a pagerank convergence pass.  Every node carries ``cash`` (to
    be distributed) and ``history`` (cash it has already held); each
    epoch a crawled node banks its cash into history and hands it to
    its outlinks in equal shares; importance is the node's share of all
    banked history.  The reference's distributor hands out tasks in
    seed order (``distributor.rs:33-41``) — OPIC is the
    importance-aware upgrade that needs no extra fetches, only this
    bookkeeping over links already parsed.

    Exact-integer epoch rule, mirrored by :func:`opic_oracle_sql`::

        hist'(v) = hist(v) + cash(v)
        q(u)     = cash(u) div outdeg(u)      -- per-edge share
        keep(u)  = cash(u) mod outdeg(u)      -- indivisible remainder
        pool     = sum of cash(u) over outdeg-0 nodes
        cash'(v) = inflow(v) + keep(v) + pool div n

    (``pool mod n`` is dropped, the same convention as pagerank's
    dangling term — bounded by n units of 10^-12 cash per epoch.)

    Scale shape (10^8 hosts, 10^10 edges): per epoch ONE O(edges)
    shuffle for the inflow groupBy (map-side partial sums), an
    O(nodes) join, and a broadcast 1-row dangling pool — identical to
    the pagerank iteration; state is two BIGINTs per node and
    checkpoints with the frontier.  Output: ``(node, cash_scaled,
    hist_scaled, importance)`` with importance = hist / Σhist at 9 dp.
    """
    e, nodes, outdeg = _link_graph(
        edges, src_col, dst_col, checkpoint, outdeg=True
    )
    n = nodes.count()
    if n == 0:
        raise ValueError("opic: empty graph")
    init = scale // n
    state = nodes.select(
        "node",
        F.lit(init).cast("long").alias("cash"),
        F.lit(0).cast("long").alias("hist"),
    )
    for _ in range(iters):
        st = state.join(outdeg, state["node"] == outdeg["src"], "left")
        quot = st.filter(F.col("d").isNotNull()).select(
            F.col("node").alias("qsrc"),
            F.expr("cash div d").alias("q"),
        )
        inflow = (
            quot.join(e, quot["qsrc"] == e["src"])
            .groupBy("dst")
            .agg(F.sum("q").alias("inflow"))
        )
        pool = st.filter(F.col("d").isNull()).agg(
            F.coalesce(F.sum("cash"), F.lit(0)).cast("long").alias("pool")
        )
        state = (
            st.select(
                "node",
                "cash",
                "hist",
                F.when(
                    F.col("d").isNotNull(), F.expr("cash % d")
                ).otherwise(F.lit(0)).cast("long").alias("keep"),
            )
            .crossJoin(F.broadcast(pool))
            .join(
                inflow,
                F.col("node") == inflow["dst"],
                "left",
            )
            .select(
                "node",
                (
                    F.coalesce(F.col("inflow"), F.lit(0))
                    + F.col("keep")
                    + F.expr(f"pool div {n}")
                ).cast("long").alias("cash"),
                (F.col("hist") + F.col("cash")).cast("long").alias("hist"),
            )
        )
        if checkpoint:
            state = state.localCheckpoint(eager=True)
    # Σhist as a broadcast 1-row aggregate, not a global window (which
    # would collapse the node table to one partition)
    total = state.agg(F.sum("hist").cast("long").alias("hist_total"))
    return state.crossJoin(F.broadcast(total)).select(
        "node",
        F.col("cash").alias("cash_scaled"),
        F.col("hist").alias("hist_scaled"),
        F.round(F.col("hist") / F.col("hist_total"), 9).alias("importance"),
    )


def opic_oracle_sql(
    edges_sql: str, iters: int = 5, scale: int = OPIC_SCALE
) -> str:
    """DuckDB CTE chain recomputing :func:`opic` exactly — iterations
    unrolled, integer ``//`` and ``%`` everywhere."""
    parts = [
        f"with edges as ({edges_sql})",
        "nodes as (select src as node from edges"
        " union select dst from edges)",
        "outdeg as (select src, count(*)::BIGINT d from edges group by 1)",
        "params as (select count(*)::BIGINT n from nodes)",
        f"s0 as (select node, ({scale} // p.n)::BIGINT cash,"
        " 0::BIGINT hist from nodes cross join params p)",
    ]
    for i in range(iters):
        parts.append(
            f"q{i} as (select e.dst, (c.cash // o.d)::BIGINT q"
            f" from s{i} c join outdeg o on c.node = o.src"
            " join edges e on c.node = e.src)"
        )
        parts.append(
            f"pl{i} as (select coalesce(sum(c.cash), 0)::BIGINT pool"
            f" from s{i} c left join outdeg o on c.node = o.src"
            " where o.src is null)"
        )
        parts.append(
            f"s{i + 1} as (select c.node,"
            " (coalesce(x.inflow, 0)"
            " + case when o.src is not null then c.cash % o.d"
            "        else 0 end"
            " + pl.pool // p.n)::BIGINT cash,"
            " (c.hist + c.cash)::BIGINT hist"
            f" from s{i} c cross join params p cross join pl{i} pl"
            " left join outdeg o on c.node = o.src"
            f" left join (select dst, sum(q)::BIGINT inflow from q{i}"
            " group by 1) x on c.node = x.dst)"
        )
    parts_sql = ",\n".join(parts)
    return (
        f"{parts_sql}\n"
        f"select node, cash as cash_scaled, hist as hist_scaled,"
        f" round(hist / (sum(hist) over ())::DOUBLE, 9) as importance"
        f" from s{iters}"
    )


def trustrank(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 5,
    scale: int = PR_SCALE,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
    checkpoint: bool = True,
) -> DataFrame:
    """TrustRank (Gyöngyi, Garcia-Molina & Pedersen, VLDB '04):
    pagerank with the teleport vector restricted to a hand-audited
    trusted seed set, so trust decays with link distance from the
    seeds and link-farmed spam (which cannot buy inlinks FROM trusted
    hosts) scores ~0 — the demotion signal feeding ``frontier_gating``
    / ``link_farm_detect``'s allow-lists.  Same exact-integer
    discipline as :func:`pagerank`; dangling mass also teleports to
    the seeds.

    Epoch rule (s = |seeds|), mirrored by :func:`trustrank_oracle_sql`::

        r0(v)  = scale div s         if v in seeds else 0
        q, inflow, dang as in pagerank
        r'(v)  = [v in seeds] * ((15 * (scale div s)) div 100
                                 + (85 * (dang div s)) div 100)
                 + (85 * inflow(v)) div 100

    Scale shape identical to pagerank (one O(edges) shuffle per
    iteration); the seed membership flag rides a broadcast join.
    Output: ``(node, trust_scaled, trust)``.
    """
    e, nodes, outdeg = _link_graph(
        edges, src_col, dst_col, checkpoint, outdeg=True,
        seeds=seeds.select(F.col(seed_col).alias("node")),
    )
    s = nodes.filter("is_seed").count()
    if s == 0:
        raise ValueError("trustrank: empty seed set")
    init = scale // s
    base = (15 * init) // 100
    ranks = nodes.select(
        "node",
        "is_seed",
        F.when(F.col("is_seed"), F.lit(init))
        .otherwise(F.lit(0)).cast("long").alias("r"),
    )
    rank = F.when(
        F.col("is_seed"),
        F.lit(base).cast("long")
        + F.expr(f"({DAMP_NUM} * (ds div {s})) div {DAMP_DEN}"),
    ).otherwise(F.lit(0)) + F.expr(
        f"({DAMP_NUM} * coalesce(inflow, 0L)) div {DAMP_DEN}"
    )
    return _rank_loop(
        nodes, ranks, e, outdeg, rank, iters, checkpoint, scale, "trust"
    )


def trustrank_oracle_sql(
    edges_sql: str, seeds_sql: str, iters: int = 5, scale: int = PR_SCALE
) -> str:
    """DuckDB CTE chain recomputing :func:`trustrank` exactly.
    *seeds_sql* selects a single ``node`` column."""
    parts = [
        f"with edges as ({edges_sql})",
        "nodes as (select src as node from edges"
        " union select dst from edges)",
        f"sds as (select distinct node from ({seeds_sql}) z)",
        "nd as (select n.node, (s.node is not null) is_seed"
        " from nodes n left join sds s on n.node = s.node)",
        "outdeg as (select src, count(*)::BIGINT d from edges group by 1)",
        "params as (select count(*)::BIGINT s from sds"
        " where node in (select node from nodes))",
        f"t0 as (select node, is_seed, case when is_seed"
        f" then ({scale} // p.s) else 0 end::BIGINT r"
        " from nd cross join params p)",
    ]
    for i in range(iters):
        parts.append(
            f"x{i} as (select e.dst, (c.r // o.d)::BIGINT q"
            f" from t{i} c join outdeg o on c.node = o.src"
            " join edges e on c.node = e.src)"
        )
        parts.append(
            f"dg{i} as (select coalesce(sum(c.r), 0)::BIGINT ds"
            f" from t{i} c left join outdeg o on c.node = o.src"
            " where o.src is null)"
        )
        parts.append(
            f"t{i + 1} as (select c.node, c.is_seed,"
            " (case when c.is_seed then"
            f" (15 * ({scale} // p.s)) // 100"
            f" + (85 * (d.ds // p.s)) // 100 else 0 end"
            " + (85 * coalesce(x.inflow, 0)) // 100)::BIGINT r"
            f" from t{i} c cross join params p cross join dg{i} d"
            f" left join (select dst, sum(q)::BIGINT inflow from x{i}"
            " group by 1) x on c.node = x.dst)"
        )
    parts_sql = ",\n".join(parts)
    return (
        f"{parts_sql}\n"
        f"select node, r as trust_scaled,"
        f" round(r / {float(scale)!r}, 9) as trust from t{iters}"
    )


def hyperball(
    edges: DataFrame,
    iters: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint: bool = True,
) -> DataFrame:
    """HyperBall (Boldi & Vigna — HyperANF WWW '11 / "In-core
    computation of geometric centralities" '13): the per-node
    neighborhood function at web scale.  Exact per-node ball sizes need
    one BFS per node — O(n·edges), unattainable at 10^8 hosts — but an
    HLL counter per node, max-merged along out-edges each round, gives
    |B(v, t)| (nodes within t out-hops of v) for EVERY node
    simultaneously in t rounds of O(edges · m) register traffic.  The
    crawl uses it as reachability centrality: a host whose t-ball is
    large reaches much of the web quickly — a discovery-priority signal
    complementing pagerank (prestige) and hop_distance (seed
    proximity).

    Registers are the ``sketches`` module's md5-slice derivation
    ((bucket, rho) per node key), so the whole run is a deterministic
    function of the graph: round t is ``reg'(v,b) = max(reg(v,b),
    max over out-edges (v,w) of reg(w,b))`` — a max-semilattice fold
    the oracle replays with unrolled CTEs, then the exact-integer
    harmonic estimate of :func:`sketches.hll_estimate_from_registers`.

    Scale shape: state is at most ``n · min(ball, m)`` register rows;
    each round is one O(edges·m_touched) join + groupBy-max with
    map-side partial max (registers merge before the exchange), plus
    ``localCheckpoint`` lineage truncation — the Pregel pattern.
    Output: ``(node, n_zero_regs, harmonic_scaled, hll_estimate)`` —
    the estimated ball size |B(v, iters)| including v itself.
    """
    from podcast_crawler_spark.operators import sketches

    e, nodes, _ = _link_graph(edges, src_col, dst_col, checkpoint)
    regs = sketches.hll_registers(
        nodes.select("node", F.col("node").alias("k")), "k", ["node"]
    )
    for _ in range(iters):
        pulled = (
            e.join(regs, regs["node"] == e["dst"])
            .select(e["src"].alias("node"), "bucket", "reg")
        )
        regs = (
            regs.unionByName(pulled)
            .groupBy("node", "bucket")
            .agg(F.max("reg").alias("reg"))
        )
        if checkpoint:
            regs = regs.localCheckpoint(eager=True)
    return sketches.hll_estimate_from_registers(regs, ["node"]).select(
        "node", "n_zero_regs", "harmonic_scaled", "hll_estimate"
    )


def _hll_reg_sql(key_expr: str) -> tuple[str, str]:
    """(bucket_sql, rho_sql) — the md5-slice register derivation in
    DuckDB, identical to ``sketches._hll_register_cols``."""
    h = f"md5({key_expr}::VARCHAR)"
    bucket = f"try_cast('0x' || substr({h}, 1, 2) as bigint)"
    v = f"try_cast('0x' || substr({h}, 3, 15) as bigint)"
    rho = (
        f"case when {v} = 0 then 61"
        f" else 61 - length(printf('%b', {v})) end"
    )
    return bucket, rho


def hyperball_oracle_sql(edges_sql: str, iters: int = 3) -> str:
    """DuckDB recomputation of :func:`hyperball`: same register
    derivation, unrolled max-merge rounds, exact-integer harmonic
    estimate with the linear-counting branch."""
    from podcast_crawler_spark.operators.sketches import HLL_ALPHA_SCALED

    bucket, rho = _hll_reg_sql("node")
    parts = [
        f"with edges as ({edges_sql})",
        "nodes as (select src as node from edges"
        " union select dst from edges)",
        f"r0 as (select node, {bucket} bucket, max({rho}) reg"
        " from nodes group by 1, 2)",
    ]
    for i in range(iters):
        parts.append(
            f"r{i + 1} as (select node, bucket, max(reg) reg from ("
            f"select * from r{i}"
            " union all "
            f"select e.src node, r.bucket, r.reg from edges e"
            f" join r{i} r on r.node = e.dst) u group by 1, 2)"
        )
    parts.append(
        f"sk as (select node, count(*) n_buckets,"
        " sum(case when reg <= 50 then (1::BIGINT << (50 - reg))"
        " else 0 end)::BIGINT harmonic_present"
        f" from r{iters} group by 1)"
    )
    parts.append(
        "est as (select node, (256 - n_buckets)::BIGINT n_zero_regs,"
        " (harmonic_present + (256 - n_buckets) * (1::BIGINT << 50))"
        "::BIGINT harmonic_scaled from sk)"
    )
    parts_sql = ",\n".join(parts)
    return (
        f"{parts_sql}\n"
        "select node, n_zero_regs, harmonic_scaled,"
        " round(case when n_zero_regs > 0"
        f" and {HLL_ALPHA_SCALED!r} / harmonic_scaled <= 2.5 * 256"
        " then 256.0 * ln(256.0 / n_zero_regs)"
        f" else {HLL_ALPHA_SCALED!r} / harmonic_scaled end, 4)"
        " hll_estimate from est"
    )


def cocitation(
    edges: DataFrame,
    max_indeg: int = 1000,
    min_shared: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Co-citation host similarity (Small, JASIS '73, applied to the
    web graph per Dean & Henzinger, WWW '99 "related pages"): two hosts
    are related when they link to many of the same targets.  The
    frontier use: a host co-citing the known-good feed directories is
    a promising seed-expansion candidate even before it is crawled —
    :func:`trustrank` needs inlinks FROM trusted hosts, co-citation
    only needs shared outlink targets, so it scores fresh hosts.

    Output ``(host_a, host_b, shared, outdeg_a, outdeg_b,
    jaccard_ppm)`` with host_a < host_b, shared >= *min_shared*, and
    ``jaccard_ppm = 10^6·shared div (outdeg_a + outdeg_b - shared)``
    (integer, oracle-exact) over the KEPT edge set.

    Scale shape: the pair generator is a self-equi-join on ``dst`` —
    its output is Σ_dst indeg(dst)², so one mega-hub (a target every
    host links to, e.g. a hosting provider's status page) would emit
    a quadratic pair blowup.  *max_indeg* drops those dsts BEFORE the
    join (they carry no similarity signal — co-citing google.com
    relates nobody), bounding pairs per dst at max_indeg²/2; the same
    capped-inverted-index discipline as ``dedup.ngram_jaccard``'s
    ``max_shingle_freq``.  Outdegrees are computed over the same kept
    set so the Jaccard stays internally consistent.  All joins are
    key-partitioned equi-joins; nothing is collected.
    """
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct()
    return _capped_overlap_pairs(
        e, "dst", "src", max_indeg, min_shared, ("host_a", "host_b"),
        "outdeg", sizes_over_kept=True,
    ).select(
        "host_a",
        "host_b",
        "shared",
        "outdeg_a",
        "outdeg_b",
        F.expr("1000000 * shared div (outdeg_a + outdeg_b - shared)")
        .cast("long")
        .alias("jaccard_ppm"),
    )


def cocitation_oracle_sql(
    edges_sql: str, max_indeg: int = 1000, min_shared: int = 2
) -> str:
    """DuckDB replay of :func:`cocitation`: same indeg cap, kept-set
    outdegrees and integer Jaccard."""
    return f"""
with e as (select distinct src, dst from ({edges_sql})),
keptdst as (select dst from e group by dst
            having count(*) <= {max_indeg}),
kept as (select src, dst from e where dst in (select dst from keptdst)),
outdeg as (select src, count(*)::BIGINT od from kept group by 1),
pairs as (select x.src host_a, y.src host_b, count(*)::BIGINT shared
          from kept x join kept y using (dst)
          where x.src < y.src
          group by 1, 2
          having count(*) >= {min_shared})
select p.host_a, p.host_b, p.shared,
       oa.od outdeg_a, ob.od outdeg_b,
       (1000000 * p.shared
        // (oa.od + ob.od - p.shared))::BIGINT jaccard_ppm
from pairs p
join outdeg oa on p.host_a = oa.src
join outdeg ob on p.host_b = ob.src
"""
