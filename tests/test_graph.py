"""PageRank tests: exact integer recurrence vs a straight-line python
oracle (including the dangling-node path the driver query's graph never
produces), plus structural sanity."""

import pytest
from pyspark.sql import functions as F

SCALE = 10 ** 12


def _py_pagerank(edges, iters, scale=SCALE):
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    n = len(nodes)
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    init = scale // n
    base = (15 * init) // 100
    r = {v: init for v in nodes}
    for _ in range(iters):
        inflow = {v: 0 for v in nodes}
        for s, d in edges:
            inflow[d] += r[s] // outdeg[s]
        dang = sum(r[v] for v in nodes if v not in outdeg)
        r = {
            v: base + (85 * (inflow[v] + dang // n)) // 100
            for v in nodes
        }
    return r


@pytest.fixture(scope="module")
def chain_graph(spark):
    # 0->1->2->3 (3 dangling), 4->1, 4->2, plus a self-loop 2->2
    edges = [(0, 1), (1, 2), (2, 3), (4, 1), (4, 2), (2, 2)]
    return edges, spark.createDataFrame(edges, "src long, dst long")


def test_pagerank_matches_python_oracle(chain_graph):
    from podcast_crawler_spark.operators.graph import pagerank

    edges, df = chain_graph
    got = {
        r.node: r.rank_scaled for r in pagerank(df, iters=6).collect()
    }
    assert got == _py_pagerank(edges, iters=6)
    # the uncheckpointed (pure-lineage) plan computes the same thing
    got2 = {
        r.node: r.rank_scaled
        for r in pagerank(df, iters=2, checkpoint=False).collect()
    }
    assert got2 == _py_pagerank(edges, iters=2)


def test_pagerank_dangling_mass_redistributed(chain_graph):
    """Node 3 has no out-edges; its mass must flow back to everyone —
    with a true sink and no redistribution, total mass collapses."""
    from podcast_crawler_spark.operators.graph import pagerank

    _, df = chain_graph
    rows = pagerank(df, iters=10).collect()
    total = sum(r.rank_scaled for r in rows)
    # floors leak at most a few units per node per iteration
    assert total > 0.95 * SCALE
    assert all(r.rank_scaled > 0 for r in rows)


def test_pagerank_ordering_sensible(spark):
    """A hub pointed at by everyone outranks the spokes."""
    from podcast_crawler_spark.operators.graph import pagerank

    edges = [(i, 99) for i in range(10)] + [(99, 0)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.rank_scaled for r in pagerank(df, iters=8).collect()}
    spokes = [got[i] for i in range(1, 10)]
    # 0 receives the hub's entire outflow, so it tops even the hub;
    # both crush the spokes, which only get base + dangling share
    assert got[0] > got[99] > max(spokes)
    assert len(set(spokes)) == 1


def test_pagerank_oracle_sql_generator_matches_duckdb(chain_graph):
    """The committed oracle generator replays the Spark recurrence in
    DuckDB on the same hand graph — pins the generator itself, not just
    the driver query's instance of it."""
    import duckdb

    from podcast_crawler_spark.operators.graph import (
        pagerank,
        pagerank_oracle_sql,
    )

    edges, df = chain_graph
    vals = ", ".join(f"({s}, {d})" for s, d in edges)
    sql = pagerank_oracle_sql(
        f"select * from (values {vals}) t(src, dst)", iters=6
    )
    con = duckdb.connect()
    want = {n: rs for n, rs, _ in con.sql(sql).fetchall()}
    got = {
        r.node: r.rank_scaled for r in pagerank(df, iters=6).collect()
    }
    assert got == want


def test_pagerank_empty_graph_raises(spark):
    from podcast_crawler_spark.operators.graph import pagerank

    empty = spark.createDataFrame([], "src long, dst long")
    with pytest.raises(ValueError, match="empty graph"):
        pagerank(empty, iters=2)


def test_pagerank_string_nodes(spark):
    """Node ids are any equi-joinable type — host strings included."""
    from podcast_crawler_spark.operators.graph import pagerank

    edges = [("feeds.a.example", "cdn.x.example"),
             ("feeds.b.example", "cdn.x.example"),
             ("feeds.b.example", "cdn.y.example")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.node: r.rank_scaled for r in pagerank(df, iters=4).collect()}
    int_edges = [(0, 2), (1, 2), (1, 3)]
    want = _py_pagerank(int_edges, iters=4)
    mapping = {"feeds.a.example": 0, "feeds.b.example": 1,
               "cdn.x.example": 2, "cdn.y.example": 3}
    assert {mapping[k]: v for k, v in got.items()} == want


def test_apportion_budget_exact_sum_and_proportionality(spark):
    from podcast_crawler_spark.operators.graph import apportion_budget

    ranks = spark.createDataFrame(
        [(1, 100), (2, 200), (3, 300), (4, 1)],
        "node long, rank_scaled long",
    )
    out = {r.node: r for r in apportion_budget(ranks, 1000).collect()}
    assert sum(r.budget for r in out.values()) == 1000  # exact
    # proportional within one unit of the real quota
    w = {1: 100, 2: 200, 3: 300, 4: 1}
    total_w = sum(w.values())
    for n, r in out.items():
        quota = 1000 * w[n] / total_w
        assert quota - 1 < r.budget < quota + 1, (n, r.budget, quota)
    assert out[3].budget > out[2].budget > out[1].budget > out[4].budget


def test_apportion_budget_python_oracle(spark):
    from podcast_crawler_spark.operators.graph import apportion_budget

    weights = [(i, 7 * i + 3) for i in range(1, 30)]
    ranks = spark.createDataFrame(weights, "node long, rank_scaled long")
    B = 977  # prime, forces leftovers
    got = {r.node: r.budget for r in apportion_budget(ranks, B).collect()}
    W = sum(w for _, w in weights)
    base = {n: B * w // W for n, w in weights}
    rem = {n: B * w % W for n, w in weights}
    leftover = B - sum(base.values())
    extras = sorted(rem, key=lambda n: (-rem[n], n))[:leftover]
    want = {n: base[n] + (1 if n in extras else 0) for n, _ in weights}
    assert got == want


def test_apportion_budget_rejects_zero_weights(spark):
    from podcast_crawler_spark.operators.graph import apportion_budget

    ranks = spark.createDataFrame([(1, 0)], "node long, rank_scaled long")
    with pytest.raises(ValueError, match="non-positive"):
        apportion_budget(ranks, 10)


def _py_hits(edges, iters, scale=10 ** 9):
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    h = {v: scale for v in nodes}
    a = {}
    for _ in range(iters):
        ra = {v: 0 for v in nodes}
        for s, d in edges:
            ra[d] += h[s]
        m = max(ra.values())
        dv = (m + scale - 1) // scale
        a = {v: ra[v] // dv for v in nodes}
        rh = {v: 0 for v in nodes}
        for s, d in edges:
            rh[s] += a[d]
        m = max(rh.values())
        dv = (m + scale - 1) // scale
        h = {v: rh[v] // dv for v in nodes}
    return a, h


def test_hits_matches_python_oracle(chain_graph):
    from podcast_crawler_spark.operators.graph import hits

    edges, df = chain_graph
    got = {
        r.node: (r.auth_scaled, r.hub_scaled)
        for r in hits(df, iters=3).collect()
    }
    a, h = _py_hits(edges, iters=3)
    assert got == {v: (a[v], h[v]) for v in a}


def test_hits_hub_vs_authority_roles(spark):
    """A pure pointer (4 out-edges, no in) must be the top hub; the
    most-pointed-at node the top authority."""
    from podcast_crawler_spark.operators.graph import hits

    edges = [(100, i) for i in range(4)] + [(0, 1), (2, 1), (3, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r for r in hits(df, iters=4).collect()}
    assert got[100].hub_scaled == max(r.hub_scaled for r in got.values())
    assert got[1].auth_scaled == max(r.auth_scaled for r in got.values())
    assert got[100].auth_scaled == 0  # nothing points at the pure hub


# ---------------------------------------------------------------- anchors


def _anchor_rows(spark):
    rows = [
        # 3 links to t1: anchor "news" twice (from two sources), "blog" once
        ("s1", "t1", "news"),
        ("s2", "t1", "news"),
        ("s1", "t1", "blog"),
        # tie on t2: "a" and "b" once each -> lexicographic winner "a"
        ("s1", "t2", "b"),
        ("s2", "t2", "a"),
        # null / empty anchors carry no signal
        ("s3", "t1", None),
        ("s3", "t2", ""),
    ]
    return spark.createDataFrame(rows, "src string, dst string, anchor string")


def test_anchor_stats_counts_and_argmax(spark):
    from podcast_crawler_spark.operators.graph import anchor_stats

    got = {r["dst"]: r.asDict() for r in anchor_stats(_anchor_rows(spark)).collect()}
    t1 = got["t1"]
    assert (t1["n_links"], t1["n_sources"], t1["n_anchors"]) == (3, 2, 2)
    assert (t1["top_anchor"], t1["top_anchor_cnt"]) == ("news", 2)
    t2 = got["t2"]
    assert (t2["n_links"], t2["n_sources"], t2["n_anchors"]) == (2, 2, 2)
    # count tie breaks to lexicographically smallest anchor
    assert (t2["top_anchor"], t2["top_anchor_cnt"]) == ("a", 1)


def test_anchor_stats_truncates_before_exchange(spark):
    from podcast_crawler_spark.operators.graph import anchor_stats

    rows = [("s1", "t", "x" * 1000), ("s2", "t", "x" * 1000 + "tail")]
    df = spark.createDataFrame(rows, "src string, dst string, anchor string")
    out = anchor_stats(df, max_anchor_len=16).collect()
    # both collapse to the same 16-byte anchor -> one anchor, cnt 2
    assert len(out) == 1
    assert out[0]["n_anchors"] == 1
    assert out[0]["top_anchor"] == "x" * 16
    assert out[0]["top_anchor_cnt"] == 2


def test_anchor_stats_plan_no_window(spark):
    from podcast_crawler_spark.operators.graph import anchor_stats

    plan = (
        anchor_stats(_anchor_rows(spark))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan  # argmax is an aggregate, not a sort


def test_resolve_redirects_chain_and_cycle(spark):
    """Chain a->b->c->T resolves with hop counts; self-loop and its
    feeder are flagged cyclic with null final."""
    from podcast_crawler_spark.operators.graph import resolve_redirects

    edges = spark.createDataFrame(
        [(10, 11), (11, 12), (12, 99),      # chain, terminal 99
         (50, 50),                          # self-loop cycle
         (49, 50)],                         # feeds the cycle
        "src long, dst long",
    )
    out = {r.url: r for r in resolve_redirects(edges).collect()}
    assert len(out) == 5
    assert (out[10].final_url, out[10].hops, out[10].cyclic) == (99, 3, False)
    assert (out[11].final_url, out[11].hops) == (99, 2)
    assert (out[12].final_url, out[12].hops) == (99, 1)
    for u in (50, 49):
        assert out[u].cyclic and out[u].final_url is None and out[u].hops is None


def test_resolve_redirects_doubling_not_walking(spark):
    """A 100-link chain resolves within 8 rounds (2^8 coverage) — a
    naive one-hop walk would need 100; this pins the log2 round bound."""
    from podcast_crawler_spark.operators.graph import resolve_redirects

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], "src long, dst long"
    )
    out = {r.url: r for r in resolve_redirects(edges, max_rounds=8).collect()}
    assert (out[0].final_url, out[0].hops, out[0].cyclic) == (100, 100, False)
    assert out[99].hops == 1


def test_resolve_redirects_rejects_ambiguous_map(spark):
    from podcast_crawler_spark.operators.graph import resolve_redirects

    edges = spark.createDataFrame([(1, 2), (1, 3)], "src long, dst long")
    with pytest.raises(ValueError, match="multiple outgoing"):
        resolve_redirects(edges)


# ---------------------------------------------------------------- BFS


def _py_bfs(edges, seeds, max_hops):
    adj = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
    dist = {s: 0 for s in seeds}
    frontier = set(seeds)
    for i in range(max_hops):
        nxt = set()
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in dist:
                    dist[v] = i + 1
                    nxt.add(v)
        frontier = nxt
    return dist


def test_hop_distance_matches_python_bfs(spark):
    from podcast_crawler_spark.operators.graph import hop_distance

    edges = [(i, (i * 7 + 3) % 23) for i in range(40)] + [(100, 101)]
    seeds = [1, 5]
    e = spark.createDataFrame(edges, "src long, dst long")
    s = spark.createDataFrame([(x,) for x in seeds], "node long")
    got = {
        r["node"]: r["hops"]
        for r in hop_distance(e, s, max_hops=3).collect()
    }
    assert got == _py_bfs(edges, seeds, 3)
    # unreachable component absent
    assert 100 not in got and 101 not in got


def test_hop_distance_seed_rediscovery_keeps_zero(spark):
    # a cycle back into a seed must not overwrite hops=0
    from podcast_crawler_spark.operators.graph import hop_distance

    e = spark.createDataFrame(
        [(1, 2), (2, 1)], "src long, dst long"
    )
    s = spark.createDataFrame([(1,)], "node long")
    got = {
        r["node"]: r["hops"]
        for r in hop_distance(e, s, max_hops=4).collect()
    }
    assert got == {1: 0, 2: 1}


def test_hop_distance_delta_join_not_visited_join(spark):
    # the per-round join input must be the newly-discovered frontier,
    # not the whole visited set: after the frontier empties, further
    # rounds discover nothing (and the loop's joins see empty input).
    from podcast_crawler_spark.operators.graph import hop_distance

    e = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    s = spark.createDataFrame([(1,)], "node long")
    got = hop_distance(e, s, max_hops=10)
    assert got.count() == 3  # terminates, no duplicate levels


def test_hop_distance_oracle_sql_matches(spark):
    import duckdb
    from podcast_crawler_spark.operators.graph import (
        hop_distance, hop_distance_oracle_sql,
    )

    edges = [(i, (i * 3 + 1) % 17) for i in range(30)]
    e = spark.createDataFrame(edges, "src long, dst long")
    s = spark.createDataFrame([(0,), (4,)], "node long")
    got = sorted(
        (r["node"], r["hops"])
        for r in hop_distance(e, s, max_hops=4).collect()
    )
    vals = ",".join(f"({a}::BIGINT,{b}::BIGINT)" for a, b in edges)
    osql = hop_distance_oracle_sql(
        f"select * from (values {vals}) t(src,dst)",
        "select * from (values (0::BIGINT),(4::BIGINT)) s(node)",
        max_hops=4,
    )
    exp = sorted((int(a), int(b)) for a, b in duckdb.sql(osql).fetchall())
    assert got == exp


# ---------------------------------------------------------- triangles


def _py_triangles(edges):
    adj = {}
    nodes = set()
    for s, d in edges:
        if s == d:
            continue
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
        nodes.update((s, d))
    cnt = {}
    for a in nodes:
        for b in adj.get(a, ()):
            if b <= a:
                continue
            for c in adj.get(b, ()):
                if c <= b:
                    continue
                if c in adj.get(a, ()):
                    for v in (a, b, c):
                        cnt[v] = cnt.get(v, 0) + 1
    return cnt


def test_triangle_counts_matches_python(spark):
    from podcast_crawler_spark.operators.graph import triangle_counts

    edges = [(i, (i * 5 + 2) % 13) for i in range(40)] + [
        (1, 2), (2, 3), (3, 1),  # explicit triangle
        (7, 7),                  # self-loop ignored
        (2, 1),                  # reverse duplicate collapses
    ]
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["triangles"] for r in triangle_counts(e).collect()
    }
    assert got == _py_triangles(edges)


def test_triangle_counts_oriented_join_bounds_hub(spark):
    # star graph: hub connected to 50 leaves, no triangles at all —
    # the degree orientation points every edge AT the hub, so the
    # wedge join on the hub side has zero out-out pairs.
    from podcast_crawler_spark.operators.graph import triangle_counts

    e = spark.createDataFrame(
        [(0, i) for i in range(1, 51)], "src long, dst long"
    )
    assert triangle_counts(e).count() == 0


def test_triangle_oracle_sql_matches(spark):
    import duckdb
    from podcast_crawler_spark.operators.graph import (
        triangle_counts, triangle_oracle_sql,
    )

    edges = [(i, (i * 5 + 2) % 13) for i in range(40)]
    e = spark.createDataFrame(edges, "src long, dst long")
    got = sorted(
        (r["node"], r["triangles"])
        for r in triangle_counts(e).collect()
    )
    vals = ",".join(f"({a}::BIGINT,{b}::BIGINT)" for a, b in edges)
    osql = triangle_oracle_sql(f"select * from (values {vals}) t(src,dst)")
    exp = sorted((int(a), int(b)) for a, b in duckdb.sql(osql).fetchall())
    assert got == exp


# ------------------------------------------------------------------ LPA


def _py_lpa(edges, iters):
    und = set()
    for s, d in edges:
        if s != d:
            und.add((s, d)); und.add((d, s))
    nodes = {u for u, _ in und}
    adj = {}
    for u, v in und:
        adj.setdefault(v, []).append(u)
    lab = {n: n for n in nodes}
    for _ in range(iters):
        new = {}
        for n in nodes:
            votes = {}
            for u in adj.get(n, []):
                votes[lab[u]] = votes.get(lab[u], 0) + 1
            if votes:
                new[n] = min(votes, key=lambda l: (-votes[l], l))
            else:
                new[n] = lab[n]
        lab = new
    return lab


def test_label_propagation_matches_python(spark):
    from podcast_crawler_spark.operators.graph import label_propagation

    # two dense cliques with one bridge edge
    edges = []
    for i in range(5):
        for j in range(i + 1, 5):
            edges.append((i, j))
            edges.append((10 + i, 10 + j))
    edges.append((4, 10))
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["label"]
        for r in label_propagation(e, iters=4).collect()
    }
    assert got == _py_lpa(edges, 4)
    # communities resolve: clique A all share one label, B another
    a = {got[i] for i in range(5)}
    b = {got[10 + i] for i in range(5) if 10 + i in got}
    assert len(a) == 1 and len(b) == 1 and a != b


def test_label_propagation_oracle_sql_matches(spark):
    import duckdb
    from podcast_crawler_spark.operators.graph import (
        label_propagation, label_propagation_oracle_sql,
    )

    edges = [(i, (i * 7 + 3) % 19) for i in range(40)]
    e = spark.createDataFrame(edges, "src long, dst long")
    got = sorted(
        (r["node"], r["label"])
        for r in label_propagation(e, iters=3).collect()
    )
    vals = ",".join(f"({a}::BIGINT,{b}::BIGINT)" for a, b in edges)
    osql = label_propagation_oracle_sql(
        f"select * from (values {vals}) t(src,dst)", iters=3
    )
    exp = sorted((int(a), int(b)) for a, b in duckdb.sql(osql).fetchall())
    assert got == exp


# ------------------------------------------------------- hierarchical


def test_hierarchical_budget_exact_sums(spark):
    from podcast_crawler_spark.operators.graph import hierarchical_budget

    rows = [
        (f"d{h % 4}", f"h{h}", (h * 37 + 11) % 100 + 1) for h in range(30)
    ]
    df = spark.createDataFrame(rows, "domain string, node string, rank_scaled long")
    out = hierarchical_budget(df, 10007).collect()
    total = sum(r["budget"] for r in out)
    assert total == 10007
    # per-domain sums equal the level-1 budgets exactly
    per_dom = {}
    dom_budget = {}
    for r in out:
        per_dom[r["domain"]] = per_dom.get(r["domain"], 0) + r["budget"]
        dom_budget[r["domain"]] = r["domain_budget"]
    assert per_dom == dom_budget
    # proportionality: budgets within one unit of the real quota
    w_by_dom = {}
    for d, n, w in rows:
        w_by_dom[d] = w_by_dom.get(d, 0) + w
    for r in out:
        quota = dom_budget[r["domain"]] * r["w"] / w_by_dom[r["domain"]]
        assert abs(r["budget"] - quota) < 1 + 1e-9


def test_hierarchical_budget_domain_isolation(spark):
    # a domain with many hosts gets ONE domain-level share, not many
    from podcast_crawler_spark.operators.graph import hierarchical_budget

    rows = [("farm", f"s{i}", 10) for i in range(50)] + [("solo", "h", 500)]
    df = spark.createDataFrame(rows, "domain string, node string, rank_scaled long")
    out = hierarchical_budget(df, 1000).collect()
    farm = sum(r["budget"] for r in out if r["domain"] == "farm")
    solo = sum(r["budget"] for r in out if r["domain"] == "solo")
    assert farm == solo == 500  # equal domain weights -> equal budgets


def test_hierarchical_oracle_matches(spark):
    import duckdb
    from podcast_crawler_spark.operators.graph import (
        hierarchical_budget, hierarchical_oracle_sql,
    )

    rows = [
        (f"d{h % 3}", f"h{h}", (h * 13) % 50 + 1) for h in range(20)
    ]
    df = spark.createDataFrame(rows, "domain string, node string, rank_scaled long")
    got = sorted(tuple(r) for r in hierarchical_budget(df, 777).collect())
    vals = ",".join(f"('{d}','{n}',{w})" for d, n, w in rows)
    osql = hierarchical_oracle_sql(
        f"select * from (values {vals}) v(domain, node, rank_scaled)", 777
    )
    exp = sorted(tuple(int(x) if not isinstance(x, str) else x for x in r)
                 for r in duckdb.sql(osql).fetchall())
    assert [tuple(int(x) if not isinstance(x, str) else x for x in g)
            for g in got] == exp


def test_focused_budget_tiers(spark):
    """Exact ppm boundaries: 100%/60%/40%/10% good hosts land in the
    4/2/1/0 multiplier tiers; good_ppm is the exact integer fraction."""
    from pyspark.sql import functions as F

    from podcast_crawler_spark.operators.graph import focused_budget

    rows = []
    for h, good_of_10 in (("all", 10), ("most", 6), ("some", 4), ("bad", 1)):
        rows += [(h, 1.0 if i < good_of_10 else 0.0) for i in range(10)]
    df = spark.createDataFrame(rows, "host string, quality double")
    out = {r.host: r for r in focused_budget(df, base_budget=8).collect()}
    assert out["all"].budget == 32 and out["all"].good_ppm == 1_000_000
    assert out["most"].budget == 16 and out["most"].good_ppm == 600_000
    assert out["some"].budget == 8 and out["some"].good_ppm == 400_000
    assert out["bad"].budget == 0 and out["bad"].good_ppm == 100_000


def _py_opic(edges, iters, scale=SCALE):
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    n = len(nodes)
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    cash = {v: scale // n for v in nodes}
    hist = {v: 0 for v in nodes}
    for _ in range(iters):
        inflow = {v: 0 for v in nodes}
        for s, d in edges:
            inflow[d] += cash[s] // outdeg[s]
        pool = sum(cash[v] for v in nodes if v not in outdeg)
        new = {}
        for v in nodes:
            keep = cash[v] % outdeg[v] if v in outdeg else 0
            new[v] = inflow[v] + keep + pool // n
        hist = {v: hist[v] + cash[v] for v in nodes}
        cash = new
    return cash, hist


def test_opic_matches_python_oracle(chain_graph):
    from podcast_crawler_spark.operators.graph import opic

    edges, df = chain_graph
    rows = opic(df, iters=6).collect()
    cash, hist = _py_opic(edges, iters=6)
    assert {r.node: r.cash_scaled for r in rows} == cash
    assert {r.node: r.hist_scaled for r in rows} == hist
    tot = sum(hist.values())
    for r in rows:
        assert abs(r.importance - hist[r.node] / tot) < 1e-9


def test_opic_hub_outranks_leaf(spark):
    """A node every page links to accumulates more history than a
    page nothing links to — OPIC's whole point as a frontier signal."""
    from podcast_crawler_spark.operators.graph import opic

    edges = [(i, 0) for i in range(1, 8)] + [(0, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    imp = {r.node: r.hist_scaled for r in opic(df, iters=4).collect()}
    assert imp[0] > imp[7] and imp[0] == max(imp.values())


def test_opic_oracle_sql_matches(chain_graph):
    import duckdb

    from podcast_crawler_spark.operators.graph import opic, opic_oracle_sql

    edges, df = chain_graph
    got = sorted(tuple(r) for r in opic(df, iters=4).collect())
    con = duckdb.connect()
    con.execute("create table eg(src bigint, dst bigint)")
    con.executemany("insert into eg values (?, ?)", edges)
    want = sorted(
        tuple(r)
        for r in con.sql(
            opic_oracle_sql("select src, dst from eg", iters=4)
        ).fetchall()
    )
    assert got == want


def _py_trustrank(edges, seeds, iters, scale=SCALE):
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    seeds = sorted(set(seeds) & set(nodes))
    s = len(seeds)
    outdeg = {}
    for a, _ in edges:
        outdeg[a] = outdeg.get(a, 0) + 1
    init = scale // s
    base = (15 * init) // 100
    r = {v: (init if v in seeds else 0) for v in nodes}
    for _ in range(iters):
        inflow = {v: 0 for v in nodes}
        for a, b in edges:
            inflow[b] += r[a] // outdeg[a]
        dang = sum(r[v] for v in nodes if v not in outdeg)
        r = {
            v: (
                (base + (85 * (dang // s)) // 100) if v in seeds else 0
            )
            + (85 * inflow[v]) // 100
            for v in nodes
        }
    return r


def test_trustrank_matches_python_and_demotes_spam(spark):
    """Trust flows only out of the seed set: a spam clique with no
    inlink from the trusted component scores exactly 0, while every
    host the seeds reach scores > 0."""
    from podcast_crawler_spark.operators.graph import trustrank

    # trusted component: 0 -> 1 -> 2; spam clique 10 <-> 11 linking UP
    # to the trusted side (spam can't buy a trusted inlink)
    edges = [(0, 1), (1, 2), (10, 11), (11, 10), (10, 0), (11, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {
        r.node: r.trust_scaled
        for r in trustrank(df, seeds, iters=5).collect()
    }
    assert got == _py_trustrank(edges, [0], iters=5)
    assert got[10] == 0 and got[11] == 0
    assert got[0] > 0 and got[1] > 0 and got[2] > 0


def test_trustrank_dangling_teleports_to_seeds(spark):
    """Dangling mass re-enters at the seeds, not spread over all
    nodes: total trust stays concentrated in the trusted component."""
    from podcast_crawler_spark.operators.graph import trustrank

    edges = [(0, 1), (1, 2)]  # 2 dangles
    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {
        r.node: r.trust_scaled
        for r in trustrank(df, seeds, iters=3).collect()
    }
    assert got == _py_trustrank(edges, [0], iters=3)


def test_trustrank_empty_seeds_raises(spark):
    from podcast_crawler_spark.operators.graph import trustrank

    df = spark.createDataFrame([(0, 1)], "src long, dst long")
    seeds = spark.createDataFrame([], "node long")
    with pytest.raises(ValueError):
        trustrank(df, seeds, iters=1)


def test_trustrank_oracle_sql_matches(spark):
    import duckdb

    from podcast_crawler_spark.operators.graph import (
        trustrank,
        trustrank_oracle_sql,
    )

    edges = [(i, (i * 7 + 3) % 23) for i in range(40)]
    edges = sorted({(s, d) for s, d in edges if s != d})
    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(0,), (7,), (14,)], "node long")
    got = sorted(tuple(r) for r in trustrank(df, seeds, iters=4).collect())
    con = duckdb.connect()
    con.execute("create table eg(src bigint, dst bigint)")
    con.executemany("insert into eg values (?, ?)", edges)
    want = sorted(
        tuple(r)
        for r in con.sql(
            trustrank_oracle_sql(
                "select src, dst from eg",
                "select * from (values (0), (7), (14)) s(node)",
                iters=4,
            )
        ).fetchall()
    )
    assert got == want


def test_cocitation_oracle_sql_matches(spark):
    """Target 9 is cited by every source, above ``max_indeg``: the cap
    drops it before the pair join and from the kept-set outdegrees."""
    import duckdb

    from podcast_crawler_spark.operators.graph import (
        cocitation,
        cocitation_oracle_sql,
    )

    edges = [(s, d) for s in range(8) for d in (s % 3, s % 4 + 3)]
    edges += [(s, 9) for s in range(8)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = sorted(
        tuple(r) for r in cocitation(df, max_indeg=6, min_shared=1).collect()
    )
    con = duckdb.connect()
    con.execute("create table eg(src bigint, dst bigint)")
    con.executemany("insert into eg values (?, ?)", edges)
    want = sorted(
        tuple(r)
        for r in con.sql(
            cocitation_oracle_sql(
                "select src, dst from eg", max_indeg=6, min_shared=1
            )
        ).fetchall()
    )
    assert got and got == want
    assert all(r[3] == 2 and r[4] == 2 for r in got)  # 9 left no outdegree


def _py_ball_sizes(edges, iters):
    # exact |B(v, t)|: nodes within t OUT-hops of v, including v
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    out = {}
    for s, d in edges:
        out.setdefault(s, set()).add(d)
    sizes = {}
    for v in nodes:
        ball = {v}
        frontier = {v}
        for _ in range(iters):
            frontier = {w for u in frontier for w in out.get(u, ())} - ball
            ball |= frontier
        sizes[v] = len(ball)
    return sizes


def test_hyperball_tracks_exact_ball_sizes(spark):
    """HLL ball estimates track the exact python BFS ball sizes within
    the sketch's error envelope (m=256 -> small balls hit the
    linear-counting branch and are near-exact)."""
    from podcast_crawler_spark.operators.graph import hyperball

    edges = sorted(
        {(i % 41, (i * 13 + 5) % 41) for i in range(160)} - {(i, i) for i in range(41)}
    )
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.hll_estimate for r in hyperball(df, iters=3).collect()}
    exact = _py_ball_sizes(edges, iters=3)
    assert set(got) == set(exact)
    for v, est in got.items():
        assert abs(est - exact[v]) / exact[v] < 0.20, (v, est, exact[v])


def test_hyperball_semilattice_converges(spark):
    """On a graph of diameter d, rounds beyond d are idempotent: the
    register table is a max-semilattice fixed point."""
    from podcast_crawler_spark.operators.graph import hyperball

    edges = [(0, 1), (1, 2), (2, 3)]  # diameter 3
    df = spark.createDataFrame(edges, "src long, dst long")
    a = sorted(tuple(r) for r in hyperball(df, iters=3).collect())
    b = sorted(tuple(r) for r in hyperball(df, iters=5).collect())
    assert a == b


def test_hyperball_oracle_sql_matches(spark):
    import duckdb

    from podcast_crawler_spark.operators.graph import (
        hyperball,
        hyperball_oracle_sql,
    )

    edges = sorted({(i % 19, (i * 5 + 2) % 19) for i in range(60)})
    edges = [(s, d) for s, d in edges if s != d]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = sorted(tuple(r) for r in hyperball(df, iters=3).collect())
    con = duckdb.connect()
    con.execute("create table eg(src bigint, dst bigint)")
    con.executemany("insert into eg values (?, ?)", edges)
    want = sorted(
        tuple(r)
        for r in con.sql(
            hyperball_oracle_sql("select src, dst from eg", iters=3)
        ).fetchall()
    )
    assert got == want


# --------------------------------------------------------------------------
# Co-citation similarity
# --------------------------------------------------------------------------


def test_cocitation_python_oracle(spark):
    """Hand graph: a and b co-cite {x,y}; c cites x only; hub target z
    is cited by everyone and must be dropped by the cap."""
    from podcast_crawler_spark.operators.graph import cocitation

    edges = spark.createDataFrame(
        [
            ("a", "x"), ("a", "y"), ("a", "z"),
            ("b", "x"), ("b", "y"), ("b", "z"),
            ("c", "x"), ("c", "z"),
            ("d", "z"),
        ],
        "src string, dst string",
    )
    rows = {
        (r.host_a, r.host_b): r
        for r in cocitation(edges, max_indeg=3, min_shared=1).collect()
    }
    # z has indeg 4 > 3 -> dropped (d vanishes: z was its only edge);
    # kept outdegs: a=2 (x,y), b=2, c=1 (x)
    assert set(rows) == {("a", "b"), ("a", "c"), ("b", "c")}
    ab = rows[("a", "b")]
    assert ab.shared == 2 and ab.outdeg_a == 2 and ab.outdeg_b == 2
    assert ab.jaccard_ppm == 1_000_000 * 2 // (2 + 2 - 2)
    ac = rows[("a", "c")]
    assert ac.shared == 1 and ac.jaccard_ppm == 1_000_000 * 1 // 2
    bc = rows[("b", "c")]
    assert bc.shared == 1 and bc.jaccard_ppm == 500_000


def test_cocitation_cap_bounds_pairs(spark):
    """A mega-hub dst (indeg 100) must not generate its ~5000 pairs:
    with the cap at 10 the only surviving pairs come from the sparse
    targets."""
    from podcast_crawler_spark.operators.graph import cocitation

    hub = [(f"s{i}", "hub") for i in range(100)]
    sparse = [(f"s{i}", f"t{i % 5}") for i in range(10)]
    edges = spark.createDataFrame(
        hub + sparse, "src string, dst string"
    )
    out = cocitation(edges, max_indeg=10, min_shared=1)
    assert out.count() == 5  # 5 targets x C(2,2) pairs each
    assert out.filter(F.col("shared") > 1).count() == 0
