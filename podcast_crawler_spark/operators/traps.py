"""Crawl-trap detection: per-host URL-template explosion stats.

Crawler traps (calendar pages, session-id links, faceted search) show
up as one URL *template* generating unbounded concrete URLs on a host.
The standard defense is to template URLs (digit runs → ``N``) and flag
hosts where a single template dominates — those hosts then get a
frontier admission cap or a deny rule (the reference has no trap logic;
its frontier is a fixed seed list, ``rss_fetcher.rs`` — this is the
required upgrade once discovery admits arbitrary URLs via
``plans/epoch.admit_urls`` / sitemap scan).

Scale shape: templating is a map-side ``regexp_replace``; the first
groupBy (host, template) has map-side combine (traps collapse into ONE
row per template — the bigger the trap, the smaller its aggregate), and
the per-host rollup aggregates the already-tiny template table.  The
deterministic "top template" uses ``min(struct(-cnt, template))`` — an
argmax without a window, so there is no per-host sort task.

Every output is an integer, a string, or an integer comparison — exact
SQL oracle, no floats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _capped_overlap_pairs

TEMPLATE_PATTERN = "[0-9]+"


def url_template(url):
    """Digit runs collapsed to ``N`` — '/ep/123?d=2025' and
    '/ep/456?d=2024' are the same template."""
    return F.regexp_replace(url, TEMPLATE_PATTERN, "N")


def trap_stats(
    df: DataFrame,
    host_col: str = "host",
    url_col: str = "url",
    min_urls: int = 50,
    dominance_num: int = 9,
    dominance_den: int = 10,
) -> DataFrame:
    """Per-host template stats: ``(host, n_urls, n_templates,
    top_template, top_count, is_trap)``.

    ``is_trap`` = host has >= *min_urls* URLs AND its top template
    covers >= dominance_num/dominance_den of them (defaults: 50 URLs,
    90%) — integer arithmetic only (``top_count*den >= n_urls*num``).
    Ties on top_count break to the lexicographically smallest template.
    """
    per_template = (
        df.select(
            F.col(host_col).alias("host"),
            url_template(F.col(url_col)).alias("template"),
        )
        .groupBy("host", "template")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    rolled = per_template.groupBy("host").agg(
        F.sum("cnt").alias("n_urls"),
        F.count(F.lit(1)).alias("n_templates"),
        F.min(
            F.struct(
                (-F.col("cnt")).alias("nc"), F.col("template").alias("t")
            )
        ).alias("best"),
    )
    return rolled.select(
        "host",
        "n_urls",
        "n_templates",
        F.col("best.t").alias("top_template"),
        (-F.col("best.nc")).cast("long").alias("top_count"),
        (
            (F.col("n_urls") >= min_urls)
            & (
                -F.col("best.nc") * dominance_den
                >= F.col("n_urls") * dominance_num
            )
        ).alias("is_trap"),
    )


def dust_params(
    df: DataFrame,
    url_col: str = "url",
    digest_col: str = "digest",
    min_support: int = 3,
) -> DataFrame:
    """DUST mining — Different URLs, Same Text (Bar-Yossef et al. 2007,
    "Do Not Crawl in the DUST"): learn, per host, which query
    parameters never change the content, so the frontier can strip
    them at admission (the seen-set then collapses session-id/tracking
    aliases BEFORE fetching, where ``urlfns.scrub_url``'s static list
    only catches known trackers).

    Evidence model, linear not pairwise: for every (url, param) the
    url-minus-that-param is the GROUP KEY; URLs landing in the same
    group differ only in that parameter.  A group with ≥ 2 members and
    ONE distinct content digest is clean evidence the param is inert;
    a group with > 1 digest is a counterexample.  A param is dust on a
    host iff clean groups ≥ *min_support* and counterexamples = 0.

    Returns ``(host, param, n_groups, n_clean, n_dirty, is_dust)``.

    Scale shape: parsing and param-stripping are map-side array ops
    (split / filter / array_join — no UDF, stays in codegen); explode
    multiplies rows only by params-per-URL (bounded small).  ONE
    corpus-scale exchange keyed by (host, param, stripped-url) — group
    sizes are alias-set sizes, naturally tiny, and a hot stripped-url
    means a real dust cluster whose group STILL only aggregates counts
    (count + count distinct, map-side combined).  The rollup output is
    hosts × param names — broadcastable back as an admission rule.
    """
    base = F.element_at(F.split(F.col("u"), "\\?", 2), 1)
    query = F.element_at(F.split(F.col("u"), "\\?", 2), 2)
    entries = F.split(query, "&")
    pname = lambda x: F.element_at(F.split(x, "=", 2), 1)  # noqa: E731
    parsed = df.select(
        F.col(url_col).alias("u"), F.col(digest_col).alias("dg")
    ).filter(F.col(url_col).contains("?")).select(
        "u",
        "dg",
        base.alias("base"),
        entries.alias("entries"),
        F.explode(F.array_distinct(F.transform(entries, pname))).alias("param"),
    )
    remaining = F.filter(
        F.col("entries"), lambda x: pname(x) != F.col("param")
    )
    stripped = F.when(F.size(remaining) == 0, F.col("base")).otherwise(
        F.concat(F.col("base"), F.lit("?"), F.array_join(remaining, "&"))
    )
    from podcast_crawler_spark.functions.urlfns import url_host

    grouped = (
        parsed.select(
            url_host(F.col("u")).alias("host"),
            "param",
            stripped.alias("group_key"),
            "dg",
        )
        .groupBy("host", "param", "group_key")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.countDistinct("dg").alias("n_digests"),
        )
    )
    return grouped.groupBy("host", "param").agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(
            ((F.col("n_urls") >= 2) & (F.col("n_digests") == 1)).cast("long")
        ).alias("n_clean"),
        F.sum((F.col("n_digests") > 1).cast("long")).alias("n_dirty"),
    ).select(
        "host",
        "param",
        "n_groups",
        "n_clean",
        "n_dirty",
        ((F.col("n_clean") >= min_support) & (F.col("n_dirty") == 0)).alias(
            "is_dust"
        ),
    )


def mirror_hosts(
    docs: DataFrame,
    host_col: str = "host",
    digest_col: str = "digest",
    min_shared: int = 2,
    max_digest_hosts: int = 1000,
) -> DataFrame:
    """Mirror-site detection: host pairs serving (near-)identical
    content sets, by content-digest overlap — the host-granularity
    sibling of DUST (Bar-Yossef et al., WWW'07 detect duplicate URLs
    *within* a site; mirrors are the cross-site case).  A crawler that
    finds ``cdn1.example`` and ``cdn2.example`` serving 95% the same
    digests should collapse them to one politeness/budget unit and stop
    double-fetching.  The reference has no mirror logic (fixed seed
    list); this is the required upgrade once discovery admits arbitrary
    hosts.

    Input: one row per (host, digest) — pass page content digests
    (e.g. ``md5(text)``); duplicates within a host are collapsed.
    Output per unordered host pair with ≥ ``min_shared`` shared
    digests: ``(host_a, host_b, shared, n_a, n_b, containment_pct)``
    where ``containment_pct = 100·shared div min(n_a, n_b)`` (integer
    percent — exact across engines; 100 means the smaller host is
    fully contained in the larger: a true mirror or a subset mirror).

    Scale shape — the inverted-index join discipline of
    ``dedup.ngram_jaccard_pairs``: pairs are generated by a self-join
    on digest, so cost is Σ_d k_d² over digests, NOT n_hosts².
    ``max_digest_hosts`` caps k_d: a digest served by more hosts than
    that (boilerplate 404 pages, empty-page digests) is dropped from
    pair generation — at web scale those digests carry no mirror
    signal (they'd pair every host with every other) and are exactly
    the quadratic blowup the cap exists to stop.  Per-host set sizes
    come from one map-side-combine groupBy; everything that crosses an
    exchange is (host, 16-byte digest) or smaller.
    """
    hd = docs.select(
        F.col(host_col).alias("host"), F.col(digest_col).alias("digest")
    ).distinct()
    return _capped_overlap_pairs(
        hd, "digest", "host", max_digest_hosts, min_shared,
        ("host_a", "host_b"), "n",
    ).select(
        "host_a",
        "host_b",
        "shared",
        "n_a",
        "n_b",
        F.expr("(100 * shared) div least(n_a, n_b)").alias("containment_pct"),
    )


def mirror_oracle_sql(
    host_digest_sql: str, min_shared: int = 2, max_digest_hosts: int = 1000
) -> str:
    """DuckDB recomputation of :func:`mirror_hosts` over any
    ``(host, digest)``-shaped subquery."""
    return f"""
        with hd as (select distinct host, digest
                    from ({host_digest_sql}) t),
        sizes as (select host, count(*)::BIGINT n from hd group by 1),
        cold as (select hd.* from hd
                 join (select digest from hd group by 1
                       having count(*) <= {max_digest_hosts}) f
                 using (digest)),
        pairs as (select a.host host_a, b.host host_b,
                         count(*)::BIGINT shared
                  from cold a join cold b using (digest)
                  where a.host < b.host
                  group by 1, 2
                  having count(*) >= {min_shared})
        select p.host_a, p.host_b, p.shared,
               sa.n n_a, sb.n n_b,
               ((100 * p.shared) // least(sa.n, sb.n))::BIGINT
                 containment_pct
        from pairs p
        join sizes sa on p.host_a = sa.host
        join sizes sb on p.host_b = sb.host
    """


def soft404_stats(
    pages: DataFrame,
    host_col: str = "host",
    url_col: str = "url",
    status_col: str = "http_status",
    text_col: str = "text",
    min_chars: int = 120,
) -> DataFrame:
    """Soft-404 detection (Bar-Yossef et al. '04, "Sic transit gloria
    telae"): pages that return **200** while actually being error pages
    — they poison dedup (thousands of identical "not found" bodies),
    waste refetch budget, and corrupt link-graph signals.  Per-page
    heuristic (deterministic, regex + length only):

      - error-phrase probe over the lowered text: "page not found",
        "404", "does not exist", "no longer available",
        "been removed" — word-boundary anchored where needed;
      - tiny-body probe: fewer than *min_chars* characters.

    A 200-page is ``soft404`` if it matches a phrase AND (tiny OR the
    phrase appears in the first 80 chars — headline position); plain
    non-200 rows are never soft (they are HONEST errors).  Output: one
    row per host — ``(host, n_pages, n_ok, n_soft404, soft404_ppm)``;
    route high-ppm hosts to the deny/trap review queue.

    Map-side probes + one narrow aggregate; exact integer oracle.
    """
    t = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    phrase = (
        t.rlike("page not found")
        | t.rlike("does not exist")
        | t.rlike("no longer available")
        | t.rlike("been removed")
        | t.rlike("error 404")
    )
    tiny = F.length(t) < F.lit(int(min_chars))
    early = (
        F.locate("not found", t) > 0
    ) & (F.locate("not found", t) <= 80)
    is200 = F.col(status_col) == 200
    soft = is200 & phrase & (tiny | early)
    return pages.groupBy(host_col).agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.sum(is200.cast("long")).alias("n_ok"),
        F.sum(soft.cast("long")).alias("n_soft404"),
    ).withColumn(
        "soft404_ppm",
        F.expr("case when n_ok > 0 then (1000000 * n_soft404) div n_ok"
               " else 0 end"),
    )


def soft404_oracle_sql(pages_sql: str, min_chars: int = 120) -> str:
    """DuckDB replay of :func:`soft404_stats`."""
    return f"""
        WITH p AS (SELECT * FROM ({pages_sql})),
        f AS (
            SELECT host, http_status,
                   lower(coalesce(text, '')) AS t
            FROM p
        ),
        m AS (
            SELECT host,
                   http_status = 200 AS is200,
                   (regexp_matches(t, 'page not found')
                    OR regexp_matches(t, 'does not exist')
                    OR regexp_matches(t, 'no longer available')
                    OR regexp_matches(t, 'been removed')
                    OR regexp_matches(t, 'error 404')) AS phrase,
                   length(t) < {int(min_chars)} AS tiny,
                   strpos(t, 'not found') > 0
                       AND strpos(t, 'not found') <= 80 AS early
            FROM f
        )
        SELECT host, COUNT(*) AS n_pages,
               SUM(is200::int)::BIGINT AS n_ok,
               SUM((is200 AND phrase AND (tiny OR early))::int)::BIGINT
                   AS n_soft404,
               CASE WHEN SUM(is200::int) > 0
                    THEN (1000000 * SUM((is200 AND phrase
                          AND (tiny OR early))::int))
                         // SUM(is200::int)
                    ELSE 0 END::BIGINT AS soft404_ppm
        FROM m GROUP BY host
    """


def ip_rotation_stats(
    hostmap_history: DataFrame,
    rotation_threshold: int = 5,
    host_col: str = "host",
    ip_col: str = "ip",
    ts_col: str = "seen_unix",
) -> DataFrame:
    """Fast-flux / IP-rotation detection over the resolver history
    ``(host, ip, seen_unix)``: a host that answers from many addresses
    in a short window is CDN-fronted at best and fast-flux abuse at
    worst — either way the queue-by-IP politeness mapping
    (:func:`frontier.ip_politeness`) must not treat each new address
    as a fresh budget.  Per host:

      - ``n_ips`` distinct addresses, ``n_obs`` resolutions,
        ``span_s`` observation window;
      - ``ips_per_day_x1000 = (86400·1000·(n_ips−1)) div max(span_s,1)``
        — exact integer rotation rate (×1000 fixed point);
      - ``rotating = n_ips ≥ rotation_threshold`` — route to the
        ip_politeness resolver as a SINGLE shared queue key and to the
        trap review list.

    ONE aggregate with map-side combine (count-distinct on a narrow
    string); exact integer oracle.
    """
    agg = hostmap_history.groupBy(host_col).agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.countDistinct(ip_col).alias("n_ips"),
        (F.max(ts_col) - F.min(ts_col)).cast("long").alias("span_s"),
    )
    rate = F.expr(
        "(86400 * 1000 * (n_ips - 1)) div greatest(span_s, 1)"
    )
    return agg.select(
        host_col,
        "n_obs",
        "n_ips",
        "span_s",
        rate.alias("ips_per_day_x1000"),
        (F.col("n_ips") >= F.lit(int(rotation_threshold))).alias(
            "rotating"
        ),
    )


def ip_rotation_oracle_sql(
    history_sql: str, rotation_threshold: int = 5
) -> str:
    """DuckDB replay of :func:`ip_rotation_stats`."""
    return f"""
        WITH a AS (
            SELECT host, COUNT(*) AS n_obs,
                   COUNT(DISTINCT ip) AS n_ips,
                   MAX(seen_unix) - MIN(seen_unix) AS span_s
            FROM ({history_sql}) h GROUP BY host
        )
        SELECT host, n_obs, n_ips, span_s,
               ((86400 * 1000 * (n_ips - 1))
                   // GREATEST(span_s, 1))::BIGINT AS ips_per_day_x1000,
               n_ips >= {int(rotation_threshold)} AS rotating
        FROM a
    """
