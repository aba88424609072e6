"""Generic HTML outlink extraction + URL resolution (discovery).

The reference discovers URLs only from a typed link struct on the seed
record, filtered to ``name == 'rss'`` (``rss_fetcher.rs`` — its
frontier never grows from page content).  A web-scale crawler discovers
from the fetched HTML itself: extract every ``href``, resolve it
against the page URL, and hand the result to frontier admission
(``plans/epoch.admit_urls`` → the partitioned seen-set).  This operator
is that extractor.

Everything is whole-stage-codegen: ``regexp_extract_all`` pulls hrefs
(double- OR single-quoted), a ``transform`` lambda resolves each one,
``array_distinct`` dedups within the page before the explode, and the
final ``distinct`` dedups across pages.  No Python touches a row.

Resolution policy (documented simplification of RFC 3986 §5.2, applied
identically by the DuckDB oracle):

  * fragment is stripped from the href first; ``&amp;`` is decoded
    (the one entity that routinely appears inside attribute URLs).
  * empty / fragment-only hrefs -> dropped.
  * absolute ``http(s)://`` -> kept as-is; any OTHER scheme
    (``javascript:``, ``mailto:``, ``data:``, ``ftp:`` ...) -> dropped
    (same scheme allowlist as the production fetcher transport).
  * ``//host/path`` (protocol-relative) -> base scheme + ``:`` + href.
  * ``/path`` (root-relative) -> base origin + href.
  * anything else (directory-relative) -> base directory + href.
    Dot-segments (``../``) are NOT normalized — at admission time the
    canonicalizer treats path bytes as opaque (``urlfns`` module
    docstring), so two spellings of one resource are at worst two
    frontier entries, never a wrong fetch.

Scale shape: extraction and resolution are map-side over the page
partition that already holds the HTML — the only exchange is the final
``distinct`` on (page_url, link), which carries two strings per
candidate edge and feeds straight into the seen-set anti-join.  Blobs
never move: the HTML column is consumed in place and pruned from the
output schema.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_HREF_DQ = 'href\\s*=\\s*"([^"]*)"'
_HREF_SQ = "href\\s*=\\s*'([^']*)'"
_SCHEME_RE = "^[A-Za-z][A-Za-z0-9+.-]*:"


def resolve_href(href: Column, base: Column) -> Column:
    """Resolve one raw href against a base URL per the module policy.

    Returns NULL for dropped hrefs (empty, fragment-only, non-http
    scheme).  Pure expression — composable inside ``transform``.
    """
    h = F.trim(F.replace(href, F.lit("&amp;"), F.lit("&")))
    h = F.element_at(F.split(h, "#", 2), 1)  # strip fragment
    scheme = F.regexp_extract(base, r"^([A-Za-z][A-Za-z0-9+.-]*):", 1)
    origin = F.regexp_extract(base, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", 0)
    dir_match = F.regexp_extract(base, r"^[A-Za-z][A-Za-z0-9+.-]*://[^?#]*/", 0)
    basedir = F.when(dir_match != "", dir_match).otherwise(
        F.concat(origin, F.lit("/"))
    )
    return (
        F.when(h == "", F.lit(None).cast("string"))
        .when(h.rlike("(?i)^https?://"), h)
        .when(h.rlike(_SCHEME_RE), F.lit(None).cast("string"))
        .when(h.startswith("//"), F.concat(scheme, F.lit(":"), h))
        .when(h.startswith("/"), F.concat(origin, h))
        .otherwise(F.concat(basedir, h))
    )


def extract_links(
    pages: DataFrame,
    html_col: str = "html",
    base_col: str = "url",
) -> DataFrame:
    """All resolved outlinks per page: ``(base_col, link)``, distinct.

    ``html_col`` may be string or binary (cast in place).  Output is
    the candidate edge list for frontier admission / the host graph
    (``graph.pagerank`` / ``graph.anchor_stats``).
    """
    html = F.col(html_col).cast("string")
    hrefs = F.concat(
        F.regexp_extract_all(html, F.lit(_HREF_DQ), F.lit(1)),
        F.regexp_extract_all(html, F.lit(_HREF_SQ), F.lit(1)),
    )
    resolved = F.array_distinct(
        F.filter(
            F.transform(hrefs, lambda h: resolve_href(h, F.col(base_col))),
            lambda x: x.isNotNull(),
        )
    )
    return (
        pages.select(F.col(base_col), F.explode(resolved).alias("link"))
        .distinct()
    )


_TAG_META = "(?i)<meta[^>]*>"
_TAG_LINK = "(?i)<link[^>]*>"
_TAG_A = "(?i)<a[\\s][^>]*>"
_ATTR_ROBOTS = "(?i)name\\s*=\\s*[\"']robots[\"']"
_ATTR_CANON = "(?i)rel\\s*=\\s*[\"']canonical[\"']"
_ATTR_NOFOLLOW = "(?i)rel\\s*=\\s*[\"'][^\"']*nofollow"
_ATTR_CONTENT = "(?i)content\\s*=\\s*[\"']([^\"']*)[\"']"
_ATTR_HREF = "(?i)href\\s*=\\s*[\"']([^\"']*)[\"']"


def page_directives(
    df: DataFrame,
    html_col: str = "html",
    id_col: str = "doc_id",
) -> DataFrame:
    """Page-level crawl directives: the in-page half of the politeness
    stack (robots.txt is host-level; pages opt out individually via
    meta robots, REP §meta / rel-nofollow, canonical URLs collapse
    parameter/mirror variants BEFORE content dedup ever runs).
    Returns ``(id, robots_content, noindex, nofollow_meta,
    canonical_url, n_links, n_nofollow_links)``.

    - ``noindex`` / ``nofollow_meta``: from the first ``<meta
      name="robots">`` tag's content list (attribute order tolerant —
      tags are extracted whole, then attributes probed, because RE2 has
      no lookahead and the oracle must replay in it).
    - ``canonical_url``: href of the first ``<link rel="canonical">``.
    - ``n_nofollow_links``: anchors whose rel contains ``nofollow`` —
      these are excluded from discovery admission (their targets earn
      no PageRank from this page).

    A crawler consumes this row next to ``extract_links``: drop
    outlinks of nofollow pages, store under ``canonical_url`` when
    present, skip indexing noindex pages.

    Scale shape: tag extraction + list probes are per-page array
    expressions — map-side codegen, zero shuffle, no UDF; HTML never
    crosses an exchange.
    """
    html = F.col(html_col).cast("string")
    metas = F.regexp_extract_all(html, F.lit(_TAG_META), 0)
    robots = F.filter(metas, lambda m: m.rlike(_ATTR_ROBOTS))
    content = F.lower(
        F.regexp_extract(
            F.coalesce(F.try_element_at(robots, F.lit(1)), F.lit("")),
            _ATTR_CONTENT,
            1,
        )
    )
    links = F.regexp_extract_all(html, F.lit(_TAG_LINK), 0)
    canon = F.filter(links, lambda m: m.rlike(_ATTR_CANON))
    canonical = F.regexp_extract(
        F.coalesce(F.try_element_at(canon, F.lit(1)), F.lit("")),
        _ATTR_HREF,
        1,
    )
    anchors = F.regexp_extract_all(html, F.lit(_TAG_A), 0)
    nofollow = F.filter(anchors, lambda a: a.rlike(_ATTR_NOFOLLOW))
    return df.select(
        F.col(id_col).alias("id"),
        content.alias("robots_content"),
        content.contains("noindex").alias("noindex"),
        content.contains("nofollow").alias("nofollow_meta"),
        F.when(canonical != "", canonical).alias("canonical_url"),
        F.size(anchors).cast("int").alias("n_links"),
        F.size(nofollow).cast("int").alias("n_nofollow_links"),
    )


def directives_oracle_sql(pages_sql: str) -> str:
    """DuckDB recomputation of :func:`page_directives` — same
    tag-extract / list-filter / attribute-probe chain in RE2."""

    def q(pat: str) -> str:
        return pat.replace("'", "''")

    return f"""
        with pages as (select * from ({pages_sql}) p),
        t as (select id,
                regexp_extract_all(html, '{q(_TAG_META)}', 0) metas,
                regexp_extract_all(html, '{q(_TAG_LINK)}', 0) links,
                regexp_extract_all(html, '{q(_TAG_A)}', 0) anchors
              from pages),
        d as (select id,
                lower(regexp_extract(coalesce(
                  list_filter(metas,
                    m -> regexp_matches(m, '{q(_ATTR_ROBOTS)}'))[1], ''),
                  '{q(_ATTR_CONTENT)}', 1)) robots_content,
                regexp_extract(coalesce(
                  list_filter(links,
                    m -> regexp_matches(m, '{q(_ATTR_CANON)}'))[1], ''),
                  '{q(_ATTR_HREF)}', 1) canon,
                len(anchors)::int n_links,
                len(list_filter(anchors,
                  a -> regexp_matches(a, '{q(_ATTR_NOFOLLOW)}')))::int
                  n_nofollow_links
              from t)
        select id, robots_content,
               contains(robots_content, 'noindex') as noindex,
               contains(robots_content, 'nofollow') as nofollow_meta,
               case when canon <> '' then canon end as canonical_url,
               n_links, n_nofollow_links
        from d
    """


_ATTR_ALT = "(?i)rel\\s*=\\s*[\"']alternate[\"']"
_ATTR_FEEDTYPE = (
    "(?i)type\\s*=\\s*[\"']application/(rss|atom)\\+xml[\"']"
)
_ATTR_TYPE_GROUP = (
    "(?i)type\\s*=\\s*[\"']application/(rss|atom)\\+xml[\"']"
)
_ATTR_TITLE = "(?i)title\\s*=\\s*[\"']([^\"']*)[\"']"


def feed_autodiscovery(
    df: DataFrame,
    html_col: str = "html",
    id_col: str = "doc_id",
) -> DataFrame:
    """RSS/Atom feed autodiscovery: every ``<link rel="alternate"
    type="application/rss+xml|atom+xml">`` on a page — THE seed-list
    bootstrap for a podcast crawler (the reference starts from a fixed
    seed list, `rss_fetcher.rs`; autodiscovery is how new feeds enter
    the frontier: crawl show pages, lift their advertised feeds, admit
    through the seen-set).  Returns one row per advertised feed:
    ``(id, feed_idx, feed_url, feed_type, title)`` with ``feed_type``
    in {'rss', 'atom'} (lowercased from the MIME subtype).

    Attribute order tolerant (whole-tag extract + probes — the
    :func:`page_directives` discipline, RE2-compatible); relative hrefs
    are returned verbatim (resolve against the page URL with
    :func:`resolve_href`).

    Scale shape: map-side array expressions, zero shuffle, no UDF.
    """
    html = F.col(html_col).cast("string")
    links = F.regexp_extract_all(html, F.lit(_TAG_LINK), 0)
    feeds = F.filter(
        links,
        lambda m: m.rlike(_ATTR_ALT) & m.rlike(_ATTR_FEEDTYPE),
    )
    out = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(feeds).alias("feed_idx", "tag"),
    )
    return out.select(
        "id",
        F.col("feed_idx").cast("int").alias("feed_idx"),
        F.regexp_extract("tag", _ATTR_HREF, 1).alias("feed_url"),
        F.lower(
            F.regexp_extract("tag", _ATTR_TYPE_GROUP, 1)
        ).alias("feed_type"),
        F.when(
            F.regexp_extract("tag", _ATTR_TITLE, 1) != "",
            F.regexp_extract("tag", _ATTR_TITLE, 1),
        ).alias("title"),
    )


def autodiscovery_oracle_sql(pages_sql: str) -> str:
    """DuckDB recomputation of :func:`feed_autodiscovery`."""

    def q(pat: str) -> str:
        return pat.replace("'", "''")

    return f"""
        with pages as (select * from ({pages_sql}) p),
        t as (select id,
                     list_filter(
                       regexp_extract_all(html, '{q(_TAG_LINK)}', 0),
                       m -> regexp_matches(m, '{q(_ATTR_ALT)}')
                        and regexp_matches(m, '{q(_ATTR_FEEDTYPE)}'))
                       feeds
              from pages),
        e as (select id, unnest(range(len(feeds))) fi, feeds from t)
        select id, fi::int feed_idx,
               regexp_extract(feeds[fi + 1], '{q(_ATTR_HREF)}', 1)
                 feed_url,
               lower(regexp_extract(feeds[fi + 1],
                                    '{q(_ATTR_TYPE_GROUP)}', 1))
                 feed_type,
               nullif(regexp_extract(feeds[fi + 1],
                                     '{q(_ATTR_TITLE)}', 1), '')
                 title
        from e
    """


def scheme_upgrades(
    df: DataFrame, url_col: str = "url"
) -> DataFrame:
    """HTTP→HTTPS migration detection: for every (host, path) key seen
    under BOTH schemes, emit the upgrade mapping — the canonicalization
    input that collapses scheme twins in the seen-set and frontier
    (fetching both wastes politeness budget; treating them as distinct
    splits PageRank and dedup evidence).  Output: ``(host, path_key,
    http_url, https_url, n_http, n_https)``.

    Scale shape: one map-side parse (scheme/host/path split via
    ``parse_url``-free regexes — dialect-portable), one groupBy on
    (host, path_key) carrying counts and min-URL representatives via
    conditional aggregates; no join, no window.
    """
    url = F.col(url_col)
    scheme = F.lower(F.regexp_extract(url, "^([a-zA-Z][a-zA-Z0-9+.-]*):", 1))
    host = F.lower(F.regexp_extract(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1))
    path = F.regexp_extract(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    base = df.select(
        url.alias("url"),
        scheme.alias("s"),
        host.alias("host"),
        F.when(path == "", "/").otherwise(path).alias("path_key"),
    ).filter(F.col("s").isin("http", "https"))
    agg = base.groupBy("host", "path_key").agg(
        F.min(F.when(F.col("s") == "http", F.col("url"))).alias("http_url"),
        F.min(F.when(F.col("s") == "https", F.col("url"))).alias(
            "https_url"
        ),
        F.sum((F.col("s") == "http").cast("long")).alias("n_http"),
        F.sum((F.col("s") == "https").cast("long")).alias("n_https"),
    )
    return agg.filter(
        F.col("http_url").isNotNull() & F.col("https_url").isNotNull()
    )


def scheme_oracle_sql(urls_sql: str) -> str:
    """DuckDB recomputation of :func:`scheme_upgrades` over any
    ``(url)`` subquery."""
    return f"""
        with u as (select url from ({urls_sql}) t),
        p as (select url,
                lower(regexp_extract(url,
                  '^([a-zA-Z][a-zA-Z0-9+.-]*):', 1)) s,
                lower(regexp_extract(url,
                  '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)) host,
                case when regexp_extract(url,
                  '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) = ''
                  then '/' else regexp_extract(url,
                  '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1)
                end path_key
              from u
              where lower(regexp_extract(url,
                '^([a-zA-Z][a-zA-Z0-9+.-]*):', 1)) in ('http','https')),
        a as (select host, path_key,
                     min(case when s = 'http' then url end) http_url,
                     min(case when s = 'https' then url end) https_url,
                     sum((s = 'http')::int)::BIGINT n_http,
                     sum((s = 'https')::int)::BIGINT n_https
              from p group by 1, 2)
        select * from a
        where http_url is not null and https_url is not null
    """


def link_farm_stats(
    edges: DataFrame,
    src_host_col: str = "src_host",
    dst_host_col: str = "dst_host",
    page_col: str = "page_id",
    min_links: int = 20,
    max_diversity_ppm: int = 100_000,
) -> DataFrame:
    """Link-farm detection over the crawl's outlink edge list: a host
    that emits MANY links to FEW distinct targets is a farm/boilerplate
    template, and its outlinks should not feed frontier priority
    (Gyöngyi & Garcia-Molina, "Web Spam Taxonomy", AIRWeb 2005 — link
    spam inflates in-degree signals like ``graph.pagerank`` /
    ``frontier_scoring``; demoting farm EDGES at the source is the
    standard countermeasure).

    Per source host: pages crawled, total outlinks, distinct target
    hosts, ``links_per_page_ppm`` (outlink density) and
    ``diversity_ppm = 1e6·distinct_targets/links`` — flag
    ``is_farm`` when the host has at least *min_links* outlinks and
    diversity at or under *max_diversity_ppm* (default: ≤10% of links
    point somewhere new).  All ratios are exact integer ppm
    (``1e6·a div b``), so an ANSI-SQL oracle replays every flag.

    Scale shape: ONE aggregation keyed on the source host —
    ``count``, two ``count distinct`` handled by Spark's expand +
    partial aggregation — the exchange carries host-keyed partials
    only, never edge bodies.  Skewed mega-hosts are exactly the rows
    this operator exists to surface, and a single host's distinct
    targets always fit a partition (they are bounded by the web's host
    count).  Output feeds ``frontier_gating`` as a host-level demotion
    list (bounded: one row per flagged host).
    """
    agg = edges.groupBy(F.col(src_host_col).alias("host")).agg(
        F.countDistinct(page_col).alias("n_pages"),
        F.count(F.lit(1)).alias("n_links"),
        F.countDistinct(dst_host_col).alias("n_targets"),
    )
    out = agg.select(
        "host",
        F.col("n_pages").cast("long").alias("n_pages"),
        F.col("n_links").cast("long").alias("n_links"),
        F.col("n_targets").cast("long").alias("n_targets"),
        F.expr("1000000 * n_links div n_pages").alias("links_per_page_ppm"),
        F.expr("1000000 * n_targets div n_links").alias("diversity_ppm"),
    )
    return out.withColumn(
        "is_farm",
        (F.col("n_links") >= min_links)
        & (F.col("diversity_ppm") <= max_diversity_ppm),
    )


def link_farm_oracle_sql(
    edges_sql: str, min_links: int = 20, max_diversity_ppm: int = 100_000
) -> str:
    """DuckDB replay of :func:`link_farm_stats` over an edge subquery
    yielding ``(src_host, dst_host, page_id)``."""
    return f"""
        with e as ({edges_sql}),
        a as (
          select src_host host,
                 count(distinct page_id)::BIGINT n_pages,
                 count(*)::BIGINT n_links,
                 count(distinct dst_host)::BIGINT n_targets
          from e group by 1)
        select host, n_pages, n_links, n_targets,
               (1000000 * n_links // n_pages)::BIGINT links_per_page_ppm,
               (1000000 * n_targets // n_links)::BIGINT diversity_ppm,
               (n_links >= {min_links} and
                (1000000 * n_targets // n_links) <= {max_diversity_ppm})
                 is_farm
        from a
    """
