"""robots.txt parsing: raw fetched robots bodies → the rules table the
scheduler's J4 broadcast join consumes (``operators/frontier.robots_filter``).

The reference does not fetch or honor robots.txt at all (its politeness
is only the global 2 req/s governor, ``/root/reference/src/crawler/
rate_limiter.rs:34-41``); the north rule adds per-host robots rules, and
this operator closes the loop from raw crawled ``robots.txt`` bytes to
the ``(host, user_agent, disallow_prefixes, crawl_delay_s)`` table
(``functions/schemas.ROBOTS_SCHEMA``).

Grammar (the practical subset, per the original 1994 REP and RFC 9309's
group model, simplified to one User-agent line per group — the shape the
deterministic corpus generates):

* lines are ``key: value``; ``#`` starts a comment; blank lines ignored
* ``User-agent:`` starts a group; subsequent ``Disallow`` /
  ``Crawl-delay`` lines belong to it
* the group for OUR exact user-agent wins over the ``*`` group; a host
  with neither yields no rules row (crawl with defaults)
* empty ``Disallow:`` means "allow all" and adds no prefix

Agent precedence is decided here only: per file by
``parse_robots_text``, per rules table by :func:`agent_rules`, which
``run_crawl`` and ``run_crawl_stream`` call once per crawl.  The
scheduler's join (``frontier.robots_filter``) takes the resolved table.

Parsing is line-oriented per host — a pandas-batched map over the
(small: one row per host) robots table, same Arrow-UDF pattern as the
feed parser.  At 10^10 URLs the robots table is ~10^7 hosts — one
map-side pass, no shuffle, then broadcast into scheduling.
"""

from __future__ import annotations

from typing import Iterator, Optional

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.schemas import ROBOTS_SCHEMA
from .frontier import USER_AGENT


def parse_robots_text(body: str) -> Optional[dict]:
    """Parse one robots.txt body; returns the applicable group's rules
    (exact-UA group preferred over ``*``) or None if neither exists."""
    groups: dict = {}
    cur = None
    for raw in body.split("\n"):
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key, val = key.strip().lower(), val.strip()
        if key == "user-agent":
            cur = groups.setdefault(val, {"disallow": [], "delay": None})
        elif cur is not None:
            if key == "disallow" and val:
                cur["disallow"].append(val)
            elif key == "crawl-delay":
                try:
                    cur["delay"] = float(val)
                except ValueError:
                    pass
    for ua in (USER_AGENT, "*"):
        if ua in groups:
            g = groups[ua]
            return {
                "user_agent": ua,
                "disallow_prefixes": g["disallow"],
                "crawl_delay_s": g["delay"],
            }
    return None


def parse_robots(
    df: DataFrame, host_col: str = "host", body_col: str = "body"
) -> DataFrame:
    """Robots bodies → rules table (``ROBOTS_SCHEMA``).  Hosts whose file
    has no applicable group emit no row — the scheduler's left join then
    applies defaults, exactly as for hosts with no robots.txt at all."""

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rules = (
                (host, parse_robots_text(body or ""))
                for host, body in zip(pdf[host_col], pdf[body_col])
            )
            yield pd.DataFrame(
                [{"host": h, **r} for h, r in rules if r is not None],
                columns=ROBOTS_SCHEMA.fieldNames(),
            )

    return df.select(host_col, body_col).mapInPandas(_run, schema=ROBOTS_SCHEMA)


def agent_rules(robots: DataFrame) -> DataFrame:
    """Resolve a rules table (``ROBOTS_SCHEMA``) to the rows that apply
    to ``USER_AGENT``: per host, its exact-agent row, else its ``*`` row
    (RFC 9309 §2.2.1).  A host with two rows for one agent raises in the
    same aggregate (``raise_error``, no extra job) instead of getting an
    arbitrary pick."""
    ours = F.col("user_agent") == USER_AGENT
    g = robots.filter(ours | (F.col("user_agent") == "*")).groupBy("host").agg(
        F.max_by(F.struct(*ROBOTS_SCHEMA.fieldNames()), ours).alias("g"),
        ((F.count_if(ours) > 1) | (F.count_if(~ours) > 1)).alias("dup"),
    )
    dup = F.concat(
        F.lit("robots rules: host "), "host", F.lit(" has two rows for one agent")
    )
    return g.select(
        F.when(F.col("dup"), F.raise_error(dup)).otherwise(F.col("g")).alias("g")
    ).select("g.*")


def sitemap_directives(
    df: DataFrame, host_col: str = "host", body_col: str = "body"
) -> DataFrame:
    """Extract ``Sitemap:`` directives from raw robots.txt bodies —
    the discovery bridge from the politeness layer to the sitemap
    scanner (``operators/sitemap.py``): per the robots.txt convention
    the directive is group-independent, case-insensitive, and may
    appear any number of times.

    Output ``(host, pos, sitemap_url)`` with ``pos`` the directive's
    order within its file.  Unlike :func:`parse_robots` (a pandas UDF
    implementing the stateful UA-group grammar), this is a stateless
    line filter — pure JVM array expressions (split → filter →
    posexplode), zero Python, zero shuffle, and exactly reproducible
    in the SQL oracle."""
    # ltrim/trim strip spaces only — robots files use tabs too, so
    # whitespace handling goes through anchored regexes
    def _lstrip(l):
        return F.regexp_replace(l, r"^[ \t\r]+", "")

    def _strip(l):
        return F.regexp_replace(l, r"^[ \t\r]+|[ \t\r]+$", "")

    lines = F.split(F.col(body_col), "\n")
    sm = F.filter(
        lines,
        lambda l: F.substring(F.lower(_lstrip(l)), 1, 8)
        == F.lit("sitemap:"),
    )
    urls = F.transform(
        sm, lambda l: _strip(F.substring(_lstrip(l), 9, 100000))
    )
    return df.select(
        F.col(host_col).alias("host"), F.posexplode(urls)
    ).select(
        "host", F.col("pos").cast("int").alias("pos"),
        F.col("col").alias("sitemap_url"),
    )


def _longest_match(
    paths: DataFrame,
    r: DataFrame,
    host_col: str,
    path_col: str,
    **picks: Optional[Column],
) -> DataFrame:
    """The REP matching core of :func:`match_rfc9309` and
    :func:`robots_policy_diff`.  *r* holds ``(r_host, rule, pattern)``
    rows plus any column a pick condition reads.  Each pattern compiles
    once to a SQL LIKE expression and its precedence length; the distinct
    ``(host, path)`` rows broadcast-join the rules on host plus LIKE, and
    one groupBy(host, path) yields, per keyword of *picks*, the
    precedence-minimal ``struct(nl, ra, pat, rl)`` among the matches its
    condition admits (None admits every match) — null if none matches."""
    r = r.withColumn(
        "_like_tmp",
        F.replace(
            F.replace(
                F.replace(
                    F.replace(F.col("pattern"), F.lit("\\"), F.lit("\\\\")),
                    F.lit("%"),
                    F.lit("\\%"),
                ),
                F.lit("_"),
                F.lit("\\_"),
            ),
            F.lit("*"),
            F.lit("%"),
        ),
    )
    r = r.withColumn(
        "_like",
        F.when(
            F.col("pattern").endswith("$"),
            F.expr("substring(_like_tmp, 1, length(_like_tmp) - 1)"),
        ).otherwise(F.concat(F.col("_like_tmp"), F.lit("%"))),
    ).withColumn(
        "_plen",
        F.when(
            F.col("pattern").endswith("$"),
            F.length("pattern") - 1,
        ).otherwise(F.length("pattern")),
    )
    p = paths.select(
        F.col(host_col).alias("host"), F.col(path_col).alias("path")
    ).distinct()
    # the LIKE lives in the JOIN condition: a path matching none of its
    # host's rules must keep its null row (post-filtering would drop it)
    joined = p.join(
        F.broadcast(r),
        (p["host"] == r["r_host"])
        & F.expr("path like _like escape '\\\\'"),
        "left",
    )

    def _best(cond: Optional[Column]) -> Column:
        matched = F.col("pattern").isNotNull()
        return F.min(
            F.when(
                matched if cond is None else matched & cond,
                F.struct(
                    (-F.col("_plen")).alias("nl"),
                    F.when(F.col("rule") == "allow", F.lit(0))
                    .otherwise(F.lit(1))
                    .alias("ra"),
                    F.col("pattern").alias("pat"),
                    F.col("rule").alias("rl"),
                ),
            )
        )

    return joined.groupBy("host", "path").agg(
        *[_best(c).alias(name) for name, c in picks.items()]
    )


def match_rfc9309(
    paths: DataFrame,
    rules: DataFrame,
    host_col: str = "host",
    path_col: str = "path",
) -> DataFrame:
    """RFC 9309-complete robots matching: ``*`` wildcards, ``$`` end
    anchors, Allow lines, and LONGEST-MATCH precedence (allow wins
    length ties) — the full REP the legacy prefix filter
    (:func:`frontier.robots_filter`, reference-parity semantics)
    deliberately omits.  Input: per-URL ``(host, path)`` rows and a
    rules table ``(host, rule, pattern)`` with ``rule`` in
    {'allow','disallow'}.  Output: the paths plus ``(matched_pattern,
    matched_rule, allowed)``; hosts/paths matching no rule are allowed.

    Matching compiles each pattern ONCE to a SQL LIKE expression
    (metachars escaped, ``*``→``%``, ``$`` anchor ⇒ no trailing ``%``)
    — Spark and DuckDB LIKE semantics coincide, so the oracle replays
    every decision.  Precedence = max(length of pattern sans ``$``),
    allow over disallow on ties, then lexicographically smaller pattern
    (a total order, so the decision is engine-exact even with
    duplicate-length rules).

    Scale shape: rules are host metadata (broadcast); one
    broadcast-join + groupBy(path-key) argmax via ``min(struct(...))``
    (window-free, the ``trap_stats`` discipline).
    """
    r = rules.select(
        F.col(host_col).alias("r_host"), F.col("rule"), F.col("pattern")
    )
    pick = _longest_match(paths, r, host_col, path_col, b=None)
    return pick.select(
        "host",
        "path",
        F.col("b.pat").alias("matched_pattern"),
        F.col("b.rl").alias("matched_rule"),
        F.coalesce(F.col("b.rl") != "disallow", F.lit(True)).alias(
            "allowed"
        ),
    )


def rfc9309_oracle_sql(paths_sql: str, rules_sql: str) -> str:
    """DuckDB recomputation of :func:`match_rfc9309`."""
    return f"""
        with p as (select distinct host, path from ({paths_sql}) a),
        r0 as (select host r_host, rule, pattern from ({rules_sql}) b),
        r as (select *,
                replace(replace(replace(replace(pattern,
                  '\\', '\\\\'), '%', '\\%'), '_', '\\_'), '*', '%')
                  lt
              from r0),
        r2 as (select r_host, rule, pattern,
                      case when pattern like '%$'
                           then substring(lt, 1, length(lt) - 1)
                           else lt || '%' end lk,
                      case when pattern like '%$'
                           then length(pattern) - 1
                           else length(pattern) end plen
               from r),
        j as (select p.host, p.path, r2.rule, r2.pattern, r2.plen
              from p left join r2 on p.host = r2.r_host
               and p.path like r2.lk escape '\\'),
        pick as (select host, path,
                        min(case when pattern is not null then
                          struct_pack(nl := -plen,
                                      ra := (rule <> 'allow')::int,
                                      pat := pattern, rl := rule)
                        end) b
                 from j group by 1, 2)
        select host, path,
               b.pat as matched_pattern,
               b.rl as matched_rule,
               coalesce(b.rl <> 'disallow', true) as allowed
        from pick
    """


def robots_availability(
    outcomes: DataFrame,
    now_unix: int,
    unreachable_grace_s: int = 30 * 86400,
    host_col: str = "host",
    status_col: str = "http_status",
    ts_col: str = "fetched_unix",
) -> DataFrame:
    """RFC 9309 §2.3.1 access-result policy — what a crawler must ASSUME
    about a host whose robots.txt it could not parse (the rules-parsing
    pipeline in :func:`parse_robots` only ever sees 2xx bodies):

      - 2xx                  → ``apply_rules`` (parse output governs)
      - 3xx                  → ``apply_rules`` (MUST follow redirects —
        the fetch layer resolves them; the landed status is what's
        recorded here, so a 3xx row means an unconsumed redirect and
        conservatively keeps rules semantics)
      - 4xx ("unavailable")  → ``allow_all`` (the RFC: a 404 robots.txt
        means crawling is unrestricted)
      - 5xx / null status ("unreachable") → ``disallow_all``, UNLESS
        the condition has persisted past *unreachable_grace_s* (RFC:
        "a crawler MAY assume unavailable" after a long outage —
        operationally: a host whose robots.txt has 500'd for a month is
        a broken server, not a directive) → ``allow_all``.

    Input: one row per host — the LATEST robots fetch outcome
    ``(host, http_status, fetched_unix)`` (status null = network
    error).  Output: ``(host, status_class, policy, stale)`` where
    ``stale`` marks grace-period expiry.  Pure map-side expression,
    zero shuffle; exact SQL oracle.
    """
    st = F.col(status_col)
    age = F.lit(int(now_unix)) - F.col(ts_col)
    status_class = (
        F.when(st.isNull(), F.lit("unreachable"))
        .when((st >= 500), F.lit("unreachable"))
        .when((st >= 400), F.lit("unavailable"))
        .when((st >= 300), F.lit("redirect"))
        .otherwise(F.lit("ok"))
    )
    stale = (
        status_class.isin("unreachable")
        & (age > F.lit(int(unreachable_grace_s)))
    )
    policy = (
        F.when(status_class == "ok", F.lit("apply_rules"))
        .when(status_class == "redirect", F.lit("apply_rules"))
        .when(status_class == "unavailable", F.lit("allow_all"))
        .when(stale, F.lit("allow_all"))
        .otherwise(F.lit("disallow_all"))
    )
    return outcomes.select(
        host_col,
        status_class.alias("status_class"),
        policy.alias("policy"),
        stale.alias("stale"),
    )


def availability_oracle_sql(
    outcomes_sql: str,
    now_unix: int,
    unreachable_grace_s: int = 30 * 86400,
) -> str:
    """DuckDB replay of :func:`robots_availability`."""
    return f"""
        WITH o AS (SELECT * FROM ({outcomes_sql})),
        c AS (
            SELECT host, http_status, fetched_unix,
                   CASE WHEN http_status IS NULL THEN 'unreachable'
                        WHEN http_status >= 500 THEN 'unreachable'
                        WHEN http_status >= 400 THEN 'unavailable'
                        WHEN http_status >= 300 THEN 'redirect'
                        ELSE 'ok' END AS status_class
            FROM o
        ),
        s AS (
            SELECT *,
                   status_class = 'unreachable'
                   AND ({int(now_unix)} - fetched_unix)
                       > {int(unreachable_grace_s)} AS stale
            FROM c
        )
        SELECT host, status_class,
               CASE WHEN status_class IN ('ok', 'redirect')
                        THEN 'apply_rules'
                    WHEN status_class = 'unavailable' THEN 'allow_all'
                    WHEN stale THEN 'allow_all'
                    ELSE 'disallow_all' END AS policy,
               stale
        FROM s
    """


def robots_policy_diff(
    paths: DataFrame,
    rules_old: DataFrame,
    rules_new: DataFrame,
    host_col: str = "host",
    path_col: str = "path",
) -> DataFrame:
    """Robots policy-churn audit: the frontier impact of a robots.txt
    refetch.  Given the URL set and the rules tables of two epochs,
    classify every ``(host, path)``:

    - ``revoked``  — allowed under the old policy, disallowed now: the
      URL must be purged from the frontier / not refetched (the case
      RFC 9309 §2.4 cache expiry exists for);
    - ``opened``   — disallowed before, allowed now: an admission
      candidate the seed scan will never resurface on its own;
    - ``unchanged_allowed`` / ``unchanged_disallowed``.

    Output also carries both eras' matched patterns, so a transition is
    attributable to the specific rule that caused it.

    Scale shape: ONE pass over the URL set — both eras' rules are
    tagged and broadcast together, the longest-match argmax
    (:func:`match_rfc9309` semantics: length, allow-wins ties,
    lexicographic) runs as two conditional ``min(struct(...))``
    aggregates in a single groupBy, so the corpus-sized side is joined
    and shuffled once, not once per era.
    """
    tagged = rules_old.select(
        F.lit("old").alias("era"), host_col, "rule", "pattern"
    ).unionByName(
        rules_new.select(
            F.lit("new").alias("era"), host_col, "rule", "pattern"
        )
    )
    r = tagged.select(
        "era",
        F.col(host_col).alias("r_host"),
        "rule",
        "pattern",
    )
    pick = _longest_match(
        paths, r, host_col, path_col,
        bo=F.col("era") == "old", bn=F.col("era") == "new",
    )
    old_ok = F.coalesce(F.col("bo.rl") != "disallow", F.lit(True))
    new_ok = F.coalesce(F.col("bn.rl") != "disallow", F.lit(True))
    return pick.select(
        "host",
        "path",
        old_ok.alias("old_allowed"),
        new_ok.alias("new_allowed"),
        F.col("bo.pat").alias("old_pattern"),
        F.col("bn.pat").alias("new_pattern"),
        F.when(old_ok & ~new_ok, F.lit("revoked"))
        .when(~old_ok & new_ok, F.lit("opened"))
        .when(new_ok, F.lit("unchanged_allowed"))
        .otherwise(F.lit("unchanged_disallowed"))
        .alias("transition"),
    )


def policy_diff_oracle_sql(
    paths_sql: str, old_rules_sql: str, new_rules_sql: str
) -> str:
    """DuckDB recomputation of :func:`robots_policy_diff` — the same
    LIKE compilation, the same two conditional longest-match argmaxes,
    the same transition labels."""
    return f"""
        with p as (select distinct host, path from ({paths_sql}) a),
        r0 as (select 'old' era, host r_host, rule, pattern
               from ({old_rules_sql}) b
               union all
               select 'new' era, host r_host, rule, pattern
               from ({new_rules_sql}) c),
        r as (select *,
                replace(replace(replace(replace(pattern,
                  '\\', '\\\\'), '%', '\\%'), '_', '\\_'), '*', '%')
                  lt
              from r0),
        r2 as (select era, r_host, rule, pattern,
                      case when pattern like '%$'
                           then substring(lt, 1, length(lt) - 1)
                           else lt || '%' end lk,
                      case when pattern like '%$'
                           then length(pattern) - 1
                           else length(pattern) end plen
               from r),
        j as (select p.host, p.path, r2.era, r2.rule, r2.pattern, r2.plen
              from p left join r2 on p.host = r2.r_host
               and p.path like r2.lk escape '\\'),
        pick as (select host, path,
                        min(case when pattern is not null and era = 'old'
                          then struct_pack(nl := -plen,
                                           ra := (rule <> 'allow')::int,
                                           pat := pattern, rl := rule)
                        end) bo,
                        min(case when pattern is not null and era = 'new'
                          then struct_pack(nl := -plen,
                                           ra := (rule <> 'allow')::int,
                                           pat := pattern, rl := rule)
                        end) bn
                 from j group by 1, 2)
        select host, path,
               coalesce(bo.rl <> 'disallow', true) old_allowed,
               coalesce(bn.rl <> 'disallow', true) new_allowed,
               bo.pat old_pattern,
               bn.pat new_pattern,
               case when coalesce(bo.rl <> 'disallow', true)
                     and not coalesce(bn.rl <> 'disallow', true)
                    then 'revoked'
                    when not coalesce(bo.rl <> 'disallow', true)
                     and coalesce(bn.rl <> 'disallow', true)
                    then 'opened'
                    when coalesce(bn.rl <> 'disallow', true)
                    then 'unchanged_allowed'
                    else 'unchanged_disallowed' end transition
        from pick
    """
