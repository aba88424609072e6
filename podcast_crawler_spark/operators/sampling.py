"""Deterministic corpus sampling for training-data pipelines.

Random sampling by `rand()` is irreproducible across retries, partitions
and engines; web-scale pipelines sample by **key hash threshold** instead:
a row is in the p-sample iff ``h(key) < p · 2^32`` for a fixed hash.  The
same key always lands the same way — resumable jobs, consistent joins
across derived tables (both sides of a join sampled by the same key keep
referential integrity), and exact SQL reproducibility.

The hash is md5-derived (first 8 hex chars as a 32-bit integer) rather
than xxhash64 so an ANSI-SQL oracle computes the identical bit pattern
(same trick as ``dedup._token_hash32``).  Everything here is a map-side
filter on built-in expressions: no shuffle, pushdown-friendly, and at
100 TB the sample predicate rides the scan.

The reference has no sampling (it crawls everything); this family exists
for the training-data tier, like dedup/similarity (SURVEY.md §7.3 scope).
"""

from __future__ import annotations

from typing import Dict

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

_HASH_SPACE = 1 << 32


def key_hash32(key: Column) -> Column:
    """32-bit deterministic, SQL-reproducible hash of a key column."""
    return F.conv(
        F.substring(F.md5(key.cast("string")), 1, 8), 16, 10
    ).cast("long")


def _threshold(rate: float) -> int:
    """Round-half-up like SQL's ``::BIGINT`` cast — Python ``int()``
    truncates, which disagrees with the DuckDB oracle by one hash value
    for rates like 0.1 (0.1·2^32 = ...29.6 → 30 in SQL, 29 truncated)."""
    return int(rate * _HASH_SPACE + 0.5)


def _rate_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    rates: Dict[str, float],
    default_rate: float = 0.0,
) -> DataFrame:
    """Keep each row whose key hash falls under its stratum's rate
    threshold (*default_rate* for strata not in *rates*) and add the
    applied ``rate`` column.  Both are one when-chain each, folded into
    the scan."""
    rate_expr = F.lit(default_rate)
    threshold = F.lit(_threshold(default_rate))
    for s, rate in sorted(rates.items()):
        rate_expr = F.when(
            F.col(strata_col) == s, F.lit(rate)
        ).otherwise(rate_expr)
        threshold = F.when(
            F.col(strata_col) == s, F.lit(_threshold(rate))
        ).otherwise(threshold)
    return df.filter(key_hash32(F.col(key_col)) < threshold).withColumn(
        "rate", rate_expr
    )


def _stratum_totals(
    df: DataFrame, strata_col: str, weight_col: str
) -> Dict[str, float]:
    """``{stratum: sum(weight)}`` (None where every weight is null):
    one map-side-combined aggregate, k strata rows to the driver."""
    return {
        r["s"]: r["w"]
        for r in df.groupBy(F.col(strata_col).alias("s"))
        .agg(F.sum(weight_col).alias("w"))
        .collect()
    }


def sample_by_hash(
    df: DataFrame, key_col: str, rate: float
) -> DataFrame:
    """Deterministic p-sample: keep rows with ``h32(key) < rate·2^32``.
    Map-side filter, no shuffle; the same key is kept or dropped
    identically in every run, partition layout, and engine."""
    return df.filter(key_hash32(F.col(key_col)) < _threshold(rate))


def stratified_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    rates: Dict[str, float],
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. per-language rates when
    rebalancing a multilingual corpus): each row's threshold comes from
    its stratum, membership from its key hash.  Still one map-side
    filter — the when-chain folds into the scan."""
    return _rate_sample(df, key_col, strata_col, rates, default_rate).drop(
        "rate"
    )


def topk_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    k: int,
) -> DataFrame:
    """EXACT-k per-stratum sample: the *k* rows with the smallest
    ``md5(key)`` in each stratum — the deterministic, distributed
    equivalent of per-group reservoir sampling.  Rate-based sampling
    (:func:`stratified_sample`) yields Binomial(n, p) rows; when the
    contract is "exactly k eval docs per language", bottom-k-by-hash is
    the right tool: reproducible across runs/engines/partitionings,
    uniform over the stratum (md5 order is independent of any data
    order), and mergeable (the bottom-k of a union is the bottom-k of
    each side's bottom-k — the same semilattice argument as the
    sketches).

    Output: all input columns + ``sample_rank`` (1-based within
    stratum).  Plan shape: the ``row_number ≤ k`` filter plans as
    ``WindowGroupLimit Partial`` below the stratum exchange, so each
    map task forwards at most k rows per stratum it sees — the shuffle
    carries O(tasks·strata·k), never the corpus.
    """
    w = Window.partitionBy(strata_col).orderBy(
        F.md5(F.col(key_col).cast("string")), F.col(key_col)
    )
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= k)
        .withColumn("sample_rank", F.col("sample_rank").cast("long"))
    )


def mixture_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    weight_col: str,
    budgets: Dict[str, float],
    default_rate: float = 0.0,
) -> DataFrame:
    """Budget-targeted mixture sampling: given a target *weight budget*
    per stratum (e.g. tokens per domain when rebalancing a pre-training
    mixture), derive each stratum's acceptance rate

        ``rate_d = min(1.0, budget_d / sum(weight over stratum d))``

    and keep rows by the same deterministic hash-threshold rule as
    :func:`sample_by_hash`.  Strata without a budget fall back to
    ``default_rate``.  Output = input columns + ``rate`` (the applied
    rate — the IEEE double ``min(1.0, budget/total)``, bit-identical to
    the SQL oracle's ``least(1.0, budget/total)``) so downstream
    accounting — and the oracle — can audit the derivation.  A
    budgeted stratum whose weights sum to 0 takes rate 1.0 (a zero
    weight fits any budget); one whose weights are all null has no
    total to divide and raises ``ValueError``.

    Expected sampled weight per stratum ≈ ``min(budget_d, total_d)``
    (hash sampling is weight-oblivious within a stratum; exact
    budget-packing would need the order-dependent prefix-sum machinery
    of ``curation.pack_shards``).

    Scale shape: ONE tiny aggregate (groupBy(strata).sum(weight) —
    map-side combine, k rows to the driver) plans the rates; the sample
    itself is a map-side filter riding the scan, exactly like every
    other sampler here.  No corpus shuffle, no join.
    """
    rates = {}
    for s, total in _stratum_totals(df, strata_col, weight_col).items():
        if s not in budgets:
            rates[s] = default_rate
        elif total is None:
            raise ValueError(
                f"mixture_sample: stratum {s!r} has a budget but every"
                f" {weight_col} in it is null"
            )
        else:
            rates[s] = min(1.0, budgets[s] / total) if total else 1.0
    return _rate_sample(df, key_col, strata_col, rates, default_rate)


def weighted_bottom_k(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int,
) -> DataFrame:
    """Weight-proportional bottom-k sample: the *k* rows with the
    smallest ``priority = (1_000_000 · h32(key)) div w`` — heavier rows
    draw proportionally smaller priorities, so inclusion probability
    rises with weight (the integer-rule cousin of A-ES/priority
    sampling, Efraimidis & Spirakis '06 / Duffield et al. '07, which
    use ``u^(1/w)`` / ``u/w`` float keys; the engine contract here is
    the EXACT integer rule, so every engine draws the identical
    sample).  Use: quality-weighted eval-set draws, importance-weighted
    corpus subsampling.

    Determinism: priority depends only on (key, weight) — reproducible
    across runs, partitionings, engines; mergeable like
    :func:`topk_sample` (bottom-k of a union = bottom-k of per-side
    bottom-ks), so shards can pre-select locally.  Weights must be
    positive BIGINTs ≤ ~9·10^12 (overflow guard: 10^6·2^32 < 2^63).

    Plan shape: priority is map-side; the global bottom-k is
    ``TakeOrderedAndProject`` (per-partition heaps + bounded merge),
    never a global sort.  Output: input columns + ``priority``,
    ordered by (priority, key) for a total order.
    """
    pri = F.expr(
        f"(1000000 * h32) div {weight_col}"
    )
    return (
        df.withColumn("h32", key_hash32(F.col(key_col)))
        .withColumn("priority", pri)
        .drop("h32")
        .orderBy(F.col("priority"), F.col(key_col))
        .limit(k)
    )


def weighted_oracle_sql(rows_sql: str, k: int) -> str:
    """DuckDB recomputation of :func:`weighted_bottom_k` over any
    subquery with ``key`` and ``weight`` columns (pass the original
    columns through)."""
    return f"""
        with r as (select *,
                     ('0x' || substr(md5(key::varchar), 1, 8))::BIGINT h32
                   from ({rows_sql}) t)
        select * exclude (h32, key),
               ((1000000 * h32) // weight)::BIGINT priority
        from r
        order by priority, key
        limit {k}
    """


def dataset_split(
    df: DataFrame,
    key_col: str,
    val_pct: int = 5,
    test_pct: int = 5,
) -> DataFrame:
    """Deterministic train/val/test assignment by key hash: bucket =
    ``h32(key) % 10000``; the last ``test_pct`` percent of bucket space
    is test, the ``val_pct`` before it val, the rest train.  The
    leakage-safe split rule: membership is a pure function of the key
    (re-runs, engine changes and corpus growth never move a document
    across splits — the property random assignment lacks), and keying
    by a GROUP id (e.g. host) puts whole groups in one split, the
    standard guard against near-dup train/test leakage.

    Output: input columns + ``(split_bucket, split)``.  Integer percent
    boundaries; exact SQL oracle.
    """
    if val_pct + test_pct >= 100:
        raise ValueError("dataset_split: val+test must be < 100")
    b = key_hash32(F.col(key_col)) % 10000
    test_lo = 10000 - 100 * test_pct
    val_lo = test_lo - 100 * val_pct
    return df.withColumn("split_bucket", b.cast("int")).withColumn(
        "split",
        F.when(F.col("split_bucket") >= test_lo, F.lit("test"))
        .when(F.col("split_bucket") >= val_lo, F.lit("val"))
        .otherwise(F.lit("train")),
    )


def split_oracle_sql(
    rows_sql: str, key_expr: str, val_pct: int = 5, test_pct: int = 5
) -> str:
    """DuckDB recomputation of :func:`dataset_split`; *key_expr* is the
    key column expression within *rows_sql*'s output."""
    test_lo = 10000 - 100 * test_pct
    val_lo = test_lo - 100 * val_pct
    return f"""
        with r as (select *,
                     (('0x' || substr(md5(({key_expr})::varchar), 1, 8))
                        ::BIGINT % 10000)::int as split_bucket
                   from ({rows_sql}) t)
        select * exclude (split_bucket), split_bucket,
               case when split_bucket >= {test_lo} then 'test'
                    when split_bucket >= {val_lo} then 'val'
                    else 'train' end as split
        from r
    """


def temperature_mixture(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    weight_col: str,
    alpha: float = 0.5,
) -> DataFrame:
    """Temperature-flattened mixture resampling (the multilingual
    pre-training rule of mBERT / XLM-R, Conneau et al. '20 §3.1): the
    corpus distribution ``p_s ∝ n_s`` is flattened to ``q_s ∝ n_s^α``,
    realized by SUBSAMPLING only (no upsampling): acceptance rate

        ``rate_s = (n_s/n_min)^(α−1)``  (= ``sqrt(n_min/n_s)`` at α=½)

    — the smallest stratum keeps everything, every larger stratum is
    cut so the kept sizes are exactly proportional to ``n_s^α``.
    Membership is the same deterministic hash-threshold rule as every
    sampler here; output = input columns + ``rate``.

    α=0.5 (the default, and the only α the SQL oracle replays) keeps
    the derivation engine-exact: ``n_min/n_s`` is one correctly-rounded
    double division and ``sqrt`` is correctly rounded by IEEE 754 in
    the JVM, Python and DuckDB alike — ``pow`` for general α carries
    no such guarantee across libm builds, so non-default α is for
    in-engine use (document the tolerance if you oracle it).

    Scale shape: identical to :func:`mixture_sample` — ONE tiny
    aggregate (k strata rows to the driver) plans the rates, the
    sample is a map-side filter riding the scan.  No corpus shuffle.
    """
    import math

    totals = {
        s: w
        for s, w in _stratum_totals(df, strata_col, weight_col).items()
        if w is not None and w > 0
    }
    if not totals:
        return df.filter(F.lit(False)).withColumn("rate", F.lit(0.0))
    n_min = min(totals.values())
    if alpha == 0.5:
        rates = {s: math.sqrt(n_min / w) for s, w in totals.items()}
    else:
        rates = {s: (w / n_min) ** (alpha - 1.0) for s, w in totals.items()}
    return _rate_sample(df, key_col, strata_col, rates)


def temperature_oracle_sql(
    rows_sql: str,
    key_col: str,
    strata_col: str,
    weight_col: str,
) -> str:
    """DuckDB recomputation of :func:`temperature_mixture` at α=0.5 —
    stratum totals, the sqrt rate derivation (bit-identical doubles),
    and the hash-threshold membership."""
    return f"""
        WITH rows_in AS (SELECT * FROM ({rows_sql})),
        tot AS (
            SELECT {strata_col} AS s, SUM({weight_col}) AS w
            FROM rows_in GROUP BY 1
            HAVING SUM({weight_col}) > 0
        ),
        r AS (
            SELECT s,
                   sqrt((SELECT MIN(w) FROM tot)::DOUBLE / w) AS rate
            FROM tot
        )
        SELECT d.*, r.rate
        FROM rows_in d JOIN r ON d.{strata_col} = r.s
        WHERE ('0x' || substr(md5(d.{key_col}::VARCHAR), 1, 8))::BIGINT
              < (r.rate * 4294967296)::BIGINT
    """


def dsir_weights(
    df: DataFrame,
    target_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 256,
) -> DataFrame:
    """DSIR data-selection weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every
    document by how target-like its hashed n-gram distribution is,
    ``log w(d) = Σ_b c_b(d) · log(p_b / q_b)`` over hashed unigram +
    bigram buckets, where p is the Laplace-smoothed bucket distribution
    of the TARGET slice (rows with boolean ``target_col`` true) and q
    of the WHOLE corpus.

    Determinism discipline: the per-bucket log-ratio is quantized ONCE
    to integer micro-units (``round(1e6·ln(ratio))`` — ratio is one
    double division of exact integer products, the same ln-then-round
    convention as ``ranking.bm25``/``token_divergence``), so the
    per-document weight is a SUM OF INTEGERS — order-independent across
    any partitioning, exactly replayable in SQL.  A float sum over
    unordered feature rows would not be.

    Scale shape: tokenize + n-gram + bucket are pure codegen
    projections; the bucket table is ≤ ``num_buckets`` rows built by
    two map-side-combined aggregations and broadcast back; the only
    corpus-scale exchange is the final ``groupBy(id)`` over
    pre-combined ``(id, Σ c·lr)`` partials.  The two totals are k-row
    planning aggregates.  At 100 TB the bucket histogram costs one
    pass and 2·B longs of driver state.

    Output: ``(id_col, n_feats, dsir_logw_micro, target_like)`` —
    ``target_like`` (logw > 0) is the selection flag; for a fixed-size
    draw feed ``dsir_logw_micro`` to ``weighted_bottom_k``.
    """
    toks = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    bi = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat(
                F.element_at(toks, i), F.lit("_"), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    feats = df.select(
        F.col(id_col).alias("id"),
        F.col(target_col).alias("is_tgt"),
        F.explode(F.concat(toks, bi)).alias("g"),
    ).select(
        "id", "is_tgt", (key_hash32(F.col("g")) % num_buckets).alias("b")
    ).persist(StorageLevel.DISK_ONLY)
    # The tokenize+explode+hash projection — the expensive part of this
    # operator — runs ONCE: its narrow (id, is_tgt, bucket) rows are
    # persisted DISK_ONLY (repo-wide scratch discipline; the rows are
    # three fixed-width columns, far smaller than the text they came
    # from) and re-read by the scoring join below.  ONE corpus pass
    # over it builds both histograms (map-side combined to
    # ≤ num_buckets rows per task) and is collected once — ≤ B rows of
    # driver state.  Totals and the log-ratio table derive from that
    # local copy (the ratio expression stays SPARK-side over the
    # literal rows so its double/rounding semantics are byte-identical
    # to the oracle's replay).
    bucket_rows = {
        int(r["b"]): (int(r["tc"] or 0), int(r["sc"]))
        for r in feats.groupBy("b")
        .agg(
            F.sum(F.col("is_tgt").cast("long")).alias("tc"),
            F.count(F.lit(1)).alias("sc"),
        )
        .collect()
    }
    tt = sum(t for t, _ in bucket_rows.values())
    ss = sum(s for _, s in bucket_rows.values())
    spark = df.sparkSession
    lr = (
        spark.createDataFrame(
            [
                (b, *bucket_rows.get(b, (0, 0)))
                for b in range(num_buckets)
            ],
            "b long, tc long, sc long",
        )
        .select(
            "b",
            F.round(
                F.lit(1_000_000.0)
                * F.log(
                    (
                        (F.coalesce(F.col("tc"), F.lit(0)) + 1)
                        * F.lit(ss + num_buckets)
                    )
                    / (
                        (F.coalesce(F.col("sc"), F.lit(0)) + 1)
                        * F.lit(tt + num_buckets)
                    )
                )
            )
            .cast("long")
            .alias("lrm"),
        )
    )
    docw = (
        feats.join(F.broadcast(lr), "b")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("nf"),
            F.sum("lrm").alias("w"),
        )
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(docw, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("nf"), F.lit(0)).cast("long").alias("n_feats"),
            F.coalesce(F.col("w"), F.lit(0))
            .cast("long")
            .alias("dsir_logw_micro"),
            (F.coalesce(F.col("w"), F.lit(0)) > 0).alias("target_like"),
        )
    )


def dsir_oracle_sql(num_buckets: int = 256) -> str:
    """DuckDB replay of :func:`dsir_weights` over the ``documents``
    view with target = ``lang = 'en'``: same tokenizer, same md5-bucket
    hash, same smoothed integer-product ratio, same micro-quantized
    log-ratio, same integer sums."""
    b = num_buckets
    return f"""
        with toks as (
          select doc_id, lang = 'en' is_tgt,
                 list_filter(string_split(text, ' '), x -> len(x) > 0) t
          from documents),
        grams as (
          select doc_id, is_tgt, unnest(t) g from toks
          union all
          select doc_id, is_tgt,
                 unnest(list_transform(range(1, len(t)),
                                       i -> t[i] || '_' || t[i + 1])) g
          from toks),
        feats as (
          select doc_id, is_tgt,
                 ('0x' || substr(md5(g), 1, 8))::BIGINT % {b} b
          from grams),
        tot as (select sum(is_tgt::BIGINT) tt, count(*) ss from feats),
        tc as (select b, count(*) c from feats where is_tgt group by b),
        sc as (select b, count(*) c from feats group by b),
        lr as (
          select g.b,
                 round(1000000.0 * ln(
                   ((coalesce(tc.c, 0) + 1) * (tot.ss + {b}))
                   / ((coalesce(sc.c, 0) + 1) * (tot.tt + {b}))
                 ))::BIGINT lrm
          from generate_series(0, {b - 1}) g(b)
          left join tc on tc.b = g.b
          left join sc on sc.b = g.b
          cross join tot),
        docw as (
          select f.doc_id, count(*) nf, sum(lr.lrm)::BIGINT w
          from feats f join lr on lr.b = f.b
          group by f.doc_id)
        select d.doc_id,
               coalesce(nf, 0)::BIGINT n_feats,
               coalesce(w, 0)::BIGINT dsir_logw_micro,
               coalesce(w, 0) > 0 target_like
        from documents d left join docw using (doc_id)
    """


def holdout_allocation(
    df: DataFrame,
    holdout_total: int,
    strata_cols: tuple = ("lang", "source"),
    id_col: str = "doc_id",
    bins_per_stratum: int = 256,
) -> DataFrame:
    """Exact proportional stratified holdout — carve EXACTLY
    *holdout_total* eval docs out of the corpus with each stratum
    (lang × source) represented in exact proportion: allocation by
    largest remainder (the apportionment rule the budget operators
    use), selection by each stratum's lowest md5 ranks (deterministic,
    seedless, replayable).  Unlike :func:`dataset_split` (per-doc hash
    → EXPECTED proportions, count varies run to run at small n) this
    yields exact counts — what an eval-set contract requires ("1000
    docs, language-balanced") — and unlike ``stratified_sample`` it
    needs no per-stratum rate arithmetic from the caller.

    Allocation: ``alloc_s = floor(H·n_s/N)`` + one extra for the
    ``H − Σfloor`` largest remainders ``(H·n_s) mod N`` (ties → lexical
    stratum order) — an O(strata) computation.

    Selection: doc at within-stratum md5-rank ≤ ``alloc_s`` is held
    out.  The rank is NOT a per-stratum global window (one task per
    stratum, and the dominant language IS the corpus): the same
    two-phase bucketed prefix sum as :func:`textstats.ccnet_buckets` —
    ``bkt = stratum_idx · bins + md5-prefix bin`` is monotone in the
    global (stratum, md5, id) order, so each task sorts one hash slice
    (uniform by construction: md5 prefixes are uniform even when
    stratum sizes are not) and per-stratum rank = global prefix −
    stratum start.

    Output: every doc with ``(…strata, rk, alloc, is_holdout)`` — the
    complement (``NOT is_holdout``) is the training split.
    """
    from .curation import _bucketed_prefix_sum

    sk = F.concat_ws("\x1f", *[F.col(c) for c in strata_cols])
    rows = df.select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in strata_cols],
        sk.alias("__sk"),
        F.md5(F.concat_ws("\x1f", sk, F.col(id_col).cast("string"))).alias(
            "__r"
        ),
    )
    n_total = rows.count()
    if n_total == 0:
        raise ValueError("holdout_allocation: empty input")
    h = int(holdout_total)
    if not (0 <= h <= n_total):
        raise ValueError(f"holdout_total {h} outside [0, {n_total}]")

    counts = rows.groupBy("__sk").agg(F.count("*").alias("n_s"))
    w_ord = Window.orderBy("__sk")
    w_prev = w_ord.rowsBetween(Window.unboundedPreceding, -1)
    w_rem = Window.orderBy(
        F.col("rem").desc(), F.col("__sk")
    )
    alloc = (
        counts.withColumn("floor_a", F.expr(f"{h} * n_s div {n_total}"))
        .withColumn("rem", F.expr(f"({h} * n_s) % {n_total}"))
        .withColumn("sidx", F.row_number().over(w_ord) - 1)
        .withColumn("s_before", F.coalesce(F.sum("n_s").over(w_prev),
                                           F.lit(0).cast("long")))
    )
    # H - Σfloor extras to the largest remainders — O(strata) window
    extras = alloc.withColumn("rrank", F.row_number().over(w_rem))
    total_floor = extras.agg(F.sum("floor_a")).collect()[0][0] or 0
    n_extra = h - int(total_floor)
    alloc = extras.withColumn(
        "alloc",
        (F.col("floor_a")
         + (F.col("rrank") <= F.lit(n_extra)).cast("long")).cast("long"),
    ).select("__sk", "n_s", "sidx", "s_before", "alloc")

    bins = int(bins_per_stratum)
    staged = rows.join(F.broadcast(alloc), "__sk").select(
        "id", *strata_cols, "__sk", "__r", "s_before", "alloc",
        (
            F.col("sidx") * bins
            + F.least(
                (F.conv(F.substring("__r", 1, 2), 16, 10).cast("long")),
                F.lit(bins - 1),
            )
        ).alias("bkt"),
        F.lit(1).cast("long").alias("one"),
    )
    pr = _bucketed_prefix_sum(staged, "one", ["__sk", "__r", "id"])
    return pr.select(
        "id",
        *strata_cols,
        (F.col("bkt_offset") + F.col("local_cum") - F.col("s_before"))
        .alias("rk"),
        F.col("alloc"),
        (
            F.col("bkt_offset") + F.col("local_cum") - F.col("s_before")
            <= F.col("alloc")
        ).alias("is_holdout"),
    )


def holdout_oracle_sql(docs_sql: str, holdout_total: int) -> str:
    """DuckDB replay of :func:`holdout_allocation` over strata
    (lang, source): largest-remainder allocation as plain windows, the
    same md5 ranking key, naive per-stratum row_number vs the engine's
    distributed rank.  *docs_sql* must yield (id, lang, source)."""
    h = int(holdout_total)
    return f"""
        WITH base AS ({docs_sql}),
        r AS (
          SELECT id, lang, source,
                 lang || chr(31) || source AS sk,
                 md5(lang || chr(31) || source || chr(31)
                     || CAST(id AS VARCHAR)) AS rnd
          FROM base
        ),
        n AS (SELECT count(*)::BIGINT AS n_total FROM r),
        c AS (SELECT sk, count(*)::BIGINT n_s FROM r GROUP BY sk),
        a AS (
          SELECT sk, n_s,
                 ({h} * n_s // (SELECT n_total FROM n))::BIGINT floor_a,
                 (({h} * n_s) % (SELECT n_total FROM n))::BIGINT rem
          FROM c
        ),
        e AS (
          SELECT *, row_number() OVER (ORDER BY rem DESC, sk) rrank,
                 (SELECT {h} - sum(floor_a) FROM a) n_extra
          FROM a
        ),
        al AS (
          SELECT sk,
                 (floor_a + CASE WHEN rrank <= n_extra THEN 1 ELSE 0 END
                 )::BIGINT alloc
          FROM e
        ),
        rk AS (
          SELECT r.*, al.alloc,
                 row_number() OVER (
                     PARTITION BY r.sk ORDER BY r.rnd, r.id
                 )::BIGINT rk
          FROM r JOIN al ON r.sk = al.sk
        )
        SELECT id, lang, source, rk, alloc, rk <= alloc AS is_holdout
        FROM rk
    """
