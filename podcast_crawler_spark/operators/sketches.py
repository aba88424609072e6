"""Mergeable sketch operators: HyperLogLog distinct-count and count-min
heavy hitters.

Spark ships `approx_count_distinct` / `count_min_sketch`, but their
register contents are engine-internal — useless when the pipeline must
persist sketches, merge them across crawl epochs, or verify them against
an independent engine.  These operators materialize the sketch STATE as
ordinary rows (a register table / a counter table), so it can be stored
in the checkpoint tables, merged across batches with a plain groupBy,
and recomputed bit-for-bit by an ANSI-SQL oracle.

Cross-engine exactness is by construction:

- hashes are md5-hex slices converted via base-16 parse (the same trick
  as ``sampling.key_hash32``), never engine-native hash functions;
- the HLL harmonic mean ``sum(2^-reg)`` is computed in scaled *integer*
  arithmetic (``2^(50-reg)`` as BIGINT) so the sum is exact and
  order-independent — a naive double sum is partition-order dependent
  and can't be oracled;
- count-min counters are plain integer counts.

At 100 TB both sketches follow the canonical distributed pattern: a
map-side combine collapses every partition to at most ``m`` (HLL) or
``depth·width`` (CM) rows before the single exchange, so the shuffle is
O(sketch size · partitions), never O(rows).  The sketch tables are tiny
and broadcast-able for probing.

Reference anchor: the reference keeps exact per-epoch counters only
(`src/metrics.rs`); sketches are the scale path for the same metrics
when the frontier hits 10^10 URLs (SURVEY.md §7.3 training-data tier).
"""

from __future__ import annotations

from typing import List, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# --------------------------------------------------------------------------
# HyperLogLog
# --------------------------------------------------------------------------

HLL_P_BITS = 8                # 2 hex chars -> m = 256 registers
HLL_M = 1 << HLL_P_BITS
_VALUE_BITS = 60              # 15 hex chars of the md5 after the bucket
_RHO_MAX = _VALUE_BITS + 1    # all-zero value
_HARMONIC_SHIFT = 50          # sum(2^(50-reg)) as exact BIGINT

# alpha_m * m^2 * 2^50 as ONE Python-folded double literal.  Python,
# Spark and DuckDB all evaluate the same left-associated IEEE-double
# expression, so embedding repr() of the Python value into both engines
# guarantees the identical constant.
HLL_ALPHA_SCALED = (
    0.7213 / (1.0 + 1.079 / float(HLL_M))
    * float(HLL_M * HLL_M)
    * float(1 << _HARMONIC_SHIFT)
)


def _hll_register_cols(key: Column) -> tuple[Column, Column]:
    """(bucket, rho) from the md5 of *key*: bucket = first 8 bits, rho =
    1 + leading-zero count of the next 60 bits (61 when they are all
    zero).  ``61 - length(bin(v))`` is the leading-zero identity — both
    Spark's ``bin`` and DuckDB's ``printf('%b',·)`` render without
    leading zeros and render 0 as '0'."""
    h = F.md5(key.cast("string"))
    bucket = F.conv(F.substring(h, 1, 2), 16, 10).cast("long")
    v = F.conv(F.substring(h, 3, 15), 16, 10).cast("long")
    rho = F.when(v == 0, F.lit(_RHO_MAX)).otherwise(
        F.lit(_RHO_MAX) - F.length(F.bin(v))
    )
    return bucket, rho.cast("long")


def hll_registers(
    df: DataFrame, key_col: str, group_cols: Sequence[str] = ()
) -> DataFrame:
    """The sketch STATE: ``(*group_cols, bucket, reg)`` with one row per
    non-empty register.  ``groupBy(...).max(rho)`` gets a map-side
    partial max, so each task emits <= m rows regardless of input size;
    merging two epochs' sketches is the same groupBy-max over the union
    (HLL registers are a semilattice)."""
    bucket, rho = _hll_register_cols(F.col(key_col))
    return (
        df.select(*group_cols, bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("reg"))
    )


def hll_merge(regs: DataFrame, group_cols: Sequence[str] = ()) -> DataFrame:
    """Merge HLL register tables across epochs/batches: registers are a
    max-semilattice, so the union sketch is ``groupBy(bucket).max(reg)``
    over the stacked per-epoch states — the property that makes the
    O(m)-row sketch the 10^10-scale path for cross-epoch distinct
    counts (persist each crawl epoch's registers in the checkpoint
    metrics table, merge on read; never re-scan history)."""
    return regs.groupBy(*group_cols, "bucket").agg(
        F.max("reg").alias("reg")
    )


def hll_estimate_from_registers(
    regs: DataFrame, group_cols: Sequence[str] = ()
) -> DataFrame:
    """Estimate stage over a register table (from :func:`hll_registers`
    or :func:`hll_merge`): exact-integer harmonic sum, linear-counting
    correction, 4-dp rounding — identical math to what the DuckDB
    oracles replay.  Output: ``(*group_cols, n_zero_regs,
    harmonic_scaled, hll_estimate)``."""
    group = list(group_cols)
    # pyspark's F.shiftleft only takes a literal shift amount — the
    # column-exponent form goes through the SQL function directly
    per_reg_term = F.when(
        F.col("reg") <= _HARMONIC_SHIFT,
        F.expr(f"shiftleft(1L, {_HARMONIC_SHIFT} - reg)"),
    ).otherwise(F.lit(0).cast("long"))
    sketch = regs.groupBy(*group).agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(per_reg_term).alias("harmonic_present"),
    )
    n_zero = (F.lit(HLL_M) - F.col("n_buckets")).cast("long")
    harmonic = (
        F.col("harmonic_present")
        + n_zero * F.lit(1 << _HARMONIC_SHIFT).cast("long")
    ).cast("long")
    raw_est = F.lit(HLL_ALPHA_SCALED) / harmonic
    lin_est = F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / n_zero)
    est = F.round(
        F.when((n_zero > 0) & (raw_est <= 2.5 * HLL_M), lin_est).otherwise(
            raw_est
        ),
        4,
    )
    return sketch.select(
        *group,
        n_zero.alias("n_zero_regs"),
        harmonic.alias("harmonic_scaled"),
        est.alias("hll_estimate"),
    )


def hll_distinct(
    df: DataFrame, key_col: str, group_cols: Sequence[str] = ()
) -> DataFrame:
    """Per-group HyperLogLog distinct estimate with the exact count
    alongside (the exact side is the audit column; at 10^10 keys a user
    drops it and keeps only the O(m)-state estimate).

    Output: ``(*group_cols, n_exact, n_zero_regs, harmonic_scaled,
    hll_estimate, rel_err)``.  ``harmonic_scaled`` is the exact integer
    ``sum(2^(50-reg))`` over all m registers (absent buckets count as
    reg=0 -> 2^50), capped at reg=50 (rho>50 needs ~2^50 keys per
    bucket; the dropped term is below double precision anyway).  The
    estimate applies the standard small-range linear-counting
    correction when raw <= 2.5m and zero registers remain.
    """
    group = list(group_cols)
    regs = hll_registers(df, key_col, group)
    sketch = hll_estimate_from_registers(regs, group)
    exact = df.groupBy(*group).agg(
        F.countDistinct(key_col).alias("n_exact")
    )
    # both sides are one row per group — a broadcast-able reconciliation
    # join, never a corpus shuffle
    joined = (
        sketch.join(F.broadcast(exact), on=group)
        if group
        else sketch.crossJoin(F.broadcast(exact))
    )
    return joined.select(
        *group,
        "n_exact",
        "n_zero_regs",
        "harmonic_scaled",
        "hll_estimate",
        F.round(
            F.abs(F.col("hll_estimate") - F.col("n_exact"))
            / F.col("n_exact"),
            4,
        ).alias("rel_err"),
    )


# --------------------------------------------------------------------------
# Count-min sketch heavy hitters
# --------------------------------------------------------------------------

CM_DEPTH = 4
CM_WIDTH = 1024


def _cm_col(token: Column, row: int, width: int) -> Column:
    """Counter column for salt row *row*: first 20 md5 bits of the
    salted token, mod width.  Salt 'r<row>:' keeps the d hash functions
    pairwise independent enough for the CM guarantee."""
    h = F.md5(F.concat(F.lit(f"r{row}:"), token))
    return (
        F.conv(F.substring(h, 1, 5), 16, 10).cast("long") % width
    ).alias("col")


def _tokens(df: DataFrame, text_col: str) -> DataFrame:
    tok = F.explode(F.split(F.col(text_col), " ")).alias("token")
    return df.select(tok).filter(F.length("token") > 0)


def cm_sketch(
    df: DataFrame,
    text_col: str = "text",
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
) -> DataFrame:
    """The counter table ``(row, col, c)`` — at most depth*width rows.
    The groupBy count gets a map-side combine, so each task contributes
    <= depth*width partial rows to the single exchange; sketches from
    two batches merge by summing counters (groupBy row,col sum(c))."""
    toks = _tokens(df, text_col)
    cells = toks.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).cast("int").alias("row"),
                        _cm_col(F.col("token"), r, width),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("cell")
    ).select("cell.row", "cell.col")
    return cells.groupBy("row", "col").agg(F.count(F.lit(1)).alias("c"))


def cm_heavy_hitters(
    df: DataFrame,
    text_col: str = "text",
    k: int = 20,
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
) -> DataFrame:
    """Top-k tokens by exact count, with the count-min estimate
    alongside: ``(token, n_exact, cm_est, overcount)``.

    ``cm_est >= n_exact`` always (count-min never undercounts), so
    ``overcount`` is the per-token audit of the sketch's collision
    error.  The exact side is a token groupBy (map-side combine) with a
    TakeOrderedAndProject top-k — no global sort; the probe joins the
    candidates against the BROADCAST counter table (<= depth*width
    rows), so nothing corpus-sized crosses a join boundary.
    """
    toks = _tokens(df, text_col)
    sketch = cm_sketch(df, text_col, depth, width)
    exact = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n_exact"))
    topk = exact.orderBy(F.desc("n_exact"), F.asc("token")).limit(k)
    probes = topk.select(
        "token",
        "n_exact",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).cast("int").alias("row"),
                        _cm_col(F.col("token"), r, width),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("cell"),
    ).select("token", "n_exact", "cell.row", "cell.col")
    est = (
        probes.join(F.broadcast(sketch), on=["row", "col"])
        .groupBy("token")
        .agg(F.max("n_exact").alias("n_exact"), F.min("c").alias("cm_est"))
    )
    return est.select(
        "token",
        "n_exact",
        "cm_est",
        (F.col("cm_est") - F.col("n_exact")).alias("overcount"),
    )


# --------------------------------------------------------------------------
# Mergeable fixed-bin histogram + quantile estimation
# --------------------------------------------------------------------------

HIST_BINS = 64


def histogram_bins(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = HIST_BINS,
) -> DataFrame:
    """The sketch STATE: ``(bin, c)`` integer counts over fixed bins of
    ``[lo, hi]`` (values clamped to the edge bins).  Like the HLL
    register table: map-side combine collapses every partition to
    <= n_bins rows before the single exchange, and two epochs' sketches
    merge by summing counts."""
    width = (hi - lo) / float(n_bins)
    v = F.col(value_col).cast("double")
    bin_ = F.greatest(
        F.lit(0).cast("long"),
        F.least(
            F.lit(n_bins - 1).cast("long"),
            F.floor((v - F.lit(lo)) / F.lit(width)).cast("long"),
        ),
    )
    return (
        df.select(bin_.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def histogram_quantiles(
    df: DataFrame,
    value_col: str,
    quantiles: Sequence[float],
    lo: float,
    hi: float,
    n_bins: int = HIST_BINS,
) -> DataFrame:
    """Quantile estimates from the mergeable histogram: for each q the
    bin holding the ceil(q·N)-th value, linearly interpolated within
    the bin.  Output ``(q, k, bin, cum_before, bin_count, est)`` — all
    integers except ``est`` (one fixed-order double expression, rounded
    to 6 dp), so the DuckDB oracle recomputes every row.

    This is the bounded-state alternative to the exact
    ``percentile``/``quantile_cont`` (see ``stats_median``): exact
    percentiles sort each group; this is O(n_bins) state per group and
    mergeable across epochs/partitions — the 10^10-row path.  ``lo``/
    ``hi`` are caller-supplied plan constants (a prior min/max pass or
    domain knowledge), so the whole derivation is deterministic.
    """
    if not quantiles:
        raise ValueError("histogram_quantiles: empty quantile list")
    width = (hi - lo) / float(n_bins)
    bins = histogram_bins(df, value_col, lo, hi, n_bins)
    # running totals over <= n_bins rows: the window input is the sketch,
    # never the data
    from pyspark.sql import Window

    w = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = bins.select(
        "bin",
        "c",
        (F.sum("c").over(w) - F.col("c")).alias("cum_before"),
        F.sum("c").over(w).alias("cum"),
    )
    total = bins.agg(F.sum("c").alias("n"))
    out = None
    for q in quantiles:
        k = F.greatest(
            F.lit(1).cast("long"),
            F.ceil(F.lit(float(q)) * F.col("n")).cast("long"),
        )
        hit = (
            cum.crossJoin(F.broadcast(total))
            .filter(
                (F.col("cum_before") < k) & (k <= F.col("cum"))
            )
            .select(
                F.lit(float(q)).alias("q"),
                k.alias("k"),
                "bin",
                "cum_before",
                F.col("c").alias("bin_count"),
                F.round(
                    F.lit(lo)
                    + (
                        F.col("bin").cast("double")
                        + (k - F.col("cum_before")).cast("double")
                        / F.col("c").cast("double")
                    )
                    * F.lit(width),
                    6,
                ).alias("est"),
            )
        )
        out = hit if out is None else out.unionByName(hit)
    return out


# --------------------------------------------------------------------------
# KMV (bottom-k / K-Minimum-Values) distinct sketch with set operations
# --------------------------------------------------------------------------

KMV_HASH_HEX = 12                 # 12 hex chars -> 48-bit hash
KMV_HASH_SPACE = 1 << (4 * KMV_HASH_HEX)


def _kmv_hash(key: Column) -> Column:
    """48-bit uniform hash: first 12 hex chars of md5, base-16 parsed.
    48 bits fit a BIGINT exactly in both Spark and DuckDB (the DuckDB
    replay is ``('0x' || substr(md5(k),1,12))::BIGINT``), so every
    estimate below is integer arithmetic — no float in the sketch."""
    return F.conv(
        F.substring(F.md5(key.cast("string")), 1, KMV_HASH_HEX), 16, 10
    ).cast("long")


def kmv_sketch(
    df: DataFrame, key_col: str, k: int = 256,
    set_col: Optional[str] = None,
) -> DataFrame:
    """The sketch STATE: the *k* smallest distinct 48-bit key hashes
    (``(set_id?, h)``, <= k rows per set) — Beyer et al., SIGMOD '07.

    HLL (above) merges under UNION only; KMV additionally supports
    INTERSECTION (and difference, by inclusion-exclusion) because the
    sketch keeps the hash VALUES: for any x in the union's bottom-k,
    x ∈ A  ⇔  x ∈ sketch(A) — if x ∈ A were missing from sketch(A),
    then k smaller hashes of A would precede x in the union, so x
    could not be in the union's bottom-k.  Membership is therefore an
    exact equi-join between tiny sketch tables.

    Scale shape: the distinct() collapses to 16-byte digests with a
    map-side partial (digest-only exchange); the bottom-k per set is a
    ``row_number <= k`` rank filter, which Spark 3.5+ executes as a
    WindowGroupLimit *Partial* below the exchange — every map task
    emits at most k rows per set, so the final sort sees O(k ·
    partitions) rows no matter the input size.  With no *set_col* the
    same bound comes from TakeOrderedAndProject.  Sketches persist as
    plain rows in the checkpoint metrics table and merge across epochs
    by re-ranking the unioned rows (a semilattice, like HLL's max).
    """
    h = _kmv_hash(F.col(key_col)).alias("h")
    if set_col is None:
        return df.select(h).distinct().orderBy("h").limit(k)
    from pyspark.sql import Window

    hashes = df.select(F.col(set_col).alias("set_id"), h).distinct()
    w = Window.partitionBy("set_id").orderBy("h")
    return (
        hashes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("set_id", "h")
    )


def kmv_set_ops(
    a: DataFrame, b: DataFrame, key_col: str, k: int = 256,
    audit: bool = True,
) -> DataFrame:
    """Cross-epoch set algebra from two bottom-k sketches: estimate
    ``|A ∪ B|``, the Jaccard resemblance and ``|A ∩ B|`` of two crawl
    epochs' URL sets from O(k) state per epoch — the question HLL
    registers cannot answer (union-only semilattice; see
    :func:`hll_merge`).  "How many of last epoch's URLs did we see
    again?" at 10^10-frontier scale is this operator over the persisted
    per-epoch sketches.

    One summary row, all BIGINT: ``(k_used, h_k, union_est, matches,
    jaccard_ppm, inter_est[, n_exact_union, n_exact_inter])``::

        union sketch = bottom-k of sketch(A) ∪ sketch(B)   (re-rank)
        union_est    = (k_used-1)·2^48 div h_k             (exact if <k)
        matches      = |{x ∈ union-k : x ∈ sketch(A) ∧ x ∈ sketch(B)}|
        jaccard_ppm  = 10^6·matches div k_used
        inter_est    = matches·union_est div k_used

    The membership test against the per-set sketches is exact (see
    :func:`kmv_sketch`).  *audit=True* appends exact distinct counts
    computed from the raw inputs — an O(distinct keys) digest shuffle
    that verifies the estimator at test scale; disable it at 10^10
    (the sketch path alone is three joins over <= 3k rows).
    """
    ska = kmv_sketch(a, key_col, k)
    skb = kmv_sketch(b, key_col, k)
    sku = ska.unionByName(skb).distinct().orderBy("h").limit(k)
    agg = sku.agg(
        F.count(F.lit(1)).alias("k_used"), F.max("h").alias("h_k")
    )
    matches = (
        sku.join(ska, "h", "semi").join(skb, "h", "semi")
        .agg(F.count(F.lit(1)).alias("matches"))
    )
    est = (
        agg.crossJoin(F.broadcast(matches))
        .select(
            "k_used",
            "h_k",
            F.when(F.col("k_used") < F.lit(k), F.col("k_used"))
            .otherwise(
                F.expr(f"(k_used - 1) * {KMV_HASH_SPACE}L div h_k")
            )
            .cast("long")
            .alias("union_est"),
            "matches",
        )
        .select(
            "k_used",
            "h_k",
            "union_est",
            "matches",
            F.expr("1000000 * matches div k_used")
            .cast("long")
            .alias("jaccard_ppm"),
            F.expr("matches * union_est div k_used")
            .cast("long")
            .alias("inter_est"),
        )
    )
    if not audit:
        return est
    ka, kb = F.col(key_col).cast("string"), F.col(key_col).cast("string")
    da = a.select(ka.alias("x")).distinct()
    db = b.select(kb.alias("x")).distinct()
    exu = da.unionByName(db).distinct().agg(
        F.count(F.lit(1)).alias("n_exact_union")
    )
    exi = da.join(db, "x", "semi").agg(
        F.count(F.lit(1)).alias("n_exact_inter")
    )
    return est.crossJoin(F.broadcast(exu)).crossJoin(F.broadcast(exi))


def kmv_oracle_sql(
    a_sql: str, b_sql: str, key_expr: str, k: int = 256
) -> str:
    """DuckDB replay of :func:`kmv_set_ops` (audit=True): same 48-bit
    md5 slice, same bottom-k ranks, same integer estimator."""
    h = f"('0x' || substr(md5(({key_expr})::varchar), 1, 12))::BIGINT"
    return f"""
with a as ({a_sql}), b as ({b_sql}),
ska as (select distinct {h} h from a order by h limit {k}),
skb as (select distinct {h} h from b order by h limit {k}),
sku as (select h from (select h from ska union select h from skb)
        order by h limit {k}),
agg as (select count(*)::BIGINT k_used, max(h)::BIGINT h_k from sku),
m as (select count(*)::BIGINT matches from sku
      where h in (select h from ska) and h in (select h from skb)),
est as (select k_used, h_k,
        (case when k_used < {k} then k_used
              else (k_used - 1) * {KMV_HASH_SPACE} // h_k
         end)::BIGINT union_est, matches
        from agg cross join m),
exu as (select count(*)::BIGINT n_exact_union from
        (select distinct ({key_expr})::varchar x from a
         union select distinct ({key_expr})::varchar from b)),
exi as (select count(*)::BIGINT n_exact_inter from
        (select distinct ({key_expr})::varchar x from a) ia
        where x in (select distinct ({key_expr})::varchar from b))
select k_used, h_k, union_est, matches,
       (1000000 * matches // k_used)::BIGINT jaccard_ppm,
       (matches * union_est // k_used)::BIGINT inter_est,
       n_exact_union, n_exact_inter
from est cross join exu cross join exi
"""
