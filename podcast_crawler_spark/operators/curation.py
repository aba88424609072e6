"""Corpus-curation operators beyond dedup: repetition filtering,
benchmark decontamination, PII redaction, paragraph-level dedup,
sequence packing, seeded global shuffle.

These are the remaining standard passes of a web-text training-data
pipeline (Gopher §A.1.1 repetition rules, GPT-3/PaLM-style benchmark
decontamination, pre-release PII scrubbing).  Reference anchor: the
crawler's own sanitize/validate stage (`feed_parser/mod.rs:118-141`
rejects empty/invalid text per-item) — these operators are the
corpus-level generalization of that per-item hygiene.

Scale design, same contract as :mod:`textstats`:

- ``repetition_scores`` and ``pii_scrub`` are pure column expressions —
  whole-stage codegen, zero shuffle, O(bytes scanned), embarrassingly
  parallel at 100 TB.  Repetition n-gram statistics are computed over
  the first ``max_tokens`` tokens (default 256) so the per-document
  array work is bounded (≤ max_tokens² comparisons) regardless of
  document length — the standard truncation used by production quality
  classifiers.
- ``contamination`` joins the corpus against a benchmark n-gram set.
  The default path explodes corpus grams and BROADCAST-hash-semi-joins
  the benchmark gram table (the lookup hash is built once per task;
  only per-doc hit counts cross the exchange, map-side combined).
  That holds while the benchmark gram set fits in a broadcast (~10^7
  grams ≈ 300 MB of md5 strings); for larger benchmark suites pass
  ``broadcast_bench=False`` to switch to a shuffle semi-join keyed by
  gram hash (corpus-sized map output, benchmark-sized build side).
- ``pack_shards`` needs a GLOBAL prefix sum over the corpus — the one
  curation primitive a naive ``Window.orderBy`` turns into a single
  task holding every row.  It is implemented as the classic two-phase
  distributed scan over order-aligned buckets: ``bkt = (id - min_id)
  // width`` is monotonic in the order key, so every row of bucket b
  precedes every row of bucket b+1 and a per-bucket windowed cumsum is
  a *local* prefix sum.  The bucket window's own hash exchange is the
  single corpus-size shuffle in the plan; the windowed rows are cached
  (4 longs/row) so both consumers read one shuffle write, and the B
  per-bucket totals (B ≈ shuffle partitions, metadata-scale) fold into
  exclusive bucket offsets under a B-row window and broadcast back.
  ``global_shuffle`` rides the same scan with val = 1 (prefix COUNT =
  global rank) over md5-digest order, its buckets cut from the digest's
  own hex prefix — uniform by construction, no range sampling.

Every operator is deterministic arithmetic/regex over the text, so the
ANSI-SQL oracles reproduce it bit-for-bit (Java and RE2 regex semantics
coincide on the conservative character-class patterns used here).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Conservative PII patterns valid (and identical) in Java regex and RE2.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def _tokens(text: Column, max_tokens: int) -> Column:
    return F.slice(
        F.filter(F.split(text, " "), lambda t: F.length(t) > 0), 1, max_tokens
    )


def _grams(toks: Column, n: int) -> Column:
    """Token n-grams as joined strings; a doc shorter than *n* tokens
    yields its single (short) whole-doc gram — same convention as
    :func:`textstats.fingerprints`."""
    return F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )


def repetition_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    max_tokens: int = 256,
) -> DataFrame:
    """Gopher-style repetition features over token *n*-grams:

    - ``n_grams`` / ``n_distinct`` — gram count and distinct-gram count
    - ``dup_ngram_frac`` — fraction of grams that repeat an earlier gram
    - ``top_ngram_count`` / ``top_ngram_frac`` — occurrences and mass of
      the single most frequent gram (the "most common 2-gram fraction"
      rule used to drop looping/boilerplate pages)

    All array expressions (no explode, no shuffle).  The top-gram count
    is a sort + one run-length pass over the sorted gram array —
    O(g log g) per document.  (A nested ``transform(distinct,
    filter(grams, ...))`` formulation is O(g³): higher-order-function
    lambdas re-evaluate the captured gram-construction expression per
    outer element, which measured ~10× slower.)
    """
    toks = _tokens(F.col(text_col), max_tokens)
    staged = df.select(
        F.col(id_col).alias("id"), _grams(toks, n).alias("grams")
    )
    grams = F.col("grams")
    # Longest run in the sorted array == max gram multiplicity.  The
    # accumulator's prev starts NULL so the first element always takes
    # the otherwise(1) branch (x == NULL is NULL, never true).
    top_count = F.aggregate(
        F.array_sort(grams),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc.best,
                F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )
    n_grams = F.size(grams)
    n_distinct = F.size(F.array_distinct(grams))
    return staged.select(
        "id",
        n_grams.alias("n_grams"),
        n_distinct.alias("n_distinct"),
        F.round((n_grams - n_distinct) / n_grams, 6).alias("dup_ngram_frac"),
        top_count.alias("top_ngram_count"),
        F.round(top_count / n_grams, 6).alias("top_ngram_frac"),
    )


def contamination(
    df: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    max_tokens: int = 256,
    broadcast_bench: bool = True,
) -> DataFrame:
    """Benchmark decontamination: ``(id, n_contaminated, contaminated)``
    — per corpus document, the number of DISTINCT token *n*-grams it
    shares with *bench* (any document of the benchmark set), and whether
    that is > 0.  Grams are md5-hashed so only 16-byte digests travel.

    Both paths explode the corpus grams once and count hits per doc
    (hit rows only cross the exchange — map-side combined, never the
    text).  The broadcast path (default) hash-joins against the
    broadcast benchmark gram table, so the lookup structure is built
    once per task; a ``collect_set``-into-``array_intersect``
    formulation rebuilds that hash set per ROW (ArrayIntersect's set is
    keyed on the row's arrays) and measured ~5× slower at sf0.1.
    ``broadcast_bench=False`` switches to a shuffle semi-join for
    benchmark suites too large to broadcast; both paths are
    equality-tested.
    """
    doc_grams = F.transform(
        _grams(_tokens(F.col(text_col), max_tokens), n), F.md5
    )
    docs = df.select(F.col(id_col).alias("id"), doc_grams.alias("gr"))
    bench_grams = bench.select(
        F.explode(F.transform(_grams(_tokens(F.col(text_col), max_tokens), n), F.md5)).alias("g")
    ).distinct()
    if broadcast_bench:
        bench_grams = F.broadcast(bench_grams)
    exploded = docs.select("id", F.explode_outer(F.array_distinct("gr")).alias("g"))
    counts = (
        exploded.join(bench_grams, "g", "left_semi")
        .groupBy("id")
        .agg(F.count("*").alias("n_hit"))
    )
    # the join back to the full id list prunes `gr`, so this second
    # corpus scan reads only the id column — no gram recompute
    hit = (
        docs.select("id")
        .join(counts, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("int").alias("n_contaminated"),
        )
    )
    return hit.withColumn("contaminated", F.col("n_contaminated") > 0)


def pii_scrub(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Redact emails, US-style phone numbers and IPv4 literals:
    ``(id, redacted, n_emails, n_phones, n_ips)``.

    Emails are replaced first (their domain part could otherwise be
    re-matched as an IPv4), then IPs, then phones.  Counts are taken on
    the original text.  Pure regex column expressions — map-side only.
    """
    text = F.col(text_col)
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(text, EMAIL_RE, "<EMAIL>"), IPV4_RE, "<IP>"
        ),
        PHONE_RE,
        "<PHONE>",
    )
    return df.select(
        F.col(id_col).alias("id"),
        redacted.alias("redacted"),
        F.regexp_count(text, F.lit(EMAIL_RE)).alias("n_emails"),
        F.regexp_count(text, F.lit(PHONE_RE)).alias("n_phones"),
        F.regexp_count(text, F.lit(IPV4_RE)).alias("n_ips"),
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n\n",
    min_dup: int = 2,
) -> DataFrame:
    """Sub-document (paragraph-level) exact dedup, RefinedWeb/C4 style:
    drop every paragraph whose EXACT text occurs in ≥ ``min_dup``
    documents-positions corpus-wide (boilerplate: cookie banners, nav
    menus, subscribe footers), reassemble the survivors in original
    order.  ``(id, clean_text, n_paras, n_dropped, dup_frac)``.

    *sep* is both the split pattern (Java regex — pass a literal) and
    the rejoin separator.

    Scale shape: paragraphs are the shuffle unit, not documents —
    ``posexplode(split(...))`` is narrow; global paragraph counts group
    16-byte md5 digests (map-side combine, digest-only traffic); then
    one digest-keyed join (paragraph text crosses the exchange once)
    and one ``groupBy(doc)`` reassembly (text crosses once more).  Two
    text exchanges total is the canonical reassembly cost; a giant
    document dilutes into many paragraph rows, so doc-size skew does
    not concentrate on one task.  At 10^10 docs the digest count table
    is the only global state and it is never collected.
    """
    paras = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("idx", "para"),
    ).withColumn("digest", F.md5("para"))
    counts = paras.groupBy("digest").agg(F.count("*").alias("cnt"))
    joined = paras.join(counts, "digest")
    parts = F.sort_array(F.collect_list(F.struct("idx", "para", "cnt")))
    keep = F.filter(parts, lambda p: p["cnt"] < min_dup)
    n_paras = F.count("*")
    n_dropped = F.sum((F.col("cnt") >= min_dup).cast("long"))
    return joined.groupBy("id").agg(
        F.array_join(
            F.transform(keep, lambda p: p["para"]), sep
        ).alias("clean_text"),
        n_paras.alias("n_paras"),
        n_dropped.alias("n_dropped"),
        F.round(n_dropped / n_paras, 6).alias("dup_frac"),
    )


def _bucketed_prefix_sum(
    df: DataFrame, val_col: str, order_cols: list,
    extra_val_cols: tuple = (),
) -> DataFrame:
    """Two-phase distributed prefix sum over order-aligned buckets — the
    shared core of :func:`pack_shards` and :func:`global_shuffle`.

    *df* must carry a non-null LONG ``bkt`` column that is monotonic in
    ``order_cols`` (every row of bucket b precedes every row of bucket
    b+1 in the global order).  Phase 1 computes the within-bucket
    inclusive running sum of *val_col* under ``Window.partitionBy("bkt")``
    — its hashpartitioning(bkt) exchange is the only corpus-size shuffle,
    and each task sorts only its bucket.  The windowed rows are
    ``.cache()``-ed (same convention as the dedup shingle index):
    Catalyst's ReuseExchange would serve the totals branch from the
    shuffle write when the input is a bare file scan, but AQE fails to
    match the stages when the input is itself a cached relation
    (TableCacheQueryStage breaks stage-reuse canonicalization in Spark
    4.x), and an explicit cache guarantees one scan + one corpus shuffle
    in ALL cases.  Phase 2 folds the B per-bucket totals —
    ``max(local_cum)`` per bucket, an exchange-free aggregation because
    the cached rows are already hash-partitioned by bkt — into exclusive
    bucket offsets under a B-row window and broadcast-joins them back.

    Returns the cached rows plus ``local_cum`` and ``bkt_offset``; the
    global inclusive prefix sum is ``bkt_offset + local_cum``.

    *extra_val_cols* threads additional value columns through the SAME
    window pass and offset fold at zero extra exchanges (one window
    frame computes all running sums; the B-row fold aggregates all
    totals): each ``v`` yields ``local_cum__v`` / ``bkt_offset__v``.
    The WARC export sink uses this to carry the record-count prefix
    (shard assignment) and the byte prefix (record offsets) in one scan.
    """
    local_w = (
        Window.partitionBy("bkt")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = df.withColumn("local_cum", F.sum(val_col).over(local_w))
    for v in extra_val_cols:
        local = local.withColumn(f"local_cum__{v}", F.sum(v).over(local_w))
    # EAGER fill (PLANS.md eager-truncation discipline): offsets ride a
    # broadcast, and a broadcast subtree executes as a concurrent job —
    # with a cold lazy cache both it and the final join's probe side
    # would run the corpus window pass independently
    local = local.cache()
    local.count()
    offsets_w = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    aggs = [F.max("local_cum").alias("bkt_total")] + [
        F.max(f"local_cum__{v}").alias(f"bkt_total__{v}")
        for v in extra_val_cols
    ]
    offsets = local.groupBy("bkt").agg(*aggs).withColumn(
        "bkt_offset",
        F.coalesce(F.sum("bkt_total").over(offsets_w), F.lit(0)),
    )
    for v in extra_val_cols:
        offsets = offsets.withColumn(
            f"bkt_offset__{v}",
            F.coalesce(F.sum(f"bkt_total__{v}").over(offsets_w), F.lit(0)),
        )
    offsets = offsets.select(
        "bkt", "bkt_offset",
        *[f"bkt_offset__{v}" for v in extra_val_cols],
    )
    return local.join(F.broadcast(offsets), "bkt")


def _id_range_buckets(
    staged: DataFrame, lo, hi, num_partitions: int | None = None
) -> DataFrame:
    """*staged* plus the order-aligned ``bkt`` column
    :func:`_bucketed_prefix_sum` needs, for a non-null LONG ``id`` order
    key: ``bkt = (id - lo) // width``, with *width* sized so about
    *num_partitions* buckets (default: the session's shuffle partitions)
    cover ``[lo, hi]``, the caller's min/max of ``id`` (``lo`` None means
    empty input).  The bucket step of :func:`pack_shards` and the archive
    sinks (``sources/warc.py``)."""
    if num_partitions is None:
        num_partitions = int(
            staged.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
    if lo is None:  # empty input
        lo, width = 0, 1
    else:
        width = max((hi - lo) // num_partitions + 1, 1)
    # coalesce makes bkt provably non-nullable (the cast alone is not)
    return staged.withColumn(
        "bkt",
        F.coalesce(
            ((F.col("id") - F.lit(lo)) / F.lit(width)).cast("long"), F.lit(0)
        ),
    )


def pack_shards(
    df: DataFrame,
    budget: int = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Concatenate-and-chunk sequence packing: lay the corpus out in
    deterministic ``id_col`` order, take the exclusive prefix sum of
    whitespace token counts as each document's ``start_offset`` in the
    concatenated token stream, and assign ``shard_id = start_offset //
    budget`` — the training block a document STARTS in (the standard LM
    concat-packing convention; a document longer than *budget* simply
    runs into the following blocks).  Returns
    ``(id, n_tokens, start_offset, shard_id)``.

    This is the one curation pass that needs a global ordered scan, so
    the implementation is a two-phase distributed prefix sum instead of
    a single-task ``Window.orderBy``:

    1. bucket each row by ``bkt = (id - min_id) // width`` — monotonic
       in the order key (every row of bucket b precedes every row of
       bucket b+1), with *width* sized so B ≈ ``num_partitions``
       buckets cover the id span.  ``min_id``/``max_id`` come from one
       metadata-cheap min/max aggregate (parquet column stats), the
       same dim-probe budget as the IVF centroid sample.
    2./3. the two-phase scan of :func:`_bucketed_prefix_sum` — one
       corpus-size hashpartitioning(bkt) exchange, cached windowed rows
       (so the totals branch never re-scans or re-tokenizes), B-row
       offset fold, broadcast join back.

    At 10^10 documents every row moves through exactly one exchange;
    the only ``SinglePartition`` exchange carries B rows (asserted in
    ``tests/test_curation.py::test_pack_shards_plan``); the cached
    intermediate is 4 longs/row, far smaller than the text corpus, and
    spills via MEMORY_AND_DISK.  Bucket balance equals id-density
    balance: dense ids or uniform hash ids spread evenly; pass a larger
    *num_partitions* to shrink buckets if the id domain is lumpy.
    Fully deterministic — no sampling anywhere.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    toks = F.filter(F.split(F.col(text_col), " "), lambda t: F.length(t) > 0)
    # non-null order key: _bucketed_prefix_sum requires a non-null bkt
    staged = df.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("id"), F.size(toks).cast("long").alias("n_tokens")
    )
    lo, hi = staged.agg(F.min("id"), F.max("id")).first()
    bucketed = _id_range_buckets(staged, lo, hi, num_partitions)
    start = F.col("bkt_offset") + F.col("local_cum") - F.col("n_tokens")
    return _bucketed_prefix_sum(bucketed, "n_tokens", ["id"]).select(
        "id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        start.alias("start_offset"),
        (start / F.lit(budget)).cast("long").alias("shard_id"),
    )


def global_shuffle(
    df: DataFrame,
    seed: int = 42,
    id_col: str = "doc_id",
    bucket_chars: int = 3,
    rows_per_file: int = 8192,
) -> DataFrame:
    """Deterministic seeded full-corpus shuffle: assign every document
    its 0-based position in the pseudorandom permutation ordered by
    ``md5(id || ':' || seed)`` (ties broken by id), plus the output file
    it lands in (``out_file = shuffle_pos // rows_per_file``) — the
    standard data-order pass before LM training, where examples must be
    globally shuffled but bit-for-bit reproducibly so a run can resume
    mid-epoch.  Returns ``(id, shuffle_pos, out_file)``.

    md5 (not xxhash64) is the order key for the same reason
    :mod:`sampling` uses it: DuckDB computes the identical lowercase-hex
    digest, so the oracle reproduces the permutation exactly.

    A naive ``row_number() over (order by m)`` is a single task sorting
    the corpus; this instead rides :func:`_bucketed_prefix_sum` counting
    rows (val = 1, so the inclusive prefix sum at a row is its 1-based
    global rank): the bucket key is the first *bucket_chars* hex chars
    of the digest — a PREFIX of the order key, hence monotonic in it —
    and digests are uniform, so the 16^bucket_chars buckets are balanced
    by construction (no min/max probe, no sampling; at 10^10 docs the
    default 4096 buckets hold ~2.4M rows each, a per-task sort that
    spills fine).  One corpus-size exchange total, B-row offset fold,
    same plan shape asserted for ``pack_shards``.
    """
    if not 1 <= bucket_chars <= 8:
        raise ValueError(f"bucket_chars must be in [1,8], got {bucket_chars}")
    if rows_per_file <= 0:
        raise ValueError(f"rows_per_file must be positive, got {rows_per_file}")
    m = F.md5(
        F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}"))
    )
    bucketed = df.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("id"), m.alias("m"), F.lit(1).alias("one")
    ).withColumn(
        "bkt",
        F.coalesce(
            F.conv(F.substring("m", 1, bucket_chars), 16, 10).cast("long"),
            F.lit(0),
        ),
    )
    pos = F.col("bkt_offset") + F.col("local_cum") - 1
    return _bucketed_prefix_sum(bucketed, "one", ["m", "id"]).select(
        "id",
        pos.cast("long").alias("shuffle_pos"),
        F.floor(pos / F.lit(rows_per_file)).cast("long").alias("out_file"),
    )


def export_manifest(
    df: DataFrame,
    seed: int = 42,
    id_col: str = "doc_id",
    text_col: str = "text",
    rows_per_file: int = 8192,
    bucket_chars: int = 3,
) -> DataFrame:
    """The training-export MANIFEST: one row per output shard file of a
    :func:`global_shuffle` data-order pass — ``(out_file, n_docs,
    first_pos, last_pos, n_tokens, n_bytes, content_fp)`` — what a
    training job reads to plan epochs, resume mid-run, and detect a
    corrupted/missing shard before step 1 (every serious export format
    ships one: WebDataset ``.json`` sidecars, Iceberg manifests,
    tfrecord index files).

    ``content_fp`` is an ORDER-INDEPENDENT integer fingerprint — the
    sum of a 48-bit slice of ``md5(id || ':fp')`` over the file's
    members (48 bits × ≤2^14 rows per file stays far under BIGINT, and
    a plain sum is partitioning-invariant where a hash-of-concat is
    not) — so two exports disagree on ANY file's membership with
    probability ~2^-48 per file, and the check is a per-file integer
    compare.

    Scale shape: the permutation rides ``global_shuffle`` (one
    corpus-size exchange); token/byte stats join back on id (narrow
    columns only), and the rollup is one map-side-combined groupBy with
    ~n/rows_per_file output rows.
    """
    assign = global_shuffle(df, seed, id_col, bucket_chars, rows_per_file)
    toks = F.size(
        F.filter(F.split(F.col(text_col), " "), lambda x: F.length(x) > 0)
    )
    body = df.select(
        F.col(id_col).alias("id"),
        toks.cast("long").alias("_tok"),
        F.octet_length(F.col(text_col)).cast("long").alias("_byt"),
        F.conv(
            F.substring(
                F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":fp"))),
                1,
                12,
            ),
            16,
            10,
        ).cast("long").alias("_fp"),
    )
    return (
        assign.join(body, "id")
        .groupBy("out_file")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("shuffle_pos").alias("first_pos"),
            F.max("shuffle_pos").alias("last_pos"),
            F.sum("_tok").alias("n_tokens"),
            F.sum("_byt").alias("n_bytes"),
            F.sum("_fp").alias("content_fp"),
        )
    )


def length_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_bucket: int = 16,
    max_bucket: int = 4096,
) -> DataFrame:
    """Length-bucketed batching stats: assign every document to the
    power-of-two token-length bucket that would hold it, and report the
    padding economics per bucket — ``(bucket_cap, n_docs, total_tokens,
    padded_tokens, waste_pct)``.  The planning table behind batched
    inference / padded training (docs in a batch pad to the longest;
    bucketing by pow-2 caps bounds waste at <50% — this table says what
    it actually is, per bucket, so the serving layer can split or merge
    buckets).  Complements :func:`pack_shards` (concat-packing wastes
    nothing but destroys doc boundaries; padding keeps boundaries and
    this measures its cost).

    ``bucket_cap = clamp(2^ceil(log2(n_tokens)), min_bucket,
    max_bucket)`` with ceil-log2 as EXACT integer arithmetic
    (``length(bin(n-1))`` — the ``_bitlen`` discipline of
    ``textstats.lm_surprisal``; no libm, so every engine agrees at
    powers of two).  Docs longer than ``max_bucket`` land in the
    ``max_bucket`` bucket with ``padded < total`` (they'd be truncated
    — visible as negative-waste accounting rather than hidden).

    Scale shape: token count + bucket id are map-side; ONE tiny
    aggregation (≤ log2(max/min)+1 groups) with map-side combine.
    """
    toks = F.split(F.col(text_col), " ")
    n_tok = F.size(F.filter(toks, lambda t: F.length(t) > 0))
    per_doc = df.select(
        F.col(id_col).alias("id"),
        n_tok.cast("long").alias("n_tokens"),
    ).select(
        "id",
        "n_tokens",
        F.expr(
            "least(greatest(shiftleft(1L,"
            " case when n_tokens <= 1 then 0"
            " else length(bin(n_tokens - 1)) end),"
            f" {min_bucket}L), {max_bucket}L)"
        ).alias("bucket_cap"),
    )
    return (
        per_doc.groupBy("bucket_cap")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
        .select(
            "bucket_cap",
            "n_docs",
            "total_tokens",
            (F.col("n_docs") * F.col("bucket_cap"))
            .cast("long")
            .alias("padded_tokens"),
            F.expr(
                "(100 * (n_docs * bucket_cap - total_tokens))"
                " div (n_docs * bucket_cap)"
            ).alias("waste_pct"),
        )
    )


def length_buckets_oracle_sql(
    docs_sql: str, min_bucket: int = 16, max_bucket: int = 4096
) -> str:
    """DuckDB recomputation of :func:`length_buckets` — same integer
    ceil-log2 (binary-string length) and padding arithmetic."""
    return f"""
        with docs as (select * from ({docs_sql}) t),
        d as (select id,
                     len(list_filter(string_split(text, ' '),
                                     x -> length(x) > 0))::BIGINT n
              from docs),
        b as (select id, n,
                     least(greatest(
                       (1::BIGINT << (case when n <= 1 then 0
                          else length(bin(n - 1)) end)),
                       {min_bucket}), {max_bucket})::BIGINT bucket_cap
              from d)
        select bucket_cap,
               count(*)::BIGINT n_docs,
               sum(n)::BIGINT total_tokens,
               (count(*) * bucket_cap)::BIGINT padded_tokens,
               ((100 * (count(*) * bucket_cap - sum(n)))
                // (count(*) * bucket_cap))::BIGINT waste_pct
        from b group by 1
    """


def curriculum_interleave(
    df: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
    stride_scale: int = 1_000_000,
) -> DataFrame:
    """Deterministic cross-source interleave for training order: each
    source's docs are ranked by hash (a reproducible within-source
    shuffle), then spread evenly over a common [0, stride_scale) axis —
    ``interleave_key = ((rank-1) · stride_scale + stride_scale/2) div
    n_source`` — so reading in ``(interleave_key, source, rank)`` order
    yields every source at its proportional cadence from the very first
    batch (a 1%-share source appears ~every 100 docs, not after 99% of
    training).  The standard fix for source-blocked training order
    (curriculum/mixing literature; :func:`global_shuffle` randomizes
    globally, this STRATIFIES the randomness by source share).

    Output: ``(id, source, src_rank, n_source, interleave_key)``.
    Total order = (interleave_key, source, src_rank) — engine-exact.

    Scale shape: one window per source partition (rank by md5 — the
    ``sampling.topk_sample`` shuffle unit), one tiny per-source count
    broadcast back via the same window (no second exchange: count is
    a window aggregate over the same key), map-side key arithmetic.
    """
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("id").cast("string")), F.col("id")
    )
    wc = Window.partitionBy("source")
    return (
        df.select(
            F.col(id_col).alias("id"), F.col(source_col).alias("source")
        )
        .withColumn("src_rank", F.row_number().over(w))
        .withColumn("n_source", F.count(F.lit(1)).over(wc))
        .select(
            "id",
            "source",
            "src_rank",
            F.col("n_source").cast("long").alias("n_source"),
            F.expr(
                f"((src_rank - 1) * {stride_scale}L"
                f" + {stride_scale}L div 2) div n_source"
            ).alias("interleave_key"),
        )
    )


def interleave_oracle_sql(
    rows_sql: str, stride_scale: int = 1_000_000
) -> str:
    """DuckDB recomputation of :func:`curriculum_interleave` over any
    ``(id, source)`` subquery."""
    return f"""
        with r as (select * from ({rows_sql}) t),
        w as (select id, source,
                     row_number() over (partition by source
                       order by md5(id::varchar), id) src_rank,
                     count(*) over (partition by source) n_source
              from r)
        select id, source, src_rank::INT src_rank,
               n_source::BIGINT n_source,
               (((src_rank - 1) * {stride_scale}
                 + {stride_scale} // 2) // n_source)::BIGINT
                 interleave_key
        from w
    """


def split_leakage(
    df: DataFrame,
    key_col: str,
    text_col: str = "text",
    val_pct: int = 5,
    test_pct: int = 5,
) -> DataFrame:
    """Cross-split contamination audit: exact-duplicate CONTENT that
    lands in more than one of train/val/test.  Deterministic hash
    splits (``sampling.dataset_split``) are leakage-safe only in the
    KEY — two byte-identical documents with different keys still split
    apart, and a val/test doc whose twin sits in train inflates every
    metric trained on the corpus (the reason Lee et al. '22 dedup
    before splitting, and why ``dataset_split`` recommends group keys).
    This operator measures exactly that residual risk.

    Output: one row per leaked digest — ``(content_md5, n_docs,
    n_splits, splits)`` with ``splits`` the sorted comma-joined split
    names.  Empty result = clean corpus.

    Scale shape: split assignment and the md5 are map-side; ONE
    exchange carries (16-byte digest, split) pairs with map-side
    partial aggregation; the leak filter prunes before any further
    consumer.  Same digest-shuffle discipline as ``dedup.exact_dups``.
    """
    from .sampling import dataset_split

    assigned = dataset_split(df, key_col, val_pct=val_pct,
                             test_pct=test_pct)
    return (
        assigned.withColumn("content_md5", F.md5(F.col(text_col)))
        .groupBy("content_md5")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("split").alias("n_splits"),
            F.array_join(
                F.sort_array(F.collect_set("split")), ","
            ).alias("splits"),
        )
        .filter(F.col("n_splits") > 1)
    )


def split_leakage_oracle_sql(
    rows_sql: str,
    key_col: str,
    text_col: str = "text",
    val_pct: int = 5,
    test_pct: int = 5,
) -> str:
    """DuckDB replay of :func:`split_leakage` — the dataset_split
    bucket rule, md5 digests, and the cross-split aggregation."""
    test_lo = 10000 - 100 * test_pct
    val_lo = test_lo - 100 * val_pct
    return f"""
        WITH d AS (SELECT * FROM ({rows_sql})),
        s AS (
            SELECT *,
                   ('0x' || substr(md5({key_col}::VARCHAR), 1, 8))::BIGINT
                       % 10000 AS b
            FROM d
        ),
        a AS (
            SELECT md5({text_col}) AS content_md5,
                   CASE WHEN b >= {test_lo} THEN 'test'
                        WHEN b >= {val_lo} THEN 'val'
                        ELSE 'train' END AS split
            FROM s
        )
        SELECT content_md5, COUNT(*) AS n_docs,
               COUNT(DISTINCT split) AS n_splits,
               string_agg(DISTINCT split, ',' ORDER BY split) AS splits
        FROM a
        GROUP BY content_md5
        HAVING COUNT(DISTINCT split) > 1
    """


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 128,
    overlap: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sliding-window document chunking — the retrieval/embedding unit
    pass (RAG indexing, long-doc embedding): windows of *chunk_tokens*
    whitespace tokens advancing by ``chunk_tokens − overlap``, so
    consecutive chunks share *overlap* tokens and no boundary sentence
    is lost to a hard cut.  Differs from :func:`pack_shards` (which
    CONCATENATES docs into training blocks; this SPLITS docs into
    retrieval units, order-free).

    Output one row per chunk: ``(id, chunk_idx, start_tok,
    n_tokens_chunk, chunk_md5)`` — the digest, not the text, so the
    exchange stays narrow; join back on (id, start_tok) when the text
    is needed.  Empty docs yield no rows; the final window is the
    clipped tail (never dropped — RefinedWeb-style tail loss is a real
    recall bug in naive chunkers).

    Map-side only: tokenize → ``sequence`` of window starts →
    ``transform`` + explode; zero shuffle at any corpus size.  Exact
    SQL oracle (same token rule, same window arithmetic).
    """
    if chunk_tokens <= overlap:
        raise ValueError(
            f"chunk_tokens ({chunk_tokens}) must exceed overlap ({overlap})"
        )
    step = chunk_tokens - overlap
    toks = F.filter(
        F.split(F.col(text_col), " "), lambda t: F.length(t) > 0
    )
    staged = df.select(
        F.col(id_col).alias("id"), toks.alias("toks")
    ).withColumn("n", F.size("toks")).filter(F.col("n") > 0)
    starts = F.sequence(
        F.lit(0), F.col("n") - 1, F.lit(step)
    )
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            s.alias("start_tok"),
            F.slice(F.col("toks"), s + 1, chunk_tokens).alias("ch"),
        ),
    )
    ex = staged.select(
        "id", F.explode(chunks).alias("c")
    ).select(
        "id",
        F.col("c.start_tok").cast("long").alias("start_tok"),
        F.col("c.ch").alias("ch"),
    )
    return ex.select(
        "id",
        F.expr(f"start_tok div {step}").alias("chunk_idx"),
        "start_tok",
        F.size("ch").cast("long").alias("n_tokens_chunk"),
        F.md5(F.array_join("ch", " ")).alias("chunk_md5"),
    )


def chunk_oracle_sql(
    docs_sql: str, chunk_tokens: int = 128, overlap: int = 32
) -> str:
    """DuckDB replay of :func:`chunk_documents` over (id, text)."""
    step = chunk_tokens - overlap
    return f"""
        WITH t AS (
            SELECT id,
                   list_filter(string_split(text, ' '),
                               x -> len(x) > 0) AS toks
            FROM ({docs_sql}) d
        ),
        n AS (
            SELECT id, toks, len(toks) AS n FROM t WHERE len(toks) > 0
        ),
        s AS (
            SELECT id, toks, n,
                   unnest(range(0, n, {step})) AS start_tok
            FROM n
        ),
        c AS (
            SELECT id, start_tok,
                   toks[start_tok + 1 : start_tok + {chunk_tokens}] AS ch
            FROM s
        )
        SELECT id, (start_tok // {step})::BIGINT AS chunk_idx,
               start_tok::BIGINT AS start_tok,
               len(ch)::BIGINT AS n_tokens_chunk,
               md5(array_to_string(ch, ' ')) AS chunk_md5
        FROM c
    """


def benchmark_overlap(
    df: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    max_tokens: int = 256,
) -> DataFrame:
    """Leakage audit in the REVERSE direction of :func:`contamination`:
    for each BENCHMARK document, what fraction (ppm) of its distinct
    token *n*-grams appears anywhere in the training corpus?
    ``contamination`` answers "which training docs must I drop";
    this answers "how compromised is each eval item if I drop nothing"
    — the per-benchmark-item overlap report of the GPT-3 appendix-C /
    PaLM-style contamination studies, and the number a leaderboard
    needs per task before trusting a score.

    Output: ``(bid, n_grams, n_found, found_ppm, leaked)`` with
    ``found_ppm = 10^6 · n_found div n_grams`` (integer) and one row
    per benchmark doc (docs shorter than *n* tokens audit their single
    whole-doc gram).

    Scale shape — the corpus never shuffles: benchmark grams (the small
    side by definition) broadcast into a semi-join that restricts the
    corpus gram stream BEFORE any exchange, so the only shuffled rows
    are corpus grams that ALREADY match a benchmark gram (bounded by
    |bench grams| distinct values); those collapse to one row per
    distinct matched gram (map-side combined).  The matched set — at
    most the benchmark gram count — is then eagerly truncated and
    broadcast back into the per-benchmark-doc count, so the corpus
    pass runs exactly once.  Grams travel as md5 digests.
    """
    bg = bench.select(
        F.col(id_col).alias("bid"),
        F.explode(
            F.array_distinct(
                F.transform(
                    _grams(_tokens(F.col(text_col), max_tokens), n), F.md5
                )
            )
        ).alias("g"),
    )
    # distinct benchmark grams: bounded by the benchmark corpus size
    bench_gram_set = bg.select("g").distinct()
    corpus_grams = df.select(
        F.explode(
            F.array_distinct(
                F.transform(
                    _grams(_tokens(F.col(text_col), max_tokens), n), F.md5
                )
            )
        ).alias("g")
    )
    # one corpus pass: broadcast-restrict, then collapse to distinct
    # matched grams.  Eager truncation (the matched set is consumed by
    # a broadcast below — a concurrent subquery job would otherwise
    # re-run the corpus scan).
    matched = (
        corpus_grams.join(F.broadcast(bench_gram_set), "g", "left_semi")
        .distinct()
        .localCheckpoint(eager=True)
    )
    totals = bg.groupBy("bid").agg(F.count(F.lit(1)).alias("n_grams"))
    founds = (
        bg.join(F.broadcast(matched), "g", "left_semi")
        .groupBy("bid")
        .agg(F.count(F.lit(1)).alias("n_found"))
    )
    return (
        totals.join(founds, "bid", "left")
        .select(
            "bid",
            "n_grams",
            F.coalesce(F.col("n_found"), F.lit(0)).cast("long").alias(
                "n_found"
            ),
        )
        .select(
            "bid",
            F.col("n_grams").cast("long").alias("n_grams"),
            "n_found",
            F.expr("(1000000 * n_found) div n_grams").alias("found_ppm"),
            (F.col("n_found") > 0).alias("leaked"),
        )
    )


# C4 line-level cleaning (Raffel et al. 2020, §2.2): the canonical
# web-text cleaning pass.  Terminal punctuation marks accepted at line
# end; the page-level poison strings; the minimum kept-line count.
C4_TERMINALS = (".", "!", "?", '"')


def c4_clean(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words_per_line: int = 5,
    min_kept_lines: int = 3,
) -> DataFrame:
    """The C4 cleaning pass as one codegen projection: per-LINE rules
    (keep only lines ending in terminal punctuation, with at least
    ``min_words_per_line`` words, and not mentioning "javascript"),
    then per-PAGE rules (drop any page containing "lorem ipsum" or a
    curly brace, or retaining fewer than ``min_kept_lines`` lines).

    Output per document: ``(id, n_lines, n_kept, kept, reason,
    clean_md5)`` — ``reason`` is the FIRST matching drop rule in C4's
    published order (``lorem_ipsum``, ``brace``, ``too_few_lines``) or
    NULL for kept pages, and ``clean_md5`` hashes the newline-joined
    kept lines (NULL when dropped), so the transform itself — not just
    the decision — is oracle-checked.

    Scale shape: pure per-row expressions (split, filter lambda,
    array_join, md5) — zero exchanges, whole-stage codegen, linear in
    bytes scanned; composes with any partitioning.  Case-insensitive
    matching via one ``lower()`` per line/page, exactly as the C4
    reference implementation.
    """
    text = F.col(text_col)
    lines = F.split(text, "\n")
    is_kept = (
        lambda ln: F.length(ln).isNotNull()
        & F.substring(ln, -1, 1).isin(*C4_TERMINALS)
        & (
            F.size(F.filter(F.split(ln, " "), lambda t: F.length(t) > 0))
            >= int(min_words_per_line)
        )
        & ~F.lower(ln).contains("javascript")
    )
    kept_lines = F.filter(lines, is_kept)
    n_lines = F.size(lines)
    n_kept = F.size(kept_lines)
    low = F.lower(text)
    reason = (
        F.when(low.contains("lorem ipsum"), F.lit("lorem_ipsum"))
        .when(low.contains("{"), F.lit("brace"))
        .when(n_kept < int(min_kept_lines), F.lit("too_few_lines"))
    )
    kept = reason.isNull()
    return df.select(
        F.col(id_col).alias("id"),
        n_lines.cast("int").alias("n_lines"),
        n_kept.cast("int").alias("n_kept"),
        kept.alias("kept"),
        reason.alias("reason"),
        F.when(kept, F.md5(F.array_join(kept_lines, "\n"))).alias(
            "clean_md5"
        ),
    )


def c4_oracle_sql(
    docs_sql: str, min_words_per_line: int = 5, min_kept_lines: int = 3
) -> str:
    """DuckDB recomputation of :func:`c4_clean` over any subquery with
    ``(id, text)`` — the same line predicate, page rules in the same
    order, and the md5 of the identical kept-line join."""
    w, m = int(min_words_per_line), int(min_kept_lines)
    terms = ", ".join(f"'{t}'" for t in C4_TERMINALS)
    return f"""
        WITH d AS (SELECT id, text, string_split(text, chr(10)) ls
                   FROM ({docs_sql}) t),
        k AS (SELECT id, text, len(ls)::INT n_lines,
                     list_filter(ls, ln ->
                       right(ln, 1) IN ({terms})
                       AND len(list_filter(string_split(ln, ' '),
                                           x -> len(x) > 0)) >= {w}
                       AND NOT contains(lower(ln), 'javascript')) kl
              FROM d)
        SELECT id, n_lines, len(kl)::INT n_kept,
               CASE WHEN contains(lower(text), 'lorem ipsum') THEN false
                    WHEN contains(lower(text), '{{') THEN false
                    WHEN len(kl) < {m} THEN false
                    ELSE true END kept,
               CASE WHEN contains(lower(text), 'lorem ipsum')
                      THEN 'lorem_ipsum'
                    WHEN contains(lower(text), '{{') THEN 'brace'
                    WHEN len(kl) < {m} THEN 'too_few_lines'
               END reason,
               CASE WHEN NOT contains(lower(text), 'lorem ipsum')
                     AND NOT contains(lower(text), '{{')
                     AND len(kl) >= {m}
                    THEN md5(array_to_string(kl, chr(10))) END clean_md5
        FROM k
    """


# Gopher quality rules (Rae et al. 2021, appendix A1.1) — the other
# canonical web-text filter besides C4.  Thresholds are kept in the
# exact cross-multiplied integer form so both engines decide every rule
# identically (no float ratios anywhere).
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """The Gopher quality filter as one codegen projection: word count
    in ``[min_words, max_words]``, mean word length in [3, 10], hash /
    ellipsis symbol-to-word ratio ≤ 0.1, ≤ 10% of lines bullet-led,
    < 30% of lines ellipsis-ended, ≥ 80% of words containing an
    alphabetic character, and ≥ 2 of the 8 Gopher stopwords present.

    Output: ``(id, n_words, n_lines, kept, reason)`` with ``reason``
    the FIRST failing rule in the paper's order (``word_count``,
    ``mean_word_len``, ``symbol_ratio``, ``bullet_lines``,
    ``ellipsis_lines``, ``alpha_words``, ``stopwords``) or NULL.

    Every ratio threshold is evaluated in cross-multiplied integer
    arithmetic (e.g. ellipsis < 30% of lines ⇔ ``10·n_ellipsis <
    3·n_lines``), so the decision — not a rounded approximation of it —
    is what the DuckDB oracle replays.  Zero exchanges; linear in bytes
    scanned.
    """
    text = F.col(text_col)
    words = F.filter(F.split(text, "[ \n]"), lambda t: F.length(t) > 0)
    lines = F.split(text, "\n")
    n_words = F.size(words)
    n_lines = F.size(lines)
    sum_word_chars = F.aggregate(
        words, F.lit(0), lambda acc, w: acc + F.length(w)
    )
    n_hash = F.length(text) - F.length(F.regexp_replace(text, "#", ""))
    n_ell = (
        F.length(text) - F.length(F.regexp_replace(text, r"\.\.\.", ""))
    ) / F.lit(3)
    n_ell = n_ell.cast("long")
    n_bullet = F.size(F.filter(lines, lambda ln: ln.startswith("- ")))
    n_ell_lines = F.size(F.filter(lines, lambda ln: ln.endswith("...")))
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    n_stop = sum(
        F.array_contains(words, w).cast("int") for w in GOPHER_STOPWORDS
    )
    reason = (
        F.when(
            (n_words < int(min_words)) | (n_words > int(max_words)),
            F.lit("word_count"),
        )
        .when(
            (sum_word_chars < 3 * n_words) | (sum_word_chars > 10 * n_words),
            F.lit("mean_word_len"),
        )
        .when(10 * (n_hash + n_ell) > n_words, F.lit("symbol_ratio"))
        .when(10 * n_bullet > n_lines, F.lit("bullet_lines"))
        .when(10 * n_ell_lines >= 3 * n_lines, F.lit("ellipsis_lines"))
        .when(5 * n_alpha < 4 * n_words, F.lit("alpha_words"))
        .when(n_stop < 2, F.lit("stopwords"))
    )
    return df.select(
        F.col(id_col).alias("id"),
        n_words.cast("long").alias("n_words"),
        n_lines.cast("long").alias("n_lines"),
        reason.isNull().alias("kept"),
        reason.alias("reason"),
    )


def gopher_oracle_sql(
    docs_sql: str, min_words: int = 50, max_words: int = 100_000
) -> str:
    """DuckDB recomputation of :func:`gopher_rules` over any subquery
    with ``(id, text)`` — identical integer cross-multiplied rules in
    the identical order."""
    stop_sum = " + ".join(
        f"list_contains(w, '{s}')::INT" for s in GOPHER_STOPWORDS
    )
    return f"""
        WITH d AS (
          SELECT id, text,
                 list_filter(string_split_regex(text, '[ \n]'),
                             x -> len(x) > 0) w,
                 string_split(text, chr(10)) ls
          FROM ({docs_sql}) t),
        m AS (
          SELECT id,
                 len(w)::BIGINT n_words,
                 len(ls)::BIGINT n_lines,
                 list_sum(list_transform(w, x -> len(x)))::BIGINT swc,
                 (len(text) - len(replace(text, '#', '')))::BIGINT n_hash,
                 ((len(text) - len(replace(text, '...', ''))) // 3)::BIGINT
                   n_ell,
                 len(list_filter(ls, ln -> starts_with(ln, '- ')))::BIGINT
                   n_bullet,
                 len(list_filter(ls, ln -> ends_with(ln, '...')))::BIGINT
                   n_ell_lines,
                 len(list_filter(w,
                     x -> regexp_matches(x, '[A-Za-z]')))::BIGINT n_alpha,
                 ({stop_sum})::BIGINT n_stop
          FROM d)
        SELECT id, n_words, n_lines,
               reason IS NULL AS kept, reason
        FROM (
          SELECT *,
                 CASE
                   WHEN n_words < {int(min_words)}
                     OR n_words > {int(max_words)} THEN 'word_count'
                   WHEN swc < 3 * n_words OR swc > 10 * n_words
                     THEN 'mean_word_len'
                   WHEN 10 * (n_hash + n_ell) > n_words
                     THEN 'symbol_ratio'
                   WHEN 10 * n_bullet > n_lines THEN 'bullet_lines'
                   WHEN 10 * n_ell_lines >= 3 * n_lines
                     THEN 'ellipsis_lines'
                   WHEN 5 * n_alpha < 4 * n_words THEN 'alpha_words'
                   WHEN n_stop < 2 THEN 'stopwords'
                 END reason
          FROM m) r
    """


def host_template_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    host_col: str = "host",
    min_frac_ppm: int = 500_000,
    min_docs: int = 2,
    sep: str = "\n",
) -> DataFrame:
    """Per-host template-line removal — the boilerplate stage
    :func:`paragraph_dedup` cannot express: a line is chrome because it
    repeats across the pages of ITS host (nav bars, cookie banners,
    footer legalese appear on 90%+ of a site's pages), not because it
    is globally frequent.  A host's "subscribe" footer on 48 of its 50
    pages is template even if no other site shares the string; a
    globally common sentence quoted once on a 10k-page site is not.
    This is the site-template heuristic behind production web-text
    extractors (the cross-page frequency signal in boilerplate removal
    à la Gibson/Punera/Tomkins '05 template detection), applied at line
    granularity.  Reference anchor: the Rust parser strips per-feed
    constant chrome inline (parser/mod.rs sanitize path); a corpus
    engine must learn it per host instead.

    Rule (integer, replayable): line L is template on host h iff
    ``docs_containing(h, L) >= min_docs`` AND
    ``docs_containing(h, L) * 1_000_000 >= min_frac_ppm * n_docs(h)``.
    Containment is per DISTINCT doc, so a line repeated inside one page
    doesn't vote twice.  Output per doc:
    ``(id, host, n_lines, n_template, template_ppm, clean_md5)`` where
    ``clean_md5`` hashes the surviving lines rejoined with *sep* in
    original order — the transform itself is what the oracle checks.

    Scale shape: same two-text-exchange discipline as
    :func:`paragraph_dedup` — ``posexplode`` is narrow; the per-host
    doc-frequency table groups 16-byte digests keyed ``(host, digest)``
    (map-side combine after a distinct over ``(host, digest, id)``);
    the template set is the tiny high-frequency tail of that table (a
    host has ~dozens of template lines), joined back digest-keyed (line
    text crosses the exchange once) before the ``groupBy(doc)``
    reassembly (text crosses once more).  Host-size skew dilutes into
    line rows; ``n_docs`` per host is an O(hosts) broadcast.
    """
    lines = df.select(
        F.col(id_col).alias("id"),
        F.col(host_col).alias("host"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("idx", "line"),
    ).withColumn("digest", F.md5("line"))
    host_docs = df.groupBy(F.col(host_col).alias("host")).agg(
        F.countDistinct(id_col).alias("n_docs")
    )
    dfh = (
        lines.select("host", "digest", "id")
        .distinct()
        .groupBy("host", "digest")
        .agg(F.count("*").alias("dfh"))
    )
    tmpl = (
        dfh.join(F.broadcast(host_docs), "host")
        .filter(
            (F.col("dfh") >= int(min_docs))
            & (F.col("dfh") * 1_000_000 >= int(min_frac_ppm) * F.col("n_docs"))
        )
        .select("host", "digest", F.lit(True).alias("is_tmpl"))
    )
    flagged = lines.join(tmpl, ["host", "digest"], "left").withColumn(
        "is_tmpl", F.coalesce(F.col("is_tmpl"), F.lit(False))
    )
    parts = F.sort_array(F.collect_list(F.struct("idx", "line", "is_tmpl")))
    keep = F.filter(parts, lambda p: ~p["is_tmpl"])
    n_lines = F.count("*")
    n_template = F.sum(F.col("is_tmpl").cast("long"))
    return flagged.groupBy("id", "host").agg(
        n_lines.alias("n_lines"),
        n_template.alias("n_template"),
        F.expr("1000000 * sum(cast(is_tmpl as long)) div count(*)").alias(
            "template_ppm"
        ),
        F.md5(
            F.array_join(F.transform(keep, lambda p: p["line"]), sep)
        ).alias("clean_md5"),
    )


def host_template_oracle_sql(
    docs_sql: str,
    min_frac_ppm: int = 500_000,
    min_docs: int = 2,
) -> str:
    """DuckDB replay of :func:`host_template_lines` (sep = newline):
    parallel ``unnest`` zips line and position, the per-host distinct
    doc-frequency and the cross-multiplied template rule are literal,
    and ``clean_md5`` is rebuilt via an ordered ``string_agg`` over the
    surviving lines (NULL-skipping = the filter; coalesce keeps the
    all-template doc at ``md5('')`` like Spark's empty array_join).
    *docs_sql* must yield (id, host, text)."""
    return f"""
        WITH base AS ({docs_sql}),
        lines AS (
          SELECT id, host,
                 unnest(range(1, len(ln) + 1)) - 1 AS idx,
                 unnest(ln) AS line
          FROM (SELECT id, host, string_split(text, chr(10)) ln
                FROM base) s
        ),
        l AS (SELECT *, md5(line) digest FROM lines),
        hd AS (SELECT host, count(DISTINCT id)::BIGINT n_docs
               FROM base GROUP BY host),
        dfh AS (SELECT host, digest, count(DISTINCT id)::BIGINT dfh
                FROM l GROUP BY host, digest),
        tmpl AS (
          SELECT host, digest FROM dfh JOIN hd USING (host)
          WHERE dfh >= {int(min_docs)}
            AND dfh * 1000000 >= {int(min_frac_ppm)} * n_docs
        ),
        fl AS (
          SELECT l.id, l.host, l.idx, l.line,
                 (t.digest IS NOT NULL) AS is_tmpl
          FROM l LEFT JOIN tmpl t
            ON l.host = t.host AND l.digest = t.digest
        )
        SELECT id, host,
               count(*)::BIGINT AS n_lines,
               sum(CASE WHEN is_tmpl THEN 1 ELSE 0 END)::BIGINT
                   AS n_template,
               (1000000 * sum(CASE WHEN is_tmpl THEN 1 ELSE 0 END)
                   // count(*))::BIGINT AS template_ppm,
               md5(coalesce(
                   string_agg(CASE WHEN NOT is_tmpl THEN line END,
                              chr(10) ORDER BY idx), '')) AS clean_md5
        FROM fl GROUP BY id, host
    """


def filter_agreement(
    df: DataFrame,
    gate_cols: tuple = ("gate_a", "gate_b", "gate_c"),
) -> DataFrame:
    """Pairwise agreement audit between quality filters — Cohen's
    kappa in exact ppm for every unordered pair of boolean gate
    columns.  The pipeline-governance question behind stacking C4 +
    Gopher + a classifier: raw agreement is inflated when both gates
    pass almost everything; kappa corrects for chance, and a
    low-kappa pair means the filters encode DIFFERENT quality notions
    (union/intersection choices change the corpus materially), while
    kappa ≈ 1 means one gate is redundant.

    Exact integer form (no float ever crosses an engine): with n docs,
    ``a`` both-pass, ``d`` both-fail, marginals ``p1/q1``,
    ``kappa = (n·(a+d) − p1·q1 − p0·q0) / (n² − p1·q1 − p0·q0)``
    — numerator and denominator are exact BIGINT products, reported as
    ``kappa_ppm = 1e6·num div den`` (NULL when the denominator is 0:
    both gates constant, kappa undefined).  ``agree_ppm`` is the raw
    ``1e6·(a+d) div n``.

    Scale shape: ONE map-side-combined aggregate over the corpus
    computes every pair's four confusion cells simultaneously (sums of
    boolean products — pure codegen); the k·(k−1)/2 result rows
    materialize from a literal pair list.  Nothing but the counts
    crosses the exchange.
    """
    n = F.count("*").cast("long")
    aggs = [n.alias("n")]
    names = list(gate_cols)
    for c in names:
        aggs.append(F.sum(F.col(c).cast("long")).alias(f"__t_{c}"))
    for i, ca in enumerate(names):
        for cb in names[i + 1:]:
            both = F.sum(
                (F.col(ca) & F.col(cb)).cast("long")
            ).alias(f"__b_{ca}_{cb}")
            aggs.append(both)
    tot = df.agg(*aggs)
    pairs = []
    for i, ca in enumerate(names):
        for cb in names[i + 1:]:
            nn = F.col("n")
            p1 = F.col(f"__t_{ca}")
            q1 = F.col(f"__t_{cb}")
            n11 = F.col(f"__b_{ca}_{cb}")
            n10 = p1 - n11
            n01 = q1 - n11
            n00 = nn - p1 - q1 + n11
            den = nn * nn - p1 * q1 - (nn - p1) * (nn - q1)
            # `div` (Spark) and `//` (DuckDB) both truncate toward
            # zero, so a negative kappa divides identically cross-engine
            agree_ppm = F.expr(
                f"1000000 * (__b_{ca}_{cb} + n - __t_{ca} - __t_{cb}"
                f" + __b_{ca}_{cb}) div n"
            )
            kappa_ppm = F.when(den == 0, F.lit(None).cast("long")).otherwise(
                F.expr(
                    f"1000000 * (n * (2 * __b_{ca}_{cb} + n - __t_{ca}"
                    f" - __t_{cb}) - __t_{ca} * __t_{cb}"
                    f" - (n - __t_{ca}) * (n - __t_{cb}))"
                    f" div (n * n - __t_{ca} * __t_{cb}"
                    f" - (n - __t_{ca}) * (n - __t_{cb}))"
                )
            )
            pairs.append(F.struct(
                F.lit(ca).alias("filter_a"),
                F.lit(cb).alias("filter_b"),
                nn.alias("n"),
                n11.alias("n11"),
                n10.alias("n10"),
                n01.alias("n01"),
                n00.alias("n00"),
                agree_ppm.cast("long").alias("agree_ppm"),
                kappa_ppm.cast("long").alias("kappa_ppm"),
            ))
    return tot.select(
        F.explode(F.array(*pairs)).alias("p")
    ).select("p.*")


def agreement_oracle_sql(docs_sql: str, gate_cols: tuple) -> str:
    """DuckDB replay of :func:`filter_agreement`: one aggregate over
    the gated docs, pair rows via UNION ALL, identical integer kappa
    (``//`` and Spark's ``div`` both truncate toward zero, so negative
    kappas divide identically).  *docs_sql* must yield the boolean
    *gate_cols*."""
    names = list(gate_cols)
    sums = ", ".join(
        [f"count(*)::BIGINT n"]
        + [f"sum(CASE WHEN {c} THEN 1 ELSE 0 END)::BIGINT t_{c}"
           for c in names]
        + [f"sum(CASE WHEN {a} AND {b} THEN 1 ELSE 0 END)::BIGINT b_{a}_{b}"
           for i, a in enumerate(names) for b in names[i + 1:]]
    )
    selects = []
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            selects.append(f"""
        SELECT '{a}' AS filter_a, '{b}' AS filter_b, n,
               b_{a}_{b}::BIGINT AS n11,
               (t_{a} - b_{a}_{b})::BIGINT AS n10,
               (t_{b} - b_{a}_{b})::BIGINT AS n01,
               (n - t_{a} - t_{b} + b_{a}_{b})::BIGINT AS n00,
               (1000000 * (2 * b_{a}_{b} + n - t_{a} - t_{b}) // n
               )::BIGINT AS agree_ppm,
               CASE WHEN n * n - t_{a} * t_{b}
                         - (n - t_{a}) * (n - t_{b}) = 0 THEN NULL
                    ELSE 1000000 * (n * (2 * b_{a}_{b} + n - t_{a} - t_{b})
                          - t_{a} * t_{b} - (n - t_{a}) * (n - t_{b}))
                         // (n * n - t_{a} * t_{b}
                             - (n - t_{a}) * (n - t_{b}))
               END::BIGINT AS kappa_ppm
        FROM s""")
    body = "\n        UNION ALL\n".join(selects)
    return f"""
        WITH d AS ({docs_sql}),
        s AS (SELECT {sums} FROM d)
        {body}
    """


def self_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
) -> DataFrame:
    """Within-document exact line dedup, keep-FIRST-occurrence — the
    intra-page repetition cleaner (scraped pages repeat nav blocks,
    "read more" stubs and list fragments inside one page; LM training
    then memorizes the repeat).  Complements the corpus-level passes:
    :func:`paragraph_dedup` counts across documents,
    :func:`host_template_lines` across a host's pages — this one never
    looks outside the row, so it is a pure column expression: zero
    shuffle, whole-stage codegen, embarrassingly parallel at 100 TB.

    ``(id, n_lines, n_dupes, clean_md5)`` where the clean text keeps
    every line whose position is its digest's FIRST occurrence,
    original order preserved, rejoined with *sep* (md5-compared by the
    oracle, so the transform itself is checked).

    Per-doc cost is O(L²) in the LINE count (array_position scan per
    line) — bounded by lines-per-page, the same discipline as
    :func:`repetition_scores`' max_tokens² note; a page is thousands
    of lines at most, not corpus-sized.
    """
    lines = F.split(F.col(text_col), sep)
    digs = F.transform(lines, F.md5)
    staged = df.select(
        F.col(id_col).alias("id"),
        lines.alias("ln"),
        digs.alias("dg"),
    )
    keep = F.filter(
        F.col("ln"),
        lambda x, i: F.array_position(F.col("dg"), F.md5(x)) == i + 1,
    )
    return staged.select(
        "id",
        F.size("ln").cast("long").alias("n_lines"),
        (F.size("ln") - F.size(keep)).cast("long").alias("n_dupes"),
        F.md5(F.array_join(keep, sep)).alias("clean_md5"),
    )


def self_dedup_oracle_sql(docs_sql: str) -> str:
    """DuckDB replay of :func:`self_dedup` (sep = newline): the same
    first-occurrence-by-digest rule via a range comprehension over the
    line list.  *docs_sql* must yield (id, text)."""
    return f"""
        WITH base AS ({docs_sql}),
        s AS (
          SELECT id, string_split(text, chr(10)) ln,
                 [md5(x) for x in string_split(text, chr(10))] dg
          FROM base
        ),
        k AS (
          SELECT id, ln, dg,
                 [ln[i] for i in range(1, len(ln) + 1)
                  if list_position(dg, dg[i]) = i] kept
          FROM s
        )
        SELECT id,
               len(ln)::BIGINT AS n_lines,
               (len(ln) - len(kept))::BIGINT AS n_dupes,
               md5(array_to_string(kept, chr(10))) AS clean_md5
        FROM k
    """
