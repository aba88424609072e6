"""Document deduplication operators for a web-scale training-data pipeline.

The crawl engine's output (podcast show notes / extracted page text) feeds
LLM-training corpora, so dedup is a first-class operator family here, built
Spark-first:

- **Exact dedup** — md5(text) hash-groupBy. One shuffle on a 16-byte key;
  at 100 TB this is the cheapest possible full-corpus pass (the shuffle
  carries only ``(hash, doc_id)``, never the text).
- **N-gram Jaccard** — exact pairwise similarity via an *inverted index*
  join on shingles (NOT a cross join): ``explode(shingles) → self-join on
  shingle → count common → |A∩B|/|A∪B|``.  Common-shingle frequency cap
  keeps the index join from quadratic blowup on stop-shingles (standard
  web-dedup practice; at 10^9 docs the cap is what makes this tractable).
- **MinHash + LSH** — the scale path: 64-perm signatures computed entirely
  JVM-side (``min(xxhash64(shingle, seed_i))`` partial aggregation — one
  shuffle, map-side combine, no Python), banded into LSH buckets, candidate
  pairs generated per bucket, then **exactly verified** with true Jaccard so
  false positives never survive (mirrors the bloom-then-anti-join discipline
  of the URL-seen set, ``operators/seen.py``).
- **SimHash** — 32-bit signatures from md5-derived token hashes (md5 so a
  SQL oracle can reproduce them bit-for-bit), weighted by term frequency;
  near-dup pairs via banded chunks + hamming verification with
  ``bit_count(xor)``.
- **Embedding cosine near-dup** — see ``operators/similarity.py``.

Every operator returns a DataFrame and stays inside whole-stage codegen
(built-in functions only; zero Python UDFs in this module).

Reference parity note: the reference's only dedup is upsert-on-conflict-key
(``/root/reference/src/infrastructure/persistence/repositories/
podcast_repository.rs:178-183,212-218``); these operators generalize that
idempotence discipline to content-level dedup as required for the
training-data pipeline tier.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

# Tokenization contract shared with the DuckDB oracles: documents.text is
# space-separated lowercase words, so a plain split is exact (no regex
# dialect drift between Java regex and RE2).
def tokens(text: Column) -> Column:
    return F.split(text, " ")


def shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
             n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document: ``(id, shingle)``.

    Built from the token array with ``transform(sequence(...))`` — stays in
    codegen; the explode is the only row blowup (~n_tokens rows/doc).
    """
    tok = tokens(F.col(text_col))
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(tok) - n, F.lit(0))),
        lambda i: F.array_join(F.slice(tok, i + 1, n), " "),
    )
    # array_distinct BEFORE the explode is the whole dedup: each (id,
    # shingle) row is already unique, so no post-explode .distinct() —
    # that would be a full shuffle of every shingle string for nothing
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(F.array_distinct(grams)).alias("shingle"),
        )
        .filter(F.length("shingle") > 0)
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: ``(text_md5, keep_id, dup_count)``.

    ``keep_id = min(id)`` is the canonical survivor (deterministic across
    partitionings).  Only groups with >1 member are returned — the rows a
    training pipeline would drop.  Shuffle key is the 16-byte digest, so the
    exchange is tiny even when ``text`` is megabytes.
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("text_md5"), F.col(id_col).alias("id"))
        .groupBy("text_md5")
        .agg(F.min("id").alias("keep_id"), F.count("*").alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


def incremental_exact(
    new_docs: DataFrame,
    corpus_digests: Optional[DataFrame],
    text_col: str = "text",
    id_col: str = "doc_id",
    num_shards: int = 32,
    expected_keys: Optional[int] = None,
) -> DataFrame:
    """Exact dedup of a NEW batch against an already-ingested corpus —
    the steady-state form of :func:`exact_dedup` for a pipeline that
    ingests crawl batches forever and must not re-scan 10^10 docs per
    batch.  Returns the fresh survivors (all new-doc columns +
    ``text_md5``): first occurrence within the batch (min id per digest)
    AND text not present in *corpus_digests* (a table with a
    ``text_md5`` column — e.g. the running digest log of everything
    ingested).  ``corpus_digests=None`` means first batch: within-batch
    dedup only.

    Scale shape — the same discipline as the URL seen-set
    (``operators/seen.py``, reference semantics
    `podcast_repository.rs:178-183` upsert keys):

    - within-batch keep-first: one digest-keyed shuffle of the batch.
    - corpus membership: bloom-shard pre-filter on an int64 key DERIVED
      from the digest (``xxhash64(text_md5)``) — shard filters built and
      probed on executors (``build_bloom_shards`` /
      ``bloom_probe_partitioned``), so definite-new docs (the vast
      majority of a typical batch) never touch the corpus table at all;
      only the bloom-maybes (O(batch · fpp + overlap) rows) exact-verify
      with a ``left_anti`` on the FULL 128-bit digest.  A derived-key
      collision therefore costs one extra verify row, never a wrong
      answer.  The corpus side of that verify is a digest-column-only
      scan; store the digest log bucketed on ``text_md5`` (the
      ``sources/bucketed.py`` lever) and it joins with no corpus
      shuffle.  In steady state the shard filters are PERSISTED and
      folded incrementally (``update_bloom_shards``) rather than
      rebuilt — the same pattern ``plans/epoch.py`` wires for URL
      admissions.
    - the survivors' ``text_md5`` column is exactly what the caller
      appends to *corpus_digests* (and folds into persisted shards with
      ``update_bloom_shards``) for the next batch.
    """
    from . import seen as seenmod

    d = new_docs.withColumn("text_md5", F.md5(F.col(text_col)))
    w = Window.partitionBy("text_md5").orderBy(F.col(id_col))
    firsts = (
        d.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    if corpus_digests is None:
        return firsts
    k64 = F.xxhash64("text_md5")
    seen_keys = corpus_digests.select(k64.alias("_k64"))
    shards = seenmod.build_bloom_shards(
        seen_keys, "_k64", num_shards, expected_keys
    )
    probed = seenmod.bloom_probe_partitioned(
        firsts.withColumn("_k64", k64), shards, "_k64", num_shards
    )
    definite_new = probed.filter(~F.col("maybe_seen"))
    maybes = probed.filter(F.col("maybe_seen")).join(
        corpus_digests.select("text_md5").distinct(), "text_md5", "left_anti"
    )
    return definite_new.unionByName(maybes).drop("maybe_seen", "_k64")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: Optional[int] = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs ``(id_a, id_b, jaccard)``,
    ``id_a < id_b``, ``jaccard >= threshold``.

    Inverted-index self-join on shingle (hash join on a string key), then
    ``|A∩B|`` by groupBy-count and ``|A∪B| = |A|+|B|-|A∩B|``.
    ``max_shingle_freq`` (default 1000)
    excludes stop-shingles present in more than that many docs from
    *candidate generation only* — a shingle shared by d docs contributes
    d² join rows, so one hot shingle at 10^6 df is a 10^12-row blowup; the
    cap bounds every shingle's contribution at max_shingle_freq².  The
    Jaccard itself is then recomputed over the full *uncapped* sets for
    surviving candidates, so precision is exact; the only recall loss is a
    pair whose ENTIRE overlap above threshold is stop-shingles — at a
    1000-doc frequency cap such a pair is overwhelmingly boilerplate, the
    exact thing web dedup wants to ignore (standard practice, e.g.
    suffix-array/CCNet-style df capping).  Pass ``None`` to force the
    uncapped exact result on small corpora; above ~10^7 docs prefer
    MinHash-LSH below (equal output at threshold, bounded buckets).

    .. versionchanged:: round 2
       ``max_shingle_freq`` default changed ``None`` → ``1000``: the
       exact-by-default contract now excludes pairs whose entire overlap
       above threshold is stop-shingles (df > 1000).  Callers needing the
       old behavior pass ``max_shingle_freq=None`` explicitly.
    """
    # eager truncation, not a lazy cache: the hot probe, both candidate
    # legs, the hot overlap and the set sizes all read the shingles, and
    # a cache entry would stay pinned in the session after the pairs are
    # read (the ContextCleaner frees a checkpoint)
    sh = shingles(df, text_col, id_col, n).localCheckpoint(eager=True)

    cand_src = sh
    hot = None
    if max_shingle_freq is not None:
        # the hot set is tiny by construction (few DISTINCT shingles can
        # exceed the cap) → broadcast it into both the anti-join below and
        # the hot-contribution joins, so the shingle stream never shuffles
        # for the cap bookkeeping
        hot_df = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("df_"))
            .filter(F.col("df_") > max_shingle_freq)
            .select("shingle")
        )
        # eager emptiness probe (one map-side-combine agg over the
        # checkpointed shingles): most corpora have NO hot shingle, and
        # the cap's bookkeeping — anti-join + three hot-overlap joins —
        # measured ~40% overhead at sf0.1 when it all joins empty
        # inputs.  With no hot shingle the capped plan is exactly the
        # uncapped plan.
        if not hot_df.isEmpty():
            hot = F.broadcast(hot_df)
            cand_src = sh.join(hot, "shingle", "left_anti")

    a = cand_src.select(F.col("id").alias("id_a"), "shingle")
    b = cand_src.select(F.col("id").alias("id_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("common"))
    )
    if hot is not None:
        # exact |A∩B| for candidates = cold overlap (just counted) + hot
        # overlap, recomputed ONLY over the hot shingle occurrences —
        # |pairs|·hot-per-doc join rows, not the full-set re-join
        hot_occ = sh.join(hot, "shingle", "left_semi")
        hot_a = hot_occ.select(F.col("id").alias("id_a"), "shingle")
        hot_b = hot_occ.select(F.col("id").alias("id_b"), "shingle")
        hot_common = (
            common.select("id_a", "id_b")
            .join(hot_a, "id_a")
            .join(hot_b, ["id_b", "shingle"])
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("hot_common"))
        )
        common = common.join(hot_common, ["id_a", "id_b"], "left").select(
            "id_a",
            "id_b",
            (
                F.col("common") + F.coalesce(F.col("hot_common"), F.lit(0))
            ).alias("common"),
        )
    return _jaccard_verify(common, sh, threshold)


def _jaccard_verify(common: DataFrame, sh: DataFrame, threshold: float) -> DataFrame:
    """The exact-verification tail of the n-gram and MinHash near-dup
    operators: ``(id_a, id_b, jaccard)`` for the ``(id_a, id_b, common)``
    pairs whose true Jaccard ``common / (|A| + |B| - common)`` over the
    ``(id, shingle)`` sets *sh* reaches *threshold* — filtered on the
    unrounded value, then rounded to 6 dp."""
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    return (
        common.join(sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def _candidate_common(candidates: DataFrame, sh: DataFrame) -> DataFrame:
    """``(id_a, id_b, common)``: each candidate pair's shared-shingle
    count, joined over both docs' full ``(id, shingle)`` rows *sh*."""
    return (
        candidates.join(sh.select(F.col("id").alias("id_a"), "shingle"), "id_a")
        .join(sh.select(F.col("id").alias("id_b"), "shingle"), ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("common"))
    )


def minhash_signatures(
    shingle_df: DataFrame, num_perm: int = 64
) -> DataFrame:
    """64-perm MinHash signatures, entirely JVM-side.

    ``sig_i = min(xxhash64(shingle, i))`` over the doc's shingle set — a
    single groupBy with ``num_perm`` partial-aggregated mins (map-side
    combine ⇒ shuffle carries one row per doc, ``num_perm`` longs wide,
    regardless of document length).  This is the 100 TB path: no Python, no
    signature matrix materialization, one shuffle.
    """
    aggs = [
        F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"h{i}")
        for i in range(num_perm)
    ]
    return shingle_df.groupBy("id").agg(*aggs)


def _lsh_candidates(
    stacked: DataFrame, max_bucket_size: Optional[int]
) -> DataFrame:
    """Candidate pairs from long-form ``(id, band, bh)`` bucket rows.

    Buckets at or under ``max_bucket_size`` expand all-pairs (complete
    candidate recall).  A bucket of d members contributes d² join rows, so
    ONE degenerate bucket — e.g. thousands of boilerplate-identical docs
    sharing every band hash — is a quadratic blowup; oversized buckets
    therefore degrade to **star** candidates (each member paired with the
    bucket's min id): O(d) rows, full connectivity preserved, so the
    downstream connected-components keep/drop decision is unchanged
    (near-dup clusters are quasi-cliques and every star pair still passes
    exact verification).  The only loss is non-star pair *enumeration*
    inside a degenerate bucket — the same df-cap discipline as
    ``max_shingle_freq``.  ``None`` disables the cap."""
    if max_bucket_size is None:
        return _bucket_pairs(stacked).distinct()
    # one exchange on (band, bh); count + min are unbounded-frame window
    # aggregates (no sort) and both branches below reuse the partitioning
    wb = Window.partitionBy("band", "bh")
    sized = stacked.withColumn("bucket_n", F.count("*").over(wb)).withColumn(
        "rep", F.min("id").over(wb)
    )
    pairs_small = _bucket_pairs(sized.filter(F.col("bucket_n") <= max_bucket_size))
    pairs_big = (
        sized.filter(
            (F.col("bucket_n") > max_bucket_size) & (F.col("id") != F.col("rep"))
        )
        .select(F.col("rep").alias("id_a"), F.col("id").alias("id_b"))
    )
    return pairs_small.unionByName(pairs_big).distinct()


def _bucket_pairs(stacked: DataFrame) -> DataFrame:
    """``(id_a, id_b)``, ``id_a < id_b``, once per ``(band, bh)`` bucket
    the two ids share: the all-pairs bucket join.  A pair colliding in
    several bands repeats, so callers ``distinct()``."""
    l = stacked.select(F.col("id").alias("id_a"), "band", "bh")
    r = stacked.select(F.col("id").alias("id_b"), "band", "bh")
    return (
        l.join(r, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )


def _stack_bands(
    sig: DataFrame, num_perm: int, bands: int, sep: str = ","
) -> DataFrame:
    """Signatures -> long-form ``(id, band, bh)`` bucket rows: ``bands``
    bands of ``num_perm/bands`` signature slots each, the band hash a
    16-byte md5 of its *sep*-joined slots.  One explode, no per-band
    re-shuffle."""
    rows_per_band = num_perm // bands
    band_cols = [
        F.md5(
            F.concat_ws(
                sep,
                *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)],
            )
        ).alias(f"b{b}")
        for b in range(bands)
    ]
    banded = sig.select("id", *band_cols)
    return banded.select(
        "id",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), F.col(f"b{b}").alias("bh"))
                for b in range(bands)
            ])
        ).alias("e"),
    ).select("id", F.col("e.band").alias("band"), F.col("e.bh").alias("bh"))


def minhash_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 32,
) -> tuple[DataFrame, DataFrame]:
    """The persistable near-dup index slice for a document batch:
    ``(bands_df, shingles_df)``.

    - ``bands_df = (id, band, bh)`` — ``bands`` rows per doc, the LSH
      probe side.  Persist it bucketed by ``(band, bh)``
      (``sources/bucketed.py``) so a later batch's probe reads only the
      matched buckets and the corpus side never shuffles.
    - ``shingles_df = (id, shingle)`` — the exact-verification side.
      Persist bucketed by ``id`` so verification reads only candidate
      docs' rows.

    A batch's OWN index slice is exactly what gets appended to both
    tables after :func:`incremental_minhash_lsh` — the same
    append-the-survivors discipline as :func:`incremental_exact`.
    """
    sh = shingles(df, text_col, id_col, n)
    return _stack_bands(minhash_signatures(sh, num_perm), num_perm, bands), sh


def incremental_minhash_lsh(
    new_docs: DataFrame,
    corpus_bands: Optional[DataFrame],
    corpus_shingles: Optional[DataFrame],
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 32,
    threshold: float = 0.8,
    max_bucket_size: Optional[int] = 2000,
) -> DataFrame:
    """Near-dup pairs for a NEW crawl batch against an already-indexed
    corpus, without re-signing or re-pairing the corpus — the
    steady-state form of :func:`minhash_lsh_pairs`, mirroring
    :func:`incremental_exact` (reference upsert semantics
    `podcast_repository.rs:178-183`: every ingest checks the running
    store, never the history).  Returns ``(id_a, id_b, jaccard)`` with
    true Jaccard ≥ threshold, ``id_a < id_b``, covering exactly the
    pairs that TOUCH the batch (batch×batch ∪ batch×corpus); corpus-
    internal pairs were emitted when those docs were themselves new, so
    `previous pairs ∪ this result = full-corpus pairs` (pinned by
    test).

    Per-batch cost is O(batch + matched-index rows), never O(corpus):

    - the batch is shingled/signed/banded once (one batch-size shuffle);
    - the corpus index is probed by semi-joining on the batch's distinct
      ``(band, bh)`` keys first — with ``bands_df`` stored bucketed by
      ``(band, bh)`` this is a bucket-pruned scan, and the per-bucket
      member count (for the skew cap) is computed on the RESTRICTED set
      only;
    - corpus buckets larger than ``max_bucket_size`` degrade to their
      min-id representative (star candidates, same connectivity argument
      as ``_lsh_candidates``) so one boilerplate bucket never explodes
      a batch job;
    - exact verification joins shingle rows for candidate ids only
      (corpus side semi-joined on candidates — bucket-pruned when
      ``shingles_df`` is stored bucketed by id).

    ``corpus_bands=None`` (first batch) degrades to within-batch
    :func:`minhash_lsh_pairs` semantics.
    """
    batch_stacked, batch_sh = minhash_index(
        new_docs, text_col, id_col, n, num_perm, bands
    )
    # EAGER lineage truncation, not lazy cache: the final action compiles
    # a plan whose broadcast exchanges run as CONCURRENT subquery jobs,
    # and every such job that still contains the batch-signing scan in
    # its subtree recomputes it — a lazy cache misses for all of them at
    # once (measured: ~12 simultaneous ~8 s signing jobs, 185 s of job
    # time for a 21 s wall).  batch_stacked is O(batch × bands) rows;
    # materializing it once up front makes every downstream consumer
    # (internal pairs, probe keys, cross join, broadcast futures) read
    # the checkpoint instead of re-signing the batch.
    batch_stacked = batch_stacked.localCheckpoint(eager=True)
    internal = _lsh_candidates(batch_stacked, max_bucket_size)
    if corpus_bands is None:
        candidates = internal
        # three consumers (sizes + both common legs) — truncate so the
        # shingle pass runs once, as in the probe branch below
        all_sh = batch_sh.localCheckpoint(eager=True)
    else:
        batch_keys = batch_stacked.select("band", "bh").distinct()
        hits = corpus_bands.join(batch_keys, ["band", "bh"])
        if max_bucket_size is not None:
            per_bucket = hits.groupBy("band", "bh").agg(
                F.count("*").alias("_n"), F.min("id").alias("_rep")
            )
            hits = (
                hits.join(per_bucket, ["band", "bh"])
                .filter(
                    (F.col("_n") <= F.lit(max_bucket_size))
                    | (F.col("id") == F.col("_rep"))
                )
                .drop("_n", "_rep")
            )
        cross = (
            hits.select(F.col("id").alias("cid"), "band", "bh")
            .join(batch_stacked.select(F.col("id").alias("bid"), "band", "bh"),
                  ["band", "bh"])
            .filter(F.col("cid") != F.col("bid"))
            .select(
                F.least("cid", "bid").alias("id_a"),
                F.greatest("cid", "bid").alias("id_b"),
            )
        )
        # O(matched pairs) rows, consumed by cand_ids (broadcast — a
        # concurrent subquery job) AND the common-shingle join: eager
        # checkpoint so the bucket-probe join — the dominant probe cost
        # — runs once, not once per concurrent consumer
        candidates = (
            internal.unionByName(cross).distinct().localCheckpoint(eager=True)
        )
        cand_ids = (
            candidates.select(F.col("id_a").alias("id"))
            .unionByName(candidates.select(F.col("id_b").alias("id")))
            .distinct()
        )
        # Verification reads shingles for CANDIDATE ids only, on both
        # sides: the batch leg too (a batch doc with no collisions
        # contributes nothing to sizes/common), and the corpus leg via
        # a BROADCAST semi-join — cand_ids is O(matched candidates),
        # bounded by the bucket caps, while corpus_shingles is the
        # corpus-scale table; a shuffle semi-join here would exchange
        # every corpus shingle row to filter out all but a few hundred
        # ids.  No distinct() on the union: shingles() rows are unique
        # per (id, shingle) by construction and the two legs' id sets
        # are disjoint (batch vs already-indexed corpus), so a distinct
        # would be a full shuffle of every shingle string for nothing.
        # eager checkpoint for the same reason as `candidates`: three
        # downstream consumers (sizes + both legs of the common join),
        # some of which the optimizer turns into concurrent broadcast
        # jobs — O(matched ids × shingles/doc) rows, bounded by the caps
        all_sh = (
            batch_sh.join(F.broadcast(cand_ids), "id", "left_semi")
            .unionByName(
                corpus_shingles.join(F.broadcast(cand_ids), "id", "left_semi")
            )
            .localCheckpoint(eager=True)
        )
    return _jaccard_verify(
        _candidate_common(candidates, all_sh), all_sh, threshold
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 32,
    threshold: float = 0.8,
    max_bucket_size: Optional[int] = 2000,
) -> DataFrame:
    """MinHash+LSH near-dup pairs, **exactly verified**: returns
    ``(id_a, id_b, jaccard)`` with true Jaccard ≥ threshold.

    Banding: ``bands`` bands of ``num_perm/bands`` rows; a pair collides in
    a band iff that band's hash slice matches.  With 32 bands × 2 rows,
    P(candidate | s=0.8) = 1-(1-0.8²)^32 ≈ 1-6e-15 — recall at the
    threshold is effectively exact, so the verified output equals the exact
    ngram_jaccard_pairs result (this is what the DuckDB oracle checks).
    False positives are killed by the exact verification join, mirroring
    the bloom/anti-join discipline of the URL-seen set (D3).

    Scale: candidate generation shuffles ``bands`` rows per doc keyed by a
    16-byte band hash; per-bucket pair expansion is bounded by
    ``max_bucket_size`` (default 2000): buckets above it contribute
    star-shaped candidates instead of all-pairs (``_lsh_candidates``), so
    one degenerate boilerplate bucket can never go quadratic — the skew
    test pins 1000 identical docs at O(n) candidates.
    """
    # shingles feed signature computation, set sizes AND exact
    # verification — four leaf stages that AQE materializes
    # CONCURRENTLY, so a lazy cache misses for all of them at once and
    # the explode+distinct runs per stage.  Eager truncation instead:
    # one shingle pass, every stage reads the checkpoint (A/B at sf0.1:
    # eager 4.4 s vs lazy-cache 5.5–8.4 s end-to-end; the checkpoint
    # tier spills to local disk when the corpus outgrows executor
    # memory, same scratch budget as the DISK_ONLY discipline)
    sh = shingles(df, text_col, id_col, n).localCheckpoint(eager=True)
    stacked = _stack_bands(minhash_signatures(sh, num_perm), num_perm, bands)
    # O(candidate pairs); truncated so the signature chain (the 64-min
    # groupBy — the expensive job) can't be re-run by the verification
    # stages that join against it
    candidates = _lsh_candidates(stacked, max_bucket_size).localCheckpoint(
        eager=True
    )
    # exact verification: true Jaccard over the full shingle sets
    return _jaccard_verify(_candidate_common(candidates, sh), sh, threshold)


def dedup_clusters(
    pairs: DataFrame,
    max_iters: int = 50,
) -> DataFrame:
    """Connected components over near-dup pairs → ``(id, cluster_id)``
    with ``cluster_id = min(id)`` of the component: the survivor a
    training pipeline keeps while dropping the rest of the cluster.

    Min-label propagation to fixpoint: each node adopts the smallest
    label among itself and its neighbors; iterate until no label changes.
    Converges in O(component diameter) rounds — near-dup components are
    shallow (dup clusters are quasi-cliques), so this terminates in a
    handful of rounds; at web scale the same loop is the standard
    alternating large-star/small-star construction and each round is one
    self-join + min-aggregation (shuffle carries two longs per edge).
    The per-round ``.count()`` convergence check collects one scalar, not
    data.  Input needs ``id_a < id_b`` pair columns (any generator above).
    """
    edges = (
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .unionByName(
            pairs.select(F.col("id_b").alias("u"), F.col("id_a").alias("v"))
        )
        .distinct()
        .cache()
    )
    labels = (
        edges.select(F.col("u").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("cluster_id"))
        .cache()
    )
    changed = -1
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges["v"] == labels["id"])
            .groupBy(F.col("u").alias("id"))
            .agg(F.min("cluster_id").alias("n_min"))
        )
        new_labels = (
            labels.join(neighbor_min, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("cluster_id"), F.coalesce("n_min", F.col("cluster_id"))
                ).alias("cluster_id"),
            )
            .cache()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    if changed != 0:
        # propagation needs O(component diameter) rounds; a chain longer
        # than max_iters would otherwise return silently-split clusters
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_iters} rounds "
            "(component diameter exceeds max_iters) — raise max_iters or "
            "switch to alternating large-star/small-star for path-like "
            "components"
        )
    return labels


def _token_hash32(tok: Column) -> Column:
    """Deterministic 32-bit token hash reproducible in ANSI SQL: the first
    8 hex chars of md5, as a bigint in [0, 2^32).  md5 (not xxhash64) so
    DuckDB computes the identical value."""
    return F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long")


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = 32) -> DataFrame:
    """Term-frequency-weighted SimHash: ``(id, simhash)``.

    Per token: hash to 32 bits (md5-derived, oracle-reproducible); each bit
    contributes +tf if set else -tf; the signature bit is 1 where the sum is
    positive.  Implemented as ``explode(tokens) → groupBy(id, token) count →
    32 conditional sums → bit assembly`` — all built-ins, two shuffles (the
    second keyed on id only).  At 100 TB the token groupBy has map-side
    combine so the shuffle is ~vocab-per-doc sized.
    """
    tf = (
        df.select(F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("tok"))
        .filter(F.length("tok") > 0)
        .groupBy("id", "tok")
        .agg(F.count("*").alias("tf"))
        .withColumn("th", _token_hash32(F.col("tok")))
    )
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("th"), i).bitwiseAND(F.lit(1)) == 1, F.col("tf"))
            .otherwise(-F.col("tf"))
        ).alias(f"s{i}")
        for i in range(bits)
    ]
    summed = tf.groupBy("id").agg(*bit_sums)
    sig = None
    for i in range(bits):
        bit_i = F.when(F.col(f"s{i}") > 0, F.lit(2 ** i).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = bit_i if sig is None else sig + bit_i
    return summed.select("id", sig.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = 32,
    chunks: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming.

    Candidate generation by the pigeonhole chunk trick: split the signature
    into ``chunks`` chunks; any pair within ``max_hamming < chunks`` bit
    flips must agree on ≥1 whole chunk, so an equi-join per chunk finds all
    candidates (no cross join).  Verified with ``bit_count(xor) ≤ k``.
    """
    assert max_hamming < chunks, "pigeonhole needs max_hamming < chunks"
    chunk_bits = bits // chunks
    sig = simhash(df, text_col, id_col, bits)
    chunk_cols = [
        (
            F.shiftright(F.col("simhash"), c * chunk_bits)
            .bitwiseAND(F.lit((1 << chunk_bits) - 1))
        ).alias(f"c{c}")
        for c in range(chunks)
    ]
    chunked = sig.select("id", "simhash", *chunk_cols)
    stacked = chunked.select(
        "id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(F.lit(c).alias("ci"), F.col(f"c{c}").alias("cv"))
                for c in range(chunks)
            ])
        ).alias("e"),
    ).select("id", "simhash", F.col("e.ci").alias("ci"), F.col("e.cv").alias("cv"))
    l = stacked.select(F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"), "ci", "cv")
    r = stacked.select(F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"), "ci", "cv")
    return (
        l.join(r, ["ci", "cv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def cluster_representatives(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """Representative selection — the step that turns near-dup clusters
    into an actual deduplicated corpus: per cluster keep the best-scoring
    member (quality-aware dedup; ties broken by smallest id so the choice
    is deterministic), drop the rest.  Docs in no cluster are singleton
    keepers.  Reference semantics anchor: the LWW survivor rule of the
    guid upsert (`podcast_repository.rs:178-183` — one winner per key,
    deterministic order) lifted from exact keys to near-dup clusters.

    Returns ``(id, cluster_id, <score_col>, keep)`` — one row per input
    doc, ``keep`` true for exactly one member per cluster.

    Scale shape: the corpus joins the (much smaller) cluster map on id,
    then ONE groupBy(cluster_id) whose aggregate is a window-free argmax
    — ``max(struct(score, -id))`` with map-side combine, one struct per
    cluster out of each task — and a join back on cluster_id.  No window
    over the corpus, so a giant cluster costs its group size, never a
    single-task sort of the corpus.
    """
    labeled = (
        docs.select(F.col(id_col).alias("id"), F.col(score_col))
        .join(clusters.withColumnRenamed("id", "_cid"), F.col("id") == F.col("_cid"), "left")
        .drop("_cid")
        .withColumn("cluster_id", F.coalesce("cluster_id", "id"))
    )
    # argmax by (score desc, id asc): max of a struct compares fields
    # left-to-right, so (score, -id) picks max score then min id
    best = labeled.groupBy("cluster_id").agg(
        F.max(F.struct(F.col(score_col), (-F.col("id")).alias("_neg"))).alias("b")
    ).select("cluster_id", (-F.col("b._neg")).alias("_rep_id"))
    return (
        labeled.join(best, "cluster_id")
        .select(
            "id",
            "cluster_id",
            score_col,
            (F.col("id") == F.col("_rep_id")).alias("keep"),
        )
    )


def span_dedup(
    df: DataFrame,
    k: int = 8,
    min_dup: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact substring-span dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): drop every token that
    lies inside a k-token gram occurring >= *min_dup* times corpus-wide,
    and reassemble the survivors in order.  The span-level sibling of
    ``curation.paragraph_dedup`` — it catches boilerplate that doesn't
    align to paragraph boundaries (navigation chrome, license blocks,
    templated sentences).

    Scale shape (the suffix-array of the paper is a single-machine
    construction; this is its distributed equi-join reduction):

    - gram generation is map-side (one ``transform`` over the token
      array, one explode);
    - the only corpus-wide exchange carries ``(16-byte digest)`` pairs
      into a groupBy-count with map-side combine — the same shuffle
      budget as ``exact_dedup``, never the text itself;
    - duplicated gram starts come back per doc as a ``collect_list``
      (bounded by the doc's own gram count), and the token-level
      drop/reassemble is again map-side array logic.

    Output: ``(id, clean_md5, n_tokens, n_dropped, n_dup_starts)`` —
    all integers + a digest, so the oracle is exact.
    """
    toks = F.filter(
        F.split(F.col(text_col), " "), lambda t: F.length(t) > 0
    )
    base = df.select(F.col(id_col).alias("id"), toks.alias("t"))
    n = F.size("t")
    # 0-based gram start positions [0 .. n-k]; empty when n < k
    starts = F.when(n >= k, F.sequence(F.lit(0), n - F.lit(k))).otherwise(
        F.array().cast("array<int>")
    )
    grams = base.select(
        "id",
        F.explode(
            F.transform(
                starts,
                lambda p: F.struct(
                    p.alias("p"),
                    F.md5(
                        F.concat_ws(" ", F.slice("t", p + 1, k))
                    ).alias("g"),
                ),
            )
        ).alias("gr"),
    ).select("id", "gr.p", "gr.g")
    # two consumers (the dup count and the doc_starts semi-join) — the
    # gram pass (an md5 per k-token slice, the dominant map cost) must
    # run once; DISK_ONLY per the repo-wide scratch discipline, filled
    # eagerly so concurrent broadcast-subquery consumers can't stampede
    # a cold persist into two gram passes
    grams = grams.persist(StorageLevel.DISK_ONLY)
    grams.count()
    dup = (
        grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_dup)
        .select("g")
    )
    doc_starts = (
        grams.join(dup, "g", "left_semi")
        .groupBy("id")
        .agg(F.sort_array(F.collect_list("p")).alias("ps"))
    )
    joined = base.join(doc_starts, "id", "left").select(
        "id", "t", F.coalesce("ps", F.array().cast("array<int>")).alias("ps")
    )
    clean = F.filter(
        F.col("t"),
        lambda x, i: ~F.exists(
            F.col("ps"), lambda s: (s <= i) & (i < s + k)
        ),
    )
    return joined.select(
        "id",
        F.md5(F.concat_ws(" ", clean)).alias("clean_md5"),
        F.size("t").cast("long").alias("n_tokens"),
        (F.size("t") - F.size(clean)).cast("long").alias("n_dropped"),
        F.size("ps").cast("long").alias("n_dup_starts"),
    )


def _capped_overlap_pairs(
    rows: DataFrame,
    key: str,
    member: str,
    cap: int,
    min_shared: int,
    pair: tuple[str, str],
    size: str,
    sizes_over_kept: bool = False,
) -> DataFrame:
    """The capped set-overlap self-join of :func:`containment_pairs`,
    ``traps.mirror_hosts`` and ``graph.cocitation`` (one algorithm, the
    set-containment join LCJoin, ICDE'19, studies).  *rows* are distinct
    ``(member, key)`` pairs.  A key held by more than *cap* members is
    dropped first: it would pair every holder with every other (cost
    Σ_key holders², quadratic in a hub) and carries no overlap signal.
    The kept rows self-join on *key*; member pairs ``a < b`` (named by
    *pair*) count their shared keys, and pairs sharing at least
    *min_shared* keep ``(a, b, shared, {size}_a, {size}_b)`` — each
    member's row count over all *rows*, or over the kept rows when
    *sizes_over_kept*."""
    a, b = pair
    held = rows.groupBy(key).agg(F.count(F.lit(1)).alias("_held"))
    kept = rows.join(
        held.filter(F.col("_held") <= cap).select(key), key, "semi"
    )
    shared = (
        kept.select(key, F.col(member).alias(a))
        .join(kept.select(key, F.col(member).alias(b)), key)
        .filter(F.col(a) < F.col(b))
        .groupBy(a, b)
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )
    sizes = (kept if sizes_over_kept else rows).groupBy(member).agg(
        F.count(F.lit(1)).alias("_n")
    )
    for m, side in zip(pair, "ab"):
        shared = shared.join(
            sizes.select(
                F.col(member).alias(m), F.col("_n").alias(f"{size}_{side}")
            ),
            m,
        )
    return shared


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_fp_freq: int = 1000,
) -> DataFrame:
    """Asymmetric (containment) near-dup detection over winnowing
    fingerprints: doc pairs sharing fingerprinted token runs, scored by
    how much of the SMALLER doc's fingerprint set the overlap covers —
    the quote / boilerplate-superset / excerpt case Jaccard misses (a
    200-token quote inside a 20k-token doc has Jaccard ≈ 0.01 but
    containment ≈ 1.0; Broder'97 distinguishes resemblance from
    containment for exactly this).

    Output: ``(id_a, id_b, shared, n_a, n_b, containment_pct)`` with
    ``id_a < id_b``, fingerprint-set sizes per doc, and
    ``containment_pct = 100·shared div least(n_a, n_b)`` (integer —
    exact across engines).  By the winnowing guarantee, any shared run
    of ≥ w+k-1 tokens contributes ≥ 1 shared fingerprint, so recall on
    long-enough quotes is structural, not probabilistic.

    Scale shape — identical discipline to ``ngram_jaccard_pairs`` /
    ``traps.mirror_hosts``: fingerprints are ~2n/(w+1) per doc
    (map-side, zero shuffle), pair generation is an inverted-index
    self-join on ``fp`` with the quadratic step bounded per fp by
    ``max_fp_freq`` (a fingerprint in more docs than that is corpus
    boilerplate — it pairs everyone with everyone and carries no
    containment signal).  Only (id, 32-char fp) rows cross exchanges.
    """
    from podcast_crawler_spark.operators.textstats import (
        winnow_fingerprints,
    )

    # four consumers (sizes, freq, both sides of the inverted-index
    # self-join) — persist the narrow (id, fp) rows DISK_ONLY (the
    # repo-wide scratch discipline: the memory tier anti-scales under
    # concurrent tasks, spark.local.dir is fast local disk) so the
    # winnowing window pass over the corpus runs ONCE, not four times
    fps = (
        winnow_fingerprints(df, text_col=text_col, id_col=id_col, k=k, w=w)
        .select("id", "fp")
        .distinct()
        .persist(StorageLevel.DISK_ONLY)
    )
    # materialize BEFORE the final plan compiles: its broadcast
    # exchanges run as concurrent subquery jobs and a cold lazy persist
    # misses for all of them at once, re-running the winnowing pass per
    # consumer; one cheap count() fills the persist sequentially
    fps.count()
    return _capped_overlap_pairs(
        fps, "fp", "id", max_fp_freq, min_shared, ("id_a", "id_b"), "n"
    ).select(
        "id_a",
        "id_b",
        "shared",
        "n_a",
        "n_b",
        F.expr("(100 * shared) div least(n_a, n_b)").alias("containment_pct"),
    )


def containment_oracle_sql(
    docs_sql: str,
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_fp_freq: int = 1000,
) -> str:
    """DuckDB recomputation of :func:`containment_pairs` — nests the
    winnowing oracle, then replays the capped pair join."""
    from podcast_crawler_spark.operators.textstats import winnow_oracle_sql

    wsql = winnow_oracle_sql(docs_sql, k=k, w=w)
    return f"""
        with fps as (select distinct id, fp from ({wsql}) t),
        sizes as (select id, count(*)::BIGINT n from fps group by 1),
        cold as (select fps.* from fps
                 join (select fp from fps group by 1
                       having count(*) <= {max_fp_freq}) f using (fp)),
        pairs as (select a.id id_a, b.id id_b, count(*)::BIGINT shared
                  from cold a join cold b using (fp)
                  where a.id < b.id
                  group by 1, 2
                  having count(*) >= {min_shared})
        select p.id_a, p.id_b, p.shared, sa.n n_a, sb.n n_b,
               ((100 * p.shared) // least(sa.n, sb.n))::BIGINT
                 containment_pct
        from pairs p
        join sizes sa on p.id_a = sa.id
        join sizes sb on p.id_b = sb.id
    """


def cdc_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 4,
    mask_bits: int = 4,
) -> DataFrame:
    """Content-defined chunking: split each document into variable-size
    chunks at positions where the rolling window hash satisfies a mask —
    the Rabin/gear-CDC boundary rule (LBFS, Muthitacharoen et al. '01;
    FastCDC '16) at token granularity.  Returns one row per chunk:
    ``(id, chunk_idx, start, n_tokens, chunk_md5)``.

    Why not fixed-size blocks: an insertion shifts every later block
    boundary, so no downstream block matches storage again; CDC
    boundaries are functions of local CONTENT, so an edit disturbs only
    the chunks it touches — the shift-robust unit for storage-level
    dedup of near-identical pages (CMS re-renders, boilerplate drift),
    complementing doc-level (:func:`exact_dedup`) and span-level
    (:func:`span_dedup`) dedup.

    Boundary rule (exact, engine-portable): token position i (0-based)
    ends a chunk iff ``int(md5(join(tokens[i-window+1 .. i]))[:8], 16)
    % 2^mask_bits == 0`` — expected chunk length 2^mask_bits tokens.
    The last token always ends a chunk.  Chunk digest = md5 of the
    space-joined chunk tokens.

    Scale shape: the winnowing discipline — window hashes are one
    materialized array projection (md5 per position, computed once),
    boundary selection and chunk assembly are array expressions, one
    posexplode emits chunk rows; map-side, zero shuffle, the text never
    crosses an exchange (downstream dedup joins carry 16-byte digests).
    """
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    whash = F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.conv(
            F.substring(
                F.md5(
                    F.array_join(
                        F.slice(
                            toks,
                            F.greatest(i - window + 2, F.lit(1)),
                            F.least(i + 1, F.lit(window)),
                        ),
                        " ",
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long"),
    )
    base = df.select(
        F.col(id_col).alias("id"), toks.alias("t"), whash.alias("wh")
    )
    mask = (1 << mask_bits) - 1
    # boundary positions (0-based, inclusive chunk ends); last always
    bounds = F.array_union(
        F.filter(
            F.sequence(F.lit(0), F.size("t") - 1),
            lambda i: F.element_at("wh", i + 1).bitwiseAND(mask) == 0,
        ),
        F.array(F.size("t") - 1),
    )
    withb = base.select("id", "t", F.array_sort(bounds).alias("b"))
    chunks = F.transform(
        F.sequence(F.lit(0), F.size("b") - 1),
        lambda ci: F.struct(
            F.when(ci == 0, F.lit(0))
            .otherwise(F.element_at("b", ci) + 1)
            .alias("start"),
            F.element_at("b", ci + 1).alias("end"),
        ),
    )
    return (
        withb.select("id", "t", F.posexplode(chunks).alias("chunk_idx", "c"))
        .select(
            "id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.col("c.start").cast("int").alias("start"),
            (F.col("c.end") - F.col("c.start") + 1)
            .cast("int")
            .alias("n_tokens"),
            F.md5(
                F.array_join(
                    F.slice(
                        "t",
                        F.col("c.start") + 1,
                        F.col("c.end") - F.col("c.start") + 1,
                    ),
                    " ",
                )
            ).alias("chunk_md5"),
        )
    )


def cdc_oracle_sql(
    docs_sql: str, window: int = 4, mask_bits: int = 4
) -> str:
    """DuckDB recomputation of :func:`cdc_chunks` — same window-hash /
    mask / assembly chain via unnested positions and an ordered
    string_agg per chunk."""
    mask = (1 << mask_bits) - 1
    return f"""
        with docs as (select * from ({docs_sql}) d),
        toks as (select id, string_split(text, ' ') tk from docs),
        pos as (select id, tk, unnest(range(len(tk))) i from toks),
        wh as (select id, tk, i,
                      try_cast('0x' || substr(md5(array_to_string(
                        tk[greatest(i - {window} + 2, 1) :
                           greatest(i - {window} + 2, 1)
                           + least(i + 1, {window}) - 1], ' ')), 1, 8)
                        as BIGINT) h
               from pos),
        flags as (select id, tk, i,
                         (h & {mask}) = 0 or i = len(tk) - 1 as cut
                  from wh),
        cid as (select id, tk, i,
                       count(*) filter (cut) over (
                         partition by id order by i
                         rows between unbounded preceding
                                  and 1 preceding)::int chunk_idx
                from flags),
        agg as (select id, chunk_idx,
                       min(i)::int as "start",
                       count(*)::int n_tokens,
                       md5(string_agg(tk[i + 1], ' ' order by i))
                         chunk_md5
                from cid group by 1, 2)
        select * from agg
    """


def episode_syndication(
    episodes: DataFrame,
    feed_col: str = "feed_url",
    enclosure_col: str = "enclosure_url",
) -> DataFrame:
    """Cross-feed episode syndication: the SAME audio enclosure
    republished by multiple feeds (network re-feeds, aggregator
    mirrors, stolen feeds).  The reference dedups episodes by guid
    WITHIN a feed (`episode_repository.rs` upsert key — guid LWW);
    across feeds guids differ while the enclosure bytes are the same
    URL, so corpus-level episode counting / training-data dedup needs
    this second key.  Per syndicated enclosure:

    ``(enclosure_md5, n_feeds, n_episodes, first_feed)`` — groups with
    ``n_feeds > 1`` only; ``first_feed`` (min feed URL) is the
    deterministic canonical-owner pick, the same LWW-style
    tie-breaking discipline as ``resolve_lww``.

    Scale shape: one groupBy on the 16-byte enclosure digest (the
    ``exact_dups`` discipline — the URL string itself never shuffles);
    count-distinct on feed partial-aggregates map-side.  Exact oracle.
    """
    e = episodes.filter(
        F.col(enclosure_col).isNotNull() & (F.col(enclosure_col) != "")
    )
    return (
        e.groupBy(F.md5(F.col(enclosure_col)).alias("enclosure_md5"))
        .agg(
            F.countDistinct(feed_col).alias("n_feeds"),
            F.count(F.lit(1)).alias("n_episodes"),
            F.min(feed_col).alias("first_feed"),
        )
        .filter(F.col("n_feeds") > 1)
    )


def syndication_oracle_sql(episodes_sql: str) -> str:
    """DuckDB replay of :func:`episode_syndication` over any
    (feed_url, enclosure_url) subquery."""
    return f"""
        WITH e AS (
            SELECT * FROM ({episodes_sql}) x
            WHERE enclosure_url IS NOT NULL AND enclosure_url <> ''
        )
        SELECT md5(enclosure_url) AS enclosure_md5,
               COUNT(DISTINCT feed_url) AS n_feeds,
               COUNT(*) AS n_episodes,
               MIN(feed_url) AS first_feed
        FROM e
        GROUP BY enclosure_url
        HAVING COUNT(DISTINCT feed_url) > 1
    """


def _md5h60(prefix: str, col: Column) -> Column:
    """60-bit positive integer hash from md5 of ``prefix || value`` —
    engine-independent (the same ``'0x' || substr(md5(·),1,15)`` parse
    exists in every SQL dialect), unlike xxhash64."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(prefix), col)), 1, 15), 16, 10
    ).cast("long")


def _md5_minhash(
    sh: DataFrame, num_hashes: int, band_rows: int
) -> tuple[DataFrame, DataFrame]:
    """The md5 MinHash of :func:`host_minhash_similarity` and
    :func:`minhash_recall_audit`: ``(sigs, pairs)`` over ``(id,
    shingle)`` rows *sh*.  ``sigs = (id, h0..h{num_hashes-1})`` holds
    the :func:`_md5h60` component mins (one partial-aggregated groupBy,
    checkpointed eagerly); ``pairs = (id_a, id_b)`` are the distinct
    band collisions of ``band_rows``-component bands, each band keyed
    by the md5 of its ``':'``-joined components, as the oracles key it."""
    assert num_hashes % band_rows == 0
    aggs = [
        F.min(_md5h60(f"{i}:", F.col("shingle"))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    # O(ids) rows from the one corpus-scale pass, read by the banding
    # and by the callers' joins.  EAGER checkpoint, not lazy cache: a
    # caller's broadcast legs execute as concurrent subquery jobs and a
    # lazy cache misses for all at once, re-running the shingle explode
    # + md5 mins per leg
    sigs = sh.groupBy("id").agg(*aggs).localCheckpoint(eager=True)
    stacked = _stack_bands(sigs, num_hashes, num_hashes // band_rows, ":")
    return sigs, _bucket_pairs(stacked).distinct()


def host_minhash_similarity(
    df: DataFrame,
    host_col: str = "host",
    text_col: str = "text",
    num_hashes: int = 16,
    band_rows: int = 4,
) -> DataFrame:
    """Host-level near-duplication: one MinHash signature per HOST over
    the union of its documents' shingle sets (min is a semilattice, so
    the host signature is just ``min`` over doc shingle hashes — no
    per-host set materialization), LSH-banded so only plausibly-similar
    host pairs are ever enumerated.  This is the host-granularity twin
    of ``minhash_lsh_pairs``: it catches mirror sites and template
    farms whose individual pages dodge doc-level dedup (Cho,
    Shivakumar & Garcia-Molina, "Finding replicated Web collections",
    SIGMOD 2000) and feeds the same crawl-economics consumers as
    ``graph.mirror_hosts`` — skip the copy, keep the original.

    Determinism: hashes are md5-derived 60-bit integers (NOT xxhash64),
    so a SQL oracle replays every signature component, band key,
    candidate pair and estimate exactly.

    Scale shape: the corpus-scale work is ONE pass — shingle explode →
    ``groupBy(host)`` with ``num_hashes`` partial-aggregated mins
    (map-side combine ⇒ the exchange carries one ``num_hashes``-long
    row per host per task).  Everything after operates on host-count
    rows: banding is a projection + explode, the candidate join is
    keyed on (band, band_key) exactly like doc-LSH, and the estimate
    join touches only candidate pairs.

    Output: ``(host_a, host_b, sig_matches, est_jaccard_ppm)`` — the
    estimate is ``1e6 · matching components / num_hashes``.
    """
    sh = shingles(
        df.select(F.col(host_col).alias("doc_id"), F.col(text_col)),
        id_col="doc_id",
    )
    sigs, pairs = _md5_minhash(sh, num_hashes, band_rows)
    pairs = pairs.select(
        F.col("id_a").alias("host_a"), F.col("id_b").alias("host_b")
    )
    a = sigs.select(
        F.col("id").alias("host_a"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(num_hashes)],
    )
    b_ = sigs.select(
        F.col("id").alias("host_b"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(num_hashes)],
    )
    matches = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(num_hashes)
    )
    return (
        pairs.join(F.broadcast(a), "host_a")
        .join(F.broadcast(b_), "host_b")
        .select(
            "host_a",
            "host_b",
            matches.cast("long").alias("sig_matches"),
            F.expr(
                f"1000000 * cast({' + '.join(f'(case when a{i} = b{i} then 1 else 0 end)' for i in range(num_hashes))} as bigint)"
                f" div {num_hashes}"
            ).alias("est_jaccard_ppm"),
        )
    )


def host_minhash_oracle_sql(
    hosts_sql: str, num_hashes: int = 16, band_rows: int = 4
) -> str:
    """DuckDB replay of :func:`host_minhash_similarity` over a
    ``(h, text)`` subquery: same shingles, same md5-derived component
    hashes, same band keys, same candidate join and estimate."""
    n_bands = num_hashes // band_rows
    mins = ", ".join(
        f"min(('0x' || substr(md5('{i}:' || s), 1, 15))::BIGINT) h{i}"
        for i in range(num_hashes)
    )
    band_selects = " union all ".join(
        "select h, {b} band, md5({key}) bk from sig".format(
            b=b,
            key=" || ':' || ".join(
                f"h{i}::varchar"
                for i in range(b * band_rows, (b + 1) * band_rows)
            ),
        )
        for b in range(n_bands)
    )
    match_sum = " + ".join(
        f"(case when a.h{i} = b.h{i} then 1 else 0 end)"
        for i in range(num_hashes)
    )
    return f"""
        with docs as ({hosts_sql}),
        toks as (select h, string_split(text, ' ') t from docs),
        shl as (select h, unnest(list_distinct(
                  [array_to_string(t[i:i+2], ' ')
                   for i in range(1, greatest(len(t) - 2, 1) + 1)])) s
                from toks),
        shf as (select h, s from shl where len(s) > 0),
        sig as (select h, {mins} from shf group by h),
        bands as ({band_selects}),
        pairs as (
          select distinct x.h host_a, y.h host_b
          from bands x join bands y
            on x.band = y.band and x.bk = y.bk and x.h < y.h)
        select p.host_a, p.host_b,
               ({match_sum})::BIGINT sig_matches,
               (1000000 * ({match_sum}) // {num_hashes})::BIGINT
                 est_jaccard_ppm
        from pairs p
        join sig a on a.h = p.host_a
        join sig b on b.h = p.host_b
    """


def minhash_recall_audit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    band_rows: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Self-audit of the MinHash-LSH approximation: measure candidate
    RECALL and PRECISION against the exact n-gram Jaccard ground truth
    on the same corpus — the number the S-curve ``1-(1-s^r)^b`` only
    predicts.  Production dedup picks (bands, rows) from that formula;
    this operator closes the loop by observing what the chosen geometry
    actually catches (the same estimator-audit discipline as
    ``bloom_fpp_audit`` and the ``n_exact`` columns of the ANN family).

    One summary row::

        (n_exact, n_candidates, n_hits,
         recall_ppm    = 10^6·n_hits div n_exact,
         precision_ppm = 10^6·n_hits div n_candidates)

    where exact pairs have true Jaccard >= *threshold* (uncapped
    shingle-set join) and candidates are the distinct band-collision
    pairs of an md5-derived MinHash (NOT xxhash64 — md5 is what a SQL
    oracle can replay component-for-component; the production
    ``minhash_lsh_pairs`` keeps xxhash64 for speed, the geometry under
    audit is the same).

    Scale: run the audit on a stratified sample (``sampling.*``), not
    the full corpus — it is a measurement, and its exact-pairs leg is
    the O(shingle-df²) join the LSH path exists to avoid.  All
    arithmetic lands in integer ppm, so the oracle matches exactly.
    """
    # exact ground truth: true-Jaccard >= threshold pairs (uncapped)
    exact = ngram_jaccard_pairs(
        df, text_col, id_col, threshold=threshold, max_shingle_freq=None
    ).select("id_a", "id_b")
    # md5-minhash candidates with the audited (bands x rows) geometry
    _, cands = _md5_minhash(
        shingles(df, text_col, id_col), num_hashes, band_rows
    )

    hits = cands.join(exact, ["id_a", "id_b"], "semi")
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    n_cands = cands.agg(F.count(F.lit(1)).alias("n_candidates"))
    n_hits = hits.agg(F.count(F.lit(1)).alias("n_hits"))
    return (
        n_exact.crossJoin(F.broadcast(n_cands))
        .crossJoin(F.broadcast(n_hits))
        .select(
            "n_exact",
            "n_candidates",
            "n_hits",
            F.expr("1000000 * n_hits div n_exact")
            .cast("long")
            .alias("recall_ppm"),
            F.expr("1000000 * n_hits div n_candidates")
            .cast("long")
            .alias("precision_ppm"),
        )
    )


def recall_audit_oracle_sql(
    docs_sql: str,
    num_hashes: int = 16,
    band_rows: int = 4,
    threshold: float = 0.5,
) -> str:
    """DuckDB replay of :func:`minhash_recall_audit` over a
    ``(id, text)`` subquery: same shingles, exact-pair ground truth,
    md5 signature components, band keys and integer ppms."""
    n_bands = num_hashes // band_rows
    mins = ", ".join(
        f"min(('0x' || substr(md5('{i}:' || s), 1, 15))::BIGINT) h{i}"
        for i in range(num_hashes)
    )
    band_selects = " union all ".join(
        "select id, {b} band, md5({key}) bk from sig".format(
            b=bd,
            key=" || ':' || ".join(
                f"h{i}::varchar"
                for i in range(bd * band_rows, (bd + 1) * band_rows)
            ),
        )
        for bd in range(n_bands)
    )
    return f"""
with docs as ({docs_sql}),
toks as (select id, string_split(text, ' ') t from docs),
shl as (select id, unnest(list_distinct(
          [array_to_string(t[i:i+2], ' ')
           for i in range(1, greatest(len(t) - 2, 1) + 1)])) s
        from toks),
shf as (select id, s from shl where len(s) > 0),
sz as (select id, count(*)::BIGINT sz from shf group by 1),
exact as (
  select c.id_a, c.id_b
  from (select x.id id_a, y.id id_b, count(*)::BIGINT common
        from shf x join shf y on x.s = y.s and x.id < y.id
        group by 1, 2) c
  join sz a on c.id_a = a.id
  join sz b on c.id_b = b.id
  where c.common / (a.sz + b.sz - c.common) >= {threshold}),
sig as (select id, {mins} from shf group by id),
bands as ({band_selects}),
cands as (
  select distinct x.id id_a, y.id id_b
  from bands x join bands y
    on x.band = y.band and x.bk = y.bk and x.id < y.id),
hits as (select c.id_a, c.id_b from cands c
         join exact e on c.id_a = e.id_a and c.id_b = e.id_b),
agg as (select
  (select count(*) from exact)::BIGINT n_exact,
  (select count(*) from cands)::BIGINT n_candidates,
  (select count(*) from hits)::BIGINT n_hits)
select n_exact, n_candidates, n_hits,
       (1000000 * n_hits // n_exact)::BIGINT recall_ppm,
       (1000000 * n_hits // n_candidates)::BIGINT precision_ppm
from agg
"""


def hot_shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_docs: int = 2,
    k: int = 50,
) -> DataFrame:
    """The corpus's most-duplicated word *n*-grams: ``(shingle, n_docs)``
    for the top-*k* shingles by document frequency — the EXACT
    n-gram-granularity counterpart of :func:`sketches.cm_heavy_hitters`
    (token granularity, approximate) and the audit behind the
    "memorized spans" analyses of training-data dedup (the spans a
    model will regurgitate are precisely the ones thousands of
    documents share — boilerplate, licenses, templates).  The same
    list, fed back as a stop-shingle set, is what
    ``ngram_jaccard_pairs``'s ``max_shingle_freq`` cap and
    ``span_dedup`` act on.

    Scale shape: distinct per-doc shingles (array_distinct before the
    explode — no post-explode shuffle), one map-side-combined count per
    shingle, ``filter(n_docs >= min_docs)`` BEFORE the top-k so the
    ordering input is only the duplicated tail, and the top-k itself is
    ``orderBy(...).limit(k)`` = TakeOrderedAndProject — O(k) per task,
    never a global sort.  Deterministic order: (n_docs desc, shingle
    asc).
    """
    counts = (
        shingles(df, text_col, id_col, n)
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .filter(F.col("n_docs") >= int(min_docs))
    )
    return counts.orderBy(F.desc("n_docs"), F.asc("shingle")).limit(int(k))


def hot_shingles_oracle_sql(
    docs_sql: str, n: int = 3, min_docs: int = 2, k: int = 50
) -> str:
    """DuckDB recomputation of :func:`hot_shingles` over any subquery
    with ``(id, text)`` — same shingle construction as
    ``_JACCARD_CTE``, same deterministic top-k."""
    return f"""
        WITH toks AS (SELECT id, string_split(text, ' ') t
                      FROM ({docs_sql}) src),
        sh AS (SELECT id, unnest(list_distinct(
                   [array_to_string(t[i:i+{n - 1}], ' ')
                    for i in range(1, greatest(len(t) - {n}, 0) + 2)]
               )) shingle FROM toks),
        c AS (SELECT shingle, COUNT(*)::BIGINT n_docs FROM sh
              WHERE len(shingle) > 0
              GROUP BY shingle
              HAVING COUNT(*) >= {int(min_docs)})
        SELECT shingle, n_docs FROM c
        ORDER BY n_docs DESC, shingle ASC
        LIMIT {int(k)}
    """


def ingest_accounting(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> DataFrame:
    """Per-language NET-NEW accounting for a crawl batch against the
    standing corpus — the weekly report a crawl-for-training operation
    actually publishes: of the docs/tokens this batch fetched, how much
    survives exact dedup (vs the corpus AND within the batch) and lands
    as new training mass?  Fetch throughput without this number
    over-credits recrawls; the reference has no corpus notion at all
    (each feed upserts row-by-row, `podcast_repository.rs` ON
    CONFLICT), so this is the batch-level generalization of its upsert
    accounting.

    Rules (all exact, digest-based): a batch doc is ``corpus_dup`` if
    its text md5 exists in the corpus; else ``batch_dup`` if an
    earlier batch doc (min id per digest wins — deterministic) has the
    same digest; else ``net``.  Tokens are whitespace tokens of the
    batch doc.  Output one row per language: ``(lang, n_docs,
    n_corpus_dup, n_batch_dup, n_net, tokens_in, net_tokens)``.

    Scale shape: the corpus contributes ONLY distinct 16-byte digests
    (map-side distinct → semi-join build side); batch digests carry
    (id, lang, n_tokens) — fixed width, never the text.  Intra-batch
    keep-first is a min(id) per digest (map-side combined) joined
    back; the final rollup is an O(langs) aggregate.  Nothing
    corpus-scale crosses an exchange except digest columns.
    """
    b = batch.select(
        F.col(id_col).alias("id"),
        F.col(lang_col).alias("lang"),
        F.md5(F.col(text_col)).alias("digest"),
        F.size(
            F.filter(F.split(F.col(text_col), " "),
                     lambda t: F.length(t) > 0)
        ).cast("long").alias("n_tokens"),
    )
    corpus_digests = corpus.select(
        F.md5(F.col(text_col)).alias("digest")
    ).distinct()
    flagged = b.join(
        corpus_digests.withColumn("in_corpus", F.lit(True)),
        "digest",
        "left",
    ).withColumn("in_corpus", F.coalesce(F.col("in_corpus"), F.lit(False)))
    first_ids = b.groupBy("digest").agg(F.min("id").alias("first_id"))
    flagged = flagged.join(first_ids, "digest").withColumn(
        "status",
        F.when(F.col("in_corpus"), F.lit("corpus_dup"))
        .when(F.col("id") != F.col("first_id"), F.lit("batch_dup"))
        .otherwise(F.lit("net")),
    )
    return flagged.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("status") == "corpus_dup").cast("long"))
        .alias("n_corpus_dup"),
        F.sum((F.col("status") == "batch_dup").cast("long"))
        .alias("n_batch_dup"),
        F.sum((F.col("status") == "net").cast("long")).alias("n_net"),
        F.sum("n_tokens").alias("tokens_in"),
        F.sum(
            F.when(F.col("status") == "net", F.col("n_tokens"))
            .otherwise(F.lit(0))
        ).alias("net_tokens"),
    )


def ingest_accounting_oracle_sql(batch_sql: str, corpus_sql: str) -> str:
    """DuckDB replay of :func:`ingest_accounting`.  *batch_sql* yields
    (id, lang, text); *corpus_sql* yields (text)."""
    return f"""
        WITH b0 AS ({batch_sql}),
        c AS (SELECT DISTINCT md5(text) digest FROM ({corpus_sql})),
        b AS (
          SELECT id, lang, md5(text) digest,
                 len(list_filter(string_split(text, ' '),
                                 x -> len(x) > 0))::BIGINT n_tokens
          FROM b0
        ),
        f AS (
          SELECT b.*, (c.digest IS NOT NULL) in_corpus,
                 min(b.id) OVER (PARTITION BY b.digest) first_id
          FROM b LEFT JOIN c ON b.digest = c.digest
        ),
        s AS (
          SELECT *,
                 CASE WHEN in_corpus THEN 'corpus_dup'
                      WHEN id != first_id THEN 'batch_dup'
                      ELSE 'net' END status
          FROM f
        )
        SELECT lang,
               count(*)::BIGINT n_docs,
               sum(CASE WHEN status = 'corpus_dup' THEN 1 ELSE 0 END
               )::BIGINT n_corpus_dup,
               sum(CASE WHEN status = 'batch_dup' THEN 1 ELSE 0 END
               )::BIGINT n_batch_dup,
               sum(CASE WHEN status = 'net' THEN 1 ELSE 0 END
               )::BIGINT n_net,
               sum(n_tokens)::BIGINT tokens_in,
               sum(CASE WHEN status = 'net' THEN n_tokens ELSE 0 END
               )::BIGINT net_tokens
        FROM s GROUP BY lang
    """
