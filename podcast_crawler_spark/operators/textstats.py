"""Text analysis operators for the training-data pipeline: language ID,
quality scoring, token counting, document fingerprinting.

All four are pure column expressions (whole-stage codegen, zero Python),
and each has an exact ANSI-SQL oracle — the heuristics are deliberately
specified as arithmetic over counts so DuckDB reproduces them bit-for-bit.

At 100 TB these run as a single map-side pass over the corpus scan (no
shuffle at all unless the caller aggregates), which is the dominant cost
model for corpus curation: O(bytes scanned), embarrassingly parallel.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword marker sets. Real language ID would use
# character n-gram profiles (e.g. CLD3-style); the *operator contract*
# (per-row scores → argmax label, fully vectorized) is identical, and this
# heuristic is exactly reproducible in the SQL oracle.
LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "de": ["der", "und", "die"],
    "fr": ["le", "et", "la"],
    "es": ["el", "y", "de"],
}


def _count_token(text: Column, word: str) -> Column:
    """Occurrences of *word* as a whole space-delimited token."""
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    needle = f" {word} "
    return (
        (F.length(padded) - F.length(F.replace(padded, F.lit(needle), F.lit(""))))
        / len(needle)
    ).cast("long")


def lang_scores(text: Column) -> dict:
    return {
        lang: sum_cols([_count_token(text, w) for w in words])
        for lang, words in LANG_MARKERS.items()
    }


def sum_cols(cols):
    out = cols[0]
    for c in cols[1:]:
        out = out + c
    return out


def _lang_argmax(
    df: DataFrame, id_col: str, extra_cols: tuple, scores: dict
) -> tuple[DataFrame, Column, Column]:
    """The argmax of :func:`language_id` and :func:`lang_id_ngram`:
    ``(staged, pred, best)``.  *staged* is ``(id, *extra_cols, _sc)``
    with the per-language *scores* in ONE array column ``_sc``, ordered
    by language; ``best`` is its max and ``pred`` the first language
    reaching it (alphabetical tie-break), ``'unk'`` when ``best`` is 0.

    An inline when-chain formulation duplicates every score subtree
    into each CASE branch and the codegen'd plan re-scans the text for
    each copy; the staged array is referenced several times, so
    CollapseProject keeps the boundary and each score is computed
    exactly once per row."""
    langs = sorted(scores)
    staged = df.select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in extra_cols],
        F.array(*[scores[lang] for lang in langs]).alias("_sc"),
    )
    sc = F.col("_sc")
    best = F.array_max(sc)
    pred = F.when(
        best > 0,
        F.element_at(
            F.array(*[F.lit(lang) for lang in langs]),
            F.array_position(sc, best).cast("int"),
        ),
    ).otherwise(F.lit("unk"))
    return staged, pred, best


def language_id(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id",
                extra_cols: tuple = ()) -> DataFrame:
    """``(id, lang_pred, lang_score)`` — argmax over marker-token counts;
    ties resolve alphabetically ('unk' when all scores are 0).
    *extra_cols* pass through unchanged.  The argmax is
    :func:`_lang_argmax` over the marker counts."""
    staged, pred, best = _lang_argmax(
        df, id_col, extra_cols, lang_scores(F.col(text_col))
    )
    return staged.select(
        "id",
        *extra_cols,
        pred.alias("lang_pred"),
        best.alias("lang_score"),
    )


def quality_scores(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Per-document quality features + composite score:

    - ``n_chars``, ``n_tokens``, ``mean_token_len``
    - ``stopword_ratio`` — fraction of tokens in the English marker set
    - ``alnum_ratio`` — alphanumeric chars / all chars
    - ``quality`` — composite in [0,1]: penalizes too-short docs, zero
      stopwords (gibberish) and low alnum ratio (boilerplate/markup).

    Mirrors the C4/Gopher-style length+stopword+punctuation filters, as
    deterministic arithmetic so the oracle matches exactly.
    """
    text = F.col(text_col)
    toks = F.split(text, " ")
    n_tokens = F.size(F.filter(toks, lambda t: F.length(t) > 0))
    n_chars = F.length(text)
    stop = sum_cols([_count_token(text, w) for w in LANG_MARKERS["en"]])
    alnum = F.length(F.regexp_replace(text, "[^a-zA-Z0-9]", ""))
    mean_tok = (n_chars - (n_tokens - 1)) / n_tokens  # chars net of separators
    stopword_ratio = stop / n_tokens
    alnum_ratio = alnum / n_chars
    quality = (
        F.least(n_tokens / F.lit(20.0), F.lit(1.0)) * 0.4
        + F.least(stopword_ratio * 10.0, F.lit(1.0)) * 0.3
        + alnum_ratio * 0.3
    )
    return df.select(
        F.col(id_col).alias("id"),
        n_chars.cast("long").alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        F.round(mean_tok, 6).alias("mean_token_len"),
        F.round(stopword_ratio, 6).alias("stopword_ratio"),
        F.round(alnum_ratio, 6).alias("alnum_ratio"),
        F.round(quality, 6).alias("quality"),
    )


def _token_count_cols(text: Column) -> tuple[Column, Column]:
    """(ws_tokens, bpe_pieces) expressions shared by :func:`token_counts`
    and :func:`tokenizer_fertility`."""
    toks = F.split(text, " ")
    ws_tokens = F.size(F.filter(toks, lambda t: F.length(t) > 0))
    other_chars = F.length(F.regexp_replace(text, "[a-zA-Z0-9 ]", ""))
    # per-token ceil(len/4) summed == aggregate over the token array
    bpe = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: acc + F.ceil(F.length(F.regexp_replace(t, "[^a-zA-Z0-9]", "")) / 4.0).cast("long"),
    ) + other_chars
    return ws_tokens, bpe


def token_counts(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """``(id, ws_tokens, bpe_pieces)`` — whitespace token count plus a
    BPE-ish piece estimate: alphanumeric runs contribute ceil(len/4)
    pieces (the ~4-chars-per-BPE-token heuristic), other non-space chars
    one piece each.  Pure arithmetic → exact oracle."""
    ws_tokens, bpe = _token_count_cols(F.col(text_col))
    return df.select(
        F.col(id_col).alias("id"),
        ws_tokens.cast("long").alias("ws_tokens"),
        bpe.alias("bpe_pieces"),
    )


def tokenizer_fertility(
    df: DataFrame, lang_col: str = "lang", text_col: str = "text"
) -> DataFrame:
    """Per-language tokenizer fertility: how many BPE-ish pieces the
    tokenizer spends per whitespace word and how many characters each
    piece covers — the standard multilingual-tokenizer efficiency audit
    (Rust et al. 2021, "How Good is Your Tokenizer?"): a language whose
    fertility is far above the corpus norm is under-served by the vocab
    and its documents cost disproportionate sequence length in
    training.  Drives the mixture weighting (``temperature_mixture``)
    and token-budget accounting (``curation.pack_shards``).

    Per language: ``(lang, n_docs, n_ws_tokens, n_pieces, n_chars,
    fertility_ppm = 1e6·pieces div ws_tokens, chars_per_piece_ppm =
    1e6·chars div pieces)`` — exact integer ppm, full SQL replay.

    Scale shape: the per-doc token arithmetic is pure codegen; ONE
    aggregation keyed on language (a handful of groups ⇒ map-side
    combine collapses every partition to ~n_langs rows).
    """
    ws_tokens, bpe = _token_count_cols(F.col(text_col))
    agg = (
        df.select(
            F.col(lang_col).alias("lang"),
            ws_tokens.cast("long").alias("ws"),
            bpe.cast("long").alias("pieces"),
            F.length(text_col).cast("long").alias("chars"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ws").alias("n_ws_tokens"),
            F.sum("pieces").alias("n_pieces"),
            F.sum("chars").alias("n_chars"),
        )
    )
    return agg.select(
        "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_ws_tokens").cast("long").alias("n_ws_tokens"),
        F.col("n_pieces").cast("long").alias("n_pieces"),
        F.col("n_chars").cast("long").alias("n_chars"),
        F.expr(
            "1000000 * n_pieces div greatest(n_ws_tokens, 1)"
        ).alias("fertility_ppm"),
        F.expr(
            "1000000 * n_chars div greatest(n_pieces, 1)"
        ).alias("chars_per_piece_ppm"),
    )


def fingerprints(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                 window: int = 8) -> DataFrame:
    """Winnowing-style document fingerprint: min/max md5 over the doc's
    8-token windows → ``(id, fp_min, fp_max)``.

    Two docs sharing fp_min very likely share an 8-token run (MinHash with
    one permutation over 8-gram shingles); used as a cheap containment /
    clustering key.  md5 (not xxhash64) so the SQL oracle reproduces it.
    All array ops — no explode, no shuffle.
    """
    toks = F.split(F.col(text_col), " ")
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - window, F.lit(0))),
        lambda i: F.md5(F.array_join(F.slice(toks, i + 1, window), " ")),
    )
    return df.select(
        F.col(id_col).alias("id"),
        F.array_min(grams).alias("fp_min"),
        F.array_max(grams).alias("fp_max"),
    )


def vocab_df(df: DataFrame, text_col: str = "text",
             id_col: str = "doc_id") -> DataFrame:
    """Corpus vocabulary statistics: ``(token, doc_freq, total_tf)``.

    The table behind df-capping (see ``dedup.ngram_jaccard_pairs``),
    stopword induction, and tokenizer-vocab planning over a training
    corpus.  One explode + one aggregation; ``count(distinct id)`` and
    ``count(*)`` share the groupBy, and map-side partial aggregation
    collapses each partition's term counts before the shuffle, so the
    exchange is ~vocab-sized, not corpus-sized.
    """
    tok = (
        df.select(F.col(id_col).alias("id"),
                  F.explode(F.split(F.col(text_col), " ")).alias("token"))
        .filter(F.length("token") > 0)
    )
    return tok.groupBy("token").agg(
        F.countDistinct("id").alias("doc_freq"),
        F.count("*").alias("total_tf"),
    )


def _token_pairs(
    df: DataFrame, text_col: str, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """``(base, pairs)``: ``base = (id, t)``, each document's non-empty
    space-split tokens, and ``pairs = (id, prev, cur)``, its adjacent
    token pairs, built map-side from the array (``zip_with`` of two
    slices — no positional self-join, no corpus shuffle)."""
    toks = F.filter(F.split(F.col(text_col), " "), lambda x: F.length(x) > 0)
    base = df.select(F.col(id_col).alias("id"), toks.alias("t"))
    last = F.greatest(F.lit(0), F.size("t") - 1)
    pairs = base.select(
        "id",
        F.explode(
            F.zip_with(
                F.slice("t", 1, last),
                F.slice(F.col("t"), F.lit(2), last),
                lambda a, b: F.struct(a.alias("prev"), b.alias("cur")),
            )
        ).alias("p"),
    ).select("id", "p.prev", "p.cur")
    return base, pairs


def _unigram_table(
    base: DataFrame, vocab_size: int
) -> tuple[DataFrame, DataFrame, int]:
    """The unigram model of :func:`lm_surprisal` and
    :func:`bigram_surprisal` over :func:`_token_pairs`' *base*:
    ``(tok, vocab, n_total)`` — the ``(id, token)`` rows, the
    ``vocab_size`` most frequent tokens ``(token, cu)`` (count desc,
    token asc) and the corpus token count.  The token counts are
    checkpointed eagerly: both the total and the cap read them, and a
    cache entry would stay pinned in the session."""
    tok = base.select("id", F.explode("t").alias("token"))
    counts = (
        tok.groupBy("token")
        .agg(F.count("*").alias("cu"))
        .localCheckpoint(eager=True)
    )
    n_total = int(counts.agg(F.sum("cu")).collect()[0][0])
    vocab = counts.orderBy(F.col("cu").desc(), F.col("token")).limit(vocab_size)
    return tok, vocab, n_total


def _per_doc_bits(scored: DataFrame, n_name: str, flag: str) -> DataFrame:
    """Per-doc rollup of ``(id, bits, <flag>)`` scored rows: ``(id,
    <n_name>, sum_bits, mean_bits, <flag>_frac)``, the means rounded
    to 6 dp."""
    n = F.count("*")
    return scored.groupBy("id").agg(
        n.alias(n_name),
        F.sum("bits").alias("sum_bits"),
        F.round(F.sum("bits") / n, 6).alias("mean_bits"),
        F.round(F.sum(flag) / n, 6).alias(f"{flag}_frac"),
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 5,
    k: int = 100,
) -> DataFrame:
    """Collocation mining: the top-*k* adjacent token pairs by PMI-rank
    — ``(tok1, tok2, c_pair, c_tok1, c_tok2, score_micro)``.  The
    vocabulary-curation signal (multi-word units worth single tokens,
    Church & Hanks 1990) over a training corpus.

    PMI = log( p(x,y) / (p(x)·p(y)) ) = log( c_xy·N²/N_bi / (c_x·c_y) )
    — the N²/N_bi factor is CONSTANT across pairs, so PMI *ordering* is
    exactly the ordering of the rational ``c_xy / (c_x·c_y)``.  The
    operator's contract is the integer surrogate ``score_micro =
    (1_000_000·c_pair) div (c_tok1·c_tok2)`` with deterministic
    tie-breaks ``(score_micro desc, c_pair desc, tok1, tok2)`` — pure
    BIGINT arithmetic, no log, no float, replayable bit-for-bit by any
    engine (the same no-libm discipline as ``lm_surprisal``).

    Scale shape: bigrams are built map-side from the token array
    (``zip_with`` of two slices — no positional self-join); unigram and
    bigram counts are two map-side-combined aggregations whose
    exchanges carry one row per distinct (bi)gram; the ``min_count``
    filter prunes the long tail before the two token-keyed count joins;
    the final top-k is ``TakeOrderedAndProject`` — no global sort.
    """
    base, pairs = _token_pairs(df, text_col, id_col)
    uni = (
        base.select(F.explode("t").alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cu"))
    )
    bi = (
        pairs.groupBy(F.col("prev").alias("tok1"), F.col("cur").alias("tok2"))
        .agg(F.count("*").alias("c_pair"))
        .filter(F.col("c_pair") >= min_count)
    )
    scored = (
        bi.join(uni.select(F.col("token").alias("tok1"),
                           F.col("cu").alias("c_tok1")), "tok1")
        .join(uni.select(F.col("token").alias("tok2"),
                         F.col("cu").alias("c_tok2")), "tok2")
        .withColumn(
            "score_micro",
            F.expr("(1000000 * c_pair) div (c_tok1 * c_tok2)"),
        )
    )
    return (
        scored.orderBy(
            F.col("score_micro").desc(),
            F.col("c_pair").desc(),
            "tok1",
            "tok2",
        )
        .limit(k)
        .select("tok1", "tok2", "c_pair", "c_tok1", "c_tok2", "score_micro")
    )


def _bitlen(x):
    """floor(log2(x)) + 1 for x ≥ 1, as EXACT integer arithmetic
    (binary-string length) — no libm, so Spark and any SQL engine agree
    bit-for-bit where a float ``log2`` could round differently at
    powers of two."""
    return F.length(F.bin(x))


def lm_surprisal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 4096,
) -> DataFrame:
    """Corpus-trained unigram LM quality score (CCNet-style filtering,
    integer-quantized): ``(id, n_tokens, sum_bits, mean_bits, oov_frac)``.

    Train: token totals over the WHOLE corpus, capped to the
    ``vocab_size`` most frequent tokens (count desc, token asc — the
    standard vocab cap; everything else is OOV).  Score: each token's
    surprisal in whole bits, ``bitlen(N) - bitlen(c + 1)`` where ``N`` is
    the corpus token count and ``c`` the token's (0 for OOV) — an
    integer quantization of ``log2 (N / (c+1))``, i.e. rarer token ⇒
    more bits, exactly the statistic a perplexity filter thresholds on.
    A real CCNet deployment swaps in a KenLM 5-gram; the *pipeline
    contract* — corpus-trained stats → bounded broadcast table →
    map-side scoring → threshold — is identical, and the integer
    quantization makes every value an exact cross-engine sum (bit
    lengths, not libm logs; order-independent BIGINT additions, so the
    result cannot depend on partitioning).

    Scale shape: ONE vocab aggregation (map-side combine, vocab-sized
    exchange) + a ``TakeOrderedAndProject`` cap; ``N`` reduces from the
    same grouped counts.  Scoring explodes tokens (narrow) and
    broadcast-joins the ≤``vocab_size``-row table — the corpus never
    shuffles until the per-doc ``groupBy(id)`` partial-aggregated
    rollup (3 longs per doc crossing the exchange).
    """
    base, _ = _token_pairs(df, text_col, id_col)
    tok, vocab, n_total = _unigram_table(base, vocab_size)
    bits = _bitlen(F.lit(n_total)) - _bitlen(F.coalesce(F.col("cu"), F.lit(0)) + 1)
    scored = tok.join(F.broadcast(vocab), "token", "left").select(
        "id",
        bits.cast("long").alias("bits"),
        F.col("cu").isNull().cast("long").alias("oov"),
    )
    return _per_doc_bits(scored, "n_tokens", "oov")


def bigram_surprisal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 4096,
    bigram_size: int = 4096,
    backoff_bits: int = 2,
) -> DataFrame:
    """Corpus-trained bigram LM with stupid backoff (Brants et al. 2007,
    "Large Language Models in Machine Translation"), integer-quantized:
    ``(id, n_bigrams, sum_bits, mean_bits, backoff_frac)`` — the 2-gram
    upgrade of ``lm_surprisal`` (same exact-bits discipline, now with
    CONTEXT: a doc full of frequent-but-incoherent tokens scores well on
    the unigram filter and badly here).

    Model: top-``bigram_size`` bigrams and top-``vocab_size`` unigrams
    (count desc, token asc).  A transition (prev → cur) whose bigram AND
    prev-unigram are in-table scores ``bitlen(c_prev) - bitlen(c_bi)``
    (an integer quantization of ``log2 (c(prev) / c(prev,cur))``, ≥ 0
    since every bigram occurrence embeds a prev occurrence); otherwise
    stupid backoff to the unigram: ``backoff_bits + bitlen(N) -
    bitlen(c_cur + 1)`` (the +``backoff_bits`` is the α≈2^-b penalty,
    kept integral).  Docs need ≥ 2 tokens to emit a row.  All values are
    exact BIGINT sums of bit lengths — cross-engine, order- and
    partitioning-independent.

    Scale shape: TWO training aggregations (unigram + bigram counts,
    both map-side combined; the bigram exchange carries one row per
    distinct bigram, not per occurrence) capped by
    ``TakeOrderedAndProject``.  Adjacent pairs are built map-side from
    the token array (``zip_with`` of two slices — no positional
    self-join, no corpus shuffle), scored via three broadcast joins
    against the ≤``vocab/bigram_size``-row tables, and rolled up per doc
    (4 longs per doc crossing the final exchange).
    """
    base, pairs = _token_pairs(df, text_col, id_col)
    _, vocab, n_total = _unigram_table(base, vocab_size)
    bitable = (
        pairs.groupBy("prev", "cur")
        .agg(F.count("*").alias("cb"))
        .orderBy(F.col("cb").desc(), F.col("prev"), F.col("cur"))
        .limit(bigram_size)
    )
    v_prev = vocab.select(
        F.col("token").alias("prev"), F.col("cu").alias("c_prev")
    )
    v_cur = vocab.select(F.col("token").alias("cur"), F.col("cu").alias("c_cur"))
    seen = F.col("cb").isNotNull() & F.col("c_prev").isNotNull()
    bits = F.when(
        seen, _bitlen(F.col("c_prev")) - _bitlen(F.col("cb"))
    ).otherwise(
        F.lit(int(backoff_bits))
        + _bitlen(F.lit(n_total))
        - _bitlen(F.coalesce(F.col("c_cur"), F.lit(0)) + 1)
    )
    scored = (
        pairs.join(F.broadcast(bitable), ["prev", "cur"], "left")
        .join(F.broadcast(v_prev), "prev", "left")
        .join(F.broadcast(v_cur), "cur", "left")
        .select(
            "id",
            bits.cast("long").alias("bits"),
            (~seen).cast("long").alias("backoff"),
        )
    )
    return _per_doc_bits(scored, "n_bigrams", "backoff")


def classifier_score(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id",
                     salt: str = "w") -> DataFrame:
    """Hashed-linear quality classifier scoring — the fastText /
    CCNet-style "model-based quality filter" leg of the curation
    pipeline: score(doc) = mean over tokens of weight[h(token)].

    The weight table is the *hashing-trick* form (weight = a function of
    the token's hash bucket, here md5-derived integer in [-1000, 1000]),
    so there is no model file to ship: the "model" is a pure expression,
    which is exactly how a real hashed linear model deploys at 100 TB —
    broadcast-free, map-side, inside whole-stage codegen.  Swapping in
    trained weights means replacing the hash-to-weight expression with a
    ``F.element_at`` against a broadcast weight array; the operator
    contract (map-side tokenwise sum, zero shuffle) is identical.

    Integer token weights summed as BIGINT keep the whole derivation
    exact for the SQL oracle — including the mean, which is emitted as
    ``mean_milli`` (mean weight in 1/1000 units, truncated toward zero)
    rather than a rounded double: ``score_sum/n/1000`` lands on exact
    ties at 6 dp (denominator n·1000) where Spark's HALF_UP and
    DuckDB's bankers' rounding disagree, so no float ever crosses the
    oracle boundary here.

    Output: ``(id, n_tokens, score_sum, mean_milli, label)`` with
    ``label = score_sum > 0`` (an exact integer comparison, so the
    decision boundary itself never depends on float rounding).
    """
    toks = F.filter(
        F.split(F.col(text_col), " "), lambda t: F.length(t) > 0
    )
    wts = F.transform(
        toks,
        lambda t: F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{salt}:"), t)), 1, 5), 16, 10
        ).cast("long") % 2001 - 1000,
    )
    score = F.aggregate(wts, F.lit(0).cast("long"), lambda a, x: a + x)
    n = F.size(toks).cast("long")
    sums = df.select(
        F.col(id_col).alias("id"),
        n.alias("n_tokens"),
        score.alias("score_sum"),
    )
    # trunc-toward-zero via sign·(|sum|·1000 div n): `div` truncates in
    # Spark but DuckDB's `//` floors, so negatives go through abs
    return sums.select(
        "id",
        "n_tokens",
        "score_sum",
        F.when(
            F.col("n_tokens") > 0,
            F.signum("score_sum").cast("long")
            * F.expr("(abs(score_sum) * 1000) div n_tokens"),
        ).alias("mean_milli"),
        (F.col("score_sum") > 0).alias("label"),
    )


def token_divergence(
    df: DataFrame,
    text_col: str = "text",
    slice_col: str = "lang",
    slice_a: str = "en",
    slice_b: str | None = None,
    k: int = 100,
) -> DataFrame:
    """Top divergent tokens between two corpus slices — the data-mixing
    diagnostic (which tokens are over-represented in slice A relative
    to slice B; the per-token terms of KL(P_a ‖ P_b) with add-one
    smoothing).  ``slice_b=None`` means "everything that isn't A".

    Integer quantization (whole bits, same `_bitlen` discipline as
    :func:`lm_surprisal`): per token with ``cnt_a >= 1``::

        bits   = (bitlen(cnt_a) + bitlen(n_b + n_vocab))
                 - (bitlen(cnt_b + 1) + bitlen(n_a))     -- ~ log2 ratio
        w_bits = cnt_a * bits                            -- KL term * n_a

    The SUM of bitlens (not bitlen of the product) keeps every operand
    < 2^63 at any corpus size — no overflow at 10^12-token slices —
    while staying an exact cross-engine integer spec.  Output: the top
    *k* tokens by ``(w_bits desc, token asc)`` with their counts.

    Scale shape: one (token)-keyed aggregation with map-side combine
    (conditional sums — the slice flag never shuffles separately), a
    1-row totals aggregate broadcast as literals, then a
    ``TakeOrderedAndProject`` cap — no global sort, no join.
    """
    tok = df.select(
        F.explode(F.split(F.col(text_col), " ")).alias("token"),
        F.col(slice_col).alias("s"),
    ).filter(F.length("token") > 0)
    in_a = (F.col("s") == slice_a).cast("long")
    in_b = (
        (F.col("s") == slice_b) if slice_b is not None
        else (F.col("s") != slice_a)
    ).cast("long")
    counts = (
        tok.select("token", in_a.alias("a"), in_b.alias("b"))
        .groupBy("token")
        .agg(F.sum("a").alias("cnt_a"), F.sum("b").alias("cnt_b"))
        .cache()
    )
    tot = counts.agg(
        F.sum("cnt_a").alias("na"),
        F.sum("cnt_b").alias("nb"),
        F.count(F.lit(1)).alias("v"),
    ).collect()[0]
    n_a, n_bv = int(tot["na"]), int(tot["nb"]) + int(tot["v"])
    bits = (
        _bitlen(F.col("cnt_a")) + _bitlen(F.lit(n_bv))
        - _bitlen(F.col("cnt_b") + 1) - _bitlen(F.lit(n_a))
    ).cast("long")
    scored = (
        counts.filter(F.col("cnt_a") > 0)
        .withColumn("bits", bits)
        .withColumn("w_bits", F.col("cnt_a") * F.col("bits"))
    )
    return scored.orderBy(F.col("w_bits").desc(), F.col("token")).limit(k)


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD'03
    — the MOSS scheme): from every window of ``w`` consecutive
    ``k``-token-gram hashes, select the minimum (rightmost on ties) —
    the selected (position, hash) set is the document's fingerprint.
    Returns one row per selected fingerprint: ``(id, pos, fp)``.

    The winnowing guarantee: any shared token run of length ≥ w+k-1
    between two documents yields at least one shared fingerprint, while
    only ~2/(w+1) of all grams are kept — the density/guarantee
    trade-off that made it the plagiarism-detection standard and the
    upgrade over :func:`fingerprints`'s single min-hash (which detects
    *whole-doc* similarity, not contained runs).

    Scale shape: the whole selection is per-document array expressions
    (md5 grams, per-window ``array_min`` + rightmost-position filter,
    ``array_distinct``) — map-side codegen, zero shuffle; only the
    final explode emits the ~2n/(w+1) fingerprint rows.  Matching is
    then an equi-join on ``fp`` (the inverted-index discipline — cap
    hot fps like ``mirror_hosts`` caps hot digests).  md5, not
    xxhash64, so DuckDB replays every byte.

    Short docs: fewer than k tokens → one gram (the truncated whole
    doc); fewer than w grams → one window (all grams).

    The gram array is materialized as its own projection before the
    window pass: inlining it would make every ``element_at`` inside the
    window lambdas re-evaluate the whole md5 transform — an O(n²·w)
    blowup per doc (measured: minutes instead of seconds at sf0.01).
    Catalyst's CollapseProject keeps the split because the gram column
    is referenced more than once downstream.
    """
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(n - k, F.lit(0))),
        lambda i: F.md5(F.array_join(F.slice(toks, i + 1, k), " ")),
    )
    g = df.select(F.col(id_col).alias("id"), grams.alias("g"))
    gc = F.col("g")
    glen = F.size(gc)
    last = glen - 1

    def pick(j):
        jend = F.least(j + w - 1, last)
        minh = F.array_min(F.slice(gc, j + 1, w))
        pos = F.array_max(
            F.filter(
                F.sequence(j, jend),
                lambda i: F.element_at(gc, i + 1) == minh,
            )
        )
        return F.struct(pos.alias("pos"), minh.alias("fp"))

    wins = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(glen - w, F.lit(0))), pick
        )
    )
    return g.select("id", F.explode(wins).alias("s")).select(
        "id",
        F.col("s.pos").cast("int").alias("pos"),
        F.col("s.fp").alias("fp"),
    )


def winnow_oracle_sql(
    docs_sql: str, k: int = 5, w: int = 4
) -> str:
    """DuckDB recomputation of :func:`winnow_fingerprints` over any
    ``(id, text)``-shaped subquery — same gram/window/rightmost-min
    derivation via unnested ranges + a per-window rank."""
    return f"""
        with docs as (select * from ({docs_sql}) t),
        toks as (select id, string_split(text, ' ') tk from docs),
        gpos as (select id, tk,
                        unnest(range(0, greatest(len(tk) - {k}, 0) + 1)) i
                 from toks),
        grams as (select id, i,
                         md5(array_to_string(
                             tk[i + 1 : least(i + {k}, len(tk))], ' ')) h
                  from gpos),
        glen as (select id, count(*) gl from grams group by 1),
        wpos as (select id, gl,
                        unnest(range(0, greatest(gl - {w}, 0) + 1)) j
                 from glen),
        sel as (select wp.id, wp.j, g.i, g.h,
                       row_number() over (
                         partition by wp.id, wp.j
                         order by g.h asc, g.i desc) rn
                from wpos wp
                join grams g on g.id = wp.id
                 and g.i between wp.j and least(wp.j + {w} - 1, wp.gl - 1))
        select distinct id, i::int as pos, h as fp
        from sel where rn = 1
    """


# script ranges (BMP blocks): name -> character-class regex.  Literal
# range chars, identical bytes in Java regex (Spark) and RE2 (DuckDB).
SCRIPT_RANGES = [
    ("latin", "[A-Za-zÀ-ɏ]"),
    ("cyrillic", "[Ѐ-ӿ]"),
    ("cjk", "[一-鿿぀-ヿ]"),
    ("arabic", "[؀-ۿ]"),
]


def script_profile(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Writing-system detection by codepoint-range counts — the
    coverage :func:`language_id` (stopword markers, space-tokenized
    European languages) structurally cannot give: CJK has no spaces,
    Cyrillic/Arabic share no markers.  A webtext pipeline routes on
    script FIRST (tokenizer choice, lang-ID model choice, CJK-specific
    dedup shingling), then on language within the script.

    Returns ``(id, n_chars, latin, cyrillic, cjk, arabic,
    dominant_script, script_pct)``: per-range character counts, the
    argmax range (ties broken by the fixed order of SCRIPT_RANGES;
    ``unknown`` when all counts are 0), and integer percent of counted
    script chars in the dominant range.

    Scale shape: one ``regexp_replace``-difference count per range —
    pure map-side codegen, zero shuffle, no explode (counting via
    length delta, not extraction).  Exact SQL oracle (DuckDB replays
    with RE2 + the same tie-break chain).
    """
    t = F.col(text_col)
    counts = {
        name: F.length(t)
        - F.length(F.regexp_replace(t, pat, ""))
        for name, pat in SCRIPT_RANGES
    }
    names = [n for n, _ in SCRIPT_RANGES]
    total = None
    for n in names:
        total = counts[n] if total is None else total + counts[n]
    # fixed-order argmax: later entries win only with STRICTLY larger
    # counts, so ties resolve to the earlier range
    dom_expr = F.lit("unknown")
    for n in names:
        cond = (counts[n] > 0)
        for m in names:
            if m == n:
                continue
            if names.index(m) < names.index(n):
                cond = cond & (counts[n] > counts[m])
            else:
                cond = cond & (counts[n] >= counts[m])
        dom_expr = F.when(cond, F.lit(n)).otherwise(dom_expr)
    dom_count = F.lit(0)
    for n in names:
        dom_count = F.when(dom_expr == n, counts[n]).otherwise(dom_count)
    return df.select(
        F.col(id_col).alias("id"),
        F.length(t).cast("long").alias("n_chars"),
        *[counts[n].cast("long").alias(n) for n in names],
        dom_expr.alias("dominant_script"),
        F.when(total > 0, (100 * dom_count.cast("long")) / total)
        .otherwise(F.lit(None))
        .cast("long")
        .alias("script_pct"),
    )


def script_oracle_sql(docs_sql: str) -> str:
    """DuckDB recomputation of :func:`script_profile`."""
    cnt = {
        name: (
            f"(length(text) - length(regexp_replace(text,"
            f" '{pat}', '', 'g')))::BIGINT"
        )
        for name, pat in SCRIPT_RANGES
    }
    names = [n for n, _ in SCRIPT_RANGES]
    total = " + ".join(f"c.{n}" for n in names)
    dom = "'unknown'"
    # build the same fixed-order argmax chain, innermost-first
    chains = []
    for n in names:
        conds = [f"c.{n} > 0"]
        for m in names:
            if m == n:
                continue
            op = ">" if names.index(m) < names.index(n) else ">="
            conds.append(f"c.{n} {op} c.{m}")
        chains.append((n, " and ".join(conds)))
    dom_expr = "'unknown'"
    for n, cond in reversed(chains):
        dom_expr = f"case when {cond} then '{n}' else {dom_expr} end"
    dom_cnt = "0"
    for n in names:
        dom_cnt = f"case when d.dominant_script = '{n}' then c.{n} else {dom_cnt} end"
    cols = ",\n".join(f"{expr} as {name}" for name, expr in cnt.items())
    return f"""
        with docs as (select * from ({docs_sql}) t),
        c as (select id, length(text)::BIGINT n_chars, {cols}
              from docs),
        d as (select c.*, {dom_expr} as dominant_script from c)
        select d.id, d.n_chars, {', '.join('d.' + n for n in names)},
               d.dominant_script,
               case when ({total.replace('c.', 'd.')}) > 0
                    then ((100 * ({dom_cnt.replace('c.', 'd.')}))
                          // ({total.replace('c.', 'd.')}))::BIGINT
               end as script_pct
        from d
    """


def bpe_merge_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 50,
) -> DataFrame:
    """Tokenizer-training primitive: the top-*k* adjacent CHARACTER
    pairs by corpus frequency — exactly the statistic BPE's first merge
    iteration maximizes (Sennrich et al. 2016; byte/char symbols, every
    whitespace token an independent sequence).  Returns ``(sym1, sym2,
    pair_count)`` ordered by ``(count desc, sym1, sym2)`` — the
    deterministic merge-pick order.

    Scale shape — the move that makes BPE training tractable on 10^10
    docs: pair counting runs over the VOCABULARY (distinct token →
    corpus count via one map-side-combine groupBy; the exchange is
    vocab-sized, not corpus-sized), then per-token character pairs are
    array expressions weighted by the token's corpus count.  The final
    top-k is ``TakeOrderedAndProject`` (per-partition heaps), never a
    global sort.  Exact integer counts ⇒ exact SQL oracle.
    """
    tok = (
        df.select(
            F.explode(F.split(F.col(text_col), " ")).alias("token")
        )
        .filter(F.length("token") > 1)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("tok_cnt"))
    )
    pairs = F.transform(
        F.sequence(F.lit(1), F.length("token") - 1),
        lambda i: F.struct(
            F.substring(F.col("token"), i, 1).alias("sym1"),
            F.substring(F.col("token"), i + 1, 1).alias("sym2"),
        ),
    )
    return (
        tok.select(F.explode(pairs).alias("p"), "tok_cnt")
        .groupBy(
            F.col("p.sym1").alias("sym1"), F.col("p.sym2").alias("sym2")
        )
        .agg(F.sum("tok_cnt").cast("long").alias("pair_count"))
        .orderBy(F.desc("pair_count"), F.asc("sym1"), F.asc("sym2"))
        .limit(k)
    )


def bpe_oracle_sql(docs_sql: str, k: int = 50) -> str:
    """DuckDB recomputation of :func:`bpe_merge_candidates`."""
    return f"""
        with docs as (select * from ({docs_sql}) t),
        tok as (select tk as token, count(*)::BIGINT tok_cnt
                from docs, unnest(string_split(text, ' ')) u(tk)
                where length(tk) > 1 group by 1),
        pairs as (select substr(token, i, 1) sym1,
                         substr(token, i + 1, 1) sym2,
                         tok_cnt
                  from tok, unnest(range(1, length(token))) r(i)),
        agg as (select sym1, sym2, sum(tok_cnt)::BIGINT pair_count
                from pairs group by 1, 2)
        select * from agg
        order by pair_count desc, sym1, sym2
        limit {k}
    """


def bpe_encode(
    df: DataFrame,
    merges: list,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a learned BPE merge table: tokenize every whitespace token
    into subword pieces — the other half of the tokenizer next to
    :func:`bpe_merge_candidates` (which mines the merges).  Returns
    ``(id, n_tokens, n_pieces, pieces_md5)`` — piece counts plus a
    digest of the full piece sequence (space-and-slash joined), so the
    exact segmentation is pinned without shipping a pieces column.

    Encoding follows the reference BPE rule: merges apply in priority
    order; each merge rewrites ALL current occurrences of its pair,
    leftmost-first for overlaps — exactly the semantics of a string
    ``replace`` over the space-separated symbol sequence, which is how
    it is implemented: token → ``' c1 c2 … '``, then one global
    ``replace(' a b ', ' ab ')`` per merge, unrolled (the merge table
    is tokenizer config — bounded, driver-side, the k-means-centroid
    precedent).  ``Σ n_pieces`` per doc is then symbols remaining.

    Scale shape: M+2 string expressions per token, all map-side
    codegen over the vocab-free doc scan; zero shuffle, no UDF.  Spark
    ``replace`` and DuckDB ``replace`` share leftmost-non-overlapping
    semantics, so the oracle replays byte-for-byte.
    """
    toks = F.split(F.col(text_col), " ")

    def encode_one(t):
        # ' c1 c2 ... cn ' — spaces as symbol separators
        seq = F.concat(
            F.lit(" "),
            F.array_join(F.split(t, ""), " "),
            F.lit(" "),
        )
        for a, b in merges:
            seq = F.replace(
                seq, F.lit(f" {a} {b} "), F.lit(f" {a}{b} ")
            )
        return F.trim(seq)

    pieces = F.transform(
        F.filter(toks, lambda t: F.length(t) > 0), encode_one
    )
    n_pieces = F.aggregate(
        pieces,
        F.lit(0).cast("long"),
        lambda acc, p: acc
        + F.size(F.split(p, " ")).cast("long"),
    )
    return df.select(
        F.col(id_col).alias("id"),
        F.size(F.filter(toks, lambda t: F.length(t) > 0))
        .cast("long")
        .alias("n_tokens"),
        n_pieces.alias("n_pieces"),
        F.md5(F.array_join(pieces, "/")).alias("pieces_md5"),
    )


def bpe_encode_oracle_sql(docs_sql: str, merges: list) -> str:
    """DuckDB recomputation of :func:`bpe_encode` — the same unrolled
    replace chain per token."""
    seq = (
        "' ' || array_to_string(string_split(t.tok, ''), ' ') || ' '"
    )
    for a, b in merges:
        seq = f"replace({seq}, ' {a} {b} ', ' {a}{b} ')"
    return f"""
        with docs as (select * from ({docs_sql}) d),
        lst as (select id,
                       list_filter(string_split(text, ' '),
                                   x -> length(x) > 0) l
                from docs),
        tok as (select id, i as ord, l[i] tok
                from lst, unnest(range(1, len(l) + 1)) r(i)),
        enc as (select id, ord, trim({seq}) piece
                from tok t),
        per_doc as (select id,
                           count(*)::BIGINT n_tokens,
                           sum(len(string_split(piece, ' ')))::BIGINT
                             n_pieces,
                           md5(string_agg(piece, '/' order by ord))
                             pieces_md5
                    from enc group by 1)
        select id, n_tokens, n_pieces, pieces_md5 from per_doc
    """


# typographic / invisible-character normalization table (explicit and
# auditable -- the subset of NFKC a dedup pipeline actually needs; full
# NFKC needs ICU, unavailable here and mostly irrelevant for dedup keys)
NORMALIZE_MAP = [
    ("\u00a0", " "),                      # nbsp
    ("\u2018", "'"), ("\u2019", "'"),     # curly single quotes
    ("\u201c", '"'), ("\u201d", '"'),     # curly double quotes
    ("\u2013", "-"), ("\u2014", "-"),     # en/em dash
    ("\u2026", "..."),                    # ellipsis
]
# C0 controls (minus \t \n \r), zero-width space/joiners, BOM
STRIP_RE = (
    "[\u0000-\u0008\u000b\u000c\u000e-\u001f"
    "\u200b-\u200d\ufeff]"
)


def normalize_text(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Canonicalize text before it becomes a dedup/shingle key:
    strip control and zero-width characters (the classic dedup evader --
    two byte-distinct pages, one rendered text), map typographic
    punctuation to ASCII (curly quotes, dashes, ellipsis, nbsp), then
    collapse whitespace runs and trim.  CMSes disagree on exactly these
    characters, so without this pass exact/near dedup fragments into
    CMS dialects.

    Returns ``(id, text, n_changed)`` -- the normalized text plus the
    net character-count change of the pass (0 usually means untouched;
    the audit column).  Order: strip -> map -> collapse, each an
    explicit rule (NORMALIZE_MAP / STRIP_RE are module constants --
    auditable, extendable, and replayed verbatim by the oracle).

    Scale shape: pure map-side replace/regexp chain, zero shuffle.
    """
    t = F.col(text_col)
    orig_len = F.length(t)
    s = F.regexp_replace(t, STRIP_RE, "")
    for src, dst in NORMALIZE_MAP:
        s = F.replace(s, F.lit(src), F.lit(dst))
    s = F.trim(F.regexp_replace(s, "\\s+", " "))
    return df.select(
        F.col(id_col).alias("id"),
        s.alias("text"),
        (orig_len - F.length(s)).cast("long").alias("n_changed"),
    )


def normalize_oracle_sql(docs_sql: str) -> str:
    """DuckDB recomputation of :func:`normalize_text`."""
    s = "text"
    # same class as STRIP_RE in RE2's \x{hhhh} escape syntax
    strip = (
        "[\\x{0000}-\\x{0008}\\x{000b}\\x{000c}"
        "\\x{000e}-\\x{001f}\\x{200b}-\\x{200d}\\x{feff}]"
    )
    s = f"regexp_replace({s}, '{strip}', '', 'g')"
    for src, dst in NORMALIZE_MAP:
        d = dst.replace("'", "''")
        s = f"replace({s}, '{src}', '{d}')"
    s = f"trim(regexp_replace({s}, '\\s+', ' ', 'g'))"
    return f"""
        with docs as (select * from ({docs_sql}) t)
        select id, {s} as text,
               (length(text) - length({s}))::BIGINT as n_changed
        from docs
    """



# char-trigram profiles (Cavnar & Trenkle '94 reduced to a fixed,
# auditable table): top trigrams of a seed paragraph per language,
# weight = profile_size - rank.  Module constants so both engines score
# the identical table; built deterministically at import from the seed
# texts below (no I/O, no randomness).
_LID_SEEDS = {
    "en": "the quick brown fox jumps over the lazy dog and then the "
          "other dogs that were there with them all day",
    "de": "der schnelle braune fuchs springt ueber den faulen hund und "
          "dann die anderen hunde die den ganzen tag dort waren",
    "fr": "le rapide renard brun saute par dessus le chien paresseux et "
          "puis les autres chiens qui etaient la toute la journee",
    "es": "el rapido zorro marron salta sobre el perro perezoso y luego "
          "los otros perros que estuvieron alli todo el dia",
}
_LID_PROFILE_SIZE = 15


def _build_profiles():
    out = {}
    for lang, seed in _LID_SEEDS.items():
        s = " " + seed + " "
        counts = {}
        for i in range(len(s) - 2):
            g = s[i:i + 3]
            counts[g] = counts.get(g, 0) + 1
        top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        out[lang] = [
            (g, _LID_PROFILE_SIZE - r)
            for r, (g, _) in enumerate(top[:_LID_PROFILE_SIZE])
        ]
    return out


LID_PROFILES = _build_profiles()


def _count_substr(padded: Column, needle: str) -> Column:
    return (
        (F.length(padded) - F.length(
            F.replace(padded, F.lit(needle), F.lit(""))
        )) / len(needle)
    ).cast("long")


def lang_id_ngram(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    extra_cols: tuple = (),
) -> DataFrame:
    """Character-trigram language ID -- the profile-based upgrade of
    :func:`language_id` (whose stopword markers need spaces and full
    words; trigram profiles score partial words, no-space text and
    mixed content).  Per language: ``score = sum over profile trigrams
    of count(text, trigram) * (profile_size - rank)`` -- integer, over
    the fixed LID_PROFILES table; prediction is the argmax with
    alphabetical tie-break, 'unk' at score 0.

    Returns ``(id, lang_pred, lang_score, margin)`` where ``margin`` =
    best minus second-best score (the confidence signal a router
    thresholds on).

    Scale shape: ~60 replace-count expressions, all map-side codegen,
    zero shuffle; exact SQL oracle over the same constant table.  The
    per-language scores live in ONE staged array column
    (:func:`_lang_argmax`): the previous when-chain formulation
    duplicated every trigram-count subtree ~8× across the
    argmax/second-best branches, and the plan re-scanned the text for
    each copy — measured 2.8 s → 0.6 s warm at sf0.1/local[32] after
    the restructure.  ``second`` = element 2 of the descending-sorted
    score array, which equals the old "greatest with the argmax lang
    zeroed" on every branch: unique argmax → true runner-up; tied best
    → best; all-zero → 0.
    """
    padded = F.concat(F.lit(" "), F.lower(F.col(text_col)), F.lit(" "))
    scores = {
        lang: sum_cols(
            [_count_substr(padded, g) * w for g, w in profile]
        ).cast("long")
        for lang, profile in LID_PROFILES.items()
    }
    staged, pred, best = _lang_argmax(df, id_col, extra_cols, scores)
    second = F.element_at(F.reverse(F.array_sort(F.col("_sc"))), 2)
    return staged.select(
        "id",
        *extra_cols,
        pred.alias("lang_pred"),
        best.cast("long").alias("lang_score"),
        (best - second).cast("long").alias("margin"),
    )


def lang_id_ngram_oracle_sql(docs_sql: str) -> str:
    """DuckDB recomputation of :func:`lang_id_ngram` over the same
    LID_PROFILES constants."""

    def cnt(g: str) -> str:
        e = g.replace("'", "''")
        return (
            f"((length(p) - length(replace(p, '{e}', ''))) / 3)::BIGINT"
        )

    score = {
        lang: " + ".join(f"{cnt(g)} * {w}" for g, w in prof)
        for lang, prof in LID_PROFILES.items()
    }
    cols = ",\n".join(
        f"({expr}) as s_{lang}" for lang, expr in score.items()
    )
    langs = sorted(LID_PROFILES)
    best = "greatest(" + ", ".join(f"s_{l}" for l in langs) + ")"
    pred = "'unk'"
    for lang in sorted(langs, reverse=True):
        pred = (
            f"case when s_{lang} = best and best > 0"
            f" then '{lang}' else {pred} end"
        )
    second_terms = ", ".join(
        f"case when lang_pred = '{l}' then 0 else s_{l} end" for l in langs
    )
    return f"""
        with docs as (select * from ({docs_sql}) t),
        p as (select id, ' ' || lower(text) || ' ' as p from docs),
        s as (select id, {cols} from p),
        b as (select *, {best} as best from s),
        pr as (select *, {pred} as lang_pred from b)
        select id, lang_pred, best::BIGINT as lang_score,
               (best - greatest({second_terms}))::BIGINT as margin
        from pr
    """


def paragraph_lang_mix(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Paragraph-level language profiling (the mC4/CCNet move: web
    pages are routinely MIXED-language — an English article with French
    pull-quotes, boilerplate in the site's language — and a document-
    level LID call mislabels or discards them wholesale).  Split on
    blank lines, run :func:`lang_id_ngram` per paragraph, and roll up:

    ``(id, n_paras, n_langs, dominant_lang, dominant_n, mix_ppm)``

    where ``dominant_lang`` is the most frequent paragraph language
    (ties to the lexicographically larger tag — the exact semantics of
    ``max(struct(n, lang))``, replayed by the oracle), and ``mix_ppm =
    10^6·(n_paras − dominant_n) div n_paras`` — the exact-integer
    fraction of paragraphs OUTSIDE the dominant language, the router
    signal for segment-level extraction vs whole-doc keep/drop.
    'unk' paragraphs count as their own language class.

    Scale shape: the explode and the trigram scoring are map-side; the
    first exchange carries (id, lang_pred) pairs — narrow rows, never
    paragraph text — with map-side combine; the rollup groupBy(id)
    reuses the same partitioning.  Empty/whitespace paragraphs are
    dropped before scoring (docs with no usable paragraph are absent
    from the output).
    """
    paras = (
        df.select(
            F.col(id_col).alias("id"),
            F.posexplode(F.split(F.col(text_col), "\n\n")).alias(
                "idx", "para"
            ),
        )
        .filter(F.length(F.trim(F.col("para"))) > 0)
    )
    scored = lang_id_ngram(paras, text_col="para", id_col="id")
    per_lang = scored.groupBy("id", "lang_pred").agg(
        F.count(F.lit(1)).alias("n")
    )
    agg = per_lang.groupBy("id").agg(
        F.sum("n").alias("n_paras"),
        F.count(F.lit(1)).alias("n_langs"),
        F.max(F.struct(F.col("n"), F.col("lang_pred"))).alias("dom"),
    )
    return agg.select(
        "id",
        F.col("n_paras").cast("long").alias("n_paras"),
        F.col("n_langs").cast("long").alias("n_langs"),
        F.col("dom.lang_pred").alias("dominant_lang"),
        F.col("dom.n").cast("long").alias("dominant_n"),
        F.expr("(1000000 * (n_paras - dom.n)) div n_paras").alias(
            "mix_ppm"
        ),
    )


def paragraph_lang_oracle_sql(
    docs_sql: str, sep_sql: str = "chr(10) || chr(10)"
) -> str:
    """DuckDB replay of :func:`paragraph_lang_mix`: explode on the
    separator, score each paragraph through the SAME
    :func:`lang_id_ngram_oracle_sql` profile table (composite
    ``doc#idx`` ids thread the paragraph identity through), then the
    two-level rollup with the ``(n desc, lang desc)`` dominance rule."""
    paras_sql = f"""
        select cast(id as varchar) || '#' || cast(idx as varchar) as id,
               para as text
        from (
            select id,
                   unnest(string_split(text, {sep_sql})) as para,
                   generate_subscripts(
                       string_split(text, {sep_sql}), 1) as idx
            from ({docs_sql}) t0
        ) t1
        where length(trim(para)) > 0
    """
    scored = lang_id_ngram_oracle_sql(paras_sql)
    return f"""
        with x as (
            select split_part(id, '#', 1)::BIGINT as id, lang_pred
            from ({scored}) sc
        ),
        g as (
            select id, lang_pred, count(*) as n
            from x group by 1, 2
        ),
        a as (
            select id, sum(n) as n_paras, count(*) as n_langs
            from g group by 1
        ),
        d as (
            select id, lang_pred, n,
                   row_number() over (
                       partition by id
                       order by n desc, lang_pred desc
                   ) as rn
            from g
        )
        select a.id, a.n_paras::BIGINT as n_paras,
               a.n_langs::BIGINT as n_langs,
               d.lang_pred as dominant_lang,
               d.n::BIGINT as dominant_n,
               ((1000000 * (a.n_paras - d.n)) // a.n_paras)::BIGINT
                   as mix_ppm
        from a join d on a.id = d.id and d.rn = 1
    """


def lid_agreement(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """LID ensemble audit: run BOTH language identifiers — the stopword
    marker model (:func:`language_id`, needs spaced full words) and the
    char-trigram profile model (:func:`lang_id_ngram`, robust to
    unspaced/partial text) — and report where they disagree.  Routing
    rule of real pipelines: agreement ⇒ accept the label; disagreement
    or double-unk ⇒ quarantine for the expensive classifier.

    Output per doc: ``(id, lang_stop, lang_tri, margin, agree,
    decision)`` with decision ∈ accept / quarantine.  FUSED
    composition: the trigram stage runs over the stopword stage's
    output with the text passed through (``extra_cols``), so the two
    chained selects collapse into ONE projection over one scan — no
    join, no exchange, plan-tested.
    """
    stop = (
        language_id(
            df, text_col=text_col, id_col=id_col, extra_cols=(text_col,)
        )
        .withColumnRenamed("lang_pred", "lang_stop")
        .drop("lang_score")
    )
    j = lang_id_ngram(
        stop, text_col=text_col, id_col="id", extra_cols=("lang_stop",)
    ).withColumnRenamed("lang_pred", "lang_tri")
    agree = F.col("lang_stop") == F.col("lang_tri")
    return j.select(
        "id",
        "lang_stop",
        "lang_tri",
        "margin",
        agree.alias("agree"),
        F.when(agree & (F.col("lang_stop") != "unk"), F.lit("accept"))
        .otherwise(F.lit("quarantine"))
        .alias("decision"),
    )


def ccnet_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    vocab_size: int = 4096,
    bins_per_lang: int = 1024,
    bin_width_ppm: int = 250_000,
) -> DataFrame:
    """CCNet-style per-language perplexity terciles (Wenzek et al.
    2020 §4.3): score every document with the corpus-trained LM, rank
    it WITHIN ITS LANGUAGE, and cut each language's distribution into
    ``head`` / ``middle`` / ``tail`` thirds — the bucketing CCNet ships
    as its quality signal (head = lowest perplexity ≈ Wikipedia-like).
    Built on :func:`lm_surprisal`'s exact integer bits; the ranking key
    is ``score_ppm = (1_000_000 * sum_bits) div n_tokens`` — an integer
    micro-bits mean, so ordering never touches a float and every rank
    replays cross-engine (ties broken by id, a total order).

    Bucket rule (exact thirds, first buckets no smaller): doc at
    1-based rank r of n_lang docs lands in bucket index
    ``((r - 1) * 3) div n_lang`` → 0=head, 1=middle, 2=tail — the
    integer form of NTILE(3) without relying on either engine's NTILE
    edge semantics.

    Scale shape: a global per-language sort is what a naive
    ``row_number() over (partition by lang)`` would do — one task per
    language, and English IS the corpus.  Instead the rank is a
    two-phase distributed prefix sum over score-range buckets
    (``curation._bucketed_prefix_sum``): ``bkt = lidx * bins_per_lang +
    min(score_ppm div bin_width_ppm, bins_per_lang - 1)`` is monotone
    in the global (lang, score, id) order, so each task window-sorts
    only its score slice and the fold is B rows.  Per-language rank =
    global prefix − the language's cumulative start (an O(langs)
    broadcast).  Nothing wider than (id, lang, score) shuffles.

    Output: ``(id, lang, score_ppm, rk, bucket)``.
    """
    from .curation import _bucketed_prefix_sum

    scored = lm_surprisal(
        df, text_col=text_col, id_col=id_col, vocab_size=vocab_size
    ).select(
        "id",
        F.expr("1000000 * sum_bits div n_tokens").alias("score_ppm"),
    )
    langs = df.select(
        F.col(id_col).alias("id"), F.col(lang_col).alias("lang")
    )
    rows = scored.join(langs, "id")

    lang_idx = (
        rows.groupBy("lang")
        .agg(F.count("*").alias("n_lang"))
        .orderBy("lang")
    )
    from pyspark.sql import Window as _W

    w = _W.orderBy("lang").rowsBetween(_W.unboundedPreceding, -1)
    lang_idx = lang_idx.select(
        "lang",
        "n_lang",
        (F.row_number().over(_W.orderBy("lang")) - 1).alias("lidx"),
        F.coalesce(F.sum("n_lang").over(w), F.lit(0)).alias("lang_before"),
    )

    staged = rows.join(F.broadcast(lang_idx), "lang").select(
        "id",
        "lang",
        "score_ppm",
        "n_lang",
        "lang_before",
        (
            F.col("lidx") * int(bins_per_lang)
            + F.least(
                F.expr(f"score_ppm div {int(bin_width_ppm)}"),
                F.lit(int(bins_per_lang) - 1),
            )
        ).alias("bkt"),
        F.lit(1).cast("long").alias("one"),
    )
    pr = _bucketed_prefix_sum(staged, "one", ["lang", "score_ppm", "id"])
    ranked = pr.select(
        "id",
        "lang",
        "score_ppm",
        (F.col("bkt_offset") + F.col("local_cum") - F.col("lang_before"))
        .alias("rk"),
        "n_lang",
    )
    return ranked.select(
        "id",
        "lang",
        "score_ppm",
        "rk",
        F.element_at(
            F.array(F.lit("head"), F.lit("middle"), F.lit("tail")),
            (F.expr("(rk - 1) * 3 div n_lang") + 1).cast("int"),
        ).alias("bucket"),
    )


def ccnet_oracle_sql(docs_sql: str, vocab_size: int = 4096) -> str:
    """DuckDB replay of :func:`ccnet_buckets`: the lm_surprisal train +
    score chain (same bit-length quantization), integer micro-bits
    score, naive per-language window rank ordered by (score_ppm, id),
    and the exact-thirds bucket rule.  *docs_sql* must yield
    (id, lang, text)."""
    return f"""
        WITH base AS ({docs_sql}),
        tok AS (SELECT id,
                       unnest(list_filter(string_split(text, ' '),
                                          x -> len(x) > 0)) token
                FROM base),
        c AS (SELECT token, count(*) c FROM tok GROUP BY 1),
        n AS (SELECT sum(c)::BIGINT n FROM c),
        v AS (SELECT token, c FROM c
              ORDER BY c DESC, token LIMIT {int(vocab_size)}),
        s AS (SELECT tok.id,
                     (length(printf('%b', (SELECT n FROM n)))
                      - length(printf('%b', coalesce(v.c, 0) + 1)))::BIGINT
                         bits
              FROM tok LEFT JOIN v USING (token)),
        d AS (SELECT id, count(*)::BIGINT n_tokens,
                     sum(bits)::BIGINT sum_bits
              FROM s GROUP BY id),
        sc AS (SELECT d.id, base.lang,
                      (1000000 * d.sum_bits // d.n_tokens)::BIGINT score_ppm
               FROM d JOIN base ON d.id = base.id),
        r AS (SELECT *,
                     row_number() OVER (
                         PARTITION BY lang ORDER BY score_ppm, id
                     )::BIGINT rk,
                     count(*) OVER (PARTITION BY lang)::BIGINT n_lang
              FROM sc)
        SELECT id, lang, score_ppm, rk,
               CASE ((rk - 1) * 3 // n_lang)
                    WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM r
    """


def calibration_audit(
    df: DataFrame,
    score_col: str,
    label_col: str,
    score_min: int,
    score_max: int,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability-diagram table for a quality classifier — the
    calibration audit run before a score is used as a KEEP probability
    (CCNet-style head/tail cuts, sampling weights, mixture temperature
    all assume the score MEANS something): min-max-normalize the score
    into *n_bins* equal bins and report, per bin, the observed positive
    rate vs the bin midpoint's predicted rate.  A well-calibrated
    filter tracks the diagonal; the per-bin ``gap_ppm`` column is the
    binned-ECE contribution (Σ n·gap/N is ECE — left to the consumer so
    the output stays one row per bin).

    All integer: ``bin = (score − min)·n_bins div (max − min + 1)``
    clamped to [0, n_bins), ``obs_ppm = 1e6·n_pos div n``,
    ``pred_ppm = 1e6·(2·bin + 1) div (2·n_bins)`` (midpoint),
    ``gap_ppm = |pred − obs|``.  Scale shape: one map-side-combined
    aggregate to ≤ *n_bins* rows; the codegen bin expression is the
    only per-row work.  Output: ``(bin, n, n_pos, mean_score,
    obs_ppm, pred_ppm, gap_ppm)``.
    """
    lo, hi = int(score_min), int(score_max)
    width = hi - lo + 1
    b = F.expr(
        f"least(greatest((cast({score_col} as bigint) - {lo})"
        f" * {int(n_bins)} div {width}, 0), {int(n_bins) - 1})"
    )
    agg = df.select(
        b.alias("bin"),
        F.col(score_col).cast("long").alias("s"),
        F.col(label_col).cast("long").alias("y"),
    ).groupBy("bin").agg(
        F.count("*").alias("n"),
        F.sum("y").alias("n_pos"),
        F.expr("sum(s) div count(*)").alias("mean_score"),
        F.expr("1000000 * sum(y) div count(*)").alias("obs_ppm"),
    )
    pred = F.expr(f"1000000 * (2 * bin + 1) div {2 * int(n_bins)}")
    return agg.select(
        "bin", "n", "n_pos", "mean_score", "obs_ppm",
        pred.alias("pred_ppm"),
        F.abs(pred - F.col("obs_ppm")).alias("gap_ppm"),
    )


def calibration_oracle_sql(
    docs_sql: str,
    score_min: int,
    score_max: int,
    n_bins: int = 10,
) -> str:
    """DuckDB replay of :func:`calibration_audit`.  *docs_sql* must
    yield (score, label BOOLEAN)."""
    lo, hi = int(score_min), int(score_max)
    width = hi - lo + 1
    nb = int(n_bins)
    return f"""
        WITH d AS ({docs_sql}),
        b AS (
          SELECT least(greatest((score::BIGINT - {lo}) * {nb} // {width},
                                0), {nb - 1})::BIGINT bin,
                 score::BIGINT s,
                 (CASE WHEN label THEN 1 ELSE 0 END)::BIGINT y
          FROM d
        ),
        g AS (
          SELECT bin, count(*)::BIGINT n, sum(y)::BIGINT n_pos,
                 (sum(s) // count(*))::BIGINT mean_score,
                 (1000000 * sum(y) // count(*))::BIGINT obs_ppm
          FROM b GROUP BY bin
        )
        SELECT bin, n, n_pos, mean_score, obs_ppm,
               (1000000 * (2 * bin + 1) // {2 * nb})::BIGINT pred_ppm,
               abs((1000000 * (2 * bin + 1) // {2 * nb}) - obs_ppm
               )::BIGINT gap_ppm
        FROM g
    """
