"""Dedup operator tests: exact, n-gram Jaccard, MinHash+LSH, SimHash —
pinned against straight-line pandas/python oracles (no Spark) on both a
hand-built corpus and the driver's documents table."""

import hashlib
import itertools

import pytest

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def py_shingles(text, n=3):
    t = text.split(" ")
    if len(t) <= n:
        return {" ".join(t)}
    return {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)}


def py_jaccard(a, b):
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def docs_pd(docs):
    return docs.toPandas()


def test_exact_dedup_matches_python(spark):
    from podcast_crawler_spark.operators.dedup import exact_dedup

    rows = [(1, "a b c"), (2, "a b c"), (3, "x y"), (4, "a b c"), (5, "x y z")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.text_md5, r.keep_id, r.dup_count)
        for r in exact_dedup(df).collect()
    }
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert got == {(md5("a b c"), 1, 3)}


def test_ngram_jaccard_matches_python_oracle(docs, docs_pd):
    from podcast_crawler_spark.operators.dedup import ngram_jaccard_pairs

    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    sh = {r.doc_id: py_shingles(r.text) for r in docs_pd.itertuples()}
    want = {}
    for a, b in itertools.combinations(sorted(sh), 2):
        j = py_jaccard(sh[a], sh[b])
        if j >= 0.5:
            want[(a, b)] = round(j, 6)
    assert got == want


def test_minhash_lsh_equals_exact_at_threshold(docs):
    """LSH with 32 bands × 2 rows has ≈1 recall at s≥0.8, and exact
    verification kills FPs — so the result must equal the exact operator."""
    from podcast_crawler_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    exact = {
        (r.id_a, r.id_b, r.jaccard)
        for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    lsh = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_lsh_pairs(docs, threshold=0.8).collect()
    }
    assert lsh == exact
    assert len(exact) > 0  # corpus contains near-dups by construction


def test_ngram_jaccard_freq_cap_keeps_high_pairs(docs):
    """The candidate-generation frequency cap must not lose clearly-similar
    pairs (their overlap includes rare shingles too)."""
    from podcast_crawler_spark.operators.dedup import ngram_jaccard_pairs

    uncapped = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.9).collect()
    }
    capped = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.9, max_shingle_freq=50).collect()
    }
    assert uncapped == capped


def py_simhash32(text):
    from collections import Counter

    tf = Counter(t for t in text.split(" ") if t)
    sums = [0] * 32
    for tok, c in tf.items():
        th = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16)
        for i in range(32):
            sums[i] += c if (th >> i) & 1 else -c
    return sum(1 << i for i in range(32) if sums[i] > 0)


def test_simhash_matches_python(spark):
    from podcast_crawler_spark.operators.dedup import simhash

    rows = [(1, "the quick brown fox"), (2, "the quick brown dog"), (3, "lorem ipsum")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.id: r.simhash for r in simhash(df).collect()}
    assert got == {i: py_simhash32(t) for i, t in rows}


def test_simhash_pairs_verified_hamming(docs, docs_pd):
    from podcast_crawler_spark.operators.dedup import simhash_pairs

    sigs = {r.doc_id: py_simhash32(r.text) for r in docs_pd.itertuples()}
    want = set()
    for a, b in itertools.combinations(sorted(sigs), 2):
        h = bin(sigs[a] ^ sigs[b]).count("1")
        if h <= 3:
            want.add((a, b, h))
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_pairs(docs, max_hamming=3).collect()
    }
    assert got == want


def test_ngram_jaccard_hot_shingle_skew(spark):
    """Hot-shingle (boilerplate) skew: a shingle shared by every doc would
    contribute n² candidate rows uncapped.  With the cap at 5 (< corpus
    size) the stop-shingles drop out of candidate generation, the join
    stays bounded — and the true near-dup pairs (whose overlap includes
    rare shingles) still come out with their EXACT jaccard, because the
    verification recomputes over the uncapped sets."""
    from podcast_crawler_spark.operators.dedup import ngram_jaccard_pairs, shingles

    boiler = "subscribe to our newsletter for updates"
    rows = []
    for i in range(40):
        body = f"doc {i} unique words alpha{i} beta{i} gamma{i} delta{i}"
        rows.append((i, f"{body} {boiler}"))
    # two planted near-dup pairs sharing their rare body
    rows.append((100, f"doc 7 unique words alpha7 beta7 gamma7 delta7x {boiler}"))
    rows.append((101, f"doc 9 unique words alpha9x beta9 gamma9 delta9 {boiler}"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    capped = ngram_jaccard_pairs(df, threshold=0.5, max_shingle_freq=5)
    got = {(r.id_a, r.id_b): r.jaccard for r in capped.collect()}

    sh = {i: py_shingles(t) for i, t in rows}
    want = {}
    for a, b in itertools.combinations(sorted(sh), 2):
        j = py_jaccard(sh[a], sh[b])
        if j >= 0.5:
            want[(a, b)] = round(j, 6)
    # the planted pairs are found with exact (uncapped) jaccard values
    assert (7, 100) in got and (9, 101) in got
    assert got == want
    # and the cap really prunes: hot shingles exceed the freq threshold
    hot = (
        shingles(df).groupBy("shingle").count().filter(F.col("count") > 5).count()
    )
    assert hot > 0


def test_dedup_clusters_union_find_oracle(spark):
    """Connected components over pairs must match a straight union-find."""
    from podcast_crawler_spark.operators.dedup import dedup_clusters

    pairs = [(1, 2), (2, 3), (5, 6), (8, 9), (9, 10), (3, 11), (20, 21)]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {(r.id, r.cluster_id) for r in dedup_clusters(df).collect()}

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {(x, find(x)) for x in parent}
    assert got == want
    # chain 1-2-3-11 collapses to cluster 1 (diameter > 1 ⇒ iteration)
    assert (11, 1) in got


def test_dedup_clusters_raises_on_non_convergence(spark):
    from podcast_crawler_spark.operators.dedup import dedup_clusters

    chain = [(i, i + 1) for i in range(8)]  # diameter 8 > max_iters 3
    df = spark.createDataFrame(chain, "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(df, max_iters=3)


def test_lsh_bucket_cap_star_candidates(spark):
    """One degenerate bucket must contribute O(d) star candidates, never
    d²/2 all-pairs."""
    from podcast_crawler_spark.operators.dedup import _lsh_candidates

    stacked = spark.range(1000).select(
        "id", F.lit(0).alias("band"), F.lit("x").alias("bh")
    )
    cands = _lsh_candidates(stacked, 100).collect()
    assert len(cands) == 999  # star to min id, not 499_500 all-pairs
    assert all(r.id_a == 0 and r.id_b > 0 for r in cands)
    # under the cap the same bucket expands all-pairs
    small = spark.range(4).select(
        "id", F.lit(0).alias("band"), F.lit("x").alias("bh")
    )
    assert _lsh_candidates(small, 100).count() == 6


def test_lsh_bucket_cap_degenerate_corpus_end_to_end(spark):
    """1000 identical docs (the all-boilerplate worst case): candidate
    generation stays bounded, every star pair verifies at jaccard 1.0,
    and the cluster decision is unchanged — one component, min-id head."""
    from podcast_crawler_spark.operators.dedup import (
        dedup_clusters,
        minhash_lsh_pairs,
    )

    docs = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.lit(
            "the same boilerplate sentence repeated for every single "
            "document in this degenerate corpus"
        ).alias("text"),
    )
    pairs = minhash_lsh_pairs(docs, threshold=0.8, max_bucket_size=100)
    rows = pairs.collect()
    assert len(rows) == 999
    assert all(r.id_a == 0 and abs(r.jaccard - 1.0) < 1e-12 for r in rows)
    labels = dedup_clusters(pairs)
    assert labels.filter(F.col("cluster_id") != 0).count() == 0
    assert labels.count() == 1000


def test_lsh_cap_equals_uncapped_without_hot_buckets(docs):
    """On a corpus with no oversized bucket the capped default must return
    the identical pair set as the uncapped exact path."""
    from podcast_crawler_spark.operators.dedup import minhash_lsh_pairs

    capped = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_lsh_pairs(docs, threshold=0.8).collect()
    }
    uncapped = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_lsh_pairs(
            docs, threshold=0.8, max_bucket_size=None
        ).collect()
    }
    assert capped == uncapped and len(capped) > 0


def test_incremental_exact_first_batch(spark):
    """corpus_digests=None: within-batch keep-first only (min id per
    digest), every column preserved + text_md5 appended."""
    from podcast_crawler_spark.operators.dedup import incremental_exact

    df = spark.createDataFrame(
        [(3, "aaa"), (1, "aaa"), (2, "bbb")], "doc_id long, text string"
    )
    got = sorted(
        (r.doc_id, r.text) for r in incremental_exact(df, None).collect()
    )
    assert got == [(1, "aaa"), (2, "bbb")]


def test_incremental_exact_vs_corpus_handcrafted(spark):
    """Batch docs whose text is already in the corpus digest log drop;
    within-batch dups keep first; genuinely new docs survive."""
    import hashlib as hl

    from podcast_crawler_spark.operators.dedup import incremental_exact

    batch = spark.createDataFrame(
        [
            (10, "fresh text one"),
            (11, "already ingested"),
            (12, "fresh text two"),
            (13, "fresh text one"),  # within-batch dup of 10
        ],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [(hl.md5(b"already ingested").hexdigest(),)], "text_md5 string"
    )
    got = sorted(
        r.doc_id
        for r in incremental_exact(batch, corpus, num_shards=4).collect()
    )
    assert got == [10, 12]


def test_incremental_exact_equals_naive(spark):
    """The bloom-shard + exact-verify path must EQUAL the naive
    keep-first + anti-join computation on the real documents table
    (bloom false positives verified away; false negatives impossible)."""
    from pyspark.sql import Window

    from podcast_crawler_spark.operators.dedup import incremental_exact

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    corpus = docs.filter(F.col("doc_id") % 2 == 0).select(
        F.md5("text").alias("text_md5")
    )
    got = sorted(
        r.doc_id for r in incremental_exact(docs, corpus).collect()
    )
    firsts = docs.withColumn("m", F.md5("text")).withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("m").orderBy("doc_id")),
    ).filter(F.col("rn") == 1)
    want = sorted(
        r.doc_id
        for r in firsts.join(
            corpus.distinct(), firsts.m == corpus.text_md5, "left_anti"
        ).collect()
    )
    assert got == want and len(got) > 0


def test_span_dedup_hand_corpus(spark):
    from podcast_crawler_spark.operators.dedup import span_dedup

    rows = [
        (1, "a b c d e f g h i j"),
        (2, "x y a b c d e f g h z"),
        (3, "short text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.id: r for r in span_dedup(df, k=8, min_dup=2).collect()}
    # the shared 8-gram "a b c d e f g h" covers tokens 0-7 in doc 1
    # and 2-9 in doc 2; everything else is unique
    import hashlib

    def md5(s):
        return hashlib.md5(s.encode()).hexdigest()

    assert got[1].clean_md5 == md5("i j")
    assert (got[1].n_tokens, got[1].n_dropped, got[1].n_dup_starts) == (10, 8, 1)
    assert got[2].clean_md5 == md5("x y z")
    assert (got[2].n_tokens, got[2].n_dropped, got[2].n_dup_starts) == (11, 8, 1)
    # docs shorter than k have no grams and are untouched
    assert got[3].clean_md5 == md5("short text")
    assert (got[3].n_tokens, got[3].n_dropped, got[3].n_dup_starts) == (2, 0, 0)


def test_span_dedup_identical_docs_fully_dropped(spark):
    from podcast_crawler_spark.operators.dedup import span_dedup
    import hashlib

    text = " ".join(f"t{i}" for i in range(12))
    df = spark.createDataFrame(
        [(i, text) for i in range(3)], "doc_id long, text string"
    )
    got = span_dedup(df, k=8, min_dup=2).collect()
    for r in got:
        # every position is covered by some duplicated gram
        assert r.n_dropped == 12
        assert r.clean_md5 == hashlib.md5(b"").hexdigest()


def test_span_dedup_shuffle_carries_digests_not_text(spark):
    """The corpus-wide exchange must carry (id, p, 32-hex digest) rows —
    never the token arrays/text (the exact_dedup discipline)."""
    from podcast_crawler_spark.operators.dedup import span_dedup

    df = spark.createDataFrame(
        [(1, "a b c d e f g h i"), (2, "a b c d e f g h j")],
        "doc_id long, text string",
    )
    plan = (
        span_dedup(df, k=8)._jdf.queryExecution().executedPlan().toString()
    )
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert " t#" not in m.group(1) and "text" not in m.group(1), m.group(0)


def test_span_dedup_partitioning_invariance(spark):
    """Same result under different partition layouts — nothing in the
    gram-count/cover chain may depend on row placement."""
    from podcast_crawler_spark.operators.dedup import span_dedup

    rows = [(i, " ".join(f"w{j % 9}" for j in range(i, i + 20)))
            for i in range(40)]
    df1 = spark.createDataFrame(rows, "doc_id long, text string")
    df8 = df1.repartition(8, "doc_id")
    a = sorted(map(tuple, span_dedup(df1, k=8).collect()))
    b = sorted(map(tuple, span_dedup(df8, k=8).collect()))
    assert a == b


def test_cluster_representatives_semantics(spark):
    """Argmax per cluster (score desc, id asc), singletons keep
    themselves, exactly one keeper per cluster."""
    from podcast_crawler_spark.operators.dedup import cluster_representatives

    docs = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (4, 5), (9, 7)],
        "doc_id long, score long",
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4)], "id long, cluster_id long"
    )
    out = {r.id: r for r in cluster_representatives(docs, clusters).collect()}
    assert len(out) == 5
    # cluster 1: docs 1(10), 2(30), 3(30) -> keep 2 (max score, min id tie)
    assert out[2].keep and not out[1].keep and not out[3].keep
    # singleton cluster 4 and unclustered 9 keep themselves
    assert out[4].keep and out[4].cluster_id == 4
    assert out[9].keep and out[9].cluster_id == 9
    kept = [r for r in out.values() if r.keep]
    assert len(kept) == len({r.cluster_id for r in out.values()})


def test_cluster_representatives_no_corpus_window(spark):
    """The argmax is a groupBy aggregate, never a window sort over the
    corpus — a giant cluster must not serialize into one task's sort."""
    from podcast_crawler_spark.operators.dedup import cluster_representatives

    docs = spark.createDataFrame([(1, 10)], "doc_id long, score long")
    clusters = spark.createDataFrame([(1, 1)], "id long, cluster_id long")
    plan = (
        cluster_representatives(docs, clusters)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan, plan
    assert "Python" not in plan, plan


def test_incremental_minhash_union_equals_full(docs):
    """previous pairs (corpus-internal) + incremental batch result must
    equal the full-corpus pair set: the steady-state contract."""
    from podcast_crawler_spark.operators.dedup import (
        incremental_minhash_lsh,
        minhash_index,
        minhash_lsh_pairs,
    )

    corpus = docs.filter("doc_id % 5 != 0")
    batch = docs.filter("doc_id % 5 = 0")
    full = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_lsh_pairs(docs, threshold=0.8).collect()
    }
    prior = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_lsh_pairs(corpus, threshold=0.8).collect()
    }
    cb, cs = minhash_index(corpus)
    inc = {
        (r.id_a, r.id_b, r.jaccard)
        for r in incremental_minhash_lsh(batch, cb, cs, threshold=0.8).collect()
    }
    assert prior | inc == full
    assert prior & inc == set()  # incremental never re-emits corpus pairs
    assert len(inc) > 0  # the split actually exercises cross pairs


def test_incremental_minhash_first_batch(docs):
    """corpus index = None degrades to within-batch minhash_lsh_pairs."""
    from podcast_crawler_spark.operators.dedup import (
        incremental_minhash_lsh,
        minhash_lsh_pairs,
    )

    batch = docs.filter("doc_id % 5 = 0")
    got = {
        (r.id_a, r.id_b, r.jaccard)
        for r in incremental_minhash_lsh(batch, None, None, threshold=0.8).collect()
    }
    want = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_lsh_pairs(batch, threshold=0.8).collect()
    }
    assert got == want


def test_incremental_minhash_hot_corpus_bucket_bounded(spark):
    """a degenerate corpus bucket (1000 identical docs) must contribute
    O(1) candidates per batch doc (the min-id representative), never
    all members -- and identical batch docs still near-dup via the rep."""
    from podcast_crawler_spark.operators.dedup import (
        incremental_minhash_lsh,
        minhash_index,
    )

    boiler = "the same boilerplate footer text appears verbatim on every page"
    corpus = spark.createDataFrame(
        [(i, boiler) for i in range(1000)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(5000, boiler), (5001, "entirely unrelated fresh content here")],
        "doc_id long, text string",
    )
    cb, cs = minhash_index(corpus)
    rows = incremental_minhash_lsh(
        batch, cb, cs, threshold=0.8, max_bucket_size=50
    ).collect()
    pairs = {(r.id_a, r.id_b) for r in rows}
    # exactly the star pair to the bucket representative (doc 0)
    assert pairs == {(0, 5000)}


def test_containment_pairs_excerpt_detection(spark):
    # a 10-token quote inside a long doc: Jaccard tiny, containment 100
    from podcast_crawler_spark.operators.dedup import containment_pairs

    quote = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    long_doc = (
        " ".join(f"f{(i * 13) % 211}" for i in range(150))
        + " " + quote + " "
        + " ".join(f"g{(i * 7) % 223}" for i in range(150))
    )
    docs = [(1, quote), (2, long_doc),
            (3, "totally unrelated content with no shared runs at all")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["containment_pct"]
        for r in containment_pairs(df, k=5, w=4, min_shared=1).collect()
    }
    assert got.get((1, 2)) == 100
    assert (1, 3) not in got and (2, 3) not in got


def test_containment_oracle_sql_matches(spark):
    import duckdb
    from podcast_crawler_spark.operators.dedup import (
        containment_pairs, containment_oracle_sql,
    )

    docs = [
        (i, " ".join(f"w{(i * j) % 23}" for j in range(60)))
        for i in range(1, 11)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = sorted(
        tuple(r)
        for r in containment_pairs(df, k=5, w=4, min_shared=2).collect()
    )
    vals = ",".join(f"({i}, '{t}')" for i, t in docs)
    osql = containment_oracle_sql(
        f"select * from (values {vals}) v(id, text)",
        k=5, w=4, min_shared=2,
    )
    exp = sorted(tuple(r) for r in duckdb.sql(osql).fetchall())
    assert got == exp


# ---------------------------------------------------------------- CDC


def _py_cdc(text, w, mbits):
    import hashlib

    toks = text.split(" ")
    mask = (1 << mbits) - 1
    cuts = []
    for i in range(len(toks)):
        lo = max(i - w + 1, 0)
        h = int(
            hashlib.md5(" ".join(toks[lo:i + 1]).encode()).hexdigest()[:8],
            16,
        )
        if (h & mask) == 0 or i == len(toks) - 1:
            cuts.append(i)
    out, start = [], 0
    for ci, end in enumerate(cuts):
        chunk = toks[start:end + 1]
        out.append(
            (ci, start, len(chunk),
             hashlib.md5(" ".join(chunk).encode()).hexdigest())
        )
        start = end + 1
    return out


def test_cdc_chunks_match_python(spark):
    from podcast_crawler_spark.operators.dedup import cdc_chunks

    docs = [
        (1, " ".join(f"t{(i * 17) % 101}" for i in range(80))),
        (2, "short doc here"),
        (3, "a"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = sorted(
        tuple(r) for r in cdc_chunks(df, window=4, mask_bits=4).collect()
    )
    exp = sorted((i, *c) for i, t in docs for c in _py_cdc(t, 4, 4))
    assert got == exp


def test_cdc_chunks_cover_document_exactly(spark):
    # chunks partition the token sequence: contiguous, disjoint, total
    from podcast_crawler_spark.operators.dedup import cdc_chunks

    text = " ".join(f"w{(i * 7) % 53}" for i in range(120))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = sorted(
        (r["chunk_idx"], r["start"], r["n_tokens"])
        for r in cdc_chunks(df).collect()
    )
    pos = 0
    for ci, (idx, start, n) in enumerate(rows):
        assert idx == ci and start == pos and n >= 1
        pos += n
    assert pos == 120


def test_cdc_shift_robustness(spark):
    # prepending a token preserves most chunk digests (the property
    # fixed-size blocks lack)
    from podcast_crawler_spark.operators.dedup import cdc_chunks

    t0 = " ".join(f"x{(i * 13) % 97}" for i in range(200))
    df = spark.createDataFrame(
        [(1, t0), (2, "INS " + t0)], "doc_id long, text string"
    )
    by = {}
    for r in cdc_chunks(df).collect():
        by.setdefault(r["id"], set()).add(r["chunk_md5"])
    shared = by[1] & by[2]
    assert len(shared) >= len(by[1]) - 3


def test_cdc_oracle_sql_matches(spark):
    import duckdb
    from podcast_crawler_spark.operators.dedup import (
        cdc_chunks, cdc_oracle_sql,
    )

    docs = [
        (i, " ".join(f"w{(i * j) % 31}" for j in range(50)))
        for i in range(1, 7)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = sorted(tuple(r) for r in cdc_chunks(df).collect())
    vals = ",".join(f"({i}, '{t}')" for i, t in docs)
    osql = cdc_oracle_sql(f"select * from (values {vals}) v(id, text)")
    exp = sorted(
        (int(a), int(b), int(c), int(d), e)
        for a, b, c, d, e in duckdb.sql(osql).fetchall()
    )
    assert got == exp


def test_episode_syndication_cross_feed_only(spark):
    """Groups form only across DISTINCT feeds; within-feed repeats and
    empty enclosures never group; the canonical owner is the min feed."""
    from podcast_crawler_spark.operators.dedup import episode_syndication

    rows = [
        ("feedB", "https://cdn/x.mp3"),
        ("feedA", "https://cdn/x.mp3"),   # syndicated pair
        ("feedA", "https://cdn/y.mp3"),
        ("feedA", "https://cdn/y.mp3"),   # same feed twice: no group
        ("feedC", ""),
        ("feedD", None),
        ("feedC", "https://cdn/z.mp3"),   # solo
    ]
    df = spark.createDataFrame(rows, "feed_url string, enclosure_url string")
    out = episode_syndication(df).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n_feeds, r.n_episodes, r.first_feed) == (2, 2, "feedA")


def test_host_minhash_similarity_finds_mirror(spark):
    from podcast_crawler_spark.operators.dedup import host_minhash_similarity

    base = [
        f"tok{i} tok{i+1} tok{i+2} tok{i+3} tok{i+4} filler{i % 7} "
        f"word{i} word{i+1} word{i+2} word{i+3}"
        for i in range(0, 40)
    ]
    rows = (
        [("hostA", t) for t in base]
        + [("mirrorA", t) for t in base]            # exact mirror
        + [("hostB", f"zz{i} yy{i} xx{i} ww{i} vv{i}") for i in range(40)]
    )
    df = spark.createDataFrame(rows, "host string, text string")
    out = {
        (r["host_a"], r["host_b"]): r
        for r in host_minhash_similarity(df).collect()
    }
    assert ("hostA", "mirrorA") in out
    m = out[("hostA", "mirrorA")]
    assert m["sig_matches"] == 16 and m["est_jaccard_ppm"] == 1_000_000
    # the unrelated host must not pair with the mirror pair
    assert not any("hostB" in k for k in out)


def test_host_minhash_matches_oracle(spark):
    import duckdb

    from podcast_crawler_spark.operators.dedup import (
        host_minhash_oracle_sql,
        host_minhash_similarity,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    )
    hosts = docs.selectExpr(
        "concat('h', cast(doc_id % 5 as string)) host", "text"
    ).unionByName(
        # m0 is an EXACT mirror of h0 (guaranteed 16/16 pair); m1..m4
        # carry half of h1..h4's docs (banding may or may not fire)
        docs.filter("doc_id % 5 = 0 or doc_id % 2 = 0").selectExpr(
            "concat('m', cast(doc_id % 5 as string)) host", "text"
        )
    )
    got = sorted(
        tuple(r) for r in host_minhash_similarity(hosts).collect()
    )
    sql = host_minhash_oracle_sql(
        """
        select 'h' || (doc_id % 5)::varchar h, text
        from '/root/testdata/sf0.001/documents.parquet'
        union all
        select 'm' || (doc_id % 5)::varchar h, text
        from '/root/testdata/sf0.001/documents.parquet'
        where doc_id % 5 = 0 or doc_id % 2 = 0
        """
    )
    exp = sorted(tuple(r) for r in duckdb.sql(sql).fetchall())
    assert got == exp
    assert ("h0", "m0") in {(a, b) for a, b, *_ in got}


def test_minhash_recall_audit_matches_oracle(spark):
    """The audit's one row against its DuckDB replay on a corpus with
    planted near-duplicates: each base doc has a twin with 0-5 tokens
    replaced, so the twins' Jaccard spans both sides of the threshold
    and some exact pairs miss the 4x4 banding."""
    import random

    import duckdb

    from podcast_crawler_spark.operators.dedup import (
        minhash_recall_audit,
        recall_audit_oracle_sql,
    )

    rng = random.Random(7)
    docs = []
    for i in range(24):
        toks = [f"w{rng.randrange(80)}" for _ in range(30)]
        docs.append((i, " ".join(toks)))
        for k in range(i % 6):
            toks[3 + 5 * k] = f"x{i}_{k}"
        docs.append((100 + i, " ".join(toks)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = [tuple(r) for r in minhash_recall_audit(df, threshold=0.5).collect()]
    vals = ",".join(f"({i}, '{t}')" for i, t in docs)
    sql = recall_audit_oracle_sql(f"select * from (values {vals}) v(id, text)")
    exp = [tuple(r) for r in duckdb.sql(sql).fetchall()]
    assert got == exp
    n_exact, n_candidates, n_hits, recall_ppm, _ = got[0]
    assert 0 < n_hits <= min(n_exact, n_candidates)
    assert recall_ppm < 1_000_000


@pytest.mark.parametrize(
    "module, op",
    [
        ("dedup", "ngram_jaccard_pairs"),
        ("dedup", "minhash_recall_audit"),
        ("textstats", "lm_surprisal"),
        ("textstats", "bigram_surprisal"),
    ],
)
def test_operator_pins_no_cache_entry(spark, cache_manager, module, op):
    """The operators reuse intermediate frames through eager local
    checkpoints, which the ContextCleaner frees, never through a cache
    entry that stays pinned in the session after the result is read."""
    import importlib

    fn = getattr(
        importlib.import_module(f"podcast_crawler_spark.operators.{module}"), op
    )
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "a b c d f"), (4, "x y z w")],
        "doc_id long, text string",
    )
    assert fn(df).collect()
    assert cache_manager.isEmpty()


def test_hot_shingles_python_oracle(spark):
    """Exact top-k duplicated 3-grams vs a Counter recomputation,
    including the deterministic (n_docs desc, shingle asc) tie order
    and the min_docs pre-filter."""
    from collections import Counter

    from podcast_crawler_spark.operators.dedup import hot_shingles

    rows = [
        (1, "the quick brown fox jumps"),
        (2, "the quick brown cat sits"),
        (3, "the quick brown cat sits"),  # exact dup of 2
        (4, "lazy dog sleeps all day"),
        (5, "the quick brown fox naps"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    c = Counter()
    for _, t in rows:
        toks = t.split(" ")
        sh = {
            " ".join(toks[i : i + 3])
            for i in range(max(len(toks) - 3, 0) + 1)
        }
        c.update(sh)
    expect = sorted(
        ((g, n) for g, n in c.items() if n >= 2),
        key=lambda gn: (-gn[1], gn[0]),
    )[:10]

    got = [
        (r["shingle"], r["n_docs"])
        for r in hot_shingles(df, min_docs=2, k=10).collect()
    ]
    assert got == expect


def test_hot_shingles_plan_is_take_ordered(spark):
    """The top-k must be TakeOrderedAndProject (O(k) per task), never a
    global sort of the shingle counts."""
    from podcast_crawler_spark.operators.dedup import hot_shingles

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (
        hot_shingles(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan


def test_ingest_accounting_statuses(spark):
    """corpus_dup / batch_dup / net statuses, min-id-keeps-first, and
    both token rollups per language."""
    from podcast_crawler_spark.operators.dedup import ingest_accounting

    corpus = spark.createDataFrame(
        [(1, "en", "old text one"), (2, "fr", "vieux texte")],
        "doc_id long, lang string, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "en", "old text one"),        # corpus_dup
            (11, "en", "brand new words here"),  # net (4 tokens)
            (12, "en", "brand new words here"),  # batch_dup of 11
            (13, "fr", "texte neuf"),           # net (2 tokens)
        ],
        "doc_id long, lang string, text string",
    )
    out = {r.lang: r for r in ingest_accounting(batch, corpus).collect()}
    en, fr = out["en"], out["fr"]
    assert (en.n_docs, en.n_corpus_dup, en.n_batch_dup, en.n_net) == (3, 1, 1, 1)
    assert en.tokens_in == 3 + 4 + 4 and en.net_tokens == 4
    assert (fr.n_docs, fr.n_net, fr.net_tokens) == (1, 1, 2)
    # keep-first is by MIN id: swap ids and the batch_dup flips
    batch2 = spark.createDataFrame(
        [(12, "en", "x y"), (10, "en", "x y")],
        "doc_id long, lang string, text string",
    )
    r = ingest_accounting(batch2, corpus).collect()[0]
    assert r.n_net == 1 and r.n_batch_dup == 1 and r.net_tokens == 2
