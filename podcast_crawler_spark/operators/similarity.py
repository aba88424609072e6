"""Embedding similarity search: brute-force cosine top-k (the exact
baseline) plus LSH- and IVF-bucketed approximate variants (the scale path).

Design for 100 TB / 10^10 vectors:

- **Brute force** is the correctness oracle and is still the right tool
  when the *query* side is small: broadcast the queries, one scan over the
  corpus, per-partition partial top-k folded by a final per-query window.
  Dot products run JVM-side via ``aggregate(zip_with(...))`` inside
  whole-stage codegen — no Python in the hot path.
- **Random-hyperplane LSH**: deterministic hyperplanes (seeded numpy)
  applied with one vectorized pandas UDF (a single matmul per Arrow
  batch), giving a ``bucket`` sign-pattern column; search joins query
  buckets (multi-probe: flip each bit once) to corpus buckets and
  re-ranks exactly within the probed buckets.  The corpus can be
  *written partitioned by bucket* so a query probe prunes partitions at
  the scan (partition pruning does the index lookup).
- **IVF**: coarse centroids (deterministic k-means on a sample), assign
  each vector to its nearest centroid (one matmul per batch), search the
  ``nprobe`` nearest centroid cells only.

Cosine throughout = dot(a,b)/(|a||b|), computed in float64 with
sequential summation so the DuckDB oracle (list_cosine_similarity /
explicit list_sum) reproduces values bit-close; outputs round to 6 dp.
"""

from __future__ import annotations

from typing import Iterator, Optional

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

SEED = 42


def _dot(a, b):
    """JVM-side dot product of two array<float/double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(_dot(a, a))


def cosine(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k: ``(query_id, neighbor_id, rank, cos)``.

    ``queries`` is broadcast (small side by contract); the join is a
    BroadcastNestedLoopJoin over the corpus scan — one pass, no shuffle of
    the corpus.  The final top-k is two-phase: Catalyst rewrites the
    ``row_number() ≤ k`` filter into ``WindowGroupLimit [query_id] …
    Partial`` BELOW the exchange (each map task keeps only its own top-k
    per query, bounded by its scan slice) and ``… Final`` above it — so
    the per-query reduce task receives ~``num_partitions × k`` rows, never
    the whole scored corpus, and the shuffle itself carries only the
    surviving ``(ids, cos)`` triples.  This is the same union-of-partial-
    top-k argument as the politeness window's two-phase selection
    (``frontier.py``), done by the optimizer; the plan shape is pinned by
    ``tests/test_similarity.py::test_topk_partial_window_group_limit``.

    Self-matches (same id) are excluded; ties break on neighbor id so
    results are deterministic and oracle-comparable.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
    )
    return _rank_topk(_scored(c.crossJoin(F.broadcast(q))), k)


def _scored(pairs: DataFrame) -> DataFrame:
    """Candidate ``(query_id, qvec, neighbor_id, cvec)`` pairs with their
    ``cos``, self-matches dropped."""
    return pairs.filter(F.col("neighbor_id") != F.col("query_id")).withColumn(
        "cos", cosine(F.col("qvec"), F.col("cvec"))
    )


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Each query's top-*k* scored neighbors by ``cos`` (ties on neighbor
    id) as ``(query_id, neighbor_id, rank, cos)``, the shape of
    ``cosine_topk``, ``lsh_topk`` and ``ivf_topk``."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos", 6).alias("cos"))
    )


def embedding_neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 8,
    tables: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs ``(id_a, id_b, cos)`` with
    cos ≥ threshold, ``id_a < id_b``.

    Candidate generation via multi-table sign-LSH (union of per-table
    bucket collisions), then exact cosine verification — false positives
    never survive.  For cos ≥ 0.95 (θ≈18°) the per-plane collision
    probability is ≈0.9, so with 8 planes × 4 tables recall is
    1-(1-0.9⁸)⁴ ≈ 0.97.  Scale: the self-join is per-(table, bucket),
    never all-pairs — and only the 16-byte id pair crosses the bucket
    join and its dedup exchange; the embedding vectors are re-joined onto
    the (much smaller) deduplicated candidate set afterwards, so no
    vector ever rides the candidate-generation shuffles.
    """
    bucketed = _with_lsh_tables(corpus, id_col, vec_col, planes, tables)
    stacked = bucketed.select(
        F.col(id_col).alias("id"), F.explode("buckets").alias("tb")
    )
    l = stacked.select(F.col("id").alias("id_a"), "tb")
    r = stacked.select(F.col("id").alias("id_b"), "tb")
    cand = (
        l.join(r, "tb")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    vecs = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    return (
        cand.join(vecs.select(F.col("id").alias("id_a"), F.col("v").alias("va")), "id_a")
        .join(vecs.select(F.col("id").alias("id_b"), F.col("v").alias("vb")), "id_b")
        .withColumn("cos", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
    )


def _hyperplanes(dim: int, planes: int, tables: int) -> np.ndarray:
    rng = np.random.RandomState(SEED)
    return rng.standard_normal((dim, planes * tables)).astype(np.float64)


def _with_lsh_tables(
    df: DataFrame, id_col: str, vec_col: str, planes: int, tables: int
) -> DataFrame:
    """Append ``buckets: array<long>`` — one sign-pattern bucket per hash
    table, table index encoded in the high bits so per-table buckets never
    collide across tables.  One vectorized matmul per Arrow batch (the
    only Python in the pipeline; ~10^6 vectors/s/core)."""
    dim = len(df.select(vec_col).first()[0])
    H = _hyperplanes(dim, planes, tables)
    out_schema = StructType(
        df.schema.fields + [StructField("buckets", ArrayType(LongType()), False)]
    )
    weights = (1 << np.arange(planes)).astype(np.int64)
    offsets = (np.arange(tables) << planes).astype(np.int64)

    def _assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            M = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            signs = ((M @ H) > 0).reshape(len(pdf), tables, planes)
            buckets = (signs @ weights) + offsets  # (n, tables)
            pdf = pdf.copy()
            pdf["buckets"] = list(buckets)
            yield pdf

    return df.mapInPandas(_assign, schema=out_schema)


def _multiprobe_tables(bucketed: DataFrame, planes: int) -> DataFrame:
    """Expand each per-table bucket to itself + its ``planes`` single-bit
    flips (multi-probe LSH), as ``probe_bucket`` rows."""
    probes = F.flatten(
        F.transform(
            F.col("buckets"),
            lambda b: F.array(
                b, *[b.bitwiseXOR(F.lit(1 << p)) for p in range(planes)]
            ),
        )
    )
    return bucketed.withColumn("probe_bucket", F.explode(probes))


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 4,
    tables: int = 8,
) -> DataFrame:
    """Approximate top-k: multi-table sign-LSH — probe each table's query
    bucket + its 1-bit flips, exact re-rank inside probed buckets.  Output
    shape matches ``cosine_topk``.

    Tuning: recall per neighbor at angle θ is 1-(1-p^planes)^tables with
    p = 1-θ/π; fewer planes / more tables raises recall and the scanned
    fraction.  At scale the corpus is written ``partitionBy(table,
    bucket)``, so each probe is a partition-pruned scan of
    ~n·tables/2^planes vectors instead of n.
    """
    cb = _with_lsh_tables(corpus, id_col, vec_col, planes, tables).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        F.explode("buckets").alias("bucket"),
    )
    qb = _multiprobe_tables(
        _with_lsh_tables(queries, id_col, vec_col, planes, tables), planes
    ).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.col("probe_bucket").alias("bucket"),
    )
    # score inside the broadcast join (corpus side stays map-side), then
    # dedup multi-table matches with a max(cos) hash aggregation — the
    # shuffle carries (ids, double) with map-side combine; the vectors
    # never cross an exchange (a distinct over (ids, qvec, cvec) would
    # ship every duplicate's two embeddings through the wire)
    scored = (
        _scored(cb.join(F.broadcast(qb), "bucket"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.max("cos").alias("cos"))
    )
    return _rank_topk(scored, k)


def ivf_assign(
    corpus: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample: Optional[int] = 2048,
    distributed_fit: bool = False,
) -> tuple:
    """IVF coarse quantizer: deterministic centroids + the corpus with a
    ``cell`` column.  Returns ``(assigned_df, centroids ndarray)``.

    Two training modes:

    - **sample fit** (default): seeded k-means on a driver-side sample —
      the sample is tiny and a quantizer only needs the coarse shape of
      the distribution; the *assignment* is always distributed.
    - **distributed fit** (``distributed_fit=True``): centroids come
      from ``clustering.kmeans_fit`` over the FULL corpus — assignment
      map-side against centroid literals, updates as k·d-partial
      aggregations, driver holds only the k×d matrix.  This is the path
      when the corpus distribution drifts from any bounded sample
      (10^10 vectors with heavy tails) and the quantizer must see all
      of it.
    """
    if distributed_fit:
        from . import clustering

        _, cents = clustering.kmeans_fit(
            corpus, k=n_cells, iters=3, id_col=id_col, vec_col=vec_col
        )
        C = np.asarray(cents, dtype=np.float64)
        norms = np.linalg.norm(C, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        C = C / norms
    else:
        pdf = (
            corpus.select(vec_col)
            .limit(sample or 2048)
            .toPandas()
        )
        X = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
        Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
        rng = np.random.RandomState(SEED)
        C = Xn[rng.choice(len(Xn), size=min(n_cells, len(Xn)), replace=False)]
        for _ in range(10):  # Lloyd on the sample (driver-side, tiny)
            a = np.argmax(Xn @ C.T, axis=1)
            for j in range(len(C)):
                m = a == j
                if m.any():
                    v = Xn[m].mean(axis=0)
                    C[j] = v / (np.linalg.norm(v) or 1.0)

    out_schema = StructType(
        corpus.schema.fields + [StructField("cell", LongType(), False)]
    )

    def _assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            M = np.vstack(b[vec_col].to_numpy()).astype(np.float64)
            Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
            b = b.copy()
            b["cell"] = np.argmax(Mn @ C.T, axis=1).astype(np.int64)
            yield b

    return corpus.mapInPandas(_assign, schema=out_schema), C


def _probe_cells(
    queries: DataFrame,
    C: np.ndarray,
    nprobe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Distributed query→probe-cell assignment: one matmul per Arrow batch
    appends ``probe_cells: array<long>`` (the ``nprobe`` nearest centroid
    cells, same argsort tie-break as the driver path).  No driver collect —
    this is the bulk/corpus-vs-corpus path."""
    out_schema = StructType(
        [
            queries.schema[id_col],
            queries.schema[vec_col],
            StructField("probe_cells", ArrayType(LongType()), False),
        ]
    )

    def _assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = b[[id_col, vec_col]].copy()
            if len(b):
                M = np.vstack(b[vec_col].to_numpy()).astype(np.float64)
                Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
                order = np.argsort(-(Mn @ C.T), axis=1)[:, :nprobe]
                out["probe_cells"] = list(order.astype(np.int64))
            else:
                out["probe_cells"] = []
            yield out

    return queries.select(id_col, vec_col).mapInPandas(_assign, out_schema)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_driver_queries: int = 100_000,
    distributed_queries: bool = False,
    distributed_fit: bool = False,
) -> DataFrame:
    """IVF approximate top-k: search only the ``nprobe`` nearest cells.
    Output shape matches ``cosine_topk``.  At scale: corpus written
    ``partitionBy(cell)`` → each query touches nprobe/n_cells of the data
    via partition pruning.

    Two query-side modes:

    - **small query set** (≤ ``max_driver_queries``): probe cells are
      planned on the driver and the (query, cell) rows broadcast into the
      search — the corpus never shuffles.
    - **bulk query set** (``distributed_queries=True``, or automatically
      when the guard count is exceeded): cells are assigned to queries
      DISTRIBUTED (``_probe_cells`` — a mapInPandas matmul, no
      ``toPandas``) and the search is a shuffle hash join on ``cell``;
      each query's vector crosses the exchange ``nprobe`` times, which is
      inherent to corpus-vs-corpus ANN.  Hot cells are ordinary join skew
      — AQE's skew-join split applies.

    ``distributed_fit=True`` trains the quantizer on the FULL corpus via
    ``clustering.kmeans_fit`` instead of a driver-side sample (see
    ``ivf_assign``).
    """
    assigned, C = ivf_assign(
        corpus, n_cells, id_col, vec_col, distributed_fit=distributed_fit
    )
    spark = corpus.sparkSession

    if not distributed_queries:
        qpdf = (
            queries.select(id_col, vec_col)
            .limit(max_driver_queries + 1)
            .toPandas()
        )
        if len(qpdf) > max_driver_queries:
            distributed_queries = True  # bulk set → distributed assignment

    corpus_side = assigned.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"), "cell"
    )
    if distributed_queries:
        q = _probe_cells(queries, C, nprobe, id_col, vec_col).select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            F.explode("probe_cells").alias("cell"),
        )
        joined = corpus_side.join(q, "cell")
    else:
        Q = np.vstack(qpdf[vec_col].to_numpy()).astype(np.float64)
        Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
        probe_cells = np.argsort(-(Qn @ C.T), axis=1)[:, :nprobe]
        probe_rows = [
            (int(qid), int(cell))
            for qid, cells in zip(qpdf[id_col], probe_cells)
            for cell in cells
        ]
        probes = spark.createDataFrame(probe_rows, "query_id long, cell long")
        q = queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
        ).join(probes, "query_id")
        joined = corpus_side.join(F.broadcast(q), "cell")

    return _rank_topk(_scored(joined), k)


def quantize_int8(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage path for
    10^10-vector corpora (4 bytes -> 1 byte per dim; IVF/LSH candidate
    generation runs on the int8 codes, exact re-rank on the float
    originals).

    q_i = clamp(floor(x_i * 127 / scale + 0.5), -127, 127) with
    ``scale = max|x_i|`` — round-half-up via floor(+0.5) rather than
    ``round()`` because IEEE floor on an identically-derived double is
    exact cross-engine while round() half-rule conventions differ.

    Everything is map-side array lambdas (zero shuffle, rides the
    scan).  Output is flat for the oracle: ``(vec_id, n_dims, scale,
    q_md5, max_err_milli)`` — ``q_md5`` digests the comma-joined codes
    (the full codebook, order-sensitive), ``max_err_milli`` is the
    reconstruction error ``max|x - q*scale/127|`` floored to integer
    milli-units.  ``scale`` is a data value (no arithmetic), so it is
    bit-exact.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(v, F.abs))
    q = F.transform(
        v,
        lambda x: F.greatest(
            F.lit(-127).cast("long"),
            F.least(
                F.lit(127).cast("long"),
                F.floor(x * F.lit(127.0) / scale + F.lit(0.5)).cast(
                    "long"
                ),
            ),
        ),
    )
    base = df.select(
        F.col(id_col).alias("vec_id"),
        v.alias("v"),
        scale.alias("scale"),
        q.alias("q"),
    )
    err = F.array_max(
        F.zip_with(
            F.col("v"),
            F.col("q"),
            lambda x, qi: F.abs(
                x - qi.cast("double") * (F.col("scale") / F.lit(127.0))
            ),
        )
    )
    return base.select(
        "vec_id",
        F.size("v").cast("long").alias("n_dims"),
        F.col("scale"),
        F.md5(F.array_join(F.transform("q", lambda x: x.cast("string")), ",")).alias("q_md5"),
        F.floor(err * F.lit(1000.0)).cast("long").alias("max_err_milli"),
    )


# ----------------------------------------------------------------- PQ


def _sub_slices(vec_col: str, m: int, dsub: int):
    """m contiguous float64 sub-vector columns of an array column."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return [F.slice(v, j * dsub + 1, dsub) for j in range(m)]


def _l2sq_lit(sub, codeword):
    """JVM-side squared L2 distance between a sub-vector column and a
    literal codeword — left-fold summation (matches DuckDB list_sum)."""
    lit = F.array(*[F.lit(float(c)) for c in codeword])
    return F.aggregate(
        F.zip_with(sub, lit, lambda x, c: (x - c) * (x - c)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _pq_code_expr(sub, codebook):
    """argmin over the subspace codebook; first minimum wins (tie ->
    lowest code id), mirrored by the oracle's ``order by dist, code``."""
    dists = F.array(*[_l2sq_lit(sub, cw) for cw in codebook])
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def pq_fit(
    corpus: DataFrame,
    m: int = 4,
    ksub: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Product-quantization codebook training (Jégou et al., "Product
    quantization for nearest neighbor search", TPAMI 2011): split d
    dims into *m* contiguous subspaces and run an independent
    fixed-iteration Euclidean k-means in each.  Returns ``codebooks``
    as a list[m][ksub][dsub] of rounded floats.

    Same determinism discipline as ``clustering.kmeans_fit``: init for
    subspace j = the k smallest ids' sub-vectors, every centroid
    component rounded to 7 dp at each hand-off, fixed iteration count,
    empty codes keep their previous codeword — the whole run is a
    deterministic function of the input that a DuckDB CTE chain replays
    exactly (``__spark_entry__._pq_oracle_cte``).

    Scale shape: ALL m subspaces train in each iteration's ONE Spark
    job — assignment is map-side (m argmins over literal codebooks,
    whole-stage codegen), and the update posexplodes the vector once,
    grouping by (subspace, code, component) with map-side combine: at
    most m*ksub*dsub partial rows per task cross the exchange, driver
    state is the m*ksub*dsub codebook matrix.
    """
    first = corpus.select(F.size(vec_col).alias("d")).first()
    d = int(first["d"])
    assert d % m == 0, f"dim {d} not divisible by m={m}"
    dsub = d // m

    base = corpus.select(
        F.col(id_col).alias("vid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("e"),
    )
    base.cache()

    init = (
        base.orderBy("vid")
        .limit(ksub)
        .select(F.transform("e", lambda x: F.round(x, 7)).alias("c"))
        .collect()
    )
    codebooks = [
        [list(r["c"])[j * dsub : (j + 1) * dsub] for r in init]
        for j in range(m)
    ]

    for _ in range(iters):
        subs = [F.slice("e", j * dsub + 1, dsub) for j in range(m)]
        codes = F.array(
            *[_pq_code_expr(subs[j], codebooks[j]) for j in range(m)]
        )
        assigned = base.select("e", codes.alias("codes"))
        upd = (
            assigned.select(
                F.posexplode("e").alias("pos", "x"), "codes"
            )
            .select(
                (F.col("pos") / dsub).cast("int").alias("j"),
                F.element_at(
                    "codes", (F.col("pos") / dsub).cast("int") + 1
                ).alias("code"),
                (F.col("pos") % dsub).alias("i"),
                "x",
            )
            .groupBy("j", "code", "i")
            .agg(F.round(F.avg("x"), 7).alias("mval"))
            .collect()
        )
        nxt = [[list(cw) for cw in cb] for cb in codebooks]
        got: dict = {}
        for r in upd:
            got.setdefault((int(r["j"]), int(r["code"])), {})[int(r["i"])] = r["mval"]
        for (j, c), comps in got.items():
            nxt[j][c] = [comps[i] for i in range(dsub)]
        codebooks = nxt
    return codebooks


def pq_encode(
    corpus: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Map-side PQ encoding: ``(id, code_0..code_{m-1}, err_milli)``.

    ``err_milli`` is the reconstruction squared-L2 in integer
    milli-units (``floor(1000*err + 0.5)``, subspace distances summed
    in fixed j order) — the quality audit the oracle recomputes, same
    convention as :func:`quantize_int8`.  Zero shuffles: codebooks are
    plan literals; at 10^10 vectors this replaces an 8·d-byte vector
    with m bytes + the audit column.
    """
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    subs = _sub_slices(vec_col, m, dsub)
    code_cols = [
        _pq_code_expr(subs[j], codebooks[j]).alias(f"code_{j}")
        for j in range(m)
    ]
    out = corpus.select(F.col(id_col), *code_cols, F.col(vec_col))
    err = F.lit(0.0)
    for j in range(m):
        sub = _sub_slices(vec_col, m, dsub)[j]
        dists = F.array(*[_l2sq_lit(sub, cw) for cw in codebooks[j]])
        err = err + F.element_at(dists, F.col(f"code_{j}") + 1)
    return out.select(
        id_col,
        *[F.col(f"code_{j}").cast("long").alias(f"code_{j}")
          for j in range(m)],
        F.floor(err * 1000 + F.lit(0.5)).cast("long").alias("err_milli"),
    )


def pq_adc_topk(
    encoded: DataFrame,
    codebooks,
    query_vec,
    k: int = 5,
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance top-k for ONE query over PQ codes: the
    query's per-subspace lookup table (ksub*m distances, computed once
    driver-side from the rounded codebooks) is baked into the plan as
    literals, each row's approximate distance is m array lookups + a
    fixed-order sum, and the result is a ``TakeOrderedAndProject`` —
    one bounded exchange, the corpus vectors themselves never load
    (codes only).  Compose per query for small query sets, exactly like
    ``cosine_topk``'s broadcast contract.
    """
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    q = [float(x) for x in query_vec]
    luts = []
    for j in range(m):
        sub = q[j * dsub : (j + 1) * dsub]
        luts.append(
            [
                round(sum((x - c) * (x - c) for x, c in zip(sub, cw)), 7)
                for cw in codebooks[j]
            ]
        )
    dist = F.lit(0.0)
    for j in range(m):
        lut = F.array(*[F.lit(v) for v in luts[j]])
        # codes are BIGINT in the encoded table; element_at wants INT
        dist = dist + F.element_at(
            lut, (F.col(f"code_{j}") + 1).cast("int")
        )
    return (
        encoded.select(id_col, F.round(dist, 6).alias("adc_dist"))
        .orderBy(F.col("adc_dist"), F.col(id_col))
        .limit(k)
    )


def _jl_signs(seed: int, in_dim: int, out_dim: int) -> list:
    """Deterministic ±1 sign matrix from md5 parity — auditable,
    engine-independent, and regenerable from (seed, dims) alone."""
    import hashlib

    return [
        [
            1
            if int(
                hashlib.md5(f"{seed}:{i}:{j}".encode()).hexdigest()[:8], 16
            )
            % 2
            == 0
            else -1
            for i in range(in_dim)
        ]
        for j in range(out_dim)
    ]


def jl_project(
    embeds: DataFrame,
    in_dim: int,
    out_dim: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Johnson–Lindenstrauss sign projection (Achlioptas '03 ±1
    variant): project each embedding onto *out_dim* random ±1
    directions and scale by ``1/sqrt(out_dim)`` — the cheap sketch that
    preserves pairwise distances within (1±ε) and turns 64-float
    vectors into 8 doubles for pre-filtering near-dup / ANN candidates
    before exact verification (the same cheap-first discipline as
    sign-LSH, but metric-preserving rather than bucketing).

    Determinism across engines: the sign matrix is md5-derived literals
    baked into the plan; each output is an UNROLLED left-associated sum
    of ``element(i)·(±1.0)`` — float→double widening, ±1 products and
    fixed-order IEEE additions are all exact or correctly rounded
    identically in the JVM and DuckDB, so the projected doubles are
    bit-checkable, not approximately-equal.

    Pure map-side column expressions (out_dim × in_dim fused-codegen
    terms): zero shuffle, embarrassingly parallel at any corpus size.
    Output: ``(id, p0..p{out_dim-1})``.
    """
    import math

    signs = _jl_signs(seed, in_dim, out_dim)
    scale = repr(1.0 / math.sqrt(out_dim))
    cols = [F.col(id_col).alias("id")]
    for j in range(out_dim):
        terms = " + ".join(
            f"cast(element_at({vec_col}, {i + 1}) as double)"
            f" * {float(signs[j][i])!r}"
            for i in range(in_dim)
        )
        cols.append(F.expr(f"({terms}) * {scale}").alias(f"p{j}"))
    return embeds.select(*cols)


def jl_oracle_sql(
    rows_sql: str,
    in_dim: int,
    out_dim: int = 8,
    seed: int = 42,
) -> str:
    """DuckDB replay of :func:`jl_project` — the SAME md5-derived sign
    literals, same term order, same scale literal — over any
    ``(vec_id, embedding)`` subquery."""
    import math

    signs = _jl_signs(seed, in_dim, out_dim)
    scale = repr(1.0 / math.sqrt(out_dim))
    cols = []
    for j in range(out_dim):
        terms = " + ".join(
            f"embedding[{i + 1}]::DOUBLE * ({float(signs[j][i])!r})"
            for i in range(in_dim)
        )
        cols.append(f"({terms}) * {scale} AS p{j}")
    sel = ",\n               ".join(cols)
    return f"""
        SELECT vec_id AS id,
               {sel}
        FROM ({rows_sql})
    """
