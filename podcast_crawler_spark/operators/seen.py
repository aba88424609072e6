"""URL-seen set: partitioned Bloom filter with cuckoo-filter fallback,
verified exactly by anti-join.

The reference gets idempotence implicitly from Postgres upserts
(``ON CONFLICT rss_feed_url`` / ``ON CONFLICT guid`` —
``/root/reference/src/infrastructure/persistence/repositories/
podcast_repository.rs:178-183,212-218``).  The north rule makes the seen
set explicit at 10^10-URL scale (SURVEY.md §2.7 D3):

* **Build**: the key space is sharded by ``pmod(url_hash, S)``, and
  each shard's keys build one numpy bit array inside
  ``groupBy(shard).applyInPandas`` (one hash shuffle keyed on the shard
  id).  Keys are ``xxhash64(canonical_url)`` — already a uniform hash,
  so the k probe positions derive via Kirsch-Mitzenmacher double hashing
  h1+i·h2, no per-key rehash.  PySpark does not expose Spark's internal
  BloomFilter aggregate, hence this Arrow-batched construction
  (SURVEY.md §4).
* **Probe**: candidates probe their own shard through a ``cogroup`` on
  the shard id, membership evaluated vectorized in numpy.  A Bloom
  "maybe" is only an *accelerator* — :func:`filter_unseen` verifies the
  maybes exactly with a ``left_semi``/``left_anti`` join, so false
  positives can never drop URLs; set equality with the reference's
  upsert keys is therefore provable (SURVEY.md §7.2).
* **Cuckoo fallback**: a cuckoo filter (numpy buckets, 4 slots × 16-bit
  fingerprints) supporting **delete** — used when keys must be retired
  (e.g. re-crawl after ``fetch_interval``).  All bulk operations are
  vectorized (fancy-indexed bucket lookups); only the eviction-kick
  slow path for an over-full bucket is scalar, as in any cuckoo
  implementation.

The shard table is the one deployment mode, because it is the one that
reaches the 10^10 design point: bits = -n·ln(p)/ln(2)² ⇒ at n=10^10,
p=1% ~95.8 Gbit ≈ 12 GB, far too big to broadcast or to materialize on
the driver.  The driver never sees a filter byte; each executor holds
m/S bits.  Persisted (``bits`` per shard row) it is the incremental seen
index across epochs (``plans/epoch.admit_urls``).  Its layout — the
shard count S and the expected key count — is fixed when the index is
built: the caller records it beside the index and passes it back to
every probe (*num_shards*) and fold (*expected_keys_per_shard*); no
function here guesses it.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Optional, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

_MIX = np.uint64(0x9E3779B97F4A7C15)


def _h1_h2(keys: np.ndarray) -> Tuple[np.ndarray, np.ndarray]:
    """Two derived 64-bit hashes from the xxhash64 key (splitmix64 finalize
    for h2 so h1/h2 are independent enough for double hashing)."""
    h1 = keys.astype(np.uint64)
    z = h1 + _MIX
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    h2 = (z ^ (z >> np.uint64(31))) | np.uint64(1)  # odd ⇒ full cycle
    return h1, h2


def bloom_params(expected_keys: int, fpp: float = 0.01) -> Tuple[int, int]:
    """(num_bits, num_hashes) for a target false-positive rate."""
    n = max(expected_keys, 1)
    m = int(-n * math.log(fpp) / (math.log(2) ** 2))
    m = max(64, (m + 63) // 64 * 64)
    k = max(1, round(m / n * math.log(2)))
    return m, k


@dataclass
class BloomFilter:
    bits: np.ndarray  # uint8 array, m/8 bytes
    num_bits: int
    num_hashes: int

    def contains(self, keys: np.ndarray) -> np.ndarray:
        h1, h2 = _h1_h2(keys)
        out = np.ones(len(keys), dtype=bool)
        m = np.uint64(self.num_bits)
        for i in range(self.num_hashes):
            idx = (h1 + np.uint64(i) * h2) % m
            out &= (self.bits[(idx >> np.uint64(3)).astype(np.int64)]
                    >> (idx & np.uint64(7)).astype(np.uint8)) & 1 == 1
        return out

    def add(self, keys: np.ndarray) -> None:
        h1, h2 = _h1_h2(keys)
        m = np.uint64(self.num_bits)
        for i in range(self.num_hashes):
            idx = (h1 + np.uint64(i) * h2) % m
            np.bitwise_or.at(
                self.bits,
                (idx >> np.uint64(3)).astype(np.int64),
                (np.uint8(1) << (idx & np.uint64(7)).astype(np.uint8)),
            )


SHARD_SCHEMA = StructType([
    StructField("shard", IntegerType(), False),
    StructField("bits", BinaryType(), False),
    StructField("num_bits", LongType(), False),
    StructField("num_hashes", IntegerType(), False),
])


def _shard_col(key_col: str, num_shards: int):
    return F.pmod(F.col(key_col), F.lit(num_shards)).cast("int")


def _one_shard_row(shard: pd.DataFrame) -> None:
    """A persisted shard table must hold EXACTLY one row per shard id.
    Duplicate rows (e.g. an append where an overwrite was intended) would
    silently drop bits here — and a dropped bit is a Bloom *false
    negative*, the one failure mode the exact-verify join never catches
    (definite-negatives skip verification).  Fail loudly instead."""
    if len(shard) > 1:
        raise ValueError(
            f"shard table has {len(shard)} rows for shard "
            f"{int(shard['shard'].iloc[0])}; expected at most 1 — was the "
            "shard table appended instead of overwritten?"
        )


def _shard_row(shard: int, bf: BloomFilter) -> pd.DataFrame:
    """The one-row frame a shard's build or fold task returns."""
    return pd.DataFrame(
        {
            "shard": [shard],
            "bits": [bf.bits.tobytes()],
            "num_bits": [bf.num_bits],
            "num_hashes": [bf.num_hashes],
        }
    )


def _free_col_name(df: DataFrame, base: str) -> str:
    """A grouping-column name that cannot clobber caller data: suffix
    underscores until it's free (a caller whose candidates already carry
    ``_shard`` would otherwise get pmod values back in that column)."""
    name = base
    while name in df.columns:
        name += "_"
    return name


def build_bloom_shards(
    df: DataFrame,
    key_col: str = "url_hash",
    num_shards: int = 32,
    expected_keys: Optional[int] = None,
    params: Optional[Tuple[int, int]] = None,
) -> DataFrame:
    """Shard keys by ``pmod(key, S)`` and build one bloom per shard inside
    ``applyInPandas`` — one hash shuffle keyed on the shard id, **no
    driver materialization, no OR-merge**.  Returns a lazy
    ``(shard, bits, num_bits, num_hashes)`` DataFrame whose rows live
    (and stay) on executors; persist it as a table to reuse the seen
    index across epochs.

    Each shard is sized for its expected share of the keys at 1% fpp
    (~1.2 GB per 10^9 keys, split S ways across the cluster).  ``params``
    pins each shard's ``(num_bits, num_hashes)`` instead (the FPP audit
    needs an engine-independent geometry)."""
    if params is not None:
        num_bits, num_hashes = params
    else:
        if expected_keys is None:
            expected_keys = df.count()
        num_bits, num_hashes = bloom_params(max(1, expected_keys // num_shards))

    def _build(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        bf = BloomFilter(
            np.zeros(num_bits // 8, dtype=np.uint8), num_bits, num_hashes
        )
        bf.add(pdf[key_col].to_numpy(dtype=np.int64))
        return _shard_row(int(key[0]), bf)

    return (
        df.select(key_col)
        .withColumn("shard", _shard_col(key_col, num_shards))
        .groupBy("shard")
        .applyInPandas(_build, schema=SHARD_SCHEMA)
    )


def update_bloom_shards(
    shards: DataFrame,
    new_keys: DataFrame,
    key_col: str = "url_hash",
    num_shards: int = 32,
    *,
    expected_keys_per_shard: int,
) -> DataFrame:
    """Incrementally fold *new_keys* into an existing shard table — the
    cross-epoch seen index: admit a batch of URLs, OR their bits into
    each shard, persist the returned table for the next epoch.  One
    cogroup per update, O(new keys + S rows) — never a rebuild over the
    full history.  Shards with no new keys pass through untouched.

    A shard receiving its FIRST keys here has no sibling metadata in its
    task, so it is sized from ``expected_keys_per_shard``: the index's
    recorded ``expected_keys`` / S.  Bloom bits never resize, so a fresh
    shard sized from its first batch would degrade toward fpp 1 as it
    grows."""
    keyed = new_keys.select(key_col).withColumn(
        "shard", _shard_col(key_col, num_shards)
    )

    def _merge(key: tuple, shard: pd.DataFrame, keys: pd.DataFrame) -> pd.DataFrame:
        if len(shard) == 0 and len(keys) == 0:
            return pd.DataFrame(
                {"shard": [], "bits": [], "num_bits": [], "num_hashes": []}
            )
        _one_shard_row(shard)
        if len(shard):
            num_bits = int(shard["num_bits"].iloc[0])
            num_hashes = int(shard["num_hashes"].iloc[0])
            bits = np.frombuffer(shard["bits"].iloc[0], dtype=np.uint8).copy()
        else:  # first keys for this shard
            num_bits, num_hashes = bloom_params(expected_keys_per_shard)
            bits = np.zeros(num_bits // 8, dtype=np.uint8)
        bf = BloomFilter(bits, num_bits, num_hashes)
        if len(keys):
            bf.add(keys[key_col].to_numpy(dtype=np.int64))
        return _shard_row(int(key[0]), bf)

    return (
        shards.groupBy("shard")
        .cogroup(keyed.groupBy("shard"))
        .applyInPandas(_merge, schema=SHARD_SCHEMA)
    )


def bloom_probe_partitioned(
    candidates: DataFrame,
    shards: DataFrame,
    key_col: str = "url_hash",
    num_shards: int = 32,
) -> DataFrame:
    """Candidates and shard rows are co-grouped on the shard id
    (``cogroup`` → ``applyInPandas``) so each task probes its own shard's
    bits vectorized.  The filter bytes move through exactly one shuffle
    of S rows (executor→executor) and never visit the driver.  Output =
    candidates + boolean ``maybe_seen``."""
    cols = candidates.columns
    schema = StructType(
        candidates.schema.fields + [StructField("maybe_seen", BooleanType())]
    )

    def _probe(key: tuple, cand: pd.DataFrame, shard: pd.DataFrame) -> pd.DataFrame:
        out = cand[cols].copy()
        if len(cand) == 0:
            out["maybe_seen"] = np.zeros(0, dtype=bool)
            return out
        if len(shard) == 0:  # no seen keys in this shard ⇒ all unseen
            out["maybe_seen"] = np.zeros(len(cand), dtype=bool)
            return out
        _one_shard_row(shard)
        bf = BloomFilter(
            np.frombuffer(shard["bits"].iloc[0], dtype=np.uint8),
            int(shard["num_bits"].iloc[0]),
            int(shard["num_hashes"].iloc[0]),
        )
        out["maybe_seen"] = bf.contains(cand[key_col].to_numpy(dtype=np.int64))
        return out

    sc = _free_col_name(candidates, "_shard")
    cand = candidates.withColumn(sc, _shard_col(key_col, num_shards))
    return (
        cand.groupBy(sc)
        .cogroup(shards.groupBy("shard"))
        .applyInPandas(_probe, schema=schema)
    )


# Exact verify of the bloom "maybe" rows: up to this many maybes the
# seen-key scan semi-joins a broadcast of the maybe keys (the seen side is
# never shuffled) and the hit set (at most the maybes) broadcasts back into
# an anti-join; beyond it both sides shuffle into a plain anti-join — the
# safe path when an admission batch is almost all duplicates at 10^9+.
VERIFY_BROADCAST_MAX_ROWS = 4_000_000


def filter_unseen(
    candidates: DataFrame,
    shards: DataFrame,
    seen_keys: DataFrame,
    key_col: str = "url_hash",
    num_shards: int = 32,
) -> Tuple[DataFrame, DataFrame]:
    """Exact "not yet seen" (D3): probe *candidates* against the shard
    table (:func:`bloom_probe_partitioned`); definite-negatives skip the
    verify, and the maybes are verified exactly against *seen_keys*, so a
    false positive costs join rows, never a dropped key.  *num_shards*
    must be the count *shards* was built with.

    Returns ``(fresh, probed)``: *probed* is persisted (the maybe count
    that picks the verify strategy reads it), so the caller unpersists it
    once *fresh* has been consumed."""
    probed = bloom_probe_partitioned(
        candidates, shards, key_col, num_shards
    ).persist()
    definite_new = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
    maybes = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
    n_maybes = maybes.count()
    seen = seen_keys.select(key_col)
    if n_maybes == 0:
        fresh = definite_new
    elif n_maybes <= VERIFY_BROADCAST_MAX_ROWS:
        hits = seen.join(
            F.broadcast(maybes.select(key_col)), key_col, "left_semi"
        )
        fresh = definite_new.unionByName(
            maybes.join(F.broadcast(hits), key_col, "left_anti")
        )
    else:
        fresh = definite_new.unionByName(
            maybes.join(seen, key_col, "left_anti")
        )
    return fresh, probed


# ---------------- cuckoo filter (deletable fallback) ----------------


class CuckooFilter:
    """Bucketized cuckoo filter: 4 slots/bucket, 16-bit fingerprints,
    partial-key cuckoo hashing (Fan et al., CoNEXT'14).  Supports delete —
    the property Bloom lacks — for retiring re-crawlable keys.

    All bulk paths are vectorized numpy: ``contains`` is two fancy-indexed
    bucket gathers; ``insert`` places whole batches per round (one key per
    distinct bucket per round, so slot writes never race) and only falls
    back to the scalar eviction-kick walk for keys whose both buckets are
    full — the load-dependent tail every cuckoo implementation walks."""

    SLOTS = 4
    MAX_KICKS = 500

    def __init__(self, num_buckets: int, seed: int = 42):
        self.num_buckets = 1 << (num_buckets - 1).bit_length()  # power of two
        self.table = np.zeros((self.num_buckets, self.SLOTS), dtype=np.uint16)
        self.rng = np.random.default_rng(seed)
        self.size = 0

    def _fingerprint(self, keys: np.ndarray) -> np.ndarray:
        fp = (keys.astype(np.uint64) >> np.uint64(48)).astype(np.uint16)
        return np.where(fp == 0, np.uint16(1), fp)  # 0 means empty slot

    def _index1(self, keys: np.ndarray) -> np.ndarray:
        return (keys.astype(np.uint64) % np.uint64(self.num_buckets)).astype(
            np.int64
        )

    def _index2(self, i1: np.ndarray, fp: np.ndarray) -> np.ndarray:
        h = fp.astype(np.uint64) * _MIX
        return ((i1.astype(np.uint64) ^ h) % np.uint64(self.num_buckets)).astype(
            np.int64
        )

    def _bulk_place(
        self, buckets: np.ndarray, fps: np.ndarray, todo: np.ndarray
    ) -> np.ndarray:
        """Vectorized first-fit: round-robin over distinct buckets (first
        occurrence per bucket per round ⇒ no intra-batch slot races),
        writing each selected fingerprint into its bucket's first empty
        slot.  Returns the boolean placed-mask over the full batch."""
        placed = np.zeros(len(buckets), dtype=bool)
        blocked = np.zeros(len(buckets), dtype=bool)
        active = todo.copy()
        while True:
            cand = np.nonzero(active & ~placed & ~blocked)[0]
            if len(cand) == 0:
                break
            _, first = np.unique(buckets[cand], return_index=True)
            sel = cand[first]
            rows = self.table[buckets[sel]]  # (u, SLOTS) gather
            empty = rows == 0
            ok = empty.any(axis=1)
            slots = np.argmax(empty, axis=1)
            hit = sel[ok]
            self.table[buckets[hit], slots[ok]] = fps[hit]
            placed[hit] = True
            blocked[sel[~ok]] = True  # bucket full — this pass can't help
        return placed

    def insert(self, keys: np.ndarray) -> int:
        """Batch insert; vectorized except the eviction-kick tail."""
        keys = np.asarray(keys, dtype=np.int64)
        fps = self._fingerprint(keys)
        i1s = self._index1(keys)
        i2s = self._index2(i1s, fps)
        placed = self._bulk_place(i1s, fps, np.ones(len(keys), dtype=bool))
        if not placed.all():
            placed |= self._bulk_place(i2s, fps, ~placed)
        inserted = int(placed.sum())
        for j in np.nonzero(~placed)[0]:  # rare: both buckets full → kick
            self._insert_kick(int(fps[j]), int(i1s[j]), int(i2s[j]))
            inserted += 1
        self.size += inserted
        return inserted

    def _insert_kick(self, fp: int, i1: int, i2: int) -> None:
        bucket, cur = (i1 if self.rng.integers(2) else i2), fp
        for _ in range(self.MAX_KICKS):
            slot = int(self.rng.integers(self.SLOTS))
            cur, self.table[bucket, slot] = (int(self.table[bucket, slot]), cur)
            bucket = int(
                self._index2(
                    np.array([bucket]), np.array([cur], dtype=np.uint16)
                )[0]
            )
            row = self.table[bucket]
            empty = np.nonzero(row == 0)[0]
            if len(empty):
                row[empty[0]] = cur
                return
        raise RuntimeError("cuckoo filter full — grow num_buckets")

    def contains(self, keys: np.ndarray) -> np.ndarray:
        """Vectorized membership: two fancy-indexed bucket gathers + a
        broadcast compare — no per-key Python."""
        keys = np.asarray(keys, dtype=np.int64)
        fps = self._fingerprint(keys)
        i1s = self._index1(keys)
        i2s = self._index2(i1s, fps)
        return (self.table[i1s] == fps[:, None]).any(axis=1) | (
            self.table[i2s] == fps[:, None]
        ).any(axis=1)

    def _locate(self, key: int) -> Tuple[int, int, int]:
        k = np.array([key], dtype=np.int64)
        fp = int(self._fingerprint(k)[0])
        i1 = int(self._index1(k)[0])
        i2 = int(self._index2(np.array([i1]), np.array([fp], dtype=np.uint16))[0])
        return fp, i1, i2

    def delete(self, key: int) -> bool:
        fp, i1, i2 = self._locate(key)
        for b in (i1, i2):
            slots = np.nonzero(self.table[b] == fp)[0]
            if len(slots):
                self.table[b, slots[0]] = 0
                self.size -= 1
                return True
        return False

    def delete_batch(self, keys: np.ndarray) -> int:
        """Per-partition batch delete.  Deletes remove one stored copy per
        call (cuckoo semantics), so the loop is per key — but it runs once
        per Arrow batch inside an executor task, never on the driver."""
        return sum(self.delete(int(k)) for k in np.asarray(keys, dtype=np.int64))


def cuckoo_filter_unseen(
    candidates: DataFrame,
    seen: DataFrame,
    deleted: Optional[DataFrame] = None,
    key_col: str = "url_hash",
    num_shards: int = 32,
    expected_keys: Optional[int] = None,
) -> DataFrame:
    """Distributed deletable seen-set probe (D3 cuckoo fallback): per-shard
    cuckoo filters built, deleted-from, and probed entirely inside
    executor tasks — the driver never collects a key or a filter.

    Keys shard by ``pmod(key, S)`` exactly like the bloom path; each
    shard's task cogroups (candidates, seen, deleted) for its shard,
    builds the shard's cuckoo filter with a vectorized batch insert,
    retires the deleted keys (the operation Bloom cannot do), and probes
    the candidates with the vectorized ``contains``.  Output = candidates
    + boolean ``maybe_seen``; callers MUST exact-verify positive hits against
    the true seen set (false positives are inherent, ~2·SLOTS/2^16).
    """
    if expected_keys is None:
        expected_keys = seen.count()
    per_shard = max(64, (expected_keys // max(num_shards, 1)) * 2)
    cols = candidates.columns
    schema = StructType(
        candidates.schema.fields + [StructField("maybe_seen", BooleanType())]
    )
    deleted = deleted if deleted is not None else seen.limit(0)

    # one row per (shard, kind, key): kind 0 = seen-insert, 1 = delete
    seen_tagged = seen.select(
        F.col(key_col).alias("k"), F.lit(0).alias("kind")
    ).unionByName(
        deleted.select(F.col(key_col).alias("k"), F.lit(1).alias("kind"))
    ).withColumn("_shard", _shard_col("k", num_shards))

    def _probe(key: tuple, cand: pd.DataFrame, keys: pd.DataFrame) -> pd.DataFrame:
        out = cand[cols].copy()
        if len(cand) == 0:
            out["maybe_seen"] = np.zeros(0, dtype=bool)
            return out
        cf = CuckooFilter(num_buckets=max(64, per_shard // CuckooFilter.SLOTS))
        if len(keys):
            ins = keys.loc[keys["kind"] == 0, "k"].to_numpy(dtype=np.int64)
            if len(ins):
                cf.insert(ins)
            dels = keys.loc[keys["kind"] == 1, "k"].to_numpy(dtype=np.int64)
            if len(dels):
                cf.delete_batch(dels)
        out["maybe_seen"] = cf.contains(cand[key_col].to_numpy(dtype=np.int64))
        return out

    sc = _free_col_name(candidates, "_shard")
    cand = candidates.withColumn(sc, _shard_col(key_col, num_shards))
    return (
        cand.groupBy(sc)
        .cogroup(seen_tagged.groupBy("_shard"))
        .applyInPandas(_probe, schema=schema)
    )


# --------------------------------------------------------------------------
# Bloom false-positive-rate audit
# --------------------------------------------------------------------------

_SPLITMIX_C1 = 0xBF58476D1CE4E5B9
_SPLITMIX_C2 = 0x94D049BB133111EB
_TWO64 = "18446744073709551616"
_TWO32 = "4294967296"


def bloom_fpp_audit(
    seen: DataFrame,
    probe: DataFrame,
    num_bits: int,
    num_hashes: int,
    key_col: str = "url_hash",
    target_ppm: int = 10_000,
) -> DataFrame:
    """Observability for the D3 seen-set: measure the bloom filter's
    ACTUAL false-positive rate against a disjoint probe set, through the
    bit path admission runs (:func:`build_bloom_shards` with one shard,
    then :func:`bloom_probe_partitioned` — the same numpy double-hashing
    that admits URLs in ``plans/epoch``).

    The reference sizes nothing and measures nothing (its seen set is
    exact rows in Postgres, `url_repository.rs`); at a 10^10-URL
    frontier the bloom IS the admission fast path and its observed FPP
    is the operational dial: observed ≫ target means the filter is
    under-sized for the frontier it actually carries (every false
    positive costs one exact-verify lookup), so this audit is the
    alert that triggers a re-size before the exact-verify tier
    saturates.

    Geometry (``num_bits``, ``num_hashes``) is pinned by the caller —
    NOT derived via ``bloom_params`` — so an independent engine can
    replay every bit decision: the whole probe (splitmix64 h2, the k
    double-hash indices, bit membership) is exact integer arithmetic
    that :func:`bloom_fpp_oracle_sql` re-derives in DuckDB via HUGEINT
    limb multiplication (mod-2^64 wraparound that SQL cannot express
    natively).

    ``probe`` must be disjoint from ``seen`` (caller guarantees — e.g.
    odd vs even keys), so every positive probe is a false positive.

    Output (one row): ``(n_seen, n_probe, num_bits, num_hashes,
    n_false_pos, fpp_observed_ppm, fpp_target_ppm, fpp_within_2x)``.
    All integers/booleans — no float crosses the engine boundary.

    Scale shape: one shard holds the whole pinned m-bit filter, so the
    build is one shuffle of the seen keys into one task and the probe
    one cogroup of the probe keys against that single shard row; the
    final agg is a single global count pair.  An audit is a bounded
    sample, not the 10^10 seen set.
    """
    n_seen = seen.count()  # bounded: one count job for the report column
    shards = build_bloom_shards(
        seen, key_col, num_shards=1, params=(num_bits, num_hashes)
    )
    probed = bloom_probe_partitioned(
        probe.select(key_col), shards, key_col, num_shards=1
    )
    agg = probed.agg(
        F.count(F.lit(1)).alias("n_probe"),
        F.sum(F.col("maybe_seen").cast("long")).alias("n_false_pos"),
    )
    # pure-integer rounded ppm (`div`, never `/`) so the value is exact
    # and the oracle's `//` chain reproduces it bit-for-bit
    ppm = F.expr(
        "(1000000 * n_false_pos + n_probe div 2) div n_probe"
    ).cast("long")
    return agg.select(
        F.lit(n_seen).cast("long").alias("n_seen"),
        F.col("n_probe").cast("long").alias("n_probe"),
        F.lit(num_bits).cast("long").alias("num_bits"),
        F.lit(num_hashes).cast("long").alias("num_hashes"),
        F.col("n_false_pos").cast("long").alias("n_false_pos"),
        ppm.alias("fpp_observed_ppm"),
        F.lit(target_ppm).cast("long").alias("fpp_target_ppm"),
        (ppm <= F.lit(2 * target_ppm)).alias("fpp_within_2x"),
    )


def _splitmix64_sql(key_expr: str) -> str:
    """DuckDB expression for ``_h1_h2``'s h2: splitmix64 finalize of the
    key with the final odd-forcing ``| 1``.  Mod-2^64 multiplication is
    done in 32-bit limbs under HUGEINT (the 128-bit product of two
    64-bit values would overflow int128; ``a·b mod 2^64 =
    (a_lo·b + ((a_hi·b) mod 2^32)·2^32) mod 2^64`` keeps every partial
    under 2^97).  Verified bit-exact against the numpy path across the
    full uint64 range in ``tests/test_seen.py``."""

    def wrapmul(a: str, c: int) -> str:
        return (
            f"((({a}) % {_TWO32}) * {c}::HUGEINT + "
            f"((({a}) // {_TWO32}) * {c}::HUGEINT % {_TWO32}) * {_TWO32})"
            f" % {_TWO64}"
        )

    def xorshift(a: str, s: int) -> str:
        return f"xor(({a})::UBIGINT, ({a})::UBIGINT >> {s})::HUGEINT"

    z0 = f"((({key_expr})::HUGEINT + {_MIX}::HUGEINT) % {_TWO64})"
    z2 = f"({wrapmul(xorshift(z0, 30), _SPLITMIX_C1)})"
    z4 = f"({wrapmul(xorshift(z2, 27), _SPLITMIX_C2)})"
    return f"(xor(({z4})::UBIGINT, ({z4})::UBIGINT >> 31) | (1::UBIGINT))"


def audit_geometry(n_seen: int, bits_per_key: int = 10) -> Tuple[int, int]:
    """Engine-independent audit geometry: ``m = bits_per_key·n`` rounded
    up to a word, ``k = 7`` (~1% fpp at 10 bits/key).  Pure integer
    arithmetic — unlike :func:`bloom_params`'s float log sizing — so a
    SQL oracle derives the identical m from the same count at ANY
    scale."""
    m = max(64, (bits_per_key * max(n_seen, 1) + 63) // 64 * 64)
    return m, 7


def bloom_fpp_oracle_sql(
    seen_sql: str,
    probe_sql: str,
    bits_per_key: int = 10,
    num_hashes: int = 7,
    target_ppm: int = 10_000,
) -> str:
    """ANSI-SQL replay of :func:`bloom_fpp_audit` under
    :func:`audit_geometry`: derive m from the seen count in integer
    arithmetic, derive the seen set's bit positions (h1 + i·h2 mod 2^64
    mod m for i < k), then a probe key is a false positive iff every one
    of ITS k positions is in that set.  ``seen_sql`` / ``probe_sql``
    must yield one non-negative, DISTINCT BIGINT column ``k64``."""
    h2 = _splitmix64_sql("k64")
    mbits = "(select mbits from geom)"
    return f"""
        with seen_keys as ({seen_sql}),
        probe_keys as ({probe_sql}),
        geom as (
          select (greatest({bits_per_key} * count(*), 1) + 63)
                   // 64 * 64 mbits
          from seen_keys),
        seen_h as (select k64::HUGEINT h1, {h2}::HUGEINT h2 from seen_keys),
        probe_h as (select k64, k64::HUGEINT h1, {h2}::HUGEINT h2
                    from probe_keys),
        seen_bits as (
          select distinct ((h1 + g.i * h2) % {_TWO64}) % {mbits} idx
          from seen_h cross join generate_series(0, {num_hashes - 1}) g(i)),
        probe_bits as (
          select p.k64, ((h1 + g.i * h2) % {_TWO64}) % {mbits} idx
          from probe_h p
          cross join generate_series(0, {num_hashes - 1}) g(i)),
        hits as (
          select b.k64,
                 min((s.idx is not null)::int) all_set
          from probe_bits b left join seen_bits s using (idx)
          group by b.k64),
        agg as (
          select count(*)::BIGINT n_probe,
                 sum(all_set)::BIGINT n_false_pos
          from hits)
        select (select count(*) from seen_keys)::BIGINT n_seen,
               n_probe,
               {mbits}::BIGINT num_bits,
               {num_hashes}::BIGINT num_hashes,
               n_false_pos,
               ((1000000 * n_false_pos + n_probe // 2) // n_probe)::BIGINT
                 fpp_observed_ppm,
               {target_ppm}::BIGINT fpp_target_ppm,
               ((1000000 * n_false_pos + n_probe // 2) // n_probe)
                 <= {2 * target_ppm} fpp_within_2x
        from agg
    """


def bloom_capacity_plan(
    shards: DataFrame,
    bits_per_key: int = 10,
    horizon_epochs: int = 30,
    shard_col: str = "shard",
    m_col: str = "m_bits",
    keys_col: str = "keys_now",
    rate_col: str = "rate_per_epoch",
) -> DataFrame:
    """Capacity planning for the persisted seen-set shards — WHEN does
    each shard's Bloom filter saturate past its design point, and what
    geometry does the rebuild need?  The operational question a
    10^10-frontier crawl asks every epoch: a bloom sized at bootstrap
    keeps absorbing admissions (`update_bloom_shards` folds new keys in
    — the filter never forgets), so its effective bits-per-key decays
    and the false-positive rate climbs; past the design point every
    extra fp burns an exact-verify probe (`admit_urls`' verify join).
    Reference anchor: the Rust crawler's seen set is an in-memory
    HashSet (`crawler/mod.rs` visited) — saturation planning has no
    equivalent there; it exists only at frontier scale.

    Rule set (pure integers — the float log sizing lives in
    :func:`bloom_params` at BUILD time; the audit/plan side follows
    :func:`audit_geometry`'s integer discipline so DuckDB replays the
    plan): per shard with ``m`` bits, ``keys_now`` resident keys and
    ``rate_per_epoch`` new keys folding in per epoch,

    - ``capacity = m div bits_per_key`` — keys the geometry supports
      at its design fpp;
    - ``headroom = capacity - keys_now`` (may be negative: already
      saturated);
    - ``epochs_left = headroom div rate`` for positive headroom and
      rate (0 when saturated, NULL when rate is 0 — never fills);
    - ``needs_rebuild`` iff the shard saturates within
      *horizon_epochs*;
    - ``next_m_bits``: smallest power of two ≥ ``bits_per_key ×
      (keys_now + horizon_epochs × rate)`` — the rebuild geometry that
      survives the horizon (power of two keeps the splitmix bit-slot
      mixing uniform and the shard layout aligned).

    Scale shape: input is one row per shard (the O(shards) manifest
    metrics table, not the frontier) — the whole plan is a single
    codegen projection over ≤ thousands of rows; zero exchanges.
    """
    m = F.col(m_col).cast("long")
    keys = F.col(keys_col).cast("long")
    rate = F.col(rate_col).cast("long")
    capacity = F.expr(f"cast({m_col} as bigint) div {int(bits_per_key)}")
    headroom = (capacity - keys).alias("headroom")
    epochs_left = (
        F.when(rate <= 0, F.lit(None).cast("long"))
        .when(capacity - keys <= 0, F.lit(0).cast("long"))
        .otherwise(F.expr(
            f"(cast({m_col} as bigint) div {int(bits_per_key)}"
            f" - cast({keys_col} as bigint)) div cast({rate_col} as bigint)"
        ))
    )
    # smallest power of two >= bits_per_key * projected keys:
    # 2^bitlen(x - 1) — integer, replayable (64 floor guards x = 0)
    next_m = F.expr(
        f"cast(power(2, length(bin("
        f"greatest({int(bits_per_key)} * (cast({keys_col} as bigint)"
        f" + {int(horizon_epochs)} * cast({rate_col} as bigint)), 64)"
        f" - 1))) as bigint)"
    )
    return shards.select(
        F.col(shard_col).alias("shard"),
        m.alias("m_bits"),
        keys.alias("keys_now"),
        rate.alias("rate_per_epoch"),
        capacity.alias("capacity"),
        headroom,
        epochs_left.alias("epochs_left"),
        (
            F.coalesce(epochs_left, F.lit(int(horizon_epochs)) + 1)
            <= F.lit(int(horizon_epochs))
        ).alias("needs_rebuild"),
        next_m.alias("next_m_bits"),
    )


def capacity_plan_oracle_sql(
    shards_sql: str,
    bits_per_key: int = 10,
    horizon_epochs: int = 30,
) -> str:
    """DuckDB replay of :func:`bloom_capacity_plan` — same integer
    divisions, the NULL/0 epoch cases, and the power-of-two rebuild
    geometry via the same bit-length identity.  *shards_sql* must
    yield (shard, m_bits, keys_now, rate_per_epoch)."""
    b = int(bits_per_key)
    h = int(horizon_epochs)
    return f"""
        WITH s AS ({shards_sql}),
        c AS (
          SELECT shard, m_bits::BIGINT m_bits, keys_now::BIGINT keys_now,
                 rate_per_epoch::BIGINT rate_per_epoch,
                 (m_bits::BIGINT // {b})::BIGINT capacity
          FROM s
        ),
        e AS (
          SELECT *, (capacity - keys_now)::BIGINT headroom,
                 CASE WHEN rate_per_epoch <= 0 THEN NULL
                      WHEN capacity - keys_now <= 0 THEN 0
                      ELSE (capacity - keys_now) // rate_per_epoch
                 END::BIGINT epochs_left,
                 greatest({b} * (keys_now + {h} * rate_per_epoch),
                          64)::BIGINT need
          FROM c
        )
        SELECT shard, m_bits, keys_now, rate_per_epoch, capacity,
               headroom, epochs_left,
               coalesce(epochs_left, {h} + 1) <= {h} AS needs_rebuild,
               (2 ** length(bin(need - 1)))::BIGINT AS next_m_bits
        FROM e
    """


def seen_ttl(
    admissions: DataFrame,
    offered: DataFrame,
    now_epoch: int,
    ttl_epochs: int,
    key_col: str = "key",
    epoch_col: str = "admit_epoch",
) -> DataFrame:
    """Generation-rotated (TTL'd) seen-set membership — the mechanism
    that BOUNDS the URL-seen structure at 10^10 scale and re-admits
    stale content on schedule: a key admitted at epoch e is *seen*
    while ``now − e < ttl``; past that its generation has rotated out
    and the URL is eligible again (Heritrix's re-crawl-on-expiry;
    the companion policy to :func:`bloom_capacity_plan` — rotation is
    what keeps each generation's bloom at its design bits-per-key
    forever instead of saturating).  The reference's seen set is an
    in-memory HashSet that never forgets (`crawler/mod.rs` visited);
    TTL semantics only exist at frontier scale.

    Per offered key: ``(key, last_admit_epoch NULL-able, age NULL-able,
    is_seen, action)`` with ``action`` ∈ ``skip`` (live generation) /
    ``readmit`` (expired) / ``new`` (never admitted).  Re-admission
    uses the LATEST admission (max epoch per key): a key re-admitted
    every ttl−1 epochs stays permanently live — the intended
    hot-content behavior.

    Scale shape: one map-side-combined ``max(epoch)`` per admitted key
    (digest-width rows), one key-equi join against the offered batch —
    the offered side is the small crawl batch, broadcast in practice;
    the admissions log never re-scans more than its key column.
    """
    latest = admissions.groupBy(F.col(key_col).alias("key")).agg(
        F.max(F.col(epoch_col).cast("long")).alias("last_admit_epoch")
    )
    off = offered.select(F.col(key_col).alias("key")).distinct()
    j = off.join(latest, "key", "left")
    age = (F.lit(int(now_epoch)) - F.col("last_admit_epoch")).cast("long")
    is_seen = F.when(
        F.col("last_admit_epoch").isNull(), F.lit(False)
    ).otherwise(age < int(ttl_epochs))
    return j.select(
        "key",
        "last_admit_epoch",
        F.when(F.col("last_admit_epoch").isNull(),
               F.lit(None).cast("long")).otherwise(age).alias("age"),
        is_seen.alias("is_seen"),
        F.when(F.col("last_admit_epoch").isNull(), F.lit("new"))
        .when(age < int(ttl_epochs), F.lit("skip"))
        .otherwise(F.lit("readmit"))
        .alias("action"),
    )


def seen_ttl_oracle_sql(
    admissions_sql: str,
    offered_sql: str,
    now_epoch: int,
    ttl_epochs: int,
) -> str:
    """DuckDB replay of :func:`seen_ttl`.  *admissions_sql* yields
    (key, admit_epoch); *offered_sql* yields (key)."""
    return f"""
        WITH a AS ({admissions_sql}),
        o AS (SELECT DISTINCT key FROM ({offered_sql})),
        l AS (SELECT key, max(admit_epoch)::BIGINT last_admit_epoch
              FROM a GROUP BY key)
        SELECT o.key, l.last_admit_epoch,
               ({int(now_epoch)} - l.last_admit_epoch)::BIGINT AS age,
               CASE WHEN l.last_admit_epoch IS NULL THEN FALSE
                    ELSE {int(now_epoch)} - l.last_admit_epoch
                         < {int(ttl_epochs)} END AS is_seen,
               CASE WHEN l.last_admit_epoch IS NULL THEN 'new'
                    WHEN {int(now_epoch)} - l.last_admit_epoch
                         < {int(ttl_epochs)} THEN 'skip'
                    ELSE 'readmit' END AS action
        FROM o LEFT JOIN l ON o.key = l.key
    """
