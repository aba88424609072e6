"""Seen-set: Bloom shard build/probe (no false negatives), exact equality
of the shard-probed filter_unseen with the plain anti-join, cuckoo
fallback."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from podcast_crawler_spark.operators.seen import (
    BloomFilter,
    CuckooFilter,
    bloom_params,
    bloom_probe_partitioned,
    build_bloom_shards,
    cuckoo_filter_unseen,
    filter_unseen,
)


def _keys_df(spark, lo, hi, parts=4):
    return spark.range(lo, hi, 1, parts).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash"),
        F.col("id"),
    )


def test_bloom_params_math():
    m, k = bloom_params(10_000, 0.01)
    assert 90_000 < m < 110_000  # ≈ 9.59 bits/key
    assert k in (6, 7)


def test_bloom_no_false_negatives_and_low_fpp(spark):
    seen = _keys_df(spark, 0, 5_000).cache()
    shards = build_bloom_shards(seen, num_shards=4, expected_keys=5_000)
    # every inserted key must hit
    probed = bloom_probe_partitioned(seen, shards, num_shards=4)
    assert probed.filter(~F.col("maybe_seen")).count() == 0
    # disjoint keys: fpp should be near target
    fresh = _keys_df(spark, 1_000_000, 1_010_000)
    fp = (
        bloom_probe_partitioned(fresh, shards, num_shards=4)
        .filter(F.col("maybe_seen"))
        .count()
    )
    assert fp / 10_000 < 0.03


def test_partitioned_filter_unseen_equality(spark):
    """filter_unseen (shard probe + exact verify of the maybes) returns
    exactly the plain anti-join's rows."""
    seen = _keys_df(spark, 0, 3_000).cache()
    candidates = _keys_df(spark, 2_000, 6_000).cache()  # 1k overlap
    shards = build_bloom_shards(seen, num_shards=8, expected_keys=3_000)
    fresh, probed = filter_unseen(candidates, shards, seen, num_shards=8)
    try:
        part = set(r.id for r in fresh.collect())
    finally:
        probed.unpersist()
    exact = set(
        r.id
        for r in candidates.join(seen.select("url_hash"), "url_hash", "left_anti")
        .collect()
    )
    assert part == exact == set(range(3_000, 6_000))


def test_partitioned_probe_plan_no_driver_materialization(spark):
    """The partitioned probe is a cogroup (FlatMapCoGroupsInPandas) over
    shard-keyed exchanges: filter bits move executor→executor through ONE
    shuffle of S rows; the plan contains no broadcast of the shard table
    and building shards launches no driver collect (the shard DataFrame
    stays lazy)."""
    seen = _keys_df(spark, 0, 2_000)
    candidates = _keys_df(spark, 1_000, 3_000)
    shards = build_bloom_shards(seen, num_shards=8, expected_keys=2_000)
    # lazy: constructing the shard/probe plan runs no jobs, nothing is
    # collected — the bits column only ever exists inside executor tasks
    probed = bloom_probe_partitioned(candidates, shards, num_shards=8)
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan
    assert "Broadcast" not in plan
    # probe semantics: every seen key hits, fresh keys mostly don't
    hits = probed.filter(F.col("maybe_seen")).select("id")
    seen_ids = set(range(1_000, 2_000))
    got = set(r.id for r in hits.collect())
    assert seen_ids <= got  # no false negatives
    assert len(got - seen_ids) / 1_000 < 0.05  # fpp near target


def test_cuckoo_filter_unseen_distributed(spark):
    """Distributed cuckoo probe: insert evens, delete multiples of 10;
    exact-verified result equals the set arithmetic — and the probe plan
    is a cogroup, not a driver-side loop."""
    all_keys = _keys_df(spark, 0, 2_000).cache()
    seen = all_keys.filter(F.col("id") % 2 == 0)
    deleted = all_keys.filter(F.col("id") % 10 == 0)
    probed = cuckoo_filter_unseen(
        all_keys,
        seen.select("url_hash"),
        deleted=deleted.select("url_hash"),
        num_shards=8,
    )
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan
    # exact-verify maybes against the true live set, like the entry query
    live = seen.join(deleted.select("id"), "id", "left_anti").select("id")
    confirmed = (
        probed.filter(F.col("maybe_seen")).select("id")
        .join(live, "id", "left_semi")
    )
    unseen = all_keys.join(confirmed, "id", "left_anti")
    got = set(r.id for r in unseen.collect())
    want = {i for i in range(2_000) if i % 2 == 1 or i % 10 == 0}
    assert got == want


def test_bloom_numpy_roundtrip():
    bf = BloomFilter(np.zeros(1024 // 8, dtype=np.uint8), 1024, 5)
    keys = np.array([1, -5, 2**62, -(2**60)], dtype=np.int64)
    bf.add(keys)
    assert bf.contains(keys).all()


def test_cuckoo_insert_contains_delete():
    cf = CuckooFilter(num_buckets=2048)
    rng = np.random.default_rng(7)
    keys = rng.integers(-(2**62), 2**62, size=4_000, dtype=np.int64)
    cf.insert(keys)
    assert cf.contains(keys).all()  # no false negatives
    other = rng.integers(-(2**62), 2**62, size=4_000, dtype=np.int64)
    fp_rate = cf.contains(other).mean()
    assert fp_rate < 0.01  # 16-bit fingerprints ⇒ ~2b/2^16 per bucket pair
    # delete then re-check
    assert cf.delete(int(keys[0]))
    assert cf.size == 3_999


def test_cuckoo_full_raises():
    cf = CuckooFilter(num_buckets=4)
    keys = np.arange(0, 64, dtype=np.int64)
    with pytest.raises(RuntimeError):
        cf.insert(keys)


def test_update_bloom_shards_incremental_equals_rebuild(spark):
    """Folding a new key batch into an existing shard table must produce
    byte-identical bits to rebuilding over the union (bloom insertion is
    an order-independent OR at fixed (m, k)) — the cross-epoch seen index
    never needs a rebuild."""
    from podcast_crawler_spark.operators.seen import update_bloom_shards

    a = _keys_df(spark, 0, 2_000)
    b = _keys_df(spark, 2_000, 3_000)
    base = build_bloom_shards(a, num_shards=8, expected_keys=4_000)
    updated = update_bloom_shards(
        base, b.select("url_hash"), num_shards=8, expected_keys_per_shard=500
    )
    rebuilt = build_bloom_shards(
        a.unionByName(b), num_shards=8, expected_keys=4_000
    )
    got = {r.shard: bytes(r.bits) for r in updated.collect()}
    want = {r.shard: bytes(r.bits) for r in rebuilt.collect()}
    assert got == want
    # and the updated table probes the union with no false negatives
    probed = bloom_probe_partitioned(
        a.unionByName(b), updated, num_shards=8
    )
    assert probed.filter(~F.col("maybe_seen")).count() == 0


# ---------------------------------------------------------------- fpp audit


def test_splitmix64_sql_matches_numpy():
    """The DuckDB HUGEINT limb replay of splitmix64 is bit-exact against
    the production numpy hash across the uint64 range (including values
    whose intermediate products overflow 64 bits)."""
    import duckdb

    from podcast_crawler_spark.operators.seen import _h1_h2, _splitmix64_sql

    keys = [0, 1, 2, 12345, 987654321, 2**31 - 1, 2**62 + 12345,
            2**63 - 1, 9223372036854775806]
    sql = (
        f"select k, ({_splitmix64_sql('k')})::HUGEINT h2 from "
        f"(select unnest({keys}) as k)"
    )
    got = {int(k): int(h) for k, h in duckdb.sql(sql).fetchall()}
    _, h2 = _h1_h2(np.array(keys, dtype=np.uint64))
    for k, e in zip(keys, h2):
        assert got[k] == int(e), k


def test_bloom_fpp_audit_matches_oracle(spark):
    """The full audit row — production numpy bit path on the Spark side,
    HUGEINT bit replay on the DuckDB side — agrees value-for-value."""
    import duckdb

    from podcast_crawler_spark.operators.seen import (
        audit_geometry,
        bloom_fpp_audit,
        bloom_fpp_oracle_sql,
    )

    seen = spark.range(0, 4000, 2, 4).select(F.col("id").alias("url_hash"))
    probe = spark.range(1, 4000, 2, 4).select(F.col("id").alias("url_hash"))
    m, k = audit_geometry(2000)
    row = bloom_fpp_audit(seen, probe, num_bits=m, num_hashes=k).collect()[0]
    sql = bloom_fpp_oracle_sql(
        "select range k64 from range(0, 4000, 2)",
        "select range k64 from range(1, 4000, 2)",
    )
    exp = duckdb.sql(sql).fetchall()[0]
    assert tuple(row) == tuple(exp)
    # sanity: no false negatives possible, and the observed rate is in a
    # plausible band for 10 bits/key, k=7 (~1%)
    assert row["n_seen"] == 2000 and row["n_probe"] == 2000
    assert 0 <= row["fpp_observed_ppm"] < 60_000


def test_bloom_fpp_audit_uses_production_bit_path(spark):
    """A key inserted into the audited filter always probes positive
    (the audit runs the same BloomFilter.add/contains as admission)."""
    from podcast_crawler_spark.operators.seen import (
        audit_geometry,
        bloom_fpp_audit,
    )

    seen = spark.range(0, 500).select(F.col("id").alias("url_hash"))
    m, k = audit_geometry(500)
    # probing the SEEN keys themselves: every probe is positive, so the
    # "false-positive" count equals n_probe — proves the probe really
    # reads the built bitmap
    row = bloom_fpp_audit(seen, seen, num_bits=m, num_hashes=k).collect()[0]
    assert row["n_false_pos"] == row["n_probe"] == 500


def test_bloom_capacity_plan_cases(spark):
    """All four planning regimes: healthy (no rebuild in horizon),
    filling (rebuild inside horizon), saturated (epochs_left 0), and
    zero-rate (NULL epochs_left, never rebuild); next_m_bits is the
    exact power of two covering the horizon."""
    from podcast_crawler_spark.operators.seen import bloom_capacity_plan

    rows = [
        # shard, m_bits, keys_now, rate
        (0, 1 << 20, 1000, 10),      # healthy: cap 104857, ages slowly
        (1, 16384, 1500, 5),         # filling: cap 1638, 27 epochs left
        (2, 4096, 900, 50),          # saturated: cap 409 < keys
        (3, 1 << 20, 1000, 0),       # never fills
    ]
    df = spark.createDataFrame(
        rows, "shard int, m_bits long, keys_now long, rate_per_epoch long"
    )
    out = {r.shard: r for r in
           bloom_capacity_plan(df, bits_per_key=10,
                               horizon_epochs=30).collect()}
    assert out[0].capacity == (1 << 20) // 10
    assert not out[0].needs_rebuild
    assert out[1].capacity == 1638 and out[1].epochs_left == 27
    assert out[1].needs_rebuild
    assert out[2].epochs_left == 0 and out[2].needs_rebuild
    assert out[2].headroom == 409 - 900
    assert out[3].epochs_left is None and not out[3].needs_rebuild
    # rebuild geometry: 10 * (1500 + 30*5) = 16500 → next pow2 = 32768
    assert out[1].next_m_bits == 32768
    # zero-projection floor: min geometry is 64 bits
    df0 = spark.createDataFrame(
        [(9, 64, 0, 0)],
        "shard int, m_bits long, keys_now long, rate_per_epoch long",
    )
    z = bloom_capacity_plan(df0).collect()[0]
    assert z.next_m_bits == 64


def test_seen_ttl_actions(spark):
    """Live generation → skip; expired → readmit; never admitted →
    new; a re-admitted key uses its LATEST admission."""
    from podcast_crawler_spark.operators.seen import seen_ttl

    adm = spark.createDataFrame(
        [("a", 40), ("a", 5), ("b", 30), ("c", 35), ("c", 20)],
        "key string, admit_epoch int",
    )
    off = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("d",)], "key string"
    )
    out = {r.key: r for r in
           seen_ttl(adm, off, now_epoch=45, ttl_epochs=10).collect()}
    assert out["a"].action == "skip" and out["a"].age == 5   # latest wins
    assert out["b"].action == "readmit" and out["b"].age == 15
    # age == ttl (45-35) is already expired — strict <
    assert out["c"].action == "readmit" and out["c"].last_admit_epoch == 35
    assert out["d"].action == "new" and out["d"].age is None
    assert out["a"].is_seen and not out["b"].is_seen
    # boundary: age == ttl is expired (strict <)
    out2 = {r.key: r for r in
            seen_ttl(adm, off, now_epoch=40, ttl_epochs=10).collect()}
    assert out2["b"].age == 10 and out2["b"].action == "readmit"
