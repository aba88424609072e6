"""Contract tests for __spark_entry__: entry() smoke, queries()/oracle_sql()
consistency, and a fast DuckDB-oracle equivalence pass at sf0.001 for the
cheap oracled queries (the full sf0.01 sweep runs via tools/verify_entry.py
and the driver)."""

import math
import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.001"

FAST_ORACLED = [
    "flagship_priority_queue",
    "paginate_orders",
    "batch_stats",
    "stats_median",
    "dedup_lww",
    "q1_pricing_summary",
    "dedup_exact",
    "lang_id",
    "quality_scores",
    "token_counts",
    "doc_fingerprints",
    "mm_image_meta",
    "mm_video_frames",
    "embed_cosine_topk",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(f"create view {t} as select * from '{SF}/{t}.parquet'")
    return con


def _norm(v):
    if isinstance(v, float):
        return round(v, 9) if not math.isnan(v) else "NaN"
    if hasattr(v, "isoformat"):
        try:
            return v.replace(tzinfo=None).isoformat()
        except TypeError:
            return v.isoformat()
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            return round(float(v), 9)
    except Exception:
        pass
    return v


def _multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert df.columns == ["event_id", "user_id", "ts", "rank"]


def test_every_oracle_key_has_query():
    qs = entry_mod.queries()
    for k in entry_mod.oracle_sql():
        assert k in qs, f"oracle {k} has no query"


@pytest.mark.parametrize("name", FAST_ORACLED)
def test_query_matches_duckdb_oracle(spark, duck, name):
    df = entry_mod.queries()[name](spark, SF)
    sc, sm = _multiset(df.columns, [tuple(r) for r in df.collect()])
    rel = duck.sql(entry_mod.oracle_sql()[name])
    oc, om = _multiset(rel.columns, rel.fetchall())
    assert sc == oc
    assert len(sm) == len(om)
    assert sm == om


def test_crawl_fixtures_match_generator():
    """The committed fixtures/crawl/*.parquet must equal what the
    deterministic generator produces — a drift between the corpus the
    Spark queries generate in-memory and the corpus the DuckDB oracles
    read would silently invalidate the crawl-native oracle rows."""
    import pyarrow.parquet as pq

    from tools.gen_crawl_fixtures import OUT, build_tables

    seeds, robots, pages, parse, episodes, robots_txt = build_tables()
    fresh = {
        "crawl_seeds": seeds,
        "crawl_robots": robots,
        "crawl_pages": pages,
        "crawl_parse": parse,
        "crawl_episodes": episodes,
        "crawl_robots_txt": robots_txt,
    }
    def norm_row(row):
        return {
            k: v.replace(tzinfo=None) if hasattr(v, "tzinfo") else v
            for k, v in row.items()
        }

    for name, rows in fresh.items():
        committed = pq.read_table(f"{OUT}/{name}.parquet").to_pylist()
        assert committed == [norm_row(r) for r in rows], f"fixture drift in {name}"


def test_stream_equivalence_leaves_no_sink_table(spark):
    out = entry_mod.queries()["stream_dedup_equiv"](spark, SF).collect()
    assert len(out) == 150 and all(r.stream_matches for r in out)
    left = [t.name for t in spark.catalog.listTables() if t.name.startswith("pcs_sink_")]
    assert left == []
