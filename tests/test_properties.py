"""Hypothesis property tests for the pure-Python parse core (SURVEY.md §5
t4): total functions (never raise on arbitrary input), round-trips, and
invariants that the golden corpus can't cover exhaustively.

All pure Python — no SparkSession, so this module runs in milliseconds
per example and hundreds of examples per property.
"""

from datetime import datetime, timezone
from email.utils import format_datetime

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from podcast_crawler_spark.feedparse.rssparse import parse_feed_result
from podcast_crawler_spark.feedparse.sanitize import clean_html, clean_text
from podcast_crawler_spark.feedparse.scalars import (
    parse_bool,
    parse_date,
    validate_url,
)
from podcast_crawler_spark.feedparse.xmlscan import scan, xml_unescape

# ---------------------------------------------------------------------------
# scalars


@given(st.text(max_size=50))
def test_parse_bool_total_and_case_insensitive(s):
    r = parse_bool(s)
    assert r in (True, False, None)
    assert parse_bool(s.upper()) == parse_bool(s.lower()) == r


@given(st.sampled_from(["true", "yes", "1"]))
def test_parse_bool_truthy(s):
    assert parse_bool(s) is True and parse_bool(s.upper()) is True


@given(st.sampled_from(["false", "no", "0"]))
def test_parse_bool_falsy(s):
    assert parse_bool(s) is False


@given(st.text(max_size=80))
def test_parse_date_never_raises(s):
    r = parse_date(s)
    assert r is None or isinstance(r, datetime)


_dt = st.datetimes(
    min_value=datetime(1971, 1, 1),
    max_value=datetime(2100, 1, 1),
).map(lambda d: d.replace(microsecond=0, tzinfo=timezone.utc))


@given(_dt)
def test_parse_date_rfc2822_roundtrip(dt):
    # reference tries RFC2822 first (rss.rs:690-720)
    assert parse_date(format_datetime(dt)) == dt


@given(_dt)
def test_parse_date_rfc3339_roundtrip(dt):
    assert parse_date(dt.isoformat()) == dt


@given(_dt)
def test_parse_date_naive_formats_assume_utc(dt):
    naive = dt.replace(tzinfo=None)
    for fmt in ("%Y-%m-%d %H:%M:%S", "%Y-%m-%dT%H:%M:%S"):
        got = parse_date(naive.strftime(fmt))
        assert got == dt  # naive → UTC (rss.rs:707-715)


@given(st.text(max_size=100))
def test_validate_url_total(u):
    r = validate_url(u)
    assert isinstance(r, bool)
    if r:
        assert u.lower().startswith(("http://", "https://"))


@given(st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=40))
def test_validate_url_accepts_simple_http_hosts(host_part):
    # any URL we accept must round-trip through canonical-ish parsing —
    # but at minimum the plain well-formed case is always accepted
    assert validate_url("https://example.com/feed.xml")


# ---------------------------------------------------------------------------
# sanitizer (P7): total, idempotent-on-plain-text, script-stripping


@given(st.text(max_size=300))
def test_clean_html_total_and_strips_script(s):
    out = clean_html(s)
    assert isinstance(out, str)
    assert "<script" not in out.lower()


@given(st.text(alphabet="abcdefghij KLMNOP.,!?", max_size=200))
def test_clean_text_idempotent_on_plain_text(s):
    once = clean_text(s)
    assert clean_text(once) == once


@given(st.text(max_size=200))
def test_clean_text_always_trimmed(s):
    out = clean_text(s)
    assert out == out.strip()


# ---------------------------------------------------------------------------
# tolerant XML scanner (P1): total over arbitrary input, entity unescape


@given(st.text(max_size=300))
def test_xml_unescape_str_or_typed_error(s):
    # strict like quick_xml's unescape: dangling '&' / unknown entities
    # raise the TYPED escape error (which the parser turns into a
    # feed-level parse failure, rss.rs:297-304) — never anything else
    from podcast_crawler_spark.feedparse.xmlscan import XmlEscapeError

    try:
        assert isinstance(xml_unescape(s), str)
    except XmlEscapeError:
        pass


@given(st.text(max_size=120))
def test_xml_unescape_roundtrip_of_escaped(s):
    escaped = (
        s.replace("&", "&amp;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
        .replace('"', "&quot;")
        .replace("'", "&apos;")
    )
    assert xml_unescape(escaped) == s


@given(st.text(max_size=400))
@settings(max_examples=200)
def test_scanner_total_on_arbitrary_text(doc):
    # the scanner must never raise unhandled exceptions on garbage — it
    # either yields events or raises its typed XmlScanError (which
    # parse_feed_result converts to an error row)
    from podcast_crawler_spark.feedparse.xmlscan import XmlScanError

    try:
        for _ in scan(doc):
            pass
    except XmlScanError:
        pass


# ---------------------------------------------------------------------------
# full parser (the UDF body): total over arbitrary bytes → error rows,
# never exceptions (an executor must not die on a malformed feed)


@given(st.binary(max_size=400))
@settings(max_examples=200)
def test_parse_feed_result_total_on_garbage(b):
    r = parse_feed_result(b, "https://example.com/feed.xml")
    assert isinstance(r, dict)
    assert ("error_kind" in r) or ("podcast" in r)
    if r.get("error_kind") is None:
        assert r["podcast"] is not None


@given(st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=60))
@settings(max_examples=100)
def test_parse_feed_result_title_survives(title):
    # any title (post-sanitize/trim) survives the full parse pipeline
    xml = (
        "<rss><channel><title><![CDATA[" + title.replace("]]>", "") + "]]></title>"
        "</channel></rss>"
    )
    r = parse_feed_result(xml.encode("utf-8"), "https://e.com/f.xml")
    expect = clean_text(title.replace("]]>", ""))
    if expect:
        assert r["error_kind"] is None
        assert r["podcast"]["title"] == expect
    else:
        # empty-after-clean title → required-field failure (F4)
        assert r["error_kind"] is not None


def test_parse_feed_result_none_content_is_network_error():
    r = parse_feed_result(None, "https://e.com/f.xml")
    assert r["error_kind"] == "network"


# ---- seen-set filter invariants (pure numpy, no Spark) ----

_keys = st.lists(
    st.integers(min_value=-(2**63), max_value=2**63 - 1),
    min_size=1,
    max_size=300,
    unique=True,
)


@given(_keys)
@settings(max_examples=30, deadline=None)
def test_bloom_never_false_negative(keys):
    import numpy as np

    from podcast_crawler_spark.operators.seen import BloomFilter, bloom_params

    m, k = bloom_params(len(keys), 0.01)
    bf = BloomFilter(np.zeros(m // 8, dtype=np.uint8), m, k)
    arr = np.array(keys, dtype=np.int64)
    bf.add(arr)
    assert bf.contains(arr).all()


@given(_keys)
@settings(max_examples=30, deadline=None)
def test_cuckoo_insert_delete_invariants(keys):
    """Vectorized cuckoo: every inserted key is found; deleting half the
    keys (each inserted exactly once) never causes a false negative on
    the still-live half (copy-count safety of partial-key deletes)."""
    import numpy as np

    from podcast_crawler_spark.operators.seen import CuckooFilter

    arr = np.array(keys, dtype=np.int64)
    cf = CuckooFilter(num_buckets=max(64, len(arr)))
    inserted = cf.insert(arr)
    assert inserted == len(arr)
    assert cf.contains(arr).all()
    dead, live = arr[::2], arr[1::2]
    assert cf.delete_batch(dead) == len(dead)
    if len(live):
        assert cf.contains(live).all()
    assert cf.size == len(live)


def test_topk_sample_exact_k_merge_and_plan(spark):
    """bottom-k-by-hash: exact k per stratum, partition-invariant, and
    the union-merge law (bottom-k of union == bottom-k of per-side
    bottom-k); WindowGroupLimit Partial keeps map output bounded."""
    from podcast_crawler_spark.operators.sampling import topk_sample

    df = spark.createDataFrame(
        [(i, "en" if i % 3 else "de") for i in range(200)],
        "doc_id long, lang string",
    )
    out = topk_sample(df, "doc_id", "lang", k=7)
    counts = {r.lang: r.n for r in out.groupBy("lang").agg(
        __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("n")
    ).collect()}
    assert counts == {"en": 7, "de": 7}
    # partition invariance
    a = {(r.doc_id, r.sample_rank) for r in out.collect()}
    b = {
        (r.doc_id, r.sample_rank)
        for r in topk_sample(df.repartition(13), "doc_id", "lang", k=7).collect()
    }
    assert a == b
    # merge law
    left = df.filter("doc_id < 100")
    right = df.filter("doc_id >= 100")
    merged = topk_sample(
        topk_sample(left, "doc_id", "lang", k=7)
        .drop("sample_rank")
        .unionByName(topk_sample(right, "doc_id", "lang", k=7).drop("sample_rank")),
        "doc_id",
        "lang",
        k=7,
    )
    assert {(r.doc_id, r.sample_rank) for r in merged.collect()} == a
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan


def test_weighted_bottom_k_matches_python_and_favors_weight(spark):
    import hashlib

    from podcast_crawler_spark.operators.sampling import weighted_bottom_k

    rows = [(i, (i * 7) % 50 + 1) for i in range(1, 400)]
    df = spark.createDataFrame(rows, "doc_id long, weight long")
    got = [
        (r["doc_id"], r["priority"])
        for r in weighted_bottom_k(df, "doc_id", "weight", 50).collect()
    ]

    def pri(i, w):
        h = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)
        return (1000000 * h) // w

    exp = sorted(((pri(i, w), i) for i, w in rows))[:50]
    assert got == [(i, p) for p, i in exp]
    # inclusion is weight-biased: mean weight of the sample beats the
    # population mean
    wmap = dict(rows)
    samp_mean = sum(wmap[i] for i, _ in got) / len(got)
    pop_mean = sum(w for _, w in rows) / len(rows)
    assert samp_mean > pop_mean


def test_weighted_bottom_k_mergeable(spark):
    # bottom-k of a union == bottom-k of per-side bottom-ks
    from podcast_crawler_spark.operators.sampling import weighted_bottom_k

    a = spark.createDataFrame(
        [(i, i % 9 + 1) for i in range(200)], "doc_id long, weight long"
    )
    b = spark.createDataFrame(
        [(i, i % 9 + 1) for i in range(200, 400)], "doc_id long, weight long"
    )
    full = weighted_bottom_k(a.union(b), "doc_id", "weight", 30).collect()
    merged = weighted_bottom_k(
        weighted_bottom_k(a, "doc_id", "weight", 30)
        .drop("priority")
        .union(weighted_bottom_k(b, "doc_id", "weight", 30).drop("priority")),
        "doc_id",
        "weight",
        30,
    ).collect()
    assert [tuple(r) for r in full] == [tuple(r) for r in merged]


def test_weighted_bottom_k_plan_no_global_sort(spark):
    from podcast_crawler_spark.operators.sampling import weighted_bottom_k

    df = spark.createDataFrame(
        [(1, 1)], "doc_id long, weight long"
    )
    p = (
        weighted_bottom_k(df, "doc_id", "weight", 10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in p, p


def test_dataset_split_deterministic_and_group_safe(spark):
    import hashlib

    from podcast_crawler_spark.operators.sampling import dataset_split

    rows = [(i, f"s{i % 20}") for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = dataset_split(df, "source", val_pct=10, test_pct=10).collect()
    # every doc of a source shares its split (group-leakage guard)
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], set()).add(r["split"])
    assert all(len(v) == 1 for v in by_src.values())
    # python replay of the rule
    for r in out[:50]:
        b = int(hashlib.md5(r["source"].encode()).hexdigest()[:8], 16) % 10000
        exp = "test" if b >= 9000 else ("val" if b >= 8000 else "train")
        assert (r["split_bucket"], r["split"]) == (b, exp)
    # growth stability: adding docs never moves existing keys
    more = spark.createDataFrame(
        rows + [(1000 + i, f"s{i % 20}") for i in range(100)],
        "doc_id long, source string",
    )
    out2 = {
        (r["doc_id"], r["split"])
        for r in dataset_split(more, "source", 10, 10).collect()
    }
    assert {(r["doc_id"], r["split"]) for r in out} <= out2


def test_dataset_split_rejects_bad_pcts(spark):
    import pytest

    from podcast_crawler_spark.operators.sampling import dataset_split

    df = spark.createDataFrame([(1, "a")], "doc_id long, source string")
    with pytest.raises(ValueError):
        dataset_split(df, "source", val_pct=50, test_pct=50)


def test_mixture_sample_zero_total_stratum_keeps_every_row(spark):
    """A budgeted stratum whose weights sum to 0 fits any budget: rate
    1.0, every row kept, next to a stratum cut to half its weight."""
    from pyspark.sql import functions as F

    from podcast_crawler_spark.operators.sampling import mixture_sample

    df = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 100, "zero").otherwise("pos").alias("lang"),
        F.when(F.col("id") < 100, 0).otherwise(1).alias("w"),
    )
    out = mixture_sample(df, "doc_id", "lang", "w", {"zero": 5.0, "pos": 50.0})
    rates = {
        r.lang: r.rate for r in out.select("lang", "rate").distinct().collect()
    }
    assert rates == {"zero": 1.0, "pos": 0.5}
    assert out.filter(F.col("lang") == "zero").count() == 100


def test_mixture_sample_null_total_stratum_raises(spark):
    """A budgeted stratum whose weights are all null has no total to
    divide the budget by: ``ValueError`` naming the stratum."""
    import pytest

    from podcast_crawler_spark.operators.sampling import mixture_sample

    df = spark.createDataFrame(
        [(1, "nulls", None), (2, "nulls", None), (3, "ok", 4)],
        "doc_id long, lang string, w long",
    )
    with pytest.raises(ValueError, match="'nulls'"):
        mixture_sample(df, "doc_id", "lang", "w", {"nulls": 1.0, "ok": 2.0})


def test_temperature_mixture_flattens_to_alpha(spark):
    """Kept sizes must track n^0.5: two strata sized 400/100 (4:1) keep
    ~2:1 after flattening; the small stratum keeps everything
    (rate 1.0); rates are exact sqrt(n_min/n_s)."""
    import math

    from pyspark.sql import functions as F

    from podcast_crawler_spark.operators.sampling import (
        temperature_mixture,
    )

    df = spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 400, "big").otherwise("small").alias("lang"),
        F.lit(1).alias("w"),
    )
    out = temperature_mixture(df, "doc_id", "lang", "w")
    rates = {
        r.lang: r.rate for r in out.select("lang", "rate").distinct().collect()
    }
    assert rates["small"] == 1.0
    assert rates["big"] == math.sqrt(100 / 400)
    kept = {r.lang: r.n for r in out.groupBy("lang").agg(
        F.count("*").alias("n")).collect()}
    assert kept["small"] == 100  # rate-1.0 stratum keeps every row
    # hash sampling: big stratum keeps ~400*0.5 = 200 (binomial, wide slack)
    assert 140 <= kept["big"] <= 260
