"""JSON-column parse tests: pinned schema, corrupt-record flag."""

from pyspark.sql.types import LongType, StringType, StructField, StructType

SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("lang", StringType()),
    ]
)


def test_parse_json_rows_corrupt_flag(spark):
    from podcast_crawler_spark.sources.jsonl import parse_json_rows

    df = spark.createDataFrame(
        [
            (1, '{"id":1,"lang":"en"}'),
            (2, '{"id":2,"lang":"de"'),  # truncated
            (3, None),
        ],
        "k long, js string",
    )
    got = {
        r.k: (r.id, r.lang, r.is_corrupt)
        for r in parse_json_rows(df, "js", SCHEMA, keep_cols=("k",)).collect()
    }
    assert got[1] == (1, "en", False)
    assert got[2] == (None, None, True)
    # a NULL input is not "corrupt" — it is absent (upstream null html
    # semantics); fields null, flag false
    assert got[3] == (None, None, False)


def test_parse_json_rows_map_side_only(spark):
    from podcast_crawler_spark.sources.jsonl import parse_json_rows

    df = spark.createDataFrame([(1, '{"id":1}')], "k long, js string")
    plan = (
        parse_json_rows(df, "js", SCHEMA)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan and "Python" not in plan, plan
