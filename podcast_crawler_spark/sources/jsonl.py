"""JSON parse with a pinned schema and an explicit corrupt-record policy.

Web-scale text corpora ship as JSONL at least as often as parquet
(CC-NEWS dumps, WET-derived exports, vendor deliveries), and the
operational failure mode is always the same: a few malformed lines in a
multi-TB delivery.  Dropping them silently corrupts counts; failing the
job on line 3 billion wastes a cluster-day.  The contract here is the
standard lakehouse one:

- the schema is PINNED (never inferred — inference is a full extra pass
  at 100 TB and nondeterministic under corrupt rows);
- malformed records are flagged through Spark's PERMISSIVE
  ``_corrupt`` column, so the caller can quarantine them next to the
  clean table.

``parse_json_rows`` applies the policy to a JSON *column* (e.g. the
``props`` field on events, or an API payload landed as text) —
``from_json`` is null-on-malformed, map-side, codegen-friendly.
"""

from __future__ import annotations

from typing import Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

CORRUPT_COL = "_corrupt"


def parse_json_rows(
    df: DataFrame,
    json_col: str,
    schema: StructType,
    keep_cols: Tuple[str, ...] = (),
) -> DataFrame:
    """Parse a JSON string column against a pinned schema: output =
    *keep_cols* + the schema's fields + ``is_corrupt``.  PERMISSIVE
    ``from_json`` does NOT yield a null struct on malformed input — it
    yields a struct of nulls — so corruption is detected the documented
    way: a ``columnNameOfCorruptRecord`` field in the parse schema that
    carries the raw text only for malformed rows.  Pure map-side
    expression; at 100 TB this rides the scan like any other
    projection."""
    full = StructType(
        schema.fields + [StructField(CORRUPT_COL, StringType())]
    )
    parsed = F.from_json(
        F.col(json_col),
        full,
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL},
    )
    cols = [F.col(c) for c in keep_cols]
    cols += [parsed[f.name].alias(f.name) for f in schema.fields]
    cols.append(parsed[CORRUPT_COL].isNotNull().alias("is_corrupt"))
    return df.select(*cols)
