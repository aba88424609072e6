"""Driver-style verification of __spark_entry__: run each queries() entry
on Spark at the given sf dir, run the matching oracle_sql() in DuckDB over
the same parquet tables, and compare row count + column names + value
multiset (columns sorted by name, rows sorted, doubles compared to 1e-9).

Usage: python tools/verify_entry.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
from datetime import datetime

import duckdb

sys.path.insert(0, ".")
import __spark_entry__ as entry_mod

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, type(None)):
        return None
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            return round(float(v), 9)
    except Exception:
        pass
    return v


def _spark_type_class(dt: str) -> str:
    """Collapse a Spark dtype string to a comparison class. Integer
    widths map to ('int', width) so HUGEINT leaks (no Spark analogue)
    and decimal-vs-float divergences are caught before the driver's
    type-sensitive hash sees them."""
    d = dt.lower()
    if d.startswith("decimal"):
        return "decimal"
    if d in ("tinyint", "byte"):
        return "int8"
    if d in ("smallint", "short"):
        return "int16"
    if d in ("int", "integer"):
        return "int32"
    if d in ("bigint", "long"):
        return "int64"
    if d in ("float", "double"):
        return "float"
    if d in ("string", "varchar"):
        return "str"
    if d.startswith("timestamp"):
        return "timestamp"
    if d == "date":
        return "date"
    if d == "boolean":
        return "bool"
    if d == "binary":
        return "binary"
    if d.startswith("array"):
        return "array"
    if d.startswith(("struct", "map")):
        return "nested"
    return d


def _duck_type_class(dt) -> str:
    d = str(dt).upper()
    if d.startswith("DECIMAL"):
        return "decimal"
    if d == "HUGEINT":
        return "hugeint"  # no Spark analogue — always a mismatch
    if d in ("TINYINT", "INT1"):
        return "int8"
    if d in ("SMALLINT", "INT2"):
        return "int16"
    if d in ("INTEGER", "INT4", "INT"):
        return "int32"
    if d in ("BIGINT", "INT8"):
        return "int64"
    if d in ("FLOAT", "REAL", "DOUBLE"):
        return "float"
    if d in ("VARCHAR", "TEXT", "STRING"):
        return "str"
    if d.startswith("TIMESTAMP"):
        return "timestamp"
    if d == "DATE":
        return "date"
    if d == "BOOLEAN":
        return "bool"
    if d in ("BLOB", "BYTEA"):
        return "binary"
    if d.endswith("[]") or d.startswith("LIST") or "[]" in d:
        return "array"
    if d.startswith(("STRUCT", "MAP")):
        return "nested"
    return d.lower()


_INT_CLASSES = {"int8", "int16", "int32", "int64"}


def type_mismatches(scols, sdtypes, ocols, otypes):
    """Return (hard, soft) lists of per-column type divergences.
    hard = class mismatch (HUGEINT/DECIMAL leak, str-vs-int, ...);
    soft = integer-width-only mismatch (warn — the driver hash has
    historically tolerated these, but keep them visible)."""
    sd = {c: _spark_type_class(t) for c, t in zip(scols, sdtypes)}
    od = {c: _duck_type_class(t) for c, t in zip(ocols, otypes)}
    hard, soft = [], []
    for c in sd:
        if c not in od:
            continue
        a, b = sd[c], od[c]
        if a == b:
            continue
        if a in _INT_CLASSES and b in _INT_CLASSES:
            soft.append(f"{c}: spark={a} duck={b}")
        else:
            hard.append(f"{c}: spark={a} duck={b}")
    return hard, soft


def as_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(
        (tuple(norm(r[i]) for i in order) for r in rows),
        # null-safe, mixed-type-safe ordering (nulls last); equality of
        # the sorted multisets is still on the normalized values
        key=lambda t: tuple((v is None, str(v)) for v in t),
    )
    return [cols[i] for i in order], out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from pyspark.sql import SparkSession

    from podcast_crawler_spark.operators.frontier import engine_conf

    cpus = len(os.sched_getaffinity(0))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config(map=engine_conf(cpus))
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from '{sf_dir}/{t}.parquet'"
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    import time

    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            scols = df.columns
            sdtypes = [t for _, t in df.dtypes]
            srows = [tuple(r) for r in df.collect()]
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"[FAIL-spark] {name}: {str(e)[:300]}")
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"[rows-only] {name}: {len(srows)} rows in {dt:.1f}s")
            if len(srows) == 0:
                failures.append((name, "rows-only query returned 0 rows"))
            continue
        try:
            rel = con.sql(oracles[name])
            ocols = rel.columns
            orows = rel.fetchall()
        except Exception as e:
            failures.append((name, f"ORACLE ERROR: {e}"))
            print(f"[FAIL-oracle] {name}: {str(e)[:300]}")
            continue
        hard, soft = type_mismatches(scols, sdtypes, ocols, rel.types)
        if hard:
            failures.append((name, f"TYPE mismatch: {hard}"))
            print(f"[FAIL-types] {name}: {hard}")
            continue
        if soft:
            # Int-width drift (int32 vs int64) is exactly the class that
            # made hierarchical_budget/ip_politeness driver-red in r03:
            # a type-sensitive driver hash sees a different value stream.
            # Hard-fail so the class stays extinct.
            failures.append((name, f"int-width mismatch: {soft}"))
            print(f"[FAIL-int-width] {name}: {soft}")
            continue
        sc, sm = as_multiset(scols, srows)
        oc, om = as_multiset(ocols, orows)
        if sc != oc:
            failures.append((name, f"columns differ: spark={sc} duck={oc}"))
            print(f"[FAIL-cols] {name}: spark={sc} duck={oc}")
            continue
        if len(sm) != len(om):
            failures.append((name, f"row count: spark={len(sm)} duck={len(om)}"))
            print(f"[FAIL-count] {name}: spark={len(sm)} duck={len(om)}")
            continue
        bad = None
        for a, b in zip(sm, om):
            if a != b:
                bad = (a, b)
                break
        if bad:
            failures.append((name, f"value mismatch: {bad[0]} vs {bad[1]}"))
            print(f"[FAIL-vals] {name}: spark={bad[0]} duck={bad[1]} (cols={sc})")
        else:
            print(f"[OK] {name}: {len(sm)} rows in {dt:.1f}s")

    print()
    if failures:
        print(f"{len(failures)} FAILURES:")
        for n, msg in failures:
            print(f"  {n}: {msg[:200]}")
        sys.exit(1)
    print("all queries verified")


if __name__ == "__main__":
    main()
