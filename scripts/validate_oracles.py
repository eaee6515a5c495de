#!/usr/bin/env python3
"""Validate every operator query against its DuckDB oracle, mimicking
the driver's CORRECTNESS check: row count + column names + an
order-insensitive value hash."""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm_cell(v):
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6g}"
    if isinstance(v, bool):
        return str(bool(v)).lower()
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, list):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def _norm_duck_type(t: str) -> str:
    """Collapse a DuckDB type name into a coarse class comparable with
    Spark's.  Distinguishes the classes the driver's schema check
    distinguishes — in particular naive TIMESTAMP vs TIMESTAMP WITH
    TIME ZONE (the r02 blind spot: this validator compared names and
    strftime-normalized values only, so the events_windowed_counts
    tz mismatch shipped red)."""
    t = t.upper()
    if "TIME ZONE" in t or t.endswith("TZ"):
        return "tstz"
    if t.startswith("TIMESTAMP"):
        return "ts"
    if t == "DATE":
        return "date"
    if t in ("BOOLEAN", "BOOL"):
        return "bool"
    if t.startswith(("TINYINT", "SMALLINT", "INTEGER", "INT", "BIGINT", "HUGEINT",
                     "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT")):
        return "int"
    if t.startswith(("FLOAT", "DOUBLE", "REAL", "DECIMAL", "NUMERIC")):
        return "num"
    if t.endswith("[]") or t.startswith("LIST") or t.startswith("ARRAY"):
        return "array"
    if t.startswith("STRUCT"):
        return "struct"
    if t.startswith("MAP"):
        return "map"
    return "str"


def _norm_spark_type(dt) -> str:
    from pyspark.sql import types as T

    if isinstance(dt, T.TimestampType):
        return "ts"  # Spark window()/to_timestamp emit naive timestamps
    if isinstance(dt, T.TimestampNTZType):
        return "ts"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
        return "num"
    if isinstance(dt, T.ArrayType):
        return "array"
    if isinstance(dt, T.StructType):
        return "struct"
    if isinstance(dt, T.MapType):
        return "map"
    return "str"


def rows_signature(cols, rows):
    keyed = sorted("\x1f".join(norm_cell(r[c]) for c in cols) for r in rows)
    import hashlib

    return len(rows), hashlib.sha256("\n".join(keyed).encode()).hexdigest()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", nargs="*")
    ap.add_argument(
        "--vanilla",
        action="store_true",
        help="plain SparkSession (driver-like defaults) instead of the tuned one",
    )
    args = ap.parse_args()

    from swift_readability_spark.operators import registry

    if args.vanilla:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.appName("oracle-validate-vanilla")
            .master("local[8]")
            .getOrCreate()
        )
    else:
        from swift_readability_spark.pipeline.session import build_session

        spark = build_session(
            app_name="oracle-validate", master="local[8]", shuffle_partitions=8
        )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf_dir}/{t}.parquet')"
        )

    reg = registry()
    names = args.only or list(reg)
    failures = 0
    for name in names:
        builder, oracle = reg[name]
        try:
            sdf = builder(spark, args.sf_dir)
            scols = sorted(sdf.columns)
            srows = [r.asDict() for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {str(e)[:200]}", flush=True)
            failures += 1
            continue
        if oracle is None:
            print(f"ok   {name}: rows-only ({len(srows)} rows)", flush=True)
            continue
        try:
            rel = con.sql(oracle)
            dcols = list(rel.columns)
            dtypes = {c: _norm_duck_type(str(t)) for c, t in zip(dcols, rel.types)}
            drows = [dict(zip(dcols, row)) for row in rel.fetchall()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {str(e)[:200]}", flush=True)
            failures += 1
            continue
        if scols != sorted(dcols):
            print(f"FAIL {name}: columns {scols} vs {sorted(dcols)}", flush=True)
            failures += 1
            continue
        stypes = {f.name: _norm_spark_type(f.dataType) for f in sdf.schema.fields}
        type_mismatch = {
            c: (stypes[c], dtypes[c]) for c in scols if stypes[c] != dtypes[c]
        }
        if type_mismatch:
            print(f"FAIL {name}: column type mismatch {type_mismatch}", flush=True)
            failures += 1
            continue
        s_sig = rows_signature(scols, srows)
        d_sig = rows_signature(scols, drows)
        if s_sig != d_sig:
            print(f"FAIL {name}: spark {s_sig} vs duckdb {d_sig}", flush=True)
            s_set = {"\x1f".join(norm_cell(r[c]) for c in scols) for r in srows}
            d_set = {"\x1f".join(norm_cell(r[c]) for c in scols) for r in drows}
            for x in list(s_set - d_set)[:3]:
                print("   spark-only:", x[:160].replace("\x1f", " | "), flush=True)
            for x in list(d_set - s_set)[:3]:
                print("   duck-only :", x[:160].replace("\x1f", " | "), flush=True)
            failures += 1
        else:
            print(f"ok   {name}: {s_sig[0]} rows match", flush=True)
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
