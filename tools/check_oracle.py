"""Local replica of the driver's correctness gate: run each queries()
entry on Spark and its oracle_sql() on DuckDB over the same sf dir,
compare row count, sorted schema and an order-insensitive value hash."""

from __future__ import annotations

import gc
import hashlib
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")

import duckdb
from pyspark.sql import SparkSession

import __spark_entry__ as entrymod

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon_cell(x):
    if x is None:
        return "NULL"
    if isinstance(x, bool):
        return "true" if x else "false"
    if isinstance(x, float):
        if math.isnan(x):
            return "nan"
        return repr(round(x, 9))
    return str(x)


def table_hash(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        "\x1f".join(canon_cell(row[i]) for i in order) for row in rows
    )
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def _type_family(t: str) -> str:
    """Collapse a type name (Spark dtype string or Arrow type string) into a
    comparison family. The driver's value hash is dtype-sensitive: DuckDB
    sum(BIGINT) returns HUGEINT (arrow decimal128(38,0)) which hashes
    differently from Spark's BIGINT even when values are equal — the r2
    six-red-rows bug class. Int widths and float widths collapse to one
    family each (driver-verified tolerant); decimal stays distinct."""
    t = t.lower()
    if t.startswith(("array", "list", "large_list", "fixed_size_list")):
        return "list"
    if t.startswith("map"):
        return "map"
    if t.startswith("struct"):
        return "struct"
    if t.startswith("decimal"):
        return t.replace("decimal128", "decimal").replace(" ", "")
    if t in ("tinyint", "smallint", "int", "bigint", "long", "integer") or t.startswith(
        ("int8", "int16", "int32", "int64", "uint")
    ):
        return "int"
    if t in ("float", "double", "halffloat") or t.startswith(("float16", "float32", "float64")):
        return "float"
    if t in ("string", "large_string", "utf8", "large_utf8", "varchar"):
        return "str"
    if t in ("bool", "boolean"):
        return "bool"
    if t.startswith("timestamp"):
        return "ts"
    if t.startswith("date"):
        return "date"
    if t in ("binary", "large_binary"):
        return "bin"
    return t


def main():
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    only = sys.argv[1:] or None
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = fn(spark, SF_DIR)
        srows = [tuple(r) for r in sdf.collect()]
        scols = sdf.columns
        spark_s = time.time() - t0
        if name not in oracles:
            print(f"{name:35s} rows-only: {len(srows)} rows ({spark_s:.1f}s)")
            continue
        t0 = time.time()
        ddf = con.sql(oracles[name])
        dtbl = ddf.arrow()
        drows = [tuple(d[c] for c in dtbl.column_names) for d in dtbl.to_pylist()]
        dcols = list(dtbl.column_names)
        duck_s = time.time() - t0
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount {len(srows)} != {len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"schema {sorted(scols)} != {sorted(dcols)}")
        else:
            stypes = dict(sdf.dtypes)
            dtypes = {f.name: str(f.type) for f in dtbl.schema}
            for c in scols:
                fs, fd = _type_family(stypes[c]), _type_family(dtypes[c])
                if fs != fd:
                    problems.append(f"dtype {c}: spark={stypes[c]} duck={dtypes[c]}")
        if not problems:
            hs, hd = table_hash(srows, scols), table_hash(drows, dcols)
            if hs != hd:
                problems.append("value-hash mismatch")
                sset = set("\x1f".join(canon_cell(c) for c in r) for r in srows)
                dset = set("\x1f".join(canon_cell(c) for c in r) for r in drows)
                for x in list(sset - dset)[:3]:
                    print("  spark-only:", x.replace("\x1f", " | "))
                for x in list(dset - sset)[:3]:
                    print("  duck-only :", x.replace("\x1f", " | "))
        status = "OK " if not problems else "FAIL"
        if problems:
            failures += 1
        print(f"{name:35s} {status} rows={len(srows)} spark={spark_s:.1f}s duck={duck_s:.1f}s {'; '.join(problems)}")
    # a query that reads report outputs must not leave the report's
    # cached frame behind once its DataFrames are gone
    gc.collect()
    if not spark._jsparkSession.sharedState().cacheManager().isEmpty():
        failures += 1
        print("FAIL cached relations remain after the queries")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
