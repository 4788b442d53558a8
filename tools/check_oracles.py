"""Local stand-in for the driver's correctness gate: run every
queries() entry against its oracle_sql() in DuckDB at sf0.01 and
compare row count, column names, TYPE CLASSES, and order-insensitive
values.

Type-strict on purpose: the oracle result is fetched through Arrow
(fetch_arrow_table), where DuckDB's silent widenings are visible —
sum(BIGINT) -> HUGEINT -> decimal128, DECIMAL literals, etc. The
driver hashes value representations, so a Spark bigint vs a DuckDB
Decimal('123') is a hash mismatch even though fetchall() would return
equal Python ints. Round 1 shipped three such failures because this
gate normalized Decimal -> float; it no longer normalizes anything.

Usage: python tools/check_oracles.py [query ...]
"""
from __future__ import annotations

import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def spark_type_class(dt) -> str:
    import pyspark.sql.types as T
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(dt, T.DecimalType):
        return "decimal"
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.ArrayType):
        return f"list<{spark_type_class(dt.elementType)}>"
    if dt.typeName().startswith("timestamp"):
        return "timestamp"
    return dt.typeName()


def arrow_type_class(at) -> str:
    import pyarrow as pa
    if pa.types.is_integer(at):
        return "int"
    if pa.types.is_floating(at):
        return "float"
    if pa.types.is_decimal(at):
        return "decimal"
    if pa.types.is_string(at) or pa.types.is_large_string(at):
        return "string"
    if pa.types.is_boolean(at):
        return "bool"
    if pa.types.is_date(at):
        return "date"
    if pa.types.is_list(at) or pa.types.is_large_list(at):
        return f"list<{arrow_type_class(at.value_type)}>"
    if pa.types.is_timestamp(at):
        return "timestamp"
    return str(at)


def norm_cell(v):
    """No numeric normalization — Decimal stays Decimal so type drift
    is caught by the class check above, and values compare exactly."""
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(norm_cell(x) for x in v)
    return v


def norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(norm_cell(r[i]) for i in idx) for r in rows),
        key=lambda t: tuple(("", "") if v is None else (type(v).__name__, v)
                            for v in t))


def make_spark():
    """The session both gate tools run in: one local task slot per core."""
    from pyspark.sql import SparkSession
    return (SparkSession.builder.master(f"local[{os.cpu_count()}]")
            .config("spark.sql.shuffle.partitions", "16")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.driver.memory", "8g")
            .getOrCreate())


def connect_duckdb(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def compare_one(spark, con, qs, oracles, name, data_dir) -> dict:
    """Run one query and its oracle over `data_dir`; `ok` iff columns,
    type classes and the order-insensitive row multisets all match."""
    df = qs[name](spark, data_dir)
    cols = df.columns
    stypes = {f.name: spark_type_class(f.dataType)
              for f in df.schema.fields}
    rows = [tuple(r) for r in df.collect()]
    tbl = con.execute(oracles[name]).fetch_arrow_table()
    ocols = tbl.schema.names
    otypes = {f.name: arrow_type_class(f.type) for f in tbl.schema}
    orows = [tuple(d[c] for c in ocols) for d in tbl.to_pylist()]
    ok_cols = sorted(cols) == sorted(ocols)
    ok_types = ok_cols and all(stypes[c] == otypes[c] for c in cols)
    a = norm_rows(cols, rows)
    b = norm_rows(ocols, orows)
    out = {"name": name, "ok": ok_cols and ok_types and a == b,
           "spark_rows": len(rows), "oracle_rows": len(orows)}
    if out["ok"]:
        return out
    sa, sb = set(a), set(b)
    out.update(extra=[repr(x)[:160] for x in list(sa - sb)[:2]],
               missing=[repr(x)[:160] for x in list(sb - sa)[:2]])
    if not ok_cols:
        out["cols"] = {"spark": sorted(cols), "oracle": sorted(ocols)}
    elif not ok_types:
        out["types"] = {c: (stypes[c], otypes[c]) for c in cols
                        if stypes[c] != otypes[c]}
    return out


def main(argv):
    import __spark_entry__ as entry

    spark = make_spark()
    con = connect_duckdb(SF_DIR, TABLES)
    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = []
    for name in argv or list(qs):
        t0 = time.time()
        r = compare_one(spark, con, qs, oracles, name, SF_DIR)
        status = "OK" if r["ok"] else "FAIL"
        print(f"  {name}: {status} spark_rows={r['spark_rows']} "
              f"oracle_rows={r['oracle_rows']} [{time.time() - t0:.1f}s]")
        if not r["ok"]:
            failures.append(name)
            for k in ("cols", "types", "extra", "missing"):
                if k in r:
                    print(f"    {k}: {r[k]}")
    spark.stop()
    if failures:
        print("FAILURES:", failures)
        return 1
    print("all oracles OK")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
