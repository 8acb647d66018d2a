"""Local simulation of the driver's DuckDB-oracle correctness gate.

Runs every ``queries()`` entry on Spark and (where present) its
``oracle_sql()`` on DuckDB over the same parquet, then compares
row count, column names, and an order-insensitive value hash.

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

import duckdb

sys.path.insert(0, ".")

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def cell(v):
    """Exact, driver-faithful cell rendering: NO float snapping.  A
    last-ulp double divergence or an int128-vs-int64 payload must show
    up here, not be collapsed by lossy formatting (r4 lesson: the old
    ``f"{v:.6f}"`` masked the HUGEINT oracle bug the driver caught)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, list):
        return "[" + ",".join(cell(x) for x in v) + "]"
    return str(v)


def value_hash(rows, cols):
    """Order-insensitive hash: sort columns by name, exact-render every
    cell, sort row strings, md5."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(cell(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def arrow_type_key(t):
    """Normalized Arrow type name for parity checks.  String/binary/list
    width variants, timestamp units, and machine-int widths (int8..64 —
    the driver hashes 1:int32 and 1:int64 identically; Spark's
    row_number/size are int32 where DuckDB's are int64 and those queries
    pass the driver gate) are equivalent across engines; everything
    ELSE must match exactly — in particular int vs decimal128(38,0)
    (DuckDB HUGEINT, the r4 six-red-rows bug), int vs double, and
    float32 vs float64."""
    import pyarrow.types as pt

    if pt.is_string(t) or pt.is_large_string(t):
        return "str"
    if pt.is_binary(t) or pt.is_large_binary(t):
        return "bin"
    if pt.is_list(t) or pt.is_large_list(t) or pt.is_fixed_size_list(t):
        return f"list<{arrow_type_key(t.value_type)}>"
    if pt.is_timestamp(t):
        return "timestamp"
    if pt.is_date(t):
        return "date"
    if pt.is_signed_integer(t) or pt.is_unsigned_integer(t):
        return "int"
    return str(t)


def spark_arrow_types(sdf):
    """Arrow schema the driver would see for a Spark result, derived
    from the Spark schema (no second job)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    sch = to_arrow_schema(sdf.schema)
    return {f.name: arrow_type_key(f.type) for f in sch}


def main():
    import __spark_entry__ as e
    from klinker_spark.session import get_spark

    spark = get_spark("correctness")
    con = duckdb.connect()
    for t in TABLES:
        # driver scales ship single files; repo-generated sf1/sf3 tables
        # are multi-file directories (real-lake layout) — glob those
        p = f"{SF_DIR}/{t}.parquet"
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")

    qs, oracles = e.queries(), e.oracle_sql()
    results, n_fail = {}, 0
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            stypes = spark_arrow_types(sdf)
            nested = [
                c
                for c, t in stypes.items()
                if "list<" in t or "struct" in t or "map<" in t
            ]
            if nested:
                # The driver's canonicalizer (pandas sort_values over
                # object cells) cannot sort/hash list/struct/map cells —
                # the r6 hll_distinct_sketch ERR.  Refuse here so the
                # local gate is canonicalization-faithful, not just
                # hash-faithful: reshape the query (array_join / explode).
                results[name] = {
                    "status": "NESTED_TYPE",
                    "error": f"driver-hasher-hostile nested output columns: {nested}",
                }
                n_fail += 1
                print(f"FAIL  {name}: nested output columns {nested} (driver canonicalizer cannot hash lists)")
                continue
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            results[name] = {"status": "SPARK_ERROR", "error": str(ex)[:500]}
            n_fail += 1
            print(f"FAIL  {name}: spark error {str(ex)[:200]}")
            continue
        spark_s = time.time() - t0
        if name not in oracles:
            results[name] = {"status": "ROWS_ONLY", "rows": len(srows), "spark_s": round(spark_s, 2)}
            print(f"rows  {name}: {len(srows)} rows ({spark_s:.1f}s, no oracle)")
            continue
        try:
            otbl = con.execute(oracles[name]).fetch_arrow_table()
            ocols = otbl.schema.names
            otypes = {
                f.name: arrow_type_key(f.type) for f in otbl.schema
            }
            odicts = otbl.to_pylist()
            orows = [tuple(d[c] for c in ocols) for d in odicts]
        except Exception as ex:
            results[name] = {"status": "ORACLE_ERROR", "error": str(ex)[:500]}
            n_fail += 1
            print(f"FAIL  {name}: oracle error {str(ex)[:200]}")
            continue
        ok_cols = sorted(scols) == sorted(ocols)
        ok_types = ok_cols and all(
            stypes.get(c) == otypes.get(c) for c in scols
        )
        ok_count = len(srows) == len(orows)
        ok_hash = value_hash(srows, scols) == value_hash(orows, ocols)
        status = (
            "MATCH" if (ok_cols and ok_types and ok_count and ok_hash) else "MISMATCH"
        )
        if status != "MATCH":
            n_fail += 1
            type_diff = (
                ""
                if ok_types
                else " types: "
                + "; ".join(
                    f"{c}: spark={stypes.get(c)} oracle={otypes.get(c)}"
                    for c in scols
                    if stypes.get(c) != otypes.get(c)
                )
            )
            print(
                f"FAIL  {name}: cols={ok_cols} ({sorted(scols)} vs {sorted(ocols)}) "
                f"count={ok_count} ({len(srows)} vs {len(orows)}) hash={ok_hash}"
                f"{type_diff}"
            )
            if ok_cols and not ok_hash:
                order = sorted(range(len(scols)), key=lambda i: scols[i])
                oorder = sorted(range(len(ocols)), key=lambda i: ocols[i])
                sset = {tuple(str(r[i]) for i in order) for r in srows}
                oset = {tuple(str(r[i]) for i in oorder) for r in orows}
                for x in list(sset - oset)[:3]:
                    print(f"      spark-only: {x}")
                for x in list(oset - sset)[:3]:
                    print(f"      oracle-only: {x}")
        else:
            print(f"ok    {name}: {len(srows)} rows ({spark_s:.1f}s)")
        results[name] = {"status": status, "rows": len(srows), "spark_s": round(spark_s, 2)}

    print(json.dumps({"failures": n_fail, "n": len(results)}))
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
