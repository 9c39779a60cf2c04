"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs every catalog query on Spark and its oracle on DuckDB at the
given scale factor, compares row count, column names, and
order-insensitive values. Usage:

    python tools/verify_local.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from unified_log_aggregation_and_analytics_spark.session import get_spark
from unified_log_aggregation_and_analytics_spark.schemas import TESTDATA_TABLES


_SPARK_CANON = {
    "tinyint": "int8", "smallint": "int16", "int": "int32",
    "bigint": "int64", "float": "float32", "double": "float64",
    "boolean": "bool", "string": "string", "binary": "binary",
    "date": "date",
}

_DUCK_CANON = {
    "TINYINT": "int8", "SMALLINT": "int16", "INTEGER": "int32",
    "BIGINT": "int64", "HUGEINT": "int128", "UTINYINT": "uint8",
    "USMALLINT": "uint16", "UINTEGER": "uint32", "UBIGINT": "uint64",
    "FLOAT": "float32", "DOUBLE": "float64", "BOOLEAN": "bool",
    "VARCHAR": "string", "BLOB": "binary", "DATE": "date",
}


def _canon_spark_type(s: str) -> str | None:
    """Spark dtype simpleString -> canonical width-aware type tag, or
    None when the type is outside the canonicalizers' vocabulary
    (MAP/STRUCT/...): drift checking is skipped for such columns
    rather than raw-string-comparing 'map<string,bigint>' against
    DuckDB's 'MAP(VARCHAR, BIGINT)' and reporting spurious drift."""
    if s in _SPARK_CANON:
        return _SPARK_CANON[s]
    if s.startswith("decimal"):
        return s.replace(" ", "")
    if s.startswith("timestamp"):
        return "timestamp"
    if s.startswith("array<") and s.endswith(">"):
        inner = _canon_spark_type(s[6:-1])
        return None if inner is None else f"list<{inner}>"
    return None


def _canon_duck_type(s: str) -> str | None:
    """DuckDB DESCRIBE column_type -> canonical width-aware tag, or
    None outside the vocabulary (see _canon_spark_type)."""
    s = s.strip()
    if s.endswith("[]"):
        inner = _canon_duck_type(s[:-2])
        return None if inner is None else f"list<{inner}>"
    u = s.upper()
    if u in _DUCK_CANON:
        return _DUCK_CANON[u]
    if u.startswith("DECIMAL"):
        return u.replace("DECIMAL", "decimal").replace(" ", "")
    if u.startswith("TIMESTAMP"):
        return "timestamp"
    return None


def _type_drift(sdf, con, sql) -> list[str]:
    """Width-strict type comparison: the driver's value hash
    canonicalizes e.g. DuckDB HUGEINT (int128) differently from Spark
    bigint even when every value is equal (the round-5
    docs_pack_contiguous red row), so Python-int equality is not
    enough. DESCRIBE costs a plan, not an execution."""
    duck = {
        r[0]: _canon_duck_type(r[1])
        for r in con.execute(f"DESCRIBE {sql}").fetchall()
    }
    drift = []
    for name, dt in sdf.dtypes:
        st = _canon_spark_type(dt)
        ot = duck.get(name)
        # None on either side = type outside the canonical vocabulary
        # (MAP/STRUCT/...): value comparison still applies, but
        # width-drift reporting would be raw-string noise — skip it.
        if st is not None and ot is not None and ot != st:
            drift.append(f"{name}: spark={st} duck={ot}")
    return drift


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, bytes):
        return v.hex()
    return v


def _rows_key(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(_norm(r[i]) for i in order))
    return sorted(out, key=repr)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    spark = get_spark("verify-local")
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    n_pass = n_fail = n_rowsonly = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        if name in oracles:
            # Harness parity (the r9 multimodal_features ERR): the
            # DRIVER canonicalizes with pandas sort_values over every
            # column, which dies on array/map/struct cells — this
            # tool's repr-sort is list-safe and would pass where the
            # driver errs. Fail such entries HERE so builder-green
            # predicts driver-green.
            from pyspark.sql import types as T

            complex_cols = [
                f"{f.name}:{f.dataType.simpleString()}"
                for f in sdf.schema.fields
                if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
            ]
            if complex_cols:
                print(
                    f"FAIL  {name}: driver-uncanonicalizable complex-typed "
                    f"output column(s): {', '.join(complex_cols)} (the driver's "
                    "pandas sort_values raises on these — posexplode or hash them)"
                )
                n_fail += 1
                continue
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (rows-only, {time.time()-t0:.1f}s)")
            n_rowsonly += 1
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
        else:
            drift = _type_drift(sdf, con, oracles[name])
            if drift:
                problems.append(f"type drift: {'; '.join(drift)}")
        if not problems:
            sk, dk = _rows_key(scols, srows), _rows_key(dcols, drows)
            if sk != dk:
                bad = sum(1 for a, b in zip(sk, dk) if a != b)
                ex = next((a, b) for a, b in zip(sk, dk) if a != b)
                problems.append(f"values differ in {bad}/{len(sk)} rows; first: spark={ex[0]} duck={ex[1]}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            print(f"ok    {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1

    print(f"\n{n_pass} ok, {n_rowsonly} rows-only, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
