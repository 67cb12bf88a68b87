"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry at sf0.01 on Spark AND its ``oracle_sql()``
in DuckDB (views pre-registered over the same parquet), then compares:
row count, column names, and order-insensitive exact values (sorted rows,
columns sorted by name). Stricter than a value hash — reports first diffs.

Usage: python tools/check_oracle.py [names...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
            elif hasattr(v, "isoformat"):
                v = v.isoformat()[:26]
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=repr)
    return out


# DuckDB result type → the Spark dtype string the driver's dtype-aware hash
# expects. Anything NOT in this map (HUGEINT, DECIMAL, UHUGEINT...) is a type
# the gate's pandas round-trip serializes differently from Spark → hash-red
# even when the values are exact. Oracles must CAST those away.
_DUCK_TO_SPARK = {
    "BOOLEAN": "boolean",
    "TINYINT": "tinyint",
    "SMALLINT": "smallint",
    "INTEGER": "int",
    "BIGINT": "bigint",
    "FLOAT": "float",
    "DOUBLE": "double",
    "VARCHAR": "string",
    "BLOB": "binary",
    "DATE": "date",
    "TIMESTAMP": "timestamp_ntz",
}


def _map_duck_type(t: str) -> str | None:
    t = t.upper()
    if t.endswith("[]"):
        inner = _map_duck_type(t[:-2])
        return None if inner is None else f"array<{inner}>"
    return _DUCK_TO_SPARK.get(t)


def check_types(name, df, con, sql) -> list[str]:
    """Compare Spark dtypes vs DuckDB result types (both lazy/cheap).

    Returns human-readable mismatch strings; empty list = clean."""
    spark_types = dict(df.dtypes)
    duck = con.execute(f"DESCRIBE {sql}").fetchall()
    problems = []
    for col, dtype, *_ in duck:
        mapped = _map_duck_type(dtype)
        want = spark_types.get(col)
        if want is None:
            continue  # column-name mismatch reported elsewhere
        # timestamps: spark 'timestamp' vs 'timestamp_ntz' both serialize
        # as naive datetime64 through pandas — treat as equivalent
        if mapped is None or (
            mapped != want
            and not (mapped == "timestamp_ntz" and want == "timestamp")
        ):
            problems.append(f"{col}: duckdb {dtype} vs spark {want}")
    return problems


def main(names: list[str]):
    import __spark_entry__ as entry
    from landlensdb_spark.session import get_spark

    spark = get_spark("oracle-check", master="local[8]", shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )

    qs = entry.queries()
    oracles = entry.oracle_sql()
    names = names or list(qs)
    failed = []
    for name in names:
        try:
            df = qs[name](spark, SF_DIR)
            spark_cols = df.columns
            spark_rows = [tuple(r) for r in df.collect()]
            if name not in oracles:
                print(f"{name:24s} rows-only: {len(spark_rows)} rows (no oracle)")
                continue
            res = con.execute(oracles[name])
            duck_cols = [d[0] for d in res.description]
            duck_rows = res.fetchall()
            type_problems = check_types(name, df, con, oracles[name])
            a, b = canon(spark_rows, spark_cols), canon(duck_rows, duck_cols)
            if type_problems:
                print(f"{name:24s} FAIL types: {'; '.join(type_problems)}")
                failed.append(name)
            elif sorted(spark_cols) != sorted(duck_cols):
                print(f"{name:24s} FAIL cols: {sorted(spark_cols)} vs {sorted(duck_cols)}")
                failed.append(name)
            elif len(a) != len(b):
                print(f"{name:24s} FAIL rows: {len(a)} vs {len(b)}")
                failed.append(name)
            elif a != b:
                diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
                print(f"{name:24s} FAIL values; first diffs: {diffs}")
                failed.append(name)
            else:
                print(f"{name:24s} OK ({len(a)} rows)")
        except Exception as e:
            print(f"{name:24s} ERROR: {type(e).__name__}: {str(e)[:300]}")
            failed.append(name)
    print(f"\n{len(names) - len(failed)}/{len(names)} passed")
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
