"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB over the same parquet tables, then compares row count,
sorted column names, and order-insensitive values. Each result line
carries the query's Spark seconds (building the frame plus collecting
it). DuckDB runs under a memory limit, spills to a bounded temp
directory inside the checkout and is interrupted after
``ORACLE_TIMEOUT_S``, so an oracle whose plan blows up fails by name
instead of exhausting the host. The Spark session runs at
``build_spark``'s default master (``SPARK_GRAFT_CPUS``, else all cores)
with two shuffle partitions per core, so the Spark seconds are not
measured oversubscribed.

Usage: python tools/check_oracles.py [sf_dir] [only_query ...]
"""

import math
import sys
import threading
import time
from pathlib import Path

import duckdb

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

# The slowest oracle takes under a second; this only stops a runaway.
ORACLE_TIMEOUT_S = 30

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _norm(v):
    # Exact value comparison (the driver hash-compares exact values);
    # only NaN needs a sentinel because NaN != NaN.
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def spark_type_class(dt) -> str:
    """Collapse a Spark DataType to the class the driver's hash is
    sensitive to: int widths collapse, float widths collapse, but
    int / float / decimal / str / bool / temporal stay distinct."""
    s = dt.simpleString().lower()
    if s in ("tinyint", "smallint", "int", "bigint"):
        return "int"
    if s in ("float", "double"):
        return "float"
    if s.startswith("decimal"):
        return "decimal"
    if s in ("string", "varchar", "char"):
        return "str"
    if s == "boolean":
        return "bool"
    if s.startswith("timestamp"):
        return "timestamp"
    return s  # date, binary, array<...>, map<...>, struct<...>


def duck_type_class(t) -> str:
    """Same collapse for a DuckDB result type. HUGEINT is deliberately
    its OWN class: DuckDB integer sum() returns HUGEINT (int128), which
    the driver's pandas/arrow hash distinguishes from Spark BIGINT even
    when values are equal (the round-4 repetition_metrics failure)."""
    s = str(t).upper()
    if s in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if s in ("HUGEINT", "UHUGEINT"):
        return "hugeint"
    if s in ("FLOAT", "REAL", "DOUBLE"):
        return "float"
    if s.startswith("DECIMAL"):
        return "decimal"
    if s in ("VARCHAR", "CHAR", "TEXT"):
        return "str"
    if s == "BOOLEAN":
        return "bool"
    if s.startswith("TIMESTAMP"):
        return "timestamp"
    return s.lower()


def compare(name, spark_df, duck_rows, duck_cols, duck_types=None):
    s_cols = sorted(spark_df.columns)
    d_cols = sorted(duck_cols)
    if s_cols != d_cols:
        return f"SCHEMA mismatch: spark={s_cols} duck={d_cols}"
    if duck_types is not None:
        s_class = {f.name: spark_type_class(f.dataType)
                   for f in spark_df.schema.fields}
        d_class = {c: duck_type_class(t)
                   for c, t in zip(duck_cols, duck_types)}
        bad = [(c, s_class[c], d_class[c]) for c in s_cols
               if s_class[c] != d_class[c]]
        if bad:
            return ("TYPE mismatch (driver hash is type-sensitive): "
                    + ", ".join(f"{c}: spark={a} duck={b}"
                                for c, a, b in bad))
    s_rows = spark_df.collect()
    if len(s_rows) != len(duck_rows):
        return f"ROWCOUNT mismatch: spark={len(s_rows)} duck={len(duck_rows)}"
    def key(t):
        return tuple((v is None, str(type(v)), v if v is not None else 0)
                     for v in t)

    s_vals = sorted(
        (tuple(_norm(r[c]) for c in s_cols) for r in s_rows), key=key
    )
    idx = [duck_cols.index(c) for c in d_cols]
    d_vals = sorted(
        (tuple(_norm(r[i]) for i in idx) for r in duck_rows), key=key
    )
    if s_vals != d_vals:
        for a, b in zip(s_vals, d_vals):
            if a != b:
                return f"VALUE mismatch, first diff:\n  spark={a!r}\n  duck ={b!r}"
        return "VALUE mismatch (unreachable)"
    return None


def run_oracle(con, sql):
    """``(columns, types, rows)`` of ``sql``, interrupted after
    ``ORACLE_TIMEOUT_S`` (DuckDB then raises ``InterruptException``)."""
    timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
    timer.start()
    try:
        rel = con.sql(sql)
        return list(rel.columns), list(rel.types), rel.fetchall()
    finally:
        timer.cancel()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from zzzarchived_arxiv_fulltext_spark.config import build_spark

    spark = build_spark(app_name="oracle-check")
    spark.conf.set("spark.sql.shuffle.partitions",
                   2 * spark.sparkContext.defaultParallelism)

    con = duckdb.connect()
    con.execute("SET memory_limit='2GB'")
    con.execute(f"SET temp_directory='{REPO / '.duckdb_tmp'}'")
    con.execute("SET max_temp_directory_size='4GB'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, oracles = e.queries(), e.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.perf_counter()
        try:
            df = fn(spark, sf_dir)
        except Exception as ex:
            print(f"[FAIL] {name} (spark {time.perf_counter() - t0:.2f}s): "
                  f"spark raised {ex}")
            failures += 1
            continue
        spark_s = time.perf_counter() - t0
        if name not in oracles:
            n = df.count()
            print(f"[rows-only] {name}: {n} rows")
            continue
        try:
            duck_cols, duck_types, duck_rows = run_oracle(con, oracles[name])
        except duckdb.InterruptException:
            print(f"[FAIL] {name}: duckdb timed out after "
                  f"{ORACLE_TIMEOUT_S} s")
            failures += 1
            continue
        except Exception as ex:
            print(f"[FAIL] {name} (spark {spark_s:.2f}s): duckdb raised {ex}")
            failures += 1
            continue
        t0 = time.perf_counter()
        err = compare(name, df, duck_rows, duck_cols, duck_types)
        # compare's collect runs the Spark query
        spark_s += time.perf_counter() - t0
        secs = f"(spark {spark_s:.2f}s)"
        if err:
            print(f"[FAIL] {name} {secs}: {err}")
            failures += 1
        else:
            print(f"[OK]   {name} {secs}: {len(duck_rows)} rows match")
    print(f"\n{failures} failures")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
