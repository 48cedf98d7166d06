"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and, where an ``oracle_sql()`` entry
exists, the same query in DuckDB over the identical parquet tables; compares
row count, column-name set, and an order-insensitive value hash (columns
sorted by name, rows sorted, values stringified with float canonicalization).

Both sides are fetched through pandas (Spark ``toPandas()``, DuckDB
``.df()``) before hashing, as the correctness gate does, so pandas' dtype
coercions show here too: DuckDB types an un-CAST ``sum()`` of integers
HUGEINT, which a pandas fetch renders as ``2.0`` where Spark's bigint
renders ``2``.

It also lints each oracle's column types: a HUGEINT, UHUGEINT or DECIMAL
oracle column whose Spark twin is integral fails the probe even where the
rendered values happen to agree.  CAST those columns to BIGINT in the
oracle SQL.

Usage: python tools/verify_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import sys
import time

sys.path.insert(0, ".")

import duckdb
import pandas as pd

_INTEGRAL_SPARK = {"tinyint", "smallint", "int", "bigint"}
_WIDE_DUCK = ("HUGEINT", "UHUGEINT", "DECIMAL")


def wide_int_columns(spark_types: dict[str, str],
                     duck_types: dict[str, str]) -> list[str]:
    """Oracle columns typed HUGEINT/UHUGEINT/DECIMAL whose Spark twin is
    integral.  Both maps are column name → type name (Spark
    ``simpleString``, DuckDB type string)."""
    return sorted(
        c for c, t in duck_types.items()
        if t.upper().startswith(_WIDE_DUCK)
        and spark_types.get(c) in _INTEGRAL_SPARK
    )


TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _canon_value(v):
    # a pandas fetch holds a NULL as None, NaN, NaT or NA by dtype and
    # engine (DuckDB's nullable BOOLEAN: NaN; Spark's: None), and a float
    # NaN can no longer be told from NULL after it
    if v is None or v is pd.NaT or v is pd.NA or (
            isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def pandas_rows(pdf: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    """Column names and rows of a pandas fetch, as Python values (numpy
    scalars unboxed)."""
    cols = [str(c) for c in pdf.columns]
    data = [pdf.iloc[:, i].tolist() for i in range(len(cols))]
    return cols, list(zip(*data))


def frame_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(_canon_value(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    # oracle_sql() embeds expected-table paths for ONE sf (the driver's);
    # pin it to the sf this gate actually runs so the Spark queries and the
    # DuckDB expected tables can never come from different scale factors.
    import os
    os.environ["SPARK_GRAFT_GATE_SF_DIR"] = sf_dir

    import __spark_entry__ as entrymod
    from crawl4ai_spark.session import get_spark

    spark = get_spark(app_name="verify-oracle")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            stypes = {f.name: f.dataType.simpleString() for f in sdf.schema.fields}
            scols, srows = pandas_rows(sdf.toPandas())
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        spark_s = time.time() - t0
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows ({spark_s:.1f}s) [rows-only]")
            if len(srows) == 0 and name not in ("ngram_jaccard",):
                print(f"  WARN {name}: 0 rows")
            continue
        try:
            rel = con.sql(oracles[name])
            otypes = dict(zip(rel.columns, (str(t) for t in rel.types)))
            ocols, orows = pandas_rows(rel.df())
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        ok_cols = sorted(scols) == sorted(ocols)
        ok_count = len(srows) == len(orows)
        sh = frame_hash(scols, srows)
        oh = frame_hash(ocols, orows)
        ok_hash = sh == oh
        wide = wide_int_columns(stypes, otypes)
        status = "OK  " if (ok_cols and ok_count and ok_hash and not wide) else "FAIL"
        print(
            f"{status}  {name}: spark={len(srows)} duck={len(orows)} "
            f"cols={'ok' if ok_cols else f'{sorted(scols)} vs {sorted(ocols)}'} "
            f"hash={'ok' if ok_hash else f'{sh} vs {oh}'} ({spark_s:.1f}s)"
        )
        for c in wide:
            print(f"    lint: oracle column {c} is {otypes[c]}, "
                  f"Spark twin {stypes[c]}: CAST it to BIGINT")
        if status == "FAIL":
            failures.append(name)
            if ok_cols and not ok_hash:
                order = sorted(scols)
                sset = {tuple(_canon_value(r[scols.index(c)]) for c in order) for r in srows}
                oset = {tuple(_canon_value(r[ocols.index(c)]) for c in order) for r in orows}
                for d in list(sset - oset)[:3]:
                    print(f"    spark-only: {d}")
                for d in list(oset - sset)[:3]:
                    print(f"    duck-only:  {d}")
    print("FAILURES:", failures or "none")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
