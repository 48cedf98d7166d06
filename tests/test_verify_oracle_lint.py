"""The local gate's oracle type lint and pandas-path hash
(tools/verify_oracle.py)."""

import duckdb

from tools.verify_oracle import frame_hash, pandas_rows, wide_int_columns


def _duck_types(sql: str) -> dict[str, str]:
    rel = duckdb.connect().sql(sql)
    return dict(zip(rel.columns, (str(t) for t in rel.types)))


def test_flags_uncast_sum_and_decimal_against_integral_spark():
    duck = _duck_types(
        "SELECT sum(x) AS s, CAST(sum(x) AS BIGINT) AS s_cast, "
        "sum(x) * 2.0 AS d, 1.5 AS ratio FROM (SELECT 1 AS x)")
    assert duck["s"] == "HUGEINT" and duck["d"].startswith("DECIMAL")
    spark = {"s": "bigint", "s_cast": "bigint", "d": "int", "ratio": "double"}
    assert wide_int_columns(spark, duck) == ["d", "s"]


def test_fixed_oracles_are_clean():
    # the casts of line_dedup.n_kept and dsir_weights.*_sum, in miniature
    duck = _duck_types(
        "SELECT CAST(coalesce(sum(x), 0) AS BIGINT) AS n_kept, "
        "CAST((x - 1) * 2.0 AS DOUBLE) AS send_at_s "
        "FROM (SELECT 1 AS x) GROUP BY x")
    spark = {"n_kept": "bigint", "send_at_s": "double"}
    assert wide_int_columns(spark, duck) == []


def test_pandas_fetch_tells_hugeint_sum_from_spark_bigint(spark):
    # the correctness gate hashes pandas fetches: DuckDB's HUGEINT sum
    # arrives as float64 2.0, Spark's bigint as 2, so the hashes must differ
    spark_side = frame_hash(*pandas_rows(
        spark.sql("SELECT CAST(2 AS BIGINT) AS s").toPandas()))
    con = duckdb.connect()
    uncast = con.sql("SELECT sum(x) AS s FROM (SELECT 2 AS x)")
    assert frame_hash(*pandas_rows(uncast.df())) != spark_side
    assert frame_hash(uncast.columns, uncast.fetchall()) == spark_side
    cast = con.sql("SELECT CAST(sum(x) AS BIGINT) AS s FROM (SELECT 2 AS x)")
    assert frame_hash(*pandas_rows(cast.df())) == spark_side
