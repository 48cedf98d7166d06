"""The local gate's oracle type lint (tools/verify_oracle.py)."""

import duckdb

from tools.verify_oracle import wide_int_columns


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
