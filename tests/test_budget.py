"""Crawl-budget economics: yield rollup + Hamilton apportionment."""

import pytest

from crawl4ai_spark.operators.budget import apportion_budget, yield_report


def _py_hamilton(weights: dict[str, int], budget: int) -> dict[str, int]:
    W = sum(weights.values())
    base = {h: budget * w // W for h, w in weights.items()}
    rem = {h: budget * w % W for h, w in weights.items()}
    leftover = budget - sum(base.values())
    order = sorted(weights, key=lambda h: (-rem[h], h))
    for h in order[:leftover]:
        base[h] += 1
    return base


def test_apportion_hand_case(spark):
    # 10 across weights 5/3/1: exact shares 5.55/3.33/1.11 → bases
    # 5/3/1, leftover 1 goes to the largest remainder (a: 50/90)
    w = spark.createDataFrame(
        [("a", 5), ("b", 3), ("c", 1)], "host string, weight long")
    got = {r["host"]: r for r in apportion_budget(w, 10).collect()}
    assert {h: r["granted"] for h, r in got.items()} == \
        {"a": 6, "b": 3, "c": 1}
    assert got["a"]["extra"] is True and got["b"]["extra"] is False
    assert sum(r["granted"] for r in got.values()) == 10


def test_apportion_matches_python_reference(spark):
    weights = {f"h{i:03d}": (i * i * 13) % 97 for i in range(200)}
    weights["h000"] = 0  # zero-weight host never over-granted
    w = spark.createDataFrame(
        list(weights.items()), "host string, weight long")
    for budget in (0, 1, 17, 999, 12345):
        got = {r["host"]: r["granted"]
               for r in apportion_budget(w, budget).collect()}
        assert got == _py_hamilton(weights, budget), budget
        assert sum(got.values()) == budget


def test_apportion_overflow_safe_beyond_int64(spark):
    # B*w beyond int64: 10^12 budget × 10^9 weights = 10^21 products
    w = spark.createDataFrame(
        [("a", 10**9), ("b", 3 * 10**9), ("c", 7)],
        "host string, weight long")
    budget = 10**12
    got = {r["host"]: r for r in apportion_budget(w, budget).collect()}
    assert sum(r["granted"] for r in got.values()) == budget
    # proportionality within one unit of the exact share
    W = 4 * 10**9 + 7
    for h, wt in (("a", 10**9), ("b", 3 * 10**9), ("c", 7)):
        exact = budget * wt // W
        assert exact <= got[h]["granted"] <= exact + 1


def test_apportion_rejects_bad_inputs(spark):
    w = spark.createDataFrame([("a", 0)], "host string, weight long")
    with pytest.raises(ValueError):
        apportion_budget(w, 10)
    w2 = spark.createDataFrame([("a", 1)], "host string, weight long")
    with pytest.raises(ValueError):
        apportion_budget(w2, -1)


def test_apportion_rejects_negative_weight(spark):
    # the weights still sum > 0, so only the per-weight check catches it
    w = spark.createDataFrame(
        [("a", 5), ("b", -1), ("c", 3)], "host string, weight long")
    with pytest.raises(ValueError, match=">= 0"):
        apportion_budget(w, 10)


def test_yield_report_rates(spark):
    log = spark.createDataFrame(
        [("h1", True, 10, 4), ("h1", True, 0, 0), ("h1", False, 6, 6),
         ("h2", False, 0, 0)],
        "host string, success boolean, n_links long, n_new long")
    got = {r["host"]: r for r in yield_report(log).collect()}
    h1 = got["h1"]
    assert (h1["n_fetched"], h1["n_ok"], h1["n_links"], h1["n_new"]) \
        == (3, 2, 16, 10)
    assert h1["ok_bp"] == 6666          # 20000 DIV 3
    assert h1["dup_bp"] == 3750         # 10000*6 DIV 16
    assert h1["new_per_10k_fetch"] == 33333
    h2 = got["h2"]
    assert h2["dup_bp"] == 0 and h2["ok_bp"] == 0
