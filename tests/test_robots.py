"""Robots semantics truth table, ported from the reference's parser cases
(tests/20241401/test_robot_parser.py:52-124 + RobotsParser.can_fetch
utils.py:276-328): allow /public, deny /private, malformed/empty/missing/
fetch-error → allow; the engine turns a disallow into a 403 non-success
result without fetching (async_webcrawler.py:361-370)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from crawl4ai_spark.operators.robots import RULES_SCHEMA, allowed_for, robots_gate_df

RULES = "User-agent: *\nAllow: /public/\nDisallow: /private/\n"


def test_allowed_for_truth_table():
    urls = [
        "https://h.test/public/page.html",
        "https://h.test/private/page.html",
        "https://h.test/other",
    ]
    assert allowed_for(urls, RULES) == [True, False, True]
    # empty / malformed / missing → allow everything
    assert allowed_for(urls, "") == [True, True, True]
    assert allowed_for(urls, "<<<malformed>>>") == [True, True, True]
    assert allowed_for(urls, None) == [True, True, True]


def test_giant_rules_allow_specific():
    giant = "User-agent: *\n" + "\n".join(f"Disallow: /x{i}/" for i in range(10000))
    assert allowed_for(["https://h.test/x55/a", "https://h.test/ok"], giant) == [False, True]


def test_robots_gate_dataframe(spark):
    robots_pdf = pd.DataFrame(
        [
            {"host": "a.test", "rules": RULES, "fetch_time": 1_700_000_000, "status": 200},
            {"host": "b.test", "rules": "User-agent: *\nDisallow: /\n",
             "fetch_time": 1_700_000_000, "status": 200},
            {"host": "err.test", "rules": None, "fetch_time": 1_700_000_000, "status": 599},
        ]
    )
    df = spark.createDataFrame(
        [
            ("https://a.test/public/x", "a.test"),
            ("https://a.test/private/x", "a.test"),
            ("https://b.test/anything", "b.test"),
            ("https://err.test/x", "err.test"),
            ("https://unknown.test/x", "unknown.test"),
        ],
        "fetch_key string, host string",
    )
    rules_df = spark.createDataFrame(robots_pdf, RULES_SCHEMA)
    got = {
        r["fetch_key"]: r["robots_allowed"]
        for r in robots_gate_df(df, rules_df).collect()
    }
    assert got == {
        "https://a.test/public/x": True,
        "https://a.test/private/x": False,
        "https://b.test/anything": False,
        "https://err.test/x": True,   # fetch error → allow
        "https://unknown.test/x": True,  # missing host → allow
    }


def test_engine_robots_403(spark):
    """Disallowed URLs become success=False/status=403 results and still
    enter the URL-seen set (visited-before-fetch), discovering no links."""
    from crawl4ai_spark.plans.frontier import CrawlConfig, deep_crawl
    from crawl4ai_spark.sources.synth import GraphParams, synth_local, url_of

    p = GraphParams(n_pages=30, n_domains=3)
    pages_pdf, links_pdf, _ = synth_local(p)
    robots_pdf = pd.DataFrame(
        [{"host": h, "rules": "User-agent: *\nDisallow: /\n",
          "fetch_time": 1_700_000_000, "status": 200}
         for h in ["ex1.test", "ex2.test"]]
    )
    run = deep_crawl(
        spark, [url_of(0, p)],
        spark.createDataFrame(pages_pdf), spark.createDataFrame(links_pdf),
        CrawlConfig(strategy="bfs", max_depth=2, check_robots_txt=True),
        robots_pdf=robots_pdf,
    )
    rows = run.results.collect()
    blocked = [r for r in rows if r["host"] in ("ex1.test", "ex2.test")]
    for r in blocked:
        assert r["status_code"] == 403 and not r["success"]
    allowed = [r for r in rows if r["host"] == "ex0.test"]
    assert any(r["success"] for r in allowed)


def test_robots_gate_df_matches_dict_gate(spark):
    # the gate must reproduce the oracle's independent dict-keyed twin
    # (oracle/crawler.robots_allower) exactly, including every
    # allow-on-error case and a host with no rules row at all
    from crawl4ai_spark.oracle.crawler import robots_allower
    from crawl4ai_spark.sources.synth import GraphParams, gen_robots

    p = GraphParams(n_pages=40, n_domains=8)
    rules_pdf = gen_robots(p)
    rows = []
    for d in range(8):
        for path in ("/private/x", "/dl/y", "/shop/z", "/blog/ok"):
            u = f"https://ex{d}.test{path}"
            rows.append((u, f"ex{d}.test"))
    rows.append(("https://norules.test/a", "norules.test"))
    df = spark.createDataFrame(rows, "fetch_key string, host string")
    allowed = robots_allower(rules_pdf)
    want = {u: allowed(h, u) for u, h in rows}
    got = {
        r["fetch_key"]: r["robots_allowed"]
        for r in robots_gate_df(
            df, spark.createDataFrame(rules_pdf, RULES_SCHEMA)).collect()
    }
    assert got == want
    assert got["https://norules.test/a"] is True
    assert not all(want.values())  # some URL is actually denied


@pytest.mark.parametrize("rows", ["clean", "deny_first", "deny_last"])
def test_two_rules_rows_for_one_host_raise(spark, rows):
    # (200, Disallow: /) and (404, no rules) for one host: a gate that kept
    # the first row would deny, an oracle that kept the last would allow,
    # and the answer would flip with the row order.  Both raise instead.
    from crawl4ai_spark.oracle.crawler import robots_allower

    deny = ("h.test", "User-agent: *\nDisallow: /\n", 1_700_000_000, 200)
    gone = ("h.test", None, 1_700_000_000, 404)
    table = {"clean": [deny], "deny_first": [deny, gone],
             "deny_last": [gone, deny]}[rows]
    pdf = pd.DataFrame(table, columns=["host", "rules", "fetch_time", "status"])
    gate = robots_gate_df(
        spark.createDataFrame([("https://h.test/a", "h.test")],
                              "fetch_key string, host string"),
        spark.createDataFrame(pdf, RULES_SCHEMA))
    if rows == "clean":
        assert [r["robots_allowed"] for r in gate.collect()] == [False]
        assert robots_allower(pdf)("h.test", "https://h.test/a") is False
        return
    with pytest.raises(Exception, match="more than one row for host h.test"):
        gate.collect()
    with pytest.raises(ValueError, match="more than one row for host h.test"):
        robots_allower(pdf)


def test_crawl_delay_stage(spark):
    from crawl4ai_spark.operators.robots import crawl_delay_stage

    rows = [
        ("a", "User-agent: *\nCrawl-delay: 3\nDisallow: /x/\n"),
        ("b", "User-agent: *\nRequest-rate: 1/5\n"),
        # both directives: the stricter (larger seconds-per-request) wins
        ("c", "User-agent: *\nCrawl-delay: 2\nRequest-rate: 1/7\n"),
        ("d", "User-agent: *\nDisallow: /p/\n"),   # no delay -> NULL
        ("e", ""),                                  # empty -> NULL
        ("f", None),                                # missing -> NULL
        ("g", "User-agent: bot\nCrawl-delay: 9\n"),  # other agent -> NULL for *
        # delay > window: budget clamps to 1, period carries the slowdown
        # (unclamped floor(60/3600)=0 starved the host forever)
        ("h", "User-agent: *\nCrawl-delay: 3600\n"),
        ("i", "User-agent: *\nCrawl-delay: 90\n"),
    ]
    df = spark.createDataFrame(rows, ["host", "rules"])
    got = {r["host"]: (r["crawl_delay"], r["delay_budget"], r["delay_period"])
           for r in crawl_delay_stage(df, window_s=60.0).collect()}
    assert got["a"] == (3.0, 20, 1)
    assert got["b"] == (5.0, 12, 1)
    assert got["c"] == (7.0, 8, 1)
    assert got["d"] == (None, None, None)
    assert got["e"] == (None, None, None)
    assert got["f"] == (None, None, None)
    assert got["g"] == (None, None, None)
    assert got["h"] == (3600.0, 1, 60)
    assert got["i"] == (90.0, 1, 2)


def test_crawl_delay_feeds_per_host_budget(spark):
    """End-to-end D1 integration: robots Crawl-delay -> delay_budget ->
    per-host frontier split. Expected counts hand-derived."""
    from crawl4ai_spark.operators.politeness import split_per_host_budget
    from crawl4ai_spark.operators.robots import crawl_delay_stage

    rules = spark.createDataFrame(
        [("slow.test", "User-agent: *\nCrawl-delay: 30\n"),   # 60/30 -> 2
         ("fast.test", "User-agent: *\nCrawl-delay: 10\n"),   # 60/10 -> 6
         ("free.test", "User-agent: *\nDisallow: /x/\n")],    # none -> NULL
        ["host", "rules"],
    )
    budgets = crawl_delay_stage(rules, window_s=60.0)
    frontier = spark.createDataFrame(
        [(h, f"https://{h}/p{i}", i)
         for h in ("slow.test", "fast.test", "free.test") for i in range(8)],
        ["host", "url", "seq"],
    )
    within, deferred = split_per_host_budget(
        frontier, budgets, order_cols=["seq"])
    w = {r["host"]: 0 for r in rules.collect()}
    for r in within.collect():
        w[r["host"]] += 1
    assert w == {"slow.test": 2, "fast.test": 6, "free.test": 8}
    # deferral keeps the LATER rows (order_cols order) and loses none
    d = deferred.collect()
    assert len(d) == 6 + 2
    assert all(r["seq"] >= 2 for r in d if r["host"] == "slow.test")
    assert within.count() + deferred.count() == 24
    # default budget caps the NULL-delay host when given
    w2, _ = split_per_host_budget(frontier, budgets, ["seq"], default_budget=3)
    assert w2.filter(F.col("host") == "free.test").count() == 3


def test_long_delay_period_schedule(spark):
    """A host whose Crawl-delay exceeds the superstep window crawls on
    exactly its eligible supersteps (superstep % period == hash phase) —
    one fetch per eligible window, never zero forever."""
    from crawl4ai_spark.operators.politeness import split_per_host_budget
    from crawl4ai_spark.operators.robots import crawl_delay_stage

    rules = spark.createDataFrame(
        [("glacial.test", "User-agent: *\nCrawl-delay: 150\n"),  # period 3
         ("quick.test", "User-agent: *\nCrawl-delay: 30\n")],    # period 1
        ["host", "rules"],
    )
    budgets = crawl_delay_stage(rules, window_s=60.0)
    frontier = spark.createDataFrame(
        [(h, f"https://{h}/p{i}", i)
         for h in ("glacial.test", "quick.test") for i in range(6)],
        ["host", "url", "seq"],
    )
    fetched = {"glacial.test": 0, "quick.test": 0}
    eligible_steps = []
    for step in range(6):
        within, _ = split_per_host_budget(
            frontier, budgets, order_cols=["seq"], superstep=step)
        counts = {h: 0 for h in fetched}
        for r in within.collect():
            counts[r["host"]] += 1
        fetched["glacial.test"] += counts["glacial.test"]
        fetched["quick.test"] += counts["quick.test"]
        if counts["glacial.test"]:
            eligible_steps.append(step)
        # quick.test (delay 30 s, window 60 s) fetches 2 every superstep
        assert counts["quick.test"] == 2
    # glacial: budget 1, period 3 -> exactly 2 eligible windows in 6 steps
    assert fetched["glacial.test"] == 2
    assert len(eligible_steps) == 2
    assert eligible_steps[1] - eligible_steps[0] == 3
