"""Politeness slots/budget/backoff invariants (async_dispatcher.py:30-87
semantics) and the URL-seen Bloom sidecar's sizing and exactness."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from crawl4ai_spark.operators.politeness import (
    apply_host_budget,
    makespan_metrics,
    salt_hot_hosts,
    split_per_host_budget,
    update_domain_state,
    with_host_slots,
)
from crawl4ai_spark.operators.seen import bloom_params


def _frontier(spark, n=60):
    def host(i):
        return ("hot.test", "a.test", "b.test")[i % 3] if i % 2 else "hot.test"

    rows = [(f"https://{host(i)}/p{i}", host(i), i) for i in range(n)]
    return spark.createDataFrame(rows, "url string, host string, seq long")


def test_slots_and_budget(spark):
    politeness = spark.createDataFrame(
        [("a.test", 2.0), ("b.test", 1.0), ("hot.test", 0.5)], "host string, delay_s double"
    )
    df = with_host_slots(_frontier(spark), politeness, order_cols=["seq"])
    rows = df.collect()
    # slot = rank * delay within host, rank follows seq order
    by_host = {}
    for r in sorted(rows, key=lambda r: r["seq"]):
        k = by_host.setdefault(r["host"], [])
        assert r["host_rank"] == len(k)
        k.append(r)
    for h, delay in [("a.test", 2.0), ("b.test", 1.0), ("hot.test", 0.5)]:
        for r in by_host[h]:
            assert r["send_at_s"] == pytest.approx(r["host_rank"] * delay)
    within, deferred = apply_host_budget(df, budget=5)
    w, d = within.count(), deferred.count()
    assert w + d == len(rows)
    assert within.groupBy("host").count().agg(F.max("count")).collect()[0][0] <= 5
    # makespan metric reflects the per-host straggler
    mk = {r["host"]: r["makespan_s"] for r in makespan_metrics(df).collect()}
    assert mk["hot.test"] == pytest.approx((len(by_host["hot.test"]) - 1) * 0.5)


def test_backoff_semantics():
    state = pd.DataFrame(columns=["host", "current_delay", "fail_count", "give_up"])
    results = pd.DataFrame(
        [
            {"seq": 0, "host": "a.test", "status_code": 200},
            {"seq": 1, "host": "a.test", "status_code": 429},
            {"seq": 2, "host": "a.test", "status_code": 429},
            {"seq": 3, "host": "b.test", "status_code": 200},
        ]
    )
    out = update_domain_state(state, results, seed=42, superstep=0)
    a = out[out.host == "a.test"].iloc[0]
    assert a.fail_count == 2 and not a.give_up
    assert 1.0 <= a.current_delay <= 60.0
    # four rate-limit hits in a row → give up (max_retries=3)
    results2 = pd.DataFrame(
        [{"seq": i, "host": "a.test", "status_code": 429} for i in range(4)]
    )
    out2 = update_domain_state(out, results2, seed=42, superstep=1)
    assert bool(out2[out2.host == "a.test"].iloc[0].give_up)
    # success resets fail_count and decays delay toward base
    results3 = pd.DataFrame([{"seq": 0, "host": "b.test", "status_code": 200}])
    out3 = update_domain_state(out2, results3, seed=42, superstep=2)
    b = out3[out3.host == "b.test"].iloc[0]
    assert b.fail_count == 0 and 1.0 <= b.current_delay <= 3.0
    # determinism: same inputs → same outputs
    again = update_domain_state(out2, results3, seed=42, superstep=2)
    pd.testing.assert_frame_equal(out3, again)


def test_salting_splits_hot_host(spark):
    df = _frontier(spark, n=90)
    salted = salt_hot_hosts(df, hot_hosts=["hot.test"], buckets=4)
    parts = {r["host_part"] for r in salted.collect()}
    hot_parts = {p for p in parts if p.startswith("hot.test#")}
    assert len(hot_parts) > 1  # hot host fans out
    assert "a.test" in parts and "b.test" in parts  # cold hosts untouched


def test_bloom_sizing_formula():
    m, k = bloom_params(1_000_000, 0.01)
    # crazy.py:112-120: n=1e6, p=0.01 → m ≈ 9.585e6 bits, k ≈ 7
    assert abs(m - 9_585_059) < 8
    assert k == 7


def test_salted_host_slots_distinct_and_spaced(spark):
    """D7: salted ranks stay distinct per host; non-hot hosts keep exact
    dense ranks; slots remain delay-multiples (never closer than delay)."""
    from crawl4ai_spark.operators.politeness import (
        with_host_slots,
        with_salted_host_slots,
    )

    rows = [(f"https://hot.test/p{i}", "hot.test", float(i)) for i in range(500)]
    rows += [(f"https://cold.test/p{i}", "cold.test", float(i)) for i in range(7)]
    df = spark.createDataFrame(rows, "url string, host string, score double")

    out = with_salted_host_slots(
        df, None, order_cols=["score", "url"], hot_hosts=["hot.test"],
        salt_buckets=8, default_delay=2.0,
    ).collect()

    by_host = {}
    for r in out:
        by_host.setdefault(r["host"], []).append(r)
    # distinct ranks per host
    hot_ranks = [r["host_rank"] for r in by_host["hot.test"]]
    assert len(set(hot_ranks)) == 500
    # every slot is a delay multiple of its rank (spacing >= delay by constr.)
    for r in out:
        assert r["send_at_s"] == r["host_rank"] * 2.0
    # non-hot host: exact dense 0..n-1 ranks, identical to unsalted path
    cold_ranks = sorted(r["host_rank"] for r in by_host["cold.test"])
    assert cold_ranks == list(range(7))
    plain = with_host_slots(
        df.filter("host = 'cold.test'"), None, order_cols=["score", "url"],
        default_delay=2.0,
    ).collect()
    want = {r["url"]: r["host_rank"] for r in plain}
    got = {r["url"]: r["host_rank"] for r in by_host["cold.test"]}
    assert got == want


def test_filter_stats_collection(spark):
    """P2 FilterStats analog (filters.py:19-37): candidate/passed/rejected
    counts logged per discovery when collect_filter_stats is on."""
    from crawl4ai_spark.functions.filters import FilterSpec
    from crawl4ai_spark.plans.frontier import CrawlConfig, deep_crawl
    from crawl4ai_spark.sources.synth import GraphParams, synth_tables, url_of

    p = GraphParams(n_pages=60, n_domains=4, mean_degree=5, seed=42)
    pages, links, _ = synth_tables(spark, p)
    cfg = CrawlConfig(
        strategy="bfs", max_depth=2, collect_filter_stats=True,
        filters=[FilterSpec(kind="pattern", patterns=["*.html", "*/docs/*"])],
        include_external=True,
    )
    run = deep_crawl(spark, [url_of(0, p)], pages, links, cfg)
    stats = [m["filter_stats"] for m in run.metrics if "filter_stats" in m]
    assert stats, "no filter stats logged"
    for s in stats:
        assert s["candidates"] == s["passed"] + s["rejected"]
        assert s["candidates"] >= 0 and s["passed"] >= 0
    assert any(s["rejected"] > 0 for s in stats) or all(
        s["candidates"] == 0 for s in stats
    )


def _exchanges(df) -> int:
    """Shuffle exchanges in ``df``'s executed (AQE final) plan; a reused
    exchange is not a second shuffle."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    return sum(1 for line in plan.splitlines()
               if "Exchange hashpartitioning" in line and "ReusedExchange" not in line)


def test_split_host_budget_salted_exact(spark):
    # the salted split must equal the unsalted split EXACTLY.  The input is
    # eagerly checkpointed, as the kernel splits it: a checkpoint reports
    # no partitioning, so each rank window shuffles once — one window
    # unsalted, and the salted survivors' re-rank per host adds one
    from crawl4ai_spark.operators.politeness import split_host_budget

    rows = [
        (f"https://h{i % 3}.test/p{i}", f"h{i % 3}.test", i % 4, i)
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, "url string, host string, depth int, seq long"
    ).localCheckpoint(eager=True)
    w0, d0 = split_host_budget(df, 7, ["depth", "seq"], part_col="host")
    salted = salt_hot_hosts(df, hot_hosts=["h0.test"], buckets=4)
    assert salted.filter(F.col("host_part") != F.col("host")).count() == 67
    w1, d1 = split_host_budget(salted, 7, ["depth", "seq"])
    assert (_exchanges(w0), _exchanges(w1)) == (1, 2)
    key = lambda x: sorted((r["url"], r["seq"]) for r in x.collect())
    assert key(w0) == key(w1)
    assert key(d0) == key(d1)
    # budget honored per host
    from collections import Counter
    c = Counter(r["host"] for r in w1.collect())
    assert max(c.values()) == 7
    # within = the (depth, seq)-first rows per host
    got_h0 = sorted(
        (r["depth"], r["seq"]) for r in w1.collect() if r["host"] == "h0.test"
    )
    all_h0 = sorted((d, s) for (_u, h, d, s) in rows if h == "h0.test")
    assert got_h0 == all_h0[:7]


def test_bloom_sidecar_incremental_exact(spark):
    from crawl4ai_spark.operators.seen import BloomSidecar

    bloom = BloomSidecar(spark, capacity=10_000, fp_rate=0.01, n_buckets=8)
    batch1 = spark.createDataFrame(
        [(f"https://a.test/p{i}",) for i in range(300)], "url string"
    )
    batch2 = spark.createDataFrame(
        [(f"https://b.test/q{i}",) for i in range(300)], "url string"
    )
    bloom.add(batch1)
    bloom.add(batch2)
    probe = spark.createDataFrame(
        [(f"https://a.test/p{i}",) for i in range(300)]
        + [(f"https://b.test/q{i}",) for i in range(300)]
        + [(f"https://c.test/r{i}",) for i in range(1000)],
        "url string",
    )
    flagged = {r["url"]: r["maybe_seen"] for r in bloom.prefilter(probe, "url").collect()}
    # NO false negatives — every added URL flags maybe_seen
    for i in range(300):
        assert flagged[f"https://a.test/p{i}"]
        assert flagged[f"https://b.test/q{i}"]
    # false-positive rate within ~5x of the design point
    fps = sum(flagged[f"https://c.test/r{i}"] for i in range(1000))
    assert fps < 50


def test_politeness_audit_cells(spark):
    from crawl4ai_spark.operators.politeness import politeness_audit

    log = spark.createDataFrame(
        [("a", 0)] * 3 + [("a", 1)] * 1 + [("b", 0)] * 5,
        "host string, superstep int")
    budgets = spark.createDataFrame([("a", 2)], "host string, budget int")
    got = {(r["host"], r["superstep"]): r
           for r in politeness_audit(log, budgets,
                                     default_budget=4).collect()}
    a0 = got[("a", 0)]
    assert (a0["n_fetches"], a0["budget"], a0["over_budget"]) == (3, 2, True)
    assert a0["utilization_bp"] == 15000
    a1 = got[("a", 1)]
    assert (a1["n_fetches"], a1["over_budget"]) == (1, False)
    b0 = got[("b", 0)]  # host absent from the dim -> default budget
    assert (b0["budget"], b0["over_budget"], b0["utilization_bp"]) == (
        4, True, 12500)


def test_drain_forecast_makespan(spark):
    from crawl4ai_spark.operators.politeness import drain_forecast

    frontier = spark.createDataFrame(
        [("a",)] * 10 + [("b",)] * 7 + [("c",)] * 2,
        "host string")
    budgets = spark.createDataFrame(
        [("a", 3), ("b", 1)], "host string, budget int")
    got = {r["host"]: r for r in drain_forecast(
        frontier, budgets, default_budget=2).collect()}
    assert (got["a"]["n_urls"], got["a"]["supersteps_to_drain"]) == (10, 4)
    assert (got["b"]["n_urls"], got["b"]["supersteps_to_drain"]) == (7, 7)
    assert (got["c"]["budget"], got["c"]["supersteps_to_drain"]) == (2, 1)
    assert [h for h, r in got.items() if r["is_critical"]] == ["b"]


def test_trap_report_signals(spark):
    from crawl4ai_spark.operators.traps import trap_report, url_trap_signals

    rows = [
        ("good.test", "https://good.test/articles/science"),
        ("good.test", "https://good.test/about"),
        ("good.test", "https://good.test"),                # no path at all
        ("loop.test", "https://loop.test/a/b/a/b/a/x"),    # seg repeat >= 3
        ("loop.test", "https://loop.test/a/b/a/y"),        # only 2 'a' -> ok
        ("cal.test", "https://cal.test/2024/11/03/post"),  # calendar
        ("sess.test", "https://sess.test/p?sid=123"),      # query param
        ("deep.test", "https://deep.test/a/b/c/d/e/f/g"),  # depth 7
    ]
    df = spark.createDataFrame(rows, "host string, url string")
    sig = {r["url"]: r for r in url_trap_signals(df).collect()}
    assert sig["https://good.test"]["depth"] == 0
    assert sig["https://loop.test/a/b/a/b/a/x"]["seg_repeat"]
    assert not sig["https://loop.test/a/b/a/y"]["seg_repeat"]
    assert sig["https://cal.test/2024/11/03/post"]["calendar_like"]
    assert sig["https://sess.test/p?sid=123"]["has_query"]
    assert sig["https://sess.test/p?sid=123"]["path"] == "/p"
    assert sig["https://deep.test/a/b/c/d/e/f/g"]["deep"]

    rep = {r["host"]: r for r in trap_report(df).collect()}
    assert not rep["good.test"]["is_trap"]
    assert rep["good.test"]["trap_score_bp"] == 0
    assert rep["loop.test"]["repeat_share_bp"] == 5000
    assert rep["loop.test"]["is_trap"]
    assert rep["cal.test"]["calendar_share_bp"] == 10000
    assert rep["sess.test"]["param_share_bp"] == 10000
    assert rep["deep.test"]["deep_share_bp"] == 10000
    assert all(r["trap_score_bp"] == max(
        r["param_share_bp"], r["repeat_share_bp"],
        r["calendar_share_bp"], r["deep_share_bp"]) for r in rep.values())


def test_ip_budget_split_exact_and_deterministic(spark):
    from crawl4ai_spark.operators.politeness import ip_budget_split

    hosts = spark.createDataFrame(
        [("a.test",), ("b.test",), ("c.test",), ("lone.test",)],
        "host string")
    dns = spark.createDataFrame(
        [("a.test", "1.1.1.1"), ("b.test", "1.1.1.1"),
         ("c.test", "1.1.1.1")], "host string, ip string")
    got = {r["host"]: r for r in
           ip_budget_split(hosts, dns, ip_budget=7).collect()}
    # 7 across 3 hosts: 2 each + 1 extra to the lexicographic first
    assert [got[h]["granted"] for h in ("a.test", "b.test", "c.test")] \
        == [3, 2, 2]
    assert got["a.test"]["n_hosts_on_ip"] == 3
    assert sum(got[h]["granted"] for h in
               ("a.test", "b.test", "c.test")) == 7
    # unmapped host keys on itself and takes the whole default budget
    assert got["lone.test"]["ip"] == "lone.test"
    assert got["lone.test"]["granted"] == 7
    assert not any(r["starved"] for r in got.values())


def test_ip_budget_split_starvation_and_per_ip_budgets(spark):
    from crawl4ai_spark.operators.politeness import ip_budget_split

    hosts = spark.createDataFrame(
        [(f"h{i}.test",) for i in range(5)], "host string")
    dns = spark.createDataFrame(
        [(f"h{i}.test", "2.2.2.2") for i in range(5)],
        "host string, ip string")
    budgets = spark.createDataFrame(
        [("2.2.2.2", 3)], "ip string, budget long")
    got = {r["host"]: r for r in
           ip_budget_split(hosts, dns, ip_budget=99,
                           budgets=budgets).collect()}
    # 3 across 5 hosts: first 3 lexicographic get 1, the rest starve
    grants = [got[f"h{i}.test"]["granted"] for i in range(5)]
    assert grants == [1, 1, 1, 0, 0]
    assert [got[f"h{i}.test"]["starved"] for i in range(5)] \
        == [False, False, False, True, True]
    assert all(r["ip_budget"] == 3 for r in got.values())


def test_age_priorities_and_report(spark):
    from crawl4ai_spark.operators.aging import (
        age_priorities, starvation_report)

    fr = spark.createDataFrame(
        [("h1", "u_new", 5, 10),    # age 0
         ("h1", "u_mid", 5, 6),     # age 4 → aged 5-8=-3
         ("h1", "u_old", 50, 0),    # age 10 → aged 30, starved
         ("h2", "v", 1, 10)],
        "host string, url string, priority long, enq_superstep long")
    aged = age_priorities(fr, current_superstep=10, boost_per_step=2,
                          starve_after=10)
    got = {r["url"]: r for r in aged.collect()}
    assert got["u_new"]["age"] == 0 and got["u_new"]["aged_priority"] == 5
    assert got["u_mid"]["aged_priority"] == -3
    assert got["u_old"]["aged_priority"] == 30
    assert got["u_old"]["starved"] is True
    assert got["u_mid"]["starved"] is False
    # rank within host by aged priority: mid < new < old
    assert [got[u]["host_rank"] for u in ("u_mid", "u_new", "u_old")] \
        == [1, 2, 3]
    assert got["v"]["host_rank"] == 1
    rep = {r["host"]: r for r in starvation_report(aged).collect()}
    assert rep["h1"]["n_urls"] == 3 and rep["h1"]["n_starved"] == 1
    assert rep["h1"]["max_age"] == 10
    assert rep["h1"]["starved_bp"] == 3333
    assert rep["h2"]["starved_bp"] == 0


def test_age_priorities_clamps_future_enqueues(spark):
    from crawl4ai_spark.operators.aging import age_priorities

    fr = spark.createDataFrame(
        [("h", "u", 7, 99)],
        "host string, url string, priority long, enq_superstep long")
    r = age_priorities(fr, current_superstep=10).collect()[0]
    assert r["age"] == 0 and r["aged_priority"] == 7


def test_ip_budget_split_multi_a_record_host_keys_once(spark):
    from crawl4ai_spark.operators.politeness import ip_budget_split

    hosts = spark.createDataFrame([("multi.test",), ("other.test",)],
                                  "host string")
    dns = spark.createDataFrame(
        [("multi.test", "2.2.2.2"), ("multi.test", "1.1.1.1"),
         ("other.test", "1.1.1.1")], "host string, ip string")
    rows = ip_budget_split(hosts, dns, ip_budget=4).collect()
    got = {r["host"]: r for r in rows}
    # exactly one row per host; the deterministic primary ip is min(ip)
    assert len(rows) == 2
    assert got["multi.test"]["ip"] == "1.1.1.1"
    # both hosts share 1.1.1.1 → budget 4 split 2/2
    assert got["multi.test"]["n_hosts_on_ip"] == 2
    assert got["multi.test"]["granted"] == 2
    assert got["other.test"]["granted"] == 2


def test_ip_budget_split_duplicate_budget_rows_key_once(spark):
    from crawl4ai_spark.operators.politeness import ip_budget_split

    hosts = spark.createDataFrame([("a.test",), ("b.test",)], "host string")
    dns = spark.createDataFrame(
        [("a.test", "1.1.1.1"), ("b.test", "1.1.1.1")], "host string, ip string")
    # duplicate, conflicting budget rows for one ip
    budgets = spark.createDataFrame(
        [("1.1.1.1", 6), ("1.1.1.1", 2)], "ip string, budget long")
    rows = ip_budget_split(hosts, dns, ip_budget=99, budgets=budgets).collect()
    # one row per host, the ip's two hosts, and the conservative budget
    assert sorted(r["host"] for r in rows) == ["a.test", "b.test"]
    assert all(r["n_hosts_on_ip"] == 2 and r["ip_budget"] == 2 for r in rows)
    assert sum(r["granted"] for r in rows) == 2


def _conflicting_delay_dim(spark):
    return spark.createDataFrame(
        [("a.test", 1.0), ("a.test", 3.0), ("b.test", 2.0)],
        "host string, delay_s double")


def test_host_slots_conflicting_delay_rows_take_max(spark):
    df = spark.createDataFrame(
        [(f"https://a.test/p{i}", "a.test", i) for i in range(4)],
        "url string, host string, seq long")
    out = with_host_slots(df, _conflicting_delay_dim(spark),
                          order_cols=["seq"]).collect()
    assert len(out) == 4
    assert sorted(r["send_at_s"] for r in out) == [0.0, 3.0, 6.0, 9.0]


def test_salted_host_slots_conflicting_delay_rows_take_max(spark):
    from crawl4ai_spark.operators.politeness import with_salted_host_slots

    df = spark.createDataFrame(
        [(f"https://a.test/p{i}", "a.test", i) for i in range(40)],
        "url string, host string, seq long")
    out = with_salted_host_slots(
        df, _conflicting_delay_dim(spark), order_cols=["seq"],
        hot_hosts=["a.test"], salt_buckets=4).collect()
    assert len(out) == 40
    assert all(r["send_at_s"] == r["host_rank"] * 3.0 for r in out)
    assert any(r["host_rank"] > 0 for r in out)


def test_per_host_budget_conflicting_rows_merge_fail_safe(spark):
    """Conflicting budget-dim rows for one host merge to the smallest
    budget (a NULL budget counts as the default) and the longest period,
    never to whichever row a de-duplication happens to keep."""
    df = spark.createDataFrame(
        [(f"https://{h}/p{i}", h, i) for h in ("a.test", "b.test")
         for i in range(6)],
        "url string, host string, seq long")
    budgets = spark.createDataFrame(
        pd.DataFrame({"host": ["a.test", "a.test", "b.test", "b.test"],
                      "delay_budget": [5, 1, 4, None],
                      "delay_period": [1, 3, None, None]}),
        "host string, delay_budget int, delay_period int")
    within, deferred = split_per_host_budget(
        df, budgets, ["seq"], default_budget=2)
    got = sorted((r["host"], r["seq"]) for r in within.collect())
    assert got == [("a.test", 0), ("b.test", 0), ("b.test", 1)]
    assert deferred.count() == 12 - 3
    # period 3 (the longer one): a.test fetches on one superstep in three
    steps = [
        step for step in range(6)
        if split_per_host_budget(df, budgets, ["seq"], default_budget=2,
                                 superstep=step)[0]
        .filter(F.col("host") == "a.test").count()
    ]
    assert len(steps) == 2 and steps[1] - steps[0] == 3


def test_age_priorities_breaks_starvation_in_pop_loop(spark):
    """The documented composition: substitute aged_priority for priority
    in an ascending pop and a stale URL pops within bounded supersteps,
    while the unaged pop starves it forever (a fresh better-scored URL
    arrives every superstep)."""
    from pyspark.sql import functions as F

    from crawl4ai_spark.operators.aging import age_priorities

    def simulate(aged: bool, supersteps: int = 30) -> int | None:
        # queue rows: (url, priority, enq); the victim has priority 50,
        # enqueued at 0; each superstep adds one fresh priority-10 url
        rows = [("victim", 50, 0)]
        for step in range(supersteps):
            rows.append((f"fresh{step}", 10, step))
            q = spark.createDataFrame(
                rows, "url string, priority long, enq_superstep long"
            ).withColumn("host", F.lit("h"))
            if aged:
                ranked = age_priorities(q, current_superstep=step,
                                        boost_per_step=3)
                key = "aged_priority"
            else:
                ranked = q.withColumn("aged_priority", F.col("priority"))
                key = "aged_priority"
            # pop exactly ONE url per superstep (budget 1)
            top = ranked.orderBy(F.col(key), "url").limit(1).collect()[0]
            if top["url"] == "victim":
                return step
            rows = [r for r in rows if r[0] != top["url"]]
        return None

    assert simulate(aged=False) is None          # starves forever
    popped_at = simulate(aged=True)
    # priority gap 40, boost 3/superstep → pops as soon as
    # 50 - 3*age < 10, age > 13.33 → superstep 14
    assert popped_at == 14


def test_trap_signals_query_before_any_slash(spark):
    from crawl4ai_spark.operators.traps import url_trap_signals

    fr = spark.createDataFrame(
        [("https://h.test?next=/login/2024/11",),   # query, NO path
         ("https://h.test/a/b?x=1",),               # path then query
         ("https://h.test?sid=123",)],              # root session mint
        "url string")
    got = {r["url"]: r for r in url_trap_signals(fr).collect()}
    r0 = got["https://h.test?next=/login/2024/11"]
    assert r0["has_query"] is True
    assert r0["path"] == "/" and r0["depth"] == 0
    assert r0["calendar_like"] is False  # query text is not a path
    r1 = got["https://h.test/a/b?x=1"]
    assert r1["has_query"] is True and r1["path"] == "/a/b"
    assert got["https://h.test?sid=123"]["has_query"] is True


def test_trap_report_oracle_matches_operator_on_query_slashes(spark):
    """The trap_report DuckDB oracle parses paths like url_trap_signals: a
    '/' inside the query is not a path start, and the host part starts
    after the LAST '://'."""
    import duckdb

    from __spark_entry__ import _TRAP_REPORT_SQL
    from crawl4ai_spark.operators.traps import trap_report

    urls = [
        "https://h.test?next=/login/2024/11",
        "https://h.test?next=/a/b/a/b/a/b",
        "https://h.test/a/b?x=/1/2/3/4/5/6",
        "https://h.test?sid=123",
        "https://h.test",
        "https://h.test/2024/11/post",
        "https://h.test/p?r=https://o.test/2024/11/x",
    ]
    # host := url, so every URL is its own report row
    rows = [(u, u) for u in urls]
    want = sorted(
        tuple(r) for r in trap_report(
            spark.createDataFrame(rows, "host string, url string")).collect())
    values = ", ".join(f"('{h}', '{u}')" for h, u in rows)
    con = duckdb.connect()
    got = sorted(con.sql(
        f"WITH u AS (SELECT * FROM (VALUES {values}) t(host, url)),"
        + _TRAP_REPORT_SQL).fetchall())
    assert got == want
