"""Engine ⇄ oracle parity for the SCHEDULED superstep features of the BFS
level policy: politeness budget (D1 deferral), 429/503 backoff with
retry requeue (D2), robots gating under budget, and hot-host salting
(execution-only).

The oracle twin is crawl_bfs_scheduled (oracle/crawler.py) — the documented
batch translation of async_dispatcher.py:30-87 — so "parity" here means the
engine reproduces the defined schedule exactly: same (superstep, seq)
result stream, same URL-seen set, same attempt counts."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from crawl4ai_spark.oracle.crawler import (
    OracleGraph,
    ScheduleSpec,
    crawl_bfs_scheduled,
)
from crawl4ai_spark.plans.frontier import CrawlConfig, CrawlEngine, deep_crawl
from crawl4ai_spark.sources.synth import (
    GraphParams,
    gen_robots,
    synth_local,
    url_of,
)

PARAMS = GraphParams(n_pages=80, n_domains=4, mean_degree=6, fail_rate=0.25,
                     seed=42)


@pytest.fixture(scope="module")
def world(spark):
    pages, links, _ = synth_local(PARAMS)
    graph = OracleGraph.from_frames(pages, links)
    pages_df = spark.createDataFrame(pages).cache()
    links_df = spark.createDataFrame(links).cache()
    return graph, pages_df, links_df


def _engine_rows(run):
    return [
        (r["superstep"], r["seq"], r["url"], r["depth"], r["parent"],
         r["success"], r["status_code"], r["attempt"])
        for r in run.results.collect()
    ]


def _oracle_rows(results):
    return [
        (r["superstep"], r["seq"], r["url"], r["depth"], r["parent"],
         r["success"], r["status_code"], r["attempt"])
        for r in results
    ]


def _check(spark, world, spec, cfg, robots_pdf=None, politeness=None):
    graph, pages_df, links_df = world
    seeds = [url_of(0, PARAMS)]
    want, want_seen = crawl_bfs_scheduled(graph, seeds, spec,
                                          robots_pdf=robots_pdf)
    run = CrawlEngine(spark, pages_df, links_df, cfg, robots_pdf=robots_pdf,
                      politeness=politeness).run(seeds)
    got = _engine_rows(run)
    assert got == _oracle_rows(want)
    assert {r["url"] for r in run.seen.collect()} == want_seen
    assert run.pages_crawled == sum(1 for r in want if r["success"])
    return want, run


def test_budget_defers_and_matches(spark, world):
    spec = ScheduleSpec(strategy="bfs", max_depth=2, politeness_budget=3)
    cfg = CrawlConfig(strategy="bfs", max_depth=2, politeness_budget=3)
    want, run = _check(spark, world, spec, cfg)
    # the budget must actually alter superstep membership: more supersteps
    # than depth levels, and some superstep hosts capped at exactly 3
    n_steps = len({r["superstep"] for r in want})
    assert n_steps > 3, "budget never deferred anything — probe is vacuous"
    per = {}
    for r in want:
        per[(r["superstep"], r["host"])] = per.get((r["superstep"], r["host"]), 0) + 1
    assert max(per.values()) == 3
    assert any(m.get("deferred", 0) > 0 for m in run.metrics)


def test_backoff_retries_and_matches(spark, world):
    spec = ScheduleSpec(strategy="bfs", max_depth=2, backoff=True)
    cfg = CrawlConfig(strategy="bfs", max_depth=2, backoff=True)
    want, _run = _check(spark, world, spec, cfg)
    # the synth graph's 429/503 minority must drive real retries
    attempts = [r for r in want if r["attempt"] > 0]
    assert attempts, "no retries happened — backoff probe is vacuous"
    # every retried URL repeats with incremented attempt in a LATER superstep
    by_url = {}
    for r in want:
        by_url.setdefault(r["url"], []).append(r)
    for r in attempts:
        hist = [x for x in by_url[r["url"]] if x["attempt"] < r["attempt"]]
        assert hist and all(x["superstep"] < r["superstep"] for x in hist)


def test_budget_backoff_robots_combined(spark, world):
    """Budget, backoff and robots in one crawl.  The engine is also given
    a ``politeness`` dim whose every column raises when evaluated: no
    superstep reads it, because politeness is the D1 budget split alone
    and the kernel computes no per-host send slots."""
    robots = gen_robots(PARAMS)
    # make the seed's own (hot) domain disallow /dl/ so the gate provably
    # fires inside the crawl radius
    robots.loc[robots.host == "ex0.test", "rules"] = (
        "User-agent: *\nDisallow: /dl/\n"
    )
    spec = ScheduleSpec(strategy="bfs", max_depth=2, politeness_budget=2,
                        backoff=True, max_pages=60, include_external=True)
    cfg = CrawlConfig(strategy="bfs", max_depth=2, politeness_budget=2,
                      backoff=True, max_pages=60, include_external=True,
                      check_robots_txt=True)
    boom = F.raise_error(F.lit("politeness dim evaluated"))
    dim = spark.range(4).select(boom.cast("string").alias("host"),
                                boom.cast("double").alias("delay_s"))
    want, _run = _check(spark, world, spec, cfg, robots_pdf=robots,
                        politeness=dim)
    assert any(r["status_code"] == 403 for r in want)  # robots actually gated


def test_salting_keeps_parity(spark, world):
    # force the hot-host path: every host with >2 frontier rows is "hot"
    spec = ScheduleSpec(strategy="bfs", max_depth=2, politeness_budget=3)
    cfg = CrawlConfig(strategy="bfs", max_depth=2, politeness_budget=3,
                      hot_host_rows=2, salt_buckets=4)
    _check(spark, world, spec, cfg)


def test_budget_preserves_plain_coverage(spark, world):
    """Budget deferral changes timing, never coverage: the URL-seen set and
    the set of (url, depth, success) results equal the unbudgeted crawl's —
    the reference invariant (sleeping doesn't change what gets crawled).
    Duplicate-fetch MULTIPLICITY may only shrink: a URL two same-level
    parents both enqueue is fetched twice in plain BFS (bfs_strategy.py:174
    quirk) but once under deferral, because the first fetch lands in `seen`
    before the split level's later superstep discovers it again."""
    graph, _p, _l = world
    seeds = [url_of(0, PARAMS)]
    plain, plain_seen = crawl_bfs_scheduled(
        graph, seeds, ScheduleSpec(strategy="bfs", max_depth=2))
    budgeted, b_seen = crawl_bfs_scheduled(
        graph, seeds, ScheduleSpec(strategy="bfs", max_depth=2,
                                   politeness_budget=2))
    key = lambda rows: {(r["url"], r["depth"], r["success"]) for r in rows}
    assert key(plain) == key(budgeted)
    assert plain_seen == b_seen
    assert len(budgeted) <= len(plain)


def test_domain_state_fold_df_matches_driver(spark):
    """The DataFrame-resident fold (no driver round-trip, VERDICT r2 #2)
    equals two sequential driver folds: touched hosts advance, untouched
    hosts pass through, first-seen hosts fold from the empty prior."""
    from crawl4ai_spark.operators.politeness import (
        empty_domain_state,
        empty_domain_state_df,
        fold_domain_state_df,
        update_domain_state,
    )

    step1 = pd.DataFrame(
        [("a.test", 0, 429), ("a.test", 1, 503), ("b.test", 2, 200)],
        columns=["host", "seq", "status_code"],
    )
    step2 = pd.DataFrame(  # a.test untouched; c.test first seen
        [("b.test", 3, 503), ("c.test", 4, 200)],
        columns=["host", "seq", "status_code"],
    )
    want = update_domain_state(empty_domain_state(), step1, seed=7, superstep=0)
    want = update_domain_state(want, step2, seed=7, superstep=1)

    state = empty_domain_state_df(spark)
    state = fold_domain_state_df(
        state, spark.createDataFrame(step1), seed=7, superstep=0
    ).localCheckpoint(eager=False)
    state = fold_domain_state_df(
        state, spark.createDataFrame(step2), seed=7, superstep=1
    )
    got = state.toPandas().sort_values("host").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want.reset_index(drop=True),
                                  check_dtype=False)


def test_domain_state_fold_df_scales_off_driver(spark):
    """10^5 hosts through the cogroup fold: the state stays a DataFrame end
    to end (nothing host-shaped crosses the driver inside the fold), and a
    sampled slice matches the sequential reference fold exactly."""
    from crawl4ai_spark.operators.politeness import (
        empty_domain_state,
        empty_domain_state_df,
        fold_domain_state_df,
        update_domain_state,
    )
    from pyspark.sql import functions as F

    n = 100_000
    res = spark.range(n).select(
        F.concat(F.lit("h"), F.col("id").cast("string"), F.lit(".test")).alias("host"),
        F.col("id").alias("seq"),
        F.when(F.col("id") % 5 == 0, 429).otherwise(200).alias("status_code"),
    )
    out = fold_domain_state_df(empty_domain_state_df(spark), res,
                               seed=11, superstep=0)
    assert out.count() == n
    sample_hosts = [f"h{i}.test" for i in (0, 1, 5, 99_999, 12_345)]
    got = (
        out.filter(F.col("host").isin(sample_hosts))
        .toPandas().sort_values("host").reset_index(drop=True)
    )
    res_pdf = pd.DataFrame(
        [(h, i, 429 if int(h[1:-5]) % 5 == 0 else 200)
         for i, h in enumerate(sorted(sample_hosts))],
        columns=["host", "seq", "status_code"],
    )
    want = update_domain_state(empty_domain_state(), res_pdf, seed=11,
                               superstep=0).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


# ------------------------- best-first scheduled parity (D1/D2 for BF) ----


def _bff_check(spark, world, spec, cfg, robots_pdf=None):
    from crawl4ai_spark.oracle.crawler import crawl_best_first_scheduled

    graph, pages_df, links_df = world
    seeds = [url_of(0, PARAMS)]
    want, want_seen = crawl_best_first_scheduled(graph, seeds, spec,
                                                robots_pdf=robots_pdf)
    run = deep_crawl(spark, seeds, pages_df, links_df, cfg,
                     robots_pdf=robots_pdf)
    got = [
        (r["superstep"], r["seq"], r["url"], r["depth"], r["parent"],
         round(r["score"], 8), r["success"], r["status_code"], r["attempt"])
        for r in run.results.collect()
    ]
    wanted = [
        (r["superstep"], r["seq"], r["url"], r["depth"], r["parent"],
         round(r["score"], 8), r["success"], r["status_code"], r["attempt"])
        for r in want
    ]
    assert got == wanted
    assert {r["url"] for r in run.seen.collect()} == want_seen
    return want, run


def test_bff_scheduled_plain_matches_heap_oracle(spark, world):
    # budget/backoff off: the scheduled twin must agree with the original
    # heap oracle (crawl_best_first) AND the engine
    from crawl4ai_spark.functions.scorers import ScorerSpec
    from crawl4ai_spark.oracle.crawler import (
        CrawlSpec,
        crawl,
        crawl_best_first_scheduled,
    )

    graph, _p, _l = world
    seeds = [url_of(0, PARAMS)]
    scorer = ScorerSpec(kind="keyword", keywords=["blog", "docs"], weight=1.0)
    plain, plain_seen = crawl(
        graph, seeds[0],
        CrawlSpec(strategy="best_first", max_depth=2, max_pages=15,
                  scorer=scorer))
    sched, sched_seen = crawl_best_first_scheduled(
        graph, seeds,
        ScheduleSpec(strategy="best_first", max_depth=2, max_pages=15,
                     scorer=scorer))
    assert [(r.url, r.depth, r.parent, r.success) for r in plain] == [
        (r["url"], r["depth"], r["parent"], r["success"]) for r in sched
    ]
    assert plain_seen == sched_seen


def test_bff_budget_defers_and_matches(spark, world):
    from crawl4ai_spark.functions.scorers import ScorerSpec

    scorer = ScorerSpec(kind="keyword", keywords=["blog", "docs"], weight=1.0)
    spec = ScheduleSpec(strategy="best_first", max_depth=2, max_pages=25,
                        batch_size=12, politeness_budget=2, scorer=scorer)
    cfg = CrawlConfig(strategy="best_first", max_depth=2, max_pages=25,
                      batch_size=12, politeness_budget=2, scorer=scorer)
    want, _run = _bff_check(spark, world, spec, cfg)
    per = {}
    for r in want:
        per[(r["superstep"], r["host"])] = per.get((r["superstep"], r["host"]), 0) + 1
    assert max(per.values()) == 2, "budget never constrained a host"


def test_bff_backoff_retries_and_matches(spark, world):
    spec = ScheduleSpec(strategy="best_first", max_depth=2, max_pages=40,
                        batch_size=15, backoff=True)
    cfg = CrawlConfig(strategy="best_first", max_depth=2, max_pages=40,
                      batch_size=15, backoff=True)
    want, _run = _bff_check(spark, world, spec, cfg)
    assert any(r["attempt"] > 0 for r in want), "no retries — probe vacuous"
