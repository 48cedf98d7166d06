"""Engine ⇄ oracle parity (FIXTURES.md §6, north_rule core check):

same seed list + config ⇒ identical URL-seen set and crawl ordering.
The oracle executes the reference algorithms verbatim
(bfs_strategy.py:141-187, dfs_strategy.py:15-62, bff_strategy.py:127-199);
the Spark engine must reproduce result sequences (url, depth, parent)
exactly and, for best-first, the popped scores too."""

import itertools

import pytest

from crawl4ai_spark.functions.filters import FilterSpec
from crawl4ai_spark.functions.scorers import ScorerSpec
from crawl4ai_spark.oracle.crawler import CrawlSpec, OracleGraph, crawl
from crawl4ai_spark.plans.frontier import CrawlConfig, deep_crawl
from crawl4ai_spark.sources.synth import GraphParams, synth_local, url_of

PARAMS = GraphParams(n_pages=60, n_domains=4, mean_degree=5, seed=42)


@pytest.fixture(scope="module")
def graph_frames():
    pages, links, _ = synth_local(PARAMS)
    return pages, links


@pytest.fixture(scope="module")
def oracle_graph(graph_frames):
    pages, links = graph_frames
    return OracleGraph.from_frames(pages, links)


@pytest.fixture(scope="module")
def spark_tables(spark, graph_frames):
    pages, links = graph_frames
    pages_df = spark.createDataFrame(pages)
    links_df = spark.createDataFrame(links)
    return pages_df.cache(), links_df.cache()


SCORER = ScorerSpec(
    kind="composite",
    children=[
        ScorerSpec(kind="keyword", keywords=["blog", "docs"], weight=1.0),
        ScorerSpec(kind="path_depth", optimal_depth=3, weight=0.7),
        ScorerSpec(kind="freshness", current_year=2024, weight=0.9),
    ],
    normalize=True,
)

CASES = [
    ("bfs_plain", CrawlSpec(strategy="bfs", max_depth=2),
     CrawlConfig(strategy="bfs", max_depth=2)),
    ("bfs_capped_scored",
     CrawlSpec(strategy="bfs", max_depth=3, max_pages=18, scorer=SCORER),
     CrawlConfig(strategy="bfs", max_depth=3, max_pages=18, scorer=SCORER)),
    ("bfs_filtered",
     CrawlSpec(strategy="bfs", max_depth=2, include_external=True,
               filters=[FilterSpec(kind="pattern", patterns=["*.html", "*/docs/*"])]),
     CrawlConfig(strategy="bfs", max_depth=2, include_external=True,
                 filters=[FilterSpec(kind="pattern", patterns=["*.html", "*/docs/*"])])),
    ("bff_plain",
     CrawlSpec(strategy="best_first", max_depth=2, max_pages=15, scorer=SCORER),
     CrawlConfig(strategy="best_first", max_depth=2, max_pages=15, scorer=SCORER)),
    ("dfs_plain",
     CrawlSpec(strategy="dfs", max_depth=2, max_pages=8),
     CrawlConfig(strategy="dfs", max_depth=2, max_pages=8)),
]


@pytest.mark.parametrize("name,spec,config", CASES, ids=[c[0] for c in CASES])
def test_parity(spark, spark_tables, oracle_graph, name, spec, config):
    pages_df, links_df = spark_tables
    seeds = [url_of(0, PARAMS)]
    oracle_results, oracle_seen = crawl(oracle_graph, seeds[0], spec)
    run = deep_crawl(spark, seeds, pages_df, links_df, config)

    engine_rows = run.results.collect()
    engine_seen = {r["url"] for r in run.seen.collect()}

    assert engine_seen == oracle_seen, f"{name}: URL-seen set mismatch"

    got = [(r["url"], r["depth"], r["parent"]) for r in engine_rows]
    want = [(r.url, r.depth, r.parent) for r in oracle_results]
    assert got == want, f"{name}: crawl order mismatch\n got={got}\nwant={want}"

    if spec.strategy == "best_first":
        got_scores = [round(r["score"], 8) for r in engine_rows]
        want_scores = [round(r.score, 8) for r in oracle_results]
        assert got_scores == pytest.approx(want_scores, abs=1e-6)

    got_success = [r["success"] for r in engine_rows]
    want_success = [r.success for r in oracle_results]
    assert got_success == want_success, f"{name}: success flags mismatch"

    assert run.pages_crawled == sum(1 for r in oracle_results if r.success)


@pytest.mark.parametrize("batch_size,max_pages", [(4, 150), (8, 25)])
def test_dfs_batched_parity(spark, spark_tables, oracle_graph,
                            batch_size, max_pages):
    """Batched DFS engine == its sequential twin exactly: same result
    sequence (seq, url, depth, parent, superstep) and URL-seen set."""
    from crawl4ai_spark.oracle.crawler import crawl_dfs_batched

    pages_df, links_df = spark_tables
    spec = CrawlSpec(strategy="dfs_batched", max_depth=2,
                     max_pages=max_pages, batch_size=batch_size,
                     scorer=SCORER)
    want, want_seen = crawl_dfs_batched(
        oracle_graph, url_of(0, PARAMS), spec)
    cfg = CrawlConfig(strategy="dfs_batched", max_depth=2,
                      max_pages=max_pages, batch_size=batch_size,
                      scorer=SCORER)
    run = deep_crawl(spark, [url_of(0, PARAMS)], pages_df, links_df, cfg)
    got = sorted(run.results.collect(), key=lambda r: r["seq"])
    assert [(r["seq"], r["url"], r["depth"], r["parent"], r["superstep"])
            for r in got] == [
        (w["seq"], w["url"], w["depth"], w["parent"], w["superstep"])
        for w in want]
    for r, w in zip(got, want):
        assert r["success"] == w["success"]
        assert abs(r["score"] - w["score"]) < 1e-9
    assert {r["url"] for r in run.seen.collect()} == want_seen


def test_dfs_batched_batch1_equals_dfs(spark, spark_tables, oracle_graph):
    """batch_size=1 batched DFS visits the same URL set as strict DFS and
    in strict-DFS order (each superstep pops exactly the stack top) —
    here, where max_pages never binds: strict DFS keeps draining its stack
    once the budget is reached, the batched twin stops (see
    test_strict_dfs_drains_past_budget)."""
    from crawl4ai_spark.oracle.crawler import crawl, crawl_dfs_batched

    spec1 = CrawlSpec(strategy="dfs", max_depth=2, max_pages=20)
    strict, strict_seen = crawl(oracle_graph, url_of(0, PARAMS), spec1)
    specb = CrawlSpec(strategy="dfs_batched", max_depth=2, max_pages=20,
                      batch_size=1)
    batched, batched_seen = crawl_dfs_batched(
        oracle_graph, url_of(0, PARAMS), specb)
    assert [r.url for r in strict] == [w["url"] for w in batched]
    assert strict_seen == batched_seen


def test_strict_dfs_drains_past_budget(spark):
    """Strict DFS stops discovering at max_pages but keeps fetching what is
    already on its stack (dfs_strategy.py:15-62); batched DFS stops popping.
    On this graph the two differ even at batch_size=1."""
    from crawl4ai_spark.oracle.crawler import crawl_dfs, crawl_dfs_batched

    params = GraphParams(n_pages=60, n_domains=4, mean_degree=5, seed=1)
    pages, links, _ = synth_local(params)
    graph = OracleGraph.from_frames(pages, links)
    seed = url_of(0, params)
    spec = CrawlSpec(strategy="dfs", max_depth=2, max_pages=3)
    want, want_seen = crawl_dfs(graph, seed, spec)
    batched, _ = crawl_dfs_batched(
        graph, seed, CrawlSpec(strategy="dfs_batched", max_depth=2,
                               max_pages=3, batch_size=1))
    assert (len(want), sum(r.success for r in want), len(batched)) == (4, 4, 3)

    run = deep_crawl(spark, [seed], spark.createDataFrame(pages),
                     spark.createDataFrame(links),
                     CrawlConfig(strategy="dfs", max_depth=2, max_pages=3))
    assert [(r["url"], r["depth"], r["parent"], r["success"])
            for r in run.results.collect()] == [
        (r.url, r.depth, r.parent, r.success) for r in want]
    assert {r["url"] for r in run.seen.collect()} == want_seen
    assert run.pages_crawled == 4


@pytest.mark.parametrize("kw", [
    dict(strategy="bfs_typo"),
    dict(strategy="best_first", batch_size=0),
    dict(max_depth=-1),
    dict(max_retries=-1),
    dict(superstep_window_s=0.0),
    dict(salt_buckets=0),
    dict(politeness_budget=0),
    dict(strategy="dfs", politeness_budget=3),
    dict(strategy="dfs_batched", backoff=True),
], ids=lambda kw: "-".join(f"{k}={v}" for k, v in kw.items()))
def test_config_rejects_invalid(kw):
    with pytest.raises(ValueError):
        CrawlConfig(**kw)


METRIC_KEYS = {
    "superstep", "popped", "eligible", "deferred", "waiting", "successes",
    "pages_crawled", "frontier_out", "hot_hosts", "wall_ms", "phase_ms",
    "codegen_compiles",
}


def test_every_strategy_logs_one_metrics_schema(spark, spark_tables):
    """One record per superstep; with ``collect_filter_stats`` the filter
    counts ride in that record (zeros where nothing was discovered)."""
    pages_df, links_df = spark_tables
    for strategy, filter_stats in itertools.product(
            ("bfs", "best_first", "dfs", "dfs_batched"), (False, True)):
        keys = METRIC_KEYS | ({"filter_stats"} if filter_stats else set())
        cfg = CrawlConfig(strategy=strategy, max_depth=1, max_pages=4,
                          batch_size=3, collect_filter_stats=filter_stats)
        run = deep_crawl(spark, [url_of(0, PARAMS)], pages_df, links_df, cfg)
        assert run.metrics, strategy
        assert [m["superstep"] for m in run.metrics] == list(
            range(len(run.metrics))), strategy
        for m in run.metrics:
            assert set(m) == keys, (strategy, sorted(m))
            assert set(m["phase_ms"]) == {
                "split", "fetch", "discover", "results_wait"}, strategy
        if filter_stats:
            stats = [m["filter_stats"] for m in run.metrics]
            assert stats[0]["candidates"] > 0, strategy
            assert all(s["candidates"] == s["passed"] + s["rejected"]
                       for s in stats), strategy


def test_best_first_capacity_runs_no_python_cumsum(
        spark, spark_tables, oracle_graph, monkeypatch):
    """Best-first's per-success remaining capacity is each success's rank
    in seq order, a JVM global rank: the Arrow cumsum is never called."""
    import crawl4ai_spark.plans.frontier as frontier

    def boom(*a, **k):
        raise AssertionError("with_global_cumsum called")

    monkeypatch.setattr(frontier, "with_global_cumsum", boom)
    pages_df, links_df = spark_tables
    _, spec, config = next(c for c in CASES if c[0] == "bff_plain")
    want, want_seen = crawl(oracle_graph, url_of(0, PARAMS), spec)
    run = deep_crawl(spark, [url_of(0, PARAMS)], pages_df, links_df, config)
    assert [(r["url"], r["depth"], r["parent"], r["success"])
            for r in run.results.collect()] == [
        (r.url, r.depth, r.parent, r.success) for r in want]
    assert {r["url"] for r in run.seen.collect()} == want_seen


def test_a_repeated_crawl_compiles_no_classes(spark, spark_tables):
    """Spark's generated-class cache holds the crawl's working set: after
    its first supersteps a best-first crawl compiles only the few classes
    whose inlined literals change each superstep, and the same crawl run
    again compiles nothing (with Spark's default 100-entry cache, every
    superstep recompiled about 110 classes)."""
    pages_df, links_df = spark_tables
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    # 58 results over 11 supersteps of 10 pops
    cfg = CrawlConfig(strategy="best_first", max_depth=5, max_pages=50,
                      batch_size=10, scorer=SCORER)
    runs = []
    for _ in range(2):
        before = codegen.METRIC_COMPILATION_TIME().getCount()
        run = deep_crawl(spark, [url_of(1, PARAMS)], pages_df, links_df, cfg)
        rows = run.results.collect()
        runs.append((run, rows,
                     codegen.METRIC_COMPILATION_TIME().getCount() - before))
    (first, first_rows, _), (second, second_rows, second_compiles) = runs
    assert len(first.metrics) >= 8
    assert second_rows == first_rows
    assert second_compiles == 0
    assert [m["codegen_compiles"] for m in second.metrics] == [0] * len(
        second.metrics)
    late = [m["codegen_compiles"] for m in first.metrics if m["superstep"] >= 3]
    assert late and max(late) <= 10, late
