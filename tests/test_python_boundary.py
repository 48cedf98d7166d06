"""The crawl's Python boundary: where Python workers run, and the fetch key
stored with every frontier row.

Each Python worker invocation (one partition of one Python stage in one
job) costs a fixed share of worker CPU whatever its row count, so the crawl
runs Python in link discovery only: no frame the driver builds is a
PythonRDD, discovery calls its UDF in one Arrow pass, the pop derives the
fetch host in the JVM from the stored key, and ``with_global_seq`` assigns
offsets in the JVM."""

import re

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import Window
from pyspark.sql import functions as F

from crawl4ai_spark.dist import with_global_seq
from crawl4ai_spark.functions.canonical import (
    join_and_canonicalize_udf,
    join_url_udf,
    normalize_url_for_deep_crawl,
)
from crawl4ai_spark.operators.politeness import empty_domain_state_df
from crawl4ai_spark.plans import frontier as frontier_mod
from crawl4ai_spark.plans.checkpoint import SnapshotStore
from crawl4ai_spark.plans.frontier import CrawlConfig, CrawlEngine, PopPolicy
from crawl4ai_spark.sources.synth import GraphParams, synth_local, url_of

PARAMS = GraphParams(n_pages=40, n_domains=3, mean_degree=4, seed=5)

_PY_OPS = {
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "PythonMapInArrow", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
    "FlatMapGroupsInArrow", "FlatMapCoGroupsInArrow", "AggregateInPandas",
    "ArrowAggregatePython", "WindowInPandas", "ArrowWindowPython",
}
_OP_RE = re.compile(r"^[\s:+\-|]*(?:\*\(\d+\)\s*)?(\w+)", re.M)


def _python_ops(df) -> list[str]:
    """Python operators of ``df``'s physical plan (AQE's final plan once
    the frame has run)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "== Final Plan ==" in plan:
        plan = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    return [op for op in _OP_RE.findall(plan) if op in _PY_OPS]


def _python_rdd(df) -> bool:
    return "PythonRDD" in df._jdf.queryExecution().toRdd().toDebugString()


@pytest.fixture(scope="module")
def tables(spark):
    pages, links, _ = synth_local(PARAMS)
    return spark.createDataFrame(pages).cache(), spark.createDataFrame(links).cache()


def _engine(spark, tables, **kw):
    pages_df, links_df = tables
    return CrawlEngine(spark, pages_df, links_df, CrawlConfig(**kw))


def test_driver_built_frames_are_jvm_local(spark, tables):
    engine = _engine(spark, tables)
    seeds = [url_of(i, PARAMS) for i in range(3)] + ["HTTP://Ex.COM/a/b/a;/"]
    for kind in ("level", "stack"):
        st_ = engine._fresh(PopPolicy(kind), seeds)
        for name in ("frontier", "seen", "domain_state"):
            assert not _python_rdd(st_[name]), (kind, name)
        rows = st_["frontier"].orderBy("seq").collect()
        order = seeds[::-1] if kind == "stack" else seeds
        assert [r["url"] for r in rows] == order
        assert [r["fetch_key"] for r in rows] == [
            normalize_url_for_deep_crawl(u, u) for u in order]
    empty = engine._fresh(PopPolicy("level"), [])
    assert not _python_rdd(empty["frontier"]) and empty["frontier"].count() == 0
    assert not _python_rdd(empty_domain_state_df(spark))
    done = engine._finish([], empty["seen"], 0, order=["seq"])
    assert not _python_rdd(done.results) and done.results.count() == 0
    # the robots rules table, from pandas with an all-null rules column
    rules = pd.DataFrame({"host": ["a.test", "b.test"], "rules": [None, None],
                          "fetch_time": [1, 2], "status": [599, 404]})
    robots = CrawlEngine(spark, *tables, CrawlConfig(), robots_pdf=rules).robots
    assert not _python_rdd(robots)
    assert [tuple(r) for r in robots.collect()] == [
        ("a.test", None, 1, 599), ("b.test", None, 2, 404)]


def test_prepare_runs_no_python(spark, tables):
    engine = _engine(spark, tables)
    seeds = [url_of(i, PARAMS) for i in range(6)]
    frontier = engine._fresh(PopPolicy("level"), seeds)["frontier"]
    hot = frontier.select(F.lower(F.regexp_extract(
        "url", r"://([^/]+)", 1))).first()[0]
    for hot_hosts in ([], [hot]):
        prep = engine._prepare(frontier, len(seeds), hot_hosts)
        assert _python_ops(prep) == [], hot_hosts
        got = {r["url"]: r["host"] for r in prep.collect()}
        assert got == {u: normalize_url_for_deep_crawl(u, u).split("/")[2]
                       for u in seeds}


# relative hrefs whose canonical URL is not a fixed point of the
# canonicalizer ("a;/"), and ones that are
HREFS = ["a;/", "../x/", "//Other.COM/p;q/", "?utm_source=1&k=2", "%41b#f",
         "", "sub/../y.html"]


@pytest.mark.parametrize("canonicalize", [True, False],
                         ids=["bfs", "best_first"])
def test_discovery_runs_one_python_operator(spark, monkeypatch, canonicalize):
    parent = "http://h.com/a/b/"
    engine = CrawlEngine(
        spark, spark.range(0).select(
            F.lit("").alias("url"), F.lit(True).alias("success"),
            F.lit(200).alias("status_code"), F.lit(None).cast("string").alias("image_id")),
        spark.createDataFrame(pd.DataFrame({
            "src_url": parent, "pos": range(len(HREFS)), "href": HREFS,
            "is_internal": True})),
        CrawlConfig(max_depth=3))
    fetched = spark.createDataFrame(pd.DataFrame({
        "seq": [0], "url": [parent], "fetch_key": [parent], "depth": [0],
        "success": [True]}))
    captured = []

    def capture(df, order_cols, out_col, start, num_partitions):
        captured.append(df)
        return df.withColumn(out_col, F.lit(start).cast("long"))

    monkeypatch.setattr(frontier_mod, "with_global_seq", capture)
    engine._discover(fetched, engine._fresh(PopPolicy("level"), [])["seen"],
                     F.lit(100), canonicalize=canonicalize, base_seq=0,
                     est_rows=10)
    pushed = captured[0]
    rows = pushed.collect()
    assert _python_ops(pushed) == ["ArrowEvalPython"]
    assert rows
    for r in rows:
        assert r["fetch_key"] == normalize_url_for_deep_crawl(r["url"], r["url"])
    # the stored key is not the pushed URL where canonicalization is not
    # idempotent: a fetch_key = url shortcut would fetch the wrong page
    assert any(r["fetch_key"] != r["url"] for r in rows)


_PIECES = [";", "%41", "..", "//", "?", "utm_source=", "a", "b/", "/", "=",
           "&", "#"]
_BASES = ["http://h.com/a/b/", "https://Ex.COM/a;p/b?q=1", "http://h.com",
          "http://h.com/x/y.html#frag"]


@settings(max_examples=400, deadline=None)
@given(st.lists(st.lists(st.sampled_from(_PIECES), max_size=8).map("".join),
                min_size=1, max_size=6),
       st.sampled_from(_BASES))
def test_discovery_udfs_return_the_stored_key(hrefs, base):
    hrefs = hrefs + ["a;/"]
    h, b = pd.Series(hrefs), pd.Series([base] * len(hrefs))
    for udf, push in ((join_and_canonicalize_udf, "canon"),
                      (join_url_udf, "abs")):
        out = udf.func(h, b)
        for url, key in zip(out[push], out["key"]):
            assert key == normalize_url_for_deep_crawl(url, url)
    canon = join_and_canonicalize_udf.func(pd.Series(["a;/"]),
                                           pd.Series(["http://h.com/a/b/"]))
    assert canon["canon"][0] == "http://h.com/a/b/a;"
    assert canon["key"][0] == "http://h.com/a/b/a"


def test_with_global_seq_is_jvm_and_matches_row_number(spark):
    rng = np.random.default_rng(11)
    n = 10_000
    df = spark.createDataFrame(pd.DataFrame({
        "id": np.arange(n), "k": rng.integers(0, 40, n),
        "j": rng.integers(0, 5, n)})).repartition(8)
    start = 7
    # a total order: each row's seq must equal its row_number
    order = ["k", F.col("j").desc(), "id"]
    got = with_global_seq(df, order, out_col="s", start=start, num_partitions=8)
    assert _python_ops(got) == []
    want = df.withColumn(
        "s", F.row_number().over(Window.orderBy(*order)) - 1 + start)
    assert sorted(got.select("id", "s").collect()) == sorted(
        want.select("id", "s").collect())
    # tied keys: each key holds the same dense seq range either way
    got = with_global_seq(df, ["k"], out_col="s", start=start, num_partitions=8)
    want = df.withColumn(
        "s", F.row_number().over(Window.orderBy("k")) - 1 + start)
    assert sorted(got.select("k", "s").collect()) == sorted(
        want.select("k", "s").collect())


def test_resume_keys_a_snapshot_without_fetch_key(spark, tables, tmp_path):
    pages_df, links_df = tables
    seeds = [url_of(0, PARAMS)]

    def engine(store=None, **kw):
        return CrawlEngine(spark, pages_df, links_df,
                           CrawlConfig(max_depth=2, **kw), store=store)

    want = engine().run(seeds)
    store = SnapshotStore(str(tmp_path / "s"))
    engine(store, max_supersteps=1).run(seeds)
    # rewrite the committed frontier as a snapshot from before the key
    old = store.read_one(spark, "frontier", 0).drop("fetch_key").toPandas()
    assert len(old)
    store.write("frontier", spark.createDataFrame(old), 0)
    resumed = engine(store).run(seeds, resume=True)
    cols = ["superstep", "seq", "url", "fetch_key", "depth", "parent", "success"]
    assert resumed.results.select(cols).collect() == want.results.select(cols).collect()
