"""Checkpoint/resume (north_rule): a crawl killed mid-run resumes from the
last committed snapshot and produces byte-identical results to an
uninterrupted run; orphan dirs from uncommitted supersteps are cleaned."""

import json
import os
import shutil

import pytest

from crawl4ai_spark.plans.checkpoint import SnapshotStore
from crawl4ai_spark.plans.frontier import CrawlConfig, CrawlEngine
from crawl4ai_spark.sources.synth import (
    GraphParams,
    gen_robots,
    synth_local,
    url_of,
)

PARAMS = GraphParams(n_pages=50, n_domains=4, mean_degree=5)


@pytest.fixture(scope="module")
def tables(spark):
    pages, links, _ = synth_local(PARAMS)
    return spark.createDataFrame(pages).cache(), spark.createDataFrame(links).cache()


def _rows(run):
    return [
        (r["superstep"], r["seq"], r["url"], r["depth"], r["parent"],
         r["success"])
        for r in run.results.collect()
    ]


# a 429/503-heavy graph on which BFS and best-first defer budget overflow
# and retry within a few supersteps
RESUME_PARAMS = GraphParams(n_pages=50, n_domains=4, mean_degree=5,
                            fail_rate=0.25, seed=3)
RESUME_CASES = {
    "bfs": dict(max_depth=1, politeness_budget=2, backoff=True,
                max_retries=1),
    "best_first": dict(max_depth=1, max_pages=6, batch_size=4,
                       politeness_budget=2, backoff=True, max_retries=1),
    "dfs_batched": dict(max_depth=2, max_pages=4, batch_size=3),
    "dfs": dict(max_depth=1, max_pages=3),
}


@pytest.fixture(scope="module")
def resume_tables(spark):
    pages, links, _ = synth_local(RESUME_PARAMS)
    return spark.createDataFrame(pages).cache(), spark.createDataFrame(links).cache()


class _DiesInCommit(SnapshotStore):
    """A store whose process dies in ``commit`` of one superstep — after
    every ``write`` of that superstep landed."""

    def __init__(self, root, at):
        super().__init__(root)
        self.at = at

    def commit(self, superstep, counters):
        if superstep == self.at:
            raise RuntimeError("killed before commit")
        super().commit(superstep, counters)


@pytest.mark.parametrize("strategy", list(RESUME_CASES))
def test_every_strategy_resumes_from_every_superstep(
        spark, resume_tables, tmp_path, strategy):
    pages_df, links_df = resume_tables
    seeds = [url_of(0, RESUME_PARAMS)]

    def engine(store=None, **kw):
        cfg = CrawlConfig(strategy=strategy, **RESUME_CASES[strategy], **kw)
        return CrawlEngine(spark, pages_df, links_df, cfg, store=store)

    full = engine().run(seeds)
    want = _rows(full)
    steps = [m["superstep"] for m in full.metrics]
    assert len(steps) >= 3, "too few supersteps to interrupt"
    if strategy in ("bfs", "best_first"):
        # the snapshots carry deferred rows, retries and host state
        assert any(m["deferred"] for m in full.metrics)
        assert full.results.filter("attempt > 0").count() > 0

    # one crawl killed right after every committed superstep but the last
    # and resumed each time; each kill point is also forked and resumed to
    # completion
    root = str(tmp_path / "chain")
    store = SnapshotStore(root)
    for s in steps[:-1]:
        part = engine(store, max_supersteps=s + 1).run(seeds, resume=True)
        assert store.last_commit()["superstep"] == s
        assert _rows(part) == [r for r in want if r[0] <= s], s
        fork = str(tmp_path / f"fork{s}")
        shutil.copytree(root, fork)
        resumed = engine(SnapshotStore(fork)).run(seeds, resume=True)
        assert _rows(resumed) == want, s

    # metrics snapshots exist per committed superstep, with per-partition
    # lineage: one record per part file, rows sum to the snapshot's actual
    # row count (north_rule lineage requirement)
    for s in steps[:-1]:
        with open(os.path.join(root, "metrics", f"{s:06d}", "data.json")) as f:
            rec = json.load(f)
        assert rec["codegen_compiles"] >= 0
        lin = rec["lineage"]
        for table in ("results", "frontier"):
            snap = store.read_one(spark, table, s)
            assert sum(p["rows"] for p in lin[table]) == snap.count()
            assert all(p["bytes"] > 0 and p["file"].endswith(".parquet")
                       for p in lin[table])

    # dies in commit after the superstep's writes: the resume drops them
    root = str(tmp_path / "dies")
    with pytest.raises(RuntimeError, match="killed before commit"):
        engine(_DiesInCommit(root, at=steps[1])).run(seeds)
    store = SnapshotStore(root)
    assert store.last_commit()["superstep"] == steps[0]
    assert store.read_one(spark, "results", steps[1]) is not None
    assert _rows(engine(store).run(seeds, resume=True)) == want


@pytest.mark.parametrize("strategy", list(RESUME_CASES))
def test_url_seen_is_the_url_set_of_the_results(
        spark, resume_tables, tmp_path, strategy):
    """The reference marks a URL visited when it fetches it, failures
    included (bfs_strategy.py:161), so URL-seen is exactly the URL set of
    the results, and a store keeps no seen table.  Here robots denies some
    fetches (403); where a strategy schedules, the budget defers some rows
    and backoff retries some."""
    pages_df, links_df = resume_tables
    robots = gen_robots(RESUME_PARAMS)
    robots.loc[robots.host == "ex0.test", "rules"] = (
        "User-agent: *\nDisallow: /img/\n")
    cfg = CrawlConfig(strategy=strategy, check_robots_txt=True,
                      **RESUME_CASES[strategy])
    store = SnapshotStore(str(tmp_path / "store"))
    run = CrawlEngine(spark, pages_df, links_df, cfg, robots_pdf=robots,
                      store=store).run([url_of(0, RESUME_PARAMS)])
    rows = run.results.collect()
    assert any(r["status_code"] == 403 for r in rows)
    if strategy in ("bfs", "best_first"):
        assert any(m["deferred"] for m in run.metrics)
        assert any(r["attempt"] > 0 for r in rows)
    seen = [r["url"] for r in run.seen.collect()]
    assert len(seen) == len(set(seen))
    assert set(seen) == {r["url"] for r in rows}
    assert store.last_commit() is not None
    assert not os.path.exists(os.path.join(store.root, "seen"))


@pytest.mark.parametrize("counter", ["enq_base", "result_base"])
def test_resume_refuses_a_manifest_without_kernel_counters(
        spark, tables, tmp_path, counter):
    """A manifest without enq_base or result_base comes from before the
    one-kernel loop: resuming it raises instead of guessing the counter."""
    pages_df, links_df = tables
    seeds = [url_of(0, PARAMS)]
    store = SnapshotStore(str(tmp_path / "old"))
    CrawlEngine(spark, pages_df, links_df,
                CrawlConfig(max_depth=2, max_supersteps=1), store=store).run(seeds)
    mf = store.last_commit()
    del mf["counters"][counter]
    store.commit(mf["superstep"], mf["counters"])
    engine = CrawlEngine(spark, pages_df, links_df, CrawlConfig(max_depth=2),
                         store=store)
    with pytest.raises(ValueError, match="predates the one-kernel loop"):
        engine.run(seeds, resume=True)


def test_orphan_cleanup(spark, tables, tmp_path):
    pages_df, links_df = tables
    store = SnapshotStore(str(tmp_path / "ckpt2"))
    cfg = CrawlConfig(strategy="bfs", max_depth=2, max_supersteps=2)
    CrawlEngine(spark, pages_df, links_df, cfg, store=store).run(
        [url_of(0, PARAMS)]
    )
    committed = store.last_commit()["superstep"]
    # simulate a crash that wrote data for superstep committed+1 but died
    # before the manifest commit
    orphan = tmp_path / "ckpt2" / "frontier" / f"{committed + 1:06d}"
    orphan.mkdir(parents=True)
    (orphan / "part-junk.parquet").write_bytes(b"junk")
    removed = store.clean_orphans(committed)
    assert f"frontier/{committed + 1:06d}" in removed
    assert not orphan.exists()


def test_compact_preserves_rows_and_resume(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "ckpt"))
    for s in range(4):
        df = spark.createDataFrame(
            [(s * 10 + i, f"r{s}-{i}") for i in range(10)], "seq long, v string"
        ).repartition(4)  # 4 part files per superstep -> 16 total
        store.write("results", df, s)
        store.commit(s, {"pages_crawled": (s + 1) * 10})

    before = store.read_upto(spark, "results", 3)
    want = sorted((r["seq"], r["v"]) for r in before.collect())

    stats = store.compact(spark, "results", target_bytes=1 << 30)
    assert stats["upto"] == 3
    assert stats["files_after"] < stats["files_before"]

    after = store.read_upto(spark, "results", 3)
    assert sorted((r["seq"], r["v"]) for r in after.collect()) == want
    # the manifest commit survives later superstep commits
    store.commit(4, {"pages_crawled": 50})
    df4 = spark.createDataFrame([(99, "r4")], "seq long, v string")
    store.write("results", df4, 4)
    store.commit(4, {"pages_crawled": 51})
    both = store.read_upto(spark, "results", 4)
    assert sorted((r["seq"], r["v"]) for r in both.collect()) == sorted(
        want + [(99, "r4")]
    )
    # compacting again with one new delta folds it in; a further call
    # at the same point is a no-op (never rewrites the dir it reads)
    stats2 = store.compact(spark, "results", target_bytes=1 << 30)
    assert stats2["upto"] == 4
    assert store.compact(spark, "results").get("noop") is True
    final = store.read_upto(spark, "results", 4)
    assert sorted((r["seq"], r["v"]) for r in final.collect()) == sorted(
        want + [(99, "r4")]
    )


def test_compact_crash_before_vacuum_is_consistent(spark, tmp_path, monkeypatch):
    import shutil as _shutil

    store = SnapshotStore(str(tmp_path / "ckpt"))
    for s in range(2):
        df = spark.createDataFrame([(s, "x")], "seq long, v string")
        store.write("results", df, s)
        store.commit(s, {})
    # crash between manifest commit and vacuum: rmtree does nothing
    monkeypatch.setattr(_shutil, "rmtree", lambda *a, **k: None)
    store.compact(spark, "results", target_bytes=1 << 30)
    monkeypatch.undo()
    # old delta dirs still on disk, but readers go through the manifest:
    # rows must NOT be duplicated
    rows = store.read_upto(spark, "results", 1).collect()
    assert sorted(r["seq"] for r in rows) == [0, 1]


def test_crawl_resume_after_results_compaction(spark, tables, tmp_path):
    """Compaction must not lose committed results across an engine resume
    (the vacuum removes the per-superstep dirs _restore used to read)."""
    pages_df, links_df = tables
    seeds = [url_of(0, PARAMS)]
    store = SnapshotStore(str(tmp_path / "ck-compact"))
    cfg_part = CrawlConfig(strategy="bfs", max_depth=2, max_supersteps=2)
    CrawlEngine(spark, pages_df, links_df, cfg_part, store=store).run(seeds)

    stats = store.compact(spark, "results", target_bytes=1 << 30)
    assert stats["files_after"] is not None

    cfg_full = CrawlConfig(strategy="bfs", max_depth=2)
    run = CrawlEngine(spark, pages_df, links_df, cfg_full, store=store).run(
        seeds, resume=True)

    want = CrawlEngine(spark, pages_df, links_df, cfg_full).run(seeds)
    got_rows = sorted((r["url"], r["depth"]) for r in run.results.collect())
    want_rows = sorted((r["url"], r["depth"]) for r in want.results.collect())
    assert got_rows == want_rows
    # snapshot tables refuse compaction
    import pytest as _pytest
    with _pytest.raises(ValueError):
        store.compact(spark, "frontier")


def test_compaction_plan_binpack(spark):
    from crawl4ai_spark.operators.maintenance import (
        compaction_plan, compaction_summary)

    rows = [
        ("p1", "f01", 40), ("p1", "f02", 40), ("p1", "f03", 40),
        ("p1", "f04", 500),                       # already compact -> keep
        ("p1", "f05", 90),
        ("p2", "f06", 10), ("p2", "f07", 10),     # singleton-ish group
    ]
    df = spark.createDataFrame(rows, "part string, path string, bytes long")
    got = {r["path"]: r for r in compaction_plan(
        df, target_bytes=100, small_bytes=100).collect()}
    # p1 smalls in path order: f01(cum0) f02(cum40) f03(cum80) f05(cum120)
    assert (got["f01"]["grp"], got["f01"]["grp_off"]) == (0, 0)
    assert (got["f02"]["grp"], got["f02"]["grp_off"]) == (0, 40)
    assert (got["f03"]["grp"], got["f03"]["grp_off"]) == (0, 80)  # overhang
    assert (got["f05"]["grp"], got["f05"]["grp_off"]) == (1, 20)
    assert (got["f04"]["action"], got["f04"]["grp"]) == ("keep", -1)
    assert (got["f06"]["grp"], got["f07"]["grp_off"]) == (0, 10)

    summ = {(r["part"], r["grp"]): (r["n_files"], r["grp_bytes"])
            for r in compaction_summary(compaction_plan(
                df, 100, 100)).collect()}
    assert summ[("p1", 0)] == (3, 120)
    assert summ[("p1", 1)] == (1, 90)
    assert summ[("p2", 0)] == (2, 20)

    # partitioning invariance
    again = {r["path"]: (r["grp"], r["grp_off"]) for r in compaction_plan(
        df.repartition(5), 100, 100).collect()}
    assert again == {p: (r["grp"], r["grp_off"]) for p, r in got.items()}


def test_hot_key_report(spark):
    from crawl4ai_spark.operators.skew import hot_key_report

    rows = [("a",)] * 50 + [("b",)] * 30 + [("c",)] * 15 + [("d",)] * 5
    df = spark.createDataFrame(rows, "host string")
    got = [tuple(r) for r in hot_key_report(df, "host", k=2).collect()]
    # (key, n_rows, rank, share_bp, total_rows, n_keys, imbalance_bp)
    assert got[0] == ("a", 50, 1, 5000, 100, 4, 20000)  # 2x the mean -> 20000
    assert got[1] == ("b", 30, 2, 3000, 100, 4, 12000)
    assert len(got) == 2


def test_snapshot_retention_rank_and_window(spark):
    from crawl4ai_spark.operators.maintenance import snapshot_retention

    snaps = spark.createDataFrame(
        [(s, 100 + 10 * s) for s in range(6)], "snapshot_id long, ts long")
    got = {r["snapshot_id"]: r for r in
           snapshot_retention(snaps, retain_last=2, min_ts=120).collect()}
    # newest 2 by ts: {5, 4}; min_ts=120 adds {2, 3}
    assert {s for s, r in got.items() if r["retained"]} == {2, 3, 4, 5}
    assert got[5]["rank"] == 1 and got[0]["rank"] == 6
    # ties on ts break by snapshot_id desc
    tied = spark.createDataFrame(
        [(1, 100), (2, 100), (3, 100)], "snapshot_id long, ts long")
    r = {x["snapshot_id"]: x["rank"]
         for x in snapshot_retention(tied, retain_last=1).collect()}
    assert r == {3: 1, 2: 2, 1: 3}


def test_expire_snapshots_file_reachability(spark):
    from crawl4ai_spark.operators.maintenance import (
        expire_snapshots, expire_summary)

    # snapshots 0..3, retain newest 2 → retained {2, 3}
    snaps = spark.createDataFrame(
        [(s, 100 + s) for s in range(4)], "snapshot_id long, ts long")
    refs = spark.createDataFrame(
        [  # a: only old snapshots → removable
           (0, "a", 10), (1, "a", 10),
           # b: old + retained → kept
           (0, "b", 20), (3, "b", 20),
           # c: only retained → kept
           (2, "c", 30),
        ], "snapshot_id long, path string, bytes long")
    plan = expire_snapshots(refs, snaps, retain_last=2)
    got = {r["path"]: r for r in plan.collect()}
    assert got["a"]["removable"] is True
    assert got["a"]["n_refs"] == 2 and got["a"]["n_retained_refs"] == 0
    assert got["b"]["removable"] is False
    assert got["b"]["n_retained_refs"] == 1
    assert got["c"]["removable"] is False
    summ = {r["removable"]: r for r in expire_summary(plan).collect()}
    assert summ[True]["n_files"] == 1 and summ[True]["total_bytes"] == 10
    assert summ[False]["n_files"] == 2 and summ[False]["total_bytes"] == 50


def test_expire_snapshots_min_ts_keeps_time_travel_window(spark):
    from crawl4ai_spark.operators.maintenance import expire_snapshots

    snaps = spark.createDataFrame(
        [(s, 100 + s) for s in range(5)], "snapshot_id long, ts long")
    refs = spark.createDataFrame(
        [(1, "x", 5)], "snapshot_id long, path string, bytes long")
    # retain_last=1 alone would expire snapshot 1 → x removable
    only_rank = expire_snapshots(refs, snaps, retain_last=1)
    assert only_rank.collect()[0]["removable"] is True
    # min_ts=101 pulls snapshot 1 back into the window
    with_window = expire_snapshots(refs, snaps, retain_last=1, min_ts=101)
    assert with_window.collect()[0]["removable"] is False


def test_expire_snapshots_dangling_ref_fails_safe(spark):
    from crawl4ai_spark.operators.maintenance import expire_snapshots

    snaps = spark.createDataFrame(
        [(s, 100 + s) for s in range(4)], "snapshot_id long, ts long")
    refs = spark.createDataFrame(
        [  # x: one expired ref + one ref to an UNKNOWN snapshot id
           (0, "x", 5), (99, "x", 5),
           # y: referenced ONLY by an unknown id
           (98, "y", 7),
        ], "snapshot_id long, path string, bytes long")
    got = {r["path"]: r for r in
           expire_snapshots(refs, snaps, retain_last=2).collect()}
    # unknown provenance must retain, never delete
    assert got["x"]["removable"] is False
    assert got["x"]["n_refs"] == 2 and got["x"]["n_retained_refs"] == 1
    assert got["y"]["removable"] is False and got["y"]["n_refs"] == 1
