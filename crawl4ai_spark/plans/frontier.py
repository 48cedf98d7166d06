"""The deep-crawl engine: traversal loops as DataFrame supersteps.

Every reference traversal loop (SURVEY §2.5) runs as ONE superstep kernel
(``CrawlEngine._run``) whose body is one declarative DataFrame DAG per
superstep: pop → mark-seen → D1 budget split → robots gate + fetch →
persist results → link discovery → push → commit → log.  Restore, the D1
budget split, D2 backoff, the end-of-superstep frontier agg, snapshot
commits and the metrics record are shared; a pop policy (``PopPolicy``)
supplies only what differs:

  level (BFS, bfs_strategy.py:141-187) — pop every eligible row in
       (depth, seq) order; no visited check at pop; discovery on canonical
       URLs, excluding rows still queued (pending anti-join).
  heap  (best-first, bff_strategy.py:127-199) — pop ``batch_size`` rows
       (10 in parity mode, millions at scale) by TakeOrdered on the heap
       key; visited check at pop (retries exempt); discovery on raw hrefs
       with cumulative remaining capacity.
  stack (DFS, dfs_strategy.py:15-62) — pop the ``k`` deepest stack rows
       (``seq`` desc); visited check at pop; discovered links pushed
       reversed per parent.  ``dfs_batched`` pops ``batch_size`` rows,
       strict ``dfs`` one.

Heap and stack stop popping once ``max_pages`` pages were crawled; level
and strict DFS drain their frontier, as the reference loops do.

Link discovery (bfs_strategy.py:68-139 / bff_strategy.py:76-125) is the
same dataflow both ways:

  explode links → join + canonicalize (one Arrow UDF pass; best-first
  pushes the RAW absolute href, a faithful reference quirk) → validity +
  filter chain (Catalyst conjunction on the raw href) → score (Catalyst) →
  anti-join seen → per-parent capacity truncation (windows reproducing the
  reference's conditional sort-then-truncate) → dense global sequence.

That UDF pass is the only Python stage of a plain crawl; the robots gate
(a ``mapInPandas``, with ``check_robots_txt``) and the D2 backoff fold (a
cogroup ``applyInPandas``, with ``backoff``) add one each.  The UDF pass
also returns each pushed row's fetch key, ``fetch_key_of(url)``, which the
frontier row carries (seeds are keyed on the driver), so the pop derives
the fetch host in the JVM.  Frames the driver builds are JVM-local (a
pandas seed frame, typed empty projections), never a PythonRDD, and
``with_global_seq`` assigns its offsets in the JVM: each Python worker
invocation costs a fixed share of CPU whatever its row count (see
``_ROWS_PER_TASK``).

Scale notes (the 100 TB design):
  - every per-level global ordering uses ``with_global_seq`` (range
    partition + offset assign), never a single-partition window;
  - URL-seen is the URL set of the results, never stored apart, and is
    anti-joined on the canonical URL (hash-partitioned).  That exact
    left-anti join is the only URL-seen check: a filter sidecar
    (operators/seen.py) only shrinks the candidate side, while the join
    still scans and shuffles all of seen, so its Python stages never paid;
  - the heap/stack pop is ``orderBy(...).limit(B)`` = distributed
    TakeOrdered, and queue subtraction is an anti-join on the unique queue
    key ``seq``;
  - fetch joins are hash joins on the canonical fetch key; the pages/links
    tables would be Iceberg-bucketed by that key in production so the join
    co-locates without shuffle;
  - a superstep shuffles its batch on host once.  ``_prepare`` adds the
    D7 ``host_part`` key without a shuffle; the D1 budget split's rank
    window on it is that shuffle (the eager checkpoint before the split
    reports no partitioning, so an earlier repartition would be shuffled
    again), and without a budget the kernel hash-partitions on it.
    Salting changes execution, never crawl semantics.  Politeness is the
    budget split alone: virtual send slots (``with_host_slots``) would be
    read by no result, metric or retry, so the kernel does not compute them.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import reduce
from math import inf
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..dist import empty_frame, with_global_seq
from ..dist import with_global_cumsum  # noqa: F401  (wrapped by perfbench/tracing.py)
from ..functions.canonical import (
    canonical_col,  # noqa: F401  (wrapped by perfbench/tracing.py install_spans)
    fetch_key_of,
    join_and_canonicalize_udf,
    join_url_udf,
)
from ..functions.filters import FilterSpec, chain_column, url_validity
from ..functions.scorers import ScorerSpec
from ..functions.urlparts import host_of
from ..operators.politeness import (
    RATE_LIMIT_CODES,
    empty_domain_state_df,
    fold_domain_state_df,
    salt_hot_hosts,
    split_host_budget,
    with_host_slots,  # noqa: F401  (wrapped by perfbench/tracing.py install_spans)
    with_salted_host_slots,  # noqa: F401  (likewise; the kernel calls neither)
)
from ..operators.robots import RULES_SCHEMA, robots_gate_df
from .checkpoint import SnapshotStore

# perfbench/tracing.py install_spans wraps this name (_FRONTIER_NAMES)
robots_gate = robots_gate_df

_BIG = 1 << 62  # stands in for math.inf page budgets in long arithmetic

# Target rows per task for superstep dataflows.  Each Python worker
# invocation (one partition of one Python stage in one job) costs ~0.22
# worker CPU-s at any row count, mostly PySpark's per-task
# ``importlib.invalidate_caches()`` re-reading ``pyspark.zip``, so tiny
# supersteps must not inherit the full shuffle parallelism; at scale the
# same rule sizes partitions to the pop batch instead of a global constant.
_ROWS_PER_TASK = 20_000


@dataclass
class CrawlConfig:
    strategy: str = "bfs"  # bfs | dfs | dfs_batched | best_first
    max_depth: int = 2
    max_pages: int | None = None  # None = unbounded (math.inf in reference)
    score_threshold: float = -inf  # BFS/DFS only (bfs_strategy.py:116-119)
    include_external: bool = False
    filters: list[FilterSpec] = field(default_factory=list)
    scorer: ScorerSpec | None = None
    batch_size: int = 10  # best-first/dfs_batched pop size (bff_strategy.py:18)
    check_robots_txt: bool = False  # async_configs.py:713 default False
    # D1: per-host per-superstep fetch cap (= floor(superstep_window/delay)
    # in production).  Overflow rows are DEFERRED to the next superstep —
    # the batch translation of RateLimiter's per-domain sleep
    # (async_dispatcher.py:44-65).  BFS and best-first only; None disables.
    politeness_budget: int | None = None
    # D2: 429/503 backoff loop (async_dispatcher.py:67-87).  When True the
    # engine folds per-host RateLimiter state after every superstep,
    # requeues rate-limited rows with attempt+1 at ready-superstep
    # now + ceil(host_delay / superstep_window_s), and stops retrying once
    # the host's fail streak passes max_retries (give-up) or the row has
    # been attempted max_retries extra times.
    backoff: bool = False
    superstep_window_s: float = 10.0  # virtual wall-clock of one superstep
    max_retries: int = 3  # async_dispatcher.py:35
    seed: int = 42  # deterministic backoff jitter (north_rule parity)
    # D7: hosts with more than this many frontier rows in one superstep are
    # salted across salt_buckets sub-partitions (execution-only: the budget
    # split stays exactly the unsalted semantics).
    hot_host_rows: int = 100_000
    salt_buckets: int = 16
    max_supersteps: int = 10_000
    user_agent: str = "*"
    # FilterStats/ScoringStats analogs (filters.py:19-37, scorers.py:26-62):
    # when True each discovery also logs candidate/passed/skipped counts
    # (one extra agg per superstep — opt-in, off the hot path by default).
    collect_filter_stats: bool = False
    # CrawlResult.ssl_certificate analog (async_configs.py:742 default
    # False; ssl_certificate.py:30-84).  When True, results gain the
    # ssl_* cert-info columns: one synthetic handshake per HOST (the
    # reference does one per page only because it is single-URL
    # oriented), parsed in one Arrow pass over the host dimension and
    # broadcast-joined back — never a per-row fetch.
    fetch_ssl_certificate: bool = False

    def __post_init__(self):
        if self.strategy not in ("bfs", "best_first", "dfs", "dfs_batched"):
            raise ValueError(f"unknown strategy {self.strategy!r}")
        for name, ok in (
            ("batch_size >= 1", self.batch_size >= 1),
            ("max_depth >= 0", self.max_depth >= 0),
            ("max_retries >= 0", self.max_retries >= 0),
            ("superstep_window_s > 0", self.superstep_window_s > 0),
            ("salt_buckets >= 1", self.salt_buckets >= 1),
            ("politeness_budget >= 1",
             self.politeness_budget is None or self.politeness_budget >= 1),
        ):
            if not ok:
                raise ValueError(f"CrawlConfig needs {name}")
        if self.strategy in ("dfs", "dfs_batched") and (
                self.politeness_budget is not None or self.backoff):
            # no oracle twin defines a scheduled DFS
            raise ValueError(
                f"{self.strategy} supports neither politeness_budget nor backoff")

    @property
    def page_budget(self) -> int:
        return _BIG if self.max_pages is None else int(self.max_pages)


@dataclass(frozen=True)
class PopPolicy:
    """What one traversal's superstep pops — the only per-strategy part
    of the kernel.  ``kind`` is level | heap | stack (module docstring);
    ``k`` is the heap/stack pop size; ``stop_at_budget`` ends the crawl
    once max_pages pages were crawled instead of draining the frontier
    (a fact of each strategy's semantics, not a user option)."""

    kind: str
    k: int = 0
    stop_at_budget: bool = False

    @classmethod
    def of(cls, cfg: CrawlConfig) -> "PopPolicy":
        return {
            "bfs": cls("level"),
            "best_first": cls("heap", cfg.batch_size, True),
            "dfs_batched": cls("stack", cfg.batch_size, True),
            "dfs": cls("stack", 1),
        }[cfg.strategy]

    def order(self) -> list:
        """Pop order: the budget split ranks by it, and heap/stack number
        their results by it."""
        if self.kind == "heap":
            # the reference heap key (score, depth, url, parent), made
            # total by the push id
            return [
                F.col("score").asc(), F.col("depth").asc(), F.col("url").asc(),
                F.col("parent").asc_nulls_first(), F.col("seq").asc(),
            ]
        if self.kind == "stack":
            return [F.col("seq").desc()]
        return ["depth", "seq"]


@dataclass
class CrawlRun:
    results: DataFrame  # seq,url,depth,parent,score,success,status_code,...
    seen: DataFrame  # url
    metrics: list[dict[str, Any]]
    pages_crawled: int


RESULT_SCHEMA = (
    "superstep int, seq long, url string, fetch_key string, host string, "
    "depth int, parent string, score double, success boolean, "
    "status_code int, attempt int, image_id string"
)

# Frontier row, one schema for every strategy: ``fetch_key`` is the
# canonical fetch key, ``fetch_key_of(url)``, stored when the row is pushed
# so no Python pass runs at pop.  ``seq`` is the queue key, a global enqueue
# id stable across budget deferral and retries (BFS: seeds first, then
# discovery order, and also the emitted result ``seq``; heap: the push id;
# stack: higher pops first).  ``attempt`` counts backoff retries; ``ready``
# is the earliest superstep the row may fetch in.
FRONTIER_SCHEMA = (
    "url string, fetch_key string, parent string, depth int, seq long, "
    "score double, attempt int, ready long"
)

RESULT_COLS = [f.split()[0] for f in RESULT_SCHEMA.split(",")]
FRONTIER_COLS = [f.split()[0] for f in FRONTIER_SCHEMA.split(",")]


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        links: DataFrame,
        config: CrawlConfig,
        robots_pdf=None,
        politeness: DataFrame | None = None,
        store: SnapshotStore | None = None,
    ):
        """``politeness`` is accepted and ignored: the superstep computes
        no send slots (module docstring), so nothing would read it."""
        self.spark = spark
        self.cfg = config
        if isinstance(robots_pdf, pd.DataFrame):
            robots_pdf = spark.createDataFrame(
                robots_pdf[["host", "rules", "fetch_time", "status"]],
                RULES_SCHEMA)
        self.robots = robots_pdf  # per-host rules DataFrame, or None
        self.store = store
        self.metrics: list[dict[str, Any]] = []
        self._codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._compiled = 0  # codegen compile count at the last record
        # page lookup keyed by canonical URL; only the columns the engine
        # touches (column pruning reaches the parquet scan).
        self.pages_kv = pages.select(
            F.col("url").alias("page_url"),
            F.col("success").alias("page_success"),
            F.col("status_code").alias("page_status"),
            F.col("image_id"),
        )
        self.links = links  # src_url, pos, href, is_internal
        # one background lane for the per-superstep results write (job
        # submission is thread-safe on a SparkSession); joined before the
        # superstep's persisted inputs unpersist
        self._io_pool = ThreadPoolExecutor(max_workers=1)

    def _parts(self, n_rows: int) -> int:
        """Partition count sized to the superstep batch."""
        cap = self.spark.sparkContext.defaultParallelism
        return max(1, min(cap, -(-n_rows // _ROWS_PER_TASK)))

    # ------------------------------------------------------------ fetch
    def _prepare(self, frontier: DataFrame,
                 n_rows: int) -> tuple[DataFrame, list[str]]:
        """The D7 decision, made once per superstep and without a shuffle:
        ``host`` of the stored fetch key (Catalyst), the hot hosts on that
        column, and the ``host_part`` partition key from
        ``salt_hot_hosts``.  A hot host has more than ``hot_host_rows``
        rows (top 64); detection is skipped for batches under twice that,
        where no single task can straggle anyway.  Returns the frame and
        the hot hosts."""
        cfg = self.cfg
        f = frontier.withColumn("host", F.lower(host_of(F.col("fetch_key"))))
        hot = []
        if n_rows >= cfg.hot_host_rows * 2:
            rows = (
                f.groupBy("host").count()
                .filter(F.col("count") > cfg.hot_host_rows)
                .orderBy(F.col("count").desc())
                .limit(64)
                .collect()
            )
            hot = [r["host"] for r in rows if r["host"]]
        return salt_hot_hosts(f, hot, cfg.salt_buckets), hot

    def _fetch(self, f: DataFrame) -> DataFrame:
        """S2/P8: robots gate → synthetic fetch join, over the rows the D1
        budget split let through.

        The synthetic fetch resolves any raw URL to its canonical page
        (HTTP's fragment-dropping + case-folding stand-in), mirroring the
        oracle's OracleGraph.fetch.
        """
        f = robots_gate_df(
            f, self.robots if self.cfg.check_robots_txt else None,
            url_col="fetch_key", host_col="host", user_agent=self.cfg.user_agent)
        joined = f.join(
            self.pages_kv, f["fetch_key"] == self.pages_kv["page_url"], "left"
        ).drop("page_url")
        return joined.withColumn(
            "success",
            F.col("robots_allowed") & F.coalesce(F.col("page_success"), F.lit(False)),
        ).withColumn(
            "status_code",
            F.when(~F.col("robots_allowed"), F.lit(403))  # async_webcrawler.py:361-370
            .otherwise(F.coalesce(F.col("page_status"), F.lit(0))),
        ).drop("page_success", "page_status")

    def _retry_rows(self, fetched: DataFrame, domain_state: DataFrame,
                    superstep: int, key: str) -> DataFrame:
        """D2 requeue: rate-limited rows re-enter the frontier under their
        queue key ``key`` with attempt+1, eligible after the host's folded
        backoff delay (ceil(current_delay / superstep_window_s)
        supersteps); rows on gave-up hosts and rows out of attempts are
        final (reference error 'Rate limit retry count exceeded',
        async_dispatcher.py:364-366).

        ``domain_state`` is a DataFrame keyed by host (never driver
        pandas); the join shuffles on host — AQE broadcast-converts it
        while the state is small, and at 10^8 hosts it stays a
        distributed hash join."""
        cfg = self.cfg
        failed = fetched.filter(
            F.col("status_code").isin(list(RATE_LIMIT_CODES))
            & (F.col("attempt") < cfg.max_retries)
        )
        state_df = domain_state.select("host", "current_delay", "give_up")
        j = failed.join(state_df, "host", "left")
        j = j.filter(~F.coalesce(F.col("give_up"), F.lit(False)))
        steps = F.greatest(
            F.lit(1).cast("long"),
            F.ceil(
                F.coalesce(F.col("current_delay"), F.lit(0.0))
                / F.lit(float(cfg.superstep_window_s))
            ).cast("long"),
        )
        return j.select(
            "url", "fetch_key", "parent", "depth", F.col(key).alias("seq"),
            "score",
            (F.col("attempt") + 1).alias("attempt"),
            (F.lit(superstep) + steps).alias("ready"),
        )

    # -------------------------------------------------------- discovery
    def _discover(
        self,
        fetched: DataFrame,
        seen: DataFrame,
        remaining_expr,
        canonicalize: bool,
        base_seq: int,
        est_rows: int,
        pending: DataFrame | None = None,
        reverse: bool = False,
        filter_stats: dict | None = None,
    ) -> DataFrame:
        """link_discovery as a dataflow (bfs_strategy.py:68-139 with
        canonicalize=True; bff_strategy.py:76-125 with canonicalize=False).

        ``remaining_expr`` is the per-parent remaining-capacity column
        (constant per superstep for BFS/DFS, cumulative within the batch
        for best-first).  Discovered rows get dense seqs from ``base_seq``
        in (parent seq, link order); ``reverse`` hands them out backwards
        so a stack pops the first-discovered link first
        (dfs_strategy.py:57-60).  ``filter_stats`` gets the filter counts.
        """
        cfg = self.cfg
        src = fetched.filter(F.col("success")).select(
            F.col("seq").alias("parent_seq"),
            F.col("url").alias("parent_url"),
            F.col("fetch_key").alias("parent_key"),
            (F.col("depth") + 1).alias("link_depth"),
            remaining_expr.alias("remaining"),
        )
        src = src.filter(F.col("link_depth") <= F.lit(cfg.max_depth))  # :88-90
        cand = src.join(self.links, src["parent_key"] == self.links["src_url"])
        if not cfg.include_external:
            cand = cand.filter(F.col("is_internal"))
        # reference iterates internal links first, then external (:93-96)
        cand = cand.withColumn(
            "link_block", F.when(F.col("is_internal"), 0).otherwise(1)
        )
        # C1 first: the reference's scraper emits ABSOLUTE normalized links
        # (content_scraping_strategy.py:488-492), so link["href"] reaching
        # link_discovery is always urljoin(page_url, raw).strip(); our
        # synthetic links table stores raw variants to exercise this stage.
        # One Arrow pass also returns the pushed row's fetch key,
        # fetch_key_of(target), so the pop needs no Python pass.
        if canonicalize:
            # BFS family: C2 canonical is the pushed URL + seen key (:105).
            # C1 + C2 fused into ONE Arrow stage (join_and_canonicalize_udf)
            # — one Python round trip instead of two chained pandas UDFs.
            jc = join_and_canonicalize_udf(F.col("href"), F.col("parent_url"))
            target = F.col("__jc.canon")
        else:
            # best-first pushes the scraper's absolute href as-is (bff :108)
            jc = join_url_udf(F.col("href"), F.col("parent_url"))
            target = F.col("__jc.abs")
        cand = cand.withColumn("__jc", jc).select(
            "*", F.col("__jc.abs").alias("abs_href"), target.alias("target"),
            F.col("__jc.key").alias("push_key"),
        ).drop("__jc").filter(F.col("abs_href").isNotNull())
        # P1 validity + P2 filter chain — on the absolute href (bfs :109)
        if filter_stats is not None:
            passed_expr = url_validity(F.col("abs_href"))
            if cfg.filters:
                passed_expr = passed_expr & chain_column(F.col("abs_href"), cfg.filters)
            stats = cand.agg(
                F.count("*").alias("candidates"),
                F.sum(passed_expr.cast("long")).alias("passed"),
            ).collect()[0]
            passed = int(stats["passed"] or 0)
            filter_stats.update(candidates=stats["candidates"], passed=passed,
                                rejected=stats["candidates"] - passed)
        cand = cand.filter(url_validity(F.col("abs_href")))
        if cfg.filters:
            cand = cand.filter(chain_column(F.col("abs_href"), cfg.filters))
        if cfg.scorer is not None:
            cand = cand.withColumn("score", cfg.scorer.column(F.col("target")).cast("double"))
        else:
            cand = cand.withColumn("score", F.lit(0.0))
        if cfg.score_threshold != -inf and canonicalize:
            # score_threshold lives in the BFS-family discovery only
            # (bfs_strategy.py:116-119; applies even with no scorer, score=0)
            cand = cand.filter(F.col("score") >= F.lit(cfg.score_threshold))
        # URL-seen (T6): one exact left_anti join on the canonical URL
        # against the seen set, this superstep's fetches included.  No
        # filter sidecar guards it: a candidate-side prefilter would still
        # leave this join scanning and shuffling the whole seen set, so it
        # only adds Python stages (operators/seen.py keeps them standalone).
        seen_t = seen.select(F.col("url").alias("target"))
        cand = cand.join(seen_t, on="target", how="left_anti")
        if pending is not None:
            # queued-but-unfetched rows (budget-deferred / backoff-waiting /
            # retries) are not in seen yet; exclude them exactly so a URL
            # never occupies two frontier entries across supersteps
            cand = cand.join(
                pending.select(F.col("url").alias("target")), "target", "left_anti"
            )
        # capacity truncation (bfs :123-129 / bff :117-120): sort by score
        # desc ONLY when a scorer exists AND the parent overflows (BFS);
        # best-first truncates unsorted.
        wp = Window.partitionBy("parent_seq")
        cand = cand.withColumn("n_valid", F.count("*").over(wp))
        overflow = F.col("n_valid") > F.col("remaining")
        if cfg.scorer is not None and canonicalize:
            sort_key = F.when(overflow, -F.col("score")).otherwise(F.lit(0.0))
        else:
            sort_key = F.lit(0.0)
        rn = F.row_number().over(
            wp.orderBy(sort_key, F.col("link_block"), F.col("pos"))
        )
        cand = cand.withColumn("rn", rn).filter(F.col("rn") <= F.col("remaining"))
        out = cand.select(
            F.col("target").alias("url"),
            F.col("push_key").alias("fetch_key"),
            F.col("parent_url").alias("parent"),
            F.col("link_depth").alias("depth"),
            F.col("score"),
            F.col("parent_seq"),
            F.col("rn"),
        )
        key = ([F.col("parent_seq").desc(), F.col("rn").desc()] if reverse
               else ["parent_seq", "rn"])
        return with_global_seq(
            out, key, out_col="seq", start=base_seq,
            num_partitions=self._parts(est_rows),
        ).drop("parent_seq", "rn")

    # ----------------------------------------------------------- resume
    def _restore(self):
        """Load the last committed snapshot (north_rule checkpoint/resume):
        manifest → superstep + counters; orphan dirs from a crashed
        superstep are deleted; returns None when nothing was committed.
        URL-seen is not restored: the kernel derives it from the result parts.
        A manifest without the kernel's counters, or a frontier without
        ``fetch_key``, raises ValueError."""
        if self.store is None:
            return None
        mf = self.store.last_commit()
        if mf is None:
            return None
        s = mf["superstep"]
        counters = dict(mf["counters"])
        if "enq_base" not in counters or "result_base" not in counters:
            raise ValueError(
                f"snapshot {s} predates the one-kernel loop: its manifest "
                "lacks the enq_base/result_base counters")
        self.store.clean_orphans(s)
        frontier = self.store.read_one(self.spark, "frontier", s)
        if "fetch_key" not in frontier.columns:
            raise ValueError(
                f"snapshot {s} predates the stored fetch key: its frontier "
                "lacks the fetch_key column")
        parts = []
        start = 0
        comp = self.store.read_compacted(self.spark, "results")
        if comp is not None:
            # compaction vacuumed the per-superstep delta dirs it merged;
            # the compacted snapshot replaces parts 0..upto
            cdf, upto = comp
            parts.append(cdf)
            start = upto + 1
        for i in range(start, s + 1):
            p = self.store.read_one(self.spark, "results", i)
            if p is not None:
                parts.append(p)
        domain_state = self.store.read_one(self.spark, "domain_state", s)
        if domain_state is None:
            domain_state = empty_domain_state_df(self.spark)
        return {
            "superstep": s + 1,
            "frontier": frontier,
            "result_parts": parts,
            "counters": counters,
            "domain_state": domain_state,  # DataFrame (never driver pandas)
            "stat": self._frontier_stat(frontier, s + 1),
        }

    def _fresh(self, pop: PopPolicy, seeds: list[str]) -> dict:
        """Superstep-0 state: the seeds at depth 0 with queue keys in seed
        order (a stack gets them reversed, so the first seed pops first)."""
        n = len(seeds)
        if n:
            # from pandas, the frame is a JVM LocalTableScan; a Python list
            # would be a PythonRDD that Python workers re-serialize in
            # every job reading it
            seq = range(n - 1, -1, -1) if pop.kind == "stack" else range(n)
            frontier = self.spark.createDataFrame(pd.DataFrame({
                "url": seeds, "fetch_key": [fetch_key_of(u) for u in seeds],
                "parent": [None] * n, "depth": 0, "seq": list(seq),
                "score": 0.0, "attempt": 0, "ready": 0,
            }), FRONTIER_SCHEMA)
        else:
            frontier = empty_frame(self.spark, FRONTIER_SCHEMA)
        if pop.kind == "stack" and self.cfg.scorer is not None:
            # DFS results carry each page's own score (dfs_strategy.py:
            # 40-45); discovered rows are scored on push, seeds here
            frontier = frontier.withColumn(
                "score", self.cfg.scorer.column(F.col("url")).cast("double"))
        return {
            "superstep": 0,
            "frontier": frontier,
            "result_parts": [],
            "counters": {"pages_crawled": 0, "enq_base": n, "result_base": 0},
            "domain_state": empty_domain_state_df(self.spark),
            "stat": (n, n - 1, n, 0),
        }

    @staticmethod
    def _frontier_stat(frontier: DataFrame, superstep: int) -> tuple:
        """One global aggregate over the frontier: (rows, max queue key,
        rows eligible at ``superstep``, earliest ready superstep)."""
        r = frontier.agg(
            F.count("*"), F.max("seq"),
            F.sum((F.col("ready") <= F.lit(superstep)).cast("long")),
            F.min("ready"),
        ).collect()[0]
        return (int(r[0]), -1 if r[1] is None else int(r[1]), int(r[2] or 0),
                None if r[3] is None else int(r[3]))

    # ----------------------------------------------------------- kernel
    def _run(self, pop: PopPolicy, seeds: list[str],
             resume: bool = False) -> CrawlRun:
        """The superstep kernel every traversal runs: pop → mark-seen →
        budget split → robots gate + fetch → persist results → discover →
        push → commit → log.  ``pop`` supplies only what differs between
        the traversals (see PopPolicy).

        Scheduled semantics (oracle twins: crawl_bfs_scheduled,
        crawl_best_first_scheduled, crawl_dfs_batched, crawl_dfs):

          - frontier rows carry a queue key ``seq`` (BFS: the global
            enqueue id, which is also the result seq; heap/stack: the push
            id, and results are numbered densely in pop order);
          - D1 budget: each host fetches its first `budget` popped rows
            per superstep in pop order; the rest return to the frontier
            intact and UNMARKED;
          - D2 backoff: rate-limited rows requeue with attempt+1 at
            ready = superstep + ceil(host_delay / window) under their own
            queue key; gave-up hosts stop retrying; supersteps with nothing
            eligible fast-forward;
          - visited marks at fetch time (failures included,
            bfs_strategy.py:161), once per URL: a retry's URL is already
            marked from its first attempt.  So URL-seen is the URL set of
            the results.
        """
        cfg = self.cfg
        self._compiled = self._codegen_count()
        st = (self._restore() if resume else None) or self._fresh(pop, seeds)
        frontier, result_parts = st["frontier"], st["result_parts"]
        seen = self._union(result_parts).select("url")
        superstep = st["superstep"]
        domain_state = st["domain_state"]
        pages_crawled = st["counters"]["pages_crawled"]
        enq_base = st["counters"]["enq_base"]
        result_base = st["counters"]["result_base"]
        # the frontier stat (rows, max seq, eligible rows, earliest ready)
        # is taken when the frontier is made: at restore, after a backoff
        # fast-forward and from each superstep's end-of-superstep agg
        n_frontier, _, n_elig, min_ready = st["stat"]
        budget = cfg.politeness_budget
        order = pop.order()
        while superstep < cfg.max_supersteps:
            if n_frontier == 0:
                break
            if pop.stop_at_budget and pages_crawled >= cfg.page_budget:
                break  # bff :146-149
            if cfg.backoff:
                if n_elig == 0:
                    # virtual sleep: jump to the earliest ready superstep
                    superstep = min_ready
                    n_frontier, _, n_elig, min_ready = self._frontier_stat(
                        frontier, superstep)
                    continue
                eligible = frontier.filter(F.col("ready") <= F.lit(superstep))
            else:
                eligible, n_elig = frontier, n_frontier
            n_wait = n_frontier - n_elig
            t0 = time.time()
            popped = None
            if pop.kind == "level":
                # the whole eligible frontier is one level
                batch, n_rows = eligible, n_elig
                rest = (frontier.filter(F.col("ready") > F.lit(superstep))
                        if cfg.backoff else None)
            else:
                popped = eligible.orderBy(*order).limit(pop.k).persist(
                    StorageLevel.MEMORY_AND_DISK)
                rest = frontier.join(popped.select("seq"), "seq", "left_anti")
                # visited check at pop consumes batch slots (bff :153-160,
                # dfs_strategy.py:35): drop already-visited rows (retries
                # exempt), then keep the first row per URL in pop order
                fresh = popped.filter(F.col("attempt") == 0).join(
                    seen, "url", "left_anti")
                batch = fresh.unionByName(popped.filter(F.col("attempt") > 0))
                batch = batch.withColumn("__r", F.row_number().over(
                    Window.partitionBy("url").orderBy(*order))
                ).filter(F.col("__r") == 1).drop("__r")
                n_rows = pop.k
            prep, hot = self._prepare(batch, n_rows)
            if budget is not None:
                # the batch is computed once for both halves; the split's
                # rank window is the host shuffle (module docstring)
                within, deferred = split_host_budget(
                    prep.localCheckpoint(eager=True), budget, order,
                    part_col="host_part" if hot else "host")
                deferred = deferred.select(*FRONTIER_COLS)
            else:
                # sized to the batch: each partition of the robots gate's
                # Arrow stage is one Python worker invocation per job
                within = prep.repartition(self._parts(n_rows), "host_part")
                deferred = None
            within = within.drop("host_part")
            if pop.kind != "level":
                # results are numbered densely in pop order; the queue
                # key rides along as qseq for the retry requeue
                within = with_global_seq(
                    within, order, out_col="rseq", start=result_base,
                    num_partitions=self._parts(pop.k),
                ).withColumnRenamed("seq", "qseq").withColumnRenamed("rseq", "seq")
            t_split = time.time()
            fetched = self._fetch(within)
            if pop.kind == "level":
                # duplicate-URL quirk (bfs_strategy.py:174): every result
                # of a URL that appears twice in a superstep reports the
                # parent of the FIRST (lowest enqueue seq) entry for it.
                wfirst = Window.partitionBy("url").orderBy("seq")
                fetched = fetched.withColumn("parent", F.first("parent").over(wfirst))
            fetched = fetched.persist(StorageLevel.MEMORY_AND_DISK)
            stat = fetched.agg(
                F.count("*").alias("n"),
                F.sum(F.col("success").cast("long")).alias("ok"),
                F.min(F.when(F.col("success"), F.col("depth"))).alias("dmin"),
            ).collect()[0]
            t_fetch = time.time()
            # T6: mark what was fetched, failures included (bfs :161).  No
            # dedup: seen only feeds left-anti joins, and a distinct would
            # cost a shuffle job per superstep.  Lazy checkpoint,
            # materialized by discovery.
            seen = seen.unionByName(
                fetched.filter(F.col("attempt") == 0).select("url")
            ).localCheckpoint(eager=False)
            n_within = int(stat["n"])
            n_success = int(stat["ok"] or 0)
            min_succ_depth = stat["dmin"]
            n_deferred = (
                n_elig - n_within if pop.kind == "level"
                else 0 if deferred is None else deferred.count()
            )
            pages_before = pages_crawled
            pages_crawled += n_success
            results_s = fetched.withColumn("superstep", F.lit(superstep)).select(RESULT_COLS)
            # non-blocking: the results write (a job over the persisted
            # fetch) overlaps the discovery/frontier work below; joined
            # before fetched.unpersist()
            res_future = self._io_pool.submit(
                self._persist_results, results_s, superstep
            )
            retries = None
            if cfg.backoff:
                # lazy checkpoint: materialized by this superstep's retry
                # join / commit job; keeps cross-superstep lineage flat
                domain_state = fold_domain_state_df(
                    domain_state, fetched, seed=cfg.seed, superstep=superstep,
                    max_retries=cfg.max_retries,
                    num_partitions=self._parts(n_within),
                ).localCheckpoint(eager=False)
                retries = self._retry_rows(
                    fetched, domain_state, superstep,
                    "seq" if pop.kind == "level" else "qseq")
            carried = None
            for part in (deferred, rest, retries):
                if part is not None:
                    part = part.select(*FRONTIER_COLS)
                    carried = part if carried is None else carried.unionByName(part)
            filter_stats = (dict(candidates=0, passed=0, rejected=0)
                            if cfg.collect_filter_stats else None)
            remaining = cfg.page_budget - pages_crawled
            # best-first counts pages as they land (bff :146-149): the
            # batch's i-th success leaves budget - (pages_before + i)
            cap_max = remaining + n_success - 1 if pop.kind == "heap" else remaining
            nxt = carried
            if (
                n_success > 0 and cap_max > 0 and min_succ_depth is not None
                and int(min_succ_depth) + 1 <= cfg.max_depth
            ):
                if pop.kind == "heap":
                    # each success's 1-based rank in seq order, NOT by
                    # Window.orderBy("seq") — an unpartitioned window
                    # funnels the whole batch through one task
                    src = with_global_seq(
                        fetched.filter(F.col("success")), ["seq"],
                        out_col="cum_succ", start=1,
                        num_partitions=self._parts(pop.k),
                    )
                    cap = F.lit(cfg.page_budget - pages_before) - F.col("cum_succ")
                else:
                    src, cap = fetched, F.lit(remaining)
                pushes = self._discover(
                    src, seen, remaining_expr=cap,
                    canonicalize=pop.kind != "heap",
                    base_seq=enq_base, est_rows=n_rows * 8,
                    # heap/stack: queued duplicates are consumed by the
                    # visited check at pop, as in the reference
                    pending=carried if pop.kind == "level" else None,
                    reverse=pop.kind == "stack", filter_stats=filter_stats,
                ).withColumn("attempt", F.lit(0)).withColumn(
                    "ready", F.lit(0).cast("long")
                ).select(*FRONTIER_COLS)
                nxt = pushes if carried is None else carried.unionByName(pushes)
            if nxt is None:
                nxt = frontier.limit(0).select(*FRONTIER_COLS)
            # lazy checkpoint: the frontier stat is the materializing job
            nxt = nxt.localCheckpoint(eager=False)
            stat = self._frontier_stat(nxt, superstep + 1)
            enq_base = max(enq_base, stat[1] + 1)
            result_base += n_within
            t_disc = time.time()
            result_parts.append(res_future.result())
            t_results = time.time()
            self._log(
                superstep=superstep, popped=n_within, eligible=n_elig,
                deferred=n_deferred, waiting=n_wait,
                successes=n_success, pages_crawled=pages_crawled,
                frontier_out=stat[0], hot_hosts=len(hot),
                wall_ms=int((time.time() - t0) * 1000),
                phase_ms={
                    "split": int((t_split - t0) * 1000),
                    "fetch": int((t_fetch - t_split) * 1000),
                    "discover": int((t_disc - t_fetch) * 1000),
                    "results_wait": int((t_results - t_disc) * 1000),
                },
                **({} if filter_stats is None else {"filter_stats": filter_stats}),
            )
            self._commit(superstep, frontier=nxt,
                         counters={"pages_crawled": pages_crawled,
                                   "enq_base": enq_base,
                                   "result_base": result_base},
                         domain_state=domain_state if cfg.backoff else None)
            fetched.unpersist()
            if popped is not None:  # consumed by the frontier checkpoint
                popped.unpersist()
            frontier = nxt
            n_frontier, _, n_elig, min_ready = stat
            superstep += 1
        return self._finish(
            result_parts, pages_crawled,
            order=["superstep", "depth", "seq"] if pop.kind == "level" else ["seq"],
        )

    def run(self, seeds: list[str], resume: bool = False) -> CrawlRun:
        return self._run(PopPolicy.of(self.cfg), seeds, resume=resume)

    def _persist_results(self, results_s: DataFrame, superstep: int) -> DataFrame:
        if self.store is not None:
            self.store.write("results", results_s, superstep)
            return self.store.read_one(self.spark, "results", superstep)
        return results_s.localCheckpoint(eager=True)

    def _commit(self, superstep: int, frontier: DataFrame, counters: dict,
                domain_state: DataFrame | None = None) -> None:
        if self.store is None:
            return
        self.store.write("frontier", frontier, superstep)
        if domain_state is not None:
            self.store.write("domain_state", domain_state, superstep)
        if self.metrics:
            # per-superstep fetch/dedup metrics + per-partition lineage
            # (part-file → rows/bytes, read from parquet footers driver-side)
            entry = dict(self.metrics[-1])
            entry["lineage"] = {
                t: self.store.partition_lineage(t, superstep)
                for t in ("results", "frontier")
            }
            self.store.write_json("metrics", superstep, entry)
        self.store.commit(superstep, counters)

    def _codegen_count(self) -> int:
        return int(self._codegen.METRIC_COMPILATION_TIME().getCount())

    def _log(self, **kw) -> None:
        """Append one superstep's metrics record.  ``codegen_compiles`` is
        the number of classes Spark's code generator compiled since the
        previous record (since the run started, for the first): the misses
        of its generated-class cache, which ``session.get_spark`` sizes to
        the crawl's working set, so a warm crawl reads 0.  The counter is
        this JVM's: in cluster mode it counts only the driver's compiles,
        not the executors'."""
        n = self._codegen_count()
        kw["codegen_compiles"] = n - self._compiled
        self._compiled = n
        self.metrics.append(kw)

    def _union(self, parts: list[DataFrame]) -> DataFrame:
        if not parts:
            return empty_frame(self.spark, RESULT_SCHEMA)
        return reduce(DataFrame.unionByName, parts)

    def _finish(self, parts: list[DataFrame], pages_crawled: int,
                order: list[str]) -> CrawlRun:
        results = self._union(parts)
        seen = results.select("url").distinct()
        if self.cfg.fetch_ssl_certificate:
            from ..operators.sslcert import ssl_certificate_stage
            from ..sources.sslsynth import host_certs_df

            certs = ssl_certificate_stage(
                host_certs_df(results.select("host").distinct()))
            # ship only the parsed ssl_* columns — duplicating the raw
            # ~1 KB DER blob onto every result row would inflate the
            # results table by GBs at 10^6+ rows (the config promises
            # cert-info columns, and ssl_pem already carries the cert)
            results = results.join(
                F.broadcast(certs.drop("cert_der")), "host", "left")
        return CrawlRun(
            results=results.orderBy(*order),
            seen=seen,
            metrics=self.metrics,
            pages_crawled=pages_crawled,
        )


def deep_crawl(
    spark: SparkSession,
    seeds: list[str],
    pages: DataFrame,
    links: DataFrame,
    config: CrawlConfig,
    robots_pdf=None,
    store: SnapshotStore | None = None,
) -> CrawlRun:
    """Entry point (reference: strategy.arun via DeepCrawlDecorator,
    deep_crawling/base_strategy.py:10-43)."""
    return CrawlEngine(
        spark, pages, links, config, robots_pdf=robots_pdf, store=store,
    ).run(seeds)
