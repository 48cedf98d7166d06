"""The deep-crawl engine: traversal loops as DataFrame supersteps.

Each reference traversal loop (SURVEY §2.5) becomes a driver-side loop whose
body is ONE declarative DataFrame DAG per superstep:

  BFS  (bfs_strategy.py:141-187) — superstep = one level: mark-seen →
       fetch → append results → link_discovery dataflow → next level.
  BF   (bff_strategy.py:127-199) — superstep = one priority-queue pop of
       ``batch_size`` (10 in parity mode, millions at scale): TakeOrdered
       pop → anti-join visited → fetch → cumulative-capacity discovery →
       push.
  DFS  (dfs_strategy.py:15-62) — inherently sequential (one URL per pop);
       implemented for parity completeness, not a scale target.

Link discovery (bfs_strategy.py:68-139 / bff_strategy.py:76-125) is the
same dataflow both ways:

  explode links → canonicalize (Arrow UDF; BFS family only — best-first
  operates on RAW hrefs, a faithful reference quirk) → validity + filter
  chain (Catalyst conjunction on the raw href) → score (Catalyst) →
  anti-join seen → per-parent capacity truncation (windows reproducing the
  reference's conditional sort-then-truncate) → dense global sequence.

Scale notes (the 100 TB design):
  - every per-level global ordering uses ``with_global_seq`` (range
    partition + offset assign), never a single-partition window;
  - the seen table is append-only and anti-joined on the canonical URL
    (hash-partitioned).  That exact left-anti join is the only URL-seen
    check: a filter sidecar (operators/seen.py) only shrinks the candidate
    side, while the join still scans and shuffles the whole seen table, so
    its extra Python stages never paid on the benchmark workloads;
  - the queue pop is ``orderBy(...).limit(B)`` = distributed TakeOrdered,
    and queue subtraction is an anti-join on ``push_seq`` (multiset-exact);
  - fetch joins are hash joins on the canonical fetch key; the pages/links
    tables would be Iceberg-bucketed by that key in production so the join
    co-locates without shuffle;
  - politeness slots/budgets and hot-host salting plug in around the fetch
    join (operators/politeness.py) without changing crawl semantics.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from math import inf
from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..dist import with_global_cumsum, with_global_seq
from ..functions.canonical import (
    canonical_col,
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
    with_host_slots,
    with_salted_host_slots,
)
from ..operators.robots import robots_gate, robots_gate_df
from .checkpoint import SnapshotStore

_BIG = 1 << 62  # stands in for math.inf page budgets in long arithmetic

# Target rows per task for superstep dataflows.  Python-stage jobs cost
# ~0.3 s per partition per job in local mode (worker round-trips), so tiny
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
    batch_size: int = 10  # best-first pop size (bff_strategy.py:18)
    check_robots_txt: bool = False  # async_configs.py:713 default False
    # D1: per-host per-superstep fetch cap (= floor(superstep_window/delay)
    # in production).  Overflow rows are DEFERRED to the next superstep —
    # the batch translation of RateLimiter's per-domain sleep
    # (async_dispatcher.py:44-65).  BFS-family only; None disables.
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
    # split and slot ranks stay exactly the unsalted semantics).
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

    @property
    def page_budget(self) -> int:
        return _BIG if self.max_pages is None else int(self.max_pages)


@dataclass
class CrawlRun:
    results: DataFrame  # seq,url,depth,parent,score,success,status_code,...
    seen: DataFrame  # url
    metrics: list[dict[str, Any]]
    pages_crawled: int


RESULT_COLS = [
    "superstep", "seq", "url", "fetch_key", "host", "depth", "parent",
    "score", "success", "status_code", "attempt", "image_id",
]

# BFS frontier row: ``seq`` is the GLOBAL enqueue sequence (seeds first,
# then discovery order), stable across budget deferral and retries — it is
# also the emitted result ``seq``.  ``attempt`` counts backoff retries;
# ``ready`` is the earliest superstep the row may fetch in.
FRONTIER_COLS = ["url", "parent", "depth", "seq", "score", "attempt", "ready"]
FRONTIER_SCHEMA = (
    "url string, parent string, depth int, seq long, score double, "
    "attempt int, ready long"
)


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
        self.spark = spark
        self.cfg = config
        self.robots_pdf = robots_pdf
        self.politeness = politeness
        self.store = store
        self.metrics: list[dict[str, Any]] = []
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
    def _hot_hosts(self, frontier: DataFrame, n_rows: int) -> list[str]:
        """D7: hosts whose frontier share this superstep exceeds
        ``hot_host_rows`` (top 64).  Detection reads the raw url host
        JVM-side (no Arrow pass) and is skipped entirely for small
        supersteps, where no single task can straggle anyway."""
        cfg = self.cfg
        if n_rows < cfg.hot_host_rows * 2:
            return []
        rows = (
            frontier.groupBy(F.lower(host_of(F.col("url"))).alias("h"))
            .count()
            .filter(F.col("count") > cfg.hot_host_rows)
            .orderBy(F.col("count").desc())
            .limit(64)
            .collect()
        )
        return [r["h"] for r in rows if r["h"]]

    def _prepare(self, frontier: DataFrame, n_rows: int | None = None,
                 hot_hosts: list[str] | None = None) -> DataFrame:
        """Canonical fetch key + host, partitioned for the fetch stage."""
        f = frontier
        if "attempt" not in f.columns:
            f = f.withColumn("attempt", F.lit(0))
        f = f.withColumn(
            "fetch_key", canonical_col(F.col("url"), F.col("url"))
        ).withColumn("host", F.lower(host_of(F.col("fetch_key"))))
        # Hash-partition on host, sized to the batch: (a) breaks the
        # canonicalize→robots chained-Python-stage fusion (each chained
        # python stage pays per-partition worker round-trips per job);
        # (b) co-partitions for the robots memo and the politeness window
        # (Window.partitionBy(host) reuses this exchange — no extra
        # shuffle); (c) hot hosts fan out over salted sub-keys so one
        # domain can never pin a whole task (D7).
        if n_rows is not None:
            if hot_hosts:
                f = salt_hot_hosts(f, hot_hosts, self.cfg.salt_buckets,
                                   url_col="url")
                f = f.repartition(self._parts(n_rows), "host_part").drop("host_part")
            else:
                f = f.repartition(self._parts(n_rows), "host")
        return f

    def _fetch_prepared(self, f: DataFrame,
                        hot_hosts: list[str] | None = None) -> DataFrame:
        """S2/P8/D1: robots gate → politeness slots → synthetic fetch join.

        The synthetic fetch resolves any raw URL to its canonical page
        (HTTP's fragment-dropping + case-folding stand-in), mirroring the
        oracle's OracleGraph.fetch.
        """
        rules = self.robots_pdf if self.cfg.check_robots_txt else None
        if isinstance(rules, DataFrame):
            # millions-of-hosts path: rules stay a DataFrame, joined on host
            f = robots_gate_df(f, rules, url_col="fetch_key",
                               host_col="host", user_agent=self.cfg.user_agent)
        else:
            f = robots_gate(f, rules, url_col="fetch_key", host_col="host",
                            user_agent=self.cfg.user_agent)
        if self.politeness is not None:
            if hot_hosts:
                # semantically equivalent interleaved ranks (conservative
                # slots), no single-task-per-host window (politeness.py)
                f = with_salted_host_slots(
                    f, self.politeness, order_cols=["seq"],
                    hot_hosts=hot_hosts, salt_buckets=self.cfg.salt_buckets,
                )
            else:
                f = with_host_slots(f, self.politeness, order_cols=["seq"])
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

    def _fetch(self, frontier: DataFrame, n_rows: int | None = None) -> DataFrame:
        return self._fetch_prepared(self._prepare(frontier, n_rows))

    def _mark_seen(self, seen: DataFrame, new_urls: DataFrame) -> DataFrame:
        """Append to the URL-seen table.  Lazy checkpoint: the union
        materializes inside the same superstep's discovery/commit job
        instead of paying its own job launch; its lineage is two
        already-checkpointed inputs either way."""
        # dedup before marking: the same URL can sit twice in one
        # superstep (duplicate-URL quirk) — without this, every dup costs
        # a redundant seen-table row
        return seen.unionByName(new_urls.distinct()).localCheckpoint(eager=False)

    def _retry_rows(self, fetched: DataFrame, domain_state: DataFrame,
                    superstep: int) -> DataFrame:
        """D2 requeue: rate-limited rows re-enter the frontier with
        attempt+1, eligible after the host's folded backoff delay
        (ceil(current_delay / superstep_window_s) supersteps); rows on
        gave-up hosts and rows out of attempts are final (reference error
        'Rate limit retry count exceeded', async_dispatcher.py:364-366).

        ``domain_state`` is a DataFrame keyed by host (never driver
        pandas); the join shuffles on host — AQE broadcast-converts it
        while the state is small, and at 10^8 hosts it stays a
        distributed hash join."""
        j, ready = self._retry_base(fetched, domain_state, superstep)
        return j.select(
            "url", "parent", "depth", "seq", "score",
            (F.col("attempt") + 1).alias("attempt"), ready,
        )

    def _retry_rows_bf(self, fetched: DataFrame, domain_state: DataFrame,
                       superstep: int) -> DataFrame:
        """D2 requeue for best-first: same rule as _retry_rows but the row
        returns to the QUEUE with its original push_seq (it re-pops in heap
        order once ready)."""
        j, ready = self._retry_base(fetched, domain_state, superstep)
        return j.select(
            "score", "depth", "url", "parent", "push_seq",
            (F.col("attempt") + 1).alias("attempt"), ready,
        )

    def _retry_base(self, fetched: DataFrame, domain_state: DataFrame,
                    superstep: int):
        """Shared D2 requeue core (rate-limit filter → state join →
        give-up screen → backoff-steps arithmetic); one place so the
        BFS and best-first rules can never silently diverge."""
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
        return j, (F.lit(superstep) + steps).alias("ready")

    # -------------------------------------------------------- discovery
    def _discover(
        self,
        fetched: DataFrame,
        seen: DataFrame,
        remaining_expr,
        next_depth_expr,
        canonicalize: bool,
        base_seq: int,
        seq_col: str = "seq",
        est_rows: int | None = None,
        pending: DataFrame | None = None,
    ) -> DataFrame:
        """link_discovery as a dataflow (bfs_strategy.py:68-139 with
        canonicalize=True; bff_strategy.py:76-125 with canonicalize=False).

        ``remaining_expr`` is the per-parent remaining-capacity column
        (constant per level for BFS, cumulative within batch for BF).
        ``next_depth_expr`` is parent depth + 1.
        """
        cfg = self.cfg
        src = fetched.filter(F.col("success")).select(
            F.col(seq_col).alias("parent_seq"),
            F.col("url").alias("parent_url"),
            F.col("fetch_key").alias("parent_key"),
            next_depth_expr.alias("link_depth"),
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
        if canonicalize:
            # BFS family: C2 canonical is the pushed URL + seen key (:105).
            # C1 + C2 fused into ONE Arrow stage (join_and_canonicalize_udf)
            # — one Python round trip instead of two chained pandas UDFs.
            cand = cand.withColumn(
                "__jc", join_and_canonicalize_udf(F.col("href"), F.col("parent_url"))
            ).withColumn(
                "abs_href", F.col("__jc.abs")
            ).withColumn(
                "target", F.col("__jc.canon")
            ).drop("__jc").filter(F.col("abs_href").isNotNull())
        else:
            # best-first pushes the scraper's absolute href as-is (bff :108)
            cand = cand.withColumn(
                "abs_href", join_url_udf(F.col("href"), F.col("parent_url"))
            ).filter(F.col("abs_href").isNotNull())
            cand = cand.withColumn("target", F.col("abs_href"))
        # P1 validity + P2 filter chain — on the absolute href (bfs :109)
        if cfg.collect_filter_stats:
            passed_expr = url_validity(F.col("abs_href"))
            if cfg.filters:
                passed_expr = passed_expr & chain_column(F.col("abs_href"), cfg.filters)
            stats = cand.agg(
                F.count("*").alias("candidates"),
                F.sum(passed_expr.cast("long")).alias("passed"),
            ).collect()[0]
            self._log(
                filter_stats={
                    "candidates": stats["candidates"],
                    "passed": int(stats["passed"] or 0),
                    "rejected": stats["candidates"] - int(stats["passed"] or 0),
                }
            )
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
        # against the seen state as of superstep start.  No filter sidecar
        # guards it: a candidate-side prefilter would still leave this join
        # scanning and shuffling the whole seen table, so it only adds
        # Python stages (operators/seen.py keeps the filters standalone).
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
            F.col("parent_url").alias("parent"),
            F.col("link_depth").alias("depth"),
            F.col("score"),
            F.col("parent_seq"),
            F.col("rn"),
        )
        nparts = self._parts(est_rows) if est_rows is not None else None
        return with_global_seq(
            out, ["parent_seq", "rn"], out_col="seq", start=base_seq,
            num_partitions=nparts,
        ).drop("parent_seq", "rn")

    # ----------------------------------------------------------- resume
    def _restore(self):
        """Load the last committed snapshot (north_rule checkpoint/resume):
        manifest → superstep + counters; orphan dirs from a crashed
        superstep are deleted; returns None when nothing was committed."""
        if self.store is None:
            return None
        mf = self.store.last_commit()
        if mf is None:
            return None
        s = mf["superstep"]
        self.store.clean_orphans(s)
        frontier = self.store.read_one(self.spark, "frontier", s)
        seen = self.store.read_one(self.spark, "seen", s)
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
            parts.append(p)
        parts = [
            p.withColumn("attempt", F.lit(0))
            if p is not None and "attempt" not in p.columns
            # pre-D2 checkpoint: historical parts predate the attempt
            # column; backfill so the RESULT_COLS union in _finish holds
            else p
            for p in parts
        ]
        dstate_df = self.store.read_one(self.spark, "domain_state", s)
        return {
            "superstep": s + 1,
            "frontier": frontier,
            "seen": seen,
            "result_parts": [p for p in parts if p is not None],
            "counters": mf["counters"],
            "domain_state": dstate_df,  # DataFrame (never driver pandas)
        }

    # ------------------------------------------------------------- BFS
    def run_bfs(self, seeds: list[str], resume: bool = False) -> CrawlRun:
        """BFS superstep loop with the full D1/D2/D7/T6 schedule wired in.

        Scheduled semantics (oracle twin: oracle/crawler.py
        crawl_bfs_scheduled; plain BFS with budget/backoff off is exactly
        bfs_strategy.py:141-187):

          - frontier rows carry a global enqueue seq; fetch order within a
            superstep is (depth asc, seq asc) — strict BFS priority;
          - D1 budget: each host fetches its first `budget` rows per
            superstep (ranked pre-robots); the rest defer intact;
          - D2 backoff: rate-limited rows requeue with attempt+1 at
            ready = superstep + ceil(host_delay / window); gave-up hosts
            stop retrying; empty-eligible supersteps fast-forward;
          - visited marks at fetch time (failures included,
            bfs_strategy.py:161); deferred/waiting rows are excluded from
            discovery via the pending anti-join instead;
          - results = (superstep, seq) with seq the enqueue id; ordering
            (superstep, depth, seq).
        """
        cfg = self.cfg
        spark = self.spark
        state = self._restore() if resume else None
        if state is not None:
            frontier = state["frontier"]
            if "attempt" not in frontier.columns:  # pre-D2 checkpoint
                frontier = frontier.withColumn("attempt", F.lit(0)).withColumn(
                    "ready", F.lit(0).cast("long")
                )
            seen = state["seen"]
            pages_crawled = state["counters"]["pages_crawled"]
            enq_base = state["counters"].get("enq_base")
            superstep = state["superstep"]
            result_parts = state["result_parts"]
            if enq_base is None:
                # pre-enq_base checkpoint: seed from max(seq) over the
                # restored frontier + results so the first post-resume
                # discovery can't mint seqs colliding with historical ones
                seqs = frontier.select("seq")
                for p in result_parts:
                    seqs = seqs.unionByName(p.select("seq"))
                mx = seqs.agg(F.max("seq")).collect()[0][0]
                enq_base = int(mx) + 1 if mx is not None else 0
            domain_state = state.get("domain_state")
            if domain_state is None:
                domain_state = empty_domain_state_df(spark)
        else:
            frontier = spark.createDataFrame(
                [(u, None, 0, i, 0.0, 0, 0) for i, u in enumerate(seeds)],
                FRONTIER_SCHEMA,
            )
            seen = spark.createDataFrame([], "url string")
            pages_crawled = 0
            enq_base = len(seeds)
            superstep = 0
            result_parts = []
            domain_state = empty_domain_state_df(spark)
        budget = cfg.politeness_budget
        if budget is not None and budget < 1:
            raise ValueError("politeness_budget must be >= 1")
        # frontier size carried across supersteps (the end-of-superstep agg
        # already counts the next frontier — no extra count job per loop)
        n_frontier = len(seeds) if state is None else frontier.count()
        # end-of-superstep hint (from the fused frontier agg): eligible
        # count at superstep+1, earliest ready, per-raw-host max and
        # empty-host count.  Kills the per-loop eligible-count job and the
        # budget checkpoint+split when no host can exceed the budget.  The
        # raw-host grouping is exact for the skip decision: for any
        # absolute URL the lowered host equals the canonical host (C2 only
        # lowercases the netloc), and rows without a netloc force the
        # exact path via the empty-host guard.
        hint: dict | None = None
        while superstep < cfg.max_supersteps:
            if n_frontier == 0:
                break
            hint_ok = hint is not None and hint["for"] == superstep
            if cfg.backoff:
                n_elig = (
                    hint["nready"] if hint_ok
                    else frontier.filter(F.col("ready") <= F.lit(superstep)).count()
                )
                if n_elig == 0:
                    # virtual sleep: jump to the earliest ready superstep
                    superstep = (
                        hint["minready"] if hint_ok
                        else int(frontier.agg(F.min("ready")).collect()[0][0])
                    )
                    hint = None
                    continue
                eligible = frontier.filter(F.col("ready") <= F.lit(superstep))
                waiting = frontier.filter(F.col("ready") > F.lit(superstep))
                n_wait = n_frontier - n_elig
            else:
                eligible, waiting = frontier, None
                n_elig, n_wait = n_frontier, 0
            t0 = time.time()
            hot = self._hot_hosts(eligible, n_elig)
            prep = self._prepare(eligible, n_rows=n_elig, hot_hosts=hot)
            # skip the checkpoint + window split when the hint proves no
            # host holds more than `budget` frontier rows (the split would
            # defer nothing) — the common steady-state for wide crawls
            skip_split = (
                budget is not None and hint_ok
                and hint["empty"] == 0 and hint["maxhost"] <= budget
            )
            if budget is not None and not skip_split:
                prep = prep.localCheckpoint(eager=True)
                within, deferred = split_host_budget(
                    prep, budget, ["depth", "seq"], hot_hosts=hot,
                    salt_buckets=cfg.salt_buckets, url_col="url",
                )
                deferred = deferred.select(*FRONTIER_COLS)
                marked = within.select("url")
            else:
                within, deferred = prep, None
                marked = eligible.select("url")
            # T6: mark visited BEFORE fetch (bfs_strategy.py:161) — the
            # URL-seen set includes failed fetches; budget-deferred rows
            # are not seen until actually fetched.
            seen = self._mark_seen(seen, marked)
            t_split = time.time()
            fetched = self._fetch_prepared(within, hot_hosts=hot)
            # duplicate-URL quirk (bfs_strategy.py:174): every result of a
            # URL that appears twice in a superstep reports the parent of
            # the FIRST (lowest enqueue seq) entry for that URL.
            wfirst = Window.partitionBy("url").orderBy("seq")
            fetched = fetched.withColumn("parent", F.first("parent").over(wfirst))
            fetched = fetched.persist(StorageLevel.MEMORY_AND_DISK)
            stat = fetched.agg(
                F.count("*").alias("n"),
                F.sum(F.col("success").cast("long")).alias("ok"),
                F.min(F.when(F.col("success"), F.col("depth"))).alias("dmin"),
            ).collect()[0]
            t_fetch = time.time()
            n_within = int(stat["n"])
            n_success = int(stat["ok"] or 0)
            min_succ_depth = stat["dmin"]
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
                retries = self._retry_rows(fetched, domain_state, superstep)
            pending = None
            for part in (deferred, waiting, retries):
                if part is not None:
                    part = part.select(*FRONTIER_COLS)
                    pending = part if pending is None else pending.unionByName(part)
            remaining = cfg.page_budget - pages_crawled
            if (
                n_success > 0 and remaining > 0 and min_succ_depth is not None
                and int(min_succ_depth) + 1 <= cfg.max_depth
            ):
                nxt = self._discover(
                    fetched,
                    seen,
                    remaining_expr=F.lit(remaining),
                    next_depth_expr=F.col("depth") + 1,
                    canonicalize=True,
                    base_seq=enq_base,
                    est_rows=n_elig * 8,
                    pending=pending,
                ).withColumn("attempt", F.lit(0)).withColumn(
                    "ready", F.lit(0).cast("long")
                ).select(*FRONTIER_COLS)
            else:
                nxt = frontier.limit(0).select(*FRONTIER_COLS)
            if pending is not None:
                nxt = pending.unionByName(nxt)
            # lazy checkpoint: the fused agg below is the materializing job
            # (the old eager checkpoint + separate count was two jobs)
            nxt = nxt.localCheckpoint(eager=False)
            # anchored host extract for the skip-split guard: host_of's
            # bare '://([^/]+)' would pull a "host" out of a query string
            # ('http//typo?u=https://real.com/x'), hiding a row the
            # canonical parser maps to host '' — such rows must land in
            # the `empty` count so the guard forces the exact split path
            hint_host = F.lower(F.regexp_extract(
                F.col("url"), r"^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/?#]+)", 1))
            g = nxt.groupBy(hint_host.alias("__h")).agg(
                F.count("*").alias("c"),
                F.max("seq").alias("mx"),
                F.min("ready").alias("mr"),
                F.sum((F.col("ready") <= F.lit(superstep + 1)).cast("long")).alias("rdy"),
            )
            nstat = g.agg(
                F.sum("c").alias("n"),
                F.max("mx").alias("mx"),
                F.max("c").alias("maxhost"),
                F.sum(F.when(F.col("__h") == "", F.col("c")).otherwise(F.lit(0))).alias("empty"),
                F.min("mr").alias("minready"),
                F.sum("rdy").alias("nready"),
            ).collect()[0]
            n_next = int(nstat["n"] or 0)
            enq_base = max(enq_base, int(nstat["mx"] if nstat["mx"] is not None else -1) + 1)
            hint = {
                "for": superstep + 1,
                "nready": int(nstat["nready"] or 0),
                "minready": None if nstat["minready"] is None else int(nstat["minready"]),
                "maxhost": int(nstat["maxhost"] or 0),
                "empty": int(nstat["empty"] or 0),
            }
            t_disc = time.time()
            result_parts.append(res_future.result())
            t_results = time.time()
            self._log(
                superstep=superstep, popped=n_within, eligible=n_elig,
                deferred=n_elig - n_within, waiting=n_wait,
                successes=n_success, pages_crawled=pages_crawled,
                frontier_out=n_next, hot_hosts=len(hot),
                budget_split_skipped=bool(skip_split),
                wall_ms=int((time.time() - t0) * 1000),
                phase_ms={
                    "split": int((t_split - t0) * 1000),
                    "fetch": int((t_fetch - t_split) * 1000),
                    "discover": int((t_disc - t_fetch) * 1000),
                    "results_wait": int((t_results - t_disc) * 1000),
                },
            )
            self._commit(superstep, frontier=nxt, seen=seen,
                         counters={"pages_crawled": pages_crawled,
                                   "enq_base": enq_base},
                         domain_state=domain_state if cfg.backoff else None)
            fetched.unpersist()
            frontier = nxt
            n_frontier = n_next
            superstep += 1
        return self._finish(result_parts, seen, pages_crawled,
                            order=["superstep", "depth", "seq"])

    # ------------------------------------------------------------- BF
    def run_best_first(self, seeds: list[str], resume: bool = False) -> CrawlRun:
        """Best-first superstep loop with the same D1/D2 schedule as
        run_bfs (oracle twin: crawl_best_first_scheduled):

          - D1 budget: the post-dedup popped batch splits per host (first
            `budget` in heap order); deferred rows return to the queue
            UNMARKED with their push_seq, so they re-pop in heap order;
          - D2 backoff: rate-limited rows re-push with attempt+1 at their
            host's ready superstep; retries bypass the visited check at
            pop (their url is already seen from the failed attempt);
          - re-discovered URLs of deferred queue rows are NOT excluded —
            queue multisets with duplicate URLs are reference BF behavior
            (visited check at pop consumes the dup, bff :153-160)."""
        cfg = self.cfg
        spark = self.spark
        state = self._restore() if resume else None
        if state is not None:
            queue = state["frontier"]
            if "attempt" not in queue.columns:  # pre-D2 checkpoint
                queue = queue.withColumn("attempt", F.lit(0)).withColumn(
                    "ready", F.lit(0).cast("long")
                )
            queue = queue.localCheckpoint(eager=True)
            seen = state["seen"]
            pages_crawled = state["counters"]["pages_crawled"]
            push_seq_base = state["counters"]["push_seq_base"]
            result_seq_base = state["counters"]["result_seq_base"]
            superstep = state["superstep"]
            result_parts = state["result_parts"]
            domain_state = state.get("domain_state")
            if domain_state is None:
                domain_state = empty_domain_state_df(spark)
        else:
            queue = spark.createDataFrame(
                [(0.0, 0, u, None, i, 0, 0) for i, u in enumerate(seeds)],
                "score double, depth int, url string, parent string, "
                "push_seq long, attempt int, ready long",
            ).localCheckpoint(eager=True)
            seen = spark.createDataFrame([], "url string")
            pages_crawled = 0
            push_seq_base = len(seeds)
            result_seq_base = 0
            superstep = 0
            result_parts = []
            domain_state = empty_domain_state_df(spark)
        QUEUE_COLS = ["score", "depth", "url", "parent", "push_seq",
                      "attempt", "ready"]
        budget = cfg.politeness_budget
        if budget is not None and budget < 1:
            raise ValueError("politeness_budget must be >= 1")
        heap_order = [
            F.col("score").asc(), F.col("depth").asc(), F.col("url").asc(),
            F.col("parent").asc_nulls_first(), F.col("push_seq").asc(),
        ]
        while superstep < cfg.max_supersteps:
            if pages_crawled >= cfg.page_budget:  # bff :146-149
                break
            if not queue.take(1):
                break
            if cfg.backoff:
                eligible = queue.filter(F.col("ready") <= F.lit(superstep))
                if not eligible.take(1):
                    superstep = int(queue.agg(F.min("ready")).collect()[0][0])
                    continue
            else:
                eligible = queue
            t0 = time.time()
            popped = eligible.orderBy(*heap_order).limit(cfg.batch_size).persist(
                StorageLevel.MEMORY_AND_DISK
            )
            rest = queue.join(popped.select("push_seq"), "push_seq", "left_anti")
            # visited check at pop consumes batch slots (bff :153-160):
            # drop already-visited (retries exempt), then first-in-heap-order
            # per duplicate URL
            fresh0 = popped.filter(F.col("attempt") == 0).join(seen, "url", "left_anti")
            batch = fresh0.unionByName(popped.filter(F.col("attempt") > 0))
            wdup = Window.partitionBy("url").orderBy(
                F.col("score"), F.col("depth"), F.col("parent").asc_nulls_first(),
                F.col("push_seq"),
            )
            batch = batch.withColumn("__r", F.row_number().over(wdup)).filter(
                F.col("__r") == 1
            ).drop("__r")
            deferred = None
            if budget is not None:
                prep = self._prepare(batch, n_rows=cfg.batch_size).localCheckpoint(
                    eager=True
                )
                batch, deferred = split_host_budget(
                    prep, budget, heap_order, url_col="url",
                )
                deferred = deferred.select(*QUEUE_COLS)
            batch = with_global_seq(
                batch,
                ["score", "depth", "url", F.col("parent").asc_nulls_first(), "push_seq"],
                out_col="seq",
                start=result_seq_base,
                num_partitions=self._parts(cfg.batch_size),
            ).persist(StorageLevel.MEMORY_AND_DISK)
            if not batch.take(1):
                queue = rest if deferred is None else rest.unionByName(deferred)
                queue = queue.localCheckpoint(eager=True)
                popped.unpersist()
                batch.unpersist()  # all-duplicate superstep: release too
                superstep += 1
                continue
            # attempt>0 rows are retries whose url was marked seen at
            # their first pop — re-marking would append them again
            seen = self._mark_seen(
                seen, batch.filter(F.col("attempt") == 0).select("url"))
            if budget is not None:
                fetched = self._fetch_prepared(batch)
            else:
                fetched = self._fetch(batch, n_rows=cfg.batch_size)
            fetched = fetched.persist(StorageLevel.MEMORY_AND_DISK)
            bstat = fetched.agg(
                F.count("*").alias("n"),
                F.sum(F.col("success").cast("long")).alias("ok"),
            ).collect()[0]
            n_batch = int(bstat["n"])
            n_success = int(bstat["ok"] or 0)
            # non-blocking: the results write (a job over the persisted
            # fetch) overlaps the discovery/queue work below; joined
            # before fetched.unpersist()
            results_s = fetched.withColumn(
                "superstep", F.lit(superstep)
            ).select(RESULT_COLS)
            res_future = self._io_pool.submit(
                self._persist_results, results_s, superstep
            )
            retries = None
            if cfg.backoff:
                domain_state = fold_domain_state_df(
                    domain_state, fetched, seed=cfg.seed, superstep=superstep,
                    max_retries=cfg.max_retries,
                    num_partitions=self._parts(n_batch),
                ).localCheckpoint(eager=False)
                retries = self._retry_rows_bf(fetched, domain_state, superstep)
            # cumulative successes in batch order → per-result remaining.
            # Two-pass distributed cumsum (per-partition sums + broadcast
            # prefix offsets), NOT Window.orderBy("seq") — the unpartitioned
            # window funnels the whole popped batch through one task, fine
            # at parity batch_size=10 but a straggler at the
            # millions-at-scale batch this module promises.
            fetched_c = with_global_cumsum(
                fetched, ["seq"], "success", out_col="cum_succ",
                num_partitions=self._parts(cfg.batch_size),
            )
            remaining = (
                F.lit(cfg.page_budget) - (F.lit(pages_crawled) + F.col("cum_succ"))
            )
            pushes = self._discover(
                fetched_c,
                seen,
                remaining_expr=remaining,
                next_depth_expr=F.col("depth") + 1,
                canonicalize=False,
                base_seq=push_seq_base,
                est_rows=cfg.batch_size * 8,
            ).withColumnRenamed("seq", "push_seq").select(
                "score", "depth", "url", "parent", "push_seq"
            ).withColumn("attempt", F.lit(0)).withColumn(
                "ready", F.lit(0).cast("long")
            ).persist(StorageLevel.MEMORY_AND_DISK)
            n_pushed = pushes.count()
            queue = rest.unionByName(pushes)
            for part in (deferred, retries):
                if part is not None:
                    queue = queue.unionByName(part.select(*QUEUE_COLS))
            queue = queue.localCheckpoint(eager=True)
            pushes.unpersist()
            result_parts.append(res_future.result())
            pages_crawled += n_success
            push_seq_base += n_pushed
            result_seq_base += n_batch
            self._log(
                superstep=superstep, popped=n_batch, successes=n_success,
                pages_crawled=pages_crawled, pushed=n_pushed,
                wall_ms=int((time.time() - t0) * 1000),
            )
            self._commit(superstep, frontier=queue, seen=seen,
                         counters={"pages_crawled": pages_crawled,
                                   "push_seq_base": push_seq_base,
                                   "result_seq_base": result_seq_base},
                         domain_state=domain_state if cfg.backoff else None)
            popped.unpersist()
            fetched.unpersist()
            batch.unpersist()
            superstep += 1
        return self._finish(result_parts, seen, pages_crawled, order=["seq"])

    # ------------------------------------------------------------- DFS
    def run_dfs(self, seeds: list[str]) -> CrawlRun:
        """Sequential by nature (SURVEY §2.5 T2) — parity mode only."""
        cfg = self.cfg
        spark = self.spark
        stack = spark.createDataFrame(
            [(u, None, 0, i) for i, u in enumerate(seeds)],
            "url string, parent string, depth int, stack_seq long",
        ).localCheckpoint(eager=True)
        seen = spark.createDataFrame([], "url string")
        visited_driver: set[str] = set()
        pages_crawled = 0
        stack_seq_base = len(seeds)
        seq = 0
        superstep = 0
        result_parts: list[DataFrame] = []
        while superstep < cfg.max_supersteps:
            top_rows = stack.orderBy(F.col("stack_seq").desc()).limit(1).collect()
            if not top_rows:
                break
            top = top_rows[0]
            stack = stack.filter(F.col("stack_seq") != top["stack_seq"])
            if top["url"] in visited_driver or top["depth"] > cfg.max_depth:
                # cut lineage on the skip path too: thousands of
                # consecutive duplicate pops would otherwise chain
                # un-checkpointed filters into a quadratic driver plan
                stack = stack.localCheckpoint(eager=True)
                continue
            visited_driver.add(top["url"])
            seen = self._mark_seen(
                seen, spark.createDataFrame([(top["url"],)], "url string")
            )
            one = spark.createDataFrame(
                [(top["url"], top["parent"], top["depth"], seq, 0.0)],
                "url string, parent string, depth int, seq long, score double",
            )
            fetched = self._fetch(one, n_rows=1)
            if cfg.scorer is not None:
                fetched = fetched.withColumn(
                    "score", cfg.scorer.column(F.col("url")).cast("double")
                )
            fetched = fetched.persist(StorageLevel.MEMORY_AND_DISK)
            is_success = fetched.filter(F.col("success")).count() > 0
            results_s = fetched.withColumn("superstep", F.lit(superstep)).select(RESULT_COLS)
            result_parts.append(self._persist_results(results_s, superstep))
            seq += 1
            if is_success:
                pages_crawled += 1
                remaining = cfg.page_budget - pages_crawled
                if top["depth"] + 1 <= cfg.max_depth and remaining > 0:
                    links = self._discover(
                        fetched, seen,
                        remaining_expr=F.lit(remaining),
                        next_depth_expr=F.lit(top["depth"] + 1),
                        canonicalize=True,
                        base_seq=0,
                        est_rows=16,
                    )
                    # push reversed (dfs_strategy.py:57-60): first-discovered
                    # gets the HIGHEST stack_seq so it pops next.
                    n_links = links.count()
                    if n_links:
                        pushes = links.select(
                            "url", "parent", "depth",
                            (F.lit(stack_seq_base + n_links - 1) - F.col("seq")).alias("stack_seq"),
                        )
                        stack = stack.unionByName(pushes)
                        stack_seq_base += n_links
            stack = stack.localCheckpoint(eager=True)
            fetched.unpersist()
            superstep += 1
        return self._finish(result_parts, seen, pages_crawled, order=["seq"])

    def run_dfs_batched(self, seeds: list[str]) -> CrawlRun:
        """Batched "DFS-ish" loop (oracle twin: crawl_dfs_batched): pop
        the DEEPEST ``batch_size`` stack entries per superstep
        (``ORDER BY stack_seq DESC LIMIT k``), fetch them as one parallel
        stage, push discovered links reversed per parent in pop order —
        children of the earliest-popped parent receive the highest new
        stack seqs, so the crawl keeps diving where run_dfs would, at
        batch_size-way parallelism.

        Strict DFS ordering (child before next sibling) inherently
        serializes fetches, which is why run_dfs is parity-only; this is
        the usable-at-scale DFS.  Page counting and capacity are
        level-style (remaining computed once per superstep from the
        batch's successes).  Already-seen stack entries DO consume batch
        slots: the pop takes the top ``batch_size`` entries first and the
        visited anti-join then discards the stale ones (matching the
        oracle twin) — a stack top dense with duplicates temporarily
        lowers the effective fetch parallelism of a superstep."""
        cfg = self.cfg
        spark = self.spark
        stack = spark.createDataFrame(
            [(u, None, 0, len(seeds) - 1 - i) for i, u in enumerate(seeds)],
            "url string, parent string, depth int, stack_seq long",
        ).localCheckpoint(eager=True)
        seen = spark.createDataFrame([], "url string")
        pages_crawled = 0
        stack_seq_base = len(seeds)
        result_seq_base = 0
        superstep = 0
        result_parts: list[DataFrame] = []
        while superstep < cfg.max_supersteps:
            if pages_crawled >= cfg.page_budget:
                break
            if not stack.take(1):
                break
            popped = stack.orderBy(F.col("stack_seq").desc()).limit(
                cfg.batch_size).persist(StorageLevel.MEMORY_AND_DISK)
            rest = stack.join(
                popped.select("stack_seq"), "stack_seq", "left_anti")
            # discard already-seen entries without consuming batch slots;
            # within-batch duplicate URLs collapse to the first pop
            batch = popped.join(seen, "url", "left_anti")
            wdup = Window.partitionBy("url").orderBy(F.col("stack_seq").desc())
            batch = batch.withColumn(
                "__r", F.row_number().over(wdup)
            ).filter(F.col("__r") == 1).drop("__r")
            batch = with_global_seq(
                batch, [F.col("stack_seq").desc()], out_col="seq",
                start=result_seq_base,
                num_partitions=self._parts(cfg.batch_size),
            ).withColumn("score", F.lit(0.0)).persist(
                StorageLevel.MEMORY_AND_DISK)
            if not batch.take(1):
                stack = rest.localCheckpoint(eager=True)
                popped.unpersist()
                batch.unpersist()  # all-duplicate superstep: release too
                superstep += 1
                continue
            seen = self._mark_seen(seen, batch.select("url"))
            fetched = self._fetch(
                batch.select("url", "parent", "depth", "seq", "score"),
                n_rows=cfg.batch_size,
            )
            if cfg.scorer is not None:
                fetched = fetched.withColumn(
                    "score", cfg.scorer.column(F.col("url")).cast("double"))
            fetched = fetched.persist(StorageLevel.MEMORY_AND_DISK)
            stat = fetched.agg(
                F.count("*").alias("n"),
                F.sum(F.col("success").cast("long")).alias("ok"),
            ).collect()[0]
            n_batch = int(stat["n"])
            n_success = int(stat["ok"] or 0)
            results_s = fetched.withColumn(
                "superstep", F.lit(superstep)).select(RESULT_COLS)
            result_parts.append(self._persist_results(results_s, superstep))
            result_seq_base += n_batch
            pages_crawled += n_success
            remaining = cfg.page_budget - pages_crawled
            pushed = rest
            links = None
            if remaining > 0:
                links = self._discover(
                    fetched, seen,
                    remaining_expr=F.lit(remaining),
                    next_depth_expr=F.col("depth") + 1,
                    canonicalize=True,
                    base_seq=0,
                    est_rows=n_batch * 16,
                ).persist(StorageLevel.MEMORY_AND_DISK)
                n_links = links.count()
                if n_links:
                    # reversal (dfs_strategy.py:57-60, batched): discovery
                    # seq ascends in (parent pop order, link order), so
                    # seq 0 gets the HIGHEST new stack_seq and pops next
                    pushes = links.select(
                        "url", "parent", "depth",
                        (F.lit(stack_seq_base + n_links - 1)
                         - F.col("seq")).alias("stack_seq"),
                    )
                    pushed = rest.unionByName(pushes)
                    stack_seq_base += n_links
            stack = pushed.localCheckpoint(eager=True)
            self._log(superstep=superstep, popped=n_batch,
                      successes=n_success, pages_crawled=pages_crawled)
            popped.unpersist()
            batch.unpersist()
            fetched.unpersist()
            if links is not None:  # consumed by the stack checkpoint above
                links.unpersist()
            superstep += 1
        return self._finish(result_parts, seen, pages_crawled, order=["seq"])

    # ---------------------------------------------------------- helpers
    def run(self, seeds: list[str], resume: bool = False) -> CrawlRun:
        if self.cfg.strategy == "bfs":
            return self.run_bfs(seeds, resume=resume)
        if self.cfg.strategy == "best_first":
            return self.run_best_first(seeds, resume=resume)
        if self.cfg.strategy == "dfs":
            return self.run_dfs(seeds)
        if self.cfg.strategy == "dfs_batched":
            return self.run_dfs_batched(seeds)
        raise ValueError(f"unknown strategy {self.cfg.strategy!r}")

    def _persist_results(self, results_s: DataFrame, superstep: int) -> DataFrame:
        if self.store is not None:
            self.store.write("results", results_s, superstep)
            return self.store.read_one(self.spark, "results", superstep)
        return results_s.localCheckpoint(eager=True)

    def _commit(self, superstep: int, frontier: DataFrame, seen: DataFrame,
                counters: dict, domain_state: DataFrame | None = None) -> None:
        if self.store is None:
            return
        self.store.write("frontier", frontier, superstep)
        self.store.write("seen", seen, superstep)
        if domain_state is not None:
            self.store.write("domain_state", domain_state, superstep)
        if self.metrics:
            # per-superstep fetch/dedup metrics + per-partition lineage
            # (part-file → rows/bytes, read from parquet footers driver-side)
            entry = dict(self.metrics[-1])
            entry["lineage"] = {
                t: self.store.partition_lineage(t, superstep)
                for t in ("results", "frontier", "seen")
            }
            self.store.write_json("metrics", superstep, entry)
        self.store.commit(superstep, counters)

    def _log(self, **kw) -> None:
        self.metrics.append(kw)

    def _finish(self, parts: list[DataFrame], seen: DataFrame,
                pages_crawled: int, order: list[str]) -> CrawlRun:
        if parts:
            results = parts[0]
            for p in parts[1:]:
                results = results.unionByName(p)
        else:
            results = self.spark.createDataFrame(
                [], "superstep int, seq long, url string, fetch_key string, host string, "
                    "depth int, parent string, score double, success boolean, "
                    "status_code int, attempt int, image_id string",
            )
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
    politeness: DataFrame | None = None,
    store: SnapshotStore | None = None,
) -> CrawlRun:
    """Entry point (reference: strategy.arun via DeepCrawlDecorator,
    deep_crawling/base_strategy.py:10-43)."""
    return CrawlEngine(
        spark, pages, links, config, robots_pdf=robots_pdf,
        politeness=politeness, store=store,
    ).run(seeds)
