"""In-memory oracle crawler: the reference deep-crawl algorithms verbatim.

Re-implements, line-for-line in plain Python over the synthetic graph:
  - BFS batch loop          crawl4ai/deep_crawling/bfs_strategy.py:141-187
  - BFS link_discovery      bfs_strategy.py:68-139
  - DFS batch loop          dfs_strategy.py:15-62
  - Best-first loop         bff_strategy.py:127-199 (BATCH_SIZE=10 :18)
  - BF link_discovery       bff_strategy.py:76-125 (raw hrefs, no canonicalization)
  - can_process_url         bfs_strategy.py:46-66 / bff_strategy.py:54-74

This is FIXTURES.md §6's expected-output generator: the Spark engine must
reproduce its URL-seen set exactly and its crawl ordering (per-level set +
deterministic intra-level order for BFS; exact sequence for DFS/BF), per
north_rule "same seed list + politeness budget ⇒ same ordering and URL-seen
set".  Result-stream completion order is pinned to batch input order (the
reference's asyncio completion order is nondeterministic; we define the
deterministic schedule both sides reproduce).
"""

from __future__ import annotations

import heapq
from dataclasses import dataclass, field
from math import inf

from ..functions.canonical import normalize_url, normalize_url_for_deep_crawl
from ..functions.filters import FilterSpec, py_chain_apply, py_url_validity
from ..functions.scorers import ScorerSpec


@dataclass
class OraclePage:
    url: str  # canonical
    success: bool
    status_code: int
    links: list[tuple[str, bool]]  # ordered (raw href, is_internal)


@dataclass
class OracleResult:
    seq: int
    url: str
    depth: int
    parent: str | None
    score: float
    success: bool
    status_code: int


@dataclass
class CrawlSpec:
    strategy: str = "bfs"  # bfs | dfs | best_first
    max_depth: int = 2
    max_pages: float = inf
    score_threshold: float = -inf  # BFS/DFS only (bfs_strategy.py:116-119)
    include_external: bool = False
    filters: list[FilterSpec] = field(default_factory=list)
    scorer: ScorerSpec | None = None
    batch_size: int = 10  # bff_strategy.py:18


class OracleGraph:
    """Synthetic-fetch semantics: any raw URL resolves to its C2-canonical
    page (fragment/tracking/case noise collapses, like HTTP would)."""

    def __init__(self, pages: dict[str, OraclePage]):
        self.pages = pages

    @classmethod
    def from_frames(cls, pages_pdf, links_pdf) -> "OracleGraph":
        links_by_src: dict[str, list[tuple[str, bool]]] = {}
        for r in links_pdf.sort_values(["src_url", "pos"]).itertuples():
            links_by_src.setdefault(r.src_url, []).append((r.href, bool(r.is_internal)))
        pages = {}
        for r in pages_pdf.itertuples():
            pages[r.url] = OraclePage(
                url=r.url,
                success=bool(r.success),
                status_code=int(r.status_code),
                links=links_by_src.get(r.url, []),
            )
        return cls(pages)

    def fetch(self, url: str) -> OraclePage:
        canon = normalize_url_for_deep_crawl(url, url)
        page = self.pages.get(canon)
        if page is None:
            return OraclePage(url=url, success=False, status_code=0, links=[])
        return page


def _can_process(url: str, depth: int, spec: CrawlSpec) -> bool:
    # bfs_strategy.py:46-66: validity, then filter chain unless depth 0.
    if not py_url_validity(url):
        return False
    if depth != 0 and not py_chain_apply(url, spec.filters):
        return False
    return True


def _split_links(page: OraclePage, spec: CrawlSpec) -> list[str]:
    # content scraping splits internal/external; link_discovery takes
    # internal then appends external when include_external
    # (bfs_strategy.py:93-96).
    internal = [h for h, is_int in page.links if is_int]
    external = [h for h, is_int in page.links if not is_int]
    return internal + (external if spec.include_external else [])


def crawl_bfs(graph: OracleGraph, start_url: str, spec: CrawlSpec):
    """bfs_strategy.py:141-187 verbatim (batch mode)."""
    visited: set[str] = set()
    current_level: list[tuple[str, str | None]] = [(start_url, None)]
    depths: dict[str, int] = {start_url: 0}
    results: list[OracleResult] = []
    pages_crawled = 0
    seq = 0

    while current_level:
        next_level: list[tuple[str, str | None]] = []
        urls = [u for u, _ in current_level]
        visited.update(urls)  # :161 — marked before fetch, failures included

        batch = [graph.fetch(u) for u in urls]
        pages_crawled += sum(1 for r in batch if r.success)  # :167-169

        for url, page in zip(urls, batch):
            depth = depths.get(url, 0)
            parent = next((par for (u, par) in current_level if u == url), None)
            results.append(
                OracleResult(seq, url, depth, parent, 0.0, page.success, page.status_code)
            )
            seq += 1
            if page.success:
                _bfs_link_discovery(
                    graph, page, url, depth, visited, next_level, depths, spec,
                    pages_crawled,
                )
        current_level = next_level
    return results, visited


def _bfs_link_discovery(graph, page, source_url, current_depth, visited,
                        next_level, depths, spec, pages_crawled):
    """bfs_strategy.py:68-139 verbatim."""
    next_depth = current_depth + 1
    if next_depth > spec.max_depth:
        return
    remaining = spec.max_pages - pages_crawled
    if remaining <= 0:
        return
    valid_links: list[tuple[str, float]] = []
    for href in _split_links(page, spec):
        try:
            abs_href = normalize_url(href, source_url)  # C1: scraper output
        except ValueError:
            continue  # content_scraping_strategy.py:488-492 drops it
        base_url = normalize_url_for_deep_crawl(abs_href, source_url)
        if base_url in visited:
            continue
        if not _can_process(abs_href, next_depth, spec):  # absolute href, :109
            continue
        score = spec.scorer.py_score(base_url) if spec.scorer else 0
        if score < spec.score_threshold:
            continue
        valid_links.append((base_url, score))
    if len(valid_links) > remaining:
        if spec.scorer:
            valid_links.sort(key=lambda x: x[1], reverse=True)  # stable, :125-127
        valid_links = valid_links[: int(remaining)]
    for url, _score in valid_links:
        next_level.append((url, source_url))
        depths[url] = next_depth


def crawl_dfs(graph: OracleGraph, start_url: str, spec: CrawlSpec):
    """dfs_strategy.py:15-62 verbatim (stack; children pushed reversed)."""
    visited: set[str] = set()
    stack: list[tuple[str, str | None, int]] = [(start_url, None, 0)]
    depths: dict[str, int] = {start_url: 0}
    results: list[OracleResult] = []
    pages_crawled = 0
    seq = 0

    while stack:
        url, parent, depth = stack.pop()
        if url in visited or depth > spec.max_depth:
            continue
        visited.add(url)
        page = graph.fetch(url)
        score = spec.scorer.py_score(url) if spec.scorer else 0.0
        results.append(OracleResult(seq, url, depth, parent, score, page.success, page.status_code))
        seq += 1
        if page.success:
            pages_crawled += 1
            next_links: list[tuple[str, str | None]] = []
            _bfs_link_discovery(
                graph, page, url, depth, visited, next_links, depths, spec, pages_crawled
            )
            for new_url, new_parent in reversed(next_links):
                stack.append((new_url, new_parent, depths.get(new_url, depth + 1)))
    return results, visited


def crawl_dfs_batched(graph: OracleGraph, start_url: str, spec: CrawlSpec):
    """Batched "DFS-ish" twin (engine stack pop policy, strategy
    ``dfs_batched``): pop the DEEPEST ``batch_size`` stack entries per
    superstep, fetch them as one level, push children reversed per parent
    in pop order — children of the earliest-popped (deepest) parent pop
    first, first-discovered link first (dfs_strategy.py:57-60 reversal,
    batched).

    Deliberately NOT strict DFS: strict ordering needs one fetch at a
    time (crawl_dfs); this mode trades sibling-before-child strictness for
    batch-parallel fetches, and it stops popping once ``max_pages`` pages
    were crawled, where crawl_dfs keeps draining its stack — so even
    ``batch_size=1`` equals crawl_dfs only while the budget never binds.
    Page counting and capacity are level-style: remaining is computed
    once per superstep from the whole batch's successes (the reference
    BFS quirk, bfs_strategy.py:87-90), and already-seen stack entries
    are discarded at pop without consuming batch slots
    (dfs_strategy.py:35 analog)."""
    visited: set[str] = set()
    depths: dict[str, int] = {start_url: 0}
    # (stack_seq, url, parent, depth); pop = highest stack_seq first
    stack: list[tuple[int, str, str | None, int]] = [(0, start_url, None, 0)]
    stack_seq_base = 1
    results: list[dict] = []
    seq = 0
    pages_crawled = 0
    superstep = 0
    while stack and pages_crawled < spec.max_pages:
        stack.sort(key=lambda t: t[0])
        k = min(spec.batch_size, len(stack))
        popped = stack[-k:][::-1]
        del stack[-k:]
        batch = []
        burls: set[str] = set()
        for entry in popped:
            _sseq, url, _parent, _depth = entry
            if url in visited or url in burls:
                continue
            burls.add(url)
            batch.append(entry)
        if not batch:
            superstep += 1
            continue
        visited.update(burls)
        fetched = []
        for _sseq, url, parent, depth in batch:
            page = graph.fetch(url)
            score = spec.scorer.py_score(url) if spec.scorer else 0.0
            results.append({
                "superstep": superstep, "seq": seq, "url": url,
                "depth": depth, "parent": parent, "score": score,
                "success": page.success, "status_code": page.status_code,
            })
            seq += 1
            if page.success:
                fetched.append((url, depth, page))
        pages_crawled += len(fetched)
        remaining = spec.max_pages - pages_crawled
        if remaining > 0:
            discovered: list[tuple[str, str | None, int]] = []
            for url, depth, page in fetched:  # pop order
                nl: list[tuple[str, str | None]] = []
                _bfs_link_discovery(graph, page, url, depth, visited, nl,
                                    depths, spec, pages_crawled)
                discovered.extend(
                    (u, par, depths.get(u, depth + 1)) for u, par in nl)
            n = len(discovered)
            for i, (u, par, d) in enumerate(discovered):
                stack.append((stack_seq_base + n - 1 - i, u, par, d))
            stack_seq_base += n
        superstep += 1
    return results, visited


def crawl_best_first(graph: OracleGraph, start_url: str, spec: CrawlSpec):
    """bff_strategy.py:127-199 verbatim: heap of (score, depth, url, parent),
    pop ≤ BATCH_SIZE consuming slots for visited dups, raw-href URL space."""
    heap: list[tuple[float, int, str, tuple]] = []
    # parent embedded as sortable tuple to avoid None-vs-str compares the
    # reference would crash on; (is_none, value) keeps a total order.
    heapq.heappush(heap, (0, 0, start_url, (True, "")))
    visited: set[str] = set()
    depths: dict[str, int] = {start_url: 0}
    results: list[OracleResult] = []
    pages_crawled = 0
    seq = 0

    while heap:
        if pages_crawled >= spec.max_pages:  # :146-149
            break
        batch: list[tuple[float, int, str, tuple]] = []
        for _ in range(spec.batch_size):  # visited pops consume slots, :153-160
            if not heap:
                break
            item = heapq.heappop(heap)
            if item[2] in visited:
                continue
            visited.add(item[2])
            batch.append(item)
        if not batch:
            continue
        for score, depth, url, parent_t in batch:  # stream pinned to batch order
            page = graph.fetch(url)
            parent = None if parent_t[0] else parent_t[1]
            results.append(OracleResult(seq, url, depth, parent, score, page.success, page.status_code))
            seq += 1
            if page.success:
                pages_crawled += 1
                new_links: list[tuple[str, str | None]] = []
                _bff_link_discovery(
                    graph, page, url, depth, visited, new_links, depths, spec, pages_crawled
                )
                for new_url, new_parent in new_links:
                    new_depth = depths.get(new_url, depth + 1)
                    new_score = spec.scorer.py_score(new_url) if spec.scorer else 0
                    heapq.heappush(heap, (new_score, new_depth, new_url, (False, new_parent)))
    return results, visited


def _bff_link_discovery(graph, page, source_url, current_depth, visited,
                        next_links, depths, spec, pages_crawled):
    """bff_strategy.py:76-125 verbatim — NO canonicalization, unsorted
    capacity truncation."""
    new_depth = current_depth + 1
    if new_depth > spec.max_depth:
        return
    remaining = spec.max_pages - pages_crawled
    if remaining <= 0:
        return
    valid_links: list[str] = []
    for href in _split_links(page, spec):
        try:
            abs_href = normalize_url(href, source_url)  # C1: scraper output
        except ValueError:
            continue
        if abs_href in visited:
            continue
        if not _can_process(abs_href, new_depth, spec):
            continue
        valid_links.append(abs_href)
    if len(valid_links) > remaining:
        valid_links = valid_links[: int(remaining)]
    for url in valid_links:
        depths[url] = new_depth
        next_links.append((url, source_url))


def crawl(graph: OracleGraph, start_url: str, spec: CrawlSpec):
    fn = {"bfs": crawl_bfs, "dfs": crawl_dfs, "best_first": crawl_best_first,
          "dfs_batched": crawl_dfs_batched}[spec.strategy]
    return fn(graph, start_url, spec)


# ---------------------------------------------------------------------------
# Scheduled BFS twin: politeness budget (D1), 429/503 backoff (D2), robots
# gate (P8) over the superstep loop — the documented batch translation of
# the reference dispatcher (async_dispatcher.py:30-87: per-domain sleeps
# become per-superstep deferral).
#
# VERIFICATION INDEPENDENCE: nothing below imports from
# ``crawl4ai_spark.operators`` — the backoff fold, the robots allow logic,
# and the scheduling loops are re-derived here from the reference source
# (async_dispatcher.py:67-87, utils.py:276-328) plus the engine's published
# determinization spec, so a bug in operators/politeness.py or
# operators/robots.py shows up as a parity mismatch instead of being
# reproduced on both sides.  The canonicalizer / filters / scorers imported
# at module top (functions.*) are shared deliberately: each is anchored to
# the REFERENCE's own golden tables by tests/test_canonical.py,
# test_filters_golden.py and test_scorers_golden.py, so sharing them cannot
# mask an engine bug.  Mirrors the level (BFS) pop policy of the superstep
# kernel in plans/frontier.py row for row, including result (superstep,
# seq) conventions, so its output is the expected table for the engine's
# bfs/robots/backoff probes.
# ---------------------------------------------------------------------------

import math
import re


class OracleRateLimiter:
    """Independent twin of the reference ``RateLimiter``
    (async_dispatcher.py:30-87) under the engine's determinization spec.

    Reference semantics, per host (= netloc):
      - first contact draws delay ~ uniform(base_delay)  (:62-63);
      - status in rate_limit_codes: fail_count += 1; past max_retries the
        host gives up (:72-75); else delay = min(delay × 2 × uniform(0.75,
        1.25), max_delay)  (:77-80);
      - any other status: delay = max(uniform(base_delay), delay × 0.75),
        fail_count = 0  (:81-86).

    Determinization spec (shared contract with the engine so parity runs
    agree on one schedule; each side implements it separately): every
    ``random.uniform`` draw becomes ``lo + (hi-lo) × u`` with
    u = xxh64(tag)/2^64 and tags ``base|{seed}|{host}``,
    ``jit|{seed}|{host}|{superstep}|{fail_count}``,
    ``succ|{seed}|{host}|{superstep}``.  ``xxh64`` is the shared hash
    primitive (verified bit-identical to Spark's ``F.xxhash64`` in
    tests/test_hashing.py), not engine operator logic.
    """

    BASE_DELAY = (1.0, 3.0)  # async_dispatcher.py:33
    MAX_DELAY = 60.0  # :34
    RATE_LIMIT_CODES = (429, 503)  # :36

    def __init__(self, seed: int = 42, max_retries: int = 3):
        self.seed = seed
        self.max_retries = max_retries
        self.state: dict[str, dict] = {}

    @staticmethod
    def _unit(tag: str) -> float:
        from ..hashing import xxh64

        return xxh64(tag.encode()) / 2.0**64

    def observe(self, superstep: int, rows) -> None:
        """Fold one superstep's fetch outcomes; ``rows`` is an iterable of
        (host, seq, status_code), folded in global seq order (the engine's
        documented fold order)."""
        lo, hi = self.BASE_DELAY
        for host, _seq, status in sorted(rows, key=lambda t: t[1]):
            st = self.state.setdefault(
                host, {"delay": 0.0, "fails": 0, "give_up": False}
            )
            if st["delay"] == 0.0:  # first contact (:62-63)
                st["delay"] = lo + (hi - lo) * self._unit(
                    f"base|{self.seed}|{host}"
                )
            if status in self.RATE_LIMIT_CODES:
                st["fails"] += 1
                if st["fails"] > self.max_retries:  # :73-75
                    st["give_up"] = True
                    continue
                jit = 0.75 + 0.5 * self._unit(
                    f"jit|{self.seed}|{host}|{superstep}|{st['fails']}"
                )
                st["delay"] = min(st["delay"] * 2 * jit, self.MAX_DELAY)  # :77-80
            else:
                base = lo + (hi - lo) * self._unit(
                    f"succ|{self.seed}|{host}|{superstep}"
                )
                st["delay"] = max(base, st["delay"] * 0.75)  # :81-86
                st["fails"] = 0

    def retry_steps(self, host: str, window_s: float) -> int | None:
        """Supersteps until a rate-limited row on ``host`` may refetch
        (ceil(delay / window), ≥ 1), or None if the host gave up."""
        st = self.state.get(host)
        if st is None or st["give_up"]:
            return None
        return max(1, math.ceil(st["delay"] / window_s))


@dataclass
class ScheduleSpec(CrawlSpec):
    politeness_budget: int | None = None
    backoff: bool = False
    superstep_window_s: float = 10.0
    max_retries: int = 3
    seed: int = 42
    max_supersteps: int = 10_000
    user_agent: str = "*"


def _host_of_py(url: str) -> str:
    """Twin of functions/urlparts.host_of (regex ``://([^/]+)``, lowered)."""
    m = re.search(r"://([^/]+)", url)
    return m.group(1).lower() if m else ""


def robots_allower(robots_pdf, user_agent: str = "*", now: int = 1_700_000_000):
    """Independent robots twin, re-derived from the reference can_fetch
    (utils.py:276-328): only a 200 robots fetch yields rules (any other
    status / missing body ⇒ allow-all, :304-315); the stdlib
    RobotFileParser over those rules, which applies the first rule line
    that matches, in file order (not the longest match); every
    parse/evaluate failure allows.  A host with more than one rules row
    raises ValueError, as the engine's gate does."""
    from urllib.robotparser import RobotFileParser

    dup = robots_pdf.host[robots_pdf.host.duplicated()]
    if len(dup):
        raise ValueError(
            f"robots rules: more than one row for host {dup.iloc[0]}")
    rules_by_host = {
        r.host: (r.rules if int(r.status) == 200 and r.rules else None)
        for r in robots_pdf.itertuples()
    }
    parsers: dict[str, object] = {}

    def allowed(host: str, url: str) -> bool:
        rules = rules_by_host.get(host)
        if not rules:
            return True
        if host not in parsers:
            rp = RobotFileParser()
            try:
                rp.parse(rules.splitlines())
                parsers[host] = rp if rp.mtime() else None
            except Exception:
                parsers[host] = None
        rp = parsers[host]
        if rp is None:
            return True
        try:
            return rp.can_fetch(user_agent, url)
        except Exception:
            return True

    return allowed


def _sched_discover(graph, page, row, seen, pending_urls, spec, remaining):
    """Engine _discover twin for one parent: returns ordered
    (url, parent, depth, score) — internal-then-external, C1+C2, validity +
    filter chain on the absolute href, seen/pending exclusion, score
    threshold, capacity truncation (score-desc stable sort on overflow)."""
    next_depth = row["depth"] + 1
    if next_depth > spec.max_depth or remaining <= 0:
        return []
    parent_url = row["url"]
    valid: list[tuple[str, float]] = []
    for href in _split_links(page, spec):
        try:
            abs_href = normalize_url(href, parent_url)
        except ValueError:
            continue
        base_url = normalize_url_for_deep_crawl(abs_href, parent_url)
        if base_url in seen or base_url in pending_urls:
            continue
        if not _can_process(abs_href, next_depth, spec):
            continue
        score = spec.scorer.py_score(base_url) if spec.scorer else 0.0
        if score < spec.score_threshold:
            continue
        valid.append((base_url, score))
    if len(valid) > remaining:
        if spec.scorer:
            valid.sort(key=lambda x: x[1], reverse=True)  # stable
        valid = valid[: int(remaining)]
    return [(u, parent_url, next_depth, s) for u, s in valid]


def crawl_bfs_scheduled(graph: OracleGraph, seeds: list[str],
                        spec: ScheduleSpec, robots_pdf=None):
    """Returns (results, seen): results are dicts with the engine's result
    columns (superstep, seq, url, host, depth, parent, score, success,
    status_code, attempt) ordered by (superstep, depth, seq)."""
    allowed = (
        robots_allower(robots_pdf, spec.user_agent)
        if robots_pdf is not None
        else (lambda h, u: True)
    )
    frontier = [
        {"url": u, "parent": None, "depth": 0, "seq": i, "score": 0.0,
         "attempt": 0, "ready": 0}
        for i, u in enumerate(seeds)
    ]
    enq_base = len(seeds)
    seen: set[str] = set()
    results: list[dict] = []
    pages_crawled = 0
    superstep = 0
    limiter = OracleRateLimiter(seed=spec.seed, max_retries=spec.max_retries)
    budget = spec.politeness_budget
    while superstep < spec.max_supersteps and frontier:
        if spec.backoff:
            eligible = [r for r in frontier if r["ready"] <= superstep]
            if not eligible:
                superstep = min(r["ready"] for r in frontier)
                continue
            waiting = [r for r in frontier if r["ready"] > superstep]
        else:
            eligible, waiting = list(frontier), []
        eligible.sort(key=lambda r: (r["depth"], r["seq"]))
        for r in eligible:
            r["fetch_key"] = normalize_url_for_deep_crawl(r["url"], r["url"])
            r["host"] = _host_of_py(r["fetch_key"])
        if budget is not None:
            taken: dict[str, int] = {}
            within, deferred = [], []
            for r in eligible:
                c = taken.get(r["host"], 0)
                if c < budget:
                    within.append(r)
                    taken[r["host"]] = c + 1
                else:
                    deferred.append(r)
        else:
            within, deferred = eligible, []
        for r in within:
            seen.add(r["url"])
        first_parent: dict[str, str | None] = {}
        for r in sorted(within, key=lambda r: r["seq"]):
            if r["url"] not in first_parent:
                first_parent[r["url"]] = r["parent"]
        batch = []  # (row, page_or_None, status)
        for r in within:
            if not allowed(r["host"], r["fetch_key"]):
                success, status, page = False, 403, None
            else:
                page = graph.fetch(r["url"])
                success, status = page.success, page.status_code
                if not success:
                    page = None
            results.append(
                {"superstep": superstep, "seq": r["seq"], "url": r["url"],
                 "host": r["host"], "depth": r["depth"],
                 "parent": first_parent[r["url"]], "score": r["score"],
                 "success": success, "status_code": status,
                 "attempt": r["attempt"]}
            )
            batch.append((r, page, status))
        n_success = sum(1 for _, p, _ in batch if p is not None)
        pages_crawled += n_success
        retries: list[dict] = []
        if spec.backoff:
            limiter.observe(
                superstep, [(r["host"], r["seq"], st) for r, _p, st in batch]
            )
            for r, _p, st in batch:
                if (st in OracleRateLimiter.RATE_LIMIT_CODES
                        and r["attempt"] < spec.max_retries):
                    steps = limiter.retry_steps(
                        r["host"], spec.superstep_window_s
                    )
                    if steps is not None:
                        retries.append(
                            {"url": r["url"], "parent": r["parent"],
                             "depth": r["depth"], "seq": r["seq"],
                             "score": r["score"], "attempt": r["attempt"] + 1,
                             "ready": superstep + steps}
                        )
        pending = deferred + waiting + retries
        pending_urls = {p["url"] for p in pending}
        remaining = spec.max_pages - pages_crawled
        new_rows: list[dict] = []
        if n_success and remaining > 0:
            # enqueue order: parent seq asc (engine orders discovery by
            # ["parent_seq", "rn"] in with_global_seq)
            for r, page, _st in sorted(batch, key=lambda b: b[0]["seq"]):
                if page is None:
                    continue
                for u, par, d, sc in _sched_discover(
                    graph, page, r, seen, pending_urls, spec, remaining
                ):
                    new_rows.append(
                        {"url": u, "parent": par, "depth": d,
                         "seq": enq_base + len(new_rows), "score": sc,
                         "attempt": 0, "ready": 0}
                    )
        frontier = pending + new_rows
        enq_base += len(new_rows)
        superstep += 1
    results.sort(key=lambda r: (r["superstep"], r["depth"], r["seq"]))
    return results, seen


def crawl_best_first_scheduled(graph: OracleGraph, seeds: list[str],
                               spec: ScheduleSpec, robots_pdf=None):
    """Engine twin of the heap (best-first) pop policy's scheduled loop
    (D1 budget deferral back to the queue, D2 retry re-push, robots gate).
    Returns (results, seen) with the engine's result columns ordered by
    seq."""
    allowed = (
        robots_allower(robots_pdf, spec.user_agent)
        if robots_pdf is not None
        else (lambda h, u: True)
    )
    queue = [
        {"score": 0.0, "depth": 0, "url": u, "parent": None, "push_seq": i,
         "attempt": 0, "ready": 0}
        for i, u in enumerate(seeds)
    ]
    heap_key = lambda r: (  # noqa: E731 — engine heap_order
        r["score"], r["depth"], r["url"],
        (r["parent"] is not None, r["parent"] or ""), r["push_seq"],
    )
    dedup_key = lambda r: (  # engine wdup ordering (no url — it partitions)
        r["score"], r["depth"], (r["parent"] is not None, r["parent"] or ""),
        r["push_seq"],
    )
    seen: set[str] = set()
    results: list[dict] = []
    pages_crawled = 0
    superstep = 0
    result_seq = 0
    push_base = len(seeds)
    limiter = OracleRateLimiter(seed=spec.seed, max_retries=spec.max_retries)
    budget = spec.politeness_budget
    while superstep < spec.max_supersteps and queue:
        if pages_crawled >= spec.max_pages:
            break
        if spec.backoff:
            eligible = [r for r in queue if r["ready"] <= superstep]
            if not eligible:
                superstep = min(r["ready"] for r in queue)
                continue
        else:
            eligible = list(queue)
        popped = sorted(eligible, key=heap_key)[: spec.batch_size]
        popped_ids = {id(r) for r in popped}
        rest = [r for r in queue if id(r) not in popped_ids]
        # visited check consumes slots; retries exempt; dedup first-per-url
        survivors = [r for r in popped
                     if r["attempt"] > 0 or r["url"] not in seen]
        by_url: dict[str, dict] = {}
        for r in survivors:
            cur = by_url.get(r["url"])
            if cur is None or dedup_key(r) < dedup_key(cur):
                by_url[r["url"]] = r
        batch0 = sorted(by_url.values(), key=heap_key)
        for r in batch0:
            r["fetch_key"] = normalize_url_for_deep_crawl(r["url"], r["url"])
            r["host"] = _host_of_py(r["fetch_key"])
        if budget is not None:
            taken: dict[str, int] = {}
            within, deferred = [], []
            for r in batch0:
                c = taken.get(r["host"], 0)
                if c < budget:
                    within.append(r)
                    taken[r["host"]] = c + 1
                else:
                    deferred.append(r)
        else:
            within, deferred = batch0, []
        if not within:
            queue = rest + deferred
            superstep += 1
            continue
        for i, r in enumerate(within):
            r["seq"] = result_seq + i
            seen.add(r["url"])
        batch = []
        for r in within:
            if not allowed(r["host"], r["fetch_key"]):
                success, status, page = False, 403, None
            else:
                page = graph.fetch(r["url"])
                success, status = page.success, page.status_code
                if not success:
                    page = None
            results.append(
                {"superstep": superstep, "seq": r["seq"], "url": r["url"],
                 "host": r["host"], "depth": r["depth"],
                 "parent": r["parent"], "score": r["score"],
                 "success": success, "status_code": status,
                 "attempt": r["attempt"]}
            )
            batch.append((r, page, status))
        n_success = sum(1 for _, p, _ in batch if p is not None)
        retries: list[dict] = []
        if spec.backoff:
            limiter.observe(
                superstep, [(r["host"], r["seq"], st) for r, _p, st in batch]
            )
            for r, _p, st in batch:
                if (st in OracleRateLimiter.RATE_LIMIT_CODES
                        and r["attempt"] < spec.max_retries):
                    steps = limiter.retry_steps(
                        r["host"], spec.superstep_window_s
                    )
                    if steps is not None:
                        retries.append(
                            {"score": r["score"], "depth": r["depth"],
                             "url": r["url"], "parent": r["parent"],
                             "push_seq": r["push_seq"],
                             "attempt": r["attempt"] + 1,
                             "ready": superstep + steps}
                        )
        # discovery in seq order with cumulative remaining (bff :146-149
        # page budget counts successes as they land)
        pushes: list[dict] = []
        running = pages_crawled
        for r, page, _st in batch:
            if page is None:
                continue
            running += 1
            remaining = spec.max_pages - running
            new_depth = r["depth"] + 1
            if new_depth > spec.max_depth or remaining <= 0:
                continue
            valid: list[str] = []
            for href in _split_links(page, spec):
                try:
                    abs_href = normalize_url(href, r["url"])
                except ValueError:
                    continue
                if abs_href in seen:
                    continue
                if not _can_process(abs_href, new_depth, spec):
                    continue
                valid.append(abs_href)
            if len(valid) > remaining:
                valid = valid[: int(remaining)]
            for u in valid:
                sc = spec.scorer.py_score(u) if spec.scorer else 0.0
                pushes.append(
                    {"score": sc, "depth": new_depth, "url": u,
                     "parent": r["url"], "push_seq": push_base + len(pushes),
                     "attempt": 0, "ready": 0}
                )
        queue = rest + pushes + deferred + retries
        push_base += len(pushes)
        pages_crawled += n_success
        result_seq += len(within)
        superstep += 1
    results.sort(key=lambda r: r["seq"])
    return results, seen
