"""Per-domain politeness: deterministic slot assignment, budgets, backoff.

Reference semantics (crawl4ai/async_dispatcher.py:30-87):
  - per-domain delay drawn uniform(1,3) s on first contact (:62-63) — we pin
    the draw per host via seeded hash (gen_politeness) so parity runs share
    one schedule (north_rule: "same politeness budget");
  - request i on a host waits delay after request i-1 → request i's virtual
    send slot is i * delay within the superstep;
  - 429/503 → fail_count++, give up past max_retries(3), delay =
    min(delay × 2 × jitter(0.75..1.25), 60) (:67-80);
  - success → delay = max(uniform(base), delay × 0.75), fail_count = 0
    (:81-86).

Set-oriented shape: one ``Window.partitionBy(host)`` ranks each host's rows
(politeness order = frontier priority order), pure column arithmetic turns
rank into a virtual time slot, and the optional per-superstep *budget*
(= floor(superstep_window / delay)) defers overflow rows to the next
superstep instead of sleeping — the scale-correct translation of "sleep
until slot".  Slots, budgets and salting are JVM-side.  Backoff state is a
per-host aggregate with seeded jitter, folded by ``fold_domain_state_df``:
a cogroup ``applyInPandas``, the one Python stage here (one per superstep
of a crawl with backoff on).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..dist import empty_frame

DEFAULT_BASE_DELAY = (1.0, 3.0)  # async_dispatcher.py:33
MAX_DELAY = 60.0  # :34
MAX_RETRIES = 3  # :35
RATE_LIMIT_CODES = (429, 503)  # :36


def _join_delay(df: DataFrame, politeness: DataFrame | None, host_col: str,
                default_delay: float):
    """(``df``, per-row delay column) for the send-slot operators.
    ``politeness`` is the small (host, delay_s, ...) dimension, broadcast
    joined as ``__delay_s`` (callers drop it).  One dim row per host: a
    duplicate host row would fan every frontier row for that host into
    duplicate fetches (robots_gate_df guards its dim the same way);
    conflicting rows merge to the MAX delay, the most conservative
    (fail-safe) one."""
    if politeness is None:
        return df, F.lit(default_delay)
    dim = politeness.groupBy(host_col).agg(F.max("delay_s").alias("__delay_s"))
    df = df.join(F.broadcast(dim), host_col, "left")
    return df, F.coalesce(F.col("__delay_s"), F.lit(default_delay))


def with_host_slots(df: DataFrame, politeness: DataFrame | None,
                    order_cols: list[str], host_col: str = "host",
                    default_delay: float = 2.0) -> DataFrame:
    """Add ``host_rank`` (0-based fetch order within host) and ``send_at_s``
    (virtual send slot = host_rank × delay_s).  ``politeness`` is the small
    (host, delay_s, ...) dimension — broadcast joined."""
    df, delay = _join_delay(df, politeness, host_col, default_delay)
    w = Window.partitionBy(host_col).orderBy(*order_cols)
    df = df.withColumn("host_rank", F.row_number().over(w) - 1)
    return df.withColumn("send_at_s", F.col("host_rank") * delay).drop(
        "__delay_s")


def apply_host_budget(df: DataFrame, budget: int | None,
                      host_col: str = "host") -> tuple[DataFrame, DataFrame]:
    """Split (within_budget, deferred) on ``host_rank`` < budget.

    Budget = max fetches per host per superstep =
    floor(superstep_window / delay) in production; a constant here so tests
    can assert the invariant directly. Requires with_host_slots first.
    """
    if budget is None:
        return df, df.limit(0)
    within = df.filter(F.col("host_rank") < budget)
    deferred = df.filter(F.col("host_rank") >= budget)
    return within, deferred


def split_host_budget(df: DataFrame, budget: int, order_cols: list,
                      host_col: str = "host",
                      part_col: str = "host_part") -> tuple[DataFrame, DataFrame]:
    """Exact (within, deferred) split for the engine superstep: ``within`` =
    the first ``budget`` rows per host in ``order_cols`` order; ``deferred``
    = the rest, untouched, to re-enter the next superstep's frontier
    (reference intent: RateLimiter sleeps between same-domain requests,
    async_dispatcher.py:44-65 — the batch translation defers the overflow
    to the next politeness window instead of sleeping).

    One window ranks each ``part_col`` key, the D7 partition key of
    ``salt_hot_hosts``.  An unsalted host's key is the host itself, so its
    rank is already exact, and with ``part_col == host_col`` (no host
    salted) that window is the whole split.  A salted host is ranked per
    salted sub-key first, so no task orders a whole hot host; a row past
    sub-key rank ``budget`` is past host rank ``budget`` a fortiori, and
    one more window re-ranks the ≤ buckets × ``budget`` salted survivors
    per host.  The result is EXACTLY the unsalted split — salting here is
    an execution detail, never a semantics change.
    """
    rn = F.col("__rn")
    r = df.withColumn("__rn", F.row_number().over(
        Window.partitionBy(part_col).orderBy(*order_cols)))
    if part_col != host_col:
        near = ~F.col(part_col).eqNullSafe(F.col(host_col)) & (rn <= budget)
        r = r.filter(~near).unionByName(r.filter(near).withColumn(
            "__rn", F.row_number().over(
                Window.partitionBy(host_col).orderBy(*order_cols))))
    return r.filter(rn <= budget).drop("__rn"), r.filter(rn > budget).drop("__rn")


def split_per_host_budget(df: DataFrame, budgets: DataFrame,
                          order_cols: list, host_col: str = "host",
                          budget_col: str = "delay_budget",
                          default_budget: int | None = None,
                          period_col: str = "delay_period",
                          superstep: int | None = None
                          ) -> tuple[DataFrame, DataFrame]:
    """Per-HOST budget split: like ``split_host_budget`` but each host caps
    at ITS OWN budget from the ``budgets(host, budget[, period])``
    dimension — the integration point for ``robots.crawl_delay_stage``'s
    throttle pair (hosts that publish a Crawl-delay get
    max(1, floor(window/delay)) fetches per eligible superstep; others
    fall back to ``default_budget``, None = uncapped).

    When the dimension carries ``period_col`` and ``superstep`` is given,
    a host with period p > 1 (published delay LONGER than the superstep
    window) is eligible only on supersteps where
    ``superstep % p == xxhash64(host) % p`` — its whole queue defers on
    the other p-1 windows, the skip-N-supersteps schedule that makes a
    Crawl-delay: 3600 host crawl slowly instead of starving (the budget
    floor of 1 alone would over-fetch it every window).  The hash phase
    staggers long-period hosts across supersteps instead of thundering
    them on superstep 0.

    The dimension is merged to one row per host and broadcast, so this adds
    no shuffle beyond the same per-host rank window the global split pays.
    Conflicting rows merge fail-safe: the smallest budget (a NULL budget
    counts as ``default_budget``) and the longest period.  It ranks
    per host: it takes no salted partition key."""
    has_period = superstep is not None and period_col in budgets.columns
    default = F.lit(default_budget).cast("int")
    merged = [F.min(F.coalesce(F.col(budget_col).cast("int"), default))
              .alias("__b_budget")]
    if has_period:
        merged.append(F.max(F.col(period_col).cast("int")).alias("__b_period"))
    dim = F.broadcast(
        budgets.groupBy(F.col(host_col).alias("__b_host")).agg(*merged))
    w = Window.partitionBy(host_col).orderBy(*order_cols)
    r = (
        df.withColumn("__rn", F.row_number().over(w))
        .join(dim, F.col(host_col) == F.col("__b_host"), "left")
        .withColumn("__eff", F.coalesce("__b_budget", default))
    )
    drop = ["__rn", "__b_host", "__b_budget", "__eff"]
    ok = F.col("__eff").isNull() | (F.col("__rn") <= F.col("__eff"))
    if has_period:
        phase = F.pmod(F.xxhash64(F.col(host_col)), F.col("__b_period"))
        eligible = (
            F.col("__b_period").isNull() | (F.col("__b_period") <= 1)
            | (F.lit(int(superstep)) % F.col("__b_period") == phase)
        )
        ok = eligible & ok
        drop.append("__b_period")
    within = r.filter(ok)
    deferred = r.filter(~ok)
    return within.drop(*drop), deferred.drop(*drop)


def makespan_metrics(df: DataFrame, host_col: str = "host") -> DataFrame:
    """Per-superstep politeness metrics: per-host request count and virtual
    makespan (max send slot) — the straggler signal that drives salting."""
    return df.groupBy(host_col).agg(
        F.count("*").alias("requests"),
        F.max("send_at_s").alias("makespan_s"),
    )


def update_domain_state(domain_state: pd.DataFrame, results_pdf: pd.DataFrame,
                        seed: int = 42, superstep: int = 0,
                        base_delay: tuple[float, float] = DEFAULT_BASE_DELAY,
                        max_delay: float = MAX_DELAY,
                        max_retries: int = MAX_RETRIES) -> pd.DataFrame:
    """Driver-side domain-state fold (the state is O(#hosts), a dimension):
    reference RateLimiter.update_delay (async_dispatcher.py:67-87) applied
    per host over a superstep's results, with deterministic jitter
    hash(host, superstep)-seeded.

    domain_state columns: host, current_delay, fail_count, give_up(bool).
    """
    from ..hashing import xxh64

    state = {
        r.host: {"current_delay": r.current_delay, "fail_count": int(r.fail_count),
                 "give_up": bool(r.give_up)}
        for r in domain_state.itertuples()
    }
    for r in results_pdf.sort_values("seq").itertuples():
        host = r.host
        st = state.setdefault(
            host, {"current_delay": 0.0, "fail_count": 0, "give_up": False}
        )
        if st["current_delay"] == 0.0:
            u = xxh64(f"base|{seed}|{host}".encode()) / 2**64
            st["current_delay"] = base_delay[0] + (base_delay[1] - base_delay[0]) * u
        if r.status_code in RATE_LIMIT_CODES:
            st["fail_count"] += 1
            if st["fail_count"] > max_retries:
                st["give_up"] = True
                continue
            j = xxh64(f"jit|{seed}|{host}|{superstep}|{st['fail_count']}".encode()) / 2**64
            jitter = 0.75 + 0.5 * j
            st["current_delay"] = min(st["current_delay"] * 2 * jitter, max_delay)
        else:
            u = xxh64(f"succ|{seed}|{host}|{superstep}".encode()) / 2**64
            base = base_delay[0] + (base_delay[1] - base_delay[0]) * u
            st["current_delay"] = max(base, st["current_delay"] * 0.75)
            st["fail_count"] = 0
    return pd.DataFrame(
        [
            {"host": h, "current_delay": s["current_delay"],
             "fail_count": s["fail_count"], "give_up": s["give_up"]}
            for h, s in sorted(state.items())
        ]
    )


DOMAIN_STATE_SCHEMA = "host string, current_delay double, fail_count int, give_up boolean"


def empty_domain_state() -> pd.DataFrame:
    return pd.DataFrame(
        {"host": pd.Series(dtype="object"),
         "current_delay": pd.Series(dtype="float64"),
         "fail_count": pd.Series(dtype="int64"),
         "give_up": pd.Series(dtype="bool")}
    )


def empty_domain_state_df(spark) -> DataFrame:
    return empty_frame(spark, DOMAIN_STATE_SCHEMA)


def fold_domain_state_df(state_df: DataFrame, results: DataFrame,
                         seed: int = 42, superstep: int = 0,
                         base_delay: tuple[float, float] = DEFAULT_BASE_DELAY,
                         max_delay: float = MAX_DELAY,
                         max_retries: int = MAX_RETRIES,
                         num_partitions: int | None = None) -> DataFrame:
    """Fully distributed domain-state fold — the state NEVER visits the
    driver (broadcasting the prior O(#hosts) state and collecting the
    result back would move GBs per superstep at the 10^7-10^8 hosts a
    10^10-URL frontier implies).

    The prior state is a DataFrame keyed by host; this superstep's results
    cogroup with it per host, and the sequential reference fold
    (RateLimiter.update_delay, async_dispatcher.py:67-87) runs inside the
    Arrow stage.  Hosts untouched this superstep pass through unchanged;
    hosts first seen this superstep fold from the empty prior.  Both sides
    shuffle on host — in production the state table is Iceberg-bucketed by
    host so the exchange is one-sided; the caller localCheckpoints the
    result to keep superstep lineage flat.

    The cogroup key is a HASH BUCKET of the host, not the host itself:
    ``applyInPandas`` makes one Python call per key, so keying by host
    would pay one pandas round-trip per host — 10^8 calls at 10^8 hosts.
    Bucketing keeps the per-call unit a batch of hosts (the sequential
    fold inside already handles any number of hosts per frame; hosts are
    independent, so bucket boundaries cannot change results).

    ``num_partitions`` sizes both the bucket count and the exchange
    (callers pass their batch-sized partition count); defaults to the
    session's shuffle parallelism."""
    spark = results.sparkSession
    nb = num_partitions or spark.sparkContext.defaultParallelism
    bucket = F.pmod(F.xxhash64(F.col("host")), F.lit(nb)).alias("bucket")
    st = state_df.select("*", bucket)
    res = results.select("host", "seq", "status_code", bucket)

    def fold(state_pdf: pd.DataFrame, res_pdf: pd.DataFrame) -> pd.DataFrame:
        cols = ["host", "current_delay", "fail_count", "give_up"]
        if res_pdf.empty:
            return state_pdf[cols]
        return update_domain_state(
            state_pdf, res_pdf, seed=seed, superstep=superstep,
            base_delay=base_delay, max_delay=max_delay,
            max_retries=max_retries,
        )

    return (
        st.groupBy("bucket")
        .cogroup(res.groupBy("bucket"))
        .applyInPandas(fold, DOMAIN_STATE_SCHEMA)
    )


def with_salted_host_slots(df: DataFrame, politeness: DataFrame | None,
                           order_cols: list[str], hot_hosts: list[str],
                           salt_buckets: int = 16, host_col: str = "host",
                           url_col: str = "url",
                           default_delay: float = 2.0) -> DataFrame:
    """D7-aware slot assignment: like ``with_host_slots`` but hot hosts are
    ranked inside ``salt_buckets`` salted sub-partitions and interleaved:

        host_rank = local_rank × S + salt        (hot hosts)
        host_rank = local_rank                   (everyone else)

    Ranks stay distinct per host and monotone within each bucket, so every
    request still gets its own delay-spaced politeness slot (slightly
    sparse ranks for hot hosts = conservatively *longer* waits, never a
    violation), while no single task ever has to rank a whole hot host.
    The reference rate-limits in arrival order, not score order
    (async_dispatcher.py:44-65), so bucket-interleaved order is semantically
    equivalent."""
    if not hot_hosts or salt_buckets <= 1:
        return with_host_slots(df, politeness, order_cols, host_col, default_delay)
    df, delay = _join_delay(df, politeness, host_col, default_delay)
    is_hot = F.col(host_col).isin(hot_hosts)
    salt = F.when(
        is_hot, F.pmod(F.xxhash64(F.col(url_col)), F.lit(salt_buckets))
    ).otherwise(F.lit(0)).cast("int")
    df = df.withColumn("__salt", salt)
    w = Window.partitionBy(host_col, "__salt").orderBy(*order_cols)
    local = F.row_number().over(w) - 1
    rank = F.when(is_hot, local * salt_buckets + F.col("__salt")).otherwise(local)
    df = df.withColumn("host_rank", rank.cast("long"))
    return df.withColumn("send_at_s", F.col("host_rank") * delay).drop(
        "__salt", "__delay_s")


def salt_hot_hosts(df: DataFrame, hot_hosts: list[str], buckets: int,
                   url_col: str = "url", host_col: str = "host") -> DataFrame:
    """D7 skew salting: partition-key column ``host_part`` = host, except
    hot hosts fan out to `buckets` salted sub-keys via pmod(xxhash64(url), S).
    ``split_host_budget`` ranks on this key and re-ranks salted survivors
    per host, so budgets stay exact; this only breaks up hot-host
    stragglers."""
    if not hot_hosts or buckets <= 1:
        return df.withColumn("host_part", F.col(host_col))
    salt = F.pmod(F.xxhash64(F.col(url_col)), F.lit(buckets)).cast("string")
    return df.withColumn(
        "host_part",
        F.when(
            F.col(host_col).isin(hot_hosts), F.concat_ws("#", F.col(host_col), salt)
        ).otherwise(F.col(host_col)),
    )


# ---------------------------------------------------------------------------
# Politeness compliance audit + drain forecasting (operational surface)
# ---------------------------------------------------------------------------

def politeness_audit(log: DataFrame, budgets: DataFrame | None = None,
                     default_budget: int = 1,
                     host_col: str = "host",
                     superstep_col: str = "superstep") -> DataFrame:
    """Compliance audit of an emitted fetch log against per-host politeness
    budgets — the validator a crawl operator runs over yesterday's output
    before trusting the scheduler (the set-oriented twin of eyeballing
    RateLimiter logs; reference semantics async_dispatcher.py:30-87).

    ``log`` is any frame with (host, superstep) per fetched page (the
    engine's ``results`` table as-is); ``budgets`` an optional
    ``(host, budget)`` dim — hosts absent from it audit against
    ``default_budget``.  Returns ONE row per (host, superstep) cell:
    ``n_fetches``, ``budget``, ``over_budget`` and the integer
    ``utilization_bp`` (10000·n_fetches DIV budget — >10000 iff violated).
    All-integer, engine-exact.

    Scale shape: ONE partial-agg groupBy on (host, superstep) — the cell
    count is bounded by hosts × supersteps, microscopic next to the log —
    then a broadcast join against the budget dim.  Pure Catalyst.
    """
    cells = (log.groupBy(F.col(host_col).alias("host"),
                         F.col(superstep_col).alias("superstep"))
             .agg(F.count("*").cast("long").alias("n_fetches")))
    if budgets is not None:
        bd = F.broadcast(budgets.select(F.col("host"),
                                        F.col("budget").cast("long")))
        cells = cells.join(bd, "host", "left").withColumn(
            "budget", F.coalesce("budget", F.lit(int(default_budget))))
    else:
        cells = cells.withColumn(
            "budget", F.lit(int(default_budget)).cast("long"))
    return (cells
            .withColumn("over_budget", F.col("n_fetches") > F.col("budget"))
            .withColumn("utilization_bp",
                        F.expr("10000 * n_fetches DIV budget")))


def drain_forecast(frontier: DataFrame, budgets: DataFrame | None = None,
                   default_budget: int = 1,
                   host_col: str = "host") -> DataFrame:
    """Capacity forecast for a frontier under per-host budgets: how many
    politeness supersteps each host needs to drain, and which hosts set
    the crawl's makespan — the planning query behind "is this 10^10
    frontier a week or a quarter at current budgets".

    Returns ONE row per host: ``n_urls``, ``budget``,
    ``supersteps_to_drain`` = ceil(n_urls / budget) as exact integer
    arithmetic ((n + b - 1) DIV b), and ``is_critical`` (this host's
    drain time IS the makespan).  ONE partial-agg groupBy on host + a
    broadcast budget join; the global makespan joins back as a broadcast
    one-row aggregate — the frontier itself is scanned once.
    """
    hosts = (frontier.groupBy(F.col(host_col).alias("host"))
             .agg(F.count("*").cast("long").alias("n_urls")))
    if budgets is not None:
        bd = F.broadcast(budgets.select(F.col("host"),
                                        F.col("budget").cast("long")))
        hosts = hosts.join(bd, "host", "left").withColumn(
            "budget", F.coalesce("budget", F.lit(int(default_budget))))
    else:
        hosts = hosts.withColumn(
            "budget", F.lit(int(default_budget)).cast("long"))
    hosts = hosts.withColumn(
        "supersteps_to_drain",
        F.expr("(n_urls + budget - 1) DIV budget"))
    mk = hosts.agg(F.max("supersteps_to_drain").alias("__makespan"))
    return (hosts.crossJoin(F.broadcast(mk))
            .withColumn("is_critical",
                        F.col("supersteps_to_drain") == F.col("__makespan"))
            .drop("__makespan"))


def ip_budget_split(hosts: DataFrame, dns: DataFrame | None = None,
                    ip_budget: int = 4, budgets: DataFrame | None = None,
                    host_col: str = "host",
                    ip_col: str = "ip") -> DataFrame:
    """Collapse per-host politeness budgets onto the server that
    actually receives the traffic: virtual hosting means thousands of
    crawlable hosts can resolve to ONE IP (shared hosting, CDN edges),
    and a per-host budget multiplied by collocated hosts hammers that
    server — the classic Mercator/Heritrix refinement where the
    politeness key is the IP, not the hostname (the reference's
    RateLimiter keys on domain only: async_configs rate_limiter).

    Inputs: ``hosts`` (one row per host), ``dns`` (host → ip map; hosts
    without a row resolve to themselves — their hostname IS the
    politeness key), and the per-IP fetch budget (scalar default or a
    per-ip ``budgets`` DataFrame (ip, budget)).

    Each IP's budget is split exactly among its hosts: every host gets
    ``budget DIV n`` and the first ``budget % n`` hosts in lexicographic
    order get one extra — integer-exact, deterministic under any
    partitioning.  ``starved`` marks hosts granted 0 this superstep
    (they rotate in next superstep once the lexicographic window
    advances — callers rotate by re-aliasing, or treat starved as
    "defer").

    Emits: host, ip, n_hosts_on_ip, ip_budget, granted, starved.

    Scale shape: host-dimension frames throughout (never the frontier
    itself); ONE join host→dns co-partitioned on host, then ONE window
    partitioned by ip over the host-dim frame.  At 10^8 hosts this is
    the cheap side of the superstep.
    """
    h = hosts.select(host_col).distinct()
    if dns is not None:
        # a host with multiple A records must key on exactly ONE ip —
        # otherwise the left join fans the host out and it collects a
        # share from every server's budget (the hammering this operator
        # exists to prevent).  min(ip) picks the deterministic primary.
        primary = dns.groupBy(host_col).agg(F.min(ip_col).alias(ip_col))
        mapped = h.join(primary, host_col, "left")
        mapped = mapped.withColumn(
            ip_col, F.coalesce(F.col(ip_col), F.col(host_col)))
    else:
        mapped = h.withColumn(ip_col, F.col(host_col))
    if budgets is not None:
        # joined on ip WITHOUT a forced broadcast: the budgets dim is
        # ip-dimension sized (≈ hosts / collocation factor — can be 10^7+
        # at full scale), and a shuffle join on ip co-partitions with the
        # ip window below, so the exchange is shared; AQE still picks a
        # broadcast when the dim is actually small
        # one budget per ip, MIN on conflict (the conservative budget):
        # a duplicate ip row would fan every collocated host into several
        # rows, inflating the ip's host count and its granted total
        ipb = budgets.groupBy(ip_col).agg(F.min("budget").alias("__ipb"))
        mapped = mapped.join(ipb, ip_col, "left")
        budget = F.coalesce(F.col("__ipb"), F.lit(int(ip_budget)))
    else:
        budget = F.lit(int(ip_budget))
    wn = Window.partitionBy(ip_col)
    wr = Window.partitionBy(ip_col).orderBy(host_col)
    n = F.count("*").over(wn).cast("long")
    rank = F.row_number().over(wr).cast("long")
    # integer DIV (not float division) keeps the split engine-exact
    granted = F.expr(
        "CAST(__bud DIV __n AS BIGINT) + "
        "CAST(CASE WHEN __rank <= __bud % __n THEN 1 ELSE 0 END AS BIGINT)")
    out = (mapped
           .withColumn("__bud", budget.cast("long"))
           .withColumn("__n", n)
           .withColumn("__rank", rank)
           .withColumn("granted", granted)
           .select(host_col, ip_col,
                   F.col("__n").alias("n_hosts_on_ip"),
                   F.col("__bud").alias("ip_budget"),
                   "granted",
                   (F.col("granted") == 0).alias("starved")))
    return out
