"""Robots.txt gating, vectorized (P8, SURVEY §2.2).

Reference semantics (crawl4ai/utils.py:215-339 RobotsParser.can_fetch +
async_webcrawler.py:361-370 gate):
  - rules parsed with stdlib ``urllib.robotparser.RobotFileParser`` —
    identical parser here, so allow/deny parity is by construction;
  - ANY failure path allows: missing host row, fetch error (status != 200),
    empty rules, unparseable rules;
  - stale cache (> 7-day TTL, utils.py:216-217) triggers refetch — in the
    synthetic world a refetch returns the same current rules, so only the
    fetch status decides which rules apply, never the fetch time;
  - a disallowed URL becomes CrawlResult(success=False, status_code=403,
    error="Access denied by robots.txt") and is NOT fetched
    (async_webcrawler.py:361-370).

Execution shape: one gate, ``robots_gate_df``.  The per-host rules table
(``RULES_SCHEMA``) is a DataFrame broadcast-joined onto the frontier on
host; the engine turns a pandas rules table into one once
(``CrawlEngine.__init__``).  One Arrow ``mapInPandas`` pass evaluates the
rules with the parsed RobotFileParser objects memoized per host.  At 100 TB
the frontier arrives partitioned by host (politeness already groups it), so
each batch touches few distinct hosts and the memo hit-rate is ≈1.
"""

from __future__ import annotations

from typing import Iterator
from urllib.robotparser import RobotFileParser

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# the per-host rules table; an explicit schema keeps a pandas table a JVM
# LocalTableScan even when a column is all null
RULES_SCHEMA = "host string, rules string, fetch_time long, status int"


def effective_rules(rules: str | None, status: int) -> str | None:
    """The rules text that applies; None ⇒ allow-all.  Only a 200 robots
    fetch yields rules (utils.py:304-315)."""
    if status != 200 or rules is None:
        return None
    return rules


def _parser(rules: str | None) -> RobotFileParser | None:
    """Parsed rules, or None when they allow everything: empty, unparseable
    or without a single rule line."""
    if not rules:
        return None
    rp = RobotFileParser()
    try:
        rp.parse(rules.splitlines())
    except Exception:
        return None
    return rp if rp.mtime() else None


def _safe_can_fetch(rp: RobotFileParser, agent: str, url: str) -> bool:
    try:
        return rp.can_fetch(agent, url)
    except Exception:
        return True


def allowed_for(urls: list[str], rules: str | None, user_agent: str = "*") -> list[bool]:
    """RobotsParser.can_fetch tail (utils.py:318-328): parse once, evaluate
    each URL; unparseable/empty → allow."""
    rp = _parser(rules)
    if rp is None:
        return [True] * len(urls)
    return [_safe_can_fetch(rp, user_agent, u) for u in urls]


def robots_gate_df(df: DataFrame, rules_df: DataFrame | None,
                   url_col: str = "fetch_key", host_col: str = "host",
                   user_agent: str = "*") -> DataFrame:
    """Add boolean ``robots_allowed`` to ``df``.

    ``rules_df`` is the per-host rules table (``RULES_SCHEMA``), never
    materialized on the driver; None ⇒ gate disabled (check_robots_txt
    defaults False, async_configs.py:713) and every row is allowed.  The
    table is broadcast and left-joined on host, and one Arrow pass parses
    each batch's rules with a per-host memo — the frontier arrives
    host-partitioned, so each task touches few distinct hosts.  A host
    with more than one rules row raises."""
    if rules_df is None:
        return df.withColumn("robots_allowed", F.lit(True))
    # one row per host, or the left join would duplicate frontier rows; no
    # row order picks between two, so the broadcast build side raises
    r = F.broadcast(rules_df.groupBy(F.col("host").alias("__r_host")).agg(
        F.when(F.count("*") == 1, F.first("rules")).otherwise(F.raise_error(
            F.concat(F.lit("robots rules: more than one row for host "),
                     F.first("host")))).alias("__r_rules"),
        F.first("status").alias("__r_status"),
    ))
    j = df.join(r, df[host_col] == r["__r_host"], "left").drop("__r_host")
    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )

    def gate(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parsers: dict[str, RobotFileParser | None] = {}
        for b in batches:
            allowed = pd.Series(True, index=b.index)
            for host, idx in b.groupby(host_col, sort=False).groups.items():
                if host not in parsers:
                    raw = b.at[idx[0], "__r_rules"]
                    status = b.at[idx[0], "__r_status"]
                    parsers[host] = _parser(effective_rules(
                        None if pd.isna(raw) else raw,
                        599 if pd.isna(status) else int(status),
                    ))
                rp = parsers[host]
                if rp is None:
                    continue
                allowed.loc[idx] = [
                    _safe_can_fetch(rp, user_agent, u)
                    for u in b.loc[idx, url_col].tolist()
                ]
            out = b.drop(columns=["__r_rules", "__r_status"])
            out["robots_allowed"] = allowed
            yield out

    return j.mapInPandas(gate, f"{fields}, robots_allowed boolean")


def crawl_delay_stage(rules_df: DataFrame, user_agent: str = "*",
                      window_s: float | None = None,
                      rules_col: str = "rules",
                      host_col: str = "host") -> DataFrame:
    """Parse per-host ``Crawl-delay`` (and ``Request-rate``) from robots
    rules — the RobotFileParser surface the reference caches but never
    reads (utils.py:326-328 only calls can_fetch; real crawlers honor the
    delay).  Adds ``crawl_delay double`` (NULL when the directive is
    absent or the rules are missing/unparseable — allow-fast, matching the
    gate's allow-on-error posture; Request-rate collapses to
    seconds-per-request = duration/requests, and the stricter of the two
    wins) and, when ``window_s`` is given, the D1 throttle pair for
    ``politeness.split_per_host_budget``:

    - ``delay_budget int`` = max(1, floor(window_s / delay)) — fetches
      allowed in an ELIGIBLE superstep window;
    - ``delay_period int`` = max(1, ceil(delay / window_s)) — the host is
      eligible once every ``delay_period`` supersteps.

    Together these encode "at most one fetch every delay seconds" for ANY
    delay: delay ≤ window gives (floor(window/delay), 1); delay > window
    gives (1, ceil(delay/window)) — one fetch every N windows.  The
    budget floor of 1 matters: an unclamped floor(window/delay) is 0 for
    large published delays (Crawl-delay: 3600 against a 60 s window),
    which would defer the host on EVERY superstep — permanent starvation
    instead of a slow crawl.

    One Arrow pass over the per-host rules dimension (thousands of rows —
    never the frontier side); zero shuffle.
    """
    import math

    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in rules_df.schema.fields)
    out_schema = f"{fields}, crawl_delay double" + (
        ", delay_budget int, delay_period int" if window_s is not None
        else "")

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            delays: list[float | None] = []
            for rules in b[rules_col].tolist():
                d: float | None = None
                rp = _parser(rules)
                if rp is not None:
                    try:
                        cd = rp.crawl_delay(user_agent)
                        rr = rp.request_rate(user_agent)
                        if cd is not None:
                            d = float(cd)
                        if rr is not None and rr.requests:
                            per = rr.seconds / rr.requests
                            d = per if d is None else max(d, per)
                    except Exception:
                        d = None
                delays.append(d)
            out = b.copy()
            out["crawl_delay"] = pd.Series(delays, index=b.index, dtype="float64")
            if window_s is not None:
                out["delay_budget"] = out["crawl_delay"].map(
                    lambda x: None if pd.isna(x) or x <= 0
                    else max(1, int(window_s // x))).astype("Int32")
                out["delay_period"] = out["crawl_delay"].map(
                    lambda x: None if pd.isna(x) or x <= 0
                    else max(1, math.ceil(x / window_s))).astype("Int32")
            yield out

    return rules_df.mapInPandas(parse, out_schema)
