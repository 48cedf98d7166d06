"""Hand-derived backoff + robots truth tables (VERDICT r2 item 1).

The scheduled-crawl oracles used to verify the engine's backoff/robots
arithmetic against the engine's own functions — circular.  These tests
anchor BOTH sides (engine operators AND oracle twins) to trajectories
derived here, in the test file, from the reference semantics directly:

  - RateLimiter.update_delay (reference async_dispatcher.py:67-87):
    first contact delay ~ uniform(base); rate-limit code -> fail_count++,
    give up past max_retries, delay = min(delay*2*uniform(.75,1.25), max);
    success -> delay = max(uniform(base), delay*0.75), fail_count = 0.
  - robots can_fetch (reference utils.py:276-328): only a 200 fetch yields
    rules; stdlib RobotFileParser, first matching rule line in file order;
    every error path allows.

The determinization spec replaces each uniform draw with
lo + (hi-lo) * xxh64(tag)/2^64 for documented tags.  The expected values
below are spelled out with that arithmetic inline — neither
operators/politeness.py nor oracle/crawler.py is consulted to produce
them.  A bug in either implementation fails here.
"""

import math

import pandas as pd
import pytest

from crawl4ai_spark.hashing import xxh64
from crawl4ai_spark.operators.politeness import (
    empty_domain_state,
    update_domain_state,
)
from crawl4ai_spark.oracle.crawler import OracleRateLimiter, robots_allower


def u(tag: str) -> float:
    """The determinization spec's uniform(0,1) draw."""
    return xxh64(tag.encode()) / 2.0**64


def drive_engine(events):
    """Fold (superstep, [(host, seq, status), ...]) through the ENGINE's
    driver fold; returns {host: (delay, fails, give_up)}."""
    state = empty_domain_state()
    for superstep, rows in events:
        pdf = pd.DataFrame(
            [{"host": h, "seq": s, "status_code": c} for h, s, c in rows]
        )
        state = update_domain_state(state, pdf, seed=42, superstep=superstep)
    return {
        r.host: (float(r.current_delay), int(r.fail_count), bool(r.give_up))
        for r in state.itertuples()
    }


def drive_oracle(events):
    rl = OracleRateLimiter(seed=42, max_retries=3)
    for superstep, rows in events:
        rl.observe(superstep, rows)
    return {
        h: (st["delay"], st["fails"], st["give_up"])
        for h, st in rl.state.items()
    }


HOST = "h.test"


def expected_trajectory():
    """The hand-derived truth table: every value computed inline from the
    reference recurrence + determinization spec."""
    # first contact (async_dispatcher.py:62-63): uniform(1, 3)
    d = 1.0 + 2.0 * u(f"base|42|{HOST}")
    rows = [("first_contact", d, 0, False)]
    # superstep 0: one 429 -> fail 1 (async_dispatcher.py:72-80)
    d = min(d * 2 * (0.75 + 0.5 * u(f"jit|42|{HOST}|0|1")), 60.0)
    rows.append(("fail1", d, 1, False))
    # superstep 1: success -> decay + reset (:81-86)
    d = max(1.0 + 2.0 * u(f"succ|42|{HOST}|1"), d * 0.75)
    rows.append(("success", d, 0, False))
    # superstep 2: three 503s in seq order -> fails 1..3
    for n in (1, 2, 3):
        d = min(d * 2 * (0.75 + 0.5 * u(f"jit|42|{HOST}|2|{n}")), 60.0)
        rows.append((f"s2_fail{n}", d, n, False))
    # superstep 3: fourth consecutive fail -> fail_count 4 > max_retries 3,
    # host gives up, delay frozen (:73-75 returns before the delay update)
    rows.append(("give_up", d, 4, True))
    return rows


def test_backoff_trajectory_engine_and_oracle_match_hand_table():
    traj = expected_trajectory()
    events = [
        (0, [(HOST, 0, 429)]),
        (1, [(HOST, 1, 200)]),
        (2, [(HOST, 2, 503), (HOST, 3, 503), (HOST, 4, 503)]),
        (3, [(HOST, 5, 503)]),
    ]
    want_delay, want_fails, want_giveup = traj[-1][1], traj[-1][2], traj[-1][3]
    for drive in (drive_engine, drive_oracle):
        got = drive(events)[HOST]
        assert got[0] == want_delay, drive.__name__
        assert got[1] == want_fails, drive.__name__
        assert got[2] is want_giveup, drive.__name__


def test_backoff_intermediate_states_match_hand_table():
    """Each prefix of the event stream lands exactly on the hand-derived
    intermediate row — catches compounding-order bugs a final-state check
    would miss."""
    traj = expected_trajectory()
    prefixes = [
        ([(0, [(HOST, 0, 429)])], traj[1]),
        ([(0, [(HOST, 0, 429)]), (1, [(HOST, 1, 200)])], traj[2]),
        (
            [(0, [(HOST, 0, 429)]), (1, [(HOST, 1, 200)]),
             (2, [(HOST, 2, 503), (HOST, 3, 503), (HOST, 4, 503)])],
            traj[5],
        ),
    ]
    for events, (_label, d, fails, giveup) in prefixes:
        for drive in (drive_engine, drive_oracle):
            got = drive(events)[HOST]
            assert got == (d, fails, giveup), (drive.__name__, _label)


def test_backoff_reference_invariants():
    """Structural reference semantics, independent of the jitter values."""
    base_lo, base_hi = 1.0, 3.0
    # (a) the delay cap binds: many consecutive fails saturate at 60
    events = [(s, [(HOST, s, 429)]) for s in range(3)]
    for drive in (drive_engine, drive_oracle):
        d, fails, giveup = drive(events)[HOST]
        assert d <= 60.0 and fails == 3 and not giveup
    # (b) success never drops below the base range's low end
    events = [(0, [(HOST, 0, 200)])] + [
        (s, [(HOST, s, 200)]) for s in range(1, 30)
    ]
    for drive in (drive_engine, drive_oracle):
        d, fails, giveup = drive(events)[HOST]
        assert base_lo <= d <= base_hi and fails == 0 and not giveup
    # (c) jitter stays within the reference band: one fail multiplies the
    # prior delay by 2*[0.75, 1.25]
    d0 = 1.0 + 2.0 * u(f"base|42|{HOST}")
    for drive in (drive_engine, drive_oracle):
        d, _, _ = drive([(0, [(HOST, 0, 429)])])[HOST]
        assert 1.5 * d0 <= d <= 2.5 * d0


ROBOTS_TXT = """User-agent: *
Allow: /private/ok.html
Disallow: /private/
Disallow: /tmp
Crawl-delay: 2

User-agent: evilbot
Disallow: /
"""

# hand-derived from the stdlib RobotFileParser semantics the reference
# delegates to (utils.py:318-328): rules apply FIRST-MATCH in file order
# (so the Allow line must precede the broader Disallow to win — unlike
# Google's longest-match spec), matching is by URL-path prefix.
ROBOTS_TRUTH = [
    ("https://t.test/", True),
    ("https://t.test/public/a.html", True),
    ("https://t.test/private/a.html", False),
    ("https://t.test/private/ok.html", True),   # earlier Allow wins
    ("https://t.test/tmp", False),
    ("https://t.test/tmpfile", False),          # prefix match, not dir match
    ("https://t.test/tmp/x", False),
]


@pytest.mark.parametrize("status,expect_gated", [(200, True), (404, False)])
def test_robots_truth_table_engine_and_oracle(status, expect_gated):
    """Only a 200 robots fetch gates (utils.py:304-315); the rule
    evaluation follows the hand table above on both sides."""
    from crawl4ai_spark.operators.robots import allowed_for, effective_rules

    pdf = pd.DataFrame(
        [{"host": "t.test", "rules": ROBOTS_TXT, "fetch_time": 1, "status": status}]
    )
    allowed = robots_allower(pdf)  # oracle side
    rules = effective_rules(ROBOTS_TXT, status)  # engine side
    urls = [u_ for u_, _ in ROBOTS_TRUTH]
    engine_verdicts = allowed_for(urls, rules)
    for (url, want), engine_ok in zip(ROBOTS_TRUTH, engine_verdicts):
        want_here = want if expect_gated else True
        assert allowed("t.test", url) is want_here, ("oracle", url, status)
        assert engine_ok is want_here, ("engine", url, status)


def test_oracle_package_has_no_engine_operator_imports():
    """The decoupling guarantee itself: oracle/ must not import
    crawl4ai_spark.operators (VERDICT r2 'done' criterion) — checked on
    the AST so docstring mentions don't false-positive."""
    import ast
    import pathlib

    for f in pathlib.Path("crawl4ai_spark/oracle").glob("*.py"):
        tree = ast.parse(f.read_text())
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                mod = node.module or ""
                assert "operators" not in mod, (f, mod)
            elif isinstance(node, ast.Import):
                for alias in node.names:
                    assert "operators" not in alias.name, (f, alias.name)
