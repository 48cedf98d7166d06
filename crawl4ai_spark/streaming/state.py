"""Custom stateful streaming operator: per-host RateLimiter state over the
live crawl result stream (D2 as Structured Streaming).

The batch engine folds reference RateLimiter semantics
(async_dispatcher.py:67-87) once per superstep
(operators/politeness.update_domain_state, run per host bucket by
fold_domain_state_df).  A monitoring/operations consumer tailing the crawl
(streaming/results.py) wants the SAME state live — so this module
re-expresses the fold as an ``applyInPandasWithState`` operator: state
key = host, state value = (current_delay, fail_count, give_up,
last_superstep), each micro-batch folds its rows in (superstep, seq)
order through the identical ``update_domain_state`` code path, and emits
one snapshot row per touched host per batch.

Determinism contract: the fold is order-sensitive only WITHIN a host; rows
of a host are sorted by (superstep, seq) inside each micro-batch, so any
batch-boundary placement yields the batch engine's result PROVIDED a
host's rows arrive in nondecreasing (superstep, seq) order ACROSS batches.
Batches must therefore align to whole supersteps: admit a superstep's
files together (the store manifest marks complete supersteps; a dir's
loose part files carry no intra-superstep order, so ``maxFilesPerTrigger``
smaller than a superstep's file count can split and reorder its rows).
Out-of-order replay would fold stale supersteps onto newer state, like any
order-dependent stateful stream (verified in
tests/test_streaming_state.py against ``update_domain_state`` over the
concatenated history).
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.politeness import update_domain_state

STATE_SCHEMA = "current_delay double, fail_count int, give_up boolean"
OUTPUT_SCHEMA = (
    "host string, current_delay double, fail_count int, give_up boolean, "
    "last_superstep int"
)


def _fold_host(host: str, prior: tuple | None, pdf: pd.DataFrame,
               seed: int, max_retries: int) -> tuple[float, int, bool, int]:
    """Fold one host's new rows (sorted by superstep, seq) through the
    reference state machine, one superstep at a time (the jitter draw is
    keyed by superstep — identical to the batch engine's per-superstep
    folds)."""
    state_pdf = pd.DataFrame(
        [] if prior is None else
        [{"host": host, "current_delay": prior[0], "fail_count": prior[1],
          "give_up": prior[2]}],
        columns=["host", "current_delay", "fail_count", "give_up"],
    )
    pdf = pdf.sort_values(["superstep", "seq"])
    last_superstep = 0
    for superstep, grp in pdf.groupby("superstep", sort=True):
        rows = grp[["seq", "status_code"]].copy()
        rows["host"] = host
        state_pdf = update_domain_state(
            state_pdf, rows, seed=seed, superstep=int(superstep),
            max_retries=max_retries,
        )
        last_superstep = int(superstep)
    r = state_pdf.iloc[0]
    return (float(r["current_delay"]), int(r["fail_count"]),
            bool(r["give_up"]), last_superstep)


def domain_state_stream(results: DataFrame, seed: int = 42,
                        max_retries: int = 3) -> DataFrame:
    """``applyInPandasWithState`` over a streaming results DataFrame
    (host, superstep, seq, status_code, …): emits one
    (host, current_delay, fail_count, give_up, last_superstep) snapshot per
    touched host per micro-batch; state persists across batches in the
    streaming state store."""

    def fold(key: tuple, pdfs: Iterator[pd.DataFrame],
             state: GroupState) -> Iterator[pd.DataFrame]:
        host = key[0]
        prior: Any = state.get if state.exists else None
        rows = pd.concat(list(pdfs), ignore_index=True)
        delay, fails, give_up, last = _fold_host(
            host, prior, rows, seed, max_retries
        )
        state.update((delay, fails, give_up))
        yield pd.DataFrame(
            [{"host": host, "current_delay": delay, "fail_count": fails,
              "give_up": give_up, "last_superstep": last}]
        )

    return (
        results.select("host", "superstep", "seq", "status_code")
        .groupBy("host")
        .applyInPandasWithState(
            fold,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
