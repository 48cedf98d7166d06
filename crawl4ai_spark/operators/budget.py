"""Crawl-budget economics: per-host yield measurement and exact
apportionment of a global fetch budget.

At 10^10 frontier URLs the scarce resource is fetches per superstep,
not URLs: every politeness-bounded slot spent on a host that yields
only duplicates is a slot not spent discovering new content.  The
reference has no budget economics at all (its dispatcher fetches
whatever the strategy pops: async_dispatcher.py); large crawlers
(Heritrix budgeting, IRLbot's domain budgets) allocate fetch quota per
host from observed yield.  Two operators:

``yield_report``
    Roll up a superstep's crawl log into per-host economics: fetches,
    successes, links discovered, links that were NEW (survived the
    URL-seen gate), and integer basis-point rates.  ONE partial-agg
    groupBy — the log is fetched-pages sized, the output host-dim.

``apportion_budget``
    Split an integer global budget across hosts proportional to
    integer weights (yield scores, authority, operator priors) with
    the Hamilton/largest-remainder method — the unique apportionment
    that is exactly proportional rounded down, then gives the
    leftover units to the largest fractional remainders.  Everything
    is integer/DECIMAL(38,0)-exact (B·w overflows int64 at plausible
    scales, so the product is computed in decimal), and
    ``sum(granted) == total_budget`` holds exactly.

Scale shape: the weights frame is host-dimension sized, but a naive
``row_number().over(Window.orderBy(remainder))`` would still funnel
10^8 hosts through one task — the extra-unit rank instead uses
``dist.with_global_seq`` (range-partition + per-partition offsets
assigned in the JVM), the same scale-safe global order used by
``sampling.mixture_sample``.  The two scalar reads (weight total,
leftover) are one-row control aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def yield_report(log: DataFrame, host_col: str = "host",
                 success_col: str = "success",
                 links_col: str = "n_links",
                 new_col: str = "n_new") -> DataFrame:
    """Per-host crawl economics for one superstep's log.  Emits
    n_fetched, n_ok, n_links, n_new, plus integer-DIV basis points:
    ``ok_bp`` (successes per fetch), ``dup_bp`` (discovered links
    already seen), ``new_per_10k_fetch`` (new URLs per 10k fetches —
    the quantity a budget allocator maximizes; may exceed 10000)."""
    return (log.groupBy(host_col)
            .agg(F.count("*").cast("long").alias("n_fetched"),
                 F.sum(F.col(success_col).cast("long")).cast("long")
                 .alias("n_ok"),
                 F.sum(F.col(links_col).cast("long")).cast("long")
                 .alias("n_links"),
                 F.sum(F.col(new_col).cast("long")).cast("long")
                 .alias("n_new"))
            .withColumn("ok_bp", F.expr(
                "CAST((10000 * n_ok) DIV n_fetched AS BIGINT)"))
            .withColumn("dup_bp", F.expr(
                "CASE WHEN n_links = 0 THEN 0 ELSE "
                "CAST((10000 * (n_links - n_new)) DIV n_links AS BIGINT) "
                "END"))
            .withColumn("new_per_10k_fetch", F.expr(
                "CAST((10000 * n_new) DIV n_fetched AS BIGINT)")))


def apportion_budget(weights: DataFrame, total_budget: int,
                     host_col: str = "host",
                     weight_col: str = "weight",
                     num_partitions: int | None = None) -> DataFrame:
    """Hamilton largest-remainder apportionment of ``total_budget``
    integer fetch slots across hosts proportional to ``weight_col``
    (non-negative integers).

    Per host: ``base_grant = (B*w) DIV W`` and ``remainder = (B*w) MOD
    W`` computed in DECIMAL(38,0) (B·w can exceed int64); the leftover
    ``L = B - sum(base_grant)`` extra units go to the ``L`` largest
    remainders, host name breaking ties — so ``sum(granted) == B``
    exactly, deterministically under any partitioning.

    Emits: host, weight, base_grant, remainder, extra (bool), granted.
    """
    from ..dist import with_global_seq

    if total_budget < 0:
        raise ValueError("total_budget must be >= 0")
    # freeze the (possibly expensive) upstream ONCE: the weight total,
    # the leftover aggregate, and with_global_seq's range shuffle all
    # read this checkpoint instead of re-evaluating the source pipeline
    w = weights.select(
        F.col(host_col).alias("host"),
        F.col(weight_col).cast("long").alias("weight")).localCheckpoint()
    agg = w.agg(F.sum(F.col("weight").cast("decimal(38,0)")).alias("t"),
                F.min("weight").alias("lo")).collect()[0]
    if agg["lo"] is not None and agg["lo"] < 0:
        # a negative weight makes base_grant/remainder negative and the
        # leftover exceed the host count: sum(granted) == B would break
        raise ValueError("weights must be >= 0")
    tot = agg["t"]
    if tot is None or int(tot) <= 0:
        raise ValueError("weights must sum > 0")
    W = int(tot)
    B = int(total_budget)
    based = (w
             .withColumn("base_grant", F.expr(
                 f"CAST(CAST({B} AS DECIMAL(38,0)) "
                 f"* CAST(weight AS DECIMAL(38,0)) "
                 f"DIV CAST({W} AS DECIMAL(38,0)) AS BIGINT)"))
             .withColumn("remainder", F.expr(
                 f"CAST(CAST({B} AS DECIMAL(38,0)) "
                 f"* CAST(weight AS DECIMAL(38,0)) "
                 f"% CAST({W} AS DECIMAL(38,0)) AS BIGINT)")))
    leftover = B - int(based.agg(
        F.sum("base_grant").alias("s")).collect()[0]["s"] or 0)
    ranked = with_global_seq(
        based, [F.col("remainder").desc(), F.col("host")], "__seq",
        num_partitions=num_partitions)
    return (ranked
            .withColumn("extra", F.col("__seq") < F.lit(int(leftover)))
            .withColumn("granted",
                        (F.col("base_grant")
                         + F.col("extra").cast("long")).cast("long"))
            .drop("__seq"))
