"""Distributed helpers that avoid single-partition bottlenecks, and
JVM-local frames that start no Python worker."""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def empty_frame(spark, schema: str) -> DataFrame:
    """An empty DataFrame of the DDL ``schema``, planned in the JVM.

    ``spark.createDataFrame([], schema)`` (and an empty pandas frame) is
    backed by a PythonRDD under classic PySpark, so every job that reads
    it starts Python workers to re-serialize no rows."""
    return spark.range(0).select(*[
        F.lit(None).cast(f.dataType).alias(f.name)
        for f in StructType.fromDDL(schema).fields
    ])


def _frozen_partitions(df: DataFrame, order_cols: list[Column | str],
                       num_partitions: int | None) -> DataFrame:
    """Range-partition + sort by ``order_cols`` and freeze the result with an
    eager localCheckpoint: both passes (per-partition stats collect, then the
    offset assign pass) must see IDENTICAL partitions — a recompute would
    resample range boundaries.  localCheckpoint (vs persist) also lets the
    ContextCleaner release the blocks when the plan is GC'd; a persist()
    stays registered in the CacheManager forever (block-manager leak when
    called once per superstep)."""
    rng = (
        df.repartitionByRange(num_partitions, *order_cols)
        if num_partitions
        else df.repartitionByRange(*order_cols)
    )
    return (
        rng.sortWithinPartitions(*order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )


def with_global_seq(df: DataFrame, order_cols: list[Column | str],
                    out_col: str = "seq", start: int = 0,
                    num_partitions: int | None = None) -> DataFrame:
    """Dense global 0-based rank by ``order_cols`` WITHOUT a
    single-partition window: range-partition on the sort key, freeze the
    partitions, collect per-partition counts, then assign offset + local
    index in one JVM projection.

    This is the scale-safe replacement for
    ``row_number().over(Window.orderBy(...))`` — the naive form funnels the
    whole superstep through one task.

    The local index is ``monotonically_increasing_id()`` minus its
    partition part (``__pid << 33``): over the frozen partitions it counts
    each partition's rows in their sorted order.  No Python worker runs;
    a worker call costs a fixed share of CPU whatever its row count.

    The upstream pipeline is evaluated exactly ONCE (the eager
    localCheckpoint); emptiness falls out of the per-partition counts — a
    ``take(1)`` probe here would run the whole upstream a second time.
    """
    d = _frozen_partitions(df, order_cols, num_partitions)
    sizes = {r["__pid"]: r["count"] for r in d.groupBy("__pid").count().collect()}
    if not sizes:
        return d.drop("__pid").withColumn(out_col, F.lit(start).cast("long"))
    offsets = []
    acc = start
    for pid in sorted(sizes):
        offsets += [F.lit(pid), F.lit(acc).cast("long")]
        acc += sizes[pid]
    pid = F.col("__pid")
    local = F.monotonically_increasing_id() - F.shiftleft(pid.cast("long"), 33)
    return d.withColumn(
        out_col, F.create_map(*offsets)[pid] + local
    ).drop("__pid")


def with_global_cumsum(df: DataFrame, order_cols: list[Column | str],
                       val_col: str, out_col: str = "cumsum",
                       num_partitions: int | None = None) -> DataFrame:
    """Inclusive running sum of ``val_col`` in global ``order_cols`` order
    WITHOUT a single-partition window (the scale-safe replacement for
    ``sum(x).over(Window.orderBy(...))``): range-partition + sort, collect
    per-partition sums, broadcast prefix offsets, cumsum per partition in
    one Arrow pass.  ``val_col`` must be numeric; output is long.
    Upstream evaluated once (see with_global_seq)."""
    d = _frozen_partitions(df, order_cols, num_partitions)
    sums = {
        r["__pid"]: int(r["s"] or 0)
        for r in d.groupBy("__pid").agg(
            F.sum(F.col(val_col).cast("long")).alias("s")
        ).collect()
    }
    if not sums:
        return d.drop("__pid").withColumn(out_col, F.lit(0).cast("long"))
    offsets = {}
    acc = 0
    for pid in sorted(sums):
        offsets[pid] = acc
        acc += sums[pid]
    bc = d.sparkSession.sparkContext.broadcast(offsets)
    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        run = 0
        off = None
        for b in batches:
            if off is None and len(b):
                off = bc.value[int(b["__pid"].iloc[0])]
            b = b.copy()
            vals = b[val_col].fillna(0).astype("int64")
            b[out_col] = off + run + vals.cumsum()
            run += int(vals.sum())
            yield b.drop(columns=["__pid"])

    return d.mapInPandas(assign, f"{fields}, {out_col} long")

def widen(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Round-robin repartition a NARROW input up to the session parallelism
    before a compute-heavy per-row stage.

    Parquet scans cannot split below row-group granularity, so a small
    single-row-group file yields 1-2 partitions no matter how low
    ``spark.sql.files.maxPartitionBytes`` is set — and a heavy expression
    or Arrow stage then grinds on 2 of 32 cores.  At 100 TB the scan has
    thousands of splits and this is a no-op (``getNumPartitions`` already
    ≥ cores); the repartition only ever fires on narrow inputs, where the
    one extra row shuffle is far cheaper than the serialized compute.
    """
    sc = df.sparkSession.sparkContext
    target = min_parts or sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def hex_bucketed_cumsum(df: DataFrame, hex_col: str, tiebreak_col: str,
                        val_col: str, out_col: str = "cumsum",
                        n_buckets: int | None = None,
                        deterministic_upstream: bool = False) -> DataFrame:
    """Inclusive running sum in global (hex_col, tiebreak_col) order,
    specialized for UNIFORM hex keys (md5 draws): bucket boundaries are
    known a priori — bucket = first 16 bits of the key scaled to
    n_buckets — so the generic path's range-boundary SAMPLING job (a full
    extra execution of the upstream) and its cross-partition sort shuffle
    disappear.  One eager localCheckpoint (upstream executes exactly
    once), one tiny per-bucket total agg (collect of n_buckets rows),
    then ONE shuffle: groupBy(bucket).applyInPandas sorting and
    cumsum-ing each bucket locally with its broadcast prefix offset.
    Bucket populations are uniform by construction, so no skew.

    ``deterministic_upstream=True`` skips the checkpoint and evaluates
    the upstream twice (once for the tiny agg, once for the fold shuffle):
    the checkpoint write is core-count-independent I/O that dominates at
    high parallelism, while a deterministic upstream's second evaluation
    scales with cores.  Totals are exact integer sums (partition-order
    independent) and the fold sees whole buckets, so the two evaluations
    cannot diverge — ONLY set it when the upstream really is a pure
    function of its input (no spark sampling, no rand()).

    Exactly with_global_cumsum's semantics for this key shape; val_col
    must be numeric, output long."""
    sc = df.sparkSession.sparkContext
    P = int(n_buckets or sc.defaultParallelism)
    prefix = F.conv(F.substring(hex_col, 1, 4), 16, 10).cast("long")
    bucket = F.floor((prefix * P) / F.lit(65536.0)).cast("int")
    d = df.withColumn("__bkt", bucket)
    if not deterministic_upstream:
        d = d.localCheckpoint(eager=True)
    totals = {
        r["__bkt"]: int(r["s"] or 0)
        for r in d.groupBy("__bkt").agg(
            F.sum(F.col(val_col).cast("long")).alias("s")
        ).collect()
    }
    offsets = {}
    acc = 0
    for b in sorted(totals):
        offsets[b] = acc
        acc += totals[b]
    bc = sc.broadcast(offsets)
    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([hex_col, tiebreak_col]).reset_index(drop=True)
        off = bc.value[int(pdf["__bkt"].iloc[0])] if len(pdf) else 0
        pdf[out_col] = pdf[val_col].astype("int64").cumsum() + off
        return pdf.drop(columns=["__bkt"])

    return d.groupBy("__bkt").applyInPandas(fold, f"{fields}, {out_col} long")
