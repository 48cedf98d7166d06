"""Stream-mode result emission (S10 / D5, SURVEY §2.1, §2.6).

Reference semantics: with ``config.stream=True`` the deep-crawl strategies
return an async generator that yields each CrawlResult as it completes
(bfs_strategy.py:189-238 `_arun_stream`; dispatcher streaming
async_dispatcher.py:473-525 yields FIRST_COMPLETED).  The reference's
"streaming" is *result streaming*, not event-time processing — there are no
watermarks or late-data semantics anywhere in crawl4ai (SURVEY §2.8).

Spark-idiomatic translations, both provided:

1. ``stream_crawl`` — micro-batch generator: runs the superstep engine and
   yields one result DataFrame per superstep as soon as its snapshot
   commits.  Emission order = (superstep, seq), the deterministic stand-in
   for the reference's completion order (D5: "for parity, ordering key =
   (superstep, completion rank)").

2. ``results_readstream`` / ``stream_results_to_memory`` — Structured
   Streaming over the engine's snapshot store: each superstep's committed
   ``results/NNNNNN`` parquet directory is a new file-source batch, so any
   downstream consumer (foreachBatch sink, memory sink, kafka in
   production) tails the crawl live while the superstep loop runs.  This is
   the scale path: the crawl job and N consumers are decoupled through the
   store, exactly how an Iceberg-backed deployment would fan results out.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from ..plans.checkpoint import SnapshotStore
from ..plans.frontier import RESULT_SCHEMA, CrawlConfig, CrawlEngine


def stream_crawl(
    spark: SparkSession,
    seeds: list[str],
    pages: DataFrame,
    links: DataFrame,
    config: CrawlConfig,
    on_batch: Callable[[int, DataFrame], None] | None = None,
    **engine_kwargs,
) -> Iterator[tuple[int, DataFrame]]:
    """Micro-batch streaming: yield (superstep, results_df) per superstep.

    Implemented by running the batch engine one superstep at a time
    (max_supersteps=1 resume loop would re-pay setup; instead we wrap the
    engine's per-superstep result parts via a store) — the store is
    REQUIRED here because the commit point is what makes a batch safe to
    hand out (reference yields results only after they complete,
    bfs_strategy.py:233-236).
    """
    store = engine_kwargs.pop("store", None)
    if store is None:
        import tempfile

        store = SnapshotStore(tempfile.mkdtemp(prefix="crawl_stream_"))
    engine = CrawlEngine(spark, pages, links, config, store=store, **engine_kwargs)

    emitted = 0
    done = {}

    import threading

    def run():
        try:
            done["run"] = engine.run(seeds)
        except BaseException as e:  # noqa: BLE001
            done["err"] = e

    t = threading.Thread(target=run, daemon=True)
    t.start()
    import time

    while True:
        mf = store.last_commit()
        latest = mf["superstep"] if mf else -1
        while emitted <= latest:
            df = store.read_one(spark, "results", emitted)
            if df is not None:
                if on_batch is not None:
                    on_batch(emitted, df)
                yield emitted, df
            emitted += 1
        if not t.is_alive():
            break
        time.sleep(0.05)
    if "err" in done:
        raise done["err"]
    # tail: supersteps committed after the last poll
    mf = store.last_commit()
    latest = mf["superstep"] if mf else -1
    while emitted <= latest:
        df = store.read_one(spark, "results", emitted)
        if df is not None:
            if on_batch is not None:
                on_batch(emitted, df)
            yield emitted, df
        emitted += 1


def results_readstream(spark: SparkSession, store: SnapshotStore) -> DataFrame:
    """Structured Streaming source over the store's results table.

    Each committed superstep directory is picked up as new files; the
    stream carries the full result schema so downstream windowed aggs /
    foreachBatch sinks compose normally."""
    import os

    path = os.path.join(store.root, "results")
    os.makedirs(path, exist_ok=True)
    return (
        spark.readStream.schema(RESULT_SCHEMA)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(path)
    )


def stream_results_to_memory(
    spark: SparkSession, store: SnapshotStore, query_name: str = "crawl_results"
):
    """Start a memory-sink streaming query over the results table; caller
    reads ``spark.sql(f"select * from {query_name}")`` while the crawl
    runs, and stops the returned query when done."""
    return (
        results_readstream(spark, store)
        .writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
