"""spark-submit entry point (north_rule deployment shape).

Runs one frontier schedule+dedup superstep over a synthetic link graph and
prints a one-line JSON summary.  The package reaches the executors via
``--py-files crawl4ai_spark.zip`` — no repo checkout on the workers:

    python tools/make_pyfiles.py                       # build the zip
    spark-submit --master local[8] \
        --py-files /tmp/crawl4ai_spark.zip \
        tools/submit_job.py [n_pages]

On a real cluster only --master changes (yarn/k8s + executor sizing); the
job is driver-side Python + the zipped package, exactly as shipped here.
"""

from __future__ import annotations

import json
import sys
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    spark = SparkSession.builder.appName("crawl4ai-spark-submit").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    # imports resolved from --py-files on driver AND executors
    from crawl4ai_spark.functions.canonical import canonical_col, url_hash_col
    from crawl4ai_spark.functions.scorers import freshness_score
    from crawl4ai_spark.functions.urlparts import host_of
    from crawl4ai_spark.operators.politeness import with_salted_host_slots
    from crawl4ai_spark.sources import synth

    p = synth.GraphParams(n_pages=n_pages, n_domains=max(16, n_pages // 5000),
                          hot_fraction=0.3, seed=42)
    _, links, _ = synth.synth_tables(spark, p)
    politeness = spark.createDataFrame(synth.gen_politeness(p))

    t0 = time.time()
    cand = links.select(
        canonical_col(F.col("href"), F.col("src_url")).alias("url"), "pos"
    )
    cand = cand.withColumn("url_hash", url_hash_col(F.col("url"))).withColumn(
        "host", F.lower(host_of(F.col("url")))
    )
    cand = cand.groupBy("url_hash").agg(
        F.first("url").alias("url"), F.first("host").alias("host"),
        F.min("pos").alias("pos"),
    ).withColumn("score", freshness_score(F.col("url"), current_year=2024))
    sched = with_salted_host_slots(
        cand, politeness, order_cols=[F.col("score").desc(), "url_hash"],
        hot_hosts=[synth.host_of_domain(0)], salt_buckets=16,
    )
    n = sched.count()
    print(json.dumps({
        "job": "frontier_schedule", "n_pages": n_pages, "scheduled": n,
        "wall_sec": round(time.time() - t0, 2),
        "master": spark.sparkContext.master,
    }))

    if "--crawl" in sys.argv:
        # full scheduled deep crawl through the shipped package: budget
        # deferral + backoff retries + URL-seen anti-join, multi-seed BFS
        from crawl4ai_spark.plans.frontier import CrawlConfig, deep_crawl

        pages, links2, _ = synth.synth_tables(spark, p)
        seeds = [synth.url_of(i, p) for i in range(0, n_pages,
                                                   max(1, n_pages // 200))]
        t0 = time.time()
        run = deep_crawl(
            spark, seeds, pages, links2,
            CrawlConfig(strategy="bfs", max_depth=2, backoff=True),
        )
        n_res = run.results.count()
        print(json.dumps({
            "job": "deep_crawl", "seeds": len(seeds),
            "pages_crawled": run.pages_crawled, "results": n_res,
            "supersteps": len([m for m in run.metrics if "wall_ms" in m]),
            "wall_sec": round(time.time() - t0, 2),
        }))

    if "--prep" in sys.argv:
        # post-crawl training-prep tier through the shipped package:
        # curation gate → aspect buckets → stratified sample → shard pack
        from crawl4ai_spark.operators.multimodal import (
            aspect_buckets,
            curate_image_captions,
        )
        from crawl4ai_spark.operators.sampling import (
            shard_pack,
            stratified_sample,
        )

        _, _, images = synth.synth_tables(spark, p)
        t0 = time.time()
        gated = curate_image_captions(images).filter(F.col("keep"))
        sampled = stratified_sample(
            aspect_buckets(gated), "image_id", "bucket",
            {"square": 1.0, "wide": 0.8, "tall": 0.8},
            default_rate=0.5, seed=11,
        )
        packed = shard_pack(
            sampled.withColumn("n_bytes", F.length("bytes").cast("long")),
            "image_id", "n_bytes", shard_bytes=1 << 26, seed=12,
        )
        row = packed.agg(
            F.count("*").alias("n"), F.max("shard_id").alias("mx")
        ).collect()[0]
        print(json.dumps({
            "job": "training_prep", "rows_packed": int(row["n"]),
            "shards": int(row["mx"] or 0) + 1,
            "wall_sec": round(time.time() - t0, 2),
        }))
    spark.stop()


if __name__ == "__main__":
    main()
