"""Partitioned cuckoo-filter sidecar: exactness, deletion, saturation.

The north_rule names "bloom/cuckoo" for URL-seen; the cuckoo sidecar adds
the delete path (recrawl-TTL eviction) the Bloom cannot express.
"""

from pyspark.sql import functions as F

from crawl4ai_spark.operators.seen import CuckooSidecar


def _urls(spark, lo, hi, prefix="https://ex.test/p"):
    return spark.range(lo, hi).select(
        F.concat(F.lit(prefix), F.col("id")).alias("url"))


def test_cuckoo_no_false_negatives_and_fp_bound(spark):
    ck = CuckooSidecar(spark, capacity=4096, n_shards=8)
    ck.add(_urls(spark, 0, 1000))
    flagged = ck.prefilter(_urls(spark, 0, 2000), "url", num_partitions=4)
    rows = {r["url"]: r["maybe_seen"] for r in flagged.collect()}
    seen = {f"https://ex.test/p{i}" for i in range(1000)}
    # every added URL MUST flag maybe_seen (no false negatives)
    assert all(rows[u] for u in seen)
    # unseen URLs: 16-bit fingerprints over 2 buckets x 4 slots -> FP rate
    # ~= 8/65536; allow generous slack on 1000 probes
    fps = sum(1 for u, m in rows.items() if m and u not in seen)
    assert fps <= 5


def test_cuckoo_delete_readmits(spark):
    ck = CuckooSidecar(spark, capacity=1024, n_shards=4)
    ck.add(_urls(spark, 0, 300))
    ck.delete(_urls(spark, 100, 200))  # TTL-expired slice
    rows = {r["url"]: r["maybe_seen"]
            for r in ck.prefilter(_urls(spark, 0, 300), "url").collect()}
    # kept URLs still flagged; deleted slice probes definitely-new
    # (modulo the residual fingerprint-collision FP rate)
    assert all(rows[f"https://ex.test/p{i}"] for i in range(100))
    assert all(rows[f"https://ex.test/p{i}"] for i in range(200, 300))
    deleted_still = sum(
        1 for i in range(100, 200) if rows[f"https://ex.test/p{i}"])
    assert deleted_still <= 2


def test_cuckoo_incremental_adds_and_partition_invariance(spark):
    a = CuckooSidecar(spark, capacity=2048, n_shards=4)
    a.add(_urls(spark, 0, 400))
    a.add(_urls(spark, 400, 800))
    b = CuckooSidecar(spark, capacity=2048, n_shards=4)
    b.add(_urls(spark, 0, 400).repartition(13))
    b.add(_urls(spark, 400, 800).repartition(7))
    probe = _urls(spark, 0, 1200)
    ra = sorted(map(tuple, a.prefilter(probe, "url").collect()))
    rb = sorted(map(tuple, b.prefilter(probe, "url").collect()))
    assert ra == rb  # sorted-batch insertion ⇒ deterministic tables
    assert all(m for (u, m) in ra if int(u.rsplit("p", 1)[1]) < 800)


def test_cuckoo_saturation_degrades_safe(spark):
    # capacity far under the inserted volume: shards overflow and every
    # probe flags maybe_seen — the exact anti-join takes over, never wrong
    ck = CuckooSidecar(spark, capacity=64, n_shards=2)
    ck.add(_urls(spark, 0, 5000))
    rows = ck.prefilter(_urls(spark, 0, 5000), "url").collect()
    assert all(r["maybe_seen"] for r in rows)
