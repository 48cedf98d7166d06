"""URL-seen filters: partitioned Bloom and cuckoo sidecars.

North_rule: "URL-seen dedup is a partitioned Bloom/cuckoo filter keyed by
canonicalized-URL xxhash64".  The crawl engine's URL-seen check is the
exact ``left_anti`` join of candidate links against the seen table on the
full canonical URL (plans/frontier.py), so exactness is unconditional and
the hash only drives partitioning.  The filters here are standalone
operators, not part of the crawl loop:

  - **BloomSidecar** (reference experiment: deep_crawling/crazy.py:102-165,
    optimal m = −n·ln p/ln²2, k = (m/n)·ln 2) and **CuckooSidecar** (adds
    delete, for recrawl-TTL eviction) flag ``maybe_seen`` per candidate;
    False ⇒ definitely new.  Bit-arrays / fingerprint tables are sharded by
    ``pmod(url_hash, n_buckets)`` and met with a same-key cogroup, never
    collected to one node.
  - They are not in the engine because a candidate-side prefilter never
    removes the anti-join's scan and shuffle of the seen table: the
    suspect slice still joins the full table, so the filter's Python add,
    merge and probe stages are extra work on every benchmark workload
    (BASELINE.md).  A filter returns to the engine only with a workload
    on which it wins.

Hash family: double hashing h_i = h1 + i·h2 from the two halves of
xxh64(url) — the standard Kirsch-Mitzenmacher construction.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bloom_params(capacity: int, fp_rate: float = 0.01) -> tuple[int, int]:
    """crazy.py:112-120 sizing: m = −n·ln p / ln²2 bits, k = m/n·ln 2."""
    capacity = max(capacity, 1)
    m = int(-capacity * math.log(fp_rate) / (math.log(2) ** 2))
    m = max(64, (m + 7) // 8 * 8)
    k = max(1, int(round(m / capacity * math.log(2))))
    return m, k


def _positions(h: np.ndarray, m: int, k: int) -> np.ndarray:
    """(n, k) bit positions via double hashing on the 64-bit key."""
    h = h.astype(np.uint64)
    h1 = h & np.uint64(0xFFFFFFFF)
    h2 = (h >> np.uint64(32)) | np.uint64(1)  # odd-ish second hash
    i = np.arange(k, dtype=np.uint64)
    return ((h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(m)).astype(np.int64)


def _set_bits(bits: np.ndarray, pos: np.ndarray) -> None:
    flat = pos.ravel()
    np.bitwise_or.at(bits, flat >> 3, (1 << (flat & 7)).astype(np.uint8))


def _test_bits(bits: np.ndarray, pos: np.ndarray) -> np.ndarray:
    byte = bits[pos >> 3]
    got = (byte >> (pos & 7).astype(np.uint8)) & 1
    return got.all(axis=1)


class BloomSidecar:
    """Incremental, fully distributed partitioned Bloom filter — the
    north_rule's "partitioned Bloom/cuckoo URL-seen keyed by
    canonicalized-URL xxhash64" as a standalone operator.

    The bit-arrays live as a ``(bucket int, bits binary)`` DataFrame that
    is never collected (at 10^10 URLs they total ≈ 12 GiB):

      - ``add(urls)`` folds the batch's xxhash64 keys per bucket
        (groupBy-bucket Arrow fold) and OR-merges into the existing bits
        via a same-bucket cogroup; the merged table is lazily
        localCheckpointed (≤ ``n_buckets`` tiny rows) so superstep lineage
        stays flat.
      - ``prefilter(cand)`` meets candidates with their bucket's bit-array
        in a same-key cogroup and flags ``maybe_seen``; False ⇒ definitely
        new.

    Bloom has no false negatives as long as every seen URL was ``add``-ed
    before the probe, so a caller that anti-joins only the maybe-seen
    slice stays exact.
    """

    def __init__(self, spark, capacity: int, fp_rate: float = 0.01,
                 n_buckets: int = 32):
        per_bucket = max(64, capacity // n_buckets + 1)
        self.m, self.k = bloom_params(per_bucket, fp_rate)
        self.n_buckets = n_buckets
        self.bits_df: DataFrame = spark.createDataFrame([], "bucket int, bits binary")

    def _keyed(self, urls: DataFrame, url_col: str) -> DataFrame:
        h = F.xxhash64(F.col(url_col))
        return urls.select(
            h.alias("__h"),
            F.pmod(h, F.lit(self.n_buckets)).cast("int").alias("bucket"),
        )

    def add(self, urls: DataFrame, url_col: str = "url") -> None:
        m, k = self.m, self.k

        def fold(pdf: pd.DataFrame) -> pd.DataFrame:
            bits = np.zeros(m // 8, dtype=np.uint8)
            _set_bits(bits, _positions(pdf["__h"].to_numpy(dtype=np.int64), m, k))
            return pd.DataFrame(
                {"bucket": [int(pdf["bucket"].iloc[0])], "bits": [bits.tobytes()]}
            )

        new = self._keyed(urls, url_col).groupBy("bucket").applyInPandas(
            fold, "bucket int, bits binary"
        )

        def merge(old: pd.DataFrame, fresh: pd.DataFrame) -> pd.DataFrame:
            arrs = [np.frombuffer(b, dtype=np.uint8)
                    for b in list(old["bits"]) + list(fresh["bits"])]
            acc = arrs[0].copy()
            for a in arrs[1:]:
                acc |= a
            bucket = int(old["bucket"].iloc[0] if len(old) else fresh["bucket"].iloc[0])
            return pd.DataFrame({"bucket": [bucket], "bits": [acc.tobytes()]})

        # lazy checkpoint: the ≤ n_buckets merged rows materialize inside
        # the next probe's job (no standalone job launch per add); lineage
        # truncates at first use
        # both sides are ≤ n_buckets tiny rows — single-partition cogroup
        # (session-wide shuffle width would pay a python worker round trip
        # per empty partition)
        self.bits_df = (
            self.bits_df.repartition(1, "bucket").groupBy("bucket")
            .cogroup(new.repartition(1, "bucket").groupBy("bucket"))
            .applyInPandas(lambda lft, rgt: merge(lft, rgt), "bucket int, bits binary")
            .localCheckpoint(eager=False)
        )

    def prefilter(self, cand: DataFrame, url_col: str,
                  num_partitions: int | None = None) -> DataFrame:
        """Append boolean ``maybe_seen`` via a same-bucket cogroup probe;
        no bit-array ever reaches the driver.

        ``num_partitions`` pre-partitions BOTH cogroup sides by the bucket
        key so the cogroup reuses that exchange instead of shuffling to the
        session-wide ``spark.sql.shuffle.partitions`` — python-stage cost
        is per partition per job, so small supersteps must not fan a 10^3-
        row probe across 32 workers."""
        m, k, nb = self.m, self.k, self.n_buckets
        h = F.xxhash64(F.col(url_col))
        keyed = cand.withColumn("__h", h).withColumn(
            "__bb", F.pmod(F.col("__h"), F.lit(nb)).cast("int")
        )
        bits_df = self.bits_df
        if num_partitions is not None:
            n = max(1, min(num_partitions, nb))
            keyed = keyed.repartition(n, "__bb")
            bits_df = bits_df.repartition(n, "bucket")
        fields = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in cand.schema.fields
        )

        def probe(cpdf: pd.DataFrame, bpdf: pd.DataFrame) -> pd.DataFrame:
            hashes = cpdf["__h"].to_numpy(dtype=np.int64)
            out = cpdf.drop(columns=["__h", "__bb"]).copy()
            if not len(cpdf):
                out["maybe_seen"] = pd.Series(dtype="bool")
                return out
            if not len(bpdf):
                out["maybe_seen"] = False
                return out
            bits = np.frombuffer(bpdf["bits"].iloc[0], dtype=np.uint8)
            out["maybe_seen"] = _test_bits(bits, _positions(hashes, m, k))
            return out

        return (
            keyed.groupBy("__bb")
            .cogroup(bits_df.groupBy("bucket"))
            .applyInPandas(probe, f"{fields}, maybe_seen boolean")
        )


# ---------------------------------------------------------------------------
# Cuckoo sidecar — the north_rule's other named URL-seen structure.
# Fan et al. 2014, "Cuckoo Filter: Practically Better Than Bloom": buckets
# of 4 slots hold 16-bit fingerprints; item → two candidate buckets
# (i2 = i1 XOR h(fp)); membership = fingerprint present in either.  Unlike
# Bloom it supports DELETE — the recrawl scheduler can evict a URL whose
# TTL expired so the frontier re-admits it, without rebuilding the filter.
# ---------------------------------------------------------------------------

_CK_SLOTS = 4
_CK_KICKS = 500
_CK_MUL = np.uint64(0x5BD1E995)  # fp → alt-bucket offset hash


def _ck_fp(h: np.ndarray) -> np.ndarray:
    """16-bit nonzero fingerprint from the key's high half."""
    fp = ((h.astype(np.uint64) >> np.uint64(32)) & np.uint64(0xFFFF)).astype(np.uint16)
    fp[fp == 0] = 1
    return fp


def _ck_mix(h: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer.  The shard key is ``pmod(h, n_shards)`` —
    the key's LOW bits — so the in-shard bucket index must NOT reuse
    them: without mixing, every key in a shard lands in the same
    ``n_buckets/n_shards`` bucket slice and the filter overflows at ~2%
    real load (observed: 22/64 shards saturated at 38% nominal load)."""
    z = h.astype(np.uint64)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _ck_i1(h: np.ndarray, mask: int) -> np.ndarray:
    return (_ck_mix(h) & np.uint64(mask)).astype(np.int64)


def _ck_alt(i: np.ndarray, fp: np.ndarray, mask: int) -> np.ndarray:
    off = (fp.astype(np.uint64) * _CK_MUL) & np.uint64(mask)
    return (i.astype(np.uint64) ^ off).astype(np.int64)


def _ck_mix1(z: int) -> int:
    """Scalar splitmix64 finalizer (same constants as _ck_mix)."""
    m = (1 << 64) - 1
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & m
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & m
    return z ^ (z >> 31)


def _ck_insert(table: np.ndarray, h: np.ndarray) -> bool:
    """Insert keys (SORTED for determinism) with cuckoo kicking.  Returns
    False if any insertion failed (caller marks the shard saturated).

    Eviction slots come from a MIXED strictly-increasing counter shared
    across the whole batch: deterministic (same batch ⇒ same table bytes)
    but never state-repeating, so the fixed-sequence livelock of
    ``slot = kick % 4`` (two full buckets permuting the same 8
    fingerprints for all 500 kicks) cannot occur — the walk behaves like
    the random walk of the paper, which succeeds w.h.p. below ~95% load."""
    mask = table.shape[0] - 1
    fps = _ck_fp(h)
    i1s = _ck_i1(h, mask)
    ok = True
    ctr = 0
    for fp, i1 in zip(fps, i1s):
        i2 = int(_ck_alt(np.array([i1]), np.array([fp]), mask)[0])
        placed = False
        for b in (int(i1), i2):
            row = table[b]
            free = np.nonzero(row == 0)[0]
            if len(free):
                row[free[0]] = fp
                placed = True
                break
        if placed:
            continue
        cur, b = fp, int(i1)
        for _kick in range(_CK_KICKS):
            ctr += 1
            slot = _ck_mix1(ctr) & 3
            cur, table[b][slot] = table[b][slot], cur
            b = int(_ck_alt(np.array([b]), np.array([cur]), mask)[0])
            row = table[b]
            free = np.nonzero(row == 0)[0]
            if len(free):
                row[free[0]] = cur
                placed = True
                break
        if not placed:
            # the homeless fingerprint is dropped; overflow=True makes
            # every probe in this shard maybe_seen, so no false negative
            # can escape — degraded, never wrong
            ok = False
    return ok


def _ck_delete(table: np.ndarray, h: np.ndarray) -> None:
    mask = table.shape[0] - 1
    fps = _ck_fp(h)
    i1s = _ck_i1(h, mask)
    for fp, i1 in zip(fps, i1s):
        i2 = int(_ck_alt(np.array([i1]), np.array([fp]), mask)[0])
        for b in (int(i1), i2):
            row = table[b]
            hit = np.nonzero(row == fp)[0]
            if len(hit):
                row[hit[0]] = 0
                break


def _ck_contains(table: np.ndarray, h: np.ndarray) -> np.ndarray:
    mask = table.shape[0] - 1
    fps = _ck_fp(h)
    i1 = _ck_i1(h, mask)
    i2 = _ck_alt(i1, fps, mask)
    in1 = (table[i1] == fps[:, None]).any(axis=1)
    in2 = (table[i2] == fps[:, None]).any(axis=1)
    return in1 | in2


class CuckooSidecar:
    """Incremental, fully distributed partitioned CUCKOO filter — the
    deletable sibling of :class:`BloomSidecar` (north_rule names both).

    State is a ``(shard int, table binary, overflow boolean)`` DataFrame of
    ≤ ``n_shards`` rows that never reaches the driver: ``add`` / ``delete``
    fold each batch's xxhash64 keys into their shard's table via a
    same-shard cogroup (batch keys SORTED before insertion so the table
    bytes are deterministic under any partitioning), ``prefilter`` probes
    with a same-shard cogroup and flags ``maybe_seen``.

    Guarantees: no false negatives for every added-and-not-deleted URL, so
    the exact anti-join stays exact when only the maybe-seen slice joins;
    a shard whose insert overflows (load > ~95%) is marked ``overflow`` and
    probes in it return maybe_seen=True for everything — degraded to the
    plain anti-join, never wrong.  ``delete`` removes ONE fingerprint copy
    (delete only URLs previously added — cuckoo's standard contract);
    after deletion the URL probes definitely-new and can be re-admitted —
    the recrawl-TTL eviction Bloom cannot express.
    """

    def __init__(self, spark, capacity: int, n_shards: int = 32):
        per_shard = max(16, capacity // n_shards + 1)
        n_buckets = 1
        while n_buckets * _CK_SLOTS * 0.95 < per_shard:
            n_buckets *= 2
        self.n_buckets = n_buckets
        self.n_shards = n_shards
        # write-path cogroup width: shard folds (per-key cuckoo insertion
        # with eviction chains — far costlier than Bloom's vectorized
        # bit-OR) must run CONCURRENTLY across shards, but no wider than
        # n_shards (an empty cogroup partition still pays a python-worker
        # round trip)
        self._write_parts = max(
            1, min(n_shards, spark.sparkContext.defaultParallelism))
        self.state: DataFrame = spark.createDataFrame(
            [], "shard int, table binary, overflow boolean")

    def _keyed(self, urls: DataFrame, url_col: str) -> DataFrame:
        h = F.xxhash64(F.col(url_col))
        return urls.select(
            h.alias("__h"),
            F.pmod(h, F.lit(self.n_shards)).cast("int").alias("shard"),
        )

    def _apply(self, urls: DataFrame, url_col: str, mode: str) -> None:
        nb = self.n_buckets

        def fold(old: pd.DataFrame, batch: pd.DataFrame) -> pd.DataFrame:
            if len(old):
                table = np.frombuffer(old["table"].iloc[0],
                                      dtype=np.uint16).reshape(nb, _CK_SLOTS).copy()
                overflow = bool(old["overflow"].iloc[0])
                shard = int(old["shard"].iloc[0])
            else:
                table = np.zeros((nb, _CK_SLOTS), dtype=np.uint16)
                overflow = False
                shard = int(batch["shard"].iloc[0])
            if len(batch):
                h = np.sort(batch["__h"].to_numpy(dtype=np.int64))
                if mode == "add":
                    overflow = (not _ck_insert(table, h)) or overflow
                else:
                    _ck_delete(table, h)
            return pd.DataFrame({"shard": [shard], "table": [table.tobytes()],
                                 "overflow": [overflow]})

        batch = self._keyed(urls, url_col)
        p = self._write_parts
        self.state = (
            self.state.repartition(p, "shard").groupBy("shard")
            .cogroup(batch.repartition(p, "shard").groupBy("shard"))
            .applyInPandas(fold, "shard int, table binary, overflow boolean")
            .localCheckpoint(eager=False)
        )

    def add(self, urls: DataFrame, url_col: str = "url") -> None:
        self._apply(urls, url_col, "add")

    def delete(self, urls: DataFrame, url_col: str = "url") -> None:
        self._apply(urls, url_col, "delete")

    def prefilter(self, cand: DataFrame, url_col: str,
                  num_partitions: int | None = None) -> DataFrame:
        """Append boolean ``maybe_seen`` via a same-shard cogroup probe."""
        nb, ns = self.n_buckets, self.n_shards
        h = F.xxhash64(F.col(url_col))
        keyed = cand.withColumn("__h", h).withColumn(
            "__bb", F.pmod(F.col("__h"), F.lit(ns)).cast("int"))
        state = self.state
        if num_partitions is not None:
            n = max(1, min(num_partitions, ns))
            keyed = keyed.repartition(n, "__bb")
            state = state.repartition(n, "shard")
        fields = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in cand.schema.fields)

        def probe(cpdf: pd.DataFrame, spdf: pd.DataFrame) -> pd.DataFrame:
            out = cpdf.drop(columns=["__h", "__bb"]).copy()
            if not len(cpdf):
                out["maybe_seen"] = pd.Series(dtype="bool")
                return out
            if not len(spdf):
                out["maybe_seen"] = False
                return out
            if bool(spdf["overflow"].iloc[0]):
                out["maybe_seen"] = True  # saturated: exact join takes over
                return out
            table = np.frombuffer(spdf["table"].iloc[0],
                                  dtype=np.uint16).reshape(nb, _CK_SLOTS)
            out["maybe_seen"] = _ck_contains(
                table, cpdf["__h"].to_numpy(dtype=np.int64))
            return out

        return (
            keyed.groupBy("__bb")
            .cogroup(state.groupBy("shard"))
            .applyInPandas(probe, f"{fields}, maybe_seen boolean")
        )
