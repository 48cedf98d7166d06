"""A ``SnapshotStore`` that times every call the crawl engine makes on it.

Each call appends one record ``(method, table, superstep, start, end, bytes)``
with wall-clock (``time.time()``) start/end, so the records line up with
Spark's event-log timestamps.  The engine writes ``results`` from its
background ``_io_pool`` thread while the driver thread writes the other
tables, so appends go through a lock.

What each method's time covers:

- ``write``/``write_json``: the parquet (or JSON) write job, ended as soon
  as the base call returns.  ``bytes`` is then counted from the data files
  of the snapshot dir (names starting with ``.`` or ``_`` — Spark's
  ``.crc`` and ``_SUCCESS`` files — are skipped), outside the timed span.
- ``read``: ``read_one``/``read_compacted`` only open the snapshot lazily
  (schema and file listing); the parquet scan runs later inside engine
  jobs and is credited to the restore through the first commit after a
  ``run(resume=True)`` call.
- ``clean``: ``clean_orphans`` deleting uncommitted superstep dirs.
- ``commit``: the manifest write that ends a superstep.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass

from crawl4ai_spark.plans.checkpoint import SnapshotStore


@dataclass(frozen=True)
class StoreCall:
    method: str  # write | write_json | read | clean | commit
    table: str | None
    superstep: int | None
    start: float
    end: float
    bytes: int

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


def _data_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            if not name.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, name))
    return total


class TimingStore(SnapshotStore):
    def __init__(self, root: str):
        super().__init__(root)
        self._calls: list[StoreCall] = []
        self._lock = threading.Lock()

    def _record(self, method, table, superstep, start, end, nbytes=0) -> None:
        call = StoreCall(method, table, superstep, start, end, nbytes)
        with self._lock:
            self._calls.append(call)

    def calls(self) -> list[StoreCall]:
        with self._lock:
            return list(self._calls)

    def write(self, table, df, superstep):
        t0 = time.time()
        path = super().write(table, df, superstep)
        t1 = time.time()
        self._record("write", table, superstep, t0, t1, _data_bytes(path))
        return path

    def write_json(self, table, superstep, obj):
        t0 = time.time()
        super().write_json(table, superstep, obj)
        t1 = time.time()
        self._record("write_json", table, superstep, t0, t1,
                     _data_bytes(self._dir(table, superstep)))

    def read_one(self, spark, table, superstep):
        t0 = time.time()
        df = super().read_one(spark, table, superstep)
        self._record("read", table, superstep, t0, time.time())
        return df

    def read_compacted(self, spark, table):
        t0 = time.time()
        out = super().read_compacted(spark, table)
        self._record("read", table, None, t0, time.time())
        return out

    def clean_orphans(self, committed_superstep):
        t0 = time.time()
        out = super().clean_orphans(committed_superstep)
        self._record("clean", None, committed_superstep, t0, time.time())
        return out

    def commit(self, superstep, counters):
        t0 = time.time()
        super().commit(superstep, counters)
        self._record("commit", None, superstep, t0, time.time())
