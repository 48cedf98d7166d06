"""Snapshot store: parquet-per-superstep tables + an atomic JSON manifest.

Iceberg-shaped commit/resume semantics without the Iceberg runtime jar
(unavailable offline — SURVEY §7 plan B): each engine table (frontier,
results, domain_state, metrics) writes one immutable directory per
superstep; a single ``_manifest.json`` (written atomically via
tmp+rename) is the commit point recording the latest durable superstep and
its counters.  Resume reads the manifest, loads the committed frontier and
the union of committed deltas, and deletes orphan directories from a
crashed superstep — exactly Iceberg's snapshot-isolation contract
(north_rule: "resumable from checkpoint with per-partition lineage +
metrics").  The TableIO surface (write/read_upto/commit/last_commit) is
narrow enough to drop Iceberg in later.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from typing import Any

from pyspark.sql import DataFrame, SparkSession


class SnapshotStore:
    MANIFEST = "_manifest.json"

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # ------------------------------------------------------------- paths
    def _dir(self, table: str, superstep: int) -> str:
        return os.path.join(self.root, table, f"{superstep:06d}")

    # ------------------------------------------------------------- write
    def write(self, table: str, df: DataFrame, superstep: int) -> str:
        path = self._dir(table, superstep)
        df.write.mode("overwrite").parquet(path)
        return path

    # -------------------------------------------------------------- read
    def read_one(self, spark: SparkSession, table: str, superstep: int) -> DataFrame | None:
        path = self._dir(table, superstep)
        if not os.path.isdir(path):
            return None
        return spark.read.parquet(path)

    def read_upto(self, spark: SparkSession, table: str, superstep: int) -> DataFrame | None:
        base = os.path.join(self.root, table)
        if not os.path.isdir(base):
            return None
        comp = (self.last_commit() or {}).get("compacted", {}).get(table)
        paths: list[str] = []
        lo = -1
        if comp is not None and comp["upto"] <= superstep:
            # a compacted snapshot replaces every delta dir <= upto
            paths.append(os.path.join(base, comp["dir"]))
            lo = comp["upto"]
        paths += [
            os.path.join(base, d)
            for d in sorted(os.listdir(base))
            if d.isdigit() and lo < int(d) <= superstep
        ]
        if not paths:
            return None
        return spark.read.parquet(*paths)

    # ------------------------------------------------------------ commit
    def commit(self, superstep: int, counters: dict[str, Any]) -> None:
        manifest = {"superstep": superstep, "counters": counters}
        prev = self.last_commit()
        if prev and prev.get("compacted"):
            manifest["compacted"] = prev["compacted"]
        self._write_manifest(manifest)

    def _write_manifest(self, manifest: dict[str, Any]) -> None:
        fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".manifest.tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, os.path.join(self.root, self.MANIFEST))

    def read_compacted(self, spark: SparkSession,
                       table: str) -> tuple[DataFrame, int] | None:
        """The committed compacted snapshot of ``table`` as (df, upto),
        or None if the table was never compacted.  Resume paths that load
        per-superstep deltas via ``read_one`` must consult this first —
        vacuum removed the delta dirs the compaction superseded."""
        comp = (self.last_commit() or {}).get("compacted", {}).get(table)
        if comp is None:
            return None
        return (
            spark.read.parquet(os.path.join(self.root, table, comp["dir"])),
            comp["upto"],
        )

    # ----------------------------------------------------------- compact
    _SNAPSHOT_TABLES = frozenset({"frontier", "domain_state"})

    def compact(self, spark: SparkSession, table: str,
                target_bytes: int = 128 * 1024 * 1024) -> dict[str, Any]:
        """Rewrite an append-delta table's committed history into few
        right-sized files (the small-files problem: a 10^4-superstep crawl
        leaves 10^4 delta dirs × parts; scans then pay per-file open cost
        and tiny row groups).  Iceberg-shaped protocol — REWRITE, COMMIT,
        VACUUM:

          1. read the currently visible set (≤ committed superstep),
             repartition to ceil(bytes/target), write a new ``compact-*``
             dir (non-digit name → invisible to readers until committed);
          2. atomically point the manifest's ``compacted[table]`` at it —
             the manifest write IS the commit, exactly like every other
             snapshot transition in this store;
          3. delete the superseded delta dirs and any older compact dir.
             A crash between 2 and 3 leaves harmless orphans (readers go
             through the manifest); a crash before 2 leaves an unreferenced
             compact dir, cleaned by the next compact's vacuum.

        APPEND-DELTA tables only (``results``, metrics): snapshot tables
        (frontier/domain_state), where only the LATEST superstep dir
        is authoritative, must never be unioned — compacting one is
        rejected.  Time travel below the compaction point is given up, as
        with any vacuum; per-superstep ``partition_lineage`` for merged
        supersteps likewise (the engine records lineage in the metrics
        table at write time, which survives).  Readers: ``read_upto``
        serves compacted + newer deltas transparently; per-superstep
        ``read_one`` loops must consult ``read_compacted`` first (the
        engine's ``_restore`` does).  Returns {upto, files_before,
        files_after}.
        """
        if table in self._SNAPSHOT_TABLES:
            raise ValueError(
                f"{table} is a snapshot table (latest dir authoritative); "
                "compaction is for append-delta tables"
            )
        committed = self.last_commit()
        if committed is None:
            raise ValueError("nothing committed yet")
        upto = committed["superstep"]
        base = os.path.join(self.root, table)
        old_comp = committed.get("compacted", {}).get(table)
        if old_comp and old_comp["upto"] == upto:
            # already compacted to this point; rewriting would overwrite
            # the very dir the lazy read plan scans
            return {"upto": upto, "files_before": None, "files_after": None,
                    "noop": True}
        df = self.read_upto(spark, table, upto)
        if df is None:
            raise ValueError(f"table {table} has no committed data")
        old_dirs = [
            d for d in os.listdir(base)
            if d.isdigit() and int(d) <= upto
            and not (old_comp and int(d) <= old_comp["upto"])
        ]
        files_before = sum(
            1 for d in old_dirs + ([old_comp["dir"]] if old_comp else [])
            for f in os.listdir(os.path.join(base, d))
            if f.endswith(".parquet")
        )
        total_bytes = sum(
            os.path.getsize(os.path.join(base, d, f))
            for d in old_dirs + ([old_comp["dir"]] if old_comp else [])
            for f in os.listdir(os.path.join(base, d))
            if f.endswith(".parquet")
        )
        n_parts = max(1, -(-total_bytes // target_bytes))
        new_dir = f"compact-{upto:06d}"
        # vacuum orphan compact dirs from a crash BEFORE a manifest commit
        # (unreferenced, invisible to readers, but they leak disk)
        referenced = {old_comp["dir"]} if old_comp else set()
        for d in os.listdir(base):
            if (d.startswith("compact-") and d not in referenced
                    and d != new_dir):
                shutil.rmtree(os.path.join(base, d), ignore_errors=True)
        df.repartition(int(n_parts)).write.mode("overwrite").parquet(
            os.path.join(base, new_dir)
        )
        manifest = dict(committed)
        manifest.setdefault("compacted", {})[table] = {
            "upto": upto, "dir": new_dir,
        }
        self._write_manifest(manifest)  # <- the commit point
        # vacuum (safe after commit; orphans harmless if we crash here)
        for d in old_dirs:
            shutil.rmtree(os.path.join(base, d))
        if old_comp and old_comp["dir"] != new_dir:
            shutil.rmtree(os.path.join(base, old_comp["dir"]),
                          ignore_errors=True)
        files_after = sum(
            1 for f in os.listdir(os.path.join(base, new_dir))
            if f.endswith(".parquet")
        )
        return {"upto": upto, "files_before": files_before,
                "files_after": files_after}

    def partition_lineage(self, table: str, superstep: int) -> list[dict[str, Any]]:
        """Per-partition lineage of a committed table snapshot: one record
        per written part file (= one write partition) with its row count and
        byte size, read from the parquet footers on the driver — no Spark
        job.  Footers are O(KB) each, so this stays cheap even when the
        snapshot has thousands of partitions (north_rule: "resumable from
        checkpoint with per-partition lineage + metrics")."""
        import pyarrow.parquet as pq

        path = self._dir(table, superstep)
        if not os.path.isdir(path):
            return []
        out = []
        for name in sorted(os.listdir(path)):
            if not name.endswith(".parquet") or name.startswith("_"):
                continue
            fp = os.path.join(path, name)
            out.append({
                "file": name,
                "rows": pq.read_metadata(fp).num_rows,
                "bytes": os.path.getsize(fp),
            })
        return out

    def write_json(self, table: str, superstep: int, obj: Any) -> None:
        path = self._dir(table, superstep)
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "data.json"), "w") as f:
            json.dump(obj, f)

    def last_commit(self) -> dict[str, Any] | None:
        path = os.path.join(self.root, self.MANIFEST)
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return json.load(f)

    # ----------------------------------------------------------- recover
    def clean_orphans(self, committed_superstep: int) -> list[str]:
        """Delete table dirs newer than the committed superstep (partial
        writes from a crash after data write but before manifest commit)."""
        removed = []
        for table in os.listdir(self.root):
            base = os.path.join(self.root, table)
            if not os.path.isdir(base):
                continue
            for d in os.listdir(base):
                if d.isdigit() and int(d) > committed_superstep:
                    shutil.rmtree(os.path.join(base, d))
                    removed.append(f"{table}/{d}")
        return removed
