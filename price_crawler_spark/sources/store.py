"""SnapshotStore — Iceberg-style atomic snapshot commits over parquet.

The production design targets Iceberg tables (``spark.sql.catalog.*``); the
sandbox has no Iceberg runtime jar, so this shim provides the same contract
(SURVEY.md §7.3 risk 7):

  * a *snapshot* commits several tables atomically (frontier state, seen set,
    Bloom shards, documents, fetch_log — one logical commit per crawl wave,
    north rule: "resumable from checkpoint");
  * readers only ever see committed snapshots (manifest swap via
    ``os.replace``, which is atomic on POSIX);
  * a killed run leaves the manifest at the previous snapshot; orphan data
    directories from the failed attempt are simply not referenced, so the
    wave re-runs idempotently without re-using partial output.

Tables are either ``replace`` mode (full new state each commit: pending,
bloom) or ``append`` mode (seen, frontier_log, documents, fetch_log: the
snapshot's file list grows). A table's mode is per commit: waves append to
frontier_log, and ``CrawlRun.invalidate()`` replaces it. On Iceberg these
map to REPLACE / APPEND snapshot operations.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession


class SnapshotStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "manifest.json")

    def _read_manifest(self) -> dict:
        if not os.path.exists(self._manifest_path):
            return {"snapshots": []}
        with open(self._manifest_path) as f:
            return json.load(f)

    def current(self) -> dict | None:
        snaps = self._read_manifest()["snapshots"]
        return snaps[-1] if snaps else None

    def latest_meta(self) -> dict:
        cur = self.current()
        return cur["meta"] if cur else {}

    def commit(
        self,
        tables_replace: dict[str, DataFrame] | None = None,
        tables_append: dict[str, DataFrame] | None = None,
        meta: dict | None = None,
        job_prefix: str = "commit",
    ) -> int:
        """Write all table data, then atomically swap the manifest. Each
        table's write jobs carry the description ``<job_prefix>:<table>``."""
        manifest = self._read_manifest()
        cur = manifest["snapshots"][-1] if manifest["snapshots"] else None
        snap_id = (cur["id"] + 1) if cur else 0
        tables: dict[str, list[str]] = dict(cur["tables"]) if cur else {}
        token = uuid.uuid4().hex[:8]

        # the per-table writes are independent Spark jobs — run them
        # concurrently (each wave commits 5 tables; sequential writes made
        # the commit ~80% of wave wall time). The manifest swap below stays
        # the single atomic commit point.
        from concurrent.futures import ThreadPoolExecutor

        writes: list[tuple[str, str, DataFrame, bool]] = []
        for name, df in (tables_replace or {}).items():
            writes.append((name, f"data/{name}/{snap_id}_{token}", df, True))
        for name, df in (tables_append or {}).items():
            writes.append((name, f"data/{name}/{snap_id}_{token}", df, False))

        def _write(job):
            name, rel, df, _replace = job
            # job descriptions are thread-local: tag this writer thread's
            # jobs with the table it writes
            df.sparkSession.sparkContext.setJobDescription(f"{job_prefix}:{name}")
            df.write.mode("overwrite").parquet(os.path.join(self.root, rel))

        if writes:
            with ThreadPoolExecutor(max_workers=len(writes)) as pool:
                list(pool.map(_write, writes))  # re-raises worker errors
        for name, rel, _df, replace in writes:
            if replace:
                tables[name] = [rel]
            else:
                tables[name] = list(tables.get(name, [])) + [rel]

        manifest["snapshots"].append(
            {
                "id": snap_id,
                "ts": time.time(),
                "tables": tables,
                "meta": meta or {},
            }
        )
        tmp = self._manifest_path + f".tmp.{token}"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self._manifest_path)  # atomic commit point
        return snap_id

    def read(self, spark: SparkSession, name: str) -> DataFrame | None:
        cur = self.current()
        if not cur or name not in cur["tables"]:
            return None
        paths = [os.path.join(self.root, p) for p in cur["tables"][name]]
        return spark.read.parquet(*paths)

