"""SnapshotStore — Iceberg-style atomic snapshot commits over parquet.

The production design targets Iceberg tables (``spark.sql.catalog.*``); the
sandbox has no Iceberg runtime jar, so this shim provides the same contract
(SURVEY.md §7.3 risk 7):

  * a *snapshot* commits several tables atomically (frontier state, seen set,
    Bloom shards, documents, fetch_log — one logical commit per crawl wave,
    north rule: "resumable from checkpoint");
  * readers only ever see committed snapshots (manifest swap via
    ``os.replace``, which is atomic on POSIX).

Tables are either ``replace`` mode (full new state each commit: pending,
bloom) or ``append`` mode (seen, frontier_log, documents, fetch_log: the
snapshot's file list grows). A table's mode is per commit: waves append to
frontier_log, and ``CrawlRun.invalidate()`` replaces it. On Iceberg these
map to REPLACE / APPEND snapshot operations.

Retention is the current snapshot only (Iceberg's snapshot expiry with
``retain_last=1``). A commit runs in three steps:

  1. write every table's new data directory;
  2. ``os.replace`` the manifest — the single atomic commit point;
  3. delete every data directory the new current snapshot does not list:
     the replaced groups of the previous snapshot (its ``pending``,
     ``bloom`` and, after ``invalidate()``, ``frontier_log``) and any
     orphans a failed attempt left behind.

A crash before step 2 leaves the previous snapshot intact with unreferenced
orphans; a crash after it leaves only orphans. Either way the next
successful commit removes them. Nothing reads a superseded snapshot: resume
reads the current one, and the append-only history stays because the
current snapshot lists every group of it. The store has one writer at a
time: a commit deletes whatever is not listed, including another writer's
unswapped data.

The manifest keeps every snapshot entry as the commit log (id, time, table
file lists, meta); only the entry of the current snapshot points at data
that still exists. Each entry records its format version, and the current
one also every table's schema (``StructType`` JSON, all fields nullable, as
parquet reads them back), so ``read()`` runs no footer-inference job. An
append table's schema is the union of its groups' columns in first-seen
order; rows of a group written before a column existed read back null in
it. A snapshot written before schemas were stored (no ``format``) is read
with ``mergeSchema``, and its next commit stores the merged schemas; a
newer format is refused. Every table is written with zstd.

File layout. Every table write passes through a ``rebalance`` hint, so AQE
sizes its part files to ``spark.sql.adaptive.advisoryPartitionSizeInBytes``
whatever the partitioning of the frame that produced it: one part file per
table per commit at crawl-test sizes, many advisory-sized ones at scale
(Iceberg sizes data files by target bytes through its write distribution
the same way). The rebalance costs one shuffle per write. Each write also
carries per-write Hadoop options (``WRITE_OPTIONS``) and leaves the
session's configuration as it is: the raw local filesystem, uncached so the
session's checksummed instance is untouched, writes no ``.crc`` sidecar, and
the committer writes no ``_SUCCESS`` marker. After a commit ``data/`` holds
only parquet part files. Neither side file is needed: the manifest, not a
marker, says which groups are complete, since readers only open the groups
it names; and parquet 1.16 writes a CRC32 into every data page header
(``parquet.page.write-checksum.enabled``, on by default), which ``read()``
verifies (``parquet.page.verify-checksum.enabled``), so a corrupt page fails
the read as the ``.crc`` check did. Groups of an older root that still hold
several part files and side files read as before, and expiry removes a
superseded group whole, side files included.

The parsed manifest is kept between calls and re-read only when
``os.stat`` shows another file (inode, mtime, size); ``commit()`` keeps what
it wrote, so a wave parses the manifest at most once.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# version 1: snapshot entries carry ``schemas``; absent means pre-version
FORMAT_VERSION = 1
CODEC = "zstd"
# options of every table write: no ``.crc`` sidecars, no ``_SUCCESS`` marker
WRITE_OPTIONS = {
    "compression": CODEC,
    "fs.file.impl": "org.apache.hadoop.fs.RawLocalFileSystem",
    "fs.file.impl.disable.cache": "true",
    "mapreduce.fileoutputcommitter.marksuccessfuljobs": "false",
}


def _nullable(t):
    """A schema JSON value with every nullability flag set, the form in
    which parquet files read back."""
    if isinstance(t, dict):
        return {
            k: True if k in ("nullable", "containsNull", "valueContainsNull")
            else _nullable(v)
            for k, v in t.items()
        }
    if isinstance(t, list):
        return [_nullable(v) for v in t]
    return t


def _union_schema(name: str, prior: dict, new: dict) -> dict:
    """``prior``'s fields, then those of ``new`` it lacks. A column whose
    type changed is refused: a group would read back as the wrong type."""
    have = {f["name"]: f for f in prior["fields"]}
    for f in new["fields"]:
        if f["name"] in have and have[f["name"]]["type"] != f["type"]:
            raise ValueError(
                f"table {name!r}: column {f['name']!r} is "
                f"{have[f['name']]['type']}, an append wrote {f['type']}"
            )
    extra = [f for f in new["fields"] if f["name"] not in have]
    return {**prior, "fields": prior["fields"] + extra}


class SnapshotStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        # the parsed manifest and the (inode, mtime, size) it was read at
        self._manifest: dict = {"snapshots": []}
        self._manifest_stat: tuple | None = None

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "manifest.json")

    def _stat_key(self) -> tuple | None:
        try:
            st = os.stat(self._manifest_path)
        except FileNotFoundError:
            return None
        return st.st_ino, st.st_mtime_ns, st.st_size

    def _read_manifest(self) -> dict:
        """The parsed manifest, parsed again only when the file changed.
        Callers must not mutate it."""
        key = self._stat_key()
        if key is None:
            return {"snapshots": []}
        if key != self._manifest_stat:
            with open(self._manifest_path) as f:
                manifest = json.load(f)
            snaps = manifest["snapshots"]
            if snaps and snaps[-1].get("format", 0) > FORMAT_VERSION:
                raise ValueError(
                    f"{self._manifest_path}: snapshot {snaps[-1]['id']} has "
                    f"format {snaps[-1]['format']}; this store reads up to "
                    f"{FORMAT_VERSION}"
                )
            self._manifest, self._manifest_stat = manifest, key
        return self._manifest

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
        """Write all table data, atomically swap the manifest, then delete
        the data the new snapshot no longer lists. Each table's write jobs
        carry the description ``<job_prefix>:<table>``."""
        # the kept manifest is not mutated: a commit that fails before the
        # swap leaves it equal to the file
        snaps = self._read_manifest()["snapshots"]
        cur = snaps[-1] if snaps else None
        snap_id = (cur["id"] + 1) if cur else 0
        tables: dict[str, list[str]] = dict(cur["tables"]) if cur else {}
        schemas: dict[str, dict] = {
            name: json.loads(js) for name, js in cur.get("schemas", {}).items()
        } if cur else {}
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
            df.hint("rebalance").write.mode("overwrite").options(
                **WRITE_OPTIONS
            ).parquet(os.path.join(self.root, rel))

        if writes:
            with ThreadPoolExecutor(max_workers=len(writes)) as pool:
                list(pool.map(_write, writes))  # re-raises worker errors
        for name, rel, df, replace in writes:
            schema = _nullable(df.schema.jsonValue())
            if replace or name not in tables:
                tables[name], schemas[name] = [rel], schema
                continue
            if name not in schemas:  # appending to a pre-version table
                schemas[name] = _nullable(
                    self.read(df.sparkSession, name).schema.jsonValue()
                )
            tables[name] = tables[name] + [rel]
            schemas[name] = _union_schema(name, schemas[name], schema)

        entry = {
            "id": snap_id,
            "ts": time.time(),
            "format": FORMAT_VERSION,
            "tables": tables,
            # compact strings, as ``StructType.json()`` spells them
            "schemas": {
                name: json.dumps(sc, separators=(",", ":"))
                for name, sc in schemas.items()
            },
            "meta": dict(meta or {}),
        }
        # only the current entry carries schemas: a superseded entry's data
        # is expired, so its schemas would only grow the manifest
        prior = (
            [*snaps[:-1], {k: v for k, v in cur.items() if k != "schemas"}]
            if cur else []
        )
        manifest = {"snapshots": [*prior, entry]}
        tmp = self._manifest_path + f".tmp.{token}"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self._manifest_path)  # atomic commit point
        self._manifest, self._manifest_stat = manifest, self._stat_key()
        self._expire(tables)
        return snap_id

    def _expire(self, tables: dict[str, list[str]]) -> None:
        """Delete every data directory and manifest temp file that the
        current snapshot (``tables``) does not list. Runs after the swap, so
        a failure here leaves only orphans, which the next commit removes;
        it never fails a commit that has already happened."""
        live = {rel for rels in tables.values() for rel in rels}
        data = os.path.join(self.root, "data")
        for name in os.listdir(data) if os.path.isdir(data) else []:
            for group in os.listdir(os.path.join(data, name)):
                if f"data/{name}/{group}" not in live:
                    shutil.rmtree(os.path.join(data, name, group), ignore_errors=True)
        for tmp in glob.glob(glob.escape(self._manifest_path) + ".tmp.*"):
            with contextlib.suppress(OSError):
                os.remove(tmp)

    def read(self, spark: SparkSession, name: str) -> DataFrame | None:
        cur = self.current()
        if not cur or name not in cur["tables"]:
            return None
        paths = [os.path.join(self.root, p) for p in cur["tables"][name]]
        # the page CRCs stand in for the ``.crc`` sidecars
        reader = spark.read.option("parquet.page.verify-checksum.enabled", "true")
        stored = cur.get("schemas", {}).get(name)
        if stored is None:  # written before schemas were stored
            return reader.option("mergeSchema", "true").parquet(*paths)
        return reader.schema(StructType.fromJson(json.loads(stored))).parquet(*paths)
