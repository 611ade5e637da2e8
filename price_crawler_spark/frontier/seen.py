"""URL-seen dedup at frontier scale (SURVEY.md §2.5 J2, north rule).

Layered design:

  1. in-batch exact dedup — first-wins by ``seq_key`` within the wave's
     candidate minibatch (window row_number, reproducing the reference's
     insertion-order first-wins at sunfar.py:49-71).
  2. sharded probabilistic prefilter — ``shard = pmod(url_hash, n_shards)``
     (``partitioning.seen_shard``); each shard is one byte blob. Candidates
     the filter does not hold are DEFINITELY new and skip the exact check.
     One pipeline (:class:`ShardedFilter`) owns the shard key, the probe
     cogroup and the mutate cogroup; two per-shard numpy kernels plug in:
       * :class:`ShardedBloom` — a bit array, hash family (h1 + i·h2) mod m
         with h1 = xxhash64(canonical_url), h2 = xxhash64(h1), both computed
         JVM-side with Spark's fixed-seed xxhash64;
       * :class:`ShardedCuckoo` — a :class:`CuckooShard` table of 16-bit
         fingerprints that also supports DELETE (re-crawl invalidation).
     n_shards is independent of parallelism, so false positives and shard
     bytes are identical across runs and cluster sizes (SURVEY §7.3 risk 5).
  3. exact anti-join — one left_anti join over the single probe output,
     on ``url_hash = seen.url_hash AND maybe_seen``: definite-new rows can
     never match the condition, so only the maybe-seen residue is checked
     against the seen table. The FINAL seen set is therefore exact, and the
     probe cogroup runs once (a union of a definite-new branch and a
     residue branch would run it once per branch). Every candidate enters
     the join — O(wave) rows, beside the seen table's O(corpus) side.

The blobs travel as parquet BINARY rows (shard, bits) co-partitioned with
candidates on ``shard``: probe and insert/delete are ``applyInPandas``
cogroups, so a shard's bytes cross the shuffle once per shard, never per
candidate row. Every probe kernel is a numpy gather (no per-row Python);
the cuckoo insert/delete walk is per-row by nature and runs over the
shard's hashes in sorted order so its bytes are partitioning-independent.
Sizing: bits_per_shard=2^20 × 64 shards ≈ 8 MB handles ~5·10^7 URLs at
k=5; at 10^10 scale configure n_shards=4096 × 2^27 bits (~64 GB across the
cluster, ~16 MB per shard task) — shard count scales independently of
executor count.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from price_crawler_spark.plans.partitioning import N_SEEN_SHARDS, seen_shard

FILTER_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("bits", T.BinaryType(), False),
    ]
)


class ShardedFilter:
    """Shard/cogroup plumbing shared by the URL-seen filters. A subclass
    names the candidate columns its kernels read (``KEYS``) and supplies
    two per-shard kernels over one shard's rows: ``_contains(raw, rows)``
    → bool array, and ``_insert(raw, rows)`` → the shard's new bytes
    (``raw`` is None for a shard never written)."""

    KEYS: tuple[str, ...] = ("url_hash",)

    def __init__(self, n_shards: int):
        self.n_shards = n_shards

    def with_keys(self, df: DataFrame) -> DataFrame:
        return df.withColumn("shard", seen_shard("url_hash", self.n_shards).cast("int"))

    def _table(self, spark: SparkSession, table: DataFrame | None) -> DataFrame:
        return spark.createDataFrame([], FILTER_SCHEMA) if table is None else table

    def probe(self, cand: DataFrame, table: DataFrame | None) -> DataFrame:
        """Mark candidates ``maybe_seen``; rows without the flag are
        guaranteed-new (no false negatives).

        Cogrouped on shard: the shard's blob crosses the shuffle ONCE per
        shard, never per candidate row (an equi-join would replicate the
        128 KB blob onto every row — measured 50× slower at 2.4M URLs)."""
        contains = self._contains

        def _probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            out = left.copy()
            raw = right["bits"].iloc[0] if len(right) else None
            if len(left) == 0 or raw is None:
                out["maybe_seen"] = np.zeros(len(left), dtype=bool)
            else:
                out["maybe_seen"] = contains(raw, left)
            return out

        cand = self.with_keys(cand) if "shard" not in cand.columns else cand
        schema = T.StructType(
            list(cand.schema.fields)
            + [T.StructField("maybe_seen", T.BooleanType(), False)]
        )
        return (
            cand.groupBy("shard")
            .cogroup(self._table(cand.sparkSession, table).groupBy("shard"))
            .applyInPandas(_probe, schema)
        )

    def _mutate(self, ops: DataFrame, table: DataFrame | None, kernel) -> DataFrame:
        """Return the updated (shard, bits) table (replace-mode snapshot
        table): shards with ops get ``kernel``'s bytes; shards with none
        pass through unchanged (empty left side)."""

        def _apply(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            raw = right["bits"].iloc[0] if len(right) else None
            if len(left):
                raw = kernel(raw, left)
            return pd.DataFrame({"shard": [int(key[0])], "bits": [raw]})

        ops = self.with_keys(ops) if "shard" not in ops.columns else ops
        return (
            ops.select("shard", *self.KEYS)
            .groupBy("shard")
            .cogroup(self._table(ops.sparkSession, table).groupBy("shard"))
            .applyInPandas(_apply, FILTER_SCHEMA)
        )

    def insert(self, new: DataFrame, table: DataFrame | None) -> DataFrame:
        return self._mutate(new, table, self._insert)


class ShardedBloom(ShardedFilter):
    KEYS = ("url_hash", "h2")

    def __init__(self, n_shards: int = N_SEEN_SHARDS, bits_per_shard: int = 1 << 20, k: int = 5):
        super().__init__(n_shards)
        self.m = bits_per_shard
        self.k = k

    def with_keys(self, df: DataFrame) -> DataFrame:
        """Add h2 + shard columns (JVM-side; h1 is the existing url_hash)."""
        return super().with_keys(df.withColumn("h2", F.xxhash64("url_hash")))

    def _pos(self, rows: pd.DataFrame) -> np.ndarray:
        """(n,) int64 (h1, h2) pairs -> (n, k) bit positions, double hashing."""
        u1 = rows["url_hash"].to_numpy().astype(np.uint64)
        u2 = rows["h2"].to_numpy().astype(np.uint64)
        i = np.arange(self.k, dtype=np.uint64)[None, :]
        return ((u1[:, None] + i * u2[:, None]) % np.uint64(self.m)).astype(np.int64)

    def _contains(self, raw: bytes, rows: pd.DataFrame) -> np.ndarray:
        bits = np.unpackbits(np.frombuffer(raw, dtype=np.uint8))
        return bits[self._pos(rows)].all(axis=1)

    def _insert(self, raw: bytes | None, rows: pd.DataFrame) -> bytes:
        if raw is None:
            bits = np.zeros(self.m, dtype=np.uint8)
        else:
            bits = np.unpackbits(np.frombuffer(raw, dtype=np.uint8))
        bits[self._pos(rows).ravel()] = 1
        return np.packbits(bits).tobytes()


class ShardedCuckoo(ShardedFilter):
    """Distributed sharded cuckoo filter — the deletion-capable URL-seen
    variant (re-crawl invalidation: ``CrawlRun.invalidate`` re-enqueues
    fetched URLs and :meth:`reinsert`s their hashes). Each shard is a
    :class:`CuckooShard` blob in the (shard, bits) snapshot table.
    """

    def __init__(self, n_shards: int = N_SEEN_SHARDS, n_buckets: int = 1 << 14, slots: int = 4):
        super().__init__(n_shards)
        self.n_buckets = n_buckets
        self.slots = slots

    def _shard(self, raw: bytes | None) -> CuckooShard:
        if raw is None:
            return CuckooShard(self.n_buckets, self.slots)
        return CuckooShard.from_bytes(raw, self.n_buckets, self.slots)

    def _contains(self, raw: bytes, rows: pd.DataFrame) -> np.ndarray:
        return self._shard(raw).contains_many(rows["url_hash"].to_numpy())

    # cuckoo eviction walks make the TABLE BYTES order-sensitive; both
    # mutations walk the shard's hashes sorted so the bytes are identical
    # under any input partitioning

    def _insert(self, raw: bytes | None, rows: pd.DataFrame) -> bytes:
        shard = self._shard(raw)
        for h in rows["url_hash"].sort_values():
            if not shard.insert(int(h)):
                # the walk dropped a fingerprint it had evicted — most likely
                # an earlier URL's, which would then probe as definite-new
                # and be fetched twice; fail the job so nothing commits
                raise RuntimeError(
                    f"cuckoo shard {int(rows['shard'].iloc[0])} saturated "
                    f"({self.n_buckets}x{self.slots} slots): insert of {int(h)} "
                    "failed after max_kicks; raise n_buckets or n_shards"
                )
        return shard.to_bytes()

    def _delete(self, raw: bytes | None, rows: pd.DataFrame) -> bytes:
        shard = self._shard(raw)
        for h in rows["url_hash"].sort_values():
            shard.delete(int(h))
        return shard.to_bytes()

    def delete(self, gone: DataFrame, table: DataFrame | None) -> DataFrame:
        return self._mutate(gone, table, self._delete)

    def _reinsert(self, raw: bytes | None, rows: pd.DataFrame) -> bytes:
        return self._insert(self._delete(raw, rows), rows)

    def reinsert(self, keys: DataFrame, table: DataFrame | None) -> DataFrame:
        """``insert(keys, delete(keys, table))`` in one cogroup pass: each
        shard's kernel deletes then re-inserts its sorted hashes, so the
        bytes equal the two passes'."""
        return self._mutate(keys, table, self._reinsert)


def dedup_in_batch(cand: DataFrame, order_col: str = "seq_key") -> DataFrame:
    """First-wins exact dedup inside one wave's candidate minibatch
    (insertion order ≙ seq_key order — sunfar.py:49-71 semantics)."""
    w = Window.partitionBy("url_hash").orderBy(order_col)
    return (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def filter_new(
    cand: DataFrame,
    seen: DataFrame | None,
    table: DataFrame | None,
    filt: ShardedFilter,
) -> DataFrame:
    """Exact new-URL set (layers 2+3): one probe pass, then one left-anti
    join against ``seen`` that only a ``maybe_seen`` row can match."""
    probed = filt.probe(cand, table)
    if seen is not None:
        old = seen.select(F.col("url_hash").alias("_seen_hash"))
        probed = probed.join(
            old,
            (F.col("url_hash") == F.col("_seen_hash")) & F.col("maybe_seen"),
            "left_anti",
        )
    return probed.drop("maybe_seen", "h2", "shard")


_MASK64 = (1 << 64) - 1


class CuckooShard:
    """Deterministic cuckoo filter (16-bit fingerprints, 4-way buckets) —
    the deletion-capable fallback the north rule asks for (e.g. evicting
    URLs scheduled for re-crawl). Single-shard numpy engine; sharding and
    snapshot plumbing live in :class:`ShardedFilter`.

    Determinism: bucket choice and eviction walk derive only from the
    fingerprint and a fixed 64-bit LCG — no RNG state, so shard bytes are
    reproducible across runs/cluster sizes.
    """

    def __init__(self, n_buckets: int = 1 << 14, slots: int = 4, max_kicks: int = 200):
        assert n_buckets & (n_buckets - 1) == 0, "n_buckets must be a power of 2"
        self.n_buckets = n_buckets
        self.slots = slots
        self.max_kicks = max_kicks
        self.table = np.zeros((n_buckets, slots), dtype=np.uint16)

    def _fp(self, h: int) -> int:
        fp = (h >> 16) & 0xFFFF
        return fp if fp != 0 else 1  # 0 marks an empty slot

    def _i1(self, h: int) -> int:
        return h & (self.n_buckets - 1)

    def _i2(self, i1: int, fp: int) -> int:
        # partial-key displacement: i2 = i1 xor hash(fp)
        return (i1 ^ (fp * 0x5BD1E995)) & (self.n_buckets - 1)

    def insert(self, h: int) -> bool:
        fp = self._fp(h)
        i1 = self._i1(h)
        i2 = self._i2(i1, fp)
        for i in (i1, i2):
            empty = np.where(self.table[i] == 0)[0]
            if len(empty):
                self.table[i, empty[0]] = fp
                return True
        # deterministic eviction walk
        i = i1 if (fp & 1) == 0 else i2
        cur = fp
        state = h & _MASK64
        for _ in range(self.max_kicks):
            state = (state * 6364136223846793005 + 1442695040888963407) & _MASK64
            slot = (state >> 62) % self.slots
            cur, self.table[i, slot] = int(self.table[i, slot]), cur
            i = self._i2(i, cur)
            empty = np.where(self.table[i] == 0)[0]
            if len(empty):
                self.table[i, empty[0]] = cur
                return True
        return False  # full — the fingerprint in hand was dropped

    def contains(self, h: int) -> bool:
        fp = self._fp(h)
        i1 = self._i1(h)
        i2 = self._i2(i1, fp)
        return bool((self.table[i1] == fp).any() or (self.table[i2] == fp).any())

    def contains_many(self, h: np.ndarray) -> np.ndarray:
        """Vectorized :meth:`contains` over an int64 hash array (same
        fingerprint and bucket arithmetic, as one numpy gather)."""
        h = np.asarray(h, dtype=np.int64)
        fp = (h >> 16) & 0xFFFF
        fp[fp == 0] = 1
        mask = self.n_buckets - 1
        i1 = h & mask
        i2 = (i1 ^ (fp * 0x5BD1E995)) & mask
        fp = fp[:, None]
        return (self.table[i1] == fp).any(axis=1) | (self.table[i2] == fp).any(axis=1)

    def delete(self, h: int) -> bool:
        fp = self._fp(h)
        i1 = self._i1(h)
        for i in (i1, self._i2(i1, fp)):
            hit = np.where(self.table[i] == fp)[0]
            if len(hit):
                self.table[i, hit[0]] = 0
                return True
        return False

    def to_bytes(self) -> bytes:
        return self.table.tobytes()

    @classmethod
    def from_bytes(cls, raw: bytes, n_buckets: int = 1 << 14, slots: int = 4):
        obj = cls(n_buckets, slots)
        obj.table = np.frombuffer(raw, dtype=np.uint16).reshape(n_buckets, slots).copy()
        return obj
