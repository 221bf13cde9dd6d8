"""Partitioned (sharded) bloom-filter seen-set prefilter (SURVEY D1, H3).

The reference's seen-set is an in-memory ``set`` admission-checked before
every fetch (use_cache.py:14,22-24). The classic two-stage design puts a
**bloom filter** built from the seen table ahead of the exact check: it
drops the definitely-new URLs, and only the *maybe-seen* ones are
confirmed with an exact ``left_anti`` join against the seen table, so
false positives never drop a URL (H3) — only that join's input shrinks.

**The crawl does not prefilter by default.** Its min-depth dedupe already
hash-partitions each round's candidates by ``canon_url``, so the exact
anti-join adds no exchange on the candidate side and a bloom saves no
shuffle there, while costing a Python probe pass, an eager checkpoint, a
broadcast and a fill every round. The engine's seen gate is the plain
anti-join (:mod:`spider_spark.plans.crawl`); a :class:`ShardedBloom`
passed as a caller-owned ``seen_filter`` still drives the shared
prefilter path.

Hashing stays JVM-side (``xxhash64`` with salts); Python only ORs bit
arrays inside an Arrow-batched pass.

:class:`ShardedBloom` is the bloom kernel of the sharded seen-filter
contract (:mod:`.shardstore`): the shard layout, probe, growth rule and
release live there, shared with the deletable cuckoo (:mod:`.cuckoo`).
Per-partition partial bit arrays OR-merge on the driver (or, spilled, in
one task per shard).

**Sharding (the 10^10 path).** A monolithic filter for 10^10 URLs at 1%
fpp is ~12 GB — unbroadcastable. Shards split the key space by
``xxhash64(url, SHARD_SALT) % n_shards``; each is an independent bloom
filter under its own broadcast variable, so an executor task materializes
only the shards its rows actually hash to.

**Sizing follows the data, not a constructor constant.** The filter tracks
the exact number of keys added (the crawl knows every round's admission
count);
when the running count crosses the sized-for capacity the filter is
rebuilt from the seen table at geometrically larger capacity — fpp stays
near nominal no matter how far the crawl outgrows the initial hint
(tests/test_properties.py pins fpp ≤ 2× nominal at 10× overrun).
"""

from __future__ import annotations

import math
from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spider_spark.operators.shardstore import (  # noqa: F401 (public names)
    MAX_DRIVER_FILTER_BYTES,
    ShardedFilter,
    filter_unseen,
)

_SALT2 = 0x9E3779B9


class BloomFilter:
    """Double-hashing bloom filter over two 64-bit hashes (numpy bit ops)."""

    def __init__(self, n_bits: int, n_hashes: int, bits: np.ndarray | None = None):
        self.n_bits = n_bits
        self.n_hashes = n_hashes
        self.bits = bits if bits is not None else np.zeros((n_bits + 7) // 8, dtype=np.uint8)

    @staticmethod
    def sized_for(expected: int, fpp: float = 0.01) -> tuple[int, int]:
        expected = max(expected, 1)
        m = max(64, int(-expected * math.log(fpp) / (math.log(2) ** 2)))
        k = max(1, round(m / expected * math.log(2)))
        return m, min(k, 8)

    def _positions(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        # g_i(x) = h1 + i*h2 mod m, vectorized over rows x hashes
        i = np.arange(self.n_hashes, dtype=np.uint64)
        pos = (h1[:, None].astype(np.uint64) + i[None, :] * h2[:, None].astype(np.uint64))
        return (pos % np.uint64(self.n_bits)).astype(np.int64)

    def add_many(self, h1: np.ndarray, h2: np.ndarray) -> None:
        pos = self._positions(h1, h2).ravel()
        np.bitwise_or.at(self.bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))

    def contains_many(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        pos = self._positions(h1, h2)
        got = (self.bits[pos >> 3] >> (pos & 7)) & 1
        return got.all(axis=1)

    def tobytes(self) -> bytes:
        return self.bits.tobytes()


class ShardedBloom(ShardedFilter):
    """``n_shards`` independent bloom filters (see :class:`.shardstore.
    ShardedFilter` for the shared layout and lifecycle)."""

    dtype = "uint8"

    def __init__(self, expected: int, fpp: float = 0.01, n_shards: int = 1,
                 spill_dir: str | None = None,
                 max_driver_bytes: int = MAX_DRIVER_FILTER_BYTES):
        self.fpp = fpp
        super().__init__(expected, n_shards, spill_dir, max_driver_bytes)

    def _size(self, per_shard: int) -> int:
        self.n_bits, self.n_hashes = BloomFilter.sized_for(per_shard, self.fpp)
        return (self.n_bits + 7) // 8

    def _kernel(self):
        return partial(BloomFilter, self.n_bits, self.n_hashes)

    def _key_cols(self, col: str):
        return (F.xxhash64(F.col(col)).cast("long").alias("__h1"),
                F.xxhash64(F.col(col), F.lit(_SALT2)).cast("long").alias("__h2"),
                self._shard_col(col))

    def resized(self, expected: int) -> "ShardedBloom":
        return ShardedBloom(expected, self.fpp, self.n_shards,
                            spill_dir=self.spill_dir)

    def add(self, df: DataFrame, col: str) -> int:
        """OR ``df[col]`` into the shards distributedly: each partition
        fills local per-shard bit arrays inside ``mapInPandas`` (Arrow
        batches, numpy bit-set) and the partials merge — driver traffic is
        bit arrays, never keys. Returns the number of keys added."""
        kernel = self._kernel()
        hashed = df.select(*self._key_cols(col))
        # the fill is a cheap vectorized pass but each task round-trips a
        # Python worker; cap task count at the core count so a many-partition
        # input (e.g. a union of checkpoints) doesn't pay per-task overhead
        parallelism = df.sparkSession.sparkContext.defaultParallelism
        if hashed.rdd.getNumPartitions() > parallelism:
            hashed = hashed.coalesce(parallelism)

        def fill(batches):
            local: dict[int, BloomFilter] = {}
            n = 0
            for pdf in batches:
                n += len(pdf)
                h1 = pdf["__h1"].to_numpy(dtype=np.int64).view(np.uint64)
                h2 = pdf["__h2"].to_numpy(dtype=np.int64).view(np.uint64)
                sh = pdf["__shard"].to_numpy(dtype=np.int32)
                for s in np.unique(sh):
                    m = sh == s
                    bf = local.get(int(s))
                    if bf is None:
                        bf = local[int(s)] = kernel(None)
                    bf.add_many(h1[m], h2[m])
            if local:
                yield pd.DataFrame({
                    "shard": list(local),
                    "bits": [bf.tobytes() for bf in local.values()],
                    "n": [n] + [0] * (len(local) - 1),
                })

        partials = hashed.mapInPandas(fill, schema="shard int, bits binary, n long")
        if self.spilled:
            return _merge_spilled(self, partials)
        rows = partials.collect()
        for r in rows:
            bits = self.shards[r["shard"]].bits
            np.bitwise_or(bits, np.frombuffer(r["bits"], dtype=np.uint8), out=bits)
        return sum(r["n"] for r in rows)


def _merge_spilled(bloom: ShardedBloom, partials: DataFrame) -> int:
    """Spilled merge of ``(shard, bits, n)`` partials: they never land on
    the driver but shuffle to one task per shard, which ORs them with the
    shard's current file and writes the next version (atomic). The driver
    collects only ``(shard, path, n)`` rows. Returns the summed ``n``."""
    store = bloom.store
    version = bloom.version + 1
    base_paths = list(bloom.shard_paths)

    def merge(batches):
        acc: dict[int, np.ndarray] = {}
        n = 0
        for pdf in batches:
            for _, row in pdf.iterrows():
                s = int(row["shard"])
                bits = np.frombuffer(row["bits"], dtype=np.uint8)
                cur = acc.get(s)
                if cur is None:
                    base = base_paths[s]
                    cur = acc[s] = (
                        store.read(base, use_cache=False)
                        if base is not None
                        else np.zeros(len(bits), dtype=np.uint8)
                    )
                np.bitwise_or(cur, bits, out=cur)
                n += int(row["n"])
        if acc:
            yield pd.DataFrame({
                "shard": list(acc),
                "path": [store.write(s, version, a) for s, a in acc.items()],
                "n": [n] + [0] * (len(acc) - 1),
            })

    rows = (
        partials.repartition(bloom.n_shards, F.col("shard"))
        .mapInPandas(merge, schema="shard int, path string, n long")
        .collect()
    )
    bloom.version = version
    for r in rows:
        bloom.shard_paths[r["shard"]] = r["path"]
    return sum(r["n"] for r in rows)


def build_into(bloom: ShardedBloom, df: DataFrame, col: str) -> ShardedBloom:
    """Add ``df[col]`` to ``bloom`` (:meth:`ShardedBloom.add`), counting
    the added keys into ``n_items``."""
    bloom.n_items += bloom.add(df, col)
    return bloom


def build_bloom(df: DataFrame, col: str, expected: int | None = None,
                fpp: float = 0.01, n_shards: int = 1,
                spill_dir: str | None = None) -> ShardedBloom:
    """Build a fresh sharded bloom of ``df[col]`` (sized for ``expected``,
    defaulting to an exact count of ``df``)."""
    if expected is None:
        expected = df.count()
    return build_into(
        ShardedBloom(expected, fpp, n_shards, spill_dir=spill_dir), df, col
    )
