"""Partitioned (sharded) cuckoo-filter seen-set with DELETE support.

A bloom prefilter (:mod:`.bloom`) cannot forget: once a URL's bits are set
they stay set, so a *continuous* crawl that re-admits stale URLs
(:mod:`.recrawl`) would have to rebuild the whole filter every expiry
wave. A cuckoo filter (Fan et al., "Cuckoo Filter: Practically Better
Than Bloom", CoNEXT'14) stores displaceable 16-bit fingerprints in
4-slot buckets, which buys:

* **deletion** — removing a stale URL's fingerprint re-opens the unseen
  gate for exactly that URL (modulo the documented fingerprint-collision
  caveat below);
* comparable space at fpp ≈ ``2·4 / 2^16 ≈ 1.2e-4`` with ~95% load.

:class:`ShardedCuckoo` is the cuckoo kernel of the sharded seen-filter
contract (:mod:`.shardstore`), shared with the bloom: same shard layout,
same probe UDF and candidate split (:func:`filter_unseen`, bound here as
``filter_unseen_cuckoo``), same growth rule and release. The filter only
*prefilters*; every maybe-seen candidate is confirmed by an exact
anti-join, so false positives never drop a URL. Deletion
(:func:`delete_from`) is the one capability only the cuckoo adds. Its
standard caveat: deleting key A also unblocks a key B that collides with
A on (bucket, fingerprint) — probability ≈ fpp per key — which here only
means B gets re-fetched once; it can never corrupt the exact seen table.

**Distribution.** Unlike bloom bit arrays, cuckoo tables are NOT
OR-mergeable, so adds and deletes repartition keys BY SHARD and rewrite
each shard's whole table inside the task that owns it (``mapInPandas``;
a task may own several shards, a shard never spans tasks). Driver
traffic is one table per shard — same order as the bloom partials.
Inserts are bulk-vectorized: a numpy pass places all items with a free
primary slot, a second pass tries alternate buckets, and only the
residue (both buckets full) walks the classic kick chain.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spider_spark.operators.shardstore import ShardedFilter, filter_unseen

_FP_SALT = 0x2545F491
_SLOTS = 4
_MAX_KICKS = 500


class CuckooTable:
    """One shard: ``(n_buckets, 4)`` uint16 fingerprint slots (0 = empty).
    ``slots`` may come flat (a shard file or broadcast's bytes)."""

    def __init__(self, n_buckets: int, slots: np.ndarray | None = None):
        if n_buckets & (n_buckets - 1):
            raise ValueError(f"n_buckets must be a power of two: {n_buckets}")
        self.n_buckets = n_buckets
        self.slots = (
            slots.reshape(n_buckets, _SLOTS)
            if slots is not None
            else np.zeros((n_buckets, _SLOTS), dtype=np.uint16)
        )

    @staticmethod
    def sized_for(expected: int) -> int:
        """Buckets for ``expected`` keys at ≤95% load, power of two."""
        need = max(1, int(np.ceil(expected / (_SLOTS * 0.95))))
        return 1 << int(need - 1).bit_length()

    # -- hashing ------------------------------------------------------------

    def _fp(self, h: np.ndarray) -> np.ndarray:
        """16-bit nonzero fingerprint from the key hash."""
        f = ((h >> np.uint64(32)) & np.uint64(0xFFFF)).astype(np.uint16)
        f[f == 0] = 1
        return f

    def _i1(self, h: np.ndarray) -> np.ndarray:
        return (h & np.uint64(self.n_buckets - 1)).astype(np.int64)

    def _alt(self, i: np.ndarray, fp: np.ndarray) -> np.ndarray:
        # partial-key cuckoo: i2 = i1 XOR hash(fp)  (involution, so the
        # same formula maps i2 back to i1)
        fh = fp.astype(np.uint64) * np.uint64(_FP_SALT)
        return (i.astype(np.uint64) ^ fh).astype(np.int64) & (self.n_buckets - 1)

    # -- bulk insert ----------------------------------------------------------

    def _place_bulk(self, idx: np.ndarray, fp: np.ndarray) -> np.ndarray:
        """Vectorized greedy placement of (idx, fp) pairs into free slots of
        their target buckets; returns the boolean mask of items placed.
        Items aiming at the same bucket are ranked by arrival order and
        claim free slots in sequence — pure numpy, no per-item loop."""
        if not len(idx):
            return np.zeros(0, dtype=bool)
        order = np.argsort(idx, kind="stable")
        sidx = idx[order]
        first = np.concatenate(([True], sidx[1:] != sidx[:-1]))
        group_start = np.maximum.accumulate(np.where(first, np.arange(len(sidx)), 0))
        rank = np.arange(len(sidx)) - group_start  # position within its bucket group
        free = (self.slots[sidx] == 0).astype(np.int8)
        n_free = free.sum(axis=1)
        can = rank < n_free
        # slot for the r-th claimer = index of the (r+1)-th free slot
        slot_order = np.argsort(~free.astype(bool), axis=1, kind="stable")
        slot = slot_order[np.arange(len(sidx)), np.minimum(rank, _SLOTS - 1)]
        tgt_b = sidx[can]
        tgt_s = slot[can]
        self.slots[tgt_b, tgt_s] = fp[order][can]
        placed = np.zeros(len(idx), dtype=bool)
        placed[order[can]] = True
        return placed

    def add_many(self, h: np.ndarray) -> int:
        """Insert all keys (64-bit hashes); returns how many could NOT be
        placed (0 unless the table is past its design load)."""
        fp = self._fp(h)
        i1 = self._i1(h)
        placed = self._place_bulk(i1, fp)
        rem = ~placed
        if rem.any():
            i2 = self._alt(i1[rem], fp[rem])
            placed2 = self._place_bulk(i2, fp[rem])
            rem_idx = np.flatnonzero(rem)[~placed2]
        else:
            rem_idx = np.empty(0, dtype=np.int64)
        failures = 0
        for j in rem_idx:  # kick chains: the rare residue only
            if not self._insert_with_kicks(int(i1[j]), np.uint16(fp[j])):
                failures += 1
        return failures

    def _insert_with_kicks(self, i: int, f: np.uint16) -> bool:
        rng = np.random.default_rng(int(f) * 2654435761 % (1 << 32))  # deterministic
        for _ in range(_MAX_KICKS):
            row = self.slots[i]
            empty = np.flatnonzero(row == 0)
            if len(empty):
                row[empty[0]] = f
                return True
            victim = int(rng.integers(0, _SLOTS))
            f, row[victim] = row[victim], f
            i = int(self._alt(np.array([i]), np.array([f], dtype=np.uint16))[0])
        return False

    # -- probe / delete -------------------------------------------------------

    def contains_many(self, h: np.ndarray) -> np.ndarray:
        fp = self._fp(h)
        i1 = self._i1(h)
        i2 = self._alt(i1, fp)
        hit1 = (self.slots[i1] == fp[:, None]).any(axis=1)
        hit2 = (self.slots[i2] == fp[:, None]).any(axis=1)
        return hit1 | hit2

    def delete_many(self, h: np.ndarray) -> int:
        """Remove ONE matching fingerprint per key (bucket i1 first);
        returns the number actually removed. Sequential over the batch —
        deletes are expiry waves, orders of magnitude smaller than
        inserts/probes."""
        fp = self._fp(h)
        i1 = self._i1(h)
        i2 = self._alt(i1, fp)
        removed = 0
        for j in range(len(h)):
            for b in (int(i1[j]), int(i2[j])):
                row = self.slots[b]
                hit = np.flatnonzero(row == fp[j])
                if len(hit):
                    row[hit[0]] = 0
                    removed += 1
                    break
        return removed

    def tobytes(self) -> bytes:
        return self.slots.tobytes()


class ShardedCuckoo(ShardedFilter):
    """``n_shards`` independent cuckoo tables (see :class:`.shardstore.
    ShardedFilter` for the shared layout and lifecycle). ``n_items`` counts
    adds minus deletes; ``expected`` is the 95% design load."""

    dtype = "uint16"

    def _size(self, per_shard: int) -> int:
        self.n_buckets = CuckooTable.sized_for(per_shard)
        return self.n_buckets * _SLOTS * 2

    def _kernel(self):
        return partial(CuckooTable, self.n_buckets)

    def _key_cols(self, col: str):
        return F.xxhash64(F.col(col)).cast("long").alias("__h"), self._shard_col(col)

    def resized(self, expected: int) -> "ShardedCuckoo":
        return ShardedCuckoo(expected, self.n_shards, spill_dir=self.spill_dir)

    def add(self, df: DataFrame, col: str) -> int:
        return _apply_sharded(self, df, col, "add")


def _apply_sharded(cuckoo: ShardedCuckoo, df: DataFrame, col: str,
                   op: str) -> int:
    """Run ``add`` or ``delete`` for ``df[col]`` against the owning shard
    tables: keys repartition BY SHARD, each task mutates the tables of the
    shards it owns and commits whole replacement tables — to the driver
    (in-memory mode, shipped in via broadcast for adds into a non-empty
    filter) or to the shard store (spill mode: the task reads the shard's
    current file, mutates, writes the next version; the driver sees only
    paths). Returns the number of keys applied."""
    kernel = cuckoo._kernel()
    sc = df.sparkSession.sparkContext
    spilled = cuckoo.spilled
    if spilled:
        tables_bc = None
        store = cuckoo.store
        version = cuckoo.version + 1
        base_paths = list(cuckoo.shard_paths)
    else:
        empty = not any(t.slots.any() for t in cuckoo.shards)
        tables_bc = (
            None if empty
            else sc.broadcast([t.tobytes() for t in cuckoo.shards])
        )
    hashed = (
        df.select(*cuckoo._key_cols(col))
        .repartition(cuckoo.n_shards, F.col("__shard"))
    )

    def run(batches):
        local: dict[int, CuckooTable] = {}
        failed = 0
        n_keys = 0
        for pdf in batches:
            if not len(pdf):
                continue
            n_keys += len(pdf)
            hv = pdf["__h"].to_numpy(dtype=np.int64).view(np.uint64)
            shv = pdf["__shard"].to_numpy(dtype=np.int32)
            for s in np.unique(shv):
                t = local.get(int(s))
                if t is None:
                    if spilled:
                        p = base_paths[int(s)]
                        base = None if p is None else store.read(p, use_cache=False)
                    else:
                        base = None if tables_bc is None else np.frombuffer(
                            tables_bc.value[int(s)], dtype=np.uint16
                        ).copy()
                    t = local[int(s)] = kernel(base)
                m = shv == s
                if op == "add":
                    failed += t.add_many(hv[m])
                else:
                    t.delete_many(hv[m])
        if local:
            yield pd.DataFrame(
                {
                    "shard": list(local),
                    "slots": (
                        [store.write(s, version, t.slots)
                         for s, t in local.items()]
                        if spilled
                        else [t.tobytes() for t in local.values()]
                    ),
                    "failed": [failed] + [0] * (len(local) - 1),
                    "n_keys": [n_keys] + [0] * (len(local) - 1),
                }
            )

    schema = (
        "shard int, slots string, failed long, n_keys long"
        if spilled
        else "shard int, slots binary, failed long, n_keys long"
    )
    rows = hashed.mapInPandas(run, schema=schema).collect()
    failures = 0
    for r in rows:
        if spilled:
            cuckoo.shard_paths[r["shard"]] = r["slots"]
        else:
            cuckoo.shards[r["shard"]] = kernel(
                np.frombuffer(r["slots"], dtype=np.uint16).copy()
            )
        failures += r["failed"]
    if spilled:
        cuckoo.version = version
    if tables_bc is not None:
        tables_bc.destroy()
    if failures:
        raise RuntimeError(
            f"cuckoo filter overflow: {failures} keys unplaceable — rebuild "
            "bigger (the growth rule should have triggered first)"
        )
    return sum(r["n_keys"] for r in rows)


def build_cuckoo(df: DataFrame, col: str, expected: int | None = None,
                 n_shards: int = 1,
                 spill_dir: str | None = None) -> ShardedCuckoo:
    """``expected`` is a CAPACITY hint only; ``n_items`` is always set from
    the actual key count observed by the build pass, so the growth signal
    stays truthful when a caller over-provisions."""
    if expected is None:
        expected = df.count()
    return add_into(ShardedCuckoo(expected, n_shards, spill_dir=spill_dir),
                    df, col)


def add_into(cuckoo: ShardedCuckoo, df: DataFrame, col: str,
             count_items: bool = True) -> ShardedCuckoo:
    n = cuckoo.add(df, col)
    if count_items:
        cuckoo.n_items += n
    return cuckoo


def delete_from(cuckoo: ShardedCuckoo, df: DataFrame, col: str,
                count_items: bool = True) -> ShardedCuckoo:
    """Expire keys: their fingerprints leave the filter, so the unseen
    gate re-admits them (the recrawl path). Collision caveat in the
    module docstring — a collided survivor is re-fetched, never lost."""
    n = _apply_sharded(cuckoo, df, col, "delete")
    if count_items:
        cuckoo.n_items -= n
    return cuckoo


# the probe and candidate split are the shared ones (shardstore.py)
filter_unseen_cuckoo = filter_unseen
