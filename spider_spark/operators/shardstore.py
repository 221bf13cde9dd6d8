"""The sharded seen-filter contract and its executor-visible shard storage.

Both seen-set prefilters — the engine-owned bloom (:mod:`.bloom`) and the
caller-owned deletable cuckoo (:mod:`.cuckoo`) — are one mechanism with two
kernels (SURVEY D1/H3): the key space is split by ``xxhash64(key,
SHARD_SALT) % n_shards``, each shard is an independent bit/slot array, and
a probe only *prefilters* — :func:`filter_unseen` confirms every
maybe-seen candidate with an exact anti-join, so false positives never
drop a URL. :class:`ShardedFilter` holds what the two share:

* the shard layout and where shards live — on the driver (one broadcast
  per shard at probe time, bounded by ``max_driver_bytes``) or as
  versioned files in a :class:`ShardStore` (spill mode);
* the lifecycle the crawl drives: ``probe`` → ``admit`` (add, or grow by
  :meth:`ShardedFilter.rebuild` past capacity) → ``release``;
* the growth rule (:meth:`ShardedFilter.grown_capacity`): a filter whose
  exact running count ``n_items`` would pass its sized-for ``expected``
  is rebuilt from the seen table at 4× the new count — amortized O(1)
  rebuilds per key, fpp stays near nominal (tests/test_properties.py).

A kernel class supplies sizing, the hash columns and the executor-side
``add``; the bloom adds an optional ``fill_collector`` (its bit arrays
OR-merge, so a round's fill can ride the ranking stats pass) and the
cuckoo adds deletion. Jobs are launched only by the kernel modules.

**Spill mode.** In-memory filters hold every shard on the driver: at
10^10 URLs that is ~12 GB (1%-fpp bloom) or ~21 GB (16-bit cuckoo) at
every build/grow/wave. Spill mode removes the driver from the data path:

* shard arrays are written **by the executor task that built them** to a
  filesystem visible to both driver and executors (local mode: any
  directory; a cluster: the shared storage the TableIO warehouse already
  assumes) — the driver holds only *paths*;
* filenames embed a monotone version, and writes are atomic
  (tmp + rename), so a worker-side cache keyed by path can never serve
  stale bits and a killed build can never leave a torn file current;
* probes read shards lazily through a per-worker bounded LRU cache —
  exactly the access pattern the lazy broadcasts gave, without a
  driver-resident master copy.

Superseded versions accumulate until :meth:`ShardStore.gc` — callers run
it after the jobs consuming the previous version have finished (the same
point the broadcast lifecycle destroys its handles).
"""

from __future__ import annotations

import os
import uuid
from collections import OrderedDict

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

SHARD_SALT = 0x5BD1E995

# in-memory mode holds every shard on the driver simultaneously; past this
# bound construction fails loudly and points at spill mode (VERDICT r3 #3).
# 4 GiB ≈ a 1%-fpp bloom for ~3.6e9 keys; beyond that, spill_dir=.
MAX_DRIVER_FILTER_BYTES = 4 << 30

# per-worker-process read cache: path -> array. Versioned filenames make
# stale entries unreachable; the byte cap keeps a long-lived executor from
# accumulating every version it ever probed.
_CACHE: "OrderedDict[str, np.ndarray]" = OrderedDict()
_CACHE_CAP_BYTES = 512 << 20


def _cache_get(path: str):
    arr = _CACHE.get(path)
    if arr is not None:
        _CACHE.move_to_end(path)
    return arr


def _cache_put(path: str, arr: np.ndarray) -> None:
    _CACHE[path] = arr
    _CACHE.move_to_end(path)
    total = sum(a.nbytes for a in _CACHE.values())
    while total > _CACHE_CAP_BYTES and len(_CACHE) > 1:
        _, dropped = _CACHE.popitem(last=False)
        total -= dropped.nbytes


class ShardStore:
    """Versioned flat-file store for one filter's shards. Picklable (plain
    attributes), so probe/build closures ship it to executors."""

    def __init__(self, root: str, dtype: str, name: str | None = None):
        self.root = root
        self.dtype = dtype
        # unique per filter instance: two filters may share a spill root
        self.name = name or uuid.uuid4().hex[:8]
        os.makedirs(root, exist_ok=True)

    def path_for(self, shard: int, version: int) -> str:
        return os.path.join(
            self.root, f"{self.name}_s{shard:05d}_v{version:06d}.bin"
        )

    def write(self, shard: int, version: int, arr: np.ndarray) -> str:
        """Atomic write from whichever process built the shard (normally an
        executor task). Returns the committed path."""
        p = self.path_for(shard, version)
        tmp = f"{p}.tmp.{uuid.uuid4().hex[:6]}"
        with open(tmp, "wb") as f:
            f.write(np.ascontiguousarray(arr).tobytes())
        os.replace(tmp, p)
        return p

    def read(self, path: str, use_cache: bool = True) -> np.ndarray:
        """Read a shard array. Cached copies are read-only — a caller that
        mutates (build/add/delete) must ``.copy()`` or pass
        ``use_cache=False``."""
        if use_cache:
            hit = _cache_get(path)
            if hit is not None:
                return hit
        arr = np.fromfile(path, dtype=self.dtype)
        if use_cache:
            arr.flags.writeable = False
            _cache_put(path, arr)
        return arr

    def gc(self, keep_paths) -> int:
        """Delete this filter's files not in ``keep_paths``. Run only after
        the jobs that probed the previous version have completed. Returns
        the number of files removed."""
        keep = {os.path.basename(p) for p in keep_paths if p}
        removed = 0
        for fn in os.listdir(self.root):
            if (fn.startswith(f"{self.name}_s") and fn not in keep
                    and not fn.endswith((".tmp",)) and ".tmp." not in fn):
                try:
                    os.remove(os.path.join(self.root, fn))
                    removed += 1
                except OSError:
                    pass
        return removed


class ShardedFilter:
    """``n_shards`` independent kernel tables partitioning the key space by
    the shard hash. ``n_items`` is the exact running key count, kept by
    the caller (who knows every batch's cardinality) or by the build pass.

    Subclasses set ``dtype`` (the shard array's numpy dtype) and implement
    ``_size(per_shard) -> shard bytes``, ``_kernel()`` (a picklable
    ``array | None -> table`` whose tables have ``contains_many(*hashes)``
    and ``tobytes()``), ``_key_cols(col)`` (hash columns, shard last),
    ``resized(expected)`` and ``add(df, col) -> keys added``."""

    dtype: str

    def __init__(self, expected: int, n_shards: int = 1,
                 spill_dir: str | None = None,
                 max_driver_bytes: int = MAX_DRIVER_FILTER_BYTES):
        self.n_shards = max(1, n_shards)
        self.expected = max(1, expected)
        self.spill_dir = spill_dir
        shard_bytes = self._size(max(1, self.expected // self.n_shards))
        if spill_dir is None:
            total = self.n_shards * shard_bytes
            if total > max_driver_bytes:
                raise ValueError(
                    f"in-memory {type(self).__name__} would hold "
                    f"{total / 2**30:.1f} GiB on the driver ({self.n_shards} "
                    f"shards × {shard_bytes} B for {self.expected:,} keys), "
                    f"over the {max_driver_bytes / 2**30:.1f} GiB bound — "
                    "pass spill_dir= (shared-filesystem shard store: driver "
                    "holds only paths, executors build/mutate/probe shards "
                    "directly) or raise max_driver_bytes explicitly"
                )
            new = self._kernel()
            self.shards = [new(None) for _ in range(self.n_shards)]
        else:
            self.store = ShardStore(spill_dir, dtype=self.dtype)
            # None = shard never written (empty table: definite miss)
            self.shard_paths: list[str | None] = [None] * self.n_shards
            self.version = 0
        self.n_items = 0
        # broadcast handles created by probes against this filter; the
        # engine destroys them once the round's jobs have materialized —
        # without this a long crawl accumulates one filter-size broadcast
        # generation per round on driver + executors (VERDICT r2 next-2)
        self._live_bcasts: list = []

    @property
    def saturated(self) -> bool:
        return self.n_items > self.expected

    @property
    def spilled(self) -> bool:
        return self.spill_dir is not None

    def _shard_col(self, col: str):
        return F.pmod(
            F.xxhash64(F.col(col), F.lit(SHARD_SALT)), F.lit(self.n_shards)
        ).cast("int").alias("__shard")

    def fill_collector(self, col: str):
        """Optional capability: a ``stats_collector`` for
        :func:`.ranking.with_global_rank` that also adds the ranked rows'
        ``col`` keys. None = the filter needs its own ``add`` job."""
        return None

    # -- lifecycle ---------------------------------------------------------

    def probe(self, col: str, sc):
        """Boolean maybe-seen Column for ``col``: ONE pandas UDF for every
        kernel. Spill mode reads each shard a batch touches from the store
        (per-worker cache, versioned paths, never stale); in-memory mode
        registers one broadcast PER SHARD — broadcasts materialize lazily on
        first ``.value``, so a task whose batch never touches shard s never
        pulls its bytes (what keeps a 12 GB aggregate filter usable on
        executors with a fraction of that memory)."""
        if self.spilled:
            store, paths = self.store, list(self.shard_paths)

            def read(s):
                return None if paths[s] is None else store.read(paths[s])
        else:
            bcasts = [sc.broadcast(t.tobytes()) for t in self.shards]
            self.register_broadcasts(bcasts)
            dtype = self.dtype

            def read(s):
                return np.frombuffer(bcasts[s].value, dtype=dtype)
        kernel = self._kernel()

        @F.pandas_udf(BooleanType())
        def maybe_seen(*cols: pd.Series) -> pd.Series:
            *hashes, sh = cols
            if not len(sh):
                return pd.Series([], dtype=bool)
            hv = [h.to_numpy(dtype=np.int64).view(np.uint64) for h in hashes]
            shv = sh.to_numpy(dtype=np.int32)
            out = np.zeros(len(shv), dtype=bool)
            for s in np.unique(shv):
                arr = read(int(s))
                if arr is None:
                    continue  # empty shard: definite miss
                m = shv == s
                out[m] = kernel(arr).contains_many(*(h[m] for h in hv))
            return pd.Series(out)

        return maybe_seen(*self._key_cols(col))

    def grown_capacity(self, n_new: int) -> int | None:
        """The growth rule: the capacity to rebuild at once ``n_new`` more
        keys are admitted — 4× the new count when it passes ``expected``
        (geometric growth), None while it still fits."""
        n = self.n_items + n_new
        return 4 * n if n > self.expected else None

    def admit(self, keys: DataFrame | None, n_new: int, source: DataFrame,
              col: str = "canon_url") -> "ShardedFilter":
        """Account for ``n_new`` newly seen keys; returns the live filter.
        Past capacity the filter is rebuilt from ``source`` (the whole seen
        table, already holding the new keys) — before any add, since a
        cuckoo batch past its design load can physically overflow;
        otherwise ``keys`` are added (None: a ``fill_collector`` already
        did) and superseded shard files are dropped."""
        cap = self.grown_capacity(n_new)
        if cap is not None:
            return self.rebuild(source, cap, col)
        if keys is not None:
            self.add(keys, col)
        self.n_items += n_new
        self.gc_spill()
        return self

    def rebuild(self, source: DataFrame, expected: int,
                col: str = "canon_url") -> "ShardedFilter":
        """A same-layout filter sized for ``expected``, filled from
        ``source`` (``n_items`` = the keys it holds); this one is released."""
        fresh = self.resized(expected)
        fresh.n_items = fresh.add(source, col)
        self.release()
        return fresh

    def register_broadcasts(self, handles: list) -> None:
        self._live_bcasts.extend(handles)

    def destroy_broadcasts(self) -> int:
        """Destroy every broadcast registered against this filter. Safe
        once the consuming jobs have run (the crawl plan materializes the
        probe inside the dedupe phase). Returns the number destroyed."""
        n = len(self._live_bcasts)
        for b in self._live_bcasts:
            try:
                b.destroy()
            except Exception:
                pass  # already destroyed / context gone
        self._live_bcasts.clear()
        return n

    def gc_spill(self) -> int:
        """Drop superseded shard files (call once the jobs that probed the
        previous version have run — the broadcast-destroy point)."""
        return self.store.gc(self.shard_paths) if self.spilled else 0

    def release(self) -> None:
        """Retire the filter: its broadcasts and every shard file it wrote."""
        self.destroy_broadcasts()
        if self.spilled:
            self.store.gc([])


def filter_unseen(candidates: DataFrame, col: str, seen: DataFrame,
                  filt: ShardedFilter | None, materialize=None,
                  materialize_confirmed: bool = True) -> DataFrame:
    """Exact-by-construction seen filtering: the filter's probe (when
    given) splits candidates into definitely-new (pass through, no
    shuffle) and maybe-seen (confirmed by exact anti-join). Without a
    filter, plain ``left_anti`` (use_cache.py:22-24 semantics: only
    never-seen URLs are admitted).

    ``materialize`` (optional, e.g. an eager localCheckpoint) is applied
    to the flagged candidates — carrying the probe's verdict as
    ``__maybe``; one pass through the Python probe, consumed by both
    branches — and, when ``materialize_confirmed``, to the anti-join
    output (one pass through the seen shuffle). The returned union is
    then cheap JVM filters over materialized data, safe for consumers
    that evaluate their input twice (range-partition sampling). A consumer
    that evaluates its input exactly ONCE (the crawl's bucket-mode ranking
    shuffle) passes ``materialize_confirmed=False``: the anti-join then
    folds into the consumer's own job — one materialization for the whole
    dedupe→rank chain. Either way the probe's broadcasts are consumed by
    the flagged materialization alone, so the caller may destroy them as
    soon as this returns (given ``materialize`` was eager)."""
    seen_keys = seen.select(F.col(col))
    if filt is None:
        return candidates.join(seen_keys, on=col, how="left_anti")
    flagged = candidates.withColumn(
        "__maybe", filt.probe(col, candidates.sparkSession.sparkContext)
    )
    if materialize is not None:
        flagged = materialize(flagged)
    definitely_new = flagged.filter(~F.col("__maybe")).drop("__maybe")
    suspects = flagged.filter(F.col("__maybe")).drop("__maybe")
    confirmed_new = suspects.join(seen_keys, on=col, how="left_anti")
    if materialize is not None and materialize_confirmed:
        confirmed_new = materialize(confirmed_new)
    return definitely_new.unionByName(confirmed_new)
