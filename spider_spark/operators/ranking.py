"""Scalable deterministic ranking (L2 analog).

The reference's only ordering is insertion order, presented as ``#N url |
title`` (db_ops_controller.py:60-65, record.py:19-36). The engine needs a
deterministic **total admission order** for parity (which URL was admitted
first decides nothing in the reference only because its async timing is
racy — quirk Q2; we pin BFS order: round, then (parent_rank, link_pos)).

A naive ``row_number().over(Window.orderBy(...))`` collapses the whole
frontier onto one task. This module ranks in two passes instead:

1. partition on the order key + sort within partitions,
2. collect per-group (count, min id, max id) in one tiny job, compute
   prefix offsets on the driver, and add ``offset + local index`` as a
   pure JVM projection.

Each partition ranks independently — no single-task global sort — which is
what a 10^10-row frontier needs.

**Two partitioning modes.**

* *Range mode* (default): ``repartitionByRange`` on the order columns.
  General — works for any orderable key — but Spark's range partitioner
  runs a **sampling job** over the input to pick boundaries, so the input
  is evaluated twice (sample + shuffle).
* *Bucket mode* (``bucket_expr``): the caller supplies an integer Column
  that is **monotone non-decreasing in the order key** with small
  cardinality (e.g. arithmetic ranges over a dense parent rank). Rows are
  hash-partitioned on the bucket value — no sampling pass, so the input
  is evaluated exactly ONCE, in the shuffle map stage. Because the bucket
  is monotone and hash partitioning puts each bucket wholly in one
  partition, a within-partition sort makes every bucket a contiguous,
  sorted run; per-bucket (cnt, min_mid) then yield exact global ranks.
  The crawl uses this for admission ranks: its order key's prefix
  ``(depth, parent_rank)`` is dense and bounded, so arithmetic buckets
  cost nothing and the dedupe → rank chain becomes a single job.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_global_rank(
    df: DataFrame,
    order_cols: list[str],
    rank_col: str = "rank",
    start: int = 0,
    num_partitions: int | None = None,
    with_count: bool = False,
    stats_collector=None,
    bucket_expr: Column | None = None,
) -> DataFrame:
    """Add a dense 0-based global rank column ordered by ``order_cols``
    (which must be a strict total order — no ties). ``start`` offsets the
    rank (continuing a cross-round running counter). ``with_count=True``
    returns ``(df, total_rows)`` — the total falls out of the stats pass
    for free, saving callers a separate count job.

    ``bucket_expr`` (optional) switches to bucket mode: an integer Column,
    monotone non-decreasing in the ``order_cols`` tuple, of small
    cardinality (≲ thousands — its distinct values are collected to the
    driver). Skips range partitioning's sampling job entirely.

    ``stats_collector`` (optional) replaces the built-in per-group stats
    collect: it receives the materialized DataFrame — stamped with
    ``__rkey`` (the stats group: partition id in range mode, bucket value
    in bucket mode) and ``__mid`` — and must return rows/dicts with
    ``__rkey``/``cnt``/``min_mid``/``max_mid``. Callers use it to
    piggyback OTHER per-partition reductions (e.g. the crawl's
    bloom-shard fill, bloom.ShardedBloom.fill_collector) onto the stats
    pass — one driver job instead of two, with no groupBy shuffle (the
    combined pass is mapInPandas over the checkpoint)."""
    sc = df.sparkSession.sparkContext
    parts = num_partitions or sc.defaultParallelism
    # One materialization: partition + sort once, stamp each row with the
    # stats group key and ``monotonically_increasing_id`` in the same
    # narrow projection, checkpoint. ``monotonically_increasing_id``
    # encodes ``(pid << 33) + row_index_in_partition`` and the partition
    # is sorted, so within any contiguous sorted run the id is the local
    # sorted row number plus the run's min id — no window, no second
    # shuffle.
    if bucket_expr is not None:
        parted = (
            df.withColumn("__rkey", bucket_expr.cast("long"))
            .repartition(parts, F.col("__rkey"))
            .sortWithinPartitions(*order_cols)
            .withColumn("__mid", F.monotonically_increasing_id())
            .localCheckpoint(eager=True)
        )
    else:
        parted = (
            df.repartitionByRange(parts, *[F.col(c) for c in order_cols])
            .sortWithinPartitions(*order_cols)
            .withColumn("__rkey", F.spark_partition_id().cast("long"))
            .withColumn("__mid", F.monotonically_increasing_id())
            .localCheckpoint(eager=True)
        )
    if stats_collector is not None:
        stats = stats_collector(parted)
    else:
        stats = parted.groupBy("__rkey").agg(
            F.count("*").alias("cnt"),
            F.min("__mid").alias("min_mid"),
            F.max("__mid").alias("max_mid"),
        ).collect()
    # Guard the layout assumptions — admission_rank feeds the crawl's
    # determinism contract, so fail loudly instead of silently mis-ranking:
    # * every group must be one contiguous id run (max - min == cnt - 1).
    #   In bucket mode this catches a bucket split across partitions or
    #   interleaved with another (ids jump by ≥ 2^33 across partitions);
    #   in range mode, a partition exceeding 2^33 rows.
    # * range mode additionally pins the documented
    #   monotonically_increasing_id encoding (min id == pid << 33).
    for r in stats:
        if r["max_mid"] - r["min_mid"] != r["cnt"] - 1:
            raise AssertionError(
                f"non-contiguous id run in rank group {r['__rkey']}: "
                f"ids [{r['min_mid']}, {r['max_mid']}] for cnt={r['cnt']}; "
                "global ranking would be corrupted"
            )
        if bucket_expr is None and r["min_mid"] != r["__rkey"] << 33:
            raise AssertionError(
                "monotonically_increasing_id encoding mismatch in partition "
                f"{r['__rkey']}: min id {r['min_mid']} != {r['__rkey'] << 33}; "
                "global ranking would be corrupted"
            )
    # prefix offsets in group-key order: range mode's partition ids follow
    # the range boundaries; bucket mode's bucket values are monotone in the
    # order key by contract — either way, ascending key == global order.
    sizes = {r["__rkey"]: (r["cnt"], r["min_mid"]) for r in stats}
    adjust, acc = {}, start
    for key in sorted(sizes):
        cnt, min_mid = sizes[key]
        adjust[key] = acc - min_mid  # rank = adjust[key] + mid
        acc += cnt
    if adjust:
        adjmap = F.create_map(
            *[F.lit(x).cast("long") for kv in adjust.items() for x in kv]
        )
        rank = (adjmap[F.col("__rkey")] + F.col("__mid")).cast("long")
    else:  # empty input: typed zero (an empty create_map() is VOID-typed)
        rank = F.lit(0).cast("long")
    out = parted.withColumn(rank_col, rank).drop("__rkey", "__mid")
    if with_count:
        return out, acc - start
    return out
