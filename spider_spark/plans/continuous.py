"""Continuous crawling: bootstrap once, then periodic freshness waves.

The reference crawls to a depth bound and exits (crawler.py:93-119); a
maintained web corpus instead loops forever: pages age, a scheduler picks
the stale slice, the seen-set *forgets* it, and a new crawl wave re-fetches
it — re-gating every discovered link against the full historical seen set.
This module composes the engine's parts into that loop:

* :func:`~spider_spark.operators.recrawl.recrawl_due` picks the wave —
  deterministic hash-jittered TTLs, no thundering herd;
* the :class:`~spider_spark.operators.cuckoo.ShardedCuckoo` seen filter
  lives ACROSS waves — stale URLs are *deleted* from it
  (``delete_from``), which is the whole reason the continuous path uses
  cuckoo over bloom: a bloom filter would need a full seen-table rebuild
  every wave (O(corpus) scans at 10^10 URLs), the cuckoo pays O(wave).
  Deletion is the only step this module adds: within a wave the engine
  drives the cuckoo as a caller-owned ``seen_filter`` through the one
  sharded-filter lifecycle (admit the seeds, probe and admit every round,
  grow by a rebuild from the seen table — operators/shardstore.py), and
  :meth:`attach` rebuilds it through that same path;
* :meth:`CrawlEngine.crawl` runs the wave with ``prior_seen`` +
  ``start_rank``, so admission ranks keep counting monotonically across
  the corpus lifetime (a refetch is a new admission) and the wave's link
  expansion is gated against everything ever seen minus the expired
  slice.

Scale shape per wave: one scan-local freshness filter, one cuckoo delete
keyed by shard, one anti-join to trim the exact seen set, then ordinary
crawl rounds (which shuffle only deltas). Nothing in the wave loop scans
the full corpus except the crawl's own fetch-join, which is the
broadcast-frontier / bucketed-table join the engine already uses.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spider_spark.operators.cuckoo import ShardedCuckoo, delete_from
from spider_spark.operators.recrawl import recrawl_due
from spider_spark.plans.crawl import (
    CHECKPOINT_LEVEL,
    CrawlConfig,
    CrawlEngine,
    CrawlResult,
)


@dataclass
class WaveReport:
    wave: int
    due: int            # URLs expired + re-seeded this wave
    fetched: int
    new_links: int
    near_dups: int = 0  # fetched pages whose content was gated (dedup_index)
    trap_blocked: int = 0  # hosts on the trap guard's block list after the wave
    result: CrawlResult = field(repr=False, default=None)


class ContinuousCrawler:
    """Owns the cross-wave state of a maintained corpus: the exact seen
    table (checkpointed DataFrame), the deletable cuckoo filter, and the
    monotone admission-rank counter. ``pages`` is the corpus being
    maintained (url, warc_ts, html, ...); ``warc_ts`` is each page's last
    snapshot time and drives freshness.

    **Durable mode** (``io=`` a :class:`~spider_spark.sources.tableio.
    TableIO`): the waves run the engine's per-round durable persistence —
    the store's ``seen``/``results``/``metrics`` tables carry the corpus
    state with (epoch, round) markers, exactly like the CLI ``recrawl``
    subcommand (VERDICT r3 finding #7: without it the cross-wave seen set
    was ``localCheckpoint``-only, so an executor loss between waves lost
    the corpus). A restarted process calls :meth:`attach` instead of
    :meth:`bootstrap`: dangling commits from a killed wave are rolled
    back, the seen table and rank counter reload from the store, and the
    cuckoo filter is rebuilt from the committed seen set."""

    def __init__(self, spark: SparkSession, pages: DataFrame,
                 config: CrawlConfig | None = None,
                 expected_urls: int | None = None, n_shards: int = 1,
                 io=None, spill_dir: str | None = None, dedup_index=None,
                 trap_guard: dict | None = None,
                 host_tiers: DataFrame | None = None,
                 host_budgets: DataFrame | None = None):
        self.spark = spark
        self.pages = pages
        # ingest-time content near-dup gate: a
        # :class:`~spider_spark.operators.dedup_index.MinHashIndex` (keyed
        # ``canon_url``/``text``). bootstrap() builds it from the initial
        # corpus' fetched content; every wave() probes each round's parsed
        # text against it BEFORE the round persists (near-dup content gets
        # a NULL content_ref, the engine's "content not saved" signal) and
        # appends the wave's surviving content as an O(wave) delta. A
        # refetch never gates itself: probe matches on its own canon_url
        # are discarded, so only cross-URL near-dups drop content.
        if dedup_index is not None and (
            dedup_index.id_col != "canon_url" or dedup_index.text_col != "text"
        ):
            raise ValueError(
                "dedup_index must be keyed id_col='canon_url', "
                "text_col='text' (the crawl's content columns); got "
                f"({dedup_index.id_col!r}, {dedup_index.text_col!r})"
            )
        self.dedup_index = dedup_index
        # corpus-lifetime trap defense: trap_verdict thresholds (see
        # operators/traps.py + CrawlEngine.trap_guard). The host-stats
        # table accrues ACROSS waves (O(hosts) rows carried on the
        # crawler), so a host that leaks trap URLs slowly still crosses
        # min_urls eventually — and stays blocked in every later wave.
        self.trap_guard = trap_guard
        self.trap_stats: DataFrame | None = None
        # crawl priority tiers for the per-round capacity cap
        # (CrawlConfig.max_fetch_per_round; operators/politeness.py
        # global_round_cap) and per-host budget table (schedule
        # host_budgets=) — carried corpus-lifetime like the trap stats
        # so every wave's engines rank capacity the same way
        self.host_tiers = host_tiers
        self.host_budgets = host_budgets
        self.config = config or CrawlConfig()
        self.io = io
        if io is not None and not self.config.durable:
            self.config = replace(self.config, durable=True)
        if io is None and self.config.durable:
            raise ValueError("durable config requires io=")
        # corpus-lifetime filter: at 10^10 URLs it must not live on the
        # driver — durable mode spills shards next to the store by default
        # (same shared filesystem the warehouse already requires)
        if spill_dir is None and io is not None and hasattr(io, "root"):
            import os

            spill_dir = os.path.join(io.root, "_filters")
        self.spill_dir = spill_dir
        self.expected = expected_urls or 1_000_000
        self.n_shards = n_shards
        self.seen: DataFrame | None = None   # (canon_url, depth, admission_rank)
        self.filter = None                   # ShardedCuckoo, built at bootstrap
        self.next_rank = 0
        self.waves: list[WaveReport] = []

    def _engine(self, content_gate=None) -> CrawlEngine:
        return CrawlEngine(
            self.spark, self.pages, self.config, io=self.io,
            seen_filter=self.filter, content_gate=content_gate,
            trap_guard=self.trap_guard, host_stats=self.trap_stats,
            host_tiers=self.host_tiers, host_budgets=self.host_budgets,
        )

    # -- ingest-time content dedup (MinHashIndex plumbing) -----------------

    def _gate(self, batch: DataFrame) -> DataFrame:
        """Round hook: batch = this round's fetched ``(canon_url, text)``;
        returns the canon_urls whose content near-dups an ALREADY-indexed
        document under a different URL. Probe cost is O(batch) plus a
        partition-pruned scan of ≤ bands·|batch| index partitions — never
        a corpus scan (dedup_index.py docstring)."""
        pairs = self.dedup_index.probe(batch)
        return (
            pairs.filter(F.col("probe_id") != F.col("match_id"))
            .select(F.col("probe_id").alias("canon_url"))
            .distinct()
        )

    def _surviving_content(self, result: CrawlResult) -> DataFrame:
        """The crawl's fetched pages that kept their content
        (``content_ref`` non-null ⇒ not gated), re-joined to the corpus
        text — the engine's byte-identical text invariant makes
        ``pages.text`` the parsed content. Broadcast the result-key side
        only when small; here the keys are wave-sized and the pages scan
        prunes to 2 columns, so a plain keyed join is the scale shape."""
        keys = result.results.filter(
            F.col("fetched") & F.col("content_ref").isNotNull()
        ).select(F.col("url").alias("canon_url"))
        return self.pages.select(
            F.col("url").alias("canon_url"), "text"
        ).join(keys, on="canon_url", how="left_semi")

    def attach(self) -> None:
        """Reattach a restarted process to a durable store: sanitize any
        half-applied wave, reload the exact seen table + rank counter,
        rebuild the deletable filter from the committed seen set."""
        if self.io is None:
            raise ValueError("attach() requires durable mode (io=)")
        if self.seen is not None:
            raise ValueError("already bootstrapped/attached")
        self._reset_spill()
        probe = CrawlEngine(self.spark, self.pages, self.config, io=self.io)
        meta = probe.rollback_dangling()
        if not meta:
            raise ValueError("nothing to attach: bootstrap() first")
        self.seen = self._ckpt(
            self.io.read("seen").select("canon_url", "depth", "admission_rank")
        )
        self.next_rank = meta["next_rank"]
        self.filter = self._new_filter().rebuild(
            self.seen, max(self.expected, 2 * meta["next_rank"])
        )

    def _new_filter(self) -> ShardedCuckoo:
        return ShardedCuckoo(self.expected, n_shards=self.n_shards,
                             spill_dir=self.spill_dir)

    def _ckpt(self, df: DataFrame) -> DataFrame:
        return df.localCheckpoint(eager=True, storageLevel=CHECKPOINT_LEVEL)

    def _reset_spill(self) -> None:
        """The spill dir holds only derived filter state (rebuildable from
        the seen table) and is dedicated to this crawler — a fresh
        bootstrap/attach clears dead predecessors' shard files."""
        if self.spill_dir is not None:
            import shutil

            shutil.rmtree(self.spill_dir, ignore_errors=True)

    def bootstrap(self, seeds) -> CrawlResult:
        """Initial corpus build: a normal crawl whose admissions populate
        both the exact seen table and the long-lived cuckoo filter."""
        if self.seen is not None:
            raise ValueError("already bootstrapped; use wave()")
        self._reset_spill()
        self.filter = self._new_filter()
        engine = self._engine()
        result = engine.crawl(seeds)
        self.filter = engine.seen_filter  # may have grown
        self.seen = self._ckpt(result.seen)
        self.next_rank = sum(m.admitted for m in result.metrics)
        n_trap = self._absorb_trap_state(engine)
        if self.dedup_index is not None:
            # full build (not add): bootstrap content is the corpus the
            # hot-bucket guard must be computed over
            self.dedup_index.build(self._surviving_content(result))
        self.waves.append(
            WaveReport(0, due=0, fetched=result.successful_crawls,
                       new_links=sum(m.new_links for m in result.metrics),
                       trap_blocked=n_trap, result=result)
        )
        return result

    def _absorb_trap_state(self, engine: CrawlEngine) -> int:
        """Carry the engine's accrued host stats into cross-wave state;
        returns the current block-list size (0 when the guard is off)."""
        if self.trap_guard is None:
            return 0
        self.trap_stats = engine.host_stats
        blocked = engine.dynamic_blocked_hosts
        return blocked.count() if blocked is not None else 0

    def wave(self, now_epoch: int, ttl_sec: int,
             jitter_frac: float = 0.1,
             extra_due: DataFrame | None = None) -> WaveReport:
        """One freshness wave at logical time ``now_epoch``: expire the due
        slice from the seen set (exact table + cuckoo fingerprints), then
        re-crawl it as seeds. Deterministic — same (now, ttl, jitter) on
        the same corpus replays bit-identically.

        ``extra_due`` is an optional ``url`` column of CANONICAL urls the
        caller wants refreshed regardless of TTL — e.g. a sitemap refresh
        plan's verdicts (sources/sitemap.py sitemap_refresh_plan: a
        ``changed`` lastmod beats any TTL; a ``new`` sitemap entry is a
        fresh seed). URLs we already hold are expired-and-refetched like
        TTL-due ones; URLs we never crawled join the wave as new seeds
        (the seen gate is untouched for them — nothing to expire)."""
        if self.seen is None:
            raise ValueError("bootstrap() first")
        due = recrawl_due(
            self.pages, now_epoch, ttl_sec, jitter_frac=jitter_frac
        ).select(F.col("url").alias("canon_url"))
        due_new = None
        if extra_due is not None:
            ex = extra_due.select(F.col("url").alias("canon_url"))
            # set semantics: a URL both TTL-due and extra-due expires once
            due = due.unionByName(ex).distinct()
            due_new = self._ckpt(
                ex.join(self.seen.select("canon_url"),
                        on="canon_url", how="left_anti").distinct()
            )
        # only URLs we actually hold can be expired (recrawl_due scans
        # the corpus; the seen set may lag it after partial bootstraps)
        due = self._ckpt(
            due.join(self.seen.select("canon_url"), on="canon_url", how="left_semi")
        )
        n_due = due.count()
        if due_new is not None:
            n_due += due_new.count()
        if n_due:
            delete_from(self.filter, due, "canon_url")
            self.filter.gc_spill()
            self.seen = self._ckpt(
                self.seen.join(due, on="canon_url", how="left_anti")
            )
        engine = (
            self._engine(content_gate=self._gate)
            if self.dedup_index is not None
            else self._engine()
        )
        seeds = due
        if due_new is not None:
            seeds = due.unionByName(due_new)
        result = engine.crawl(
            seeds.select(F.col("canon_url").alias("url")),
            seeds_canonical=True, seeds_unique=True,
            prior_seen=self.seen, start_rank=self.next_rank,
        )
        self.filter = engine.seen_filter
        self.seen = self._ckpt(result.seen)
        self.next_rank += sum(m.admitted for m in result.metrics)
        n_gated = 0
        if self.dedup_index is not None:
            # results are checkpointed at crawl end — both scans below are
            # cheap re-reads, not plan replays
            n_gated = result.results.filter(
                F.col("fetched") & F.col("content_ref").isNull()
            ).count()
            self.dedup_index.add(self._surviving_content(result))
        report = WaveReport(
            len(self.waves), due=n_due, fetched=result.successful_crawls,
            new_links=sum(m.new_links for m in result.metrics),
            near_dups=n_gated, trap_blocked=self._absorb_trap_state(engine),
            result=result,
        )
        self.waves.append(report)
        return report
